"""Golden aggregates: DuckDB computes the expected result, Spark reads
what the engine produced, and the two are compared outside the timed
window.

An aggregate is ``count(*)`` plus the exact ``decimal(38,6)`` sum of
every numeric column, as in ``ora_ch_spark.validate.golden_aggregates``.
Columns are matched by position, so the oracle SQL only has to produce
the same column order as the engine.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import duckdb

from ora_ch_spark.validate import golden_aggregates

DUCK_NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
                "USMALLINT", "UINTEGER", "UBIGINT", "FLOAT", "DOUBLE", "DECIMAL")
MICRO = Decimal("0.000001")

Aggregates = tuple[int, dict[int, Decimal | None]]


class GoldenMismatch(AssertionError):
    pass


def duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def duck_aggregates(con: duckdb.DuckDBPyConnection, sql: str) -> Aggregates:
    """(count, {column position: sum}) of ``sql``'s result."""
    cols = con.execute(f"DESCRIBE ({sql})").fetchall()
    num = [i for i, c in enumerate(cols) if c[1].split("(")[0] in DUCK_NUMERIC]
    # positional names: the oracle may repeat a column name
    inner = ", ".join(f'#{i + 1} AS c{i}' for i in range(len(cols)))
    aggs = ["count(*)"] + [f"sum(try_cast(c{i} AS DECIMAL(38,6)))" for i in num]
    row = con.execute(
        f"SELECT {', '.join(aggs)} FROM (SELECT {inner} FROM ({sql}))"
    ).fetchone()
    return row[0], {i: row[k + 1] for k, i in enumerate(num)}


def _compare(expected: Aggregates, got: Aggregates, label: str) -> int:
    """Raise unless the counts match and every expected sum matches.
    Each value is rounded to 6 places before summing, so two correct
    engines may differ by at most half a unit per row there."""
    (n_exp, sums_exp), (n_got, sums_got) = expected, got
    problems = [] if n_got == n_exp else [f"count {n_got} != {n_exp}"]
    tol = Decimal(n_exp) * MICRO
    for i, want in sums_exp.items():
        if i not in sums_got:
            problems.append(f"column {i} is not numeric in the engine's result")
            continue
        have = sums_got[i]
        if (have is None) != (want is None) or (have is not None and abs(have - want) > tol):
            problems.append(f"sum(column {i}) {have} != {want}")
    if problems:
        raise GoldenMismatch(f"{label}: " + "; ".join(problems))
    return n_got


def check(expected: Aggregates, df, label: str) -> int:
    """Compare a Spark frame against DuckDB's aggregates; returns the
    row count."""
    got = golden_aggregates(df)
    return _compare(expected, (got.count, {
        i: got.sums[c] for i, c in enumerate(df.columns) if c in got.sums
    }), label)


def check_rows(expected: Aggregates, rows: list, label: str) -> int:
    """``check`` for a result already collected to the driver."""
    sums = {}
    for i in expected[1]:
        vals = [r[i] for r in rows if r[i] is not None]
        if all(isinstance(v, (int, float, Decimal)) and not isinstance(v, bool) for v in vals):
            sums[i] = sum((_dec6(v) for v in vals), Decimal(0)) if vals else None
    return _compare(expected, (len(rows), sums), label)


def _dec6(v) -> Decimal:
    return Decimal(repr(v) if isinstance(v, float) else v).quantize(MICRO, rounding=ROUND_HALF_UP)
