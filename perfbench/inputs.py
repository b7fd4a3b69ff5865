"""Seeded input generator for the benchmark of record.

Everything a run feeds the engine is made here from ``--seed``: an
sf0.1-shaped TPC-H-ish table set (same tables, columns, types and
value domains as the engine's test data), the ``etl_sync`` cycle
sources, the ``calc_stored`` request draws, the ``corpus_curate``
corpus with its near-duplicate share, and the Derby seed rows that
stand in for the live Oracle source. The same seed gives byte-identical inputs; the
engine only ever sees the generated files.

Only numpy and pyarrow are used, so generation costs no Spark job and
can be checked without a session (``test_inputs.py``).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the engine's test data
SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "embeddings": 2_000,
}
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
PART_NOUN = ("bolt", "gear", "nut", "plate", "ring", "screw", "spring", "wheel")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
# share of each cycle's lineitem delta that replays lines already loaded
REPLAY_SHARE = 0.2
# share of documents that copy an earlier text verbatim
EXACT_DUP_SHARE = 0.003
EMBED_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in µs
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in µs
TS = pa.timestamp("us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), so adding a stream
    never shifts the draws of another."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


# ---------------------------------------------------------------------------
# sf0.1-shaped base tables
# ---------------------------------------------------------------------------


def customers(rng, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders(rng, key0: int, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(key0, key0 + n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(
            EPOCH_1995 + rng.integers(0, 2404, n) * DAY_US, TS
        ),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitems(rng, order_keys: np.ndarray, order_dates: np.ndarray,
              n_part: int, n_supp: int) -> pa.Table:
    """1..7 lines per order; (l_orderkey, l_linenumber) is unique, which
    APPEND_NOT_IN's expected counts rely on."""
    per = rng.integers(1, 8, len(order_keys))
    ok = np.repeat(order_keys, per)
    od = np.repeat(order_dates, per)
    starts = np.cumsum(per) - per
    ln = (np.arange(len(ok)) - np.repeat(starts, per) + 1).astype(np.int32)
    n = len(ok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    flag = rng.integers(0, 3, n)
    return pa.table({
        "l_orderkey": ok.astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flag],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(od + rng.integers(1, 122, n) * DAY_US, TS),
    })


def events(rng, n: int, id0: int = 0, day_lo: int = 0, day_hi: int = 30) -> pa.Table:
    ts = EPOCH_2024 + day_lo * DAY_US + rng.integers(0, (day_hi - day_lo) * DAY_US, n)
    ts.sort()
    return pa.table({
        "event_id": np.arange(id0, id0 + n, dtype=np.int64),
        "ts": pa.array(ts, TS),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i:i + k]))
        i += k
    return out


def documents(rng, n: int, near_dup_share: float) -> pa.Table:
    """Documents over the test data's 30-word vocabulary. A
    ``near_dup_share`` of them copy an earlier document's text with a
    ``dup`` suffix (the test data's near-duplicate shape); a small
    exact-duplicate share copies it verbatim."""
    texts = _texts(rng, n)
    kind = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    for i in range(1, n):
        if kind[i] < near_dup_share:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < near_dup_share + EXACT_DUP_SHARE:
            texts[i] = texts[src[i]]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _sizes(scale: float) -> dict[str, int]:
    return {k: max(1, int(v * scale)) for k, v in SF01.items()}


def base_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The sf0.1-shaped TPC-H and events tables at ``scale`` × sf0.1."""
    n = _sizes(scale)
    t: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
    }
    t["customer"] = customers(_rng(seed, "customer"), n["customer"])
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
    })
    r = _rng(seed, "part")
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, np_), r.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, np_)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, np_)],
        "p_size": r.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1),
    })
    t["orders"] = orders(_rng(seed, "orders"), 0, n["orders"], n["customer"])
    t["lineitem"] = lineitems(
        _rng(seed, "lineitem"), t["orders"]["o_orderkey"].to_numpy(),
        t["orders"]["o_orderdate"].cast(pa.int64()).to_numpy(), np_, n["supplier"],
    )
    t["events"] = events(_rng(seed, "events"), n["events"])
    return t


def corpus_tables(seed: int, scale: float, n_docs: int,
                  near_dup_share: float) -> dict[str, pa.Table]:
    """``n_docs`` documents with a near-duplicate share, and the
    embeddings at ``scale`` × sf0.1."""
    return {
        "documents": documents(_rng(seed, "documents"), n_docs, near_dup_share),
        "embeddings": embeddings(_rng(seed, "embeddings"), _sizes(scale)["embeddings"]),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    for name, tb in tables.items():
        _write(tb, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# etl_sync cycles
# ---------------------------------------------------------------------------


@dataclass
class SyncCycle:
    """Sources and expected per-table row counts of one /task cycle."""

    k: int
    orders_hi: int  # orders source holds keys < orders_hi
    events_window: tuple[int, int]  # [day_lo, day_hi) of the APPEND_WHERE
    expected: dict[str, int]
    paths: dict[str, str] = field(default_factory=dict)


@dataclass
class SyncPlan:
    cycles: list[SyncCycle]
    orders_all: str
    props: dict


def sync_plan(seed: int, base: dict[str, pa.Table], out_dir: str, n_cycles: int,
              orders_per_cycle: int, update_rows: int) -> SyncPlan:
    """``n_cycles`` seeded sync cycles over ``base``. Each cycle's
    sources are written under ``out_dir/c<k>``; the orders source is one
    growing table, cut per cycle by ``o_orderkey < orders_hi``."""
    rng = _rng(seed, "sync")
    n_cust = base["customer"].num_rows
    n0 = base["orders"].num_rows
    new_orders = orders(rng, n0, n_cycles * orders_per_cycle, n_cust)
    all_orders = pa.concat_tables([base["orders"], new_orders])
    orders_all = os.path.join(out_dir, "orders_all.parquet")
    _write(all_orders, orders_all)
    new_li = lineitems(
        rng, new_orders["o_orderkey"].to_numpy(),
        new_orders["o_orderdate"].cast(pa.int64()).to_numpy(),
        base["part"].num_rows, base["supplier"].num_rows,
    )
    new_li_keys = new_li["l_orderkey"].to_numpy()
    base_li = base["lineitem"]
    cycles = []
    loaded_hi = n0
    for k in range(1, n_cycles + 1):
        cdir = os.path.join(out_dir, f"c{k}")
        hi = n0 + k * orders_per_cycle
        # customer snapshot: the same keys, fresh balances and segments
        cust = customers(rng, n_cust)
        # lineitem delta: this cycle's new lines plus a replayed share
        # of lines already loaded (APPEND_NOT_IN must skip them)
        fresh = new_li.filter(pa.array((new_li_keys >= hi - orders_per_cycle) & (new_li_keys < hi)))
        n_replay = int(round(fresh.num_rows * REPLAY_SHARE / (1 - REPLAY_SHARE)))
        pool = base_li if k == 1 else pa.concat_tables(
            [base_li, new_li.filter(pa.array(new_li_keys < hi - orders_per_cycle))])
        replay = pool.take(pa.array(rng.choice(pool.num_rows, n_replay, replace=False)))
        li = pa.concat_tables([fresh, replay])
        li = li.take(pa.array(rng.permutation(li.num_rows)))
        # events: one seeded day window re-delivered in full
        lo = int(rng.integers(0, 28))
        win = (lo, lo + 2)
        ev = events(rng, int(rng.integers(5_000, 8_000)), id0=10_000_000 * k,
                    day_lo=win[0], day_hi=win[1])
        # phase-2 keyed update of already-loaded orders
        upd_keys = np.sort(rng.choice(loaded_hi, update_rows, replace=False)).astype(np.int64)
        upd = pa.table({
            "o_orderkey": upd_keys,
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, update_rows)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, update_rows),
        })
        paths = {}
        for name, tb in (("customer", cust), ("lineitem", li), ("events", ev),
                         ("orders_upd", upd)):
            paths[name] = os.path.join(cdir, f"{name}.parquet")
            _write(tb, paths[name])
        cycles.append(SyncCycle(
            k=k, orders_hi=hi, events_window=win, paths=paths,
            expected={
                "customer": n_cust,
                "orders": orders_per_cycle,
                "lineitem": fresh.num_rows,
                "events": ev.num_rows,
                "orders_upd": update_rows,
            },
        ))
        loaded_hi = hi
    return SyncPlan(cycles=cycles, orders_all=orders_all, props={
        "cycles_planned": n_cycles,
        "orders_per_cycle": orders_per_cycle,
        "replayed_key_share": REPLAY_SHARE,
        "update_set_rows": update_rows,
        "events_window_days": 2,
        "base_rows": {t: base[t].num_rows for t in ("customer", "orders", "lineitem", "events")},
    })


# ---------------------------------------------------------------------------
# calc_stored draws
# ---------------------------------------------------------------------------


def repeat_shares(draws) -> dict[str, float]:
    """Share of requests that repeat an earlier stored text, and an
    earlier (text, params) pair."""
    seen_text, seen_pair, rt, rp = set(), set(), 0, 0
    for name, params, _ in draws:
        pair = (name, tuple(sorted(params.items())))
        rt += name in seen_text
        rp += pair in seen_pair
        seen_text.add(name)
        seen_pair.add(pair)
    n = max(1, len(draws))
    return {"text_repeat_share": rt / n, "pair_repeat_share": rp / n}


# ---------------------------------------------------------------------------
# Derby seed (the live JDBC source of etl_sync)
# ---------------------------------------------------------------------------


def derby_seed(seed: int, n_rows: int) -> pa.Table:
    """The Oracle-side source table: an orders slice (lower-case column
    names, quoted in Derby)."""
    rng = _rng(seed, "derby")
    o = orders(rng, 0, n_rows, 15_000)
    return o.select(["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])
