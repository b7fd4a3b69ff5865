"""ClickHouse-dialect → Spark SQL translation shim.

The reference's stored calc queries are written in ClickHouse SQL
(e.g. ``ora_ch_app/src/main/resources/v_cache_for_calc_6184_4626.txt``).
This shim rewrites the function surface that file exercises (SURVEY.md
§2.4) so stored CH-dialect text runs on Spark SQL unchanged:

| CH construct                  | Spark SQL                             |
|-------------------------------|---------------------------------------|
| ``toYear(x)``                 | ``year(x)``                           |
| ``toYYYYMMDD(x)``             | ``cast(date_format(x,'yyyyMMdd') as int)`` |
| ``parseDateTime(s,'%Y-%m-%d')``| ``to_timestamp(s,'yyyy-MM-dd')``     |
| ``parseDateTimeBestEffort(s)``| ``to_timestamp(s)``                   |
| ``today()``                   | ``current_date()``                    |
| ``toString(x)``               | ``cast(x as string)``                 |
| ``toFixedString(x, n)``       | ``cast(x as string)`` (see note)      |
| ``toInt32/toInt64/toUInt32…`` | ``cast(x as int/bigint/bigint)``      |
| ``cityHash64(x…)``            | ``xxhash64(x…)`` (same role: uniform  |
|                               | partitioning hash; not bit-identical) |
| ``intDiv(a,b)``               | ``div`` via ``cast(a/b...)`` → ``a div b`` |
| ``if(c,a,b)``, ``coalesce``,  | already valid Spark SQL — passthrough |
| ``lpad``, ``concat``          |                                       |

``toFixedString`` note: CH pads to N bytes; byte-exact parity would be
``rpad(x, n, chr(0))`` — we deliberately keep plain string semantics
(SURVEY §2.4) unless ``fixed_string_pad=True``.

Byte-vs-character semantics (batch 23): ClickHouse's bare string
functions operate on BYTES (``length``/``position``/``left``/
``right``) and its bare ``upper``/``lower``/``…CaseInsensitive`` fold
ASCII only; the ``…UTF8`` forms are the character/Unicode ones. The
translator reproduces both families exactly (octet_length, encoded
prefixes, binary slices, translate() ASCII folds). Two documented
residual drifts, both ASCII-coincident and both CLOSED by the opt-in
``byte_strings=True`` mode (r11: exact CH byte slices / byte
reversal, fuzzed vs Python byte references in
test_dialect_byte_strings_mode_fuzz and gated vs a DuckDB hex-level
replay in calc_dialect_byte_mode); by default ``substring``/``substr`` stays
Spark-native (characters) where CH slices bytes — rewriting the single
most common ANSI function to binary slicing was judged higher-risk
than the drift, which vanishes on ASCII; and ``reverse`` stays
character-based where CH byte-reverses (multi-byte CH output is
invalid UTF-8 garbage no query can rely on). A byte slice or byte
start that lands INSIDE a code point decodes lossily here where CH
emits raw partial bytes — degenerate inputs only. ``locate`` (CH's
deprecated needle-first alias of position) passes through to Spark's
locate — same argument order, character return units where CH counts
bytes (ASCII-coincident; our own rewrites emit locate() meaning
characters, so byte-ifying the name would corrupt them).

Numeric residuals audited in r10, deliberately left native (changing
them without a live ClickHouse to differential against risks
introducing the very silent-wrong class this translator hunts):
``intDiv`` on NEGATIVE operands — CH docs say the quotient rounds
down while the C++ implementation path is plain integer division
(truncation); Spark's ``div`` truncates, matching the implementation
reading. ``round()`` at exact halves — CH uses banker's rounding for
Float inputs and half-away for Decimal; the input type is unknowable
at text level, so the native half-away applies (CH's explicit
``roundBankers`` maps to ``bround``). Float division by zero — CH
yields ±Inf/NaN; under this engine's ANSI mode Spark raises
DIVIDE_BY_ZERO, a loud-not-silent drift (``intDivOrZero``/
``moduloOrZero`` are translated exactly). ``least``/``greatest``/``min2``/``max2`` on
NULL inputs — CH propagates NULL (ordinary-function rule), Spark
skips NULLs; rewriting would corrupt this translator's own ~30
greatest()/least() emissions or break the T∘T fixed point, so the
NULL edge stays a documented drift. Bare ``INTERSECT``/``EXCEPT``
— CH keeps duplicates via a right-side hash-set filter; Spark's
default deduplicates and ANSI ALL is min-multiplicity, neither of
which reproduces the filter on duplicate-carrying branches; exact
parity needs a null-safe semi/anti join over the full column list
(unknowable at text level), so bare spellings pass through and
DISTINCT spellings are exact. ``-If`` combinators on zero-match
groups — CH's empty aggregate state yields the type default (0 for
non-Nullable sumIf/minIf, NaN for avgIf) but NULL when the argument
column is Nullable (the internal Null-combinator wrapper); the result
is INPUT-TYPE-dependent, unknowable at text level, so the translated
``sum(CASE WHEN …)`` keeps Spark's NULL (the Nullable reading — the
right one for this engine, where parquet columns are nullable);
``countIf`` → count_if is exactly 0 either way. ``toInt32``-family
casts of a NON-NUMERIC string: this engine runs ANSI mode, so the
emitted cast THROWS exactly like CH does (verified live:
CAST_INVALID_INPUT); the OrZero/OrNull variants are the non-throwing
ones, both translated via try_cast. On OVERFLOW of a wider integer
CH wraps silently while the ANSI cast raises CAST_OVERFLOW — a drift
in the loud direction.

Alias visibility (batch 25): ClickHouse resolves SELECT-list aliases
in WHERE and GROUP BY, preferring the alias over a same-named source
column (``prefer_column_name_to_alias = 0``). Spark cannot resolve an
alias in WHERE and binds the SOURCE column in GROUP BY — grouping
``toStartOfDay(ts) AS ts … GROUP BY ts`` at raw grain, silently.
``_inline_select_aliases_in_where`` inlines the aliased expressions
into both clauses per scope, plus the three window forms Spark
rejects with LATERAL_COLUMN_ALIAS_IN_WINDOW: OVER (…) specs, the
window function's own argument list, and named WINDOW clauses
(HAVING/ORDER BY already bind the output alias in Spark, matching
CH). Never inlined: aggregate/window-valued
aliases (CH errors on those in WHERE/GROUP BY anyway) and names with
a SECOND depth-0 ``AS name`` definition (table/ARRAY JOIN alias —
real CH throws "multiple expressions for alias"; the column binding
is kept).

Nested-call safe: arguments are matched with a balanced-paren scanner,
not a regex over the whole call.
"""

from __future__ import annotations

import functools
import re

# CH strftime-ish tokens → Spark datetime pattern tokens (batch 31
# rebuilt the converter as a WALKER: the old token-replace left every
# unknown %-token raw inside the pattern, where a letter that happens
# to be a VALID Spark pattern char silently mis-formats — %y became
# '%' + full year, %a became '%' + AM/PM, %p threw. Unknown tokens
# now make the whole call pass through LOUDLY, and literal letters
# between tokens are pattern-quoted). %M keeps the reference-era CH
# reading (MINUTE — modern CH defaults %M to the month NAME via
# formatdatetime_parsedatetime_m_is_month_name; documented drift for
# post-23.3 stored queries). Unmappable: %e/%l space-padded fields,
# ISO week-based %G/%g/%V (Spark 3+ bans week-based patterns),
# weekday numbers %u/%w, century %C.
_FMT_TOKENS = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "MM", "d": "dd",
    "D": "MM/dd/yy", "H": "HH", "k": "HH", "h": "hh", "I": "hh",
    "i": "mm", "M": "mm", "S": "ss", "s": "ss", "f": "SSSSSS",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss", "R": "HH:mm",
    "r": "hh:mm:ss a", "p": "a", "j": "DDD", "Q": "Q",
    "a": "EEE", "b": "MMM", "W": "EEEE", "z": "xx",
    "n": "\n", "t": "\t", "%": "%",
}


def _convert_fmt(fmt: str) -> str | None:
    """CH %-format → Spark datetime pattern, or None when a token has
    no faithful Spark equivalent (the caller then leaves the call
    untranslated — loud). Literal LETTERS are pattern-quoted (Spark
    reserves every unquoted letter) and single quotes doubled for
    both the pattern layer and the enclosing SQL literal."""
    out: list[str] = []
    lit_run: list[str] = []

    def flush() -> None:
        if lit_run:
            out.append("''" + "".join(lit_run) + "''")
            lit_run.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%":
            if i + 1 >= len(fmt):
                return None
            tok = _FMT_TOKENS.get(fmt[i + 1])
            if tok is None:
                return None
            flush()
            out.append(tok)
            i += 2
            continue
        if c.isalpha():
            lit_run.append(c)
        elif c == "'":
            # the text is the SQL-ESCAPED literal body: '' is one
            # logical quote. Emit it pattern-escaped AND SQL-escaped
            # (four quotes)
            flush()
            out.append("''''")
            i += 1 if i + 1 < len(fmt) and fmt[i + 1] == "'" else 0
        else:
            flush()
            out.append(c)
        i += 1
    flush()
    return "".join(out)


def _inside_string(sql: str, pos: int) -> bool:
    if sql.find("'", 0, pos) < 0:
        return False  # no quote before pos (the masked-text case)
    in_str = False
    i = 0
    while i < pos:
        if sql[i] == "'":
            if in_str and i + 1 < len(sql) and sql[i + 1] == "'":
                i += 1  # escaped quote
            else:
                in_str = not in_str
        i += 1
    return in_str


# One compiled call-site pattern per function name, for the life of the
# process. A single translation visits ~700 distinct names, more than
# the ``re`` module's own cache holds (``re._MAXCACHE`` = 512), so an
# uncached ``re.compile`` here recompiled nearly every pattern on every
# statement. The names come from the translator's own tables, never
# from the SQL text, so the memo is bounded by them.
@functools.lru_cache(maxsize=None)
def _call_pattern(fname: str) -> re.Pattern[str]:
    return re.compile(rf"(?<![A-Za-z0-9_]){re.escape(fname)}\s*\(", re.IGNORECASE)


def _find_call(sql: str, fname: str, start: int = 0) -> tuple[int, int, list[str]] | None:
    """Locate ``fname( ... )`` at/after ``start``; return (begin, end_exclusive,
    [arg texts]) with balanced parens and quote awareness. The pattern
    comes from :func:`_call_pattern`'s memo (see there for why)."""
    pat = _call_pattern(fname)
    m = pat.search(sql, start)
    while m and _inside_string(sql, m.start()):
        m = pat.search(sql, m.end())
    if not m:
        return None
    i = m.end()  # position after '('
    depth, args, cur = 1, [], []
    in_str = False
    while i < len(sql):
        c = sql[i]
        if in_str:
            cur.append(c)
            if c == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                return (m.start(), i + 1, args)
            cur.append(c)
        elif c == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    raise ValueError(f"unbalanced parentheses in call to {fname}")


def _parse_group(sql: str, i: int) -> tuple[int, list[str]]:
    """Parse a balanced ``( ... )`` group starting at ``sql[i] == '('``;
    returns (end_exclusive, [arg texts]). Same quote/paren rules as
    :func:`_find_call`."""
    assert sql[i] == "("
    i += 1
    depth, args, cur = 1, [], []
    in_str = False
    while i < len(sql):
        c = sql[i]
        if in_str:
            cur.append(c)
            if c == "'":
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    cur.append("'")
                    i += 1
                else:
                    in_str = False
        elif c == "'":
            in_str = True
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                return i + 1, args
            cur.append(c)
        elif c == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    raise ValueError("unbalanced parentheses in parameterized call")


def _rewrite_param_calls(sql: str, fname: str, render) -> str:
    """Rewrite ClickHouse *parameterized aggregate* syntax
    ``fname(params)(args)`` — e.g. ``quantile(0.9)(x)``. ``render``
    receives (params, args); the parameterless form ``fname(args)``
    calls render([], args) (CH's defaults apply). A render may
    return ``None`` to leave THAT call untouched (same contract as
    :func:`_rewrite_calls`) — the scan resumes just past the call's
    name so nested same-name calls are still visited."""
    start = 0
    while True:
        found = _find_call(sql, fname, start)
        if not found:
            return sql
        begin, end, first = found
        j = end
        while j < len(sql) and sql[j].isspace():
            j += 1
        if j < len(sql) and sql[j] == "(":
            end2, args = _parse_group(sql, j)
            rendered = render(first, args)
            if rendered is None:
                start = begin + 1
            else:
                sql = sql[:begin] + rendered + sql[end2:]
        else:
            rendered = render([], first)
            if rendered is None:
                start = begin + 1
            else:
                sql = sql[:begin] + rendered + sql[end:]


def _rewrite_calls(sql: str, fname: str, render) -> str:
    """Rewrite every ``fname(...)`` call. Outermost calls are replaced
    first; nested same-name calls survive verbatim inside the rendered
    args and are picked up on the next loop pass (no render re-emits
    its own name, so this terminates). A render may return ``None``
    to leave THAT call untouched (e.g. an arity the target dialect
    cannot express) — the scan then resumes just PAST the call's
    name, not past its closing paren, so a nested same-name call
    inside the skipped call's arguments is still visited (e.g. a
    2-arg CH ``CAST(x, 'T')`` nested inside an already-ANSI 1-arg
    ``cast(… as t)``)."""
    start = 0
    while True:
        found = _find_call(sql, fname, start)
        if not found:
            return sql
        begin, end, args = found
        rendered = render(args)
        if rendered is None:
            start = begin + 1  # skip this call, rescan inside it
        else:
            sql = sql[:begin] + rendered + sql[end:]


# CH upper/lower/…CaseInsensitive fold ASCII ONLY (UTF8-suffixed
# variants do full Unicode) — Spark's upper/lower fold full Unicode,
# so exact parity routes through translate() over these maps
_ASCII_LO = "abcdefghijklmnopqrstuvwxyz"
_ASCII_UP = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

_CAST_FNS = {
    "toString": "string",
    "toInt8": "int",
    "toInt16": "int",
    "toInt32": "int",
    "toInt64": "bigint",
    "toUInt8": "int",
    "toUInt16": "int",
    "toUInt32": "bigint",
    "toUInt64": "bigint",
    "toFloat32": "float",
    "toFloat64": "double",
    "toDate": "date",
    "toDateTime": "timestamp",
}


# both CH and Spark accept backslash escapes ('it\'s') as well as
# doubled quotes ('it''s') inside literals
_STR_LIT = re.compile(r"'(?:[^'\\]|\\.|'')*'")
_MASK = re.compile("\x00(\\d+)\x00")


def _mask_strings(sql: str) -> tuple[str, list[str]]:
    """Replace every quoted literal with an opaque placeholder so NO
    translation pass — call-level rewrites included — can touch text
    INSIDE a string (param values are spliced before translation runs,
    so a literal may well contain 'any join', 'multiIf(' or 'today()';
    ADVICE r01/r02)."""
    parts: list[str] = []

    def repl(m: re.Match) -> str:
        parts.append(m.group(0))
        return f"\x00{len(parts) - 1}\x00"

    return _STR_LIT.sub(repl, sql), parts


def _unmask_strings(masked: str, parts: list[str]) -> str:
    return _MASK.sub(lambda m: parts[int(m.group(1))], masked)


def _lit_text(arg: str, lits: list[str]) -> str | None:
    """If a (masked) call argument is exactly one string literal,
    return its raw text (with quotes); else None."""
    m = _MASK.fullmatch(arg.strip())
    return lits[int(m.group(1))] if m else None


def _emit_lit(text: str, lits: list[str]) -> str:
    """Register a literal produced BY a rewrite and return its mask —
    rewritten literals must be as opaque as original ones."""
    lits.append(text)
    return f"\x00{len(lits) - 1}\x00"


_CLAUSE_END = re.compile(
    r"(?i)\b(where|group\s+by|order\s+by|limit|having|union|settings)\b|[()]"
)


def _clause_span(masked: str, start: int) -> tuple[int, str | None]:
    """Scan from ``start`` (paren-depth-aware; strings are masked) to
    the end of the current clause: the next same-depth clause keyword,
    a depth-closing ')' or end of string. Returns (end_pos, keyword
    lower-cased or None)."""
    depth = 0
    for m in _CLAUSE_END.finditer(masked, start):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth < 0:
                return m.start(), None
        elif depth == 0:
            return m.start(), m.group(1).lower()
    return len(masked), None


# words after which a '[' opens a CH ARRAY LITERAL (not postfix
# indexing): clause keywords and operators — an identifier, ')' or
# ']' immediately before '[' means indexing instead
_ARRAY_LIT_KEYWORDS = frozenset(
    {
        "in", "then", "else", "when", "select", "and", "or", "not",
        "where", "having", "on", "by", "union", "all", "distinct",
        "values", "limit", "between", "case", "array", "return",
        # `ARRAY JOIN [1,2,3] AS x` — a '[' directly after JOIN can
        # only be a CH array literal (ANSI has no such position)
        "join",
    }
)


def _rewrite_array_literals(masked: str) -> str:
    """CH array literals ``[x, y]`` → ``array(x, y)`` (Spark has no
    bracket literal syntax, so the rewrite is unambiguous). A ``[``
    that directly follows an identifier / ``)`` / ``]`` is postfix
    INDEXING and is left alone — note CH indexes 1-based while Spark's
    ``arr[i]`` is 0-based; indexing on an IDENTIFIER is deliberately
    NOT rewritten (same idempotence rule as ``position``: the syntax
    is valid Spark with different semantics, so a rewrite would
    corrupt already-ANSI text). The ONE provably-CH case IS rewritten
    (ADVICE r05): a subscript directly on an array literal this pass
    just rewrote — ``['a','b'][i]`` → ``try_element_at(array('a','b'),
    i)`` — because the base ``[...]`` cannot be pre-existing Spark
    text. Chained subscripts (``[[1],[2]][i][j]``) rewrite too.
    Nesting is tracked so inner literals rewrite too."""
    out: list[str] = []
    # stack entry: (kind, insert_pos) — kind "array" (→ array(...)),
    # "paren" (IN-list → (...)), "index" (left alone), or "chindex"
    # (subscript on a just-rewritten literal → try_element_at(base, i))
    stack: list[tuple[str, int]] = []
    # set when an "array"/"chindex" group closes: (pos after the
    # emitted ')', pos where try_element_at( would be inserted)
    last_close: tuple[int, int] | None = None
    for c in masked:
        if c == "[":
            j = len(out) - 1
            while j >= 0 and out[j].isspace():
                j -= 1
            kind = "array"
            insert_pos = len(out)
            if j >= 0:
                pc = out[j]
                if last_close is not None and j == last_close[0] - 1:
                    # subscript on an array literal we just emitted:
                    # provably CH text → 1-based try_element_at
                    kind = "chindex"
                    insert_pos = last_close[1]
                    out.insert(insert_pos, "try_element_at(")
                elif pc in ")]`" or pc == "\x00":
                    # after ')' / ']' / a backtick-quoted identifier /
                    # a masked literal: postfix indexing
                    kind = "index"
                elif pc.isalnum() or pc == "_":
                    k = j
                    while k >= 0 and (out[k].isalnum() or out[k] == "_"):
                        k -= 1
                    word = "".join(out[k + 1 : j + 1]).lower()
                    if word == "in":
                        # `x IN [..]` is list membership: Spark's IN
                        # takes a paren list, not an array value
                        kind = "paren"
                    elif word not in _ARRAY_LIT_KEYWORDS:
                        kind = "index"
            stack.append((kind, insert_pos))
            # chindex wraps the index in nullif(i, 0): CH subscript
            # returns the type default at index 0, Spark raises
            # INVALID_INDEX_OF_ZERO even under try_ — NULL index makes
            # try_element_at yield NULL, matching the arrayElement()
            # rewrite's CASE guard (ADVICE r06)
            out.append(
                {
                    "array": "array(",
                    "paren": "(",
                    "index": "[",
                    "chindex": ", nullif(",
                }[kind]
            )
        elif c == "]":
            kind, insert_pos = stack.pop() if stack else ("index", 0)
            out.append(
                {"index": "]", "chindex": ", 0))"}.get(kind, ")")
            )
            if kind in ("array", "chindex"):
                last_close = (len(out), insert_pos)
            else:
                last_close = None
        else:
            out.append(c)
            if not c.isspace():
                last_close = None
    return "".join(out)


# all three CH forms: LIMIT n BY, LIMIT off, n BY, LIMIT n OFFSET off BY
_LIMIT_BY = re.compile(
    r"(?i)\blimit\s+(?:(?P<off1>\d+)\s*,\s*)?(?P<n>\d+)"
    r"(?:\s+offset\s+(?P<off2>\d+))?\s+by\b"
)
_ORDER_BY = re.compile(r"(?i)\border\s+by\b")
_UNION_SEP = re.compile(r"(?i)\bunion(\s+all|\s+distinct)?\b|\bexcept\b|\bintersect\b")
_TRAILING_LIMIT = re.compile(r"(?is)^\s*limit\s+\d+(\s+offset\s+\d+)?")


def _rewrite_limit_by(masked: str) -> str:
    """CH ``LIMIT n BY cols`` — first n rows per distinct ``cols``
    tuple, applied after the SELECT's ORDER BY — becomes a
    row_number window over the de-clause'd select:

    ``SELECT … ORDER BY o LIMIT n BY c [LIMIT m]`` →
    ``SELECT * EXCEPT(__lb) FROM (SELECT *, row_number() OVER
    (PARTITION BY c ORDER BY o) AS __lb FROM (…) __lbsrc)
    WHERE __lb <= n [ORDER BY o] [LIMIT m]``.

    Offset forms translate too: ``LIMIT off, n BY`` / ``LIMIT n
    OFFSET off BY`` → ``__lb > off AND __lb <= off + n``. Without an
    ORDER BY the within-group pick is arbitrary — exactly CH's
    behavior (not gate-able; documented). Handles nesting (each
    occurrence rewrites inside its own enclosing paren group) and set
    operations (the wrapped region starts after the nearest depth-0
    UNION/EXCEPT/INTERSECT boundary). Known limitation: the ORDER BY
    / BY expressions must be in the select's projection — CH can
    order by unprojected source columns, the wrapper cannot (Spark
    raises UNRESOLVED_COLUMN rather than returning wrong data)."""
    while True:
        m = _LIMIT_BY.search(masked)
        if not m:
            return masked
        n = int(m.group("n"))
        off = int(m.group("off1") or m.group("off2") or 0)
        # enclosing paren group → the select this clause belongs to
        depth = 0
        sel_start = 0
        for i in range(m.start() - 1, -1, -1):
            c = masked[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    sel_start = i + 1
                    break
                depth -= 1
        # a set operation scopes the clause to its LAST branch.
        # `EXCEPT`/`INTERSECT` only count as set ops when a SELECT
        # follows — `SELECT * EXCEPT(col)` is the column-exclusion
        # modifier (ours or CH's), not a boundary
        for um in _UNION_SEP.finditer(masked, sel_start, m.start()):
            seg = masked[sel_start:um.start()]
            if seg.count("(") != seg.count(")"):
                continue
            boundary_end = um.end()
            if not um.group(0).lower().startswith("union"):
                am = re.match(
                    r"(?is)\s*(all|distinct)\b", masked[um.end():m.start()]
                )
                if am:  # EXCEPT ALL / INTERSECT DISTINCT forms
                    boundary_end = um.end() + am.end()
                after = masked[boundary_end:m.start()].lstrip()
                while after.startswith("("):  # nested branch parens
                    after = after[1:].lstrip()
                if not re.match(r"(?i)(select|with)\b", after):
                    continue
            sel_start = boundary_end
        cols_end, kw = _clause_span(masked, m.end())
        cols = masked[m.end():cols_end].strip()
        trailing = ""
        region_end = cols_end
        if kw == "limit":
            tm = _TRAILING_LIMIT.match(masked[cols_end:])
            if tm:
                trailing = " " + tm.group(0).strip()
                region_end = cols_end + tm.end()
        # the select's own ORDER BY (depth-0 within the region)
        ord_txt = None
        body_end = m.start()
        for om in _ORDER_BY.finditer(masked, sel_start, m.start()):
            seg = masked[sel_start:om.start()]
            if seg.count("(") == seg.count(")"):
                o_end, _okw = _clause_span(masked, om.end())
                ord_txt = masked[om.end():o_end].strip()
                body_end = om.start()
                break
        body = masked[sel_start:body_end].strip()
        win_order = ord_txt if ord_txt else cols
        cond = (
            f"__lb > {off} AND __lb <= {off + n}" if off else f"__lb <= {n}"
        )
        wrapped = (
            f"SELECT * EXCEPT(__lb) FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {cols} ORDER BY {win_order}) AS __lb "
            f"FROM ({body}) __lbsrc) WHERE {cond}"
            + (f" ORDER BY {ord_txt}" if ord_txt else "")
            + trailing
        )
        rest = masked[region_end:]
        # keep token separation: the clause span ends exactly AT the
        # next keyword, so gluing without a space would fuse tokens
        if rest and not rest[0].isspace() and rest[0] not in "),":
            rest = " " + rest
        head = masked[:sel_start]
        # same at the start boundary: a set-operation keyword ends
        # exactly where the wrapped region begins
        if head and not head[-1].isspace() and head[-1] != "(":
            head = head + " "
        masked = head + wrapped + rest


def _setop_is_operator(region: str, sm: "re.Match") -> bool:
    """True when a _UNION_SEP hit is a real set-operation keyword
    (UNION always; EXCEPT/INTERSECT only when ALL/DISTINCT or a
    SELECT/WITH branch follows — ``* EXCEPT(col)`` is the
    column-exclusion modifier, not a boundary)."""
    if sm.group(0).lower().startswith("union"):
        return True
    rest = region[sm.end():]
    if re.match(r"(?is)\s*(all|distinct)\b", rest):
        return True
    rest = rest.lstrip()
    while rest.startswith("("):
        rest = rest[1:].lstrip()
    return bool(re.match(r"(?i)(select|with)\b", rest))


def _rewrite_bare_set_ops(masked: str) -> str:
    """CH bare ``INTERSECT``/``EXCEPT`` duplicate semantics (r11,
    closes the r10 residual): ClickHouse's bare forms are a
    right-side hash-set FILTER over the left branch — every left
    duplicate is kept (INTERSECT) or dropped (EXCEPT) on membership
    (``Interpreters/InterpreterSelectIntersectExceptQuery``), which
    matches NEITHER Spark's DISTINCT default NOR ANSI ALL's
    min-multiplicity. The branch column list is unknowable at text
    level, so membership is keyed on a 96-bit POSITIONAL value
    fingerprint of the whole row — ``(xxhash64(struct(*)),
    hash(struct(*)))``: Spark's hash functions ignore struct field
    names (verified), so the branches' differing column names don't
    matter, and NULLs hash deterministically — matching the CH
    hash-set's NULL-equality, which no join/=-based rewrite gives.
    The fingerprint is probabilistic by construction: two DISTINCT
    rows collide with probability ~2^-96 per pair (~1e-5 across 1e12
    rows) — documented, the same class of tradeoff as cityHash64→
    xxhash64 partitioning, chosen over a names-dependent struct
    comparison that Spark's analyzer rejects across branches.

    Scope: any depth-0 chain mixing bare INTERSECT/EXCEPT with
    UNION or explicit ALL/DISTINCT legs (r12) — CH and Spark agree
    on precedence (INTERSECT tighter; UNION/EXCEPT equal,
    left-assoc), so the bare legs reduce one per pass under that
    grouping while the explicit/UNION legs stay Spark-native
    (identical semantics: ANSI ALL = CH ALL, DISTINCT exact).
    WITH-headed regions still pass through (a CTE wrapped into the
    left branch would fall out of scope for the right)."""
    pos = 0
    while True:
        m = re.compile(r"(?i)\b(intersect|except)\b").search(masked, pos)
        if not m:
            return masked
        rest = masked[m.end():]
        if re.match(r"(?is)\s*(all|distinct)\b", rest):
            pos = m.end()
            continue
        na = rest.lstrip()
        while na.startswith("("):
            na = na[1:].lstrip()
        if not re.match(r"(?i)select\b", na):
            pos = m.end()
            continue
        # enclosing region: nearest paren group (or whole statement)
        depth = 0
        start = 0
        for i in range(m.start() - 1, -1, -1):
            c = masked[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    start = i + 1
                    break
                depth -= 1
        depth = 0
        end = len(masked)
        for i in range(m.end(), len(masked)):
            c = masked[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
        region = masked[start:end]
        if re.match(r"(?is)\s*with\b", region):
            pos = m.end()
            continue
        ops = [
            sm
            for sm in _UNION_SEP.finditer(region)
            if region[: sm.start()].count("(")
            == region[: sm.start()].count(")")
            and _setop_is_operator(region, sm)
        ]

        def _bare(sm: "re.Match") -> bool:
            tok = sm.group(0).lower()
            return tok in ("intersect", "except") and not re.match(
                r"(?is)\s*(all|distinct)\b", region[sm.end():]
            )

        def _is_intersect(sm: "re.Match") -> bool:
            return sm.group(0).lower().startswith("intersect")

        def _opnd_start(sm: "re.Match") -> int:
            # operand text begins after the op token AND its explicit
            # ALL/DISTINCT modifier (UNION's rides inside the token
            # match; INTERSECT/EXCEPT's does not)
            mm = re.match(r"(?is)\s*(all|distinct)\b", region[sm.end():])
            return sm.end() + (mm.end() if mm else 0)

        # mixed chains (r12, closes the r11 finding): CH and Spark
        # AGREE on set-op precedence (INTERSECT binds tighter;
        # UNION/EXCEPT equal, left-assoc), so only the BARE
        # intersect/except legs need the hash-set rewrite — explicit
        # ALL/DISTINCT legs and UNION are Spark-native with identical
        # semantics and stay in place. One bare op reduces per pass,
        # bare INTERSECTs first (they bind first); the reduction is
        # parenthesized back in as an operand of the remainder.
        bare = [i for i, sm in enumerate(ops) if _bare(sm)]
        if not ops or not bare:
            pos = m.end()
            continue
        pick = next(
            (i for i in bare if _is_intersect(ops[i])),
            bare[0],
        )
        op = ops[pick]
        # depth-0 tail (ORDER BY/LIMIT/OFFSET after the LAST operand
        # binds to the whole set expression, per the standard)
        tail_at = len(region)
        for tm in re.finditer(
            r"(?i)\border\s+by\b|\blimit\b|\boffset\b", region
        ):
            if tm.start() <= ops[-1].end():
                continue
            seg = region[: tm.start()]
            if seg.count("(") == seg.count(")"):
                tail_at = tm.start()
                break
        if _is_intersect(op):
            # left operand: the run of intersect-class atoms bound to
            # this op, back to the nearest union-level op; right
            # operand: the next atom (anything further binds later)
            lo = 0
            for j in range(pick - 1, -1, -1):
                if not _is_intersect(ops[j]):
                    lo = _opnd_start(ops[j])
                    break
            hi = ops[pick + 1].start() if pick + 1 < len(ops) else tail_at
        else:
            # bare EXCEPT sits at union level: left operand is the
            # whole depth-0 prefix (left-assoc); right operand is the
            # next atom plus any tighter-binding intersect-class run
            lo = 0
            hi = tail_at
            for j in range(pick + 1, len(ops)):
                if not _is_intersect(ops[j]):
                    hi = ops[j].start()
                    break
        a_txt = region[lo:op.start()].strip()
        b_txt = region[op.end():hi].strip()
        last = lo == 0 and hi == tail_at
        tail = region[tail_at:].strip() if last else ""
        neg = "NOT " if op.group(0).lower() == "except" else ""
        wrapped = (
            f"SELECT * EXCEPT(__ch_sh1, __ch_sh2) FROM (SELECT *, "
            f"xxhash64(struct(*)) AS __ch_sh1, hash(struct(*)) AS "
            f"__ch_sh2 FROM ({a_txt}) __ch_setl) WHERE "
            f"(__ch_sh1, __ch_sh2) {neg}IN (SELECT xxhash64(struct(*)), "
            f"hash(struct(*)) FROM ({b_txt}) __ch_setr)"
            + (f" {tail}" if tail else "")
        )
        if not last:
            wrapped = f"({wrapped})"
            masked = masked[: start + lo] + wrapped + masked[start + hi:]
        else:
            # the tail (if any) is already embedded in the emission
            masked = masked[:start] + wrapped + masked[end:]
        pos = start  # rescan: reduced chains + nested bare forms


# ---- block-order-dependent function family (r10 verdict item 3) ----
# CH's runningDifference / neighbor / runningAccumulate /
# groupArrayMovingSum(Avg) read rows in BLOCK order — undefined in a
# distributed engine, so they stayed loud. But when the query carries
# an explicit defining ORDER BY they have exact window equivalents
# (CH's own docs deprecate them in favor of window functions). The
# defining order is searched in CH-semantics priority:
#   1. the immediate FROM subquery's top-level ORDER BY (the idiomatic
#      `SELECT runningDifference(x) FROM (SELECT … ORDER BY k)` — the
#      only order CH actually guarantees single-threaded), else
#   2. the same SELECT's own ORDER BY (the "intent" reading used by
#      CH's documented window-function replacements).
# Without either, the call passes through LOUDLY as before.
# groupArrayMovingSum/Avg are aggregates (arrays per group), so only
# form 1 defines their within-group order; they sort collected
# (order-key, value) structs and fold prefix windows (sums widen to
# double — documented, exact to 2^53). neighbor's out-of-block default
# is NULL here: our store columns are Nullable (parquet), where CH
# also returns NULL; non-Nullable CH columns would return the type
# default — documented drift.
_BLOCK_ORDER_CALL = re.compile(
    r"(?i)(?<![A-Za-z0-9_])"
    r"(runningDifference|runningAccumulate|neighbor|"
    r"groupArrayMovingSum|groupArrayMovingAvg|deltaSum)\s*\("
)
_FROM_KW = re.compile(r"(?i)\bfrom\b")
_STATE_CALL = re.compile(
    r"(?is)^\s*(sum|count|min|max|avg)State\s*\((.*)\)\s*$"
)


def _strip_fill(order_txt: str) -> str:
    """Drop per-key WITH FILL tails from an ORDER BY key list (the
    fill rewrite runs later; window specs must not carry it)."""
    return re.sub(
        r"(?is)\bwith\s+fill\b(\s+from\s+\S+)?(\s+to\s+\S+)?"
        r"(\s+step\s+\S+)?",
        "",
        order_txt,
    ).strip().rstrip(",")


def _region_order_keys(masked: str, sel_start: int, region_end: int) -> str | None:
    """The region's own depth-0 ORDER BY key list, fill-stripped."""
    for om in _ORDER_BY.finditer(masked, sel_start, region_end):
        seg = masked[sel_start:om.start()]
        if seg.count("(") == seg.count(")"):
            o_end, _kw = _clause_span(masked, om.end())
            txt = _strip_fill(masked[om.end():o_end])
            # bare positional keys (ORDER BY 1) are constants inside an
            # OVER clause — cannot be carried into a window spec
            if any(
                re.fullmatch(r"\d+(\s+(asc|desc))?", k.strip(), re.I)
                for k in txt.split(",")
            ):
                return None
            return txt or None
    return None


def _from_subquery_order(masked: str, sel_start: int, region_end: int) -> str | None:
    """If the region's depth-0 FROM is a parenthesized subquery with
    its own top-level ORDER BY, return those keys (the CH-guaranteed
    defining order)."""
    for fm in _FROM_KW.finditer(masked, sel_start, region_end):
        seg = masked[sel_start:fm.start()]
        if seg.count("(") != seg.count(")"):
            continue
        j = fm.end()
        while j < len(masked) and masked[j].isspace():
            j += 1
        if j >= len(masked) or masked[j] != "(":
            return None
        end2, _parts = _parse_group(masked, j)
        inner = masked[j + 1:end2 - 1]
        return _region_order_keys(inner, 0, len(inner))
    return None


def _enclosing_select(masked: str, pos: int) -> tuple[int, int]:
    """(sel_start, region_end) of the nearest enclosing paren group
    whose content begins with SELECT/WITH — walking OUTWARD past
    ordinary function-call parens (a call nested in ``round(…)`` must
    still see its SELECT's clauses) — else the whole statement."""
    search = pos
    while True:
        depth = 0
        sel_start = 0
        found = False
        for i in range(search - 1, -1, -1):
            c = masked[i]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth == 0:
                    sel_start = i + 1
                    found = True
                    break
                depth -= 1
        region_end = len(masked)
        depth = 0
        for i in range(sel_start, len(masked)):
            c = masked[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth < 0:
                    region_end = i
                    break
        if not found:
            return sel_start, region_end
        if re.match(r"(?i)\s*(select|with)\b", masked[sel_start:region_end]):
            return sel_start, region_end
        search = sel_start - 1  # plain function-call group: keep walking


def _rewrite_block_order(masked: str) -> str:
    start = 0
    while True:
        m = _BLOCK_ORDER_CALL.search(masked, start)
        if not m:
            return masked
        fname = m.group(1)
        begin = m.start()
        sel_start, region_end = _enclosing_select(masked, begin)
        inner_keys = _from_subquery_order(masked, sel_start, region_end)
        self_keys = _region_order_keys(masked, sel_start, region_end)
        keys = inner_keys or self_keys
        agg_fn = (fname.lower().startswith("grouparraymoving")
                  or fname.lower() == "deltasum")
        if keys is None or (agg_fn and inner_keys is None):
            start = begin + 1  # no defining order: stays loud
            continue
        # parse the call (and a possible parameterized (N)(x) tail)
        paren = masked.index("(", m.end() - 1)
        end1, args = _parse_group(masked, paren)
        params: list[str] = []
        call_end = end1
        if agg_fn:
            j = end1
            while j < len(masked) and masked[j].isspace():
                j += 1
            if j < len(masked) and masked[j] == "(":
                call_end, args2 = _parse_group(masked, j)
                params, args = args, args2
        rendered = _render_block_order(fname, params, args, keys)
        if rendered is None:
            start = begin + 1
            continue
        masked = masked[:begin] + rendered + masked[call_end:]
        start = begin + 1


def _render_block_order(
    fname: str, params: list[str], args: list[str], keys: str
) -> str | None:
    f = fname.lower()
    over = f"OVER (ORDER BY {keys})"
    if f == "runningdifference":
        if len(args) != 1:
            return None
        x = args[0]
        # lag default = x itself → first row yields x - x = 0, exactly
        # CH's first-row contract, with natural NULL propagation
        return f"({x} - lag({x}, 1, {x}) {over})"
    if f == "neighbor":
        if len(args) not in (2, 3):
            return None
        x, off = args[0], args[1].strip()
        nm = re.fullmatch(r"-?\d+", off)
        if not nm:
            return None  # CH requires a constant offset
        n = int(off)
        dflt = f", {args[2]}" if len(args) == 3 else ""
        if n >= 0:
            return f"lead({x}, {n}{dflt}) {over}"
        return f"lag({x}, {-n}{dflt}) {over}"
    if f == "runningaccumulate":
        if len(args) not in (1, 2):
            return None
        sm = _STATE_CALL.match(args[0])
        if not sm:
            return None
        agg, inner = sm.group(1).lower(), sm.group(2).strip()
        if agg == "count" and not inner:
            inner = "1"
        part = f"PARTITION BY {args[1]} " if len(args) == 2 else ""
        return (
            f"{agg}({inner}) OVER ({part}ORDER BY {keys} "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
    # groupArrayMovingSum / groupArrayMovingAvg / deltaSum — aggregate
    # position: sort collected (order-key, value) structs, fold
    if len(args) != 1:
        return None
    # multi-key or DESC order keys cannot drive a struct sort — loud
    if "," in keys or re.search(r"(?i)\b(desc|nulls)\b", keys):
        return None
    if f == "deltasum":
        # sum of POSITIVE adjacent deltas in the defining order (CH
        # counter-reset semantics: negative steps ignored, first row
        # contributes nothing); folds in double like the other
        # collected aggregates (documented widening)
        if params:
            return None
        x = args[0]
        cl = f"array_sort(collect_list(struct({keys} as __o, {x} as __v)))"
        pairs = (
            f"zip_with(slice({cl}, 1, greatest(size({cl}) - 1, 0)), "
            f"slice({cl}, 2, greatest(size({cl}) - 1, 0)), "
            f"(__da, __db) -> greatest(cast(__db.__v as double) - "
            f"cast(__da.__v as double), cast(0 as double)))"
        )
        return (
            f"aggregate({pairs}, cast(0 as double), "
            f"(__ds, __dv) -> __ds + __dv)"
        )
    n_param = params[0].strip() if params else None
    if n_param is not None and not re.fullmatch(r"\d+", n_param):
        return None
    x = args[0]
    cl = f"array_sort(collect_list(struct({keys} as __o, {x} as __v)))"
    lo = f"greatest(i - {n_param} + 1, 1)" if n_param else "1"
    width = f"i - {lo} + 1"
    fold = (
        f"aggregate(slice({cl}, {lo}, {width}), "
        f"cast(0 as double), (s, v) -> s + v.__v)"
    )
    if f == "grouparraymovingavg":
        fold = f"({fold} / ({width}))"
    return f"transform(sequence(1, size({cl})), i -> {fold})"


# CH `GROUP BY cols WITH TOTALS` — append one all-data totals row.
# Spark expresses the same aggregate union as GROUPING SETS
# ((cols), ()): per-group rows plus the grand total, computed in one
# pass (Expand), no second scan. Deviation note: CH fills the totals
# row's group columns with type defaults (0, ''), the GROUPING SETS
# total carries NULLs — same documented drift as WITH FILL.
_WITH_TOTALS = re.compile(r"(?i)\bwith\s+totals\b")
_GROUP_BY = re.compile(r"(?i)\bgroup\s+by\b")


def _rewrite_with_totals(masked: str) -> str:
    while True:
        m = _WITH_TOTALS.search(masked)
        if not m:
            return masked
        gb = None
        for gm in _GROUP_BY.finditer(masked, 0, m.start()):
            seg = masked[gm.end():m.start()]
            if seg.count("(") == seg.count(")"):
                gb = gm  # the nearest same-depth GROUP BY wins
        if gb is None:
            return masked  # WITH TOTALS without a GROUP BY: untouched
        cols = masked[gb.end():m.start()].strip()
        rest = masked[m.end():]
        # CH never drops the totals row via HAVING (totals_mode
        # semantics); the GROUPING SETS total would be filtered like
        # any row — exempt it: grouping(col) = 1 only on the totals row
        hm = re.match(r"(?is)^\s*having\b", rest)
        if hm:
            h_end, _ = _clause_span(rest, hm.end())
            cond = rest[hm.end():h_end].strip()
            depth = 0
            first_col = cols
            for ci, ch in enumerate(cols):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    first_col = cols[:ci].strip()
                    break
            rest = (
                f" HAVING (({cond}) OR grouping({first_col}) = 1)"
                + rest[h_end:]
            )
        masked = (
            masked[: gb.start()]
            + f"GROUP BY GROUPING SETS (({cols}), ())"
            + rest
        )


# CH `ORDER BY col WITH FILL [FROM a] [TO b] [STEP s]` — gap-fill the
# ordered output on an arithmetic grid. Supported shape: TOP-level
# clause, single simple-identifier fill column (must be in the
# projection), integer bounds/step, optionally followed by a global
# LIMIT. DESC / INTERPOLATE / expression keys / date-interval steps
# pass through untranslated.
_WITH_FILL = re.compile(
    r"(?is)\border\s+by\s+"
    r"((?:[A-Za-z_][A-Za-z0-9_]*\s*,\s*)*)"
    r"([A-Za-z_][A-Za-z0-9_]*)\s+with\s+fill\b"
)

_FILL_KW = re.compile(r"(?is)\s*(from|to|step)\s+")
_FILL_CUT = {"to", "step", "interpolate", "limit"}


def _parse_fill_bounds(rest: str) -> tuple[dict[str, str | None], int]:
    """Parse the optional ``FROM <expr> TO <expr> STEP <expr>`` tail
    after ``WITH FILL`` on masked text. Each value runs to the next
    depth-0 bound keyword (to/step/interpolate/limit) or end of the
    clause — so date expressions like ``cast(… as date)`` and
    ``INTERVAL 1 DAY`` steps parse whole. Returns ({from,to,step},
    chars consumed)."""
    out: dict[str, str | None] = {"from": None, "to": None, "step": None}
    pos = 0
    while True:
        m = _FILL_KW.match(rest, pos)
        if not m or out[m.group(1).lower()] is not None:
            break
        kw = m.group(1).lower()
        i = m.end()
        depth = 0
        val_end = len(rest)
        while i < len(rest):
            c = rest[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    val_end = i
                    break
                depth -= 1
            elif depth == 0:
                w = re.match(r"(?i)[a-z_][a-z0-9_]*", rest[i:])
                if (
                    w
                    and w.group(0).lower() in _FILL_CUT
                    and (i == 0 or not rest[i - 1].isalnum())
                    and rest[i - 1] != "_"
                ):
                    val_end = i
                    break
            i += 1
        val = rest[m.end() : val_end].strip()
        if not val:
            break
        out[kw] = val
        pos = val_end
    return out, pos

# identifiers allowed in an INTERPOLATE `AS expr` besides the target
# column and function calls: SQL keywords / type names only. Any other
# bare identifier would silently resolve against the CURRENT (filled)
# row where CH reads the PREVIOUS row — reject those shapes (loud
# pass-through) rather than mis-compute.
_INTERP_KEYWORDS = frozenset(
    "case when then else end and or not null true false is in div mod"
    " as int integer bigint smallint tinyint double float string decimal"
    " boolean date timestamp interval".split()
)


def _parse_interpolate(
    rest: str,
) -> tuple[list[tuple[str, str | None]], str, bool] | None | str:
    """Parse a leading ``INTERPOLATE (item, …)`` off ``rest``
    (masked text). Returns (items, remainder, cross) where each item
    is (column, raw-expr-or-None) and ``cross`` is True when any expr
    references ANOTHER interpolated column's previous-row value (the
    struct-fold path). Exprs referencing a column that is NOT in the
    interpolate list are rejected (None → loud pass-through): CH
    reads the PREVIOUS row there, and a non-interpolated column
    carries a type default on filled rows — no faithful rewrite
    exists at text level. Returns the string ``"none"`` when no
    INTERPOLATE clause is present, or None when present but
    unsupported."""
    im = re.match(r"(?is)\s*interpolate\s*\(", rest)
    if not im:
        return "none"
    depth, i = 1, im.end()
    while i < len(rest) and depth:
        if rest[i] == "(":
            depth += 1
        elif rest[i] == ")":
            depth -= 1
        i += 1
    if depth:
        return None
    raw_items: list[tuple[str, str | None]] = []
    for item in _split_top(rest[im.end() : i - 1]):
        mm = re.fullmatch(
            r"(?is)\s*([A-Za-z_][A-Za-z0-9_]*)(?:\s+as\s+(.+?))?\s*", item
        )
        if not mm:
            return None
        raw_items.append((mm.group(1), mm.group(2)))
    if not raw_items:
        return None
    names = {n.lower() for n, _ in raw_items}
    cross = False
    for name, expr in raw_items:
        if expr is None:
            continue
        for idm in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*", expr):
            w = idm.group(0).lower()
            if w == name.lower() or w in _INTERP_KEYWORDS:
                continue
            if idm.start() > 0 and expr[idm.start() - 1] == ".":
                continue  # struct-field tail of an allowed base
            if expr[idm.end() :].lstrip().startswith("("):
                continue  # function call
            if w in names:
                cross = True  # prev-row ref to another INTERPOLATED col
                continue
            return None  # prev-row ref to a non-interpolated column
    return raw_items, rest[i:], cross


def _strip_lag_lead_frames(masked: str) -> str:
    """Remove ``ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW``
    from the OVER clause directly following a ``lag(…)``/``lead(…)``
    call (balanced-paren scan on masked text). That frame is exactly
    the whole-ordered-prefix under which CH's lagInFrame equals plain
    lag — and Spark's analyzer rejects ANY explicit frame on
    lag/lead, so the spelled-out form must drop it. Other frames are
    deliberately kept (they change InFrame semantics) and fail loudly
    downstream."""
    pat = re.compile(r"(?is)\b(lag|lead)\s*\(")
    parts: list[str] = []
    i = 0
    while True:
        m = pat.search(masked, i)
        if not m:
            parts.append(masked[i:])
            return "".join(parts)
        depth, j = 1, m.end()
        while j < len(masked) and depth:
            if masked[j] == "(":
                depth += 1
            elif masked[j] == ")":
                depth -= 1
            j += 1
        mo = re.match(r"(?is)\s*over\s*\(", masked[j:]) if not depth else None
        if not mo:
            parts.append(masked[i:j] if not depth else masked[i : m.end()])
            i = j if not depth else m.end()
            continue
        k0 = j + mo.end()
        depth, k = 1, k0
        while k < len(masked) and depth:
            if masked[k] == "(":
                depth += 1
            elif masked[k] == ")":
                depth -= 1
            k += 1
        if depth:
            parts.append(masked[i:j])
            i = j
            continue
        # frames under which the InFrame forms equal plain lag/lead:
        # the FULL frame works for both directions; the whole-PREFIX
        # frame only for lag — CH's leadInFrame cannot look past the
        # frame end (current row), it returns the default there, so a
        # lead keeps that frame and fails loudly (r10 fix: the strip
        # used to silently turn it into a forward-looking lead)
        if m.group(1).lower() == "lag":
            frame_tail = r"(current\s+row|unbounded\s+following)"
        else:
            frame_tail = r"unbounded\s+following"
        body = re.sub(
            r"(?is)\s+rows\s+between\s+unbounded\s+preceding"
            r"\s+and\s+" + frame_tail + r"\s*$",
            "",
            masked[k0 : k - 1],
        )
        parts.append(masked[i:k0] + body + ")")
        i = k


_ORDER_BY_KW = re.compile(r"(?i)\border\s+by\b")
_ORDER_STOP = re.compile(
    r"(?i)\b(limit|offset|settings|format|union|except|intersect|"
    r"window|rows|range|groups|fetch|interpolate)\b"
)
_HAS_NULLS_MOD = re.compile(r"(?i)\bnulls\s+(first|last)\b")
_ENDS_DESC = re.compile(r"(?i)\bdesc\s*$")
_KEY_SKIP = re.compile(r"(?i)\b(with\s+fill|collate)\b|^\s*all\s*$")


def _comment_spans(txt: str) -> list[tuple[int, int]]:
    """(start, end) spans of -- line and /* */ block comments. String
    literals are already masked, so comment markers inside them can't
    appear here."""
    spans = []
    i = 0
    n = len(txt)
    while i < n - 1:
        if txt[i] == "-" and txt[i + 1] == "-":
            j = txt.find("\n", i)
            j = n if j < 0 else j
            spans.append((i, j))
            i = j
        elif txt[i] == "/" and txt[i + 1] == "*":
            j = txt.find("*/", i)
            j = n if j < 0 else j + 2
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


_KEY_COMMENT = re.compile(r"--|/\*")


def _order_by_nulls_last(masked: str) -> str:
    """ClickHouse sorts NULLs LAST by default in EVERY direction
    (ORDER BY docs: values, then NaN, then NULL) — Spark's ASC default
    is NULLS FIRST, so `ORDER BY x LIMIT n` over a nullable key
    silently returned different rows. Every ascending sort key without
    an explicit NULLS modifier gets NULLS LAST appended (top-level
    ORDER BY and window-spec ORDER BY alike); DESC keys already match
    (Spark DESC default is NULLS LAST). Keys carrying residual WITH
    FILL / COLLATE text or the ALL shorthand are left untouched.
    Residual drift (documented): NaN under DESC — CH keeps NaN just
    before NULL at the end, Spark sorts NaN as the largest value."""
    out = []
    pos = 0
    comments = _comment_spans(masked)

    def _in_comment(p: int) -> bool:
        return any(a <= p < b for a, b in comments)

    while True:
        m = _ORDER_BY_KW.search(masked, pos)
        if not m:
            out.append(masked[pos:])
            return "".join(out)
        if _in_comment(m.start()):
            out.append(masked[pos:m.end()])
            pos = m.end()
            continue
        out.append(masked[pos:m.end()])
        i = m.end()
        keys: list[str] = []
        cur_start = i
        depth = 0
        end = len(masked)
        while i < len(masked):
            c = masked[i]
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif c == "," and depth == 0:
                keys.append(masked[cur_start:i])
                cur_start = i + 1
            elif depth == 0 and c.isalpha():
                sm = _ORDER_STOP.match(masked, i)
                if sm and re.search(r"[\s,()]", masked[i - 1]):
                    end = i
                    break
                # skip the rest of this word
                j = i
                while j < len(masked) and (masked[j].isalnum()
                                           or masked[j] == "_"):
                    j += 1
                i = j
                continue
            i += 1
        else:
            end = len(masked)
        keys.append(masked[cur_start:end])

        fixed = []
        for k in keys:
            # a trailing comment inside the key: place the modifier
            # BEFORE the comment (appending would swallow it)
            tail = ""
            cm = _KEY_COMMENT.search(k)
            if cm:
                k, tail = k[:cm.start()], k[cm.start():]
            body = k.rstrip()
            pad = k[len(body):]
            if (not body.strip()
                    or _HAS_NULLS_MOD.search(body)
                    or _ENDS_DESC.search(body)
                    or _KEY_SKIP.search(body)):
                fixed.append(k + tail)
            else:
                fixed.append(body + " NULLS LAST" + pad + tail)
        out.append(",".join(fixed))
        pos = end


def _rewrite_with_fill(masked: str) -> str:
    """WITH FILL driver: rewrite a statement-level ``ORDER BY … WITH
    FILL`` via :func:`_rewrite_with_fill_stmt`, then walk NESTED
    subqueries (r9, VERDICT r8 missing #1 tail): a fill clause whose
    prefix has unmatched ``(`` sits inside a parenthesized subquery —
    the innermost balanced span is a complete SELECT, so the
    statement rewrite applies to it in place (Spark allows CTEs
    inside subqueries, and each nesting scope resolves its own
    ``__wf_src``). Spans the statement pass leaves unchanged
    (unsupported shapes) are skipped — same loud pass-through."""
    out = _rewrite_with_fill_stmt(masked)
    pos = 0
    while True:
        m = _WITH_FILL.search(out, pos)
        if not m:
            return out
        pre = out[: m.start()]
        opens: list[int] = []
        for i, ch in enumerate(pre):
            if ch == "(":
                opens.append(i)
            elif ch == ")" and opens:
                opens.pop()
        if not opens:
            pos = m.end()  # top level: the stmt pass already decided
            continue
        open_i = opens[-1]
        depth, j = 1, open_i + 1
        while j < len(out) and depth:
            if out[j] == "(":
                depth += 1
            elif out[j] == ")":
                depth -= 1
            j += 1
        if depth:
            pos = m.end()  # unbalanced text: leave untouched
            continue
        inner = out[open_i + 1 : j - 1]
        new_inner = _rewrite_with_fill(inner)
        if new_inner == inner:
            pos = m.end()
            continue
        out = out[: open_i + 1] + new_inner + out[j - 1 :]
        pos = open_i + 1 + len(new_inner)


def _rewrite_with_fill_stmt(masked: str) -> str:
    """Translate a statement-level ``ORDER BY c WITH FILL …`` into a
    full-outer join against an explicit ``sequence()`` spine::

        WITH __wf_src AS (<body>)
        SELECT * FROM (SELECT explode(sequence(F, STOP, S)) AS c)
        __wf_spine FULL OUTER JOIN __wf_src USING (c) ORDER BY c

    CH's TO bound is exclusive — STOP is the last grid point below
    it; omitted FROM/TO fall back to the data min/max (scalar
    subqueries over the CTE), matching CH. Original rows OFF the
    grid survive (full join), exactly CH's behavior. Filled rows
    carry NULL in the other columns — CH fills type defaults (0,
    '') there; documented deviation (Spark SQL cannot know column
    types at text-rewrite time).

    Round-8 extensions:

    * **Multi-key**: ``ORDER BY a, b WITH FILL …`` (bare preceding
      keys, FILL on the LAST key only) — CH restarts the fill grid
      per preceding-key group, so the spine becomes a per-group
      ``explode(sequence(…))`` over group min/max (or the literal
      FROM/TO bounds) full-joined USING every key.
    * **INTERPOLATE (col [AS expr], …)**: filled rows carry the last
      real row's value forward (plain form: group-max over the
      carry-group window — each group holds exactly one real row),
      or the expr applied once per filled step (``AS`` form:
      ``aggregate(sequence(1, k), last_real, acc -> expr)`` — CH
      evaluates the expr against the previous row, which cascades).
      Exprs referencing OTHER prev-row columns are rejected
      (pass-through, loud) — see ``_parse_interpolate``."""
    m = _WITH_FILL.search(masked)
    if not m:
        return masked
    pre = masked[: m.start()]
    if pre.count("(") != pre.count(")"):
        return masked  # nested in a subquery: unsupported, untouched
    pre_keys = [k.strip() for k in m.group(1).split(",") if k.strip()]
    col = m.group(2)
    bounds, consumed = _parse_fill_bounds(masked[m.end() :])
    frm, to, step = bounds["from"], bounds["to"], bounds["step"]
    int_mode = (
        (frm is None or re.fullmatch(r"-?\d+", frm) is not None)
        and (to is None or re.fullmatch(r"-?\d+", to) is not None)
        and (step is None or re.fullmatch(r"\d+", step) is not None)
    )
    if not int_mode and not (
        step is None or re.fullmatch(r"(?is)interval\s+\d+\s+[a-z]+", step)
    ):
        return masked  # non-literal step shapes: untouched (loud)
    s = int(step) if int_mode and step else 1
    parsed = _parse_interpolate(masked[m.end() + consumed :])
    if parsed is None:
        return masked  # INTERPOLATE present but unsupported shape
    interp: list[tuple[str, str | None]] | None
    cross = False
    if parsed == "none":
        interp, rest = None, masked[m.end() + consumed :]
    else:
        interp, rest, cross = parsed
    tail = rest.strip()
    if tail and not _TRAILING_LIMIT.match(tail):
        return masked  # more ORDER BY keys: untouched
    keys_csv = ", ".join(pre_keys + [col])
    body = masked[: m.start()].strip()
    if int_mode and frm is not None and to is not None and int(to) <= int(frm):
        # inverted bounds: CH runs the query with an EMPTY fill grid
        # (INTERPOLATE moot) — translate to the plain ordered query
        return f"{body} ORDER BY {keys_csv}" + (f" {tail}" if tail else "")

    def general_spine(f_expr: str, mx_expr: str) -> str:
        # date/interval (or non-literal) grid: sequence() takes any
        # orderable start/stop with an INTERVAL or numeric step; CH's
        # exclusive TO is enforced by a filter (the closed-form STOP
        # arithmetic below is integer-only), omitted TO fills to the
        # data max INCLUSIVE. Inverted bounds guard to an empty array.
        st = step if step is not None else "1"
        if to is not None:
            return (
                f"CASE WHEN ({f_expr}) <= ({to}) THEN "
                f"filter(sequence({f_expr}, {to}, {st}), "
                f"__wf_s -> __wf_s < ({to})) ELSE array() END"
            )
        return (
            f"CASE WHEN ({f_expr}) <= ({mx_expr}) THEN "
            f"sequence({f_expr}, {mx_expr}, {st}) ELSE array() END"
        )

    if pre_keys:
        f_expr = frm if frm is not None else "__wf_mn"
        if int_mode:
            if to is None:
                stop_expr = "__wf_mx"
            else:
                stop_expr = (
                    f"(({int(to)} - 1 - ({f_expr})) div {s}) * {s} + ({f_expr})"
                )
            arr = (
                f"CASE WHEN ({f_expr}) <= ({stop_expr}) "
                f"THEN sequence({f_expr}, {stop_expr}, {s}) ELSE array() END"
            )
        else:
            arr = general_spine(f_expr, "__wf_mx")
        pk = ", ".join(pre_keys)
        spine_sel = (
            f"SELECT {pk}, explode({arr}) "
            f"AS {col} FROM (SELECT {pk}, min({col}) AS __wf_mn, "
            f"max({col}) AS __wf_mx FROM __wf_src GROUP BY {pk}) __wf_g"
        )
    else:
        if int_mode:
            if frm is not None and to is not None:
                f_i, t_i = int(frm), int(to)
                f_expr = str(f_i)
                stop_expr = str(f_i + ((t_i - f_i - 1) // s) * s)
            else:
                f_expr = (
                    frm
                    if frm is not None
                    else f"(SELECT min({col}) FROM __wf_src)"
                )
                # TO omitted → fill up to the data max (inclusive)
                if to is None:
                    stop_expr = f"(SELECT max({col}) FROM __wf_src)"
                else:
                    stop_expr = (
                        f"(({int(to)} - 1 - ({f_expr})) div {s}) * {s}"
                        f" + ({f_expr})"
                    )
            # inverted bounds (e.g. `TO 5` when min(col)=10) fill
            # NOTHING in CH; unguarded sequence(10, 4) would throw
            arr = (
                f"CASE WHEN ({f_expr}) <= ({stop_expr}) "
                f"THEN sequence({f_expr}, {stop_expr}, {s}) ELSE array() END"
            )
        else:
            f_expr = (
                frm if frm is not None else f"(SELECT min({col}) FROM __wf_src)"
            )
            arr = general_spine(f_expr, f"(SELECT max({col}) FROM __wf_src)")
        spine_sel = f"SELECT explode({arr}) AS {col}"
    using = ", ".join(pre_keys + [col])
    if interp is None:
        return (
            f"WITH __wf_src AS ({body}) "
            f"SELECT * FROM ({spine_sel}) __wf_spine "
            f"FULL OUTER JOIN __wf_src USING ({using}) ORDER BY {keys_csv}"
            + (f" {tail}" if tail else "")
        )
    part = f"PARTITION BY {', '.join(pre_keys)} " if pre_keys else ""
    pgrp = (
        f"PARTITION BY {', '.join(pre_keys + ['__wf_grp'])}"
        if pre_keys
        else "PARTITION BY __wf_grp"
    )
    vals, except_cols = [], ["__wf_real", "__wf_grp", "__wf_k"]

    def base_of(name: str) -> str:
        return f"max(CASE WHEN __wf_real THEN {name} END) OVER ({pgrp})"

    def sub_refs(expr: str, mapping: dict[str, str]) -> str:
        # standalone occurrences only: not struct tails, not calls
        def repl(mm: re.Match) -> str:
            return mapping.get(mm.group(0).lower(), mm.group(0))

        return re.sub(r"(?<![\w.])[A-Za-z_][A-Za-z0-9_]*(?![\w(])", repl, expr)

    if not cross:
        for name, expr in interp:
            base = base_of(name)
            if expr is None:
                v = base
            else:
                expr_sub = sub_refs(expr, {name.lower(): "__wf_acc"})
                v = (
                    f"IF(__wf_k < 1, {base}, aggregate(sequence(1, __wf_k), "
                    f"{base}, (__wf_acc, __wf_x) -> ({expr_sub})))"
                )
            vals.append(
                f"CASE WHEN __wf_real THEN {name} ELSE {v} END AS {name}"
            )
            except_cols.append(name)
        st_sel = ""
    else:
        # Cross-column prev-row references (CH evaluates every
        # INTERPOLATE expr against the PREVIOUS output row
        # simultaneously): a SINGLE struct-valued fold carries all
        # interpolated columns together — per-column folds would read
        # each column's own carry instead of the previous row's
        # neighbours. Plain (AS-less) items ride along as identity
        # fields so exprs can reference them.
        mapping = {n.lower(): f"__wf_acc.{n}" for n, _ in interp}
        init = ", ".join(f"'{n}', {base_of(n)}" for n, _ in interp)
        step = ", ".join(
            f"'{n}', "
            + (f"__wf_acc.{n}" if e is None else f"({sub_refs(e, mapping)})")
            for n, e in interp
        )
        st = (
            f"IF(__wf_k < 1, named_struct({init}), "
            f"aggregate(sequence(1, __wf_k), named_struct({init}), "
            f"(__wf_acc, __wf_x) -> named_struct({step})))"
        )
        st_sel = f", {st} AS __wf_st"
        except_cols.append("__wf_st")
        for name, _ in interp:
            vals.append(
                f"CASE WHEN __wf_real THEN {name} "
                f"ELSE __wf_st.{name} END AS {name}"
            )
            except_cols.append(name)
    grp = (
        f"count(CASE WHEN __wf_real THEN 1 END) OVER ({part}ORDER BY {col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __wf_grp"
    )
    k_expr = f"(row_number() OVER ({pgrp} ORDER BY {col}) - 1) AS __wf_k"
    return (
        f"WITH __wf_src AS (SELECT *, true AS __wf_real FROM ({body}) __wf_b), "
        f"__wf_j AS (SELECT * FROM ({spine_sel}) __wf_spine "
        f"FULL OUTER JOIN __wf_src USING ({using})), "
        f"__wf_m AS (SELECT *, {grp} FROM __wf_j) "
        f"SELECT * EXCEPT ({', '.join(except_cols)}), {', '.join(vals)} "
        f"FROM (SELECT *{st_sel} FROM "
        f"(SELECT *, {k_expr} FROM __wf_m) __wf_v0) __wf_v "
        f"ORDER BY {keys_csv}"
        + (f" {tail}" if tail else "")
    )


# CH `FROM t SAMPLE k`: k in (0,1) or a rational n/m = fraction,
# k = 1 = whole table (clause dropped), integer > 1 = approx row
# count → Spark TABLESAMPLE. Only matched directly after a table
# reference or its `AS alias` (Spark's grammar puts TABLESAMPLE
# BEFORE the alias, so the AS form swaps the two), so a column
# named/aliased `sample` is never touched. NOTE: sampling is
# nondeterministic on both engines — translated queries with SAMPLE
# can't be value-gated. A bare (AS-less) alias before SAMPLE is NOT
# recognized — it is indistinguishable from the table name itself.
# `SAMPLE k OFFSET m` is consumed too (ADVICE r05: the OFFSET tail
# used to survive as unparseable residue) — the offset only shifts
# WHICH part of the sample space is read, a distinction without
# meaning for Spark's TABLESAMPLE, so it is dropped.
_SAMPLE_CLAUSE = re.compile(
    r"(?i)(?<=[A-Za-z0-9_`)])"
    r"(?P<alias>\s+as\s+[A-Za-z_][A-Za-z0-9_]*)?"
    r"\s+sample\s+(?P<k>\d+\s*/\s*\d+|\d+\.?\d*|0?\.\d+)(?![A-Za-z0-9_./])"
    r"(?:\s+offset\s+(?:\d+\s*/\s*\d+|\d+\.?\d*|0?\.\d+)(?![A-Za-z0-9_./]))?"
)


def _rewrite_sample_clause(masked: str) -> str:
    def repl(m: re.Match) -> str:
        k = m.group("k")
        alias = m.group("alias") or ""
        if "/" in k:
            num, den = (int(p) for p in k.split("/"))
            frac = num / den
            clause = f" TABLESAMPLE ({frac * 100:g} PERCENT)"
        elif "." in k and float(k) < 1:
            clause = f" TABLESAMPLE ({float(k) * 100:g} PERCENT)"
        elif float(k) == 1:
            clause = ""  # CH SAMPLE 1 reads the whole table
        else:
            clause = f" TABLESAMPLE ({int(float(k))} ROWS)"
        # Spark: FROM t TABLESAMPLE (...) [AS alias]
        return f"{clause}{alias}"

    return _SAMPLE_CLAUSE.sub(repl, masked)


_PREWHERE = re.compile(r"(?i)(?<![A-Za-z0-9_])prewhere(?![A-Za-z0-9_])")


def _rewrite_prewhere(masked: str) -> str:
    """PREWHERE is a ClickHouse storage-level filter hint. Alone it is
    semantically WHERE; when the same SELECT also has a WHERE (legal
    in CH) the two merge into one conjunction — 'PREWHERE a … WHERE b'
    → 'WHERE (a) AND (b)', never the invalid 'WHERE a WHERE b'."""
    while True:
        m = _PREWHERE.search(masked)
        if not m:
            return masked
        cond1_start = m.end()
        cond1_end, kw = _clause_span(masked, cond1_start)
        cond1 = masked[cond1_start:cond1_end].strip()
        if kw == "where":
            where_m = re.compile(r"(?i)\bwhere\b").search(masked, cond1_end)
            cond2_start = where_m.end()
            cond2_end, _ = _clause_span(masked, cond2_start)
            cond2 = masked[cond2_start:cond2_end].strip()
            masked = (
                masked[: m.start()]
                + f"WHERE ({cond1}) AND ({cond2}) "
                + masked[cond2_end:]
            )
        else:
            masked = masked[: m.start()] + "WHERE" + masked[m.end():]


def _split_top(text: str) -> list[str]:
    """Split on commas at paren/bracket depth 0 (strings are masked)."""
    parts, depth, cur = [], 0, []
    for c in text:
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


_ARRAY_JOIN = re.compile(r"(?i)\b(?:(left)\s+|inner\s+)?array\s+join\b")
_FROM_OR_PAREN = re.compile(r"(?i)\bfrom\b|[()]")
_AJ_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")
_AJ_AS = re.compile(r"(?is)^(.*\S)\s+as\s+([A-Za-z_][A-Za-z0-9_]*)\s*$")
# item-list terminators: clause keywords, a following regular/ASOF
# join, or a second ARRAY JOIN — `left`/`inner` alone terminate only
# as join prefixes, so left(s, 2) in an item still parses (review r7)
_AJ_ITEMS_END = re.compile(
    r"(?i)\b(?:where|group\s+by|order\s+by|limit|having|union|settings"
    r"|qualify|prewhere"
    r"|(?:left\s+|inner\s+)?array\s+join"
    r"|(?:(?:left|right|inner|full|cross|global|any|all|asof|semi|anti)\s+)*join"
    r")\b|[()]"
)
# bare relation (with optional alias) — lets the rewrite expose the
# source under its own name so qualified references keep resolving
_AJ_BARE_SRC = re.compile(
    r"(?is)^\s*([A-Za-z_][A-Za-z0-9_.]*)"
    r"(?:\s+(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*))?\s*$"
)


def _aj_items_span(masked: str, start: int) -> int:
    depth = 0
    for t in _AJ_ITEMS_END.finditer(masked, start):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth < 0:
                return t.start()
        elif depth == 0:
            return t.start()
    return len(masked)


def _rewrite_array_join(masked: str) -> str:
    """CH ``[LEFT|INNER] ARRAY JOIN e1 [AS a1], e2 [AS a2], …`` →
    a position-exploded LATERAL VIEW subquery (ref usage:
    ClickHouse ARRAY JOIN clause semantics — multiple arrays are
    ZIPPED element-wise, never crossed):

    ``FROM src ARRAY JOIN arr AS a`` becomes::

        FROM (SELECT __aj_l.*, try_element_at(arr, __aj_n) AS a
              FROM (SELECT * FROM src) __aj_l
              LATERAL VIEW explode(<1..size positions>) __aj_v AS __aj_n)

    - plain/INNER drops rows whose arrays are all empty (explode of
      an empty position array); LEFT keeps them via LATERAL VIEW
      OUTER with NULL elements (CH emits the type's default value —
      documented drift to NULL, same family as try_element_at).
    - multi-array form zips on positions 1..greatest(sizes); where
      one array is shorter its elements come back NULL (CH errors on
      unequal sizes — documented non-error drift).
    - an UNALIASED bare-identifier item replaces the source column of
      that name in scope (CH semantics) — emitted as a qualified-star
      ``EXCEPT`` plus a same-name element alias. Unaliased
      *expressions* are rejected exactly like CH rejects them.
    """
    while True:
        m = _ARRAY_JOIN.search(masked)
        if m is None:
            return masked
        left = bool(m.group(1))
        # the owning FROM: last FROM at the clause's paren depth whose
        # group is still open at the clause (entries reset on close)
        depth = 0
        last_from: dict[int, tuple[int, int] | None] = {}
        for t in _FROM_OR_PAREN.finditer(masked, 0, m.start()):
            tok = t.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                last_from[depth] = None
                depth -= 1
            else:
                last_from[depth] = (t.start(), t.end())
        span = last_from.get(depth)
        if span is None:
            raise ValueError("ARRAY JOIN without an owning FROM clause")
        from_start, from_end = span
        src = masked[from_end : m.start()].strip()
        # a bare `t` / `t AS x` source keeps its name on BOTH wrap
        # levels, so qualified references (t.k in the SELECT, t.arr
        # as an item) still resolve (review r7); complex sources
        # (joins, subqueries) fall back to the synthetic alias
        srcm = _AJ_BARE_SRC.match(src)
        relname = "__aj_l"
        if srcm and (srcm.group(2) or "").lower() != "final":
            relname = srcm.group(2) or srcm.group(1).split(".")[-1]
        elif src.startswith("("):
            # `(SELECT …) [AS] x` — reuse x on both wrap levels so
            # x.col references keep resolving (ADVICE r7); an
            # UNALIASED subquery keeps the synthetic __aj_l name
            d, i = 0, 0
            for i, ch in enumerate(src):
                d += (ch == "(") - (ch == ")")
                if d == 0:
                    break
            pm = re.fullmatch(
                r"(?is)\s*(?:as\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*",
                src[i + 1 :],
            )
            if pm:
                relname = pm.group(1)
        items_end = _aj_items_span(masked, m.end())
        items = _split_top(masked[m.end() : items_end])
        if not items:
            raise ValueError("ARRAY JOIN with no array expressions")
        projs: list[tuple[str, str]] = []
        excepts: list[str] = []
        for it in items:
            am = _AJ_AS.match(it)
            if am and am.group(1).count("(") == am.group(1).count(")"):
                projs.append((am.group(1).strip(), am.group(2)))
            elif _AJ_IDENT.match(it):
                alias = it.split(".")[-1]
                projs.append((it, alias))
                excepts.append(alias)
            else:
                raise ValueError(
                    f"ARRAY JOIN expression requires AS alias: {it!r}"
                )
        sizes = [f"size({e})" for e, _ in projs]
        n = sizes[0] if len(sizes) == 1 else f"greatest({', '.join(sizes)})"
        pos = (
            f"(CASE WHEN coalesce({n}, 0) <= 0 THEN array() "
            f"ELSE sequence(1, {n}) END)"
        )
        proj_sql = ", ".join(
            f"try_element_at({e}, __aj_n) AS {a}" for e, a in projs
        )
        exc = f" EXCEPT ({', '.join(excepts)})" if excepts else ""
        outer = "OUTER " if left else ""
        masked = (
            masked[:from_start]
            + f"FROM (SELECT {relname}.*{exc}, {proj_sql} "
            + f"FROM (SELECT * FROM {src}) {relname} "
            + f"LATERAL VIEW {outer}explode({pos}) __aj_v AS __aj_n) {relname} "
            + masked[items_end:]
        )


_QUALIFY = re.compile(r"(?i)\bqualify\b")
_SELECT_OR_PAREN = re.compile(r"(?i)\bselect\b|[()]")


def _rewrite_qualify(masked: str) -> str:
    """CH/modern-SQL ``QUALIFY <pred>`` (filter on window results) —
    Spark has no QUALIFY, so the owning SELECT wraps: the predicate
    becomes a hidden ``__q`` column and an outer
    ``SELECT * EXCEPT (__q) … WHERE __q`` filters it. ORDER BY /
    LIMIT after the clause stay OUTSIDE the wrap (they see the
    filtered rows, like QUALIFY semantics demand). ``SELECT
    DISTINCT`` + QUALIFY is left untouched (the hidden column would
    change the distinct key; Spark will reject the residue loudly
    rather than silently mis-deduplicate) — but only THAT occurrence
    is skipped: other QUALIFYs in the same statement (e.g. the other
    arm of a UNION) still translate (ADVICE r7)."""
    search_from = 0
    while True:
        m = _QUALIFY.search(masked, search_from)
        if m is None:
            return masked
        # owning SELECT: last same-depth `select` before the clause
        depth = 0
        last_sel: dict[int, int | None] = {}
        for t in _SELECT_OR_PAREN.finditer(masked, 0, m.start()):
            tok = t.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                last_sel[depth] = None
                depth -= 1
            else:
                last_sel[depth] = t.end()
        sel_end = last_sel.get(depth)
        if sel_end is None:
            raise ValueError("QUALIFY without an owning SELECT")
        if re.match(r"(?is)\s*distinct\b", masked[sel_end:]):
            search_from = m.end()
            continue
        pred_end, _kw = _clause_span(masked, m.end())
        pred = masked[m.end() : pred_end].strip()
        body = masked[sel_end : m.start()].rstrip()
        # the hidden column joins the SELECT LIST: insert before the
        # body's top-level FROM (append if the select has none)
        ins = len(body)
        depth = 0
        for t in _FROM_OR_PAREN.finditer(body):
            tok = t.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                ins = t.start()
                break
        masked = (
            masked[: sel_end - 6]
            + "SELECT * EXCEPT (__q) FROM (SELECT"
            + body[:ins].rstrip()
            + f", ({pred}) AS __q "
            + body[ins:]
            + ") WHERE __q "
            + masked[pred_end:]
        )


_SCALAR_WITH = re.compile(r"(?i)\bwith\b")
_ANSI_CTE_ITEM = re.compile(
    r"(?is)^[A-Za-z_][A-Za-z0-9_]*\s+as\s*\("
)
_SCALAR_ITEM = re.compile(
    r"(?is)^(.*\S)\s+as\s+([A-Za-z_][A-Za-z0-9_]*)$"
)


def _lambda_shadow_spans(text: str, name: str) -> list[tuple[int, int]]:
    """Spans of ``text`` where a lambda parameter named ``name``
    shadows a scalar-WITH alias: each `` p -> body`` / ``(p, q) ->
    body`` whose param list contains the name, from the param list
    through the body's end (the enclosing group's same-depth comma or
    close paren, or end of text)."""
    spans: list[tuple[int, int]] = []
    for lm in re.finditer(
        r"(?is)(?:\b([A-Za-z_][A-Za-z0-9_]*)|\(([^()]*)\))\s*->", text
    ):
        params = (
            [lm.group(1)]
            if lm.group(1)
            else [p.strip() for p in lm.group(2).split(",")]
        )
        if name.lower() not in (p.lower() for p in params if p):
            continue
        end = len(text)
        d = 0
        for i in range(lm.end(), len(text)):
            c = text[i]
            if c == "(":
                d += 1
            elif c == ")":
                if d == 0:
                    end = i
                    break
                d -= 1
            elif c == "," and d == 0:
                end = i
                break
        spans.append((lm.start(), end))
    return spans


_AS_ITEM = re.compile(r"(?is)^(.*\S)\s+as\s+([A-Za-z_][A-Za-z0-9_]*)$")

_WITH_TIES = re.compile(
    r"(?is)\border\s+by\s+(.+?)\s+limit\s+(\d+)\s+with\s+ties\s*(;?\s*)$"
)


def _rewrite_with_ties(masked: str) -> str:
    """``ORDER BY keys LIMIT n WITH TIES`` (statement tail) → a
    ``rank()`` window wrapper: rows with rank ≤ n keep every row tied
    with the n-th on the sort keys — exactly CH's WITH TIES. Only the
    top-level tail form rewrites; an owning ORDER BY that is not the
    final clause (subquery spellings) passes through loudly."""
    m = _WITH_TIES.search(masked)
    if m is None:
        return masked
    pre = masked[: m.start()]
    keys = m.group(1).strip()
    if (
        pre.count("(") != pre.count(")")
        or keys.count("(") != keys.count(")")
        or re.search(r"(?i)\b(select|from|limit|union|by)\b", keys)
    ):
        return masked
    n = int(m.group(2))
    return (
        f"SELECT * EXCEPT (__wt_r) FROM (SELECT *, rank() OVER "
        f"(ORDER BY {keys}) AS __wt_r FROM ({pre.strip()}) __wt_b) "
        f"WHERE __wt_r <= {n} ORDER BY {keys}{m.group(3)}"
    )


def _rewrite_star_replace(masked: str) -> str:
    """CH column transformer ``[t.]* [EXCEPT (cols)] REPLACE(expr AS
    col, …)`` — Spark has ``* EXCEPT`` natively but no REPLACE, so
    the star expands to ``* EXCEPT (<except cols> ∪ <replaced cols>),
    expr AS col, …``. Documented drift: the replaced columns move to
    the END of the projection (CH keeps their position) — irrelevant
    to name-addressed consumers. A ``replace(`` that is the string
    FUNCTION (not preceded by ``*`` / ``* EXCEPT (…)``) is never
    touched; malformed items (no ``AS``) leave the occurrence alone
    (loud)."""
    pos = 0
    while True:
        m = re.compile(r"(?i)\breplace\s*\(").search(masked, pos)
        if not m:
            return masked
        start = m.start()
        j = start - 1
        while j >= 0 and masked[j].isspace():
            j -= 1
        exc_names: list[str] = []
        if j >= 0 and masked[j] == ")":
            depth, k = 0, j
            while k >= 0:
                if masked[k] == ")":
                    depth += 1
                elif masked[k] == "(":
                    depth -= 1
                    if depth == 0:
                        break
                k -= 1
            m2 = re.search(r"(?is)\bexcept\s*$", masked[:k])
            if m2 is None:
                pos = start + 1
                continue
            exc_names = [i.strip() for i in _split_top(masked[k + 1 : j])]
            j2 = m2.start() - 1
            while j2 >= 0 and masked[j2].isspace():
                j2 -= 1
            if j2 < 0 or masked[j2] != "*":
                pos = start + 1
                continue
            star = j2
        elif j >= 0 and masked[j] == "*":
            star = j
        else:
            pos = start + 1
            continue
        qual = ""
        qb = star
        if qb >= 1 and masked[qb - 1] == ".":
            mq = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\.$", masked[:qb])
            if mq:
                qual = mq.group(1) + "."
                qb = mq.start(1)
        paren = masked.index("(", m.start())
        gend, items = _parse_group(masked, paren)
        parsed: list[tuple[str, str]] = []
        for it in items:
            am = _AS_ITEM.match(it.strip())
            if am is None or am.group(1).count("(") != am.group(1).count(")"):
                parsed = []
                break
            parsed.append((am.group(1).strip(), am.group(2)))
        if not parsed:
            pos = start + 1
            continue
        all_exc = exc_names + [n for _, n in parsed]
        repl = (
            f"{qual}* EXCEPT ({', '.join(all_exc)}), "
            + ", ".join(f"{e} AS {n}" for e, n in parsed)
        )
        masked = masked[:qb] + repl + masked[gend:]
        pos = qb + len(repl)


def _rewrite_scalar_with(masked: str) -> str:
    """CH's constant-expression WITH — ``WITH 3 AS k, 'x' AS s
    SELECT k, s …`` (expression FIRST, no parenthesized subquery) —
    inlines each named expression at its use sites, parenthesized.
    ANSI CTEs (``name AS (SELECT …)``) are left exactly as written;
    a mixed list keeps its ANSI items. Shadowing follows CH: the
    alias replaces any same-named column reference in the statement."""
    m = _SCALAR_WITH.search(masked)
    if m is None or _inside_string(masked, m.start()):
        return masked
    # WITH items end at the statement's top-level SELECT
    sel = None
    depth = 0
    for t in _SELECT_OR_PAREN.finditer(masked, m.end()):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            sel = t.start()
            break
    if sel is None:
        return masked
    items = _split_top(masked[m.end() : sel])
    subs: list[tuple[str, str]] = []
    keep: list[str] = []
    for it in items:
        if _ANSI_CTE_ITEM.match(it):
            keep.append(it)
            continue
        sm = _SCALAR_ITEM.match(it)
        if sm and sm.group(1).count("(") == sm.group(1).count(")"):
            subs.append((sm.group(2), sm.group(1).strip()))
        else:
            keep.append(it)  # unrecognized — leave for Spark to judge
    if not subs:
        return masked
    head = masked[: m.start()]
    tail = masked[sel:]
    for name, expr in subs:
        # '.' excluded on BOTH sides: `t.k` is a column reference, not
        # a use of the scalar alias k (review r7 finding). NON-use
        # positions are skipped (ADVICE r7): an alias-definition site
        # (`SELECT x AS k`), a relation position (`FROM k` /
        # `JOIN k`), and anything inside a lambda that declares the
        # name as a parameter (the param SHADOWS the alias — params
        # and body both stay) merely SHARE the name; inlining there
        # yields unparseable or silently-wrong SQL.
        shadows = _lambda_shadow_spans(tail, name)

        def _sub(mm: re.Match, _e: str = expr, _sh=shadows) -> str:
            if any(s <= mm.start() < e for s, e in _sh):
                return mm.group(0)
            before = tail[: mm.start()]
            if re.search(r"(?is)\b(?:as|from|join)\s+$", before):
                return mm.group(0)
            return f"({_e})"

        tail = re.sub(
            rf"(?<![A-Za-z0-9_.]){re.escape(name)}(?![A-Za-z0-9_.(])",
            _sub,
            tail,
        )
    mid = f"WITH {', '.join(keep)} " if keep else ""
    return head + mid + tail


# select-list alias visibility in WHERE (batch 25). Tokens that end a
# WHERE clause at its own paren depth; parens tracked alongside.
_SET_OP = re.compile(r"(?i)\b(union(\s+(all|distinct))?|intersect"
                     r"(\s+(all|distinct))?|except(\s+(all|distinct))?)\b|[()]")
_KW = re.compile(r"(?i)\bselect\b|\bfrom\b|\bwhere\b|[()]")


def _top_spans(
    text: str,
    pattern: re.Pattern,
    skip: tuple[tuple[int, int], ...] = (),
) -> list[tuple[int, int, str]]:
    """(start, end, token) of every depth-0 match of ``pattern`` in
    ``text`` (``pattern`` must also match the parens it tracks).
    Matches starting inside a ``skip`` span (comments) are ignored
    entirely — keywords AND parens."""
    depth = 0
    hits: list[tuple[int, int, str]] = []
    for t in pattern.finditer(text):
        if any(a <= t.start() < b for a, b in skip):
            continue
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            hits.append((t.start(), t.end(), tok))
    return hits


def _subst_name(
    text: str,
    name: str,
    repl: str,
    protected: tuple[tuple[int, int], ...] = (),
) -> str:
    """Replace bare, case-sensitive references to ``name`` in an
    expression/predicate ``text`` with ``repl`` — skipping qualified
    refs (``t.name`` / ``name.x``), call positions (``name(``),
    alias-definition sites (``AS name``), interval-unit positions, an
    ``extract``/``substring`` keyword slot (``name FROM/FOR``),
    caller-``protected`` spans, and spans where a lambda parameter
    shadows the name. Case-sensitive on purpose: ClickHouse
    identifiers are."""
    shadows = _lambda_shadow_spans(text, name)

    def _sub(mm: re.Match) -> str:
        if any(s <= mm.start() < e for s, e in shadows):
            return mm.group(0)
        if any(s <= mm.start() < e for s, e in protected):
            return mm.group(0)
        before = text[: mm.start()]
        if re.search(r"(?is)\b(as|interval)\s+$", before):
            return mm.group(0)
        if re.match(r"(?is)\s+(from|for)\b", text[mm.end():]):
            return mm.group(0)
        return repl

    return re.sub(
        rf"(?<![A-Za-z0-9_.]){re.escape(name)}(?![A-Za-z0-9_.(])",
        _sub,
        text,
    )


def _where_subquery_spans(where: str) -> list[tuple[int, int]]:
    """Spans of parenthesized SUBQUERIES inside a WHERE predicate —
    a ``(`` whose first token is SELECT/WITH, through its matching
    ``)``. Alias references inside keep their own (inner) scope;
    ordinary paren groups are NOT excluded."""
    spans: list[tuple[int, int]] = []
    i = 0
    while i < len(where):
        if where[i] == "(" and re.match(r"(?is)\(\s*(select|with)\b",
                                        where[i:]):
            d = 0
            for j in range(i, len(where)):
                if where[j] == "(":
                    d += 1
                elif where[j] == ")":
                    d -= 1
                    if d == 0:
                        spans.append((i, j + 1))
                        i = j
                        break
        i += 1
    return spans


def _find_inlined_spans(
    chunk: str, tgt: str, lits: list[str]
) -> list[tuple[int, int]]:
    """Occurrences of ``tgt`` in ``chunk``, where two string-literal
    MASK tokens (``\\x00<i>\\x00``) are equal iff their underlying
    literals are — a re-translation pass re-masks the same literal
    text under fresh indices, and exact find() would miss it."""
    segs = re.split("\x00(\\d+)\x00", tgt)
    if len(segs) == 1:
        spans = []
        p = chunk.find(tgt)
        while p != -1:
            spans.append((p, p + len(tgt)))
            p = chunk.find(tgt, p + 1)
        return spans
    pat = ""
    idxs: list[int] = []
    for i, s in enumerate(segs):
        if i % 2 == 0:
            pat += re.escape(s)
        else:
            pat += "\x00(\\d+)\x00"
            idxs.append(int(s))
    return [
        (m.start(), m.end())
        for m in re.finditer(pat, chunk)
        if all(
            lits[int(g)] == lits[j] for g, j in zip(m.groups(), idxs)
        )
    ]


_CLAUSE_TOK = re.compile(
    r"(?i)\b(where|group\s+by|having|order\s+by|limit|qualify|window"
    r"|union|intersect|except|settings|format|into|with)\b|[()]"
)
# aggregate/window-valued select aliases are NEVER inlined: CH itself
# errors on an aggregate in WHERE or GROUP BY, and a same-named
# SOURCE column (battery-5's ARRAY JOIN `… AS s` + `sum(…) AS s`)
# must keep its column binding. Combinator suffixes (-If/-Array/
# -OrNull/…) are covered; names that merely START with an aggregate
# name (min2, minus, counter) are not.
_AGG_CALL = re.compile(
    r"(?i)\b(sum|count|min|max|avg|any|anyLast|anyHeavy|uniq|uniqExact"
    r"|median|quantile|quantiles|groupArray|groupUniqArray|groupBitmap"
    r"|groupBitAnd|groupBitOr|groupBitXor|corr|covarPop|covarSamp"
    r"|stddevPop|stddevSamp|varPop|varSamp|topK|topKWeighted|argMin"
    r"|argMax|first_value|last_value|any_value|row_number|rank"
    r"|dense_rank|percent_rank|cume_dist|lag|lead|ntile|entropy"
    r"|deltaSum|deltaSumTimestamp|histogram|sumMap|minMap|maxMap"
    r"|skewPop|skewSamp|kurtPop|kurtSamp|sumKahan|sumWithOverflow"
    r"|avgWeighted|boundingRatio|maxIntersections|intervalLengthSum"
    r"|exponentialMovingAverage|sequenceMatch|sequenceCount"
    r"|windowFunnel|retention|sumCount|studentTTest|welchTTest"
    r"|rankCorr|listagg|collect_list|collect_set|grouping)"
    r"(If|Array|ArrayIf|OrNull|OrDefault|Distinct|State|Merge|Exact"
    r"|Weighted|ForEach|Resample|SimpleState|Low|High|Inclusive"
    r"|Exclusive|Timing|TDigest|BFloat16|GK|Deterministic"
    r"|Interpolated)*\s*\(|\bover\s*\("
)


def _inline_into_clause(
    clause: str, aliases: list[tuple[str, str]], lits: list[str]
) -> str:
    """Inline select-list ``aliases`` into one clause body
    (WHERE predicate / GROUP BY key list): simultaneous one-pass
    substitution — inserted expressions are never re-scanned, spans
    already holding an inlined alias expression are left alone (a
    bare name INSIDE one is the self-reference CH binds to the
    source column — this keeps T∘T = T), and subqueries keep their
    own scope."""
    if not any(
        re.search(
            rf"(?<![A-Za-z0-9_.]){re.escape(n)}(?![A-Za-z0-9_.(])", clause
        )
        for n, _ in aliases
    ):
        return clause
    excl = _where_subquery_spans(clause)
    parts: list[tuple[str, str]] = []
    prev = 0
    for s, e in excl:
        parts.append(("t", clause[prev:s]))
        parts.append(("x", clause[s:e]))
        prev = e
    parts.append(("t", clause[prev:]))
    rebuilt: list[str] = []
    for kind, chunk in parts:
        if kind == "t":
            for n, ex in aliases:
                prot: list[tuple[int, int]] = list(_comment_spans(chunk))
                for _n2, ex2 in aliases:
                    prot.extend(
                        _find_inlined_spans(chunk, f"({ex2})", lits)
                    )
                chunk = _subst_name(chunk, n, f"({ex})", tuple(prot))
        rebuilt.append(chunk)
    return "".join(rebuilt)


def _inline_select_aliases_in_where(masked: str, lits: list[str]) -> str:
    """ClickHouse lets a SELECT-list alias be referenced anywhere in
    its statement — including WHERE/PREWHERE, which Spark cannot
    resolve (filters bind before projection). Each bare reference to
    a select-list ``expr AS name`` inside that SELECT's own WHERE is
    inlined as ``(expr)`` — and so is each GROUP BY key, where the
    stakes are higher: Spark resolves a conflicted name to the
    SOURCE column, so ``SELECT toStartOfDay(ts) AS ts … GROUP BY
    ts`` — the single most common CH rollup idiom — silently grouped
    at raw-timestamp grain instead of day grain (verified live:
    ``id%2 AS id … GROUP BY id`` makes 10 groups in Spark, 2 in CH).

    This is CH's alias-shadows-column default
    (``prefer_column_name_to_alias = 0``): ``SELECT upper(c) AS c …
    WHERE c = 'x'`` filters on ``upper(c)`` in CH while Spark bound
    the RAW column — the silently-wrong case, vs the merely-loud
    missing-column case. HAVING / ORDER BY alias refs already bind
    the output alias in Spark (verified live), matching CH, and are
    untouched. Chained aliases
    pre-expand (a bounded fixpoint; self-references stay — CH binds
    the inner ref to the source column). References inside WHERE-level
    subqueries keep their own scope; each subquery is then processed
    recursively as its own segment.
    """

    def _segment(seg: str) -> str:
        comments = tuple(_comment_spans(seg))

        def _commented(p: int) -> bool:
            return any(a <= p < b for a, b in comments)

        # set-operation branches are independent scopes
        ops = [h for h in _top_spans(seg, _SET_OP, comments) if h[2]]
        if ops:
            out_parts = []
            prev = 0
            for s, e, tok in ops:
                out_parts.append(_segment(seg[prev:s]))
                out_parts.append(seg[s:e])
                prev = e
            out_parts.append(_segment(seg[prev:]))
            return "".join(out_parts)

        kws = _top_spans(seg, _KW, comments)
        sel = next((h for h in kws if h[2].lower() == "select"), None)
        new_seg = seg
        if sel is not None:
            frm = next((h for h in kws if h[0] > sel[1]
                        and h[2].lower() == "from"), None)
            if frm:
                sel_list = re.sub(r"(?is)^\s*distinct\b", "",
                                  seg[sel[1]:frm[0]])
                aliases: list[tuple[str, str]] = []
                # depth-0 text with paren interiors blanked: a second
                # `AS name` definition at this depth (table alias,
                # ARRAY JOIN alias, join alias) makes the name
                # ambiguous — real CH throws "multiple expressions for
                # alias"; the FROM-side column binding is kept here
                # (battery-5's ARRAY JOIN `… AS s` + `toInt64(0) AS s`)
                d0 = []
                _d = 0
                for ch in seg:
                    if ch == "(":
                        _d += 1
                        d0.append(ch)
                    elif ch == ")":
                        _d -= 1
                        d0.append(ch)
                    else:
                        d0.append(ch if _d <= 0 else " ")
                depth0_text = "".join(d0)
                for item in _split_top(sel_list):
                    am = _AJ_AS.match(item)
                    if (
                        am
                        and am.group(1).count("(") == am.group(1).count(")")
                        and not _AGG_CALL.search(am.group(1))
                        and len(re.findall(
                            r"(?i:\bas)\s+" + re.escape(am.group(2))
                            + r"(?![A-Za-z0-9_])",
                            depth0_text,
                        )) == 1
                    ):
                        aliases.append((am.group(2), am.group(1).strip()))
                # clause spans at this depth after FROM: WHERE and
                # GROUP BY keys take alias inlining (Spark binds the
                # SOURCE column there — HAVING/ORDER BY already bind
                # the output alias, matching CH). A GROUP BY span ends
                # at `WITH` too (WITH TOTALS / ROLLUP / CUBE suffix).
                spans: list[tuple[int, int, str]] = []
                depth = 0
                open_kind: str | None = None
                open_at = 0
                for t in _CLAUSE_TOK.finditer(seg, frm[1]):
                    if _commented(t.start()):
                        continue
                    tok = t.group(0)
                    if tok == "(":
                        depth += 1
                        continue
                    if tok == ")":
                        depth -= 1
                        if depth < 0:
                            if open_kind:
                                spans.append((open_at, t.start(), open_kind))
                            open_kind = None
                            break
                        continue
                    if depth:
                        continue
                    low = " ".join(tok.lower().split())
                    if open_kind:
                        spans.append((open_at, t.start(), open_kind))
                        open_kind = None
                    if low in ("where", "group by", "window"):
                        # the named-WINDOW clause takes inlining too:
                        # its `name AS (partition by …)` definitions
                        # reference select aliases in CH; the AS-site
                        # guard protects the window names themselves
                        open_kind = low
                        open_at = t.end()
                if open_kind:
                    spans.append((open_at, len(seg), open_kind))
                # OVER (…) specs inside the select list: CH resolves
                # select aliases there; Spark raises
                # LATERAL_COLUMN_ALIAS_IN_WINDOW (verified live), so
                # inline into each spec's interior
                for om in re.finditer(r"(?i)\bover\s*[(\w]", seg):
                    if not (sel[1] <= om.start() < frm[0]):
                        continue
                    if _commented(om.start()):
                        continue
                    if om.group(0)[-1] == "(":
                        d = 1
                        for j in range(om.end(), frm[0]):
                            if seg[j] == "(":
                                d += 1
                            elif seg[j] == ")":
                                d -= 1
                                if d == 0:
                                    spans.append((om.end(), j, "window"))
                                    break
                    # the window FUNCTION's argument list is lateral
                    # too (`sum(k) over …` with alias k) — walk back
                    # over the balanced arg group directly before OVER
                    p = om.start() - 1
                    while p >= 0 and seg[p].isspace():
                        p -= 1
                    if p >= 0 and seg[p] == ")":
                        d = 1
                        for j in range(p - 1, sel[1] - 1, -1):
                            if seg[j] == ")":
                                d += 1
                            elif seg[j] == "(":
                                d -= 1
                                if d == 0:
                                    spans.append((j + 1, p, "window"))
                                    break
                spans.sort()
                if aliases and spans:
                    # pre-expand alias-over-alias chains (never into
                    # the alias's own expr — CH binds that to the
                    # source column); bounded fixpoint
                    for _ in range(len(aliases)):
                        changed = False
                        for i, (n, ex) in enumerate(aliases):
                            for m2, ex2 in aliases:
                                if m2 == n:
                                    continue
                                nx = _subst_name(ex, m2, f"({ex2})")
                                if nx != ex:
                                    ex = nx
                                    changed = True
                            aliases[i] = (n, ex)
                        if not changed:
                            break
                    # window forms exclude SELF-REFERENTIAL aliases
                    # (`toDateTime(m) AS m`): the name demonstrably
                    # exists as a source column, Spark's column
                    # binding succeeds, and real-CH behavior for a
                    # shadowed window ref is undocumented — the
                    # conservative column reading is kept (qw2's
                    # decimal frames). WHERE/GROUP BY keep the
                    # documented alias-shadows-column gotcha.
                    win_aliases = [
                        (n, ex) for n, ex in aliases
                        if not re.search(
                            rf"(?<![A-Za-z0-9_.]){re.escape(n)}"
                            rf"(?![A-Za-z0-9_.(])", ex)
                    ]
                    # right-to-left so earlier spans' offsets hold
                    for cs, ce, kind in reversed(spans):
                        use = win_aliases if kind == "window" else aliases
                        if not use:
                            continue
                        clause = new_seg[cs:ce]
                        rewritten = _inline_into_clause(
                            clause, use, lits
                        )
                        if rewritten != clause:
                            new_seg = new_seg[:cs] + rewritten + new_seg[ce:]

        # recurse into every top-level paren group (subqueries in
        # FROM/WHERE/select list — including exprs just inlined)
        out: list[str] = []
        i = 0
        depth = 0
        start = None
        new_comments = (
            tuple(_comment_spans(new_seg)) if new_seg is not seg
            else comments
        )
        for j, c in enumerate(new_seg):
            if any(a <= j < b for a, b in new_comments):
                continue
            if c == "(":
                if depth == 0:
                    out.append(new_seg[i:j + 1])
                    i = j + 1
                    start = j + 1
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    out.append(_segment(new_seg[start:j]))
                    i = j
                    start = None
        # trailing text — including the interior of an unclosed '('
        # (unbalanced input passes through verbatim)
        out.append(new_seg[i:])
        return "".join(out)

    return _segment(masked)


_ASOF_JOIN = re.compile(r"(?i)\basof\s+(left\s+)?join\b")
_ON_END = re.compile(
    r"(?i)\b(where|group\s+by|order\s+by|limit|having|union|settings"
    r"|join|left|right|inner|full|cross|asof|window|qualify)\b|[()]"
)
_AND_SPLIT = re.compile(r"(?i)\band\b")
_INEQ = re.compile(r"(?<![<>!=])(>=|<=|>|<)(?![=>])")


def _on_span(masked: str, start: int) -> int:
    """End of an ON condition: next same-depth clause/join keyword,
    a depth-closing ')' or end of string."""
    depth = 0
    for t in _ON_END.finditer(masked, start):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth < 0:
                return t.start()
        elif depth == 0:
            return t.start()
    return len(masked)


def _split_top_and(text: str) -> list[str]:
    """Split a conjunction on AND at paren depth 0 (strings masked)."""
    parts, depth, last = [], 0, 0
    for t in re.finditer(r"(?i)\band\b|[()\[\]]", text):
        tok = t.group(0)
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            parts.append(text[last : t.start()])
            last = t.end()
    parts.append(text[last:])
    return [p.strip() for p in parts if p.strip()]


def _rewrite_asof_join(masked: str) -> str:
    """CH ``ASOF [LEFT] JOIN r [alias] ON eq-keys AND ts-ineq`` →
    the interval-join window rewrite of ``operators/asof.py:28``'s
    union-and-carry semantics, emitted as pure SQL: the right side
    gains an adjacent-timestamp window column and the ON clause an
    interval bound, so exactly ONE right row (the as-of match)
    survives per left row:

    - ``l.ts >= r.ts`` (backward, inclusive):  right interval is
      ``[r.ts, lead(r.ts))``  → ``AND (lead IS NULL OR l.ts < lead)``
    - ``l.ts >  r.ts``: ``AND (lead IS NULL OR l.ts <= lead)``
    - ``l.ts <= r.ts`` (forward): lag — ``AND (lag IS NULL OR l.ts > lag)``
    - ``l.ts <  r.ts``: ``AND (lag IS NULL OR l.ts >= lag)``

    ASOF JOIN → INNER (unmatched lefts drop, CH semantics); ASOF LEFT
    JOIN → LEFT with NULL right columns. The window partitions by the
    right side of every equality conjunct, ordered by the right
    timestamp — one shuffle on the right, then a plain equi+range
    hash join; no per-left-row window over the union, and at scale
    the join stays AQE-skew-splittable. Rights must be unique per
    (keys, ts) — same precondition as ``asof.py`` and every engine's
    ASOF. The helper column ``__asof_adj`` is visible to a bare
    ``SELECT *`` (documented drift; select explicit columns)."""
    while True:
        m = _ASOF_JOIN.search(masked)
        if m is None:
            return masked
        left = bool(m.group(1))
        i = m.end()
        while i < len(masked) and masked[i].isspace():
            i += 1
        # relation: parenthesized subquery or identifier chain
        if i < len(masked) and masked[i] == "(":
            depth, j = 0, i
            while j < len(masked):
                if masked[j] == "(":
                    depth += 1
                elif masked[j] == ")":
                    depth -= 1
                    if depth == 0:
                        j += 1
                        break
                j += 1
            rtxt = masked[i:j]
            base = None
        else:
            rm = re.match(r"[A-Za-z_][A-Za-z0-9_.]*", masked[i:])
            if rm is None:
                raise ValueError("ASOF JOIN: cannot parse right relation")
            rtxt = rm.group(0)
            base = rtxt.split(".")[-1]
            j = i + rm.end()
        am = re.match(
            r"(?is)\s+(?:as\s+)?(?!on\b)([A-Za-z_][A-Za-z0-9_]*)", masked[j:]
        )
        ralias = base
        if am:
            ralias = am.group(1)
            j += am.end()
        if ralias is None:
            raise ValueError("ASOF JOIN: subquery right side needs an alias")
        onm = re.match(r"(?is)\s+on\b", masked[j:])
        if onm is None:
            raise ValueError("ASOF JOIN requires an ON clause")
        on_start = j + onm.end()
        on_end = _on_span(masked, on_start)
        conjs = _split_top_and(masked[on_start:on_end])
        rdot = re.compile(rf"(?i)\b{re.escape(ralias)}\.([A-Za-z_][A-Za-z0-9_]*)")
        ineq = None
        rkeys: list[str] = []
        for c in conjs:
            im = _INEQ.search(c)
            if im and not re.search(r"(?<![<>!=])=(?!=)", c[: im.start()]):
                if ineq is not None:
                    raise ValueError("ASOF JOIN: more than one inequality in ON")
                lhs, op, rhs = c[: im.start()], im.group(1), c[im.end() :]
                ineq = (lhs.strip(), op, rhs.strip())
            else:
                sm = rdot.search(c)
                if sm and re.fullmatch(
                    rf"(?is)\s*{re.escape(ralias)}\.[A-Za-z_][A-Za-z0-9_]*\s*",
                    c.split("=")[0],
                ):
                    rkeys.append(c.split("=")[0].strip().split(".")[-1])
                elif sm and re.fullmatch(
                    rf"(?is)\s*{re.escape(ralias)}\.[A-Za-z_][A-Za-z0-9_]*\s*",
                    c.split("=")[-1],
                ):
                    rkeys.append(c.split("=")[-1].strip().split(".")[-1])
                elif sm:
                    # a conjunct touching the right relation that is
                    # NOT a bare equality key (upper(r.k)=…, r.flag=1)
                    # cannot partition/pre-filter the adjacency window
                    # — silently omitting it would compute lead()
                    # across keys and drop valid matches (review r7)
                    raise ValueError(
                        "ASOF JOIN: right-side conjunct must be a bare "
                        f"equality key of {ralias!r}: {c.strip()!r}"
                    )
        if ineq is None:
            raise ValueError("ASOF JOIN: ON clause has no timestamp inequality")
        lhs, op, rhs = ineq
        flip = {">": "<", "<": ">", ">=": "<=", "<=": ">="}
        lhs_r = bool(rdot.search(lhs))
        rhs_r = bool(rdot.search(rhs))
        if lhs_r == rhs_r:
            raise ValueError(
                "ASOF JOIN: inequality must reference the right relation "
                "on exactly one side (qualify the columns)"
            )
        if lhs_r:  # canonicalize to <left-expr> <op> <ralias>.<ts>
            lhs, rhs, op = rhs, lhs, flip[op]
        tm = re.fullmatch(
            rf"(?is){re.escape(ralias)}\.([A-Za-z_][A-Za-z0-9_]*)", rhs
        )
        if tm is None:
            raise ValueError(
                "ASOF JOIN: right side of the inequality must be a plain "
                f"column of {ralias!r}, got {rhs!r}"
            )
        ts_col = tm.group(1)
        fn = "lead" if op in (">", ">=") else "lag"
        bound = {">=": "<", ">": "<=", "<=": ">", "<": ">="}[op]
        part = f"PARTITION BY {', '.join(rkeys)} " if rkeys else ""
        win = f"{fn}({ts_col}) OVER ({part}ORDER BY {ts_col})"
        adj = f"{ralias}.__asof_adj"
        newrel = (
            f"(SELECT *, {win} AS __asof_adj FROM {rtxt} __asof_r) {ralias}"
        )
        extra = f" AND ({adj} IS NULL OR ({lhs}) {bound} {adj})"
        masked = (
            masked[: m.start()]
            + ("LEFT " if left else "")
            + f"JOIN {newrel} ON "
            + masked[on_start:on_end].strip()
            + extra
            + " "
            + masked[on_end:]
        )


def _seq_pattern_dp(
    pat: str, k: int
) -> tuple[list[int], list[object]] | None:
    """Parse a CH sequenceMatch/Count pattern CONTAINING time
    constraints into (anchors, seps) for the DP fold below. anchors =
    condition numbers in order; seps = one entry per anchor gap:
    ``'adj'`` (events adjacent among filtered events), ``'dot'``
    (exactly one event between), ``'star'`` (any run), a tuple of
    ``(op, micros)`` time constraints (CH: a ``(?t op v)`` gap allows
    any events between the anchors — docs: 'an arbitrary number of
    any events can lie between these events'), or ``('dott',
    constraints)`` for the mixed ``.(?t op v)`` gap: the ``.``
    consumes exactly one filtered event, and CH's matcher measures a
    time constraint against the LAST consumed event
    (AggregateFunctionsSequenceMatch.h keeps ``base_it`` at the most
    recently matched SpecificEvent/Any action), so the bound applies
    between the DOT's event and the next anchor, with any events
    between them. Leading/trailing ``.``/``(?t…)``, a ``.`` AFTER a
    time constraint in the same gap (the bound would select which
    event the dot consumes), and multi-dot time gaps are unsupported
    (None → loud pass-through)."""
    toks: list[tuple] = []
    i = 0
    while i < len(pat):
        if pat.startswith("(?t", i):
            j = pat.find(")", i)
            if j < 0:
                return None
            m = re.fullmatch(
                r"\s*(>=|<=|==|>|<)\s*([0-9]+(?:\.[0-9]+)?)\s*",
                pat[i + 3 : j],
            )
            if not m:
                return None
            op = "=" if m.group(1) == "==" else m.group(1)
            toks.append(("t", op, int(round(float(m.group(2)) * 1_000_000))))
            i = j + 1
        elif pat.startswith("(?", i):
            j = pat.find(")", i)
            body = pat[i + 2 : j] if j > 0 else ""
            if not body.isdigit() or not 1 <= int(body) <= k:
                return None
            toks.append(("a", int(body)))
            i = j + 1
        elif pat.startswith(".*", i):
            toks.append(("star",))
            i += 2
        elif pat[i] == ".":
            toks.append(("dot",))
            i += 1
        else:
            return None
    anchors: list[int] = []
    seps: list[object] = []
    gap: list[tuple] = []
    for tok in toks:
        if tok[0] != "a":
            gap.append(tok)
            continue
        if not anchors:
            if any(g[0] != "star" for g in gap):
                return None
        else:
            kinds = {g[0] for g in gap}
            if not gap:
                seps.append("adj")
            elif kinds == {"dot"} and len(gap) == 1:
                seps.append("dot")
            elif kinds <= {"star"}:
                seps.append("star")
            elif "t" in kinds and "dot" not in kinds:
                seps.append(tuple((g[1], g[2]) for g in gap if g[0] == "t"))
            elif (
                "t" in kinds
                and "star" not in kinds
                and gap[0][0] == "dot"
                and sum(1 for g in gap if g[0] == "dot") == 1
            ):
                seps.append(
                    ("dott", tuple((g[1], g[2]) for g in gap if g[0] == "t"))
                )
            else:
                return None
        anchors.append(tok[1])
        gap = []
    if not anchors or any(g[0] != "star" for g in gap):
        return None
    return anchors, seps


def _seq_dp_expr(
    ts_expr: str, conds: list[str], anchors: list[int], seps: list[object]
) -> str:
    """Greedy non-overlapping sequence counter as an ``aggregate()``
    fold, for patterns with ``(?t``. Filtered events (any condition
    true; CH skips the rest) sort by time; the fold carries, per
    anchor position j < K, the candidate set of (event index, ts)
    where anchors 1..j matched under the gap constraints. An event
    completing anchor K counts one chain and resets every set — CH's
    'starts to search for the next chain after the current chain is
    matched'. s_K itself is never stored: it would be consumed the
    step it first becomes non-empty. O(events²) per group worst case
    (each step scans bounded candidate arrays) — same per-group
    collect_list cost family as the tag-string path, bounded by
    group size."""
    kk = len(anchors)
    has_dott = any(
        isinstance(s, tuple) and s and s[0] == "dott" for s in seps
    )
    ors = " OR ".join(f"({c})" for c in conds)
    cs = ", ".join(f"cast({c} as boolean)" for c in conds)
    events = (
        f"array_sort(collect_list(CASE WHEN {ors} THEN struct("
        f"unix_micros(cast({ts_expr} as timestamp)) AS t, "
        f"array({cs}) AS cs) END))"
    )
    # with a dot+time gap the candidate struct also carries nt — the
    # timestamp of the event FOLLOWING the anchor (the dot's event,
    # which CH's base_it points at when the constraint is checked);
    # nt is NULL until that next event is processed
    ntf = ", cast(null as bigint) AS nt" if has_dott else ""
    empty = f"array_repeat(struct(0 AS idx, 0L AS t{ntf}), 0)"

    def ext(j: int) -> str:
        # can the current event (index acc.i + 1) extend a chain at
        # anchor j, drawing from candidate set s_{j-1}?
        cond = f"element_at(e.cs, {anchors[j - 1]})"
        if j == 1:
            return cond
        sep = seps[j - 2]
        if sep == "adj":
            p = "__sp.idx = acc.i"
        elif sep == "dot":
            p = "__sp.idx = acc.i - 1"
        elif sep == "star":
            p = "__sp.idx <= acc.i"
        elif isinstance(sep, tuple) and sep and sep[0] == "dott":
            # anchor at idx, dot at idx+1 (time nt), current event at
            # acc.i + 1 must sit at idx+2 or later with the bound
            # measured from the dot's event
            parts = ["__sp.idx <= acc.i - 1", "__sp.nt IS NOT NULL"] + [
                f"(e.t - __sp.nt) {op} {us}L" for op, us in sep[1]
            ]
            p = " AND ".join(parts)
        else:
            parts = ["__sp.idx <= acc.i"] + [
                f"(e.t - __sp.t) {op} {us}L" for op, us in sep
            ]
            p = " AND ".join(parts)
        return f"{cond} AND exists(acc.s{j - 1}, __sp -> ({p}))"

    if has_dott:
        # fill in nt for candidates appended at the previous event
        # (their next event is the current one); persisted so later
        # steps' dott checks read it
        held = (
            "transform(acc.s{j}, __sp -> IF(__sp.idx = acc.i AND "
            "__sp.nt IS NULL, named_struct('idx', __sp.idx, 't', "
            "__sp.t, 'nt', e.t), __sp))"
        )
    else:
        held = "acc.s{j}"
    grown = (
        f"concat({held}, array(struct(acc.i + 1 AS idx, e.t AS t{ntf})))"
    )
    keep_fields = ", ".join(
        f"'s{j}', IF({ext(j)}, {grown.format(j=j)}, {held.format(j=j)})"
        for j in range(1, kk)
    )
    reset_fields = ", ".join(f"'s{j}', {empty}" for j in range(1, kk))
    keep = f"named_struct('cnt', acc.cnt, 'i', acc.i + 1" + (
        f", {keep_fields})" if keep_fields else ")"
    )
    reset = f"named_struct('cnt', acc.cnt + 1L, 'i', acc.i + 1" + (
        f", {reset_fields})" if reset_fields else ")"
    )
    zero = f"named_struct('cnt', 0L, 'i', 0" + (
        f", {reset_fields})" if reset_fields else ")"
    )
    return (
        f"aggregate({events}, {zero}, "
        f"(acc, e) -> IF({ext(kk)}, {reset}, {keep}), "
        "st -> st.cnt)"
    )


# expression shapes that PROVE an array-typed result, for the
# string-or-array polymorphic CH functions (length/empty/notEmpty).
# Covers CH spellings (pre-translation) and the Spark forms earlier
# rewrites emit (post-translation length pass). A bare column never
# matches — the string form is kept and an array column fails loudly.
_ARRAYISH = re.compile(
    r"(?is)^\s*(?:\[|array\s*[(\x00]|"
    r"(?:arraymap|arrayfilter|arrayconcat|arraysort|arrayreversesort|"
    r"arrayslice|arraydistinct|arrayintersect|arrayexcept|arrayresize|"
    r"arraypushback|arraypushfront|arraypopback|arraypopfront|"
    r"arraycompact|arrayreverse|arrayenumerate|arrayenumerateuniq|"
    r"arrayzip|arraydifference|arraycumsum|arraysplit|arrayreversesplit|"
    r"arrayfill|arrayreversefill|arrayshiftleft|arrayshiftright|"
    r"arraywithconstant|arrayflatten|arrayrotateleft|arrayrotateright|"
    r"arrayenumeratedense|arrayzipunaligned|splitbynonalpha|"
    r"arraypartialsort|arrayshuffle|groupara|grouparray|groupuniqarray|"
    r"splitbychar|splitbystring|splitbyregexp|splitbywhitespace|"
    r"alphatokens|tokens|ngrams|extractall|range|sequence|transform|"
    r"filter|slice|flatten|array_distinct|array_intersect|array_union|"
    r"array_except|array_remove|array_repeat|array_compact|arrays_zip|"
    r"zip_with|collect_list|collect_set|split|map_keys|map_values|"
    r"sort_array|array_sort|json_object_keys|shuffle|emptyarray\w*)"
    r"\s*\()"
)


def _arrayish(arg: str) -> bool:
    return _ARRAYISH.match(arg) is not None


def _window_funnel_strict(
    n: int,
    w_us: str,
    ts_expr: str,
    conds: str,
    *,
    strict_order: bool,
    strict_dedup: bool,
    strict_increase: bool,
) -> str:
    """Exact replay of ClickHouse's windowFunnel event loop
    (AggregateFunctionWindowFunnel.h ``getEventLevel``) as a Spark
    ``aggregate()`` fold, for the strict_order / strict_dedup modes
    (optionally combined with strict_increase).

    Event model mirrors CH ``add``: each row yields one (t, level)
    event per matched condition; under strict_order an unmatched row
    yields a level-0 breaker event. Events sort by (t, level) — CH's
    pair sort; CH leaves same-timestamp order undefined, this pins it.

    Fold state replays CH's loop: ``ets[i]`` = (first, last) ts of the
    window-open chain reaching level i+1, ``fe`` = a level-1 event was
    seen, ``done`` = CH's early-``return`` value (loop frozen once
    set). Because ``ets[i]`` is only ever set when ``ets[i-1]`` is
    set, the non-null entries form a prefix, so "first missing level"
    and the final answer are both ``size(filter(ets, not null))``."""
    # CASE branch order = CH's if/else chain: frozen, level-0 breaker,
    # level-1 (re)start, strict_dedup repeat, strict_order gap, extend.
    branches = ["WHEN acc.done IS NOT NULL THEN acc"]
    reached = "cast(size(filter(acc.ets, p -> p IS NOT NULL)) as int)"
    if strict_order:
        branches.append(
            "WHEN e.lvl = 0 THEN IF(acc.fe, "
            f"named_struct('done', {reached}, 'ets', acc.ets, "
            "'fe', acc.fe), acc)"
        )
    branches.append(
        "WHEN e.lvl = 1 THEN named_struct('done', acc.done, "
        "'ets', transform(acc.ets, (p, i) -> IF(i = 0, "
        "struct(e.t AS f, e.t AS l), p)), 'fe', true)"
    )
    if strict_dedup:
        branches.append(
            "WHEN element_at(acc.ets, e.lvl) IS NOT NULL THEN "
            "named_struct('done', cast(e.lvl as int), 'ets', acc.ets, "
            "'fe', acc.fe)"
        )
    if strict_order:
        branches.append(
            "WHEN acc.fe AND element_at(acc.ets, e.lvl - 1) IS NULL "
            f"THEN named_struct('done', {reached}, 'ets', acc.ets, "
            "'fe', acc.fe)"
        )
    time_ok = (
        "element_at(acc.ets, e.lvl - 1) IS NOT NULL "
        f"AND e.t <= element_at(acc.ets, e.lvl - 1).f + {w_us}"
    )
    if strict_increase:
        time_ok += " AND element_at(acc.ets, e.lvl - 1).l < e.t"
    branches.append(
        f"WHEN {time_ok} THEN named_struct("
        f"'done', IF(e.lvl = {n}, cast({n} as int), acc.done), "
        "'ets', transform(acc.ets, (p, i) -> IF(i = e.lvl - 1, "
        "struct(element_at(acc.ets, e.lvl - 1).f AS f, e.t AS l), p)), "
        "'fe', acc.fe)"
    )
    case = "CASE " + " ".join(branches) + " ELSE acc END"
    matched_events = (
        f"transform(filter(sequence(1, {n}), "
        "__wi -> element_at(r.cs, __wi)), "
        "__wi -> struct(r.t AS t, __wi AS lvl))"
    )
    if strict_order:
        events = (
            "CASE WHEN NOT exists(r.cs, __wc -> __wc) "
            "THEN array(struct(r.t AS t, 0 AS lvl)) "
            f"ELSE {matched_events} END"
        )
    else:
        events = matched_events
    return (
        "aggregate("
        "array_sort(flatten(transform(collect_list(struct("
        f"unix_micros(cast({ts_expr} as timestamp)) AS t, "
        f"array({conds}) AS cs)), "
        f"r -> {events}))), "
        "named_struct('done', cast(null as int), "
        f"'ets', array_repeat(cast(null as struct<f: bigint, l: bigint>), {n}), "
        "'fe', false), "
        f"(acc, e) -> {case}, "
        f"acc -> coalesce(acc.done, {reached}))"
    )


# dictionary registry for the dictGet/dictHas SQL forms: CH
# dictionaries declare their key attribute in DDL the translator never
# sees, so callers register it — `register_dictionary('nation',
# 'n_nationkey')` — and dictGet('nation', 'attr', k) becomes a
# correlated scalar subquery (Catalyst de-correlates it into a join).
# Unregistered names pass through untouched (loud Spark error beats a
# silently-guessed key).
_DICTIONARIES: dict[str, str] = {}


def register_dictionary(name: str, key_column: str) -> None:
    _DICTIONARIES[name] = key_column


def translate_ch_sql(
    sql: str,
    fixed_string_pad: bool = False,
    byte_strings: bool = False,
) -> str:
    """Rewrite ClickHouse-dialect SQL into Spark SQL (function surface
    of SURVEY.md §2.4). Idempotent on already-ANSI text — with two
    documented exceptions where a name is valid in both dialects with
    DIFFERENT meanings and the stored-CH-query input contract wins
    the tie: (1) two-argument ``position(a, b)`` is ALWAYS read in CH
    argument order (haystack, needle) and becomes ``instr(a, b)``;
    the ANSI ``position(x IN y)`` form is untouched. (2) one-argument
    ``any(x)`` is read as CH's first-value aggregate and becomes
    ``any_value(x)``; already-ANSI boolean ``any()`` must be spelled
    ``bool_or()`` after translation.

    String literals are masked FIRST, so every pass — call-level
    rewrites included — operates on text with no quotes in it: a bound
    param value spliced before translation may contain 'multiIf(',
    'any join' or a backslash-escaped quote, none of which may affect
    parsing (ADVICE r01/r03). Renders that need a literal's contents
    (format strings, split separators) go through ``_lit_text`` /
    ``_emit_lit``."""
    out, lits = _mask_strings(sql)
    # trailing statement semicolons (CH clients send them; real ';'
    # inside string literals are already masked): every clause-level
    # rewrite assumes none — the NULLS-LAST pass emitted
    # 'ORDER BY v; NULLS LAST' and the r11 set-op wrapper would splice
    # one into a subquery. Spark accepts the statement without it.
    # Anchored on an actual ';' so whitespace-only text stays identity.
    out = re.sub(r"\s*;[\s;]*$", "", out)

    def lit(text: str) -> str:
        # every literal a rewrite EMITS is registered as a mask too —
        # the masked text stays quote-free for all later passes
        return _emit_lit(f"'{text}'", lits)

    # array literals first: call-arg splitting must never see a bare
    # '[1, 2]' (the comma would split it into two args)
    out = _rewrite_array_literals(out)

    if byte_strings:
        # ---- opt-in CH byte-string mode (r11, closes the header's
        # documented ASCII-coincident drift): bare substring/substr/
        # mid slice BYTES like ClickHouse (1-based byte offset,
        # negative counts from the end — Spark's substring over a
        # BINARY argument has exactly those semantics), and bare
        # reverse() byte-reverses (CH docs: "as a sequence of
        # bytes"). Spark's binary→string cast is a raw byte wrap (no
        # validation), so a slice/reverse landing inside a code point
        # carries the partial bytes through exactly like CH. Runs
        # FIRST so it only sees user-written calls, never this
        # translator's own later character-exact emissions.
        # Value-idempotent; NOT text-idempotent (translating emitted
        # output again re-wraps inner ASCII-only helpers harmlessly).
        # reverse() is overloaded in CH (arrays too) and argument
        # types are unknowable at text level: syntactically array-ish
        # arguments raise LOUDLY (r12 — the mode's contract is byte
        # semantics or an error, never a silent Spark-semantics
        # passthrough): spell arrayReverse for arrays under byte mode.
        def _byte_substr(a: list[str]) -> str | None:
            if len(a) not in (2, 3):
                return None
            s = a[0].strip()
            if s.startswith("cast(") and s.endswith("as binary)"):
                return None  # already byte-form
            args = ", ".join([f"cast({a[0]} as binary)"] + a[1:])
            return f"cast(substring({args}) as string)"

        for _bfn in ("substring", "substr", "mid"):
            out = _rewrite_calls(out, _bfn, _byte_substr)

        _ARRAYISH = (
            "array", "collect_list", "collect_set", "sequence(",
            "split(", "transform(", "map_keys", "map_values",
            "groupArray",
        )

        def _byte_reverse(a: list[str]) -> str | None:
            if len(a) != 1:
                return None
            low = a[0].lower()
            if any(t in low for t in _ARRAYISH):
                raise NotImplementedError(
                    "byte_strings mode: reverse() argument looks "
                    f"array-typed ({a[0][:60]!r}) — byte-reversal is "
                    "undefined for arrays; spell arrayReverse(...) "
                    "for array arguments under byte mode"
                )
            s = a[0]
            hx = f"hex(cast({s} as binary))"
            empty = _emit_lit("''", lits)
            # the byte order is reversed by a DESCENDING sequence —
            # emitting an array reverse() here would trip this very
            # pass's array-ish loudness on its own output
            return (
                f"(case when octet_length({s}) <= 1 then cast({s} as string)"
                f" else cast(unhex(array_join(transform("
                f"sequence(octet_length({s}), 1, -1),"
                f" __bi -> substring({hx}, 2 * __bi - 1, 2)), {empty}))"
                f" as string) end)"
            )

        out = _rewrite_calls(out, "reverse", _byte_reverse)

    # ---- optional-timezone pre-pass (r9): most CH date functions
    # accept a trailing constant timezone; the per-function rewrites
    # are unary and used to DROP it silently. This pass folds the tz
    # into the argument — fn(x, 'tz') → fn(wall-clock-in-tz) via
    # from_utc_timestamp (the session is UTC) — and lets the later
    # unary rewrite fire on the emitted inner call. Convention: the
    # result is the tz WALL-CLOCK value, consistent with
    # toString(x, tz)/toDate(x, tz); for the toStartOf* family CH
    # returns the tz-midnight INSTANT instead — a documented
    # deviation (naive-UTC storage has no display zone to carry).
    # Only a STRING-LITERAL second argument is folded (an integer is
    # a mode argument, e.g. toDayOfWeek/toWeek — left to the
    # function's own rewrite). ----
    for _tzfn in (
        "toYear", "toQuarter", "toMonth", "toDayOfYear", "toDayOfMonth",
        "toDayOfWeek", "toHour", "toMinute", "toSecond", "toMonday",
        "toStartOfDay", "toStartOfHour", "toStartOfMinute",
        "toStartOfFiveMinutes", "toStartOfTenMinutes",
        "toStartOfFifteenMinutes", "toStartOfMonth", "toStartOfQuarter",
        "toStartOfYear", "toLastDayOfMonth", "toISOWeek", "toISOYear",
        "toYYYYMMDD", "toYYYYMMDDhhmmss", "monthName", "toMillisecond",
    ):
        def _fold(a: list[str], fn=_tzfn) -> str | None:
            if len(a) != 2 or _lit_text(a[1], lits) is None:
                return None  # unary (later pass) / mode arg / dynamic
            return (
                f"{fn}(from_utc_timestamp(cast({a[0]} as timestamp), "
                f"{a[1]}))"
            )

        out = _rewrite_calls(out, _tzfn, _fold)

    # trailing-tz fold for the forms whose LAST argument is the tz
    # after mode/interval args (toWeek(d, mode, tz) etc.)
    for _tzfn3 in ("toStartOfWeek", "toWeek", "toDayOfWeek",
                   "toStartOfInterval", "toLastDayOfWeek"):
        def _fold3(a: list[str], fn=_tzfn3) -> str | None:
            if len(a) != 3 or _lit_text(a[2], lits) is None:
                return None
            return (
                f"{fn}(from_utc_timestamp(cast({a[0]} as timestamp), "
                f"{a[2]}), {a[1]})"
            )

        out = _rewrite_calls(out, _tzfn3, _fold3)

    out = _rewrite_calls(out, "toYear", lambda a: f"year({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(
        out,
        "toYYYYMMDD",
        lambda a: (f"cast(date_format({a[0]}, {lit('yyyyMMdd')}) as int)"
                   if len(a) == 1 else None),
    )

    def _parse_dt(a: list[str]) -> str | None:
        if len(a) == 1:
            return f"to_timestamp({a[0]})"
        if len(a) > 3:
            return None  # over-arity — loud
        fmt = a[1].strip()
        lt = _lit_text(fmt, lits)
        if lt is not None:
            conv = _convert_fmt(lt[1:-1])
            if conv is None:
                return None  # unmappable token — loud
            fmt = _emit_lit("'" + conv + "'", lits)
        base = f"to_timestamp({a[0]}, {fmt})"
        if len(a) == 3:
            # 3-arg tz form: parse as wall time IN that zone (same
            # emission as the BestEffort family's trailing-tz form).
            # r12: the tz may be DYNAMIC (a column) — Spark's
            # to_utc_timestamp accepts a per-row zone expression
            # (SPARK-23715), and an invalid zone name fails loudly in
            # both engines. The 3rd position is unambiguously a tz in
            # CH, so no literal check is needed here (unlike the
            # BestEffort 64 spelling, whose 2nd arg is a precision).
            return f"to_utc_timestamp({base}, {a[2]})"
        return base

    # BestEffort family (batch 29 made these arity-strict and closed
    # the variants): the optional trailing CONSTANT timezone means
    # "parse the string as wall time in that zone" — it was silently
    # DROPPED before (the r9 bug class). OrNull → try_to_timestamp;
    # OrZero → the CH zero DateTime (1970-01-01). The US/32/64
    # spellings share the emission: Spark's formatless parser is
    # ISO-shaped, where the month-first ambiguity the US variant
    # resolves cannot arise (documented).
    def _best_effort(wrap: str, dynamic_tz: bool = True):
        def render(a: list[str]) -> str | None:
            # the 2nd arg is a tz for the plain/US spellings; a
            # dynamic (column) zone is allowed there (r12) unless it
            # is a bare number — the 64 spelling's 2nd arg is a
            # PRECISION, so that family keeps the constant-tz rule
            tz_ok = _lit_text(a[1], lits) is not None if len(a) == 2 else False
            if len(a) == 2 and not tz_ok and dynamic_tz:
                tz_ok = not re.fullmatch(r"[\d.]+", a[1].strip())
            if len(a) == 1:
                base = f"to_timestamp({a[0]})"
            elif len(a) == 2 and tz_ok:
                base = f"to_utc_timestamp(to_timestamp({a[0]}), {a[1]})"
            else:
                return None
            if wrap == "null":
                return base.replace("to_timestamp(", "try_to_timestamp(", 1)
            if wrap == "zero":
                tz = base.replace("to_timestamp(", "try_to_timestamp(", 1)
                return (
                    f"coalesce({tz}, cast("
                    + lit("1970-01-01 00:00:00") + " as timestamp))"
                )
            return base

        return render

    for _bex in ("parseDateTimeBestEffort", "parseDateTime32BestEffort",
                 "parseDateTime64BestEffort", "parseDateTimeBestEffortUS"):
        _dyn = "64" not in _bex
        out = _rewrite_calls(out, _bex + "OrNull", _best_effort("null", _dyn))
        out = _rewrite_calls(out, _bex + "OrZero", _best_effort("zero", _dyn))
        out = _rewrite_calls(out, _bex, _best_effort("", _dyn))
    out = _rewrite_calls(out, "parseDateTime", _parse_dt)
    out = _rewrite_calls(
        out, "toDate32OrNull",
        lambda a: f"try_cast({a[0]} as date)" if len(a) == 1 else None,
    )
    # Date32's "zero" is its MIN (1900-01-01), not the Date epoch —
    # r11, was documented-loud
    out = _rewrite_calls(
        out, "toDate32OrZero",
        lambda a: (
            f"coalesce(try_cast({a[0]} as date), "
            f"cast({lit('1900-01-01')} as date))"
            if len(a) == 1 else None
        ),
    )

    # toDecimal{32,64,128}(x[, scale]) — the CH scale argument picks
    # the Spark decimal scale; arity-1 keeps the reference's
    # Decimal(38,6) convention for 128 and scale 6 elsewhere. The
    # scale is spliced into a type, so only an integer literal within
    # the precision is accepted — a column ref or out-of-range scale
    # passes through untouched (ADVICE r05: was emitting unparseable
    # `decimal(18,<expr>)`)
    def _to_decimal(a: list[str], p: int) -> str | None:
        if len(a) == 1:
            return f"cast({a[0]} as decimal({p},6))"
        if len(a) != 2:
            return None
        scale = a[1].strip()
        if not re.fullmatch(r"\d+", scale) or int(scale) > p:
            return None
        return f"cast({a[0]} as decimal({p},{scale}))"

    for fn, prec in (("toDecimal128", 38), ("toDecimal64", 18), ("toDecimal32", 9)):
        out = _rewrite_calls(out, fn, lambda a, p=prec: _to_decimal(a, p))

    # timezone-argument forms (r9 — the generic loop used to DROP the
    # tz silently). CH DateTime columns are instants, so under the
    # UTC session: toString(x, tz) renders the instant in tz wall
    # time; toDate(x, tz) picks the calendar day in tz; toDateTime(x,
    # tz) over a STRING LITERAL parses it as tz wall time (for
    # non-literal args the instant is kept and the display tz is
    # dropped — correct for DateTime/epoch inputs, undecidable for
    # string columns at text level; documented).
    def _to_string_tz(a: list[str]) -> str | None:
        if len(a) == 1:
            return f"cast({a[0]} as string)"
        if len(a) == 2:
            return (
                f"date_format(from_utc_timestamp(cast({a[0]} as timestamp), "
                f"{a[1]}), {lit('yyyy-MM-dd HH:mm:ss')})"
            )
        return None

    def _to_date_tz(a: list[str]) -> str | None:
        if len(a) == 1:
            return f"cast({a[0]} as date)"
        if len(a) == 2:
            return (
                f"cast(from_utc_timestamp(cast({a[0]} as timestamp), "
                f"{a[1]}) as date)"
            )
        return None

    def _to_datetime_tz(a: list[str]) -> str | None:
        if len(a) == 1:
            return f"cast({a[0]} as timestamp)"
        if len(a) == 2:
            if _lit_text(a[0], lits) is not None:
                return f"to_utc_timestamp(cast({a[0]} as timestamp), {a[1]})"
            return f"cast({a[0]} as timestamp)"
        return None

    out = _rewrite_calls(out, "toString", _to_string_tz)
    out = _rewrite_calls(out, "toDate", _to_date_tz)
    out = _rewrite_calls(out, "toDateTime", _to_datetime_tz)
    for ch_fn, spark_type in _CAST_FNS.items():
        if ch_fn in ("toString", "toDate", "toDateTime"):
            continue
        # arity-strict: an unexpected extra argument passes through
        # LOUDLY instead of being silently discarded
        out = _rewrite_calls(
            out,
            ch_fn,
            lambda a, t=spark_type: (
                f"cast({a[0]} as {t})" if len(a) == 1 else None
            ),
        )

    def _fixed(a: list[str]) -> str:
        if fixed_string_pad and len(a) == 2:
            return f"rpad(cast({a[0]} as string), {a[1]}, {lit(' ')})"
        return f"cast({a[0]} as string)"

    out = _rewrite_calls(out, "toFixedString", _fixed)
    out = _rewrite_calls(out, "cityHash64", lambda a: f"xxhash64({', '.join(a)})")
    out = _rewrite_calls(out, "intDiv", lambda a: f"({a[0]} div {a[1]})")

    # ---- common CH functions beyond the §2.4 inventory (a reference
    # user's other stored queries use these constantly) ----
    # (toDate is handled by the _CAST_FNS loop above: cast(x as date))
    out = _rewrite_calls(
        out, "toYYYYMM", lambda a: f"cast(date_format({a[0]}, {lit('yyyyMM')}) as int)"
    )
    # CH toStartOfWeek default mode 0 starts weeks on SUNDAY (Spark's
    # date_trunc(WEEK) is Monday); explicit-mode forms pass through
    out = _rewrite_calls(
        out,
        "toStartOfWeek",
        lambda a: (
            f"date_sub(cast({a[0]} as date), dayofweek({a[0]}) - 1)"
            if len(a) == 1
            else None
        ),
    )
    # CH's in-frame window forms map to plain lag/lead — exact when
    # the query spells out its frame (the reason these functions get
    # used); under CH's DEFAULT frame, *InFrame returns type defaults
    # for out-of-frame rows while lag/lead look beyond it — that
    # frameless corner is a documented deviation
    out = _rewrite_calls(out, "lagInFrame", lambda a: f"lag({', '.join(a)})")
    out = _rewrite_calls(out, "leadInFrame", lambda a: f"lead({', '.join(a)})")
    # Spark REJECTS an explicit frame on lag/lead while CH *requires*
    # one on the InFrame forms — strip the standard whole-prefix
    # frame (under which lagInFrame ≡ lag) from lag/lead OVER
    # clauses; any NARROWER frame is left in place and fails loudly
    # in Spark's analyzer (its semantics genuinely differ). r9.
    out = _strip_lag_lead_frames(out)
    out = _rewrite_calls(out, "toMonth", lambda a: f"month({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toDayOfMonth", lambda a: f"dayofmonth({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toHour", lambda a: f"hour({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toStartOfMonth", lambda a: f"trunc({a[0]}, {lit('MM')})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toStartOfYear", lambda a: f"trunc({a[0]}, {lit('YYYY')})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toStartOfDay", lambda a: f"date_trunc({lit('DAY')}, {a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "ifNull", lambda a: f"coalesce({a[0]}, {a[1]})")
    # empty/notEmpty and length are STRING-or-ARRAY polymorphic in CH;
    # Spark splits them (length/'' vs size). Textual type inference is
    # limited to expression SHAPE: an argument spelled as an array
    # literal or a known array-producing call gets the array form,
    # anything else gets the string form (a string-form call on an
    # array COLUMN then fails loudly at analysis — never silently).
    out = _rewrite_calls(
        out,
        "empty",
        lambda a: (
            f"(size({a[0]}) = 0)"
            if _arrayish(a[0])
            else f"({a[0]} = {lit('')})"
        ),
    )
    out = _rewrite_calls(
        out,
        "notEmpty",
        lambda a: (
            f"(size({a[0]}) > 0)"
            if _arrayish(a[0])
            else f"({a[0]} != {lit('')})"
        ),
    )
    out = _rewrite_calls(out, "lengthUTF8", lambda a: f"char_length({a[0]})")
    # CH length() is string-or-array polymorphic: provably-array-shaped
    # arguments (CH spellings — this pass runs before the array-family
    # rewrites) flip to size(). Everything else gets CH's BYTE
    # semantics (batch 23): CH length(String) counts bytes, Spark's
    # length counts characters — pass-through silently under-counted
    # every non-ASCII string (lengthUTF8 above is the character form).
    # octet_length rejects array columns at analysis, so an un-flagged
    # array argument still fails loudly, never silently.
    out = _rewrite_calls(
        out,
        "length",
        lambda a: (
            (f"size({a[0]})" if _arrayish(a[0])
             else f"octet_length({a[0]})")
            if len(a) == 1 else None
        ),
    )
    # NOTE: CH position(haystack, needle) is NOT rewritten — `position`
    # is also valid Spark SQL with the OPPOSITE argument order, so a
    # rewrite would corrupt already-ANSI text (the shim's idempotence
    # contract). CH users port it to instr() by hand.
    # CH splitByChar(sep, s) — reversed argument order, and Spark
    # split()'s separator is a REGEX: a literal single-char sep like
    # '.' or '|' must be escaped or it matches everything
    def _split_cap(base: str, n: str | None) -> str:
        """CH max_substrings caps the ELEMENT COUNT and DROPS the
        remainder (default since the splitby_max_substrings_includes_
        remaining_string setting landed, 0 = drop) — Spark's split
        limit keeps the remainder in the last element, so the cap is
        a full split + slice. max_substrings = 0 means unlimited."""
        if n is None:
            return base
        ns = n.strip()
        if re.fullmatch(r"\d+", ns):
            return base if ns == "0" else f"slice({base}, 1, {ns})"
        return f"IF(({ns}) > 0, slice({base}, 1, {ns}), {base})"

    def _split_by_char(a: list[str]) -> str:
        sep = a[0].strip()
        lt = _lit_text(sep, lits)
        if lt is not None and len(lt) == 3:
            esc = re.escape(lt[1]).replace("\\", "\\\\")
            sep = _emit_lit(f"'{esc}'", lits)
        return _split_cap(
            f"split({a[1]}, {sep})", a[2] if len(a) > 2 else None
        )

    out = _rewrite_calls(out, "splitByChar", _split_by_char)

    def _multi_if(a: list[str]) -> str:
        # multiIf(c1, v1, c2, v2, ..., else) → CASE chain
        whens = "".join(
            f" WHEN {a[i]} THEN {a[i + 1]}" for i in range(0, len(a) - 1, 2)
        )
        return f"(CASE{whens} ELSE {a[-1]} END)"

    out = _rewrite_calls(out, "multiIf", _multi_if)

    def _transform_map(a: list[str]) -> str | None:
        # CH transform(x, [from...], [to...][, default]) — a value
        # remap ≡ CASE x WHEN f THEN t ... . The NAME collides with
        # Spark's higher-order transform(arr, lambda), but arity
        # disambiguates: Spark's form has exactly 2 args, CH's 3–4
        # (and its array args have already become array(...) by the
        # literal pass). Anything not matching that shape passes
        # through untouched (idempotence contract).
        if len(a) not in (3, 4):
            return None
        pair_lists = []
        for arg in (a[1], a[2]):
            found = _find_call(arg.strip(), "array")
            if found is None or found[0] != 0:
                return None
            pair_lists.append(found[2])
        frm, to = pair_lists
        if len(frm) != len(to) or not frm:
            return None
        whens = "".join(
            f" WHEN {f} THEN {t}" for f, t in zip(frm, to)
        )
        default = a[3] if len(a) == 4 else a[0]
        return f"(CASE {a[0]}{whens} ELSE {default} END)"

    out = _rewrite_calls(out, "transform", _transform_map)

    def _format_dt(a: list[str]) -> str | None:
        fmt = a[1].strip()
        lt = _lit_text(fmt, lits)
        if lt is not None:
            conv = _convert_fmt(lt[1:-1])
            if conv is None:
                return None  # unmappable token — loud
            fmt = _emit_lit("'" + conv + "'", lits)
        ts = a[0]
        if len(a) > 2:
            # CH's optional timezone: format the instant in that zone
            # (session-tz-naive source, like CH's server-tz timestamps)
            ts = f"convert_timezone({a[2]}, {ts})"
        return f"date_format({ts}, {fmt})"

    out = _rewrite_calls(out, "formatDateTime", _format_dt)

    # ---- aggregate-function surface (CH combinators and named aggs
    # with direct Spark equivalents; the -If combinator family maps to
    # conditional aggregation, CH's arg-extrema to max_by/min_by) ----
    def _count_if(a: list[str]) -> str:
        # CH combinator form countIf(x, cond) counts non-null x where
        # cond; the common 1-arg form counts where the condition holds
        if len(a) == 2:
            return f"count(CASE WHEN {a[1]} THEN {a[0]} END)"
        return f"count_if({a[0]})"

    out = _rewrite_calls(out, "countIf", _count_if)
    # bare count() is CH's count(*) (Spark rejects zero-arg count);
    # any-arg forms pass through untouched (r10)
    out = _rewrite_calls(
        out, "count",
        lambda a: "count(*)" if a in ([], [""]) else None,
    )
    # numbers(N) / numbers(offset, N) table function → range() with
    # CH's column name `number` (Spark's range exposes `id`) (r10)
    out = _rewrite_calls(
        out, "numbers",
        lambda a: (
            f"(select id as number from range({a[0]}))"
            if len(a) == 1
            else f"(select id as number from range({a[0]}, "
                 f"({a[0]}) + ({a[1]})))"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out, "sumIf", lambda a: f"sum(CASE WHEN {a[1]} THEN {a[0]} END)"
    )
    out = _rewrite_calls(
        out, "avgIf", lambda a: f"avg(CASE WHEN {a[1]} THEN {a[0]} END)"
    )
    out = _rewrite_calls(
        out, "minIf", lambda a: f"min(CASE WHEN {a[1]} THEN {a[0]} END)"
    )
    out = _rewrite_calls(
        out, "maxIf", lambda a: f"max(CASE WHEN {a[1]} THEN {a[0]} END)"
    )
    # anyIf(x, cond): some x among rows passing cond — any_value with
    # ignoreNulls=true over the conditional projection (rows failing
    # cond yield NULL and are skipped)
    out = _rewrite_calls(
        out,
        "anyIf",
        lambda a: (
            f"any_value(CASE WHEN {a[1]} THEN {a[0]} END, true)"
            if len(a) == 2
            else None
        ),
    )
    # -If combinator completion: the conditional projection pattern
    # extends to distinct counts, arg-extrema (max_by/min_by skip
    # NULL ordering keys, exactly CH's rows-failing-cond behavior)
    # and group arrays (collect_list skips NULLs)
    out = _rewrite_calls(
        out,
        "uniqExactIf",
        lambda a: (
            f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "argMaxIf",
        lambda a: (
            f"max_by(CASE WHEN {a[2]} THEN {a[0]} END,"
            f" CASE WHEN {a[2]} THEN {a[1]} END)"
            if len(a) == 3
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "argMinIf",
        lambda a: (
            f"min_by(CASE WHEN {a[2]} THEN {a[0]} END,"
            f" CASE WHEN {a[2]} THEN {a[1]} END)"
            if len(a) == 3
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "groupArrayIf",
        lambda a: (
            f"collect_list(CASE WHEN {a[1]} THEN {a[0]} END)"
            if len(a) == 2
            else None
        ),
    )
    # parameterized / sketch -If combinators re-emit the BASE
    # aggregate over the conditional projection; the base rewrites
    # below then translate them (this pass runs first)
    out = _rewrite_calls(
        out,
        "uniqIf",
        lambda a: (
            f"uniq(CASE WHEN {a[1]} THEN {a[0]} END)" if len(a) == 2 else None
        ),
    )
    out = _rewrite_param_calls(
        out,
        "quantileIf",
        lambda ps, a: (
            f"quantile({', '.join(ps)})(CASE WHEN {a[1]} THEN {a[0]} END)"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_param_calls(
        out,
        "topKIf",
        lambda ps, a: (
            f"topK({', '.join(ps)})(CASE WHEN {a[1]} THEN {a[0]} END)"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "medianIf",
        lambda a: (
            # consistent with bare median's pass-through to Spark's
            # exact median (CH's is sampling-approximate; role match)
            f"median(CASE WHEN {a[1]} THEN {a[0]} END)"
            if len(a) == 2
            else None
        ),
    )
    # bitwise aggregates (same math, snake_case names)
    out = _rewrite_calls(out, "groupBitAnd", lambda a: f"bit_and({a[0]})")
    out = _rewrite_calls(out, "groupBitOr", lambda a: f"bit_or({a[0]})")
    out = _rewrite_calls(out, "groupBitXor", lambda a: f"bit_xor({a[0]})")
    out = _rewrite_calls(out, "uniqExact", lambda a: f"count(DISTINCT {', '.join(a)})")
    # NOTE: CH `uniq()` is approximate; Spark's approx_count_distinct
    # is the same ROLE but a different sketch — values drift, so the
    # rewrite is still emitted (it is what a CH user means) and the
    # deviation is documented here rather than silently exact.
    # Spark's approx_count_distinct is unary (2nd arg = rsd literal);
    # CH's multi-expression uniq(a, b) folds through a struct
    out = _rewrite_calls(
        out,
        "uniq",
        lambda a: (
            f"approx_count_distinct({a[0]})"
            if len(a) == 1
            else f"approx_count_distinct(struct({', '.join(a)}))"
        ),
    )
    out = _rewrite_calls(out, "argMax", lambda a: f"max_by({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "argMin", lambda a: f"min_by({a[0]}, {a[1]})")
    # uniq's sketch-family aliases: same ROLE drift note as uniq —
    # approx_count_distinct is a different sketch, values may differ
    for fn in ("uniqCombined64", "uniqCombined", "uniqHLL12", "uniqTheta"):
        out = _rewrite_calls(
            out,
            fn,
            lambda a: (
                f"approx_count_distinct({a[0]})"
                if len(a) == 1
                else f"approx_count_distinct(struct({', '.join(a)}))"
            ),
        )
    # NOTE: CH `any(x)` (arbitrary value) is NOT rewritten — `any` is
    # also Spark's boolean aggregate, so the rewrite would corrupt
    # already-ANSI text (same idempotence rule as `position`); CH
    # users port it to any_value() by hand.

    # ---- CH functional arithmetic / misc scalar names (none of
    # these exist in Spark, so the rewrites are unambiguous) ----
    out = _rewrite_calls(out, "modulo", lambda a: f"({a[0]} % {a[1]})")
    out = _rewrite_calls(out, "plus", lambda a: f"({a[0]} + {a[1]})")
    out = _rewrite_calls(out, "minus", lambda a: f"({a[0]} - {a[1]})")
    out = _rewrite_calls(out, "multiply", lambda a: f"({a[0]} * {a[1]})")
    out = _rewrite_calls(out, "divide", lambda a: f"({a[0]} / {a[1]})")
    out = _rewrite_calls(
        out, "intDivOrZero",
        lambda a: f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]} div {a[1]}) END)",
    )
    # CH leftPad/rightPad measure BYTES and truncate an overlong input
    # to n bytes (batch 23); Spark's lpad/rpad count characters. The
    # pad prefix/suffix slices the repeated pad's bytes (a multi-byte
    # pad cut mid-codepoint decodes lossily — degenerate; real pads
    # are ' '/'0'). The UTF8 forms are exactly Spark's lpad/rpad
    # (both count code points and truncate overlong input).
    def _byte_pad(left: bool):
        def render(a: list[str]) -> str | None:
            if len(a) not in (2, 3):
                return None
            s, n = a[0], a[1]
            p = a[2] if len(a) == 3 else lit(" ")
            fill = (
                f"cast(substring(cast(repeat({p}, "
                f"greatest(cast(({n}) as int), 1)) as binary), 1, "
                f"({n}) - octet_length({s})) as string)"
            )
            kept = f"cast(substring(cast({s} as binary), 1, ({n})) as string)"
            grown = (
                f"concat({fill}, {s})" if left else f"concat({s}, {fill})"
            )
            return (
                f"(CASE WHEN octet_length({s}) >= ({n}) THEN {kept} "
                f"ELSE {grown} END)"
            )

        return render

    out = _rewrite_calls(out, "leftPadUTF8", lambda a: f"lpad({', '.join(a)})")
    out = _rewrite_calls(out, "rightPadUTF8", lambda a: f"rpad({', '.join(a)})")
    out = _rewrite_calls(out, "leftPad", _byte_pad(True))
    out = _rewrite_calls(out, "rightPad", _byte_pad(False))
    out = _rewrite_calls(out, "assumeNotNull", lambda a: f"({a[0]})")
    out = _rewrite_calls(out, "match", lambda a: f"({a[0]} rlike {a[1]})")
    # same documented role-drift as cityHash64: a 64-bit hash of the
    # same ROLE (sharding/sampling), different function family
    out = _rewrite_calls(out, "sipHash64", lambda a: f"xxhash64({', '.join(a)})")
    out = _rewrite_calls(
        out,
        "toMonday",
        lambda a: (f"cast(date_trunc({lit('WEEK')}, {a[0]}) as date)"
                   if len(a) == 1 else None),
    )
    out = _rewrite_calls(
        out, "toStartOfMinute",
        lambda a: (f"date_trunc({lit('MINUTE')}, {a[0]})"
                   if len(a) == 1 else None),
    )
    # toIntervalX(n) → make_interval slot (CH interval constructors)
    for fn, slot in (
        ("toIntervalYear", 0), ("toIntervalMonth", 1), ("toIntervalWeek", 2),
        ("toIntervalDay", 3), ("toIntervalHour", 4), ("toIntervalMinute", 5),
        ("toIntervalSecond", 6),
    ):
        def _mk(a: list[str], s=slot) -> str:
            parts = ["0"] * 7
            parts[s] = a[0]
            return f"make_interval({', '.join(parts)})"
        out = _rewrite_calls(out, fn, _mk)

    def _date_addsub(sign: str):
        def render(a: list[str]) -> str | None:
            # CH dateAdd(UNIT, n, ts) / dateAdd('unit', n, ts) — the
            # arity-3 form; Spark's timestampadd unit must be a bare
            # KEYWORD, so a quoted unit is spliced via _lit_text (same
            # pattern as _date_diff). Other arities pass through.
            if len(a) != 3:
                return None
            unit = a[0].strip()
            lt = _lit_text(unit, lits)
            if lt is not None:
                unit = lt[1:-1]
            if unit.lower() not in (
                "year", "quarter", "month", "week",
                "day", "hour", "minute", "second",
            ):
                return None  # not a CH unit keyword: leave untouched
            n = a[1] if sign == "+" else f"-({a[1]})"
            return f"timestampadd({unit.upper()}, {n}, {a[2]})"
        return render

    out = _rewrite_calls(out, "dateAdd", _date_addsub("+"))
    out = _rewrite_calls(out, "dateSub", _date_addsub("-"))

    # ---- array aggregates (the lambda-first higher-order family —
    # arrayExists/arrayAll/arrayCount/arrayMap/arrayFilter — is
    # handled further down by the pre-existing arity-guarded block).
    # CH's optional-lambda forms (r9): ``arrayMin(f, arr)`` applies f
    # to every element first — rewrite as the plain aggregate over
    # ``transform(arr, f)``; the lambda arrives verbatim (CH and
    # Spark share the ``x -> expr`` lambda syntax). ----
    out = _rewrite_calls(
        out,
        "arrayMin",
        lambda a: (
            f"array_min({a[0]})"
            if len(a) == 1
            else (
                f"array_min(transform({a[1]}, {a[0]}))"
                if len(a) == 2 and "->" in a[0]
                else None
            )
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayMax",
        lambda a: (
            f"array_max({a[0]})"
            if len(a) == 1
            else (
                f"array_max(transform({a[1]}, {a[0]}))"
                if len(a) == 2 and "->" in a[0]
                else None
            )
        ),
    )

    # NOTE: arraySum/arrayAvg fold in DOUBLE (Spark's aggregate needs
    # one accumulator type; CH keeps integer sums integer) — documented
    # numeric-widening drift
    def _arr_sum_src(a: list[str]) -> str | None:
        if len(a) == 1:
            return a[0]
        if len(a) == 2 and "->" in a[0]:
            return f"transform({a[1]}, {a[0]})"
        return None

    out = _rewrite_calls(
        out,
        "arraySum",
        lambda a: (
            f"aggregate({_arr_sum_src(a)}, cast(0 as double), "
            f"(__as, __av) -> __as + __av)"
            if _arr_sum_src(a) is not None
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayAvg",
        lambda a: (
            f"(aggregate({_arr_sum_src(a)}, cast(0 as double), "
            f"(__as, __av) -> __as + __av)"
            f" / size({a[0] if len(a) == 1 else a[1]}))"
            if _arr_sum_src(a) is not None
            else None
        ),
    )
    out = _rewrite_calls(
        out, "hasAny", lambda a: f"arrays_overlap({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out,
        "hasAll",
        lambda a: f"forall({a[1]}, __he -> array_contains({a[0]}, __he))",
    )
    out = _rewrite_calls(
        out,
        "multiSearchAny",
        lambda a: f"exists({a[1]}, __ms -> instr({a[0]}, __ms) > 0)",
    )
    out = _rewrite_calls(out, "groupArray", lambda a: f"collect_list({a[0]})")
    out = _rewrite_calls(out, "groupUniqArray", lambda a: f"collect_set({a[0]})")
    out = _rewrite_calls(out, "anyLast", lambda a: f"last({a[0]})")

    # ---- string surface ----
    def _split_by_string(a: list[str]) -> str:
        # CH splitByString(sep, s): sep is a PLAIN string; Spark
        # split()'s separator is a regex, so literal seps are escaped
        sep = a[0].strip()
        lt = _lit_text(sep, lits)
        if lt is not None:
            esc = re.escape(lt[1:-1]).replace("\\", "\\\\")
            sep = _emit_lit(f"'{esc}'", lits)
        return _split_cap(
            f"split({a[1]}, {sep})", a[2] if len(a) > 2 else None
        )

    out = _rewrite_calls(out, "splitByString", _split_by_string)
    out = _rewrite_calls(
        out, "arrayStringConcat",
        lambda a: f"array_join({a[0]}, {a[1] if len(a) > 1 else lit('')})",
    )
    out = _rewrite_calls(out, "replaceAll", lambda a: f"replace({a[0]}, {a[1]}, {a[2]})")
    def _replace_one(a: list[str]) -> str:
        # first occurrence of a PLAIN (non-regex) needle; locate()
        # repeats but stays deterministic and codegen-friendly
        s, pat, rep = a
        return (
            f"(CASE WHEN locate({pat}, {s}) > 0 THEN "
            f"concat(substr({s}, 1, locate({pat}, {s}) - 1), {rep}, "
            f"substr({s}, locate({pat}, {s}) + char_length({pat}))) "
            f"ELSE {s} END)"
        )

    out = _rewrite_calls(out, "replaceOne", _replace_one)
    # CH uses re2, Spark uses Java regex — common patterns agree, the
    # exotic ones (\\p classes, lookaround behavior) may drift
    out = _rewrite_calls(
        out, "replaceRegexpAll", lambda a: f"regexp_replace({a[0]}, {a[1]}, {a[2]})"
    )
    def _extract_all(a: list[str]) -> str:
        # CH extractAll: first capture group if the pattern has one,
        # else the whole match — decidable only for literal patterns
        # (capture = unescaped '(' not followed by '?'); non-literal
        # patterns use the whole match
        idx = 0
        lt = _lit_text(a[1], lits)
        if lt is not None and re.search(r"(?<!\\)\((?!\?)", lt[1:-1]):
            idx = 1
        return f"regexp_extract_all({a[0]}, {a[1]}, {idx})"

    out = _rewrite_calls(out, "extractAll", _extract_all)
    out = _rewrite_calls(out, "trimBoth", lambda a: f"trim({a[0]})")

    def _case_with_expr(a: list[str]) -> str:
        # caseWithExpression(expr, v1, r1, v2, r2, ..., else):
        # CASE expr WHEN v THEN r ... — NOT multiIf's cond/result pairs
        whens = "".join(
            f" WHEN {a[i]} THEN {a[i + 1]}" for i in range(1, len(a) - 1, 2)
        )
        return f"(CASE {a[0]}{whens} ELSE {a[-1]} END)"

    out = _rewrite_calls(out, "caseWithExpression", _case_with_expr)

    # ---- JSON extraction (CH JSONExtract* / visitParam* → Spark
    # get_json_object with a $-path). Literal keys splice into the
    # path — ALL trailing keys, not just the first (r9 fix: the
    # multi-key nested form JSONExtract*(j, 'a', 'b') used to drop
    # 'b' silently); literal integer args are CH's 1-based array
    # indices → 0-based JSONPath brackets (negative/0 indices have no
    # JSONPath analogue → pass through). A single NON-literal key
    # (r9, VERDICT r8 missing #5) rewrites to the map form
    # ``element_at(from_json(j, 'map<string,string>'), k)`` — for
    # top-level keys from_json's value rendering matches
    # get_json_object exactly (verified: strings unquoted, numbers
    # verbatim, nested objects/arrays as raw JSON text, NULL on
    # malformed input); multi-part dynamic paths stay loud. ----
    def _json_path(a: list[str]) -> str | None:
        if len(a) < 2:
            return None
        parts: list[str] = []
        for arg in a[1:]:
            lt = _lit_text(arg, lits)
            if lt is not None:
                parts.append("." + lt[1:-1])
                continue
            mi = re.fullmatch(r"\s*(\d+)\s*", arg)
            if mi and int(mi.group(1)) > 0:  # CH 1-based index
                parts.append(f"[{int(mi.group(1)) - 1}]")
                continue
            return None
        return _emit_lit("'$" + "".join(parts) + "'", lits)

    def _json_chain(a: list[str]) -> str | None:
        """Chained extraction across MIXED literal and dynamic path
        segments (r10, verdict item 5): maximal literal runs splice
        into one get_json_object path; each dynamic segment resolves
        through ``element_at(from_json(cur, 'map<string,string>'), k)``
        — from_json renders nested objects/arrays as raw JSON text
        (verified r9), so every step's output feeds the next parser.
        Dynamic integer-literal-looking segments (0/negative, or a
        numeric where a key is expected) stay loud as before."""
        cur = a[0]
        i, n = 1, len(a)
        while i < n:
            parts: list[str] = []
            while i < n:
                arg = a[i]
                lt = _lit_text(arg, lits)
                if lt is not None:
                    parts.append("." + lt[1:-1])
                    i += 1
                    continue
                mi = re.fullmatch(r"\s*(\d+)\s*", arg)
                if mi:
                    if int(mi.group(1)) <= 0:
                        return None  # no JSONPath analogue
                    parts.append(f"[{int(mi.group(1)) - 1}]")
                    i += 1
                    continue
                break
            if parts:
                cur = (
                    f"get_json_object({cur}, "
                    + _emit_lit("'$" + "".join(parts) + "'", lits)
                    + ")"
                )
            else:
                arg = a[i]
                if re.fullmatch(r"\s*-?\d+\s*", arg):
                    return None
                cur = (
                    f"element_at(from_json({cur}, 'map<string,string>'), "
                    f"cast({arg} as string))"
                )
                i += 1
        return cur

    def _json_extract(cast_to: str | None):
        def render(a: list[str]) -> str | None:
            if len(a) < 2:
                return None
            g = _json_chain(a)
            if g is None:
                return None
            return f"cast({g} as {cast_to})" if cast_to else g

        return render

    for ch_fn, t in (
        ("JSONExtractString", None),
        ("visitParamExtractString", None),
        ("JSONExtractInt", "bigint"),
        ("visitParamExtractInt", "bigint"),
        ("JSONExtractFloat", "double"),
        ("visitParamExtractFloat", "double"),
        ("JSONExtractBool", "boolean"),
    ):
        out = _rewrite_calls(out, ch_fn, _json_extract(t))
    def _json_has(a: list[str]) -> str | None:
        if len(a) < 2:
            return None
        # resolve the PREFIX (all but the last segment) via the chain,
        # then probe the final segment for existence
        if len(a) == 2:
            cur = a[0]
        else:
            cur = _json_chain(a[:-1])
            if cur is None:
                return None
        last = a[-1]
        lt = _lit_text(last, lits)
        if lt is not None:
            p = _emit_lit("'$." + lt[1:-1] + "'", lits)
            return f"(get_json_object({cur}, {p}) IS NOT NULL)"
        mi = re.fullmatch(r"\s*(\d+)\s*", last)
        if mi:
            if int(mi.group(1)) <= 0:
                return None
            p = _emit_lit(f"'$[{int(mi.group(1)) - 1}]'", lits)
            return f"(get_json_object({cur}, {p}) IS NOT NULL)"
        if re.fullmatch(r"\s*-?\d+\s*", last):
            return None
        return (
            f"coalesce(map_contains_key(from_json({cur}, "
            f"'map<string,string>'), cast({last} as string)), false)"
        )

    out = _rewrite_calls(out, "JSONHas", _json_has)

    # ---- datetime arithmetic ----
    # interval add keeps DateTime time components (CH semantics);
    # Date inputs widen to midnight timestamps — value-correct, the
    # type difference is the documented deviation
    out = _rewrite_calls(
        out, "addDays", lambda a: f"({a[0]} + make_interval(0, 0, 0, {a[1]}, 0, 0, 0))"
    )
    out = _rewrite_calls(
        out, "subtractDays", lambda a: f"({a[0]} - make_interval(0, 0, 0, {a[1]}, 0, 0, 0))"
    )
    out = _rewrite_calls(out, "addHours", lambda a: f"({a[0]} + make_interval(0, 0, 0, 0, {a[1]}, 0, 0))")
    out = _rewrite_calls(out, "addMinutes", lambda a: f"({a[0]} + make_interval(0, 0, 0, 0, 0, {a[1]}, 0))")
    # 64-bit epoch family FIRST (longest-name-first ordering so the
    # plain toUnixTimestamp rewrite below never clips the 64 names)
    out = _rewrite_calls(
        out, "toUnixTimestamp64Milli", lambda a: f"unix_millis({a[0]})"
    )
    out = _rewrite_calls(
        out, "toUnixTimestamp64Micro", lambda a: f"unix_micros({a[0]})"
    )
    out = _rewrite_calls(
        out,
        "toUnixTimestamp64Nano",
        # Spark timestamps are µs-resolution; CH DateTime64(9) extra
        # digits are zeros after a cast, so ×1000 is exact
        lambda a: f"(unix_micros({a[0]}) * 1000)",
    )
    def _to_unix_ts(a: list[str]) -> str | None:
        # CH toUnixTimestamp(str, tz): the second argument is ALWAYS
        # a timezone (never a format) — parse the string as tz wall
        # time → epoch. The old splice passed the tz into Spark's
        # FORMAT slot, silently mis-parsing (r9 fix). The tz only
        # affects STRING parsing in CH: for a DateTime argument the
        # epoch is tz-invariant (tz is display-only), so the wall-time
        # reinterpretation applies ONLY to string literals — non-
        # literal first args keep the instant, mirroring
        # _to_datetime_tz's literal-only gate (r10 ADVICE fix).
        # Non-literal second args stay loud (CH requires a constant tz).
        if len(a) == 1:
            return f"unix_timestamp({a[0]})"
        if len(a) == 2 and _lit_text(a[1], lits) is not None:
            if _lit_text(a[0], lits) is not None:
                return (
                    f"unix_timestamp(to_utc_timestamp("
                    f"cast({a[0]} as timestamp), {a[1]}))"
                )
            return f"unix_timestamp({a[0]})"
        return None

    out = _rewrite_calls(out, "toUnixTimestamp", _to_unix_ts)
    out = _rewrite_calls(
        out,
        "now",
        lambda a: (
            f"from_utc_timestamp(current_timestamp(), {a[0]})"
            if len(a) == 1 and a[0].strip()
            else None  # bare now() is handled by its own rewrite
        ),
    )
    out = _rewrite_calls(
        out,
        "today",
        lambda a: (
            f"cast(from_utc_timestamp(current_timestamp(), {a[0]}) as date)"
            if len(a) == 1 and a[0].strip()
            else None
        ),
    )
    out = _rewrite_calls(out, "fromUnixTimestamp", lambda a: f"from_unixtime({', '.join(a)})")

    def _date_diff(a: list[str]) -> str:
        # CH dateDiff('unit', start, end) counts unit-BOUNDARY
        # CROSSINGS (docs: "count of the specified unit boundaries
        # crossed"), NOT complete elapsed units — Spark's
        # timestampdiff is the complete-units fold (the old mapping
        # silently under-counted every boundary-without-full-unit
        # case, e.g. dateDiff('day', '23:00', next day '01:00') = 1
        # in CH, 0 via timestampdiff; r9 fix). Uniform units floor
        # each side to the unit grid (epoch micros — CH DateTime is
        # 1970+, so div's toward-zero truncation never sees a
        # negative); day/week truncate calendar-side (week = Monday
        # boundaries, CH's toRelativeWeekNum convention);
        # month/quarter/year count calendar positions. The unit must
        # be a literal to fold at translate time.
        if len(a) != 3:
            return None
        lt = _lit_text(a[0], lits)
        if lt is None:
            # r10 (verdict item 6): NON-CONSTANT unit expands to a
            # CASE over every supported unit, each arm the same
            # boundary-crossing rewrite; an unknown unit value raises
            # at runtime (raise_error) — loud, like CH's own error
            arms = []
            for names in (
                ("microsecond", "microseconds"),
                ("millisecond", "milliseconds"),
                ("second", "seconds"),
                ("minute", "minutes"),
                ("hour", "hours"),
                ("day", "days"),
                ("week", "weeks"),
                ("month", "months"),
                ("quarter", "quarters"),
                ("year", "years"),
            ):
                expr = _date_diff([_emit_lit(f"'{names[0]}'", lits),
                                   a[1], a[2]])
                in_list = ", ".join(_emit_lit(f"'{n}'", lits) for n in names)
                arms.append(f"WHEN lcase({a[0]}) IN ({in_list}) THEN {expr}")
            err = _emit_lit("'dateDiff: unsupported unit '", lits)
            return (
                "(CASE " + " ".join(arms)
                + f" ELSE raise_error(concat({err}, {a[0]})) END)"
            )
        unit = lt[1:-1].lower()
        ts_a, ts_b = (f"cast({a[1]} as timestamp)", f"cast({a[2]} as timestamp)")
        grids_us = {
            "microsecond": 1, "microseconds": 1,
            "millisecond": 1_000, "milliseconds": 1_000,
            "second": 1_000_000, "seconds": 1_000_000,
            "minute": 60_000_000, "minutes": 60_000_000,
            "hour": 3_600_000_000, "hours": 3_600_000_000,
        }
        if unit in grids_us:
            g = grids_us[unit]
            return (
                f"((unix_micros({ts_b}) div {g})"
                f" - (unix_micros({ts_a}) div {g}))"
            )
        if unit in ("day", "days"):
            return (
                f"cast(datediff(cast({a[2]} as date), "
                f"cast({a[1]} as date)) as bigint)"
            )
        if unit in ("week", "weeks"):
            return (
                f"(cast(datediff(date_trunc('WEEK', {ts_b}), "
                f"date_trunc('WEEK', {ts_a})) as bigint) div 7)"
            )
        if unit in ("month", "months"):
            return (
                f"cast((year({ts_b}) - year({ts_a})) * 12"
                f" + (month({ts_b}) - month({ts_a})) as bigint)"
            )
        if unit in ("quarter", "quarters"):
            return (
                f"cast((year({ts_b}) - year({ts_a})) * 4"
                f" + (quarter({ts_b}) - quarter({ts_a})) as bigint)"
            )
        if unit in ("year", "years"):
            return f"cast(year({ts_b}) - year({ts_a}) as bigint)"
        return None

    out = _rewrite_calls(out, "dateDiff", _date_diff)

    # ---- parameterized aggregates: quantile family. CH's
    # `quantile(q)(x)` syntax has no Spark analog — the rewrite moves
    # the parameter into the argument list. Exact forms map to exact
    # percentile(); the default-sketch forms map to approx_percentile
    # (same ROLE, different sketch — documented drift like `uniq`).
    # Order matters: the longer names must rewrite before their
    # prefixes (quantilesExact before quantiles before quantile). ----
    def _q_exact(ps: list[str], a: list[str]) -> str:
        return f"percentile({a[0]}, {ps[0] if ps else '0.5'})"

    def _qs_exact(ps: list[str], a: list[str]) -> str:
        return f"percentile({a[0]}, array({', '.join(ps)}))"

    def _q_approx(ps: list[str], a: list[str]) -> str:
        return f"approx_percentile({a[0]}, {ps[0] if ps else '0.5'})"

    def _qs_approx(ps: list[str], a: list[str]) -> str:
        return f"approx_percentile({a[0]}, array({', '.join(ps)}))"

    # exact quantile interpolation variants (batch 29; r11 clamps):
    # ExactInclusive ≡ PERCENTILE.INC ≡ R-7 ≡ Spark's percentile()
    # exactly; ExactLow/High take the sorted element at
    # floor/ceil(level·(n−1)) (numpy 'lower'/'higher') — the index is
    # clamped to ≥1 so an empty group yields NULL (CH returns NaN for
    # an empty state; NULL is our empty-aggregate convention) instead
    # of an INVALID_INDEX_OF_ZERO error; ExactExclusive ≡
    # PERCENTILE.EXC (R-6) for a LITERAL level in (0,1), with CH's
    # boundary clamp (QuantileExactExclusive: floor(h)<1 → first
    # element, floor(h)≥n → last element) for small groups
    def _q_sorted_pick(rounder: str):
        def render(ps: list[str], a: list[str]) -> str:
            p = ps[0] if ps else "0.5"
            s = f"array_sort(collect_list({a[0]}))"
            return (
                f"try_element_at({s}, greatest(1, cast({rounder}(({p}) * "
                f"(size({s}) - 1)) as int) + 1))"
            )

        return render

    out = _rewrite_param_calls(
        out, "quantileExactInclusive", _q_exact
    )
    out = _rewrite_param_calls(
        out, "quantilesExactInclusive", _qs_exact
    )
    out = _rewrite_param_calls(out, "quantileExactLow", _q_sorted_pick("floor"))
    out = _rewrite_param_calls(out, "quantileExactHigh", _q_sorted_pick("ceil"))

    def _q_exclusive(ps: list[str], a: list[str]) -> str | None:
        p = (ps[0] if ps else "0.5").strip()
        try:
            pv = float(p)
        except ValueError:
            return None
        if not (0.0 < pv < 1.0):
            return None
        s = f"array_sort(collect_list({a[0]}))"
        h = f"(({p}) * (size({s}) + 1))"
        fl = f"cast(floor{h} as int)"
        lo = f"cast(try_element_at({s}, {fl}) as double)"
        hi = f"cast(try_element_at({s}, {fl} + 1) as double)"
        return (
            f"(case when size({s}) = 0 then cast(null as double)"
            f" when {fl} < 1 then cast(try_element_at({s}, 1) as double)"
            f" when {fl} >= size({s})"
            f" then cast(try_element_at({s}, size({s})) as double)"
            f" else ({lo} + ({h} - {fl}) * ({hi} - {lo})) end)"
        )

    out = _rewrite_param_calls(out, "quantileExactExclusive", _q_exclusive)

    # uniqUpTo(N)(x): exact distinct when ≤ N, else N+1 — the capped
    # form maps exactly (least of exact distinct and N+1)
    out = _rewrite_param_calls(
        out,
        "uniqUpTo",
        lambda ps, a: (
            f"least(count(DISTINCT {', '.join(a)}), {ps[0]} + 1)"
            if ps
            else f"least(count(DISTINCT {', '.join(a)}), 6)"  # CH default N=5
        ),
    )
    # quantileExactWeighted(q)(x, w) → percentile's frequency arg —
    # the same exact weighted-median math
    out = _rewrite_param_calls(
        out,
        "quantileExactWeighted",
        lambda ps, a: (
            f"percentile({a[0]}, {ps[0] if ps else '0.5'}, {a[1]})"
            if len(a) == 2
            else f"percentile({a[0]}, {ps[0] if ps else '0.5'})"
        ),
    )
    # topK(N)(x) → approx_top_k items (CH SpaceSaving vs Spark's
    # sketch: same ROLE, counts may drift — the uniq rule). CH's
    # optional load-factor / counts params beyond N are dropped.
    out = _rewrite_param_calls(
        out,
        "topK",
        lambda ps, a: (
            f"transform(approx_top_k({a[0]}, {ps[0] if ps else '10'}),"
            f" __tk -> __tk.item)"
            if len(a) == 1
            else None
        ),
    )
    out = _rewrite_param_calls(out, "quantilesExact", _qs_exact)
    out = _rewrite_param_calls(out, "quantileExact", _q_exact)
    # sketch-family aliases: same ROLE as quantile() — a different
    # sketch than approx_percentile, values may drift (uniq rule).
    # quantileDeterministic's 2nd arg (the determinism seed) has no
    # Spark analog and is dropped.
    for fn in ("quantilesTDigest", "quantilesTiming"):
        out = _rewrite_param_calls(out, fn, _qs_approx)
    for fn in ("quantileTDigest", "quantileTiming"):
        out = _rewrite_param_calls(out, fn, _q_approx)
    out = _rewrite_param_calls(
        out,
        "quantileDeterministic",
        lambda ps, a: f"approx_percentile({a[0]}, {ps[0] if ps else '0.5'})",
    )
    out = _rewrite_param_calls(out, "quantiles", _qs_approx)
    out = _rewrite_param_calls(out, "quantile", _q_approx)
    # CH median(x) ≈ quantile(0.5)(x); Spark's own median() is exact —
    # passthrough (valid in both, exactness is an upgrade)
    # NOTE: CH `any(x)` (first value) is NOT rewritten — `any` is also
    # valid Spark SQL with DIFFERENT semantics (boolean-OR aggregate),
    # so a rewrite would corrupt already-ANSI text (same idempotence
    # rule as `position` above). CH users port it to first() by hand.

    # ---- array surface ----
    # arrayJoin(arr) unrolls the array into rows ≡ Spark's explode in
    # a SELECT list (CH allows it anywhere; Spark restricts generator
    # placement — same restriction CH users hit porting by hand)
    # CH higher-order array functions put the LAMBDA first, Spark
    # puts the array first; the lambda syntax itself (`x -> expr`) is
    # identical, so the rewrite is an argument swap. Multi-array
    # forms (arrayMap(f, a, b)) zip in CH; Spark's transform is
    # unary — only the unary forms rewrite, others pass through.
    for ch_fn, spark_fn in (
        ("arrayMap", "transform"),
        ("arrayFilter", "filter"),
        ("arrayExists", "exists"),
        ("arrayAll", "forall"),
    ):
        out = _rewrite_calls(
            out,
            ch_fn,
            lambda a, f=spark_fn: (
                f"{f}({a[1]}, {a[0]})" if len(a) == 2 else None
            ),
        )
    out = _rewrite_calls(
        out,
        "arrayCount",
        lambda a: f"size(filter({a[1]}, {a[0]}))" if len(a) == 2 else None,
    )
    out = _rewrite_calls(out, "arrayJoin", lambda a: f"explode({a[0]})")
    out = _rewrite_calls(out, "has", lambda a: f"array_contains({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "indexOf", lambda a: f"array_position({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "arrayDistinct", lambda a: f"array_distinct({a[0]})")
    # arraySort/arrayReverseSort (batch 31 fixed the lambda form —
    # it used to emit array_sort(<lambda>) with the ARRAY dropped):
    # the key lambda is parsed (param -> body) and substituted into
    # a comparator; CH sorts NULL keys LAST in both directions
    def _array_sort_ch(rev: bool):
        def render(a: list[str]) -> str | None:
            if len(a) == 1:
                return (
                    f"reverse(array_sort({a[0]}))" if rev
                    else f"array_sort({a[0]})"
                )
            if len(a) != 2:
                return None
            lm = re.match(
                r"(?s)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*->\s*(.*\S)\s*$",
                a[0],
            )
            if not lm:
                return None
            param, body = lm.group(1), lm.group(2)
            bl = "(" + _subst_name(body, param, "__sl") + ")"
            br = "(" + _subst_name(body, param, "__sr") + ")"
            lt, gt = ("1", "-1") if rev else ("-1", "1")
            return (
                f"array_sort({a[1]}, (__sl, __sr) -> "
                f"CASE WHEN {bl} IS NULL AND {br} IS NULL THEN 0 "
                f"WHEN {bl} IS NULL THEN 1 WHEN {br} IS NULL THEN -1 "
                f"WHEN {bl} < {br} THEN {lt} "
                f"WHEN {bl} > {br} THEN {gt} ELSE 0 END)"
            )

        return render

    out = _rewrite_calls(out, "arraySort", _array_sort_ch(False))
    out = _rewrite_calls(out, "arrayReverseSort", _array_sort_ch(True))
    # arrayPartialSort(n)(arr): CH leaves the tail in UNSPECIFIED
    # order, so a full sort is a conforming implementation
    out = _rewrite_param_calls(
        out, "arrayPartialSort",
        lambda ps, a: f"array_sort({a[0]})" if len(a) == 1 else None,
    )
    out = _rewrite_param_calls(
        out, "arrayPartialReverseSort",
        lambda ps, a: (
            f"reverse(array_sort({a[0]}))" if len(a) == 1 else None
        ),
    )
    # indexHint(cond): CH uses the condition ONLY for index-granule
    # selection — with no index (this store) it selects everything,
    # which `true` reproduces exactly
    out = _rewrite_calls(
        out, "indexHint", lambda a: "true" if len(a) >= 1 else None
    )
    out = _rewrite_calls(out, "arrayConcat", lambda a: f"concat({', '.join(a)})")
    out = _rewrite_calls(out, "toStartOfHour", lambda a: f"date_trunc({lit('HOUR')}, {a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toStartOfQuarter", lambda a: f"trunc({a[0]}, {lit('QUARTER')})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toQuarter", lambda a: f"quarter({a[0]})" if len(a) == 1 else None)
    def _to_day_of_week(a: list[str]) -> str | None:
        # CH modes (docs / DateLUTImpl WeekDayMode): 0 -> Mon=1..Sun=7
        # (default), 1 -> Mon=0..Sun=6, 2 -> Sun=0..Sat=6,
        # 3 -> Sun=1..Sat=7 (Spark weekday: Mon=0; dayofweek: Sun=1)
        if len(a) == 1:
            return f"(weekday({a[0]}) + 1)"
        if len(a) == 2:
            m = a[1].strip()
            if m == "0":
                return f"(weekday({a[0]}) + 1)"
            if m == "1":
                return f"weekday({a[0]})"
            if m == "2":
                return f"(dayofweek({a[0]}) - 1)"
            if m == "3":
                return f"dayofweek({a[0]})"
        return None

    out = _rewrite_calls(out, "toDayOfWeek", _to_day_of_week)

    # ---- round-5 batch #3: array / string / bit / cast-variant /
    # datetime-completion surface. Every name here is a CH-only
    # identifier (no Spark collision), so the rewrites keep the shim's
    # idempotence contract without arity guards unless noted. ----
    # arraySlice(arr, off[, len]): Spark slice() is the same 1-based /
    # negative-offset contract; CH's omitted-length form means
    # "to the end" ≡ length size(arr) (slice clamps past the end)
    out = _rewrite_calls(
        out,
        "arraySlice",
        lambda a: (
            f"slice({a[0]}, {a[1]}, {a[2]})"
            if len(a) == 3
            else f"slice({a[0]}, {a[1]}, size({a[0]}))"
        ),
    )
    out = _rewrite_calls(out, "arrayReverse", lambda a: f"reverse({a[0]})")
    out = _rewrite_calls(out, "arrayFlatten", lambda a: f"flatten({a[0]})")
    # sequence(1, 0) runs DOWNWARD in Spark — guard the empty array
    out = _rewrite_calls(
        out,
        "arrayEnumerate",
        lambda a: (
            f"(CASE WHEN size({a[0]}) = 0 THEN array() "
            f"ELSE sequence(1, size({a[0]})) END)"
        ),
    )
    # CH returns an array of tuples, Spark an array of structs — same
    # shape, different element type name (documented drift)
    out = _rewrite_calls(out, "arrayZip", lambda a: f"arrays_zip({', '.join(a)})")
    # CH arrayElement returns the type's DEFAULT value out of bounds;
    # try_element_at returns NULL (documented drift). Index 0 errors
    # in Spark even under try_ — guard it to CH-like non-error
    out = _rewrite_calls(
        out,
        "arrayElement",
        lambda a: (
            f"(CASE WHEN ({a[1]}) = 0 THEN NULL "
            f"ELSE try_element_at({a[0]}, {a[1]}) END)"
        ),
    )
    out = _rewrite_calls(
        out, "arrayPushBack", lambda a: f"concat({a[0]}, array({a[1]}))"
    )
    out = _rewrite_calls(
        out, "arrayPushFront", lambda a: f"concat(array({a[1]}), {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "arrayPopBack",
        lambda a: f"slice({a[0]}, 1, greatest(0, size({a[0]}) - 1))",
    )
    out = _rewrite_calls(
        out,
        "arrayPopFront",
        lambda a: f"slice({a[0]}, 2, greatest(0, size({a[0]}) - 1))",
    )
    # unary form only (multi-arg arrayUniq counts distinct TUPLES)
    out = _rewrite_calls(
        out,
        "arrayUniq",
        lambda a: f"size(array_distinct({a[0]}))" if len(a) == 1 else None,
    )

    # ---- string batch ----
    out = _rewrite_calls(
        out, "concatWithSeparator", lambda a: f"concat_ws({', '.join(a)})"
    )
    out = _rewrite_calls(out, "substringUTF8", lambda a: f"substring({', '.join(a)})")
    out = _rewrite_calls(out, "lowerUTF8", lambda a: f"lcase({a[0]})")
    out = _rewrite_calls(out, "upperUTF8", lambda a: f"ucase({a[0]})")
    # CH left/right accept NEGATIVE offsets (all-but-last / all-but-
    # first |n| units) — Spark's left/right return '' there, so the
    # UTF8 forms route through substring (batch 23). Bare left/right
    # are the BYTE forms: slice the binary encoding and decode (a cut
    # inside a code point decodes lossily where CH emits the raw
    # partial bytes — same degenerate-input note as position).
    out = _rewrite_calls(
        out,
        "leftUTF8",
        lambda a: (
            f"substring({a[0]}, 1, IF(({a[1]}) >= 0, ({a[1]}), "
            f"greatest(char_length({a[0]}) + ({a[1]}), 0)))"
            if len(a) == 2 else None
        ),
    )
    out = _rewrite_calls(
        out,
        "rightUTF8",
        lambda a: (
            f"substring({a[0]}, IF(({a[1]}) >= 0, "
            f"greatest(char_length({a[0]}) - ({a[1]}) + 1, 1), 1 - ({a[1]})))"
            if len(a) == 2 else None
        ),
    )
    out = _rewrite_calls(
        out,
        "left",
        lambda a: (
            f"cast(substring(cast({a[0]} as binary), 1, "
            f"IF(({a[1]}) >= 0, ({a[1]}), "
            f"greatest(octet_length({a[0]}) + ({a[1]}), 0))) as string)"
            if len(a) == 2 else None
        ),
    )
    out = _rewrite_calls(
        out,
        "right",
        lambda a: (
            f"cast(substring(cast({a[0]} as binary), "
            f"IF(({a[1]}) >= 0, "
            f"greatest(octet_length({a[0]}) - ({a[1]}) + 1, 1), "
            f"1 - ({a[1]})), 2147483647) as string)"
            if len(a) == 2 else None
        ),
    )

    # ---- reinterpretAs[U]Int{8,16,32,64} (batch 25) ----
    # CH reads the argument's RAW BYTES little-endian, zero-padding a
    # short string and ignoring extra bytes. For a string argument
    # that is fully expressible: hex() the w-byte binary prefix,
    # flip the byte pairs (little→big endian), conv() back. Int64/
    # UInt64 read the 64-bit pattern via conv(…, 16, -10) — the
    # UInt64 case is the same two's-complement reading documented on
    # rand64(). Narrower signed widths sign-extend in a closed form.
    # Non-string arguments (CH also reinterprets numerics/dates) fail
    # LOUDLY: Spark cannot cast a number to binary, so the emitted
    # cast raises at analysis instead of silently mis-reading.
    def _reinterpret_int(w: int, signed: bool):
        bits = 8 * w
        # Int8/16/32 and UInt8/16 fit int; UInt32 (max 2^32-1) and
        # both 64-bit forms are bigint
        ty = "int" if (w <= 2 or (signed and w <= 4)) else "bigint"

        def render(a: list[str]) -> str | None:
            if len(a) != 1:
                return None
            hx = (
                f"rpad(hex(substring(cast({a[0]} as binary), 1, {w})),"
                f" {2 * w}, '0')"
            )
            rev = (
                f"array_join(reverse(transform(sequence(1, {w}),"
                f" __rb -> substring({hx}, 2 * __rb - 1, 2))), '')"
            )
            if w == 8:
                # signed and unsigned read the same 64 bits
                return f"cast(conv({rev}, 16, -10) as bigint)"
            u = f"cast(conv({rev}, 16, 10) as bigint)"
            if not signed:
                return f"cast({u} as {ty})"
            return (
                f"cast(IF({u} >= {1 << (bits - 1)},"
                f" {u} - {1 << bits}, {u}) as {ty})"
            )

        return render

    for _w in (1, 2, 4, 8):
        out = _rewrite_calls(
            out, f"reinterpretAsUInt{8 * _w}", _reinterpret_int(_w, False)
        )
        out = _rewrite_calls(
            out, f"reinterpretAsInt{8 * _w}", _reinterpret_int(_w, True)
        )

    # CH upper/lower fold ASCII ONLY (upperUTF8/lowerUTF8 above are
    # the full-Unicode forms) — Spark's native upper/lower fold full
    # Unicode, silently changing non-ASCII group keys / comparisons
    # (batch 23). translate() over the ASCII maps is exact parity.
    out = _rewrite_calls(
        out,
        "upper",
        lambda a: (
            f"translate({a[0]}, " + lit(_ASCII_LO) + ", "
            + lit(_ASCII_UP) + ")"
            if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out,
        "lower",
        lambda a: (
            f"translate({a[0]}, " + lit(_ASCII_UP) + ", "
            + lit(_ASCII_LO) + ")"
            if len(a) == 1 else None
        ),
    )
    # unary forms trim whitespace in both dialects; CH's custom-char
    # variants use non-call syntax (TRIM(LEADING 'x' FROM s)) — ANSI
    # in both engines, passes through untouched
    out = _rewrite_calls(
        out, "trimLeft", lambda a: f"ltrim({a[0]})" if len(a) == 1 else None
    )
    out = _rewrite_calls(
        out, "trimRight", lambda a: f"rtrim({a[0]})" if len(a) == 1 else None
    )
    # positionUTF8 rewrites in the batch-8 block below (2- and 3-arg;
    # an unguarded duplicate here used to DROP the 3-arg start
    # argument before that block could see it — batch 23 fix)
    # positionCaseInsensitive is the BYTE variant with CH's ASCII-only
    # case folding (batch 23): fold through translate() — Spark's
    # lower() would also fold non-ASCII (full Unicode) and the char
    # instr under-counted multi-byte prefixes. The prefix is sliced
    # from the ORIGINAL haystack: ASCII folding preserves per-char
    # byte widths, so its octet_length equals the folded prefix's.
    def _pos_ci_bytes(a: list[str]) -> str | None:
        if len(a) not in (2, 3):
            return None
        hay = a[0]
        if len(a) == 3:
            # byte START (batch 29): slice the binary tail and search
            # there; a start inside a code point decodes lossily where
            # CH scans raw bytes (same degenerate note as position)
            hay = (
                f"cast(substring(cast({a[0]} as binary), {a[2]}) "
                f"as string)"
            )
        fh = (f"translate({hay}, " + lit(_ASCII_UP) + ", "
              + lit(_ASCII_LO) + ")")
        fn_ = (f"translate({a[1]}, " + lit(_ASCII_UP) + ", "
               + lit(_ASCII_LO) + ")")
        hit = f"instr({fh}, {fn_})"
        inner = (
            f"(CASE WHEN {hit} = 0 THEN 0 ELSE "
            f"octet_length(substring({hay}, 1, {hit} - 1)) + 1 END)"
        )
        if len(a) == 2:
            return inner
        return f"(CASE WHEN {inner} = 0 THEN 0 ELSE ({a[2]}) - 1 + {inner} END)"

    out = _rewrite_calls(out, "positionCaseInsensitive", _pos_ci_bytes)
    out = _rewrite_calls(out, "base64Encode", lambda a: f"base64({a[0]})")
    out = _rewrite_calls(
        out,
        "tryBase64Decode",
        # CH returns the EMPTY STRING on invalid NON-NULL input; a
        # Nullable NULL input stays NULL (r10 ADVICE fix — the bare
        # coalesce turned NULL into '')
        lambda a: (
            f"(CASE WHEN ({a[0]}) IS NULL THEN NULL "
            f"ELSE coalesce(cast(try_to_binary({a[0]}, "
            + lit("base64")
            + ") as string), "
            + lit("")
            + ") END)"
        ),
    )
    out = _rewrite_calls(
        out, "base64Decode", lambda a: f"cast(unbase64({a[0]}) as string)"
    )
    out = _rewrite_calls(
        out,
        "countSubstrings",
        lambda a: (
            f"(CASE WHEN char_length({a[1]}) = 0 THEN 0 "
            f"ELSE ((char_length({a[0]}) - char_length(replace({a[0]}, {a[1]}, {lit('')})))"
            f" div char_length({a[1]})) END)"
        ),
    )

    # ---- bit operations (CH functional names → Spark operators;
    # CH's UInt shifts are LOGICAL — on Spark's signed longs
    # shiftright is arithmetic, a documented drift for the sign bit) ----
    out = _rewrite_calls(out, "bitAnd", lambda a: f"({a[0]} & {a[1]})")
    out = _rewrite_calls(out, "bitOr", lambda a: f"({a[0]} | {a[1]})")
    out = _rewrite_calls(out, "bitXor", lambda a: f"({a[0]} ^ {a[1]})")
    out = _rewrite_calls(out, "bitNot", lambda a: f"(~ {a[0]})")
    out = _rewrite_calls(out, "bitShiftLeft", lambda a: f"shiftleft({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "bitShiftRight", lambda a: f"shiftright({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "bitCount", lambda a: f"bit_count({a[0]})")
    out = _rewrite_calls(
        out, "bitTest", lambda a: f"((shiftright({a[0]}, {a[1]})) & 1)"
    )
    out = _rewrite_calls(
        out, "intExp2", lambda a: f"shiftleft(cast(1 as bigint), {a[0]})"
    )

    # ---- cast variants: OrNull ≡ try_cast, OrZero ≡ try_cast
    # defaulted to the type's zero (CH's epoch for dates) ----
    for base, t in _CAST_FNS.items():
        if base == "toString":
            continue
        out = _rewrite_calls(
            out, base + "OrNull", lambda a, ty=t: f"try_cast({a[0]} as {ty})"
        )
        if t == "date":
            zero = f"cast({lit('1970-01-01')} as date)"
        elif t == "timestamp":
            zero = f"cast({lit('1970-01-01 00:00:00')} as timestamp)"
        else:
            zero = "0"
        out = _rewrite_calls(
            out,
            base + "OrZero",
            lambda a, ty=t, z=zero: f"coalesce(try_cast({a[0]} as {ty}), {z})",
        )

    # ---- statistics aggregate names (camelCase CH → snake_case
    # Spark; identical math, population/sample split preserved) ----
    for ch_fn, spark_fn in (
        ("stddevPop", "stddev_pop"),
        ("stddevSamp", "stddev_samp"),
        ("varPop", "var_pop"),
        ("varSamp", "var_samp"),
        ("covarPop", "covar_pop"),
        ("covarSamp", "covar_samp"),
    ):
        out = _rewrite_calls(
            out, ch_fn, lambda a, f=spark_fn: f"{f}({', '.join(a)})"
        )
    out = _rewrite_calls(out, "roundBankers", lambda a: f"bround({', '.join(a)})")

    # ---- round-5 batch #4: weighted aggregates, map functions,
    # array utilities, float predicates (all CH-only names) ----
    out = _rewrite_calls(
        out,
        "avgWeighted",
        lambda a: f"(sum(({a[0]}) * ({a[1]})) / sum({a[1]}))",
    )
    out = _rewrite_calls(
        out,
        "countEqual",
        lambda a: f"size(filter({a[0]}, __ce -> __ce = {a[1]}))",
    )
    out = _rewrite_calls(
        out,
        "countMatches",
        lambda a: f"size(regexp_extract_all({a[0]}, {a[1]}, 0))",
    )
    out = _rewrite_calls(out, "mapKeys", lambda a: f"map_keys({a[0]})")
    out = _rewrite_calls(out, "mapValues", lambda a: f"map_values({a[0]})")
    out = _rewrite_calls(
        out, "mapContains", lambda a: f"map_contains_key({a[0]}, {a[1]})"
    )

    def _array_intersect(a: list[str]) -> str:
        # CH arrayIntersect is n-ary; Spark's is binary — fold left
        acc = a[0]
        for nxt in a[1:]:
            acc = f"array_intersect({acc}, {nxt})"
        return acc

    out = _rewrite_calls(out, "arrayIntersect", _array_intersect)

    def _array_union(a: list[str]) -> str:
        # n-ary distinct union, folded like arrayIntersect (r10)
        acc = a[0]
        for nxt in a[1:]:
            acc = f"array_union({acc}, {nxt})"
        return acc

    out = _rewrite_calls(out, "arrayUnion", _array_union)
    # mapContainsKeyLike: any key matching the SQL LIKE pattern (r10)
    out = _rewrite_calls(
        out,
        "mapContainsKeyLike",
        lambda a: (
            f"exists(map_keys({a[0]}), __mk -> __mk like {a[1]})"
            if len(a) == 2 else None
        ),
    )
    # port(url[, default=0]): Spark's parse_url(HOST) strips the port,
    # so it is lifted straight off the authority (userinfo skipped);
    # absent port -> the default, like CH (r10)
    out = _rewrite_calls(
        out,
        "port",
        lambda a: (
            f"coalesce(cast(nullif(regexp_extract({a[0]}, "
            + lit("://(?:[^/?#@]*@)?[^/?#:]*:([0-9]+)")
            + f", 1), {lit('')}) as int), "
            f"{a[1] if len(a) == 2 else '0'})"
            if len(a) in (1, 2) else None
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayResize",
        lambda a: (
            # no-fill form pads NULL (CH pads the type default —
            # same documented drift as the other default-vs-NULL
            # corners; the translator cannot know element types)
            f"(CASE WHEN ({a[1]}) <= size({a[0]}) "
            f"THEN slice({a[0]}, 1, {a[1]}) "
            f"ELSE concat({a[0]}, array_repeat("
            + (a[2] if len(a) == 3 else "NULL")
            + f", ({a[1]}) - size({a[0]}))) END)"
            if len(a) in (2, 3)
            else None
        ),
    )
    # lambda-first like the arrayMap family; CH returns the element
    # type's DEFAULT when nothing matches — NULL here (documented)
    out = _rewrite_calls(
        out,
        "arrayFirst",
        lambda a: (
            f"try_element_at(filter({a[1]}, {a[0]}), 1)"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayLast",
        lambda a: (
            f"try_element_at(filter({a[1]}, {a[0]}), -1)"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "isFinite",
        lambda a: (
            f"(NOT isnan({a[0]}) AND abs({a[0]}) != cast({lit('Infinity')} as double))"
        ),
    )
    out = _rewrite_calls(
        out,
        "isInfinite",
        lambda a: f"(abs({a[0]}) = cast({lit('Infinity')} as double))",
    )
    out = _rewrite_calls(
        out,
        "ifNotFinite",
        lambda a: (
            f"(CASE WHEN isnan({a[0]}) OR abs({a[0]}) = "
            f"cast({lit('Infinity')} as double) THEN {a[1]} ELSE {a[0]} END)"
        ),
    )

    # ---- URL functions (CH's parser names → Spark parse_url parts;
    # CH's domain() strips the port and protocol() returns lowercase
    # without '://' — parse_url HOST/PROTOCOL behave the same) ----
    out = _rewrite_calls(
        out, "domain", lambda a: f"parse_url({a[0]}, {lit('HOST')})"
    )
    out = _rewrite_calls(
        out, "protocol", lambda a: f"parse_url({a[0]}, {lit('PROTOCOL')})"
    )
    # CH path() keeps the query string OFF; parse_url PATH matches
    out = _rewrite_calls(
        out, "path", lambda a: f"parse_url({a[0]}, {lit('PATH')})"
    )
    # CH queryString has no leading '?', parse_url QUERY agrees
    out = _rewrite_calls(
        out, "queryString", lambda a: f"parse_url({a[0]}, {lit('QUERY')})"
    )
    out = _rewrite_calls(
        out,
        "extractURLParameter",
        lambda a: f"parse_url({a[0]}, {lit('QUERY')}, {a[1]})",
    )
    # CH cutQueryString drops '?query' but KEEPS the '#fragment'
    # (cutQueryStringAndFragment is the drop-both form) — re-append
    # any fragment after truncating at '?'
    out = _rewrite_calls(
        out,
        "cutQueryStringAndFragment",
        lambda a: (
            f"substring_index(substring_index({a[0]}, {lit('?')}, 1), "
            f"{lit('#')}, 1)"
        ),
    )
    # a query string only exists when a '?' occurs BEFORE the first
    # '#' — a '?' inside the fragment ('a#f?q') is fragment text, and
    # the old first-'#' re-append duplicated it (ADVICE r7). When a
    # query IS cut, everything from the first '#' is the fragment and
    # is kept verbatim.
    out = _rewrite_calls(
        out,
        "cutQueryString",
        lambda a: (
            f"IF(instr({a[0]}, {lit('?')}) > 0 AND "
            f"(instr({a[0]}, {lit('#')}) = 0 OR "
            f"instr({a[0]}, {lit('?')}) < instr({a[0]}, {lit('#')})), "
            f"concat(substr({a[0]}, 1, instr({a[0]}, {lit('?')}) - 1), "
            f"IF(instr({a[0]}, {lit('#')}) > 0, "
            f"substr({a[0]}, instr({a[0]}, {lit('#')})), {lit('')})), "
            f"{a[0]})"
        ),
    )
    # splitByRegexp(re, s[, max]) — both engines treat the separator
    # as a regex, only the argument order differs; the CH max drops
    # the remainder (see _split_cap)
    out = _rewrite_calls(
        out,
        "splitByRegexp",
        lambda a: _split_cap(
            f"split({a[1]}, {a[0]})", a[2] if len(a) > 2 else None
        ),
    )
    # arrayDifference: [0, a2-a1, …] — zip against the 1-shifted
    # array (first slot pairs with itself → 0); empty-array guard
    # because element_at(.., 1) raises under ANSI mode
    out = _rewrite_calls(
        out,
        "arrayDifference",
        lambda a: (
            f"(CASE WHEN size({a[0]}) = 0 THEN slice({a[0]}, 1, 0) "
            f"ELSE zip_with({a[0]}, concat(array(element_at({a[0]}, 1)), "
            f"slice({a[0]}, 1, size({a[0]}) - 1)), (x, y) -> x - y) END)"
        ),
    )

    # ---- datetime completion ----
    # now64([precision]) → now(); Spark timestamps are µs regardless
    # of CH's precision argument (documented)
    out = _rewrite_calls(
        out, "now64", lambda a: "now()" if len(a) == 1 else None
    )
    out = _rewrite_calls(out, "toMinute", lambda a: f"minute({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toSecond", lambda a: f"second({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(out, "toDayOfYear", lambda a: f"dayofyear({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(
        out,
        "toYYYYMMDDhhmmss",
        lambda a: (f"cast(date_format({a[0]}, {lit('yyyyMMddHHmmss')}) as bigint)"
                   if len(a) == 1 else None),
    )
    # 30-minute slot floor (CH's fixed 1800 s grid)
    out = _rewrite_calls(
        out,
        "timeSlot",
        lambda a: f"timestamp_seconds((unix_timestamp({a[0]}) div 1800) * 1800)",
    )

    def _start_of_interval(a: list[str]) -> str | None:
        # toStartOfInterval(ts, INTERVAL n unit) → grid floor.
        # Uniform units (second…week) floor on the epoch-seconds
        # grid; calendar-irregular units (month/quarter/year, r9)
        # floor on the months-since-epoch grid — CH anchors BOTH at
        # the 1970-01-01 epoch, so an n-month grid is
        # add_months(epoch, (monthsSinceEpoch div (n·unit_months)) ·
        # n·unit_months), returned as a DATE exactly like CH's Date
        # result for month-or-coarser intervals. Accepts both the raw
        # INTERVAL literal and the already-rewritten toIntervalX form
        # (make_interval with a single slot).
        if len(a) != 2:
            return None
        iv = a[1].strip()
        secs = None
        months = None
        m2 = re.match(
            r"(?is)^interval\s+(\d+)\s+"
            r"(second|minute|hour|day|week|month|quarter|year)s?$",
            iv,
        )
        if m2:
            n, unit = int(m2.group(1)), m2.group(2).lower()
            if unit in ("month", "quarter", "year"):
                months = n * {"month": 1, "quarter": 3, "year": 12}[unit]
            else:
                secs = n * {
                    "second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 604800,
                }[unit]
        else:
            m3 = re.match(
                r"(?is)^make_interval\(\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)"
                r"\s*,\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\)$",
                iv,
            )
            if m3:
                y, mo, w, d, h, mi, s = (int(g) for g in m3.groups())
                if (y or mo) and not (w or d or h or mi or s):
                    months = y * 12 + mo
                elif not (y or mo):
                    secs = w * 604800 + d * 86400 + h * 3600 + mi * 60 + s
        if months:
            return (
                f"add_months(date'1970-01-01', "
                f"(((year({a[0]}) - 1970) * 12 + month({a[0]}) - 1)"
                f" div {months}) * {months})"
            )
        if not secs:
            return None
        return f"timestamp_seconds((unix_timestamp({a[0]}) div {secs}) * {secs})"

    out = _rewrite_calls(out, "toStartOfInterval", _start_of_interval)

    def _age(a: list[str]) -> str | None:
        # CH age('unit', a, b) counts FULL elapsed units (truncating
        # toward zero), unlike dateDiff's boundary crossings. Exact
        # for the uniform units via epoch-micros division;
        # month/quarter/year (r9) count complete CALENDAR months —
        # months_between() is NOT usable (its both-last-day rule
        # calls Jan 31 → Feb 28 a full month; CH compares
        # day-and-time lexicographically and says 0), so the fold is
        # (Δyear·12 + Δmonth) minus one when the end's
        # (day, time-of-day) tuple sits before the start's, computed
        # on |a ≤ b| order and sign-flipped for reversed arguments
        # (truncation toward zero either way, CH's convention).
        if len(a) != 3:
            return None
        lt = _lit_text(a[0].strip(), lits)
        if lt is None:
            return None
        unit = lt[1:-1].lower()
        if unit in ("month", "quarter", "year"):
            div = {"month": 1, "quarter": 3, "year": 12}[unit]
            lo, hi = (f"cast({a[1]} as timestamp)", f"cast({a[2]} as timestamp)")

            def tod(x: str) -> str:
                # (day, time-of-day) folded to one comparable micros
                # count inside the month
                return (
                    f"(day({x}) * 86400000000 + unix_micros({x})"
                    f" - unix_micros(date_trunc('DAY', {x})))"
                )

            def full_months(x: str, y: str) -> str:  # x <= y
                return (
                    f"((year({y}) - year({x})) * 12"
                    f" + month({y}) - month({x})"
                    f" - IF({tod(y)} < {tod(x)}, 1, 0))"
                )

            return (
                f"(cast(IF({lo} <= {hi}, {full_months(lo, hi)}, "
                f"-{full_months(hi, lo)}) as bigint) div {div})"
            )
        secs = {
            "second": 1, "minute": 60, "hour": 3600,
            "day": 86400, "week": 604800,
        }.get(unit)
        if secs is None:
            return None
        # unix_micros, not unix_timestamp: second-truncation before
        # the subtraction would overcount sub-second gaps (dates get
        # an explicit timestamp cast — unix_micros is timestamp-only)
        return (
            f"((unix_micros(cast({a[2]} as timestamp))"
            f" - unix_micros(cast({a[1]} as timestamp)))"
            f" div {secs * 1_000_000})"
        )

    out = _rewrite_calls(out, "age", _age)

    # ---- batch 18 (r9): common-function sweep leftovers. Spark
    # resolves startsWith/endsWith/ilike/isnull/floor(x, n)/e()/pi()/
    # hex/isNaN/… natively (case-insensitive), so only the genuinely
    # missing names rewrite here. ----
    out = _rewrite_calls(out, "toDate32", lambda a: f"cast({a[0]} as date)")
    # scale is irrelevant (Spark timestamps are micros); a trailing
    # timezone literal follows CH's toDateTime convention elsewhere
    out = _rewrite_calls(
        out, "toDateTime64", lambda a: f"cast({a[0]} as timestamp)"
    )
    out = _rewrite_param_calls(
        out,
        "quantileBFloat16",
        lambda ps, a: f"approx_percentile({a[0]}, {ps[0] if ps else '0.5'})",
    )
    # toYearWeek mode 3 = ISO year*100 + ISO week (Spark YEAROFWEEK /
    # weekofyear are both ISO); other modes use Sunday-start weeks
    # with CH's own first-week rules — no Spark analogue, loud
    out = _rewrite_calls(
        out,
        "toYearWeek",
        lambda a: (
            f"(extract(YEAROFWEEK FROM {a[0]}) * 100 + weekofyear({a[0]}))"
            if len(a) == 2 and a[1].strip() == "3"
            else None
        ),
    )
    # toStartOfWeek: mode 0 (default) = Sunday start (Spark dayofweek
    # is 1=Sunday), mode 1/3 = Monday start (date_trunc week)
    out = _rewrite_calls(
        out,
        "toStartOfWeek",
        lambda a: (
            f"date_sub(cast({a[0]} as date), dayofweek({a[0]}) - 1)"
            if len(a) == 1 or (len(a) == 2 and a[1].strip() == "0")
            else (
                f"cast(date_trunc('WEEK', {a[0]}) as date)"
                if len(a) == 2 and a[1].strip() in ("1", "3")
                else None
            )
        ),
    )
    # bare arrayCount = count of non-zero/true elements (the
    # lambda-first form is handled by the higher-order block)
    out = _rewrite_calls(
        out,
        "arrayCount",
        lambda a: (
            f"size(filter({a[0]}, __ac -> cast(__ac as boolean)))"
            if len(a) == 1
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "bitTestAny",
        lambda a: (
            "(" + " OR ".join(
                f"(shiftright({a[0]}, {p}) & 1) = 1" for p in a[1:]
            ) + ")"
            if len(a) >= 2
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "bitTestAll",
        lambda a: (
            "(" + " AND ".join(
                f"(shiftright({a[0]}, {p}) & 1) = 1" for p in a[1:]
            ) + ")"
            if len(a) >= 2
            else None
        ),
    )
    # CH toTime: same time-of-day moved onto 1970-01-02 (UTC session)
    out = _rewrite_calls(
        out,
        "toTime",
        lambda a: (
            f"timestamp_micros(86400000000 + "
            f"unix_micros(cast({a[0]} as timestamp)) % 86400000000)"
        ),
    )
    out = _rewrite_calls(out, "negate", lambda a: f"(-({a[0]}))")
    out = _rewrite_calls(
        out, "notLike", lambda a: f"({a[0]} NOT LIKE {a[1]})"
    )
    # 128/256-bit integer casts → decimal(38,0): Spark's widest exact
    # integer type (documented width drift beyond 38 digits)
    for _wide in ("toInt128", "toUInt128", "toInt256", "toUInt256"):
        out = _rewrite_calls(
            out, _wide, lambda a: f"cast({a[0]} as decimal(38,0))"
        )

    def _truncate_num(a: list[str]) -> str | None:
        # CH truncate(x[, n]): round toward zero to n decimals —
        # bigint cast truncates toward zero on both engines
        if len(a) == 1:
            return f"cast(cast({a[0]} as bigint) as double)"
        if len(a) == 2 and re.fullmatch(r"\s*\d+\s*", a[1]):
            p = 10 ** int(a[1])
            return f"(cast(cast(({a[0]}) * {p} as bigint) as double) / {p})"
        return None

    out = _rewrite_calls(out, "truncate", _truncate_num)
    # CH trunc is truncate's alias — but bare `trunc` is ALSO Spark's
    # DATE truncation (trunc(d, 'MM')), so only the unambiguous
    # numeric shapes rewrite: 1-arg, or 2-arg with an integer-literal
    # scale (the date form's second arg is a format string)
    out = _rewrite_calls(
        out,
        "trunc",
        lambda a: _truncate_num(a) if len(a) == 1 or (
            len(a) == 2 and re.fullmatch(r"\s*\d+\s*", a[1])
        ) else None,
    )

    # ---- batch 24 (r10): name-collision audit — valid Spark names
    # whose CH semantics differ, so pass-through ran WITHOUT error and
    # returned wrong values (the `position` class). ----
    # CH rand() is a uniform UInt32 (0..2^32-1), rand64() a UInt64;
    # Spark's rand() is a double in [0,1) — `rand() % 10` silently
    # became 0 for every row. rand(x) ignores its dummy argument (it
    # only defeats common-subexpression elimination in CH).
    out = _rewrite_calls(
        out,
        "rand",
        lambda a: (
            "cast(floor(random() * 4294967296.0) as bigint)"
            if len(a) <= 1 else None
        ),
    )
    # full-width 64-bit uniform incl. negatives (Spark bigint is
    # signed where CH is UInt64 — same 2^64 value set, two's
    # complement reading; documented in COVERAGE)
    out = _rewrite_calls(
        out,
        "rand64",
        lambda a: "xxhash64(uuid())" if len(a) <= 1 else None,
    )
    # CH MD5/SHA* return the RAW digest bytes (FixedString) — Spark's
    # md5/sha1/sha2 return lowercase hex STRINGS, so the idiomatic CH
    # spelling lower(hex(MD5(s))) was hex-of-hex garbage. unhex()
    # restores byte-exact parity (hex/compare/concat all line up).
    # md5/sha1 keep their own names inside the emission, so the plain
    # rewriter would re-match what it just emitted (names match
    # case-insensitively) — this scanner skips any call already
    # preceded by unhex( (which also makes T idempotent; CH text never
    # spells unhex(MD5(..)) since unhex takes a hex STRING there)
    def _digest_raw(txt: str, name: str, tmpl: str) -> str:
        start = 0
        while True:
            found = _find_call(txt, name, start)
            if not found:
                return txt
            begin, end, args = found
            if (len(args) != 1
                    or txt[max(0, begin - 6):begin].lower() == "unhex("):
                start = begin + 1
                continue
            txt = txt[:begin] + tmpl.format(a=args[0]) + txt[end:]

    out = _digest_raw(out, "MD5", "unhex(md5({a}))")
    out = _digest_raw(out, "SHA1", "unhex(sha1({a}))")
    out = _rewrite_calls(
        out, "SHA224", lambda a: f"unhex(sha2({a[0]}, 224))" if len(a) == 1 else None
    )
    out = _rewrite_calls(
        out, "SHA256", lambda a: f"unhex(sha2({a[0]}, 256))" if len(a) == 1 else None
    )
    out = _rewrite_calls(
        out, "SHA384", lambda a: f"unhex(sha2({a[0]}, 384))" if len(a) == 1 else None
    )
    out = _rewrite_calls(
        out, "SHA512", lambda a: f"unhex(sha2({a[0]}, 512))" if len(a) == 1 else None
    )
    # Spark strings are VALIDATED UTF-16 internally — invalid UTF-8
    # cannot reach a string column, so CH's replace-invalid-sequences
    # pass is the identity here
    out = _rewrite_calls(
        out, "toValidUTF8",
        lambda a: f"({a[0]})" if len(a) == 1 else None,
    )
    # least/greatest/min2/max2 stay native — audited, NOT rewritten:
    # CH's are NULL-PROPAGATING (ordinary-function rule) where Spark's
    # least/greatest SKIP NULLs; but ~30 of this translator's own
    # emissions spell greatest(/least( meaning the skip form, and the
    # names match case-insensitively, so a rewrite would either
    # corrupt those emissions or break the T∘T fixed-point invariant.
    # Drift is confined to NULL inputs (documented residual).

    # ---- batch 19 (r9): second common-function sweep. ----
    out = _rewrite_calls(
        out,
        "toMillisecond",
        lambda a: (
            f"cast((unix_micros(cast({a[0]} as timestamp)) % 1000000)"
            f" div 1000 as int)"
        ),
    )
    out = _rewrite_calls(
        out,
        "YYYYMMDDToDate",
        lambda a: (
            f"to_date(cast(cast({a[0]} as bigint) as string), "
            + lit("yyyyMMdd")
            + ")"
        ),
    )
    out = _rewrite_calls(
        out,
        "YYYYMMDDhhmmssToDateTime",
        lambda a: (
            f"to_timestamp(cast(cast({a[0]} as bigint) as string), "
            + lit("yyyyMMddHHmmss")
            + ")"
        ),
    )
    # proleptic-Gregorian day count anchored so that
    # toDaysSinceYearZero('1970-01-01') = 719528 (the CH constant)
    out = _rewrite_calls(
        out,
        "toDaysSinceYearZero",
        lambda a: (
            f"cast(datediff(cast({a[0]} as date), date'1970-01-01')"
            f" + 719528 as int)"
        ),
    )
    out = _rewrite_calls(
        out,
        "fromDaysSinceYearZero",
        lambda a: f"date_add(date'1970-01-01', cast({a[0]} as int) - 719528)",
    )
    # quantileGK(accuracy, level)(x): Spark's approx_percentile takes
    # the same (expr, level, accuracy) contract — same sketch ROLE,
    # different sketch internals (documented drift like quantile)
    out = _rewrite_param_calls(
        out,
        "quantileGK",
        lambda ps, a: (
            f"approx_percentile({a[0]}, {ps[1]}, {ps[0]})"
            if len(ps) == 2
            else None
        ),
    )
    # interpolated-weighted quantile ≈ percentile's frequency arg
    # (Spark interpolates between distinct weighted values — same
    # role; CH's interpolation rule differs in tie handling)
    out = _rewrite_param_calls(
        out,
        "quantileInterpolatedWeighted",
        lambda ps, a: (
            f"percentile({a[0]}, {ps[0] if ps else '0.5'}, {a[1]})"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "positionCaseInsensitiveUTF8",
        lambda a: f"locate(lcase({a[1]}), lcase({a[0]}))" if len(a) == 2 else None,
    )
    # toLastDayOfWeek: mode 0/2 → nearest following Saturday,
    # mode 1/3 → Sunday (Monday-start week + 6)
    out = _rewrite_calls(
        out,
        "toLastDayOfWeek",
        lambda a: (
            f"date_add(date_sub(cast({a[0]} as date), "
            f"dayofweek({a[0]}) - 1), 6)"
            if len(a) == 1 or (len(a) == 2 and a[1].strip() in ("0", "2"))
            else (
                f"date_add(cast(date_trunc('WEEK', {a[0]}) as date), 6)"
                if len(a) == 2 and a[1].strip() in ("1", "3")
                else None
            )
        ),
    )
    out = _rewrite_calls(
        out,
        "addQuarters",
        lambda a: f"({a[0]} + make_interval(0, ({a[1]}) * 3, 0, 0, 0, 0, 0))",
    )
    out = _rewrite_calls(
        out,
        "subtractQuarters",
        lambda a: f"({a[0]} - make_interval(0, ({a[1]}) * 3, 0, 0, 0, 0, 0))",
    )
    out = _rewrite_calls(
        out,
        "countDistinctIf",
        lambda a: (
            f"count(DISTINCT CASE WHEN {a[1]} THEN {a[0]} END)"
            if len(a) == 2
            else None
        ),
    )
    # anyLast is order-undefined in CH like any — same any_value role
    # (ignoreNulls so the CASE filter works)
    out = _rewrite_calls(
        out,
        "anyLastIf",
        lambda a: (
            f"any_value(CASE WHEN {a[1]} THEN {a[0]} END, true)"
            if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out, "isZeroOrNull", lambda a: f"({a[0]} IS NULL OR {a[0]} = 0)"
    )
    out = _rewrite_calls(out, "toBool", lambda a: f"cast({a[0]} as boolean)")
    # arrays_zip pads the short side with NULLs — exactly CH's
    # zipUnaligned contract (field NAMES drift: Spark numbers them)
    out = _rewrite_calls(
        out, "arrayZipUnaligned", lambda a: f"arrays_zip({', '.join(a)})"
    )
    # nondeterministic on both engines — role mapping, never gated
    out = _rewrite_calls(
        out,
        "arrayRandomSample",
        lambda a: f"slice(shuffle({a[0]}), 1, {a[1]})" if len(a) == 2 else None,
    )
    # groupArrayLast(N)(x): last N in read order — order-undefined in
    # a distributed read just like groupArray (documented)
    out = _rewrite_param_calls(
        out,
        "groupArrayLast",
        # start index via greatest(size-N+1, 1): never 0, so an
        # all-NULL group (empty collect_list) yields [] instead of a
        # runtime slice error (r10 ADVICE fix); identical collect_list
        # aggregates are deduplicated by Spark's physical planner
        lambda ps, a: (
            f"slice(collect_list({a[0]}), "
            f"greatest(size(collect_list({a[0]})) - ({ps[0]}) + 1, 1), "
            f"{ps[0]})"
            if ps
            else None
        ),
    )
    # groupConcat(sep)(x) / groupConcat(x): listagg — concatenation
    # order is read order on both engines (order-undefined role map)
    out = _rewrite_param_calls(
        out,
        "groupConcat",
        lambda ps, a: (
            f"listagg({a[0]}, {ps[0]})" if ps else f"listagg({a[0]})"
        ),
    )

    # ---- batch 20 (r9): third sweep — text/URL/array leftovers. ----
    # CH positions are 1-based and assigned by FIRST OCCURRENCE order
    # (array_distinct preserves it)
    out = _rewrite_calls(
        out,
        "arrayEnumerateDense",
        lambda a: (
            f"transform({a[0]}, __ed -> "
            f"cast(array_position(array_distinct({a[0]}), __ed) as int))"
        ),
    )
    # simplified contract (documented drift): strips script/style
    # blocks, comments and tags, collapses whitespace — CH's version
    # additionally decodes entities and handles CDATA
    out = _rewrite_calls(
        out,
        "extractTextFromHTML",
        lambda a: (
            "trim(regexp_replace(regexp_replace(regexp_replace("
            f"regexp_replace({a[0]}, "
            + lit(r"(?is)<(script|style)\\b.*?</\\1\\s*>") + ", " + lit(" ")
            + "), " + lit(r"(?s)<!--.*?-->") + ", " + lit(" ")
            + "), " + lit(r"<[^>]*>") + ", " + lit(" ")
            + "), " + lit(r"\\s+") + ", " + lit(" ") + "))"
        ),
    )
    out = _rewrite_calls(
        out,
        "splitByNonAlpha",
        lambda a: (
            f"filter(split({a[0]}, " + lit("[^0-9A-Za-z]+")
            + "), __sp -> __sp != " + lit("") + ")"
        ),
    )
    out = _rewrite_calls(
        out,
        "regexpExtract",
        lambda a: f"regexp_extract({', '.join(a)})",
    )

    def _has_token(ci: bool):
        # CH hasToken requires a CONSTANT token of token chars only —
        # the same restriction keeps the regex splice safe (loud
        # pass-through otherwise)
        def render(a: list[str]) -> str | None:
            if len(a) != 2:
                return None
            # CH's SplitTokenExtractor splits on EVERY non-alphanumeric
            # ASCII char including '_' — so '_' is a separator in the
            # haystack and an error in the needle (r10 ADVICE fix; the
            # old [0-9A-Za-z_] classes made hasToken('foo_bar','bar')
            # false and silently accepted '_'-bearing needles)
            lt = _lit_text(a[1], lits)
            flags = "(?i)" if ci else ""
            if lt is None:
                # batch 22 (r10): RUNTIME needle — the alphanumeric
                # gate moves to a row-level guard (alphanumerics are
                # regex-safe, so the validated needle splices into the
                # pattern without escaping); invalid needles raise,
                # matching CH's exception contract instead of
                # silently matching/missing
                needle = a[1]
                return (
                    f"(CASE WHEN {needle} IS NULL THEN NULL "
                    f"WHEN {needle} rlike " + lit("^[0-9A-Za-z]+$")
                    + f" THEN ({a[0]} rlike concat("
                    + lit(f"{flags}(^|[^0-9A-Za-z])")
                    + f", {needle}, " + lit("([^0-9A-Za-z]|$)")
                    + ")) ELSE raise_error(concat("
                    + lit("hasToken: needle must be alphanumeric, got: ")
                    + f", {needle})) END)"
                )
            if not re.fullmatch(r"[0-9A-Za-z]+", lt[1:-1]):
                return None
            tok = lt[1:-1]
            pat = f"{flags}(^|[^0-9A-Za-z]){tok}([^0-9A-Za-z]|$)"
            return f"({a[0]} rlike " + lit(pat) + ")"

        return render

    out = _rewrite_calls(out, "hasTokenCaseInsensitive", _has_token(True))
    out = _rewrite_calls(out, "hasToken", _has_token(False))
    out = _rewrite_calls(
        out,
        "countSubstringsCaseInsensitiveUTF8",
        lambda a: (
            f"(CASE WHEN char_length({a[1]}) = 0 THEN 0 "
            f"ELSE ((char_length({a[0]}) - char_length(replace(lcase({a[0]}), "
            f"lcase({a[1]}), {lit('')}))) div char_length({a[1]})) END)"
        ),
    )
    # get() is NULL out-of-bounds even under ANSI (element_at throws)
    out = _rewrite_calls(
        out,
        "arrayFirstOrNull",
        lambda a: (
            f"get(filter({a[1]}, {a[0]}), 0)"
            if len(a) == 2 and "->" in a[0]
            else None
        ),
    )
    out = _rewrite_calls(
        out,
        "arrayLastOrNull",
        lambda a: (
            f"get(filter({a[1]}, {a[0]}), "
            f"size(filter({a[1]}, {a[0]})) - 1)"
            if len(a) == 2 and "->" in a[0]
            else None
        ),
    )
    out = _rewrite_calls(
        out, "widthBucket", lambda a: f"width_bucket({', '.join(a)})"
    )
    # CH's first-significant-subdomain rule (FirstSignificantSubdomain
    # uses the short built-in list com/net/org/co): with ≥3 host parts
    # and a listed second-level suffix, take the third-from-last part,
    # else the second-from-last
    _FSS_COND = (
        "size({p}) >= 3 AND element_at({p}, size({p}) - 1) IN "
        "({com}, {net}, {org}, {co})"
    )

    def _fss_parts(u: str) -> str:
        return f"split(parse_url({u}, {lit('HOST')}), " + lit(r"\\.") + ")"

    def _fss(a: list[str]) -> str:
        p = _fss_parts(a[0])
        cond = _FSS_COND.format(
            p=p, com=lit("com"), net=lit("net"), org=lit("org"),
            co=lit("co"),
        )
        return (
            f"IF(size({p}) <= 1, element_at({p}, 1), "
            f"IF({cond}, element_at({p}, size({p}) - 2), "
            f"element_at({p}, size({p}) - 1)))"
        )

    def _cut_fss(a: list[str]) -> str:
        p = _fss_parts(a[0])
        cond = _FSS_COND.format(
            p=p, com=lit("com"), net=lit("net"), org=lit("org"),
            co=lit("co"),
        )
        return (
            f"IF(size({p}) <= 1, element_at({p}, 1), "
            f"array_join(slice({p}, IF({cond}, size({p}) - 2, "
            f"size({p}) - 1), IF({cond}, 3, 2)), {lit('.')}))"
        )

    out = _rewrite_calls(out, "cutToFirstSignificantSubdomain", _cut_fss)
    out = _rewrite_calls(out, "firstSignificantSubdomain", _fss)

    # arrayCumSum: O(n²) prefix re-aggregation — fine for the bounded
    # arrays CH uses it on. Folds in DOUBLE like arraySum above
    # (aggregate() pins one accumulator type; int/decimal element
    # types all coerce into it — same documented widening drift)
    out = _rewrite_calls(
        out,
        "arrayCumSum",
        lambda a: (
            f"transform({a[0]}, (__cx, __ci) -> "
            f"aggregate(slice({a[0]}, 1, __ci + 1), "
            f"cast(0 as double), (__ca, __cv) -> __ca + __cv))"
            if len(a) == 1
            else None
        ),
    )
    # same instant re-expressed in the zone (formatDateTime's tz rule)
    out = _rewrite_calls(
        out, "toTimeZone", lambda a: f"convert_timezone({a[1]}, {a[0]})"
    )
    # interval add/sub family completion (addDays/addHours/addMinutes
    # and subtractDays ship above)
    for fn, slot, sign in (
        ("addYears", 0, "+"), ("subtractYears", 0, "-"),
        ("addMonths", 1, "+"), ("subtractMonths", 1, "-"),
        ("addWeeks", 2, "+"), ("subtractWeeks", 2, "-"),
        ("addSeconds", 6, "+"), ("subtractSeconds", 6, "-"),
        ("subtractHours", 4, "-"), ("subtractMinutes", 5, "-"),
    ):
        def _iv(a: list[str], s=slot, sg=sign) -> str:
            parts = ["0"] * 7
            parts[s] = a[1]
            return f"({a[0]} {sg} make_interval({', '.join(parts)}))"
        out = _rewrite_calls(out, fn, _iv)

    # ---- batch 22 (r10): MySQL week modes 0/1/2 for toWeek /
    # toYearWeek, constant defaultValueOfTypeName, runtime hasToken
    # needles. CH's toWeek/toYearWeek modes follow MySQL WEEK()
    # exactly (DateLUTImpl week mode table); mode 3 (ISO) translated
    # earlier, modes 0/1/2 close here. ----

    def _wk_fs(d: str, yoff: int = 0) -> str:
        # first Sunday of year(d)+yoff: next_day is strictly-after,
        # so anchor on Dec 31 of the prior year
        y = f"year({d})" if yoff == 0 else f"(year({d}) + {yoff})"
        return f"next_day(date_sub(make_date({y}, 1, 1), 1), {lit('SU')})"

    def _wk_m1(d: str) -> str:
        # Monday starting ISO week 1 = the Monday of Jan-4's week
        return (
            f"cast(date_trunc({lit('WEEK')}, "
            f"make_date(year({d}), 1, 4)) as date)"
        )

    def _wk_sun4(d: str, yoff: int = 0) -> str:
        # Sunday starting the week that contains Jan 4 — the
        # Sunday-first "week 1 has 4+ days this year" anchor
        # (modes 4/6; validated against MySQL calc_week in
        # tests/test_properties.py)
        y = f"year({d})" if yoff == 0 else f"(year({d}) + {yoff})"
        j4 = f"make_date({y}, 1, 4)"
        return f"date_sub({j4}, dayofweek({j4}) - 1)"

    def _wk_fm(d: str, yoff: int = 0) -> str:
        # first Monday of the year — the "week 1 contains a Monday"
        # anchor (modes 5/7)
        y = f"year({d})" if yoff == 0 else f"(year({d}) + {yoff})"
        return f"next_day(date_sub(make_date({y}, 1, 1), 1), {lit('MO')})"

    def _wk_num(d: str, anchor: str) -> str:
        return f"(cast(datediff({d}, {anchor}) div 7 as int) + 1)"

    def _to_week(a: list[str]) -> str | None:
        # mode 3 (ISO) already rewrote in batch 18; tz forms folded
        # to 2-arg upstream. Sunday-first weeks: week 1 starts at the
        # year's first Sunday (mode 0: earlier days are week 0;
        # mode 2: earlier days take the PREVIOUS year's number).
        # Monday-first mode 1: week 1 starts at ISO-week-1's Monday,
        # earlier days are week 0. No with-year rollover in 0/1 —
        # late-December weeks count up to 53 (MySQL WEEK contract).
        # Modes 4-7 (batch 26) swap the anchors: 4/6 use the
        # Sunday-start-of-Jan-4's-week (4+ days rule), 5/7 the first
        # Monday; 6 additionally rolls late-December FORWARD into
        # next year's week 1 when next year's anchor has arrived
        # (mode 7's forward branch can never fire: a first-Monday
        # anchor is always >= Jan 1). Every formula is pinned against
        # an independent port of MySQL's calc_week in
        # tests/test_properties.py. Modes 8/9 (CH-only NEWYEAR_DAY
        # flag, no MySQL counterpart) closed r13 — see _wk_ny.
        if len(a) not in (1, 2):
            return None
        mode = a[1].strip() if len(a) == 2 else "0"
        d = f"cast({a[0]} as date)"
        if mode in ("0", "2"):
            fs = _wk_fs(d)
            this = _wk_num(d, fs)
            prev = (
                "0" if mode == "0" else _wk_num(d, _wk_fs(d, -1))
            )
            return f"IF({d} >= {fs}, {this}, {prev})"
        if mode == "1":
            m1 = _wk_m1(d)
            return f"IF({d} >= {m1}, {_wk_num(d, m1)}, 0)"
        if mode in ("4", "6"):
            a4 = _wk_sun4(d)
            this = _wk_num(d, a4)
            if mode == "4":
                return f"IF({d} >= {a4}, {this}, 0)"
            prev = _wk_num(d, _wk_sun4(d, -1))
            return (
                f"IF({d} >= {_wk_sun4(d, 1)}, 1, "
                f"IF({d} >= {a4}, {this}, {prev}))"
            )
        if mode in ("5", "7"):
            fm = _wk_fm(d)
            this = _wk_num(d, fm)
            if mode == "5":
                return f"IF({d} >= {fm}, {this}, 0)"
            prev = _wk_num(d, _wk_fm(d, -1))
            return f"IF({d} >= {fm}, {this}, {prev})"
        if mode in ("8", "9"):
            return (
                f"IF({d} >= {_wk_ny(d, mode, 1)}, 1, "
                f"{_wk_num(d, _wk_ny(d, mode))})"
            )
        return None

    def _wk_ny(d: str, mode: str, yoff: int = 0) -> str:
        # CH-specific NEWYEAR_DAY modes (closed r13, year roll fixed
        # r14; ClickHouse DateLUTImpl::toYearWeekOfNewyearMode):
        # week 1 is the week CONTAINING January 1 — 8 Sunday-first,
        # 9 Monday-first, range 1-53. The source DOES reassign the
        # year to the year of the week's LAST day ("Checking the
        # week across the year": yw.first = toYear(d + 7 -
        # toDayOfWeek(d + offset))), so a late-December date whose
        # week holds next Jan 1 is week 1 of the NEXT year — the
        # callers emit that as d >= next year's anchor (the start of
        # the week holding next Jan 1; equivalent because both dates
        # floor to the same week). Early-January dates never roll
        # backward: the week's last day is always >= Jan 1. Pinned
        # against an independent port of the source formula in
        # tests/test_properties.py.
        y = f"year({d})" if yoff == 0 else f"(year({d}) + {yoff})"
        jan1 = f"make_date({y}, 1, 1)"
        if mode == "9":  # Monday-first: floor Jan 1 to its Monday
            return f"date_sub({jan1}, (dayofweek({jan1}) + 5) % 7)"
        return f"date_sub({jan1}, dayofweek({jan1}) - 1)"

    out = _rewrite_calls(out, "toWeek", _to_week)

    def _to_yearweek(a: list[str]) -> str | None:
        # YEARWEEK semantics: the result never carries week 0 — the
        # year adjusts instead (toYearWeek('2000-01-01') = 199952
        # while toWeek = 0). Even modes share one with-year shape;
        # mode 1 ≡ mode 3 ≡ ISO (rewrote in batch 18).
        if len(a) not in (1, 2):
            return None
        mode = a[1].strip() if len(a) == 2 else "0"
        d = f"cast({a[0]} as date)"
        if mode in ("0", "2"):
            fs = _wk_fs(d)
            this = f"(year({d}) * 100 + {_wk_num(d, fs)})"
            prev = (
                f"((year({d}) - 1) * 100 + {_wk_num(d, _wk_fs(d, -1))})"
            )
            return f"IF({d} >= {fs}, {this}, {prev})"
        if mode == "1":
            return (
                f"(extract(YEAROFWEEK FROM {a[0]}) * 100 + "
                f"weekofyear({a[0]}))"
            )
        if mode in ("4", "6"):
            # YEARWEEK always year-adjusts (mode 4 ≡ 6), incl. the
            # forward roll into next year's week 1
            a4 = _wk_sun4(d)
            this = f"(year({d}) * 100 + {_wk_num(d, a4)})"
            prev = (
                f"((year({d}) - 1) * 100 + "
                f"{_wk_num(d, _wk_sun4(d, -1))})"
            )
            return (
                f"IF({d} >= {_wk_sun4(d, 1)}, (year({d}) + 1) * 100 + 1, "
                f"IF({d} >= {a4}, {this}, {prev}))"
            )
        if mode in ("5", "7"):
            fm = _wk_fm(d)
            this = f"(year({d}) * 100 + {_wk_num(d, fm)})"
            prev = (
                f"((year({d}) - 1) * 100 + {_wk_num(d, _wk_fm(d, -1))})"
            )
            return f"IF({d} >= {fm}, {this}, {prev})"
        if mode in ("8", "9"):
            # NEWYEAR_DAY modes: the year is the year of the week's
            # LAST day (toYearWeekOfNewyearMode's yw.first), so a
            # late-December date whose week holds next Jan 1 rolls
            # FORWARD to week 1 of the next year (e.g.
            # toYearWeek('2000-12-31', 8) = 200101)
            return (
                f"IF({d} >= {_wk_ny(d, mode, 1)}, "
                f"(year({d}) + 1) * 100 + 1, "
                f"(year({d}) * 100 + {_wk_num(d, _wk_ny(d, mode))}))"
            )
        return None

    out = _rewrite_calls(out, "toYearWeek", _to_yearweek)

    # defaultValueOfTypeName: CONSTANT type names only (the value is
    # a property of the type, so a non-literal argument has no static
    # translation — loud). Scalar map mirrors _CAST_FNS' widths;
    # Nullable(T) is a typed NULL; Decimal carries its declared
    # precision/scale. Composite types (Array/Tuple/Map) stay loud.
    _DEFAULT_OF_TYPE = {
        "int8": ("0", "int"), "int16": ("0", "int"),
        "int32": ("0", "int"), "int64": ("0", "bigint"),
        "uint8": ("0", "int"), "uint16": ("0", "int"),
        "uint32": ("0", "bigint"), "uint64": ("0", "bigint"),
        "float32": ("0", "float"), "float64": ("0", "double"),
        "string": (None, "string"),
        "date": (None, "date"), "date32": (None, "date"),
        "datetime": (None, "timestamp"),
    }

    def _default_of_type(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        lt = _lit_text(a[0], lits)
        if lt is None:
            return None
        tname = lt[1:-1].strip()
        nullable = False
        m = re.fullmatch(r"(?i)Nullable\s*\(\s*(.*?)\s*\)", tname)
        if m:
            nullable, tname = True, m.group(1)
        if tname.lower() == "uuid":
            # UUIDs land as strings (no Spark uuid type)
            if nullable:
                return "cast(null as string)"
            return lit("00000000-0000-0000-0000-000000000000")
        m = re.fullmatch(
            r"(?i)(Decimal)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)"
            r"|(Decimal32|Decimal64|Decimal128)\s*\(\s*(\d+)\s*\)"
            r"|(DateTime64)\s*\(\s*\d+\s*\)",
            tname,
        )
        if m:
            if m.group(1):
                spark_t = f"decimal({m.group(2)},{m.group(3)})"
            elif m.group(4):
                prec = {"decimal32": 9, "decimal64": 18,
                        "decimal128": 38}[m.group(4).lower()]
                spark_t = f"decimal({prec},{m.group(5)})"
            else:
                spark_t = "timestamp"
            zero = "0" if spark_t != "timestamp" else None
        else:
            ent = _DEFAULT_OF_TYPE.get(tname.lower())
            if ent is None:
                return None
            zero, spark_t = ent
        if nullable:
            return f"cast(null as {spark_t})"
        if zero is not None:
            return f"cast({zero} as {spark_t})"
        # non-numeric zeros: CH epoch / empty-string / nil-UUID
        if spark_t == "string":
            return lit("")
        if spark_t == "date":
            return f"cast({lit('1970-01-01')} as date)"
        return f"cast({lit('1970-01-01 00:00:00')} as timestamp)"

    out = _rewrite_calls(out, "defaultValueOfTypeName", _default_of_type)

    # ---- round-7 batch #7: funnel/retention aggregates, URL family,
    # moment aggregates, Stable de-suffixing. ----

    def _window_funnel(ps: list[str], a: list[str]) -> str | None:
        """CH ``windowFunnel(W)(ts, c1..cN)`` → a sorted-events fold
        (the latest-chain-start DP: state[i] = start ts of the most
        recent chain reaching level i+1; an event extends each chain
        at most one level, from the PRE-event state). Result = max
        contiguous level. Window W is SECONDS (DateTime semantics);
        the fold runs on unix micros. Same-timestamp ordering follows
        the sorted struct (deterministic; CH leaves it undefined).

        Modes: ``'strict_increase'`` alone keeps the (start, last) DP
        below (each extension requires a strictly LATER event). Any
        mode set containing ``'strict_order'`` / ``'strict_dedup'``
        (optionally combined with ``'strict_increase'``) routes to the
        exact ClickHouse event-loop fold (``_window_funnel_strict``):
        rows expand to one (t, level) event per matched condition
        (plus a level-0 breaker event for unmatched rows under
        strict_order), events sort by (t, level), and the fold
        replays CH's early-exit state machine. Unknown mode spellings
        return None — the call passes through UNTRANSLATED and fails
        loudly, never silently computing the default-mode answer."""
        if not ps or len(a) < 2:
            return None
        n = len(a) - 1
        w_us = f"(({ps[0]}) * 1000000L)"
        conds = ", ".join(f"cast({c} as boolean)" for c in a[1:])
        if len(ps) > 1:
            modes = [_lit_text(p, lits) for p in ps[1:]]
            known = {"'strict_order'", "'strict_dedup'", "'strict_increase'"}
            if any(m not in known for m in modes):
                return None
            if modes != ["'strict_increase'"]:
                return _window_funnel_strict(
                    n, w_us, a[0], conds,
                    strict_order="'strict_order'" in modes,
                    strict_dedup="'strict_dedup'" in modes,
                    strict_increase="'strict_increase'" in modes,
                )
            return (
                "aggregate("
                f"array_sort(collect_list(struct("
                f"unix_micros(cast({a[0]} as timestamp)) AS t, "
                f"array({conds}) AS cs))), "
                f"array_repeat(cast(null as struct<s: bigint, l: bigint>), {n}), "
                "(acc, e) -> transform(acc, (p, i) -> CASE "
                "WHEN i = 0 THEN IF(element_at(e.cs, 1), "
                "struct(e.t AS s, e.t AS l), p) "
                "WHEN element_at(e.cs, i + 1) "
                "AND element_at(acc, i) IS NOT NULL "
                f"AND e.t - element_at(acc, i).s <= {w_us} "
                "AND e.t > element_at(acc, i).l "
                "THEN IF(p IS NULL OR element_at(acc, i).s >= p.s, "
                "struct(element_at(acc, i).s AS s, e.t AS l), p) "
                "ELSE p END), "
                "st -> cast(size(filter(st, p -> p IS NOT NULL)) as int))"
            )
        return (
            "aggregate("
            f"array_sort(collect_list(struct("
            f"unix_micros(cast({a[0]} as timestamp)) AS t, "
            f"array({conds}) AS cs))), "
            f"array_repeat(cast(null as bigint), {n}), "
            "(acc, e) -> transform(acc, (s, i) -> CASE "
            "WHEN i = 0 THEN IF(element_at(e.cs, 1), "
            "greatest(coalesce(s, e.t), e.t), s) "
            "WHEN element_at(e.cs, i + 1) "
            "AND element_at(acc, i) IS NOT NULL "
            f"AND e.t - element_at(acc, i) <= {w_us} "
            "THEN greatest(coalesce(s, element_at(acc, i)), "
            "element_at(acc, i)) "
            "ELSE s END), "
            "st -> cast(size(filter(st, s -> s IS NOT NULL)) as int))"
        )

    out = _rewrite_param_calls(out, "windowFunnel", _window_funnel)

    def _retention(a: list[str]) -> str | None:
        # r[1] = c1 ever held; r[i>1] = (c1 ever) AND (ci ever)
        if len(a) < 1:
            return None
        first = f"max(CASE WHEN {a[0]} THEN 1 ELSE 0 END)"
        parts = [f"cast({first} as int)"] + [
            f"cast({first} * max(CASE WHEN {c} THEN 1 ELSE 0 END) as int)"
            for c in a[1:]
        ]
        return f"array({', '.join(parts)})"

    out = _rewrite_calls(out, "retention", _retention)

    def _group_array_sorted(ps: list[str], a: list[str]) -> str | None:
        if not ps or len(a) != 1:
            return None
        return f"slice(array_sort(collect_list({a[0]})), 1, {ps[0]})"

    out = _rewrite_param_calls(out, "groupArraySorted", _group_array_sorted)
    # anyHeavy is CH's APPROXIMATE majority pick — mode() is the
    # deterministic analogue (documented drift; ties differ)
    out = _rewrite_calls(out, "anyHeavy", lambda a: f"mode({a[0]})")
    out = _rewrite_calls(
        out,
        "sumCount",
        lambda a: f"struct(sum({a[0]}) AS col1, count({a[0]}) AS col2)",
    )
    # slope between the min-x and max-x points
    out = _rewrite_calls(
        out,
        "boundingRatio",
        lambda a: (
            f"((max_by({a[1]}, {a[0]}) - min_by({a[1]}, {a[0]})) "
            f"/ (max({a[0]}) - min({a[0]})))"
        ),
    )
    # Spark skewness/kurtosis are the POPULATION g1 / excess-g2:
    # skewPop maps directly; CH kurtPop is NON-excess (g2 + 3); the
    # Samp forms apply the standard bias corrections
    out = _rewrite_calls(out, "skewPop", lambda a: f"skewness({a[0]})")
    out = _rewrite_calls(out, "kurtPop", lambda a: f"(kurtosis({a[0]}) + 3.0)")
    out = _rewrite_calls(
        out,
        "skewSamp",
        lambda a: (
            f"(skewness({a[0]}) * sqrt(count({a[0]}) * (count({a[0]}) - 1.0))"
            f" / (count({a[0]}) - 2.0))"
        ),
    )
    # CH simpleLinearRegression(x, y) → (k, b) of y = kx + b
    out = _rewrite_calls(
        out,
        "simpleLinearRegression",
        lambda a: (
            f"struct(regr_slope({a[1]}, {a[0]}) AS col1, "
            f"regr_intercept({a[1]}, {a[0]}) AS col2)"
        ),
    )
    out = _rewrite_calls(out, "medianExact", lambda a: f"percentile({a[0]}, 0.5)")
    # the *Stable suffix picks a numerically-stable algorithm in CH —
    # same math; Spark's implementations are already compensated
    for ch_fn, spark_fn in (
        ("corrStable", "corr"),
        ("covarPopStable", "covar_pop"),
        ("covarSampStable", "covar_samp"),
        ("stddevPopStable", "stddev_pop"),
        ("stddevSampStable", "stddev_samp"),
        ("varPopStable", "var_pop"),
        ("varSampStable", "var_samp"),
    ):
        out = _rewrite_calls(
            out, ch_fn, lambda a, f=spark_fn: f"{f}({', '.join(a)})"
        )
    # ---- URL-family completion (domain/protocol/path/queryString/
    # extractURLParameter/cutQueryString live in the earlier URL
    # block; these are the round-7 additions) ----
    out = _rewrite_calls(
        out,
        "domainWithoutWWW",
        lambda a: (
            f"regexp_replace(parse_url({a[0]}, {lit('HOST')}), "
            f"{lit('^www' + chr(92) * 2 + '.')}, {lit('')})"
        ),
    )
    out = _rewrite_calls(
        out,
        "topLevelDomain",
        lambda a: (
            f"element_at(split(parse_url({a[0]}, {lit('HOST')}), "
            f"{lit(chr(92) * 2 + '.')}), -1)"
        ),
    )
    # CH pathFull = path + query string + FRAGMENT (review r7)
    out = _rewrite_calls(
        out,
        "pathFull",
        lambda a: (
            f"concat(parse_url({a[0]}, {lit('PATH')}), "
            f"coalesce(concat({lit('?')}, parse_url({a[0]}, {lit('QUERY')})), {lit('')}), "
            f"regexp_extract({a[0]}, {lit('#.*$')}, 0))"
        ),
    )
    out = _rewrite_calls(
        out, "cutFragment", lambda a: f"substring_index({a[0]}, {lit('#')}, 1)"
    )
    # URL codecs (batch 28 fixed a silent drift here): Spark's
    # url_encode/url_decode are Java FORM codecs — space↔'+', '*'
    # kept, '~' encoded — while CH's Component forms are RFC-3986
    # percent codecs (space→%20, '+' literal, unreserved -_.~ kept).
    # Every delta is patched char-exactly; pinned against Python's
    # urllib.parse.quote/quote_plus/unquote in test_units.
    out = _rewrite_calls(
        out, "decodeURLComponent",
        # '+' must SURVIVE (CH leaves it); protect before url_decode
        lambda a: (
            f"url_decode(replace({a[0]}, " + lit("+") + ", "
            + lit("%2B") + "))"
        ),
    )
    out = _rewrite_calls(
        out, "decodeURLFormComponent",
        lambda a: f"url_decode({a[0]})",
    )
    out = _rewrite_calls(
        out, "encodeURLComponent",
        lambda a: (
            "replace(replace(replace(url_encode(" + a[0] + "), "
            + lit("+") + ", " + lit("%20") + "), "
            + lit("*") + ", " + lit("%2A") + "), "
            + lit("%7E") + ", " + lit("~") + ")"
        ),
    )
    out = _rewrite_calls(
        out, "encodeURLFormComponent",
        lambda a: (
            "replace(replace(url_encode(" + a[0] + "), "
            + lit("*") + ", " + lit("%2A") + "), "
            + lit("%7E") + ", " + lit("~") + ")"
        ),
    )
    # cutWWW: at most one leading 'www.' comes off the domain
    out = _rewrite_calls(
        out, "cutWWW",
        lambda a: (
            f"regexp_replace({a[0]}, "
            + lit("^((?:[A-Za-z][A-Za-z0-9+.-]*://)?)www\\\\.")
            + ", " + lit("$1") + ")"
            if len(a) == 1 else None
        ),
    )
    # URL parameter lists from the query string ('' query → empty
    # array, matching CH)
    out = _rewrite_calls(
        out, "extractURLParameters",
        lambda a: (
            f"filter(split(coalesce(parse_url({a[0]}, "
            + lit("QUERY") + "), " + lit("") + "), " + lit("&")
            + "), __p -> __p != " + lit("") + ")"
            if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out, "extractURLParameterNames",
        lambda a: (
            f"transform(filter(split(coalesce(parse_url({a[0]}, "
            + lit("QUERY") + "), " + lit("") + "), " + lit("&")
            + "), __p -> __p != " + lit("") + "), "
            + "__p -> substring_index(__p, " + lit("=") + ", 1))"
            if len(a) == 1 else None
        ),
    )

    # ---- dictGet family (registry-resolved) ----
    def _dict_key(a0: str) -> tuple[str, str] | None:
        name = _lit_text(a0, lits)
        if name is None:
            return None
        name = name.strip("'")
        key = _DICTIONARIES.get(name)
        return (name, key) if key else None

    def _dict_get(a: list[str]) -> str | None:
        # DOCUMENTED DRIFT: a key MISS yields NULL, not CH's
        # attribute-type default ('' / 0) — the attribute's type is
        # unknown at translate time. Callers needing the CH miss
        # value should use dictGetOrDefault with an explicit default.
        if len(a) != 3:
            return None
        dk = _dict_key(a[0])
        attr = _lit_text(a[1], lits)
        if dk is None or attr is None:
            return None
        name, key = dk
        return f"(SELECT {attr.strip(chr(39))} FROM {name} WHERE {key} = ({a[2]}))"

    def _dict_get_default(a: list[str]) -> str | None:
        if len(a) != 4:
            return None
        dk = _dict_key(a[0])
        attr = _lit_text(a[1], lits)
        if dk is None or attr is None:
            return None
        name, key = dk
        # struct-wrap the scalar subquery so a PRESENT key whose
        # stored attribute is NULL returns that NULL (CH applies the
        # default only on key MISS); a bare coalesce over the scalar
        # cannot distinguish no-row from NULL-value. Still ONE
        # subquery → one decorrelated join.
        return (
            f"coalesce((SELECT named_struct('v', {attr.strip(chr(39))}) "
            f"FROM {name} WHERE {key} = ({a[2]})), "
            f"named_struct('v', ({a[3]}))).v"
        )

    def _dict_has(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        dk = _dict_key(a[0])
        if dk is None:
            return None
        name, key = dk
        # scalar COUNT subquery: usable in any expression position
        # (EXISTS is predicate-position-only in Spark)
        return (
            f"((SELECT count(*) FROM {name} WHERE {key} = ({a[1]})) > 0)"
        )

    out = _rewrite_calls(out, "dictGetOrDefault", _dict_get_default)
    out = _rewrite_calls(out, "dictGet", _dict_get)
    out = _rewrite_calls(out, "dictHas", _dict_has)

    # ---- round-7 geo mini-batch ----
    # CH type names differ from Spark's (UInt32 vs int) — documented
    # naming drift; the introspection shape is what callers need
    out = _rewrite_calls(out, "toTypeName", lambda a: f"typeof({a[0]})")

    def _haversine(radius: str):
        # CH argument order: (lon1, lat1, lon2, lat2), meters out.
        # Haversine on a sphere — geoDistance's WGS-84 correction is
        # ~0.3% at most; documented approximation drift. radians()/
        # sin/cos are libm doubles: deterministic per engine but NOT
        # bit-identical across engines, so these are unit-tested with
        # tolerance, never value-hash-gated.
        def render(a: list[str]) -> str | None:
            if len(a) != 4:
                return None
            lon1, lat1, lon2, lat2 = a
            return (
                f"(2.0 * {radius} * asin(sqrt("
                f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
                f"cos(radians({lat1})) * cos(radians({lat2})) * "
                f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
            )

        return render

    out = _rewrite_calls(out, "greatCircleDistance", _haversine("6371008.8"))
    out = _rewrite_calls(out, "geoDistance", _haversine("6371008.8"))

    def _great_circle_angle(a: list[str]) -> str | None:
        # central angle in DEGREES — the same haversine with the
        # radius factored out
        if len(a) != 4:
            return None
        lon1, lat1, lon2, lat2 = a
        return (
            f"degrees(2.0 * asin(sqrt("
            f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2) + "
            f"cos(radians({lat1})) * cos(radians({lat2})) * "
            f"pow(sin(radians(({lon2}) - ({lon1})) / 2), 2))))"
        )

    out = _rewrite_calls(out, "greatCircleAngle", _great_circle_angle)

    def _point_in_ellipses(a: list[str]) -> str | None:
        # pointInEllipses(x, y, x1, y1, a1, b1, …): 1 when the point
        # is inside ANY of the axis-aligned ellipses
        if len(a) < 6 or (len(a) - 2) % 4 != 0:
            return None
        x, y = a[0], a[1]
        terms = []
        for i in range(2, len(a), 4):
            xi, yi, ai, bi = a[i : i + 4]
            terms.append(
                f"(pow((({x}) - ({xi})) / ({ai}), 2) + "
                f"pow((({y}) - ({yi})) / ({bi}), 2) <= 1.0)"
            )
        return f"(CASE WHEN {' OR '.join(terms)} THEN 1 ELSE 0 END)"

    out = _rewrite_calls(out, "pointInEllipses", _point_in_ellipses)

    def _geohash_encode(a: list[str]) -> str | None:
        # closed-form bit expansion (no fold state): interleaved bit j
        # is floor((coord + span/2) * 2^(k+1) / span) % 2 with k = the
        # coordinate's own bit index — every operation is a plain
        # IEEE double product/floor, identical across engines, so the
        # encoding IS value-hash-gateable (unlike trig)
        if len(a) not in (2, 3):
            return None
        lon, lat = a[0], a[1]
        # CH clamps out-of-range precision to 12 (and 0/negative
        # would make Spark's sequence() run DESCENDING, emitting
        # garbage bits) — clamp exactly like CH does
        prec = (
            f"(CASE WHEN ({a[2]}) BETWEEN 1 AND 12 "
            f"THEN cast(({a[2]}) as int) ELSE 12 END)"
            if len(a) == 3
            else "12"
        )
        b32 = lit("0123456789bcdefghjkmnpqrstuvwxyz")
        bit = (
            "CASE WHEN (5 * c + b) % 2 = 0 THEN "
            f"cast(floor((({lon}) + 180.0D) * power(2.0D, "
            "cast((5 * c + b) div 2 + 1 as double)) / 360.0D) as bigint) % 2 "
            "ELSE "
            f"cast(floor((({lat}) + 90.0D) * power(2.0D, "
            "cast((5 * c + b) div 2 + 1 as double)) / 180.0D) as bigint) % 2 "
            "END"
        )
        return (
            f"concat_ws({lit('')}, transform(sequence(0, " + prec + " - 1), "
            "c -> substring(" + b32 + ", cast(aggregate(transform(sequence(0, 4), "
            f"b -> ({bit}) * shiftleft(1, 4 - b)), 0L, (acc, v) -> acc + v) "
            "as int) + 1, 1)))"
        )

    out = _rewrite_calls(out, "geohashEncode", _geohash_encode)

    def _geohash_decode(a: list[str]) -> str | None:
        # r11 (was documented-loud): inverse of the closed-form
        # encoder — de-interleave the 5·len base32 bits (even global
        # positions → longitude, odd → latitude), fold each bit
        # string to an integer, return the CELL CENTER like CH:
        # coord = lo + span · (value + 0.5) / 2^nbits. Every op is
        # integer folds + one IEEE divide — value-hash-gateable.
        # Tuple result follows the struct(col1, col2) convention.
        if len(a) != 1:
            return None
        s = a[0]
        b32 = lit("0123456789bcdefghjkmnpqrstuvwxyz")
        bit = (
            f"(instr({b32}, substring({s}, cast(j div 5 as int) + 1, 1))"
            f" - 1) div shiftleft(1, 4 - cast(j % 5 as int)) % 2"
        )

        def fold(par: int) -> str:
            return (
                f"aggregate(filter(sequence(0, 5 * char_length({s}) - 1),"
                f" j -> j % 2 = {par}), 0L, (acc, j) -> acc * 2 + ({bit}))"
            )

        nlon = f"cast((5 * char_length({s}) + 1) div 2 as double)"
        nlat = f"cast((5 * char_length({s})) div 2 as double)"
        lon = (
            f"(-180.0D + 360.0D * (cast({fold(0)} as double) + 0.5D)"
            f" / power(2.0D, {nlon}))"
        )
        lat = (
            f"(-90.0D + 180.0D * (cast({fold(1)} as double) + 0.5D)"
            f" / power(2.0D, {nlat}))"
        )
        return (
            f"(CASE WHEN char_length({s}) = 0"
            f" THEN struct(0.0D AS col1, 0.0D AS col2)"
            f" ELSE struct({lon} AS col1, {lat} AS col2) END)"
        )

    out = _rewrite_calls(out, "geohashDecode", _geohash_decode)

    # ---- round-7 batch #6: array/string/date/IP/tuple completion.
    # Every name is a CH-only identifier (no Spark collision) except
    # where arity-guarded; `range` is deliberately NOT rewritten —
    # `FROM range(10)` is valid Spark (table function) and a blanket
    # rewrite would corrupt already-ANSI text. ----
    # lambda-first: 1-based index of the first match, 0 when none
    out = _rewrite_calls(
        out,
        "arrayFirstIndex",
        lambda a: (
            f"coalesce(array_position(transform({a[1]}, {a[0]}), true), 0)"
            if len(a) == 2
            else None
        ),
    )
    # consecutive-duplicate collapse: keep element i when it differs
    # from its predecessor (filter's index is 0-based; element_at's
    # 1-based lookup at i IS the predecessor)
    out = _rewrite_calls(
        out,
        "arrayCompact",
        lambda a: (
            f"filter({a[0]}, (x, i) -> i = 0 OR "
            f"NOT (x <=> element_at({a[0]}, i)))"
        ),
    )
    # CH arg order is (length, elem); array_repeat's is (elem, n)
    out = _rewrite_calls(
        out,
        "arrayWithConstant",
        lambda a: f"array_repeat({a[1]}, cast({a[0]} as int))",
    )
    # (arrayReverseSort — incl. the lambda-key form — rewrites in the
    # arraySort block, batch 31)

    def _rotate(left: bool):
        def render(a: list[str]) -> str | None:
            if len(a) != 2:
                return None
            arr, n = a
            # left rotation by k ≡ slice(k+1..) ++ slice(1..k); right
            # rotation is left by size-k; pmod normalizes negatives
            k = (
                f"pmod({n}, size({arr}))"
                if left
                else f"pmod(size({arr}) - pmod({n}, size({arr})), size({arr}))"
            )
            return (
                f"(CASE WHEN size({arr}) <= 1 THEN {arr} ELSE "
                f"concat(slice({arr}, {k} + 1, size({arr}) - {k}), "
                f"slice({arr}, 1, {k})) END)"
            )

        return render

    out = _rewrite_calls(out, "arrayRotateLeft", _rotate(True))
    out = _rewrite_calls(out, "arrayRotateRight", _rotate(False))
    # runs of whitespace, no empty tokens (CH contract); the optional
    # max_substrings used to be silently DROPPED (batch 23 fix) — it
    # caps the token count after empty-filtering, remainder dropped
    out = _rewrite_calls(
        out,
        "splitByWhitespace",
        lambda a: (
            _split_cap(
                f"filter(split({a[0]}, {lit(chr(92) * 2 + 's+')}), "
                f"x -> x != {lit('')})",
                a[1] if len(a) > 1 else None,
            )
            if len(a) in (1, 2) else None
        ),
    )
    out = _rewrite_calls(
        out, "substringIndex", lambda a: f"substring_index({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "levenshteinDistance", lambda a: f"levenshtein({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "editDistance", lambda a: f"levenshtein({', '.join(a)})"
    )
    out = _rewrite_calls(out, "generateUUIDv4", lambda a: "uuid()")
    out = _rewrite_calls(out, "toLastDayOfMonth", lambda a: f"last_day({a[0]})" if len(a) == 1 else None)
    for mins, nm in ((5, "toStartOfFiveMinutes"), (10, "toStartOfTenMinutes"),
                     (15, "toStartOfFifteenMinutes")):
        out = _rewrite_calls(
            out,
            nm,
            lambda a, w=mins * 60: (
                f"timestamp_seconds((unix_timestamp({a[0]}) div {w}) * {w})"
                if len(a) == 1 else None
            ),
        )
    # Spark weekofyear IS the ISO-8601 week number
    out = _rewrite_calls(out, "toISOWeek", lambda a: f"weekofyear({a[0]})" if len(a) == 1 else None)
    out = _rewrite_calls(
        out, "monthName",
        lambda a: (f"date_format({a[0]}, {lit('MMMM')})"
                   if len(a) == 1 else None),
    )

    _DATE_NAME_FMT = {
        "year": "yyyy", "quarter": "q", "month": "MMMM",
        "week": "w", "day": "d", "weekday": "EEEE",
        "hour": "H", "minute": "m", "second": "s",
    }

    def _date_name(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        part = _lit_text(a[0], lits)  # raw literal WITH quotes
        fmt = _DATE_NAME_FMT.get((part or "").strip("'").lower())
        if fmt is None:
            return None
        return f"date_format({a[1]}, {lit(fmt)})"

    out = _rewrite_calls(out, "dateName", _date_name)
    out = _rewrite_calls(
        out,
        "moduloOrZero",
        lambda a: f"(CASE WHEN ({a[1]}) = 0 THEN 0 ELSE ({a[0]}) % ({a[1]}) END)",
    )
    out = _rewrite_calls(
        out,
        "IPv4NumToString",
        lambda a: (
            f"concat(cast((({a[0]}) div 16777216) % 256 as string), {lit('.')}, "
            f"cast((({a[0]}) div 65536) % 256 as string), {lit('.')}, "
            f"cast((({a[0]}) div 256) % 256 as string), {lit('.')}, "
            f"cast(({a[0]}) % 256 as string))"
        ),
    )
    out = _rewrite_calls(
        out,
        "IPv4StringToNum",
        lambda a: (
            f"aggregate(transform(split({a[0]}, {lit(chr(92) * 2 + '.')}), "
            f"x -> cast(x as bigint)), 0L, (acc, v) -> acc * 256 + v)"
        ),
    )
    # CH tuple ≡ Spark struct, with EXPLICIT positional field names:
    # Spark's auto-naming keeps a bare column's own name (struct(x) →
    # field "x", not col1), so tupleElement's positional access only
    # works if the rewrite pins col1..colN itself
    out = _rewrite_calls(
        out,
        "tuple",
        lambda a: (
            "struct("
            + ", ".join(f"{arg} AS col{i + 1}" for i, arg in enumerate(a))
            + ")"
        ),
    )

    def _tuple_element(a: list[str]) -> str | None:
        if len(a) != 2 or not re.fullmatch(r"\s*\d+\s*", a[1]):
            return None
        return f"({a[0]}.col{a[1].strip()})"

    out = _rewrite_calls(out, "tupleElement", _tuple_element)
    # outermost object/array cardinality
    out = _rewrite_calls(
        out,
        "JSONLength",
        lambda a: (
            f"coalesce(json_array_length({a[0]}), "
            f"size(json_object_keys({a[0]})))"
            if len(a) == 1
            else None
        ),
    )

    # ---- round-7 batch #8: silent-drift fixes + string/array/cast
    # completion. The first three are the dangerous kind: valid Spark
    # names with DIFFERENT semantics, so pass-through ran without
    # error and returned wrong values. ----
    # CH position(haystack, needle[, start]) — Spark's position() has
    # the arguments REVERSED (substr first), so pass-through silently
    # searched the needle for the haystack. positionUTF8 counts CODE
    # POINTS → instr/locate match its order and 1-based/0-on-miss
    # contract exactly. Bare position counts BYTES (batch 23): the
    # char hit converts to a byte index via the prefix's octet_length
    # (first occurrence by chars == first by bytes — UTF-8 positions
    # are monotone). The 3-arg byte start slices the byte tail through
    # a binary substring; a start that splits a code point decodes
    # lossily here where CH searches raw bytes — documented drift on a
    # degenerate input (CH itself returns garbage-prefixed matches).
    out = _rewrite_calls(
        out,
        "positionUTF8",
        lambda a: (
            f"instr({a[0]}, {a[1]})"
            if len(a) == 2
            else f"locate({a[1]}, {a[0]}, {a[2]})"
            if len(a) == 3
            else None
        ),
    )

    def _pos_bytes_expr(h: str, n: str) -> str:
        hit = f"instr({h}, {n})"
        return (
            f"(CASE WHEN {hit} = 0 THEN 0 ELSE "
            f"octet_length(substring({h}, 1, {hit} - 1)) + 1 END)"
        )

    def _pos_bytes(a: list[str]) -> str | None:
        if len(a) == 2:
            return _pos_bytes_expr(a[0], a[1])
        if len(a) == 3:
            tail = (
                f"cast(substring(cast({a[0]} as binary), {a[2]}, "
                f"2147483647) as string)"
            )
            inner = _pos_bytes_expr(tail, a[1])
            return (
                f"(CASE WHEN {inner} = 0 THEN 0 "
                f"ELSE cast({a[2]} as int) - 1 + {inner} END)"
            )
        return None  # `position(n IN h)` single-arg ANSI form is fine as-is

    out = _rewrite_calls(out, "position", _pos_bytes)
    # Spark has date_trunc but NOT dateTrunc — same args, rename only
    out = _rewrite_calls(
        out,
        "dateTrunc",
        lambda a: f"date_trunc({a[0]}, {a[1]})" if len(a) == 2 else None,
    )
    # CH two-arg CAST(x, 'Type'); ANSI CAST(x AS t) is ONE arg (no
    # depth-0 comma) and passes through untouched. accurateCast is
    # CH's checked cast — Spark ANSI-mode cast is the analogue;
    # accurateCastOrNull ≡ try_cast.
    _CH_TYPE_NAMES = {
        "String": "string", "Int8": "int", "Int16": "int",
        "Int32": "int", "Int64": "bigint", "UInt8": "int",
        "UInt16": "int", "UInt32": "bigint", "UInt64": "bigint",
        "Float32": "float", "Float64": "double", "Date": "date",
        "Date32": "date", "DateTime": "timestamp",
        "DateTime64": "timestamp", "Bool": "boolean",
    }

    def _ch_type_to_spark(name: str) -> str | None:
        name = name.strip()
        m = re.fullmatch(r"(?i)Nullable\s*\((.*)\)", name)
        if m:  # Spark types are always nullable
            name = m.group(1).strip()
        m = re.fullmatch(r"(?i)Decimal\s*\((\s*\d+\s*,\s*\d+\s*)\)", name)
        if m:
            return f"decimal({m.group(1)})"
        return _CH_TYPE_NAMES.get(name)

    def _cast_fn(spark_cast: str):
        def render(a: list[str]) -> str | None:
            if len(a) != 2:
                return None
            ty_lit = _lit_text(a[1], lits)
            if ty_lit is None:
                return None
            ty = _ch_type_to_spark(ty_lit.strip("'"))
            if ty is None:
                return None  # unknown type name: loud error beats a guess
            return f"{spark_cast}({a[0]} as {ty})"

        return render

    out = _rewrite_calls(out, "accurateCastOrNull", _cast_fn("try_cast"))
    out = _rewrite_calls(out, "accurateCast", _cast_fn("cast"))
    out = _rewrite_calls(out, "CAST", _cast_fn("cast"))
    # toRelative*Num: monotone epoch-relative ordinals (CH's exact
    # fixed points: year/quarter/month are calendar ordinals,
    # day/hour/minute/second are unix-epoch divisions). Week is
    # deliberately omitted — CH's week ordinal has a +8-day phase
    # constant best left untranslated until a query needs it.
    out = _rewrite_calls(out, "toRelativeYearNum", lambda a: f"year({a[0]})")
    out = _rewrite_calls(
        out,
        "toRelativeQuarterNum",
        lambda a: f"(year({a[0]}) * 4 + quarter({a[0]}) - 1)",
    )
    out = _rewrite_calls(
        out,
        "toRelativeMonthNum",
        lambda a: f"(year({a[0]}) * 12 + month({a[0]}))",
    )
    out = _rewrite_calls(
        out,
        "toRelativeDayNum",
        lambda a: f"datediff({a[0]}, cast({lit('1970-01-01')} as date))",
    )
    out = _rewrite_calls(
        out,
        "toRelativeHourNum",
        lambda a: f"(unix_timestamp({a[0]}) div 3600)",
    )
    out = _rewrite_calls(
        out,
        "toRelativeMinuteNum",
        lambda a: f"(unix_timestamp({a[0]}) div 60)",
    )
    out = _rewrite_calls(
        out, "toRelativeSecondNum", lambda a: f"unix_timestamp({a[0]})"
    )
    # CH regex extract(haystack, pattern): first capture group when
    # the pattern has one, whole match otherwise. Group presence is
    # decidable only for a LITERAL pattern; non-literal patterns pass
    # through (loud unresolved-function error beats guessing the
    # group). ANSI `extract(YEAR FROM d)` is one arg → untouched.
    def _ch_extract(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        pat_lit = _lit_text(a[1], lits)
        if pat_lit is None:
            return None
        body = pat_lit.strip("'")
        # an unescaped '(' not opening a non-capturing/lookaround
        # group means group 1 exists
        has_group = bool(re.search(r"(?<!\\)\((?!\?)", body))
        return f"regexp_extract({a[0]}, {a[1]}, {1 if has_group else 0})"

    out = _rewrite_calls(out, "extract", _ch_extract)
    # typed empty-array constructors
    for _ch_t, _sp_t in _CH_TYPE_NAMES.items():
        out = _rewrite_calls(
            out,
            f"emptyArray{_ch_t}",
            # an empty call parses as [""] (one empty arg), not []
            lambda a, ty=_sp_t: (
                f"cast(array() as array<{ty}>)"
                if len(a) == 1 and not a[0]
                else None
            ),
        )
    # Nullable wrapper is a no-op in Spark (all types nullable)
    out = _rewrite_calls(out, "toNullable", lambda a: f"({a[0]})")
    # runs of ASCII letters / alphanumerics
    out = _rewrite_calls(
        out,
        "alphaTokens",
        # optional max_substrings caps the token count (was silently
        # dropped — batch 23 fix)
        lambda a: (
            _split_cap(
                f"filter(split({a[0]}, {lit('[^A-Za-z]+')}), "
                f"x -> x != {lit('')})",
                a[1] if len(a) > 1 else None,
            )
            if len(a) in (1, 2) else None
        ),
    )
    out = _rewrite_calls(
        out,
        "tokens",
        lambda a: (
            f"filter(split({a[0]}, {lit('[^A-Za-z0-9]+')}), "
            f"x -> x != {lit('')})"
            if len(a) == 1
            else None
        ),
    )
    # character n-grams; the trailing length filter absorbs the
    # shorter-than-n case (sequence stays ascending via greatest)
    out = _rewrite_calls(
        out,
        "ngrams",
        lambda a: (
            f"filter(transform(sequence(1, greatest(char_length({a[0]}) - "
            f"({a[1]}) + 1, 1)), i -> substring({a[0]}, i, {a[1]})), "
            f"x -> char_length(x) = ({a[1]}))"
            if len(a) == 2
            else None
        ),
    )
    # occurrence ordinal of each element among its equals so far:
    # count of null-safe matches in the prefix INCLUDING self.
    # O(n²) per array — same complexity CH pays with its hash map at
    # these arity-bounded array sizes.
    out = _rewrite_calls(
        out,
        "arrayEnumerateUniq",
        lambda a: (
            f"transform({a[0]}, (x, i) -> "
            f"size(filter(slice({a[0]}, 1, i + 1), y -> y <=> x)))"
            if len(a) == 1
            else None
        ),
    )
    # same documented role-drift as cityHash64/sipHash64: a 64-bit
    # uniform hash, not CH's exact bit pattern
    for _h in ("farmHash64", "farmFingerprint64", "metroHash64", "halfMD5",
               "murmurHash2_64", "murmurHash3_64", "gccMurmurHash",
               "intHash64"):
        out = _rewrite_calls(
            out, _h, lambda a: f"xxhash64({', '.join(a)})"
        )
    # 32-bit variants keep the UInt32 RANGE (their common use is
    # modulo bucketing): uniform fold of the 64-bit hash
    for _h in ("murmurHash2_32", "murmurHash3_32", "intHash32"):
        out = _rewrite_calls(
            out, _h,
            lambda a: f"pmod(xxhash64({', '.join(a)}), 4294967296)",
        )

    # ---- batch 27 (r10 sweep closures) ----
    # positiveModulo ≡ pmod exactly (result sign follows the divisor
    # magnitude, always non-negative)
    for _pm in ("positiveModulo", "positive_modulo"):
        out = _rewrite_calls(
            out, _pm,
            lambda a: f"pmod({a[0]}, {a[1]})" if len(a) == 2 else None,
        )
    out = _rewrite_calls(
        out, "nanIfNull",
        lambda a: (
            f"IF({a[0]} IS NULL, cast({lit('NaN')} as double), {a[0]})"
            if len(a) == 1 else None
        ),
    )
    # case-insensitive countMatches: the (?i) inline flag; constant
    # patterns fold, non-constant ones fail loudly (Spark requires a
    # foldable regexp) — same contract as the base form
    out = _rewrite_calls(
        out, "countMatchesCaseInsensitive",
        lambda a: (
            f"size(regexp_extract_all({a[0]}, "
            f"concat({lit('(?i)')}, {a[1]}), 0))"
            if len(a) == 2 else None
        ),
    )
    # substringIndexUTF8 ≡ Spark's substring_index (code-point units)
    out = _rewrite_calls(
        out, "substringIndexUTF8",
        lambda a: (
            f"substring_index({', '.join(a)})" if len(a) == 3 else None
        ),
    )
    # LowCardinality is a storage-encoding annotation — identity here
    out = _rewrite_calls(
        out, "toLowCardinality",
        lambda a: f"({a[0]})" if len(a) == 1 else None,
    )
    # Spark strings are validated on read (invalid bytes already
    # replaced), so every non-NULL string IS valid UTF-8 — the same
    # reasoning as the toValidUTF8 identity
    out = _rewrite_calls(
        out, "isValidUTF8",
        lambda a: (
            f"IF({a[0]} IS NULL, cast(NULL as int), 1)"
            if len(a) == 1 else None
        ),
    )
    # UTCTimestamp(): the current instant as a UTC wall clock
    out = _rewrite_calls(
        out, "UTCTimestamp",
        lambda a: (
            "to_utc_timestamp(current_timestamp(), current_timezone())"
            if not any(x.strip() for x in a) else None
        ),
    )
    # timeDiff(a, b) ≡ dateDiff('second', a, b): second-boundary
    # difference, b minus a
    out = _rewrite_calls(
        out, "timeDiff",
        lambda a: (
            f"(unix_timestamp({a[1]}) - unix_timestamp({a[0]}))"
            if len(a) == 2 else None
        ),
    )
    # ULID: first 10 chars are the Crockford-base32 48-bit unix
    # millisecond timestamp (tz display arg stays loud; invalid
    # alphabet chars are undefined — CH throws)
    out = _rewrite_calls(
        out, "ULIDStringToDateTime",
        lambda a: (
            f"timestamp_millis(aggregate(sequence(1, 10), 0L, "
            f"(__ua, __ui) -> __ua * 32 + locate(substring(ucase({a[0]}),"
            f" __ui, 1), "
            + lit("0123456789ABCDEFGHJKMNPQRSTVWXYZ")
            + ") - 1))"
            if len(a) == 1 else None
        ),
    )
    # quoteMeta/regexpQuoteMeta: backslash before CH's exact meta set
    # \ | ( ) ^ $ . [ ] ? * + { : -  (the \0 byte can't appear in a
    # validated Spark string). The regex and replacement are built as
    # raw Java-level strings and SQL-escaped programmatically — the
    # double-escaping layers (Python → SQL literal → regex engine)
    # are exactly the batch-20 backslash trap.
    _qm_regex_java = r"([\\\[\]|()^$.?*+{:-])"
    _qm_sql = _qm_regex_java.replace("\\", "\\\\")
    _qm_repl_sql = r"\\$1".replace("\\", "\\\\")
    for _qm in ("regexpQuoteMeta", "quoteMeta"):
        out = _rewrite_calls(
            out, _qm,
            lambda a: (
                f"regexp_replace({a[0]}, "
                + lit(_qm_sql) + ", " + lit(_qm_repl_sql) + ")"
                if len(a) == 1 else None
            ),
        )

    # ---- batch 28 (r10 sweep wave 2) ----
    # arrayReduce over a CONSTANT aggregate name: per-row closed
    # forms. NULL elements are skipped (CH aggregate rule); sum/avg
    # carry the -Array combinators' documented double-widening; avg
    # of an all-NULL/empty array is NaN (CH's empty avg state).
    # Unknown aggregate names stay loud.
    def _array_reduce(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        agg = _lit_text(a[0], lits)
        if agg is None:
            return None
        agg = agg[1:-1].strip()
        arr = a[1]
        nn = f"filter({arr}, __ar -> __ar IS NOT NULL)"
        s = (
            f"aggregate({nn}, cast(0 as double), "
            f"(__aa, __ar) -> __aa + cast(__ar as double))"
        )
        cnt = f"size({nn})"
        forms = {
            "min": f"array_min({arr})",
            "max": f"array_max({arr})",
            "sum": s,
            "count": f"cast({cnt} as bigint)",
            "avg": (
                f"IF({cnt} = 0, cast({lit('NaN')} as double), "
                f"{s} / {cnt})"
            ),
            "any": f"try_element_at({nn}, 1)",
            "anyLast": f"try_element_at({nn}, -1)",
            "uniqExact": f"cast(size(array_distinct({nn})) as bigint)",
            "groupArray": nn,
        }
        return forms.get(agg)

    out = _rewrite_calls(out, "arrayReduce", _array_reduce)
    out = _rewrite_calls(
        out, "sigmoid",
        lambda a: (
            f"(1.0 / (1.0 + exp(-({a[0]}))))" if len(a) == 1 else None
        ),
    )
    # Spark timestamps are microsecond-grained, so the micro floor is
    # the identity and the nano floor coincides with it (documented
    # precision bound: DateTime64(9) inputs arrive already truncated)
    for _tsid in ("toStartOfMicrosecond", "toStartOfNanosecond"):
        out = _rewrite_calls(
            out, _tsid,
            lambda a: (
                f"cast({a[0]} as timestamp)" if len(a) == 1 else None
            ),
        )
    # median sketch aliases: same role rule as quantileTDigest/Timing
    for _md in ("medianTiming", "medianTDigest", "medianBFloat16",
                "medianDeterministic"):
        out = _rewrite_calls(
            out, _md,
            lambda a: f"approx_percentile({a[0]}, 0.5)",
        )
    out = _rewrite_calls(
        out, "currentDatabase",
        lambda a: (
            "current_database()" if not any(x.strip() for x in a)
            else None
        ),
    )
    out = _rewrite_calls(
        out, "currentUser",
        lambda a: (
            "current_user()" if not any(x.strip() for x in a) else None
        ),
    )

    # multiSearch position family: bare forms return BYTE positions
    # (batch-23 rule — octet_length of the matched char prefix), UTF8
    # forms return code-point positions, CaseInsensitive forms fold
    # ASCII only (translate maps) and the UTF8 CI forms fold Unicode
    # (lcase). FirstPosition = min nonzero, FirstIndex = 1-based
    # needle index of the leftmost match (position ties resolve to
    # the earlier needle via array_position on the positions array).
    def _ms_positions(
        hay: str, needles: str, ci_ascii: bool, ci_utf8: bool,
        byte_units: bool,
    ) -> str:
        h, n = hay, "__mn"
        if ci_ascii:
            fold_h = (
                f"translate({h}, " + lit(_ASCII_UP) + ", "
                + lit(_ASCII_LO) + ")"
            )
            fold_n = (
                f"translate({n}, " + lit(_ASCII_UP) + ", "
                + lit(_ASCII_LO) + ")"
            )
        elif ci_utf8:
            fold_h, fold_n = f"lcase({h})", f"lcase({n})"
        else:
            fold_h, fold_n = h, n
        cp = f"locate({fold_n}, {fold_h})"
        if byte_units:
            pos = (
                f"IF({cp} = 0, 0, octet_length(substring({fold_h}, 1, "
                f"{cp} - 1)) + 1)"
            )
        else:
            pos = cp
        return f"transform({needles}, {n} -> {pos})"

    def _multi_search(kind: str, ci_ascii: bool, ci_utf8: bool,
                      byte_units: bool):
        def render(a: list[str]) -> str | None:
            if len(a) != 2:
                return None
            ps = _ms_positions(a[0], a[1], ci_ascii, ci_utf8, byte_units)
            nz = f"array_min(filter({ps}, __mp -> __mp > 0))"
            if kind == "all":
                return ps
            if kind == "first_pos":
                return f"coalesce({nz}, 0)"
            return (
                f"coalesce(array_position({ps}, {nz}), 0)"
            )

        return render

    # ---- encrypt/decrypt/tryDecrypt (batch 28) ----
    # CH: encrypt('aes-<len>-<mode>', plain, key[, iv[, aad]]) returns
    # ciphertext (+16-byte tag for GCM) with the IV passed SEPARATELY;
    # Spark's aes_encrypt PREPENDS its IV (12 bytes GCM / 16 CBC), so
    # the emission slices it off, and decrypt re-prepends it. GCM's
    # tag authenticates the exact byte layout, so the round trip
    # proves the slicing (unit-pinned). PKCS padding matches CH's
    # PKCS7. The key LENGTH is enforced by Spark at runtime against
    # the key itself; CH additionally cross-checks it against the
    # mode string — a wrong-length key that CH would refuse can run
    # here under the key's own AES variant (documented; CH errors,
    # degenerate input). CTR/OFB/CFB and the *_mysql forms stay loud.
    def _aes(fn: str):
        def render(a: list[str]) -> str | None:
            if len(a) < 3:
                return None
            m = _lit_text(a[0], lits)
            if m is None:
                return None
            mm = re.fullmatch(
                r"(?i)'aes-(128|192|256)-(gcm|cbc|ecb)'", m.strip()
            )
            if not mm:
                return None
            mode = mm.group(2).lower()
            if mode == "ecb":
                if len(a) != 3:
                    return None
                if fn == "enc":
                    return (
                        f"aes_encrypt(cast({a[1]} as binary), "
                        f"cast({a[2]} as binary), "
                        + lit("ECB") + ", " + lit("PKCS") + ")"
                    )
                d = "aes_decrypt" if fn == "dec" else "try_aes_decrypt"
                return (
                    f"cast({d}(cast({a[1]} as binary), "
                    f"cast({a[2]} as binary), "
                    + lit("ECB") + ", " + lit("PKCS") + ") as string)"
                )
            if mode == "cbc":
                if len(a) != 4:
                    return None
                if fn == "enc":
                    return (
                        f"cast(substring(aes_encrypt(cast({a[1]} as "
                        f"binary), cast({a[2]} as binary), "
                        + lit("CBC") + ", " + lit("PKCS")
                        + f", cast({a[3]} as binary)), 17) as binary)"
                    )
                d = "aes_decrypt" if fn == "dec" else "try_aes_decrypt"
                return (
                    f"cast({d}(concat(cast({a[3]} as binary), "
                    f"cast({a[1]} as binary)), cast({a[2]} as binary), "
                    + lit("CBC") + ", " + lit("PKCS") + ") as string)"
                )
            # gcm: optional aad
            if len(a) not in (4, 5):
                return None
            aad = f", cast({a[4]} as binary)" if len(a) == 5 else ""
            if fn == "enc":
                return (
                    f"cast(substring(aes_encrypt(cast({a[1]} as binary),"
                    f" cast({a[2]} as binary), " + lit("GCM") + ", "
                    + lit("DEFAULT") + f", cast({a[3]} as binary)"
                    + aad + "), 13) as binary)"
                )
            d = "aes_decrypt" if fn == "dec" else "try_aes_decrypt"
            return (
                f"cast({d}(concat(cast({a[3]} as binary), "
                f"cast({a[1]} as binary)), cast({a[2]} as binary), "
                + lit("GCM") + ", " + lit("DEFAULT") + aad
                + ") as string)"
            )

        return render

    out = _rewrite_calls(out, "encrypt", _aes("enc"))
    out = _rewrite_calls(out, "tryDecrypt", _aes("try"))
    out = _rewrite_calls(out, "decrypt", _aes("dec"))

    # ---- batch 29 (r10 sweep wave 3) ----
    # mapSort by key: struct sort on entries orders by the first
    # field (the key); keys are unique so no tiebreak is needed
    out = _rewrite_calls(
        out, "mapSort",
        lambda a: (
            f"map_from_entries(array_sort(map_entries({a[0]})))"
            if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out, "isNotDistinctFrom",
        lambda a: f"({a[0]} <=> {a[1]})" if len(a) == 2 else None,
    )
    # last 1-based index where the lambda holds, 0 when none
    out = _rewrite_calls(
        out, "arrayLastIndex",
        lambda a: (
            f"(CASE WHEN coalesce(array_position(reverse(transform("
            f"{a[1]}, {a[0]})), true), 0) = 0 THEN 0 ELSE "
            f"size({a[1]}) - array_position(reverse(transform("
            f"{a[1]}, {a[0]})), true) + 1 END)"
            if len(a) == 2 else None
        ),
    )
    # *_respect_nulls spellings: Spark's any_value/first_value/
    # last_value default ignoreNulls=false — already respecting
    for _rn, _tgt in (
        ("any_respect_nulls", "any_value"),
        ("anyRespectNulls", "any_value"),
        ("first_value_respect_nulls", "first_value"),
        ("firstValueRespectNulls", "first_value"),
        ("last_value_respect_nulls", "last_value"),
        ("lastValueRespectNulls", "last_value"),
    ):
        out = _rewrite_calls(
            out, _rn,
            lambda a, _t=_tgt: f"{_t}({a[0]})" if len(a) == 1 else None,
        )
    # sub-second interval arithmetic at the engine's µs grain
    # (nanosecond forms stay loud — precision)
    for _ms, _sign in (("addMilliseconds", "+"),
                       ("subtractMilliseconds", "-")):
        out = _rewrite_calls(
            out, _ms,
            lambda a, _s=_sign: (
                f"(cast({a[0]} as timestamp) {_s} make_interval("
                f"0, 0, 0, 0, 0, 0, ({a[1]}) / 1000.0))"
                if len(a) == 2 else None
            ),
        )
    for _us, _sign in (("addMicroseconds", "+"),
                       ("subtractMicroseconds", "-")):
        out = _rewrite_calls(
            out, _us,
            lambda a, _s=_sign: (
                f"(cast({a[0]} as timestamp) {_s} make_interval("
                f"0, 0, 0, 0, 0, 0, ({a[1]}) / 1000000.0))"
                if len(a) == 2 else None
            ),
        )

    # makeDateTime64(y, m, d, h, mi, s[, fraction[, scale]]): the
    # fraction is in units of 10^-scale seconds (scale defaults 3);
    # non-literal scales and the 9-arg tz form stay loud
    def _make_dt64(a: list[str]) -> str | None:
        if len(a) == 6:
            return f"make_timestamp({', '.join(a)})"
        if len(a) == 7:
            return (
                f"make_timestamp({', '.join(a[:5])}, "
                f"({a[5]}) + ({a[6]}) / 1000.0)"
            )
        if len(a) == 8:
            sc = a[7].strip()
            if not re.fullmatch(r"\d+", sc) or int(sc) > 9:
                return None
            return (
                f"make_timestamp({', '.join(a[:5])}, "
                f"({a[5]}) + ({a[6]}) / {10 ** int(sc)}.0)"
            )
        return None

    out = _rewrite_calls(out, "makeDateTime64", _make_dt64)

    for _base, _kind in (
        ("multiSearchAllPositions", "all"),
        ("multiSearchFirstPosition", "first_pos"),
        ("multiSearchFirstIndex", "first_idx"),
    ):
        out = _rewrite_calls(
            out, _base + "CaseInsensitiveUTF8",
            _multi_search(_kind, False, True, False),
        )
        out = _rewrite_calls(
            out, _base + "CaseInsensitive",
            _multi_search(_kind, True, False, _kind != "first_idx"),
        )
        out = _rewrite_calls(
            out, _base + "UTF8",
            _multi_search(_kind, False, False, False),
        )
        out = _rewrite_calls(
            out, _base,
            _multi_search(_kind, False, False, _kind != "first_idx"),
        )
    # CH timestamp_add/sub(date, INTERVAL n unit) → plain arithmetic;
    # addDate/subDate are the same shape (r10 — were loud)
    for _ts_fn, _op in (
        ("timestampAdd", "+"), ("timestamp_add", "+"),
        ("timestampSub", "-"), ("timestamp_sub", "-"),
        ("addDate", "+"), ("subDate", "-"),
    ):
        out = _rewrite_calls(
            out,
            _ts_fn,
            lambda a, op=_op: (
                f"(({a[0]}) {op} ({a[1]}))"
                if len(a) == 2
                and re.match(r"(?i)\s*interval\b", a[1]) is not None
                else None
            ),
        )
    # timeSlots(start, duration[, size=1800]): grid of moments from
    # floor(start/size) to floor((start+duration)/size), step size —
    # second-granular like CH DateTime (r10 — was loud)
    def _time_slots(a: list[str]) -> str | None:
        if len(a) not in (2, 3):
            return None
        st, dur = a[0], a[1]
        sz = a[2] if len(a) == 3 else "1800"
        lo = f"timestamp_seconds((unix_timestamp({st}) div ({sz})) * ({sz}))"
        hi = (
            f"timestamp_seconds(((unix_timestamp({st}) + ({dur})) "
            f"div ({sz})) * ({sz}))"
        )
        return (
            f"sequence({lo}, {hi}, make_interval(0, 0, 0, 0, 0, 0, {sz}))"
        )

    out = _rewrite_calls(out, "timeSlots", _time_slots)
    # Spark has no UUID type — CH toUUID round-trips through the
    # canonical string form (documented type-name drift)
    out = _rewrite_calls(out, "toUUID", lambda a: f"cast({a[0]} as string)")

    # ---- round-7 batch #9: sequence-pattern aggregates, interval
    # sweeps, bitmap algebra, *Map aggregates, readable formatting.
    # Reference analogue: the stored-SQL extension point
    # (ora/jdbcSession.scala:199-247) — any CH query a user stored
    # should translate, and these families were the widest remaining
    # pass-through surface. ----

    def _seq_pattern_regex(pat: str, k: int) -> str | None:
        """Compile a CH sequenceMatch pattern over k conditions into a
        Java regex over the tag string built by ``_seq_tag_expr``
        (one ``<b1..bk>`` token per condition-matching event, time
        order). ``(?N)`` → token with bit N set; ``.`` → any token;
        ``.*`` → any run. Time constraints ``(?t op v)`` are NOT
        supported — those calls pass through untranslated (loud)."""
        toks: list[str] = []
        i = 0
        while i < len(pat):
            if pat.startswith("(?", i):
                j = pat.find(")", i)
                body = pat[i + 2 : j] if j > 0 else ""
                if not body.isdigit():
                    return None  # (?t…) or malformed
                n = int(body)
                if not 1 <= n <= k:
                    return None
                toks.append(f"<[01]{{{n - 1}}}1[01]{{{k - n}}}>")
                i = j + 1
            elif pat.startswith(".*", i):
                # LAZY: CH counts non-overlapping chains by restarting
                # right after a chain COMPLETES — a greedy run would
                # swallow the next chain's events (docs example:
                # 1,3,2,1,3,2 under '(?1).*(?2)' counts 2, not 1)
                toks.append(f"(?:<[01]{{{k}}}>)*?")
                i += 2
            elif pat[i] == ".":
                toks.append(f"<[01]{{{k}}}>")
                i += 1
            else:
                return None
        return "".join(toks)

    def _seq_tag_expr(a: list[str]) -> str:
        """Per-group tag string for sequenceMatch/Count: events
        matching NO condition are skipped (CH contract: 'number 3 was
        skipped because it is not described as an event'); the rest
        sort by time and render as ``<b1..bk>`` condition-bit tokens.
        Same-timestamp order follows the sorted struct (deterministic;
        CH leaves it undefined)."""
        ts, conds = a[0], a[1:]
        ors = " OR ".join(f"({c})" for c in conds)
        one, zero = _emit_lit("'1'", lits), _emit_lit("'0'", lits)
        bits = ", ".join(f"IF({c}, {one}, {zero})" for c in conds)
        lt_, gt_ = _emit_lit("'<'", lits), _emit_lit("'>'", lits)
        empty = _emit_lit("''", lits)
        return (
            f"array_join(transform(array_sort(collect_list("
            f"CASE WHEN {ors} THEN struct("
            f"unix_micros(cast({ts} as timestamp)) AS t, "
            f"concat({bits}) AS g) END)), "
            f"__sq -> concat({lt_}, __sq.g, {gt_})), {empty})"
        )

    def _seq_dp(ps: list[str], a: list[str]) -> str | None:
        """Shared time-constraint path: patterns containing ``(?t``
        compile to the candidate-set DP fold (``_seq_dp_expr``)
        instead of the tag-string regex. Returns the chain-count
        expression, or None (loud pass-through) on unsupported
        shapes."""
        pt = _lit_text(ps[0], lits)
        if pt is None or "(?t" not in pt:
            return None
        parsed = _seq_pattern_dp(pt[1:-1], len(a) - 1)
        if parsed is None:
            return None
        return _seq_dp_expr(a[0], a[1:], *parsed)

    def _sequence_match(ps: list[str], a: list[str]) -> str | None:
        if len(ps) != 1 or len(a) < 2:
            return None
        pt = _lit_text(ps[0], lits)
        if pt is None:
            return None
        rx = _seq_pattern_regex(pt[1:-1], len(a) - 1)
        if rx is None:
            dp = _seq_dp(ps, a)
            if dp is None:
                return None
            return f"(CASE WHEN {dp} > 0 THEN 1 ELSE 0 END)"
        rx_lit = _emit_lit("'" + rx + "'", lits)
        return (
            f"(CASE WHEN {_seq_tag_expr(a)} rlike {rx_lit} "
            f"THEN 1 ELSE 0 END)"
        )

    def _sequence_count(ps: list[str], a: list[str]) -> str | None:
        if len(ps) != 1 or len(a) < 2:
            return None
        pt = _lit_text(ps[0], lits)
        if pt is None:
            return None
        rx = _seq_pattern_regex(pt[1:-1], len(a) - 1)
        if rx is None:
            dp = _seq_dp(ps, a)
            if dp is None:
                return None
            return f"cast({dp} as bigint)"
        rx_lit = _emit_lit("'" + rx + "'", lits)
        # non-overlapping left-to-right matches — exactly what
        # repeated regex search (regexp_extract_all) counts
        return (
            f"cast(size(regexp_extract_all({_seq_tag_expr(a)}, "
            f"{rx_lit}, 0)) as bigint)"
        )

    out = _rewrite_param_calls(out, "sequenceMatch", _sequence_match)
    out = _rewrite_param_calls(out, "sequenceCount", _sequence_count)

    # maxIntersections(s, e): classic sweep as a sorted fold over
    # ±1 endpoint events. Ties sort (t, -1) before (t, +1) — half-open
    # [s, e) intervals, so a start meeting an end does NOT intersect
    # (deterministic; CH's tie order is an implementation detail).
    out = _rewrite_calls(
        out,
        "maxIntersections",
        lambda a: (
            "aggregate(array_sort(flatten(collect_list(array("
            f"struct(cast({a[0]} as double) AS t, 1 AS d), "
            f"struct(cast({a[1]} as double) AS t, -1 AS d))))), "
            "struct(0 AS cur, 0 AS mx), "
            "(__mi, __mp) -> struct(__mi.cur + __mp.d AS cur, "
            "greatest(__mi.mx, __mi.cur + __mp.d) AS mx), "
            "__mi -> cast(__mi.mx as bigint))"
            if len(a) == 2
            else None
        ),
    )
    # intervalLengthSum(s, e): union length of [s, e) intervals —
    # sort by start, fold carrying the furthest end seen; each
    # interval contributes only its part beyond that end. DOUBLE
    # accumulator (same documented widening as arraySum).
    out = _rewrite_calls(
        out,
        "intervalLengthSum",
        lambda a: (
            "aggregate(array_sort(collect_list("
            f"struct(cast({a[0]} as double) AS a, "
            f"cast({a[1]} as double) AS b))), "
            "struct(cast(0 as double) AS tot, "
            "cast(null as double) AS hi), "
            "(__il, __iv) -> struct("
            "__il.tot + greatest(cast(0 as double), "
            "__iv.b - greatest(__iv.a, coalesce(__il.hi, __iv.a))) AS tot, "
            "greatest(coalesce(__il.hi, __iv.b), __iv.b) AS hi), "
            "__il -> __il.tot)"
            if len(a) == 2
            else None
        ),
    )
    # deltaSumTimestamp(v, ts): sum of POSITIVE consecutive deltas in
    # ts order (the ordered sibling of deltaSum; plain deltaSum is
    # block-order-dependent in CH itself and stays untranslated)
    out = _rewrite_calls(
        out,
        "deltaSumTimestamp",
        lambda a: (
            "aggregate(array_sort(collect_list("
            f"struct({a[1]} AS t, cast({a[0]} as double) AS v))), "
            "struct(cast(0 as double) AS s, cast(null as double) AS p), "
            "(__ds, __de) -> struct("
            "__ds.s + greatest(cast(0 as double), "
            "CASE WHEN __ds.p IS NULL THEN cast(0 as double) "
            "ELSE __de.v - __ds.p END) AS s, __de.v AS p), "
            "__ds -> __ds.s)"
            if len(a) == 2
            else None
        ),
    )
    # entropy(x): Shannon entropy (bits) from per-value frequencies —
    # log2(N) - Σ c·log2(c) / N, computed as a run-length fold over
    # the sorted value list (values compare as strings: any total
    # order groups equal values, which is all the fold needs)
    out = _rewrite_calls(
        out,
        "entropy",
        lambda a: (
            "aggregate(array_sort(transform(collect_list("
            f"{a[0]}), __ev -> cast(__ev as string))), "
            "struct(cast(null as string) AS p, cast(0 as double) AS r, "
            "cast(0 as double) AS a, cast(0 as double) AS n), "
            "(__en, __ev) -> struct(__ev AS p, "
            "CASE WHEN __en.p IS NULL OR __ev != __en.p "
            "THEN cast(1 as double) ELSE __en.r + 1 END AS r, "
            "__en.a + CASE WHEN __en.p IS NOT NULL AND __ev != __en.p "
            "THEN __en.r * log2(__en.r) ELSE cast(0 as double) END AS a, "
            "__en.n + 1 AS n), "
            "__en -> CASE WHEN __en.n = 0 THEN cast(null as double) "
            "ELSE log2(__en.n) - (__en.a + CASE WHEN __en.r > 0 "
            "THEN __en.r * log2(__en.r) ELSE cast(0 as double) END) "
            "/ __en.n END)"
            if len(a) == 1
            else None
        ),
    )

    # ---- bitmap algebra: CH roaring bitmaps model as SORTED DISTINCT
    # arrays (same value surface — bitmapToArray output order is
    # ascending in CH too). Cardinalities are bigint like CH UInt64.
    # The *State/*Merge combinator forms stay untranslated (loud). ----
    out = _rewrite_calls(
        out, "bitmapBuild", lambda a: f"array_sort(array_distinct({a[0]}))"
    )
    out = _rewrite_calls(out, "bitmapToArray", lambda a: f"({a[0]})")
    out = _rewrite_calls(
        out, "bitmapCardinality", lambda a: f"cast(size({a[0]}) as bigint)"
    )
    _BM_OPS = {
        "bitmapAnd": "array_sort(array_intersect({0}, {1}))",
        "bitmapOr": "array_sort(array_union({0}, {1}))",
        "bitmapXor": (
            "array_sort(array_union("
            "array_except({0}, {1}), array_except({1}, {0})))"
        ),
        "bitmapAndnot": "array_sort(array_except({0}, {1}))",
    }
    for _bm, _tpl in _BM_OPS.items():
        out = _rewrite_calls(
            out, _bm,
            lambda a, t=_tpl: t.format(a[0], a[1]) if len(a) == 2 else None,
        )
        out = _rewrite_calls(
            out, _bm + "Cardinality",
            lambda a, t=_tpl: (
                f"cast(size({t.format(a[0], a[1])}) as bigint)"
                if len(a) == 2 else None
            ),
        )
    out = _rewrite_calls(
        out, "bitmapContains", lambda a: f"array_contains({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out, "bitmapHasAny", lambda a: f"arrays_overlap({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out, "bitmapHasAll",
        lambda a: f"(size(array_except({a[1]}, {a[0]})) = 0)",
    )
    out = _rewrite_calls(out, "bitmapMin", lambda a: f"array_min({a[0]})")
    out = _rewrite_calls(out, "bitmapMax", lambda a: f"array_max({a[0]})")
    out = _rewrite_calls(
        out, "bitmapSubsetInRange",
        lambda a: (
            f"filter({a[0]}, __bv -> __bv >= {a[1]} AND __bv < {a[2]})"
            if len(a) == 3 else None
        ),
    )
    out = _rewrite_calls(
        out, "bitmapSubsetLimit",
        lambda a: (
            f"slice(filter({a[0]}, __bv -> __bv >= {a[1]}), 1, {a[2]})"
            if len(a) == 3 else None
        ),
    )
    # CH subBitmap offset is 0-based; slice() is 1-based
    out = _rewrite_calls(
        out, "subBitmap",
        lambda a: (
            f"slice({a[0]}, ({a[1]}) + 1, {a[2]})" if len(a) == 3 else None
        ),
    )
    # groupBitmap(x) returns the CARDINALITY (UInt64), not the bitmap
    out = _rewrite_calls(
        out, "groupBitmap", lambda a: f"count(DISTINCT {a[0]})"
    )
    # groupBitmapOr/And over a bitmap (array) column — also return
    # cardinality. And-fold seeds with the first collected bitmap
    # (intersecting it with itself is identity); Catalyst dedups the
    # two identical collect_list aggregates into one buffer.
    out = _rewrite_calls(
        out, "groupBitmapOr",
        lambda a: (
            f"cast(size(array_distinct(flatten(collect_list({a[0]})))) "
            "as bigint)"
        ),
    )
    out = _rewrite_calls(
        out, "groupBitmapAnd",
        lambda a: (
            f"cast(size(aggregate(collect_list({a[0]}), "
            f"element_at(collect_list({a[0]}), 1), "
            "(__ga, __gx) -> array_intersect(__ga, __gx))) as bigint)"
        ),
    )
    # groupBitmapXor = keys present in an ODD number of rows: sorted
    # run-length fold over the flattened per-row-distinct keys
    out = _rewrite_calls(
        out, "groupBitmapXor",
        lambda a: (
            "aggregate(array_sort(flatten(collect_list("
            f"array_distinct({a[0]})))), "
            "struct(cast(null as string) AS p, cast(0 as bigint) AS c, "
            "cast(0 as bigint) AS odd), "
            "(__gb, __gv) -> struct(cast(__gv as string) AS p, "
            "CASE WHEN __gb.p IS NULL OR cast(__gv as string) != __gb.p "
            "THEN cast(1 as bigint) ELSE __gb.c + 1 END AS c, "
            "__gb.odd + CASE WHEN __gb.p IS NOT NULL "
            "AND cast(__gv as string) != __gb.p THEN __gb.c % 2 "
            "ELSE cast(0 as bigint) END AS odd), "
            "__gb -> __gb.odd + __gb.c % 2)"
        ),
    )

    # ---- *Map aggregates: sumMap/minMap/maxMap(keys, vals) merge
    # parallel key/value arrays across rows into (sorted keys, merged
    # vals) — a sorted-pair fold; returns the CH tuple as a struct
    # with the pinned positional names col1/col2 (tupleElement
    # contract). The array-building fold is O(k²) in the DISTINCT
    # key count per group — the same bounded-cardinality regime CH
    # uses these for. ----
    def _merge_map(op_tpl: str):
        def render(a: list[str], pre_filter: str = "") -> str | None:
            if len(a) != 2:
                return None
            pairs = (
                "array_sort(flatten(collect_list(zip_with("
                f"{a[0]}, {a[1]}, "
                "(__mk, __mv) -> struct(__mk AS k, __mv AS v)))))"
            )
            if pre_filter:
                pairs = f"filter({pairs}, {pre_filter})"
            merged = op_tpl.format("element_at(__ma, -1).v", "__mp.v")
            return (
                f"aggregate({pairs}, slice({pairs}, 1, 0), "
                "(__ma, __mp) -> CASE WHEN size(__ma) > 0 "
                "AND element_at(__ma, -1).k = __mp.k "
                "THEN concat(slice(__ma, 1, size(__ma) - 1), "
                f"array(struct(__mp.k AS k, {merged} AS v))) "
                "ELSE concat(__ma, array(__mp)) END, "
                "__ma -> struct(transform(__ma, __mp -> __mp.k) AS col1, "
                "transform(__ma, __mp -> __mp.v) AS col2))"
            )

        return render

    out = _rewrite_calls(out, "sumMap", _merge_map("({0} + {1})"))
    out = _rewrite_calls(out, "minMap", _merge_map("least({0}, {1})"))
    out = _rewrite_calls(out, "maxMap", _merge_map("greatest({0}, {1})"))

    def _summap_filtered(ps: list[str], a: list[str]) -> str | None:
        if len(ps) != 1 or len(a) != 2:
            return None
        flt = f"__mp -> array_contains({ps[0]}, __mp.k)"
        return _merge_map("({0} + {1})")(a, pre_filter=flt)

    out = _rewrite_param_calls(out, "sumMapFiltered", _summap_filtered)

    # Map-TYPE merge (CH Map arguments): exact map_zip_with analog.
    # The tuple-of-arrays overload reaching this rewrite fails loudly
    # in Spark (map_zip_with rejects structs) rather than drifting.
    def _map_add(op: str):
        def render(a: list[str]) -> str | None:
            if len(a) < 2:
                return None
            acc = a[0]
            for nxt in a[1:]:
                acc = (
                    f"map_zip_with({acc}, {nxt}, (__zk, __za, __zb) -> "
                    f"coalesce(__za, 0) {op} coalesce(__zb, 0))"
                )
            return acc

        return render

    out = _rewrite_calls(out, "mapAdd", _map_add("+"))
    out = _rewrite_calls(out, "mapSubtract", _map_add("-"))

    # ---- readable formatting (CH fixed '%.2f', no thousands
    # separators — format_string, NOT format_number) ----
    def _readable(units: list[tuple[str, float]], base: float):
        def render(a: list[str]) -> str | None:
            if len(a) != 1:
                return None
            fmt = _emit_lit("'%.2f'", lits)
            x = f"cast({a[0]} as double)"
            branches = []
            for i, (suffix, bound) in enumerate(units[:-1]):
                div = f" / {base ** i:.1f}" if i else ""
                branches.append(
                    f"WHEN abs({x}) < {bound:.1f} THEN "
                    f"concat(format_string({fmt}, {x}{div}), "
                    f"{_emit_lit(repr(suffix), lits)})"
                )
            last_sfx, _ = units[-1]
            last_div = f" / {base ** (len(units) - 1):.1f}"
            return (
                "(CASE " + " ".join(branches) + " ELSE "
                f"concat(format_string({fmt}, {x}{last_div}), "
                f"{_emit_lit(repr(last_sfx), lits)}) END)"
            )

        return render

    out = _rewrite_calls(
        out,
        "formatReadableSize",
        _readable(
            [(" B", 1024.0), (" KiB", 1024.0**2), (" MiB", 1024.0**3),
             (" GiB", 1024.0**4), (" TiB", 1024.0**5), (" PiB", 1024.0**6),
             (" EiB", 0.0)],
            1024.0,
        ),
    )
    out = _rewrite_calls(
        out,
        "formatReadableQuantity",
        _readable(
            [("", 1e3), (" thousand", 1e6), (" million", 1e9),
             (" billion", 1e12), (" trillion", 1e15), (" quadrillion", 0.0)],
            1e3,
        ),
    )

    # ---- capture-group extraction family (literal patterns only —
    # the group COUNT must be known to splice; dynamic patterns pass
    # through loudly). Group count = unescaped '(' not followed by
    # '?' (same detection as extractAll). ----
    def _n_groups(pat_arg: str) -> int | None:
        lt = _lit_text(pat_arg, lits)
        if lt is None:
            return None
        return len(re.findall(r"(?<!\\)\((?!\?)", lt[1:-1]))

    def _extract_groups(a: list[str]) -> str | None:
        g = _n_groups(a[1]) if len(a) == 2 else None
        if not g:
            return None
        parts = ", ".join(
            f"regexp_extract({a[0]}, {a[1]}, {i})" for i in range(1, g + 1)
        )
        return f"array({parts})"

    out = _rewrite_calls(out, "extractGroups", _extract_groups)

    def _extract_all_h(a: list[str]) -> str | None:
        g = _n_groups(a[1]) if len(a) == 2 else None
        if not g:
            return None
        parts = ", ".join(
            f"regexp_extract_all({a[0]}, {a[1]}, {i})"
            for i in range(1, g + 1)
        )
        return f"array({parts})"

    out = _rewrite_calls(out, "extractAllGroupsHorizontal", _extract_all_h)

    def _extract_all_v(a: list[str]) -> str | None:
        # vertical: one [g1..gN] array PER MATCH — re-extract each
        # group from the full-match substring (the pattern matched
        # exactly that substring, so the first inner match is it)
        g = _n_groups(a[1]) if len(a) == 2 else None
        if not g:
            return None
        parts = ", ".join(
            f"regexp_extract(__xm, {a[1]}, {i})" for i in range(1, g + 1)
        )
        return (
            f"transform(regexp_extract_all({a[0]}, {a[1]}, 0), "
            f"__xm -> array({parts}))"
        )

    out = _rewrite_calls(out, "extractAllGroupsVertical", _extract_all_v)
    out = _rewrite_calls(out, "extractAllGroups", _extract_all_v)

    # ---- epoch/snowflake conversions ----
    out = _rewrite_calls(
        out, "fromUnixTimestamp64Milli",
        lambda a: f"timestamp_millis({a[0]})" if len(a) == 1 else None,
    )
    out = _rewrite_calls(
        out, "fromUnixTimestamp64Micro",
        lambda a: f"timestamp_micros({a[0]})" if len(a) == 1 else None,
    )
    out = _rewrite_calls(
        out, "fromUnixTimestamp64Nano",
        lambda a: f"timestamp_micros({a[0]} div 1000)" if len(a) == 1 else None,
    )
    # Twitter-epoch snowflakes: ms = (id >> 22) + 1288834974657
    for _sf in ("snowflakeToDateTime64", "snowflakeToDateTime",
                "snowflakeIDToDateTime"):
        out = _rewrite_calls(
            out, _sf,
            lambda a: (
                f"timestamp_millis(shiftright({a[0]}, 22) + 1288834974657)"
                if len(a) == 1 else None
            ),
        )
    for _sf in ("dateTime64ToSnowflake", "dateTimeToSnowflake"):
        out = _rewrite_calls(
            out, _sf,
            lambda a: (
                f"shiftleft(unix_millis(cast({a[0]} as timestamp)) "
                "- 1288834974657, 22)"
                if len(a) == 1 else None
            ),
        )
    # snake-case alias of dateDiff (same literal-unit splice)
    out = _rewrite_calls(out, "date_diff", _date_diff)

    # simpleJSON* family: CH's sloppy scanner behaves like a path
    # lookup on well-formed flat JSON (the documented drift: nested
    # same-name keys differ). Reuses the JSONExtract path splice.
    for ch_fn, t in (
        ("simpleJSONExtractString", None),
        ("simpleJSONExtractRaw", None),
        ("simpleJSONExtractInt", "bigint"),
        ("simpleJSONExtractUInt", "bigint"),
        ("simpleJSONExtractFloat", "double"),
        ("simpleJSONExtractBool", "boolean"),
        ("visitParamExtractUInt", "bigint"),
        ("visitParamExtractBool", "boolean"),
        ("visitParamExtractRaw", None),
    ):
        out = _rewrite_calls(out, ch_fn, _json_extract(t))
    out = _rewrite_calls(out, "simpleJSONHas", _json_has)

    # ---- round-7 batch #10: higher-order array completion, exact
    # geometry, weighted top-k, string similarity, URL/readable-size
    # completion. ----
    # arrayFold(λ, arr, acc) → aggregate(arr, acc, λ): CH puts the
    # lambda FIRST and the accumulator LAST; lambda syntax is
    # identical. Multi-array forms need a zip and pass through.
    out = _rewrite_calls(
        out, "arrayFold",
        lambda a: f"aggregate({a[1]}, {a[2]}, {a[0]})" if len(a) == 3 else None,
    )
    # CH arrayProduct returns Float64 — the double fold IS the contract
    out = _rewrite_calls(
        out, "arrayProduct",
        lambda a: (
            f"aggregate({a[0]}, cast(1 as double), "
            "(__apr, __apx) -> __apr * cast(__apx as double))"
        ),
    )
    out = _rewrite_calls(
        out, "arrayJaccardIndex",
        lambda a: (
            f"(cast(size(array_intersect({a[0]}, {a[1]})) as double) "
            f"/ size(array_union({a[0]}, {a[1]})))"
            if len(a) == 2 else None
        ),
    )
    # CH sorts the first n and leaves the REST unspecified — a full
    # sort is a valid instance of that contract (documented)
    out = _rewrite_calls(
        out, "arrayPartialSort",
        lambda a: f"array_sort({a[1]})" if len(a) == 2 else None,
    )
    # nondeterministic in CH too — same role, same nondeterminism
    out = _rewrite_calls(
        out, "arrayShuffle",
        lambda a: f"shuffle({a[0]})" if len(a) == 1 else None,
    )
    # toWeek mode 3 ≡ ISO week ≡ Spark weekofyear; other modes have
    # different week-start/year-split rules and pass through loudly
    out = _rewrite_calls(
        out, "toWeek",
        lambda a: (
            f"weekofyear({a[0]})"
            if len(a) == 2 and a[1].strip() == "3"
            else None
        ),
    )
    # sweep-point where the maximum intersection count is FIRST
    # reached (the fold's > keeps the earliest); CH's UInt64 return
    # widens to double here (same widening note as the sweep itself)
    out = _rewrite_calls(
        out, "maxIntersectionsPosition",
        lambda a: (
            "aggregate(array_sort(flatten(collect_list(array("
            f"struct(cast({a[0]} as double) AS t, 1 AS d), "
            f"struct(cast({a[1]} as double) AS t, -1 AS d))))), "
            "struct(0 AS cur, 0 AS mx, cast(null as double) AS pos), "
            "(__mq, __mp) -> struct(__mq.cur + __mp.d AS cur, "
            "greatest(__mq.mx, __mq.cur + __mp.d) AS mx, "
            "CASE WHEN __mq.cur + __mp.d > __mq.mx THEN __mp.t "
            "ELSE __mq.pos END AS pos), "
            "__mq -> __mq.pos)"
            if len(a) == 2
            else None
        ),
    )
    # EXACT top-k by total weight (CH topKWeighted is approximate —
    # exact is a superset of the contract, like uniqExact vs uniq);
    # ties break by value ascending (CH leaves them unspecified)
    def _topk_weighted(ps: list[str], a: list[str]) -> str | None:
        if len(ps) != 1 or len(a) != 2:
            return None
        pairs = (
            f"array_sort(collect_list(struct({a[0]} AS k, "
            f"cast({a[1]} as double) AS v)))"
        )
        merged = (
            f"aggregate({pairs}, slice({pairs}, 1, 0), "
            "(__tw, __tp) -> CASE WHEN size(__tw) > 0 "
            "AND element_at(__tw, -1).k = __tp.k "
            "THEN concat(slice(__tw, 1, size(__tw) - 1), "
            "array(struct(__tp.k AS k, "
            "element_at(__tw, -1).v + __tp.v AS v))) "
            "ELSE concat(__tw, array(__tp)) END)"
        )
        return (
            f"slice(transform(array_sort(transform({merged}, "
            "__tp -> struct(-__tp.v AS nw, __tp.k AS k))), "
            f"__tp -> __tp.k), 1, {ps[0]})"
        )

    out = _rewrite_param_calls(out, "topKWeighted", _topk_weighted)
    # exactly-one-DISTINCT-value guard (NULLs don't count, like CH)
    out = _rewrite_calls(
        out, "singleValueOrNull",
        lambda a: (
            f"(CASE WHEN count(DISTINCT {a[0]}) = 1 "
            f"THEN max({a[0]}) END)"
        ),
    )
    # Spark's double sum is the plain-summation analogue (documented:
    # no compensated accumulation, same role)
    out = _rewrite_calls(out, "sumKahan", lambda a: f"sum({a[0]})")
    out = _rewrite_calls(out, "initcapUTF8", lambda a: f"initcap({a[0]})")
    out = _rewrite_calls(
        out, "fragment", lambda a: f"parse_url({a[0]}, {_emit_lit(chr(39) + 'REF' + chr(39), lits)})"
    )
    # CH netloc: user:pass@host:port — everything between the
    # optional scheme:// and the first /?#
    out = _rewrite_calls(
        out, "netloc",
        lambda a: (
            f"regexp_extract({a[0]}, "
            + _emit_lit(r"'^(?:[A-Za-z][A-Za-z0-9+.\-]*:)?//([^/?#]*)'", lits)
            + ", 1)"
        ),
    )

    def _to_decimal_string(a: list[str]) -> str | None:
        # scale must be a literal int to splice into the format string
        if len(a) != 2 or not re.fullmatch(r"\d+", a[1].strip()):
            return None
        fmt = _emit_lit(f"'%.{a[1].strip()}f'", lits)
        return f"format_string({fmt}, cast({a[0]} as double))"

    out = _rewrite_calls(out, "toDecimalString", _to_decimal_string)
    # 1-gram set Jaccard (CH is byte-based; Spark splits characters —
    # identical on ASCII, documented drift beyond)
    out = _rewrite_calls(
        out, "stringJaccardIndex",
        lambda a: (
            "(CASE WHEN size(array_union("
            f"filter(split({a[0]}, {_emit_lit(chr(39)*2, lits)}), __sj -> __sj != {_emit_lit(chr(39)*2, lits)}), "
            f"filter(split({a[1]}, {_emit_lit(chr(39)*2, lits)}), __sj -> __sj != {_emit_lit(chr(39)*2, lits)}))) = 0 "
            "THEN cast(1 as double) ELSE "
            "cast(size(array_intersect("
            f"filter(split({a[0]}, {_emit_lit(chr(39)*2, lits)}), __sj -> __sj != {_emit_lit(chr(39)*2, lits)}), "
            f"filter(split({a[1]}, {_emit_lit(chr(39)*2, lits)}), __sj -> __sj != {_emit_lit(chr(39)*2, lits)}))) as double) "
            "/ size(array_union("
            f"filter(split({a[0]}, {_emit_lit(chr(39)*2, lits)}), __sj -> __sj != {_emit_lit(chr(39)*2, lits)}), "
            f"filter(split({a[1]}, {_emit_lit(chr(39)*2, lits)}), __sj -> __sj != {_emit_lit(chr(39)*2, lits)}))) END)"
            if len(a) == 2 else None
        ),
    )
    # positional mismatches plus the length difference (zip_with pads
    # the shorter side with NULLs, which count as mismatches)
    out = _rewrite_calls(
        out, "byteHammingDistance",
        lambda a: (
            "cast(size(filter(zip_with("
            f"filter(split({a[0]}, {_emit_lit(chr(39)*2, lits)}), __bh -> __bh != {_emit_lit(chr(39)*2, lits)}), "
            f"filter(split({a[1]}, {_emit_lit(chr(39)*2, lits)}), __bh -> __bh != {_emit_lit(chr(39)*2, lits)}), "
            "(__bx, __by) -> CASE WHEN __bx IS NULL OR __by IS NULL "
            "THEN true ELSE __bx != __by END), __bm -> __bm)) as bigint)"
            if len(a) == 2 else None
        ),
    )
    out = _rewrite_calls(
        out,
        "formatReadableDecimalSize",
        _readable(
            [(" B", 1e3), (" KB", 1e6), (" MB", 1e9),
             (" GB", 1e12), (" TB", 1e15), (" PB", 1e18), (" EB", 0.0)],
            1e3,
        ),
    )

    def _parse_readable_size(a: list[str]) -> str | None:
        if len(a) != 1:
            return None
        num = _emit_lit(r"'^\\s*([0-9]+\\.?[0-9]*)'", lits)
        unit = _emit_lit(r"'([A-Za-z]+)\\s*$'", lits)
        factors = [
            ("B", "1.0"),
            ("KiB", "1024.0"), ("MiB", "1048576.0"),
            ("GiB", "1073741824.0"), ("TiB", "1099511627776.0"),
            ("KB", "1000.0"), ("MB", "1000000.0"),
            ("GB", "1000000000.0"), ("TB", "1000000000000.0"),
        ]
        whens = " ".join(
            f"WHEN {_emit_lit(repr(u), lits)} THEN {f}" for u, f in factors
        )
        return (
            f"cast(ceil(cast(regexp_extract({a[0]}, {num}, 1) as double) "
            f"* (CASE regexp_extract({a[0]}, {unit}, 1) {whens} END)) "
            "as bigint)"
        )

    out = _rewrite_calls(out, "parseReadableSize", _parse_readable_size)

    def _point_in_polygon(a: list[str]) -> str | None:
        # even-odd ray casting over the vertex ring, closed form like
        # geohashEncode. The point must be a parenthesized (x, y)
        # pair; vertices are an array of 2-field tuples/structs
        # (Spark names bare-paren tuple fields col1/col2). Boundary
        # behavior follows the strict </> casts (CH's is unspecified).
        if len(a) != 2:
            return None
        pt = a[0].strip()
        if not pt.startswith("("):
            return None
        end, xy = _parse_group(pt, 0)
        if len(xy) != 2 or pt[end:].strip():
            return None
        px = f"cast({xy[0]} as double)"
        py = f"cast({xy[1]} as double)"
        v = a[1]
        return (
            "cast(aggregate("
            f"transform(sequence(1, size({v})), __pg -> struct("
            f"element_at({v}, __pg) AS a, "
            f"element_at({v}, CASE WHEN __pg = size({v}) THEN 1 "
            "ELSE __pg + 1 END) AS b)), "
            "false, "
            "(__pi, __pe) -> CASE WHEN "
            f"((cast(__pe.a.col2 as double) > {py}) != "
            f"(cast(__pe.b.col2 as double) > {py})) "
            f"AND ({px} < (cast(__pe.b.col1 as double) "
            "- cast(__pe.a.col1 as double)) "
            f"* ({py} - cast(__pe.a.col2 as double)) "
            "/ (cast(__pe.b.col2 as double) "
            f"- cast(__pe.a.col2 as double)) "
            "+ cast(__pe.a.col1 as double)) "
            "THEN NOT __pi ELSE __pi END, "
            "__pi -> __pi) as int)"
        )

    out = _rewrite_calls(out, "pointInPolygon", _point_in_polygon)

    # ---- round-8 batch #11: remaining common-function sweep (from a
    # systematic probe of the CH function reference against the
    # translator — everything Spark already accepts natively was left
    # alone; only true gaps and silent-drift names are rewritten). ----
    # CH any(x) = "first observed value", NOT boolean-or. Spark
    # resolves bare any() as the boolean aggregate — a silently-wrong
    # pass-through for CH text, so this is a documented CH-order
    # exception like position(): already-ANSI boolean any() must be
    # spelled bool_or after translation.
    out = _rewrite_calls(out, "any", lambda a: (
        f"any_value({a[0]})" if len(a) == 1 else None))
    # sumWithOverflow keeps the input type and wraps on overflow in
    # CH; Spark sum widens instead — documented drift, values equal
    # whenever no overflow occurs
    out = _rewrite_calls(out, "sumWithOverflow", lambda a: f"sum({a[0]})")
    out = _rewrite_calls(out, "max2", lambda a: f"greatest({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "min2", lambda a: f"least({a[0]}, {a[1]})")
    out = _rewrite_calls(out, "exp2", lambda a: f"power(2, {a[0]})")
    out = _rewrite_calls(out, "exp10", lambda a: f"power(10, {a[0]})")
    out = _rewrite_calls(
        out, "intExp10", lambda a: f"cast(power(10, {a[0]}) as bigint)"
    )
    # largest power of two <= x; 0 below 1 (CH contract)
    out = _rewrite_calls(
        out,
        "roundToExp2",
        lambda a: (
            f"IF({a[0]} < 1, 0, "
            f"cast(power(2, floor(log2({a[0]}))) as bigint))"
        ),
    )
    out = _rewrite_calls(
        out, "toStartOfSecond", lambda a: f"date_trunc({lit('second')}, {a[0]})"
    )
    out = _rewrite_calls(
        out, "toISOYear",
        lambda a: (f"extract(YEAROFWEEK FROM {a[0]})"
                   if len(a) == 1 else None),
    )
    # Spark's date_format IS the Joda-style pattern family
    out = _rewrite_calls(
        out,
        "formatDateTimeInJodaSyntax",
        lambda a: f"date_format({a[0]}, {a[1]})" if len(a) == 2 else None,
    )
    out = _rewrite_calls(out, "reverseUTF8", lambda a: f"reverse({a[0]})")
    out = _rewrite_calls(
        out, "translateUTF8",
        lambda a: f"translate({a[0]}, {a[1]}, {a[2]})",
    )
    out = _rewrite_calls(
        out,
        "multiSearchAnyCaseInsensitive",
        # ASCII-only fold via translate() — CH's non-UTF8 CI variants
        # do not fold non-ASCII (batch 23; Spark lower() would)
        lambda a: (
            f"exists({a[1]}, __ms -> instr("
            f"translate({a[0]}, " + lit(_ASCII_UP) + ", "
            + lit(_ASCII_LO) + "), "
            f"translate(__ms, " + lit(_ASCII_UP) + ", "
            + lit(_ASCII_LO) + ")) > 0)"
        ),
    )
    out = _rewrite_calls(
        out, "JSONExtractKeys", lambda a: (
            f"json_object_keys({a[0]})" if len(a) == 1 else None)
    )
    out = _rewrite_calls(
        out, "notILike", lambda a: f"(NOT ({a[0]} ilike {a[1]}))"
    )

    def _range(a: list[str]) -> str | None:
        # CH range([start,] end[, step]) — end EXCLUSIVE, empty when
        # the span is empty; Spark sequence is inclusive, so guard
        if len(a) == 1:
            lo, hi, st = "0", a[0], "1"
        elif len(a) == 2:
            lo, hi, st = a[0], a[1], "1"
        elif len(a) == 3:
            lo, hi, st = a
        else:
            return None
        return (
            f"CASE WHEN ({hi}) > ({lo}) THEN "
            f"sequence({lo}, ({hi}) - 1, {st}) "
            f"ELSE array() END"
        )

    # expression-position range() only: `FROM range(n)` is Spark's
    # own table-valued generator and must survive untouched
    _rg = 0
    while True:
        found = _find_call(out, "range", _rg)
        if not found:
            break
        begin, end, rargs = found
        if re.search(r"(?is)\b(?:from|join)\s+$", out[:begin]):
            _rg = begin + 1
            continue
        rendered = _range(rargs)
        if rendered is None:
            _rg = begin + 1
        else:
            out = out[:begin] + rendered + out[end:]
    out = _rewrite_calls(
        out, "randCanonical",
        lambda a: "random()" if a in ([], [""]) else None,
    )
    out = _rewrite_calls(
        out,
        "randUniform",
        lambda a: (
            f"(({a[0]}) + random() * (({a[1]}) - ({a[0]})))"
            if len(a) == 2
            else None
        ),
    )
    # distributional randoms (batch 30) — role parity like rand():
    # same distribution, different stream. CH's second argument is
    # the VARIANCE (docs), hence the sqrt; randExponential inverts
    # over (0,1] so ln(0) can't occur; randBernoulli returns CH's
    # UInt64 0/1. Poisson/Binomial/ChiSquared/StudentT/FisherF need
    # iterative sampling and stay loud; randomString emits raw bytes
    # (invalid UTF-8) and stays loud.
    out = _rewrite_calls(
        out, "randNormal",
        lambda a: (
            f"(({a[0]}) + sqrt({a[1]}) * randn())" if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out, "randLogNormal",
        lambda a: (
            f"exp(({a[0]}) + sqrt({a[1]}) * randn())" if len(a) == 2
            else None
        ),
    )
    out = _rewrite_calls(
        out, "randExponential",
        lambda a: (
            f"(-ln(1.0 - random()) / ({a[0]}))" if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out, "randBernoulli",
        lambda a: (
            f"cast(IF(random() < ({a[0]}), 1, 0) as bigint)"
            if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out, "randomPrintableASCII",
        lambda a: (
            f"concat_ws('', transform(sequence(1, {a[0]}), "
            f"__rp -> char(cast(32 + floor(random() * 95) as int))))"
            if len(a) == 1 else None
        ),
    )

    def rxlit(pat: str) -> str:
        # register a regex pattern as a Spark string literal
        # (backslash-escaped; Spark's default parser interprets
        # backslash escapes in literals)
        body = pat.replace("\\", "\\\\").replace("'", "\\'")
        return _emit_lit(f"'{body}'", lits)

    def _java_hash(a: list[str], *, positive: bool = False) -> str | None:
        # Java String.hashCode: h = 31*h + c per character, 32-bit
        # signed wraparound — replayed in bigint arithmetic (pmod
        # every step, re-sign at the end). Exact for BMP text (code
        # point == UTF-16 code unit there; CH hashes code units).
        # hiveHash = same with the sign bit cleared.
        if len(a) != 1:
            return None
        h = (
            f"aggregate(sequence(1, char_length({a[0]})), "
            "cast(0 as bigint), "
            "(__jh, __ji) -> pmod(__jh * 31 + "
            f"ascii(substr({a[0]}, __ji, 1)), 4294967296))"
        )
        if positive:
            return f"(({h}) % 2147483648)"
        return (
            f"(CASE WHEN ({h}) >= 2147483648 "
            f"THEN ({h}) - 4294967296 ELSE ({h}) END)"
        )

    out = _rewrite_calls(out, "javaHash", _java_hash)
    out = _rewrite_calls(
        out, "hiveHash", lambda a: _java_hash(a, positive=True)
    )
    # normalizeQuery: quoted literals and bare numbers → '?', runs of
    # placeholders collapsed to '?..' — the CH fingerprinting
    # contract (docs examples); whitespace kept as-is
    _nq_str = rxlit("'(?:[^']|'')*'")
    _nq_num = rxlit("(?<![a-zA-Z0-9_])-?[0-9]+(?:[.][0-9]+)?")
    _nq_run = rxlit("[?](?:\\s*,\\s*[?])+")
    out = _rewrite_calls(
        out,
        "normalizeQuery",
        lambda a: (
            f"regexp_replace(regexp_replace(regexp_replace({a[0]}, "
            f"{_nq_str}, {lit('?')}), "
            f"{_nq_num}, {lit('?')}), "
            f"{_nq_run}, {lit('?..')})"
        ),
    )

    # ---- round-8 batch #12: vector math (the embedding surface),
    # lambda-first array fill/split folds, arrayAUC rank-sum closed
    # form, Map-function completion, date/tz constructors, window
    # aliases, bitmask expansions. ----
    _DOT = (
        "aggregate(zip_with({x}, {y}, (__va, __vb) -> "
        "cast(__va as double) * cast(__vb as double)), "
        "cast(0 as double), (__vs, __vv) -> __vs + __vv)"
    )
    for _vfn in ("arrayDotProduct", "dotProduct", "scalarProduct"):
        out = _rewrite_calls(
            out, _vfn,
            lambda a: _DOT.format(x=a[0], y=a[1]) if len(a) == 2 else None,
        )
    _NORM2 = (
        "sqrt(aggregate({x}, cast(0 as double), "
        "(__vs, __vv) -> __vs + cast(__vv as double) * cast(__vv as double)))"
    )
    for _vfn in ("arrayNorm", "L2Norm"):
        out = _rewrite_calls(
            out, _vfn,
            lambda a: _NORM2.format(x=a[0]) if len(a) == 1 else None,
        )
    # remaining norm family (batch 30) — array reading; the tuple
    # forms (L1Normalize/L2Normalize) stay loud
    out = _rewrite_calls(
        out, "L1Norm",
        lambda a: (
            f"aggregate({a[0]}, cast(0 as double), "
            f"(__vs, __vv) -> __vs + abs(cast(__vv as double)))"
            if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out, "L2SquaredNorm",
        lambda a: (
            f"aggregate({a[0]}, cast(0 as double), (__vs, __vv) -> "
            f"__vs + cast(__vv as double) * cast(__vv as double))"
            if len(a) == 1 else None
        ),
    )
    out = _rewrite_calls(
        out, "LinfNorm",
        lambda a: (
            f"aggregate({a[0]}, cast(0 as double), (__vs, __vv) -> "
            f"greatest(__vs, abs(cast(__vv as double))))"
            if len(a) == 1 else None
        ),
    )

    def _lp_norm(a: list[str]) -> str | None:
        if len(a) != 2:
            return None
        p = a[1].strip()
        if not re.fullmatch(r"\d+(\.\d+)?", p) or float(p) <= 0:
            return None
        return (
            f"pow(aggregate({a[0]}, cast(0 as double), (__vs, __vv) -> "
            f"__vs + pow(abs(cast(__vv as double)), {p})), 1.0 / {p})"
        )

    out = _rewrite_calls(out, "LpNorm", _lp_norm)
    for _vfn in ("arrayCosineDistance", "cosineDistance"):
        out = _rewrite_calls(
            out, _vfn,
            lambda a: (
                f"(1.0 - {_DOT.format(x=a[0], y=a[1])} / "
                f"({_NORM2.format(x=a[0])} * {_NORM2.format(x=a[1])}))"
                if len(a) == 2
                else None
            ),
        )
    for _vfn, _comb, _fin in (
        ("arrayL1Distance", "__vs + abs(__vd)", None),
        ("arrayL2Distance", "__vs + __vd * __vd", "sqrt"),
        ("arrayL2SquaredDistance", "__vs + __vd * __vd", None),
        ("arrayLinfDistance", "greatest(__vs, abs(__vd))", None),
    ):
        def _dist(a: list[str], _c=_comb, _f=_fin) -> str | None:
            if len(a) != 2:
                return None
            body = (
                f"aggregate(zip_with({a[0]}, {a[1]}, (__va, __vb) -> "
                "cast(__va as double) - cast(__vb as double)), "
                f"cast(0 as double), (__vs, __vd) -> {_c})"
            )
            return f"{_f}({body})" if _f else body
        out = _rewrite_calls(out, _vfn, _dist)

    # arrayFill / arrayReverseFill: carry the last element where the
    # predicate held (CH lambda-FIRST); arraySplit/arrayReverseSplit:
    # cut BEFORE/AFTER every element where the predicate holds.
    def _array_fill(a: list[str], *, rev: bool = False) -> str | None:
        if len(a) != 2:
            return None
        lam = a[0].strip()
        lm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*->\s*(.+)$", lam)
        if not lm:
            return None
        v, pred = lm.group(1), lm.group(2)
        arr = f"reverse({a[1]})" if rev else a[1]
        filled = (
            f"aggregate({arr}, "
            "named_struct('out', slice(array(element_at(" + arr + ", 1)), 1, 0), "
            "'last', element_at(" + arr + ", 1)), "
            f"(__af, {v}) -> IF({pred}, "
            f"named_struct('out', concat(__af.out, array({v})), 'last', {v}), "
            f"named_struct('out', concat(__af.out, array(__af.last)), "
            "'last', __af.last)), "
            "__af -> __af.out)"
        )
        return f"reverse({filled})" if rev else filled

    out = _rewrite_calls(out, "arrayFill", _array_fill)
    out = _rewrite_calls(
        out, "arrayReverseFill", lambda a: _array_fill(a, rev=True)
    )

    def _array_split(a: list[str], *, rev: bool = False) -> str | None:
        # cut BEFORE each element where pred holds (arraySplit); the
        # reverse form cuts AFTER — implemented per CH docs by group
        # labels from a running count
        if len(a) != 2:
            return None
        lam = a[0].strip()
        lm = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*->\s*(.+)$", lam)
        if not lm:
            return None
        v, pred = lm.group(1), lm.group(2)
        arr = a[1]
        # group id of element i: split-before counts matches in
        # positions 1..i (a matching element starts its own group);
        # split-after (reverse form) counts positions 1..i-1
        off = "1" if rev else "0"
        gids = (
            f"transform(sequence(1, size({arr})), __ai -> "
            f"size(filter(slice({arr}, 1, __ai - {off}), "
            f"{v} -> ({pred}))))"
        )
        return (
            f"IF(size({arr}) = 0, array(), "
            f"transform(array_distinct({gids}), __ag -> "
            f"filter(transform(sequence(1, size({arr})), __ai -> "
            f"IF(element_at({gids}, __ai) = __ag, "
            f"element_at({arr}, __ai), null)), __ae -> __ae IS NOT NULL)))"
        )

    out = _rewrite_calls(out, "arraySplit", _array_split)
    out = _rewrite_calls(
        out, "arrayReverseSplit", lambda a: _array_split(a, rev=True)
    )

    def _array_shift(a: list[str], *, left: bool = True) -> str | None:
        if len(a) not in (2, 3):
            return None
        arr, n = a[0], a[1]
        pad = a[2] if len(a) == 3 else "null"
        keep = f"greatest(size({arr}) - ({n}), 0)"
        padarr = f"array_repeat({pad}, least(cast({n} as int), size({arr})))"
        if left:
            return (
                f"concat(slice({arr}, cast(({n}) + 1 as int), {keep}), "
                f"{padarr})"
            )
        return f"concat({padarr}, slice({arr}, 1, {keep}))"

    out = _rewrite_calls(out, "arrayShiftLeft", _array_shift)
    out = _rewrite_calls(
        out, "arrayShiftRight", lambda a: _array_shift(a, left=False)
    )

    def _array_auc(a: list[str]) -> str | None:
        # rank-sum (Mann-Whitney) closed form with tie-averaged ranks:
        # AUC = (Σ_pos avg_rank − P(P+1)/2) / (P·N). O(n²) folds over
        # the bounded score arrays CH applies this to.
        if len(a) != 2:
            return None
        s, l = a[0], a[1]
        p = f"size(filter({l}, __lb -> cast(__lb as double) > 0))"
        n = f"(size({l}) - {p})"
        rsum = (
            f"aggregate(sequence(1, size({s})), cast(0 as double), "
            "(__ra, __ri) -> __ra + IF("
            f"cast(element_at({l}, __ri) as double) > 0, "
            f"cast(size(filter({s}, __ry -> cast(__ry as double) < "
            f"cast(element_at({s}, __ri) as double))) as double) "
            f"+ (cast(size(filter({s}, __ry -> cast(__ry as double) = "
            f"cast(element_at({s}, __ri) as double))) as double) + 1) / 2, "
            "cast(0 as double)))"
        )
        return (
            f"IF({p} = 0 OR {n} = 0, cast('NaN' as double), "
            f"({rsum} - cast({p} as double) * ({p} + 1) / 2) "
            f"/ (cast({p} as double) * {n}))"
        )

    out = _rewrite_calls(out, "arrayAUC", _array_auc)

    # Map-function completion
    out = _rewrite_calls(
        out, "mapFromArrays", lambda a: f"map_from_arrays({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(out, "mapFilter", lambda a: f"map_filter({a[1]}, {a[0]})")
    # mapUpdate(m1, m2): m2 wins on key collisions — spelled via
    # entry filtering so no mapKeyDedupPolicy session flag is needed
    out = _rewrite_calls(
        out,
        "mapUpdate",
        lambda a: (
            f"map_from_entries(concat(filter(map_entries({a[0]}), "
            f"__me -> NOT array_contains(map_keys({a[1]}), __me.key)), "
            f"map_entries({a[1]})))"
        ),
    )
    # date/tz constructors + aliases
    out = _rewrite_calls(
        out, "makeDate",
        lambda a: f"make_date({', '.join(a)})" if len(a) == 3 else None,
    )
    out = _rewrite_calls(
        out, "makeDate32",
        lambda a: f"make_date({', '.join(a)})" if len(a) == 3 else None,
    )
    out = _rewrite_calls(
        out, "makeDateTime",
        lambda a: (
            f"make_timestamp({', '.join(a[:6])})" if len(a) >= 6 else None
        ),
    )
    for _tz in ("timezone", "serverTimezone", "timezoneOf"):
        out = _rewrite_calls(
            out, _tz, lambda a: "current_timezone()"
        )
    # per-block now() — per-query here, documented drift
    out = _rewrite_calls(
        out, "nowInBlock",
        lambda a: "current_timestamp()" if a in ([], [""]) else None,
    )
    # window-function spelling aliases
    out = _rewrite_calls(out, "firstValue", lambda a: f"first_value({', '.join(a)})")
    out = _rewrite_calls(out, "lastValue", lambda a: f"last_value({', '.join(a)})")
    out = _rewrite_calls(out, "denseRank", lambda a: "dense_rank()")
    out = _rewrite_calls(out, "percentRank", lambda a: "percent_rank()")
    out = _rewrite_calls(
        out, "countDistinct", lambda a: f"count(DISTINCT {', '.join(a)})"
    )
    # contiguous-subsequence containment (order AND adjacency — CH
    # contract; empty needle always matches)
    out = _rewrite_calls(
        out,
        "hasSubstr",
        lambda a: (
            f"(size({a[1]}) = 0 OR (size({a[0]}) >= size({a[1]}) AND "
            f"exists(sequence(1, size({a[0]}) - size({a[1]}) + 1), "
            f"__hi -> slice({a[0]}, __hi, size({a[1]})) = {a[1]})))"
            if len(a) == 2
            else None
        ),
    )
    # bitmask expansions over the set bits of a non-negative integer
    out = _rewrite_calls(
        out,
        "bitmaskToArray",
        lambda a: (
            f"filter(transform(sequence(0, 62), __bi -> "
            f"IF((cast({a[0]} as bigint) div shiftleft(1L, __bi)) % 2 = 1, "
            f"shiftleft(1L, __bi), null)), __bv -> __bv IS NOT NULL)"
        ),
    )
    out = _rewrite_calls(
        out,
        "bitPositionsToArray",
        lambda a: (
            f"filter(transform(sequence(0, 62), __bi -> "
            f"IF((cast({a[0]} as bigint) div shiftleft(1L, __bi)) % 2 = 1, "
            f"__bi, null)), __bv -> __bv IS NOT NULL)"
        ),
    )
    out = _rewrite_calls(
        out,
        "bitmaskToList",
        lambda a: (
            f"array_join(filter(transform(sequence(0, 62), __bi -> "
            f"IF((cast({a[0]} as bigint) div shiftleft(1L, __bi)) % 2 = 1, "
            f"cast(shiftleft(1L, __bi) as string), null)), "
            f"__bv -> __bv IS NOT NULL), {lit(',')})"
        ),
    )

    # exponential-decay aggregate family: sorted (t, v) folds whose
    # exponents are consecutive-event DELTAS (never absolute epochs —
    # pow(2, 1.7e9) would overflow where pow(2, Δ/x) cannot).
    # exponentialMovingAverage uses CH's 2-base half-life with the
    # (1 − 2^(−1/x)) normalizer — pinned against the docs example
    # (ten unit-spaced 1s at x=1 → 0.9990234375); the TimeDecayed*
    # family uses e-base weights exp(−(t_n − t_i)/x).
    def _decay_fold(
        x: str, val: str, ts: str, *, base2: bool, kind: str
    ) -> str:
        ew = (
            f"pow(2, (acc.t - e.t) / ({x}))"
            if base2
            else f"exp((acc.t - e.t) / ({x}))"
        )
        pairs = (
            f"array_sort(collect_list(struct(cast({ts} as double) AS t, "
            f"cast({val} as double) AS v)))"
        )
        if kind == "avg":
            step = (
                f"(acc, e) -> named_struct("
                f"'s', IF(acc.t IS NULL, e.v, acc.s * {ew} + e.v), "
                f"'w', IF(acc.t IS NULL, cast(1 as double), "
                f"acc.w * {ew} + 1), 't', e.t)"
            )
            zero = (
                "named_struct('s', cast(0 as double), "
                "'w', cast(0 as double), 't', cast(null as double))"
            )
            fin = "acc -> acc.s / acc.w"
        elif kind == "max":
            step = (
                f"(acc, e) -> named_struct("
                f"'s', IF(acc.t IS NULL, e.v, "
                f"greatest(acc.s * {ew}, e.v)), 't', e.t)"
            )
            zero = (
                "named_struct('s', cast(null as double), "
                "'t', cast(null as double))"
            )
            fin = "acc -> acc.s"
        else:  # sum / count / ema share the decayed-sum fold
            step = (
                f"(acc, e) -> named_struct("
                f"'s', IF(acc.t IS NULL, e.v, acc.s * {ew} + e.v), "
                f"'t', e.t)"
            )
            zero = (
                "named_struct('s', cast(0 as double), "
                "'t', cast(null as double))"
            )
            fin = (
                # cast: a bare -1.0/x is DECIMAL division in Spark,
                # which rounds the tiny exponent to 6 digits and
                # corrupts the 1-minus cancellation by ~1e-3
                f"acc -> acc.s * (1 - pow(2, -cast(1 as double) / ({x})))"
                if kind == "ema"
                else "acc -> acc.s"
            )
        return f"aggregate({pairs}, {zero}, {step}, {fin})"

    out = _rewrite_param_calls(
        out,
        "exponentialMovingAverage",
        lambda ps, a: (
            _decay_fold(ps[0], a[0], a[1], base2=True, kind="ema")
            if len(ps) == 1 and len(a) == 2
            else None
        ),
    )
    for _dfn, _dkind, _dval in (
        ("exponentialTimeDecayedSum", "sum", None),
        ("exponentialTimeDecayedCount", "count", "1"),
        ("exponentialTimeDecayedAvg", "avg", None),
        ("exponentialTimeDecayedMax", "max", None),
    ):
        def _etd(ps, a, _k=_dkind, _v=_dval):
            if len(ps) != 1:
                return None
            if _v is not None:  # count form: (x)(t) only
                if len(a) != 1:
                    return None
                return _decay_fold(ps[0], _v, a[0], base2=False, kind=_k)
            if len(a) != 2:
                return None
            return _decay_fold(ps[0], a[0], a[1], base2=False, kind=_k)
        out = _rewrite_param_calls(out, _dfn, _etd)

    # ---- round-8 batch #13: aggregate-combinator completion
    # (-Array, -OrNull, -Distinct), CH format(), string/JSON tails,
    # no-op wrappers. ----
    # -Array combinators fold the array elements of every row into
    # the aggregate. sum/avg fold in DOUBLE (same documented widening
    # as arraySum); uniqArray is EXACT over the flattened collect —
    # same exact-for-approximate drift family as the topK rewrite.
    _ASUM = (
        "sum(aggregate({a}, cast(0 as double), (__cs, __cv) -> "
        "__cs + __cv))"
    )
    out = _rewrite_calls(
        out, "sumArray", lambda a: _ASUM.format(a=a[0])
    )
    out = _rewrite_calls(
        out,
        "avgArray",
        lambda a: f"({_ASUM.format(a=a[0])} / sum(size({a[0]})))",
    )
    out = _rewrite_calls(
        out, "minArray", lambda a: f"min(array_min({a[0]}))"
    )
    out = _rewrite_calls(
        out, "maxArray", lambda a: f"max(array_max({a[0]}))"
    )
    out = _rewrite_calls(
        out, "countArray", lambda a: f"sum(size({a[0]}))"
    )
    out = _rewrite_calls(
        out,
        "uniqArray",
        lambda a: (
            f"cast(size(array_distinct(flatten(collect_list({a[0]})))) "
            "as bigint)"
        ),
    )
    # -OrNull combinators: Spark aggregates are already NULL over an
    # empty input set, so the base aggregate IS the OrNull form
    for _fn, _base in (
        ("maxOrNull", "max"), ("minOrNull", "min"), ("sumOrNull", "sum"),
        ("avgOrNull", "avg"),
    ):
        out = _rewrite_calls(
            out, _fn, lambda a, _b=_base: f"{_b}({a[0]})"
        )
    out = _rewrite_calls(
        out, "anyOrNull", lambda a: f"any_value({a[0]})"
    )
    out = _rewrite_calls(
        out, "sumDistinct", lambda a: f"sum(DISTINCT {a[0]})"
    )
    out = _rewrite_calls(
        out, "avgDistinct", lambda a: f"avg(DISTINCT {a[0]})"
    )
    out = _rewrite_calls(
        out,
        "countSubstringsCaseInsensitive",
        # ASCII-only fold (batch 23): CH's non-UTF8 CI count does not
        # fold non-ASCII; the count itself is fold-width-invariant
        lambda a: (
            f"(CASE WHEN char_length({a[1]}) = 0 THEN 0 "
            f"ELSE ((char_length({a[0]}) - char_length(replace("
            f"translate({a[0]}, " + lit(_ASCII_UP) + ", "
            + lit(_ASCII_LO) + "), "
            f"translate({a[1]}, " + lit(_ASCII_UP) + ", "
            + lit(_ASCII_LO) + f"), {lit('')}))) div char_length({a[1]})) END)"
        ),
    )

    def _ch_format(a: list[str]) -> str | None:
        # CH format('{} x {}', a, b) / indexed '{0}'-style → Spark
        # format_string('%s x %s', …) (indexed → %n$s). Literal braces
        # '{{'/'}}' unescape; a '%' in the pattern must escape to '%%'
        fmt = _lit_text(a[0], lits)
        if fmt is None or len(a) < 2:
            return None
        body = fmt[1:-1].replace("%", "%%")
        # brace escapes lift out BEFORE placeholder substitution —
        # '{{}}' contains a literal-brace pair, not a placeholder
        body = body.replace("{{", "\x01").replace("}}", "\x02")

        def _ph(m: re.Match) -> str:
            ix = m.group(1)
            return f"%{int(ix) + 1}$s" if ix else "%s"

        body = re.sub(r"\{(\d*)\}", _ph, body)
        body = body.replace("\x01", "{").replace("\x02", "}")
        new_fmt = _emit_lit("'" + body.replace("'", "''") + "'", lits)
        args = ", ".join(f"cast({x} as string)" for x in a[1:])
        return f"format_string({new_fmt}, {args})"

    out = _rewrite_calls(out, "format", _ch_format)
    out = _rewrite_calls(
        out, "mid", lambda a: f"substring({', '.join(a)})"
    )
    out = _rewrite_calls(
        out, "JSON_VALUE", lambda a: f"get_json_object({a[0]}, {a[1]})"
    )
    out = _rewrite_calls(
        out, "JSONArrayLength", lambda a: f"json_array_length({a[0]})"
    )
    out = _rewrite_calls(
        out,
        "toStringCutToZero",
        lambda a: f"substring_index({a[0]}, chr(0), 1)",
    )
    out = _rewrite_calls(
        out, "concatAssumeInjective", lambda a: f"concat({', '.join(a)})"
    )
    # no-op wrappers: block/materialization hints with no Spark analog
    for _noop in ("identity", "materialize"):
        out = _rewrite_calls(out, _noop, lambda a: f"({a[0]})")
    out = _rewrite_calls(out, "ignore", lambda a: "0")

    # ---- statement-level CH constructs (still on masked text) ----
    masked = out
    masked = re.sub(
        r"(?<![A-Za-z0-9_])today\s*\(\s*\)", "current_date()", masked, flags=re.IGNORECASE
    )
    masked = re.sub(
        r"(?<![A-Za-z0-9_])yesterday\s*\(\s*\)",
        "date_sub(current_date(), 1)",
        masked,
        flags=re.IGNORECASE,
    )
    # PREWHERE: merge with a same-SELECT WHERE, else plain WHERE
    masked = _rewrite_prewhere(masked)
    # trailing FORMAT / SETTINGS strip EARLY (review r7): the clause
    # rewrites below scan forward for clause ends, and a statement
    # tail like `… QUALIFY p FORMAT JSON` must not be swallowed into
    # a predicate span. Both regexes anchor at end-of-statement, so
    # running them first changes nothing else.
    masked = re.sub(
        # NOTE: 'null' must stay OUT of this denylist — `FORMAT Null`
        # is a real CH wire format (discard output)
        r"(?is)\bformat\s+"
        r"(?!(?:asc|desc|nulls|first|last|by|from|where|and|or|not|in|is"
        r"|as|on|limit|offset|end|then|else|when)\b)"
        r"[A-Za-z][A-Za-z0-9]*\s*(;?\s*)$",
        r"\1",
        masked,
    )
    masked = re.sub(
        r"(?is)\bsettings\s+[A-Za-z_][A-Za-z0-9_]*\s*=\s*[^\s,;]+"
        r"(\s*,\s*[A-Za-z_][A-Za-z0-9_]*\s*=\s*[^\s,;]+)*\s*(;?\s*)$",
        r"\2",
        masked,
    )
    # SAMPLE clause → TABLESAMPLE (documented nondeterminism)
    masked = _rewrite_sample_clause(masked)
    # CH constant-expression WITH (expr AS ident) → inline at uses
    masked = _rewrite_scalar_with(masked)
    # CH select-list alias visibility: bare alias refs in WHERE inline
    # as their expressions (Spark filters bind before projection)
    masked = _inline_select_aliases_in_where(masked, lits)
    # [t.]* [EXCEPT(...)] REPLACE(expr AS col, …) → EXCEPT + re-add
    masked = _rewrite_star_replace(masked)
    # runningDifference / neighbor / runningAccumulate /
    # groupArrayMovingSum under an explicit defining ORDER BY →
    # window equivalents (before QUALIFY/LIMIT BY/WITH FILL restructure
    # the clause text); orderless calls stay loud
    masked = _rewrite_block_order(masked)
    # [LEFT] ARRAY JOIN clause → position-exploded LATERAL VIEW
    masked = _rewrite_array_join(masked)
    # ASOF [LEFT] JOIN → adjacent-ts window + interval-bounded join
    masked = _rewrite_asof_join(masked)
    # QUALIFY <pred> → hidden-column wrap + outer WHERE
    masked = _rewrite_qualify(masked)
    # LIMIT n BY cols → row_number window wrapper
    masked = _rewrite_limit_by(masked)
    # CH comma offset form LIMIT off, n → LIMIT n OFFSET off (the
    # BY forms were consumed above, the lookahead keeps any residue
    # untouched)
    masked = re.sub(
        r"(?i)\blimit\s+(\d+)\s*,\s*(\d+)(?!\s*by\b)",
        r"LIMIT \2 OFFSET \1",
        masked,
    )
    # ORDER BY … LIMIT n WITH TIES → rank() wrapper (ties at the
    # boundary survive, exactly rank <= n)
    masked = _rewrite_with_ties(masked)
    # GROUP BY … WITH TOTALS → GROUPING SETS ((cols), ())
    masked = _rewrite_with_totals(masked)
    # ORDER BY c WITH FILL → sequence-spine full join
    masked = _rewrite_with_fill(masked)
    # bare INTERSECT/EXCEPT → CH hash-set filter semantics via a
    # positional row fingerprint (r11; chains/WITH-headed regions and
    # explicit ALL/DISTINCT spellings still pass through — see
    # _rewrite_bare_set_ops)
    masked = _rewrite_bare_set_ops(masked)
    # CH NULLS-LAST default on every ascending sort key (runs after
    # all ORDER-BY-consuming rewrites so they parse clean text)
    masked = _order_by_nulls_last(masked)
    # GLOBAL join / IN distribution modifier and ANY/ALL join
    # strictness: Spark's optimizer owns distribution; ANY JOIN's
    # first-match semantics ≈ plain join on unique keys (documented).
    # These run BEFORE the FINAL strip so `t FINAL GLOBAL ANY JOIN`
    # reduces step-by-step.
    masked = re.sub(r"(?i)\bglobal\s+(any\s+|all\s+)?(?=(left|right|inner|full|cross|semi|anti|join|in|not\s+in))", "", masked)
    masked = re.sub(r"(?i)\b(any|all)\s+(?=(left|right|inner|full)?\s*join)", "", masked)
    # CH strictness-first spellings SEMI/ANTI LEFT JOIN → Spark's
    # LEFT SEMI/ANTI JOIN (native). Documented drift: CH's SEMI LEFT
    # exposes right-side columns (one arbitrary match); Spark's LEFT
    # SEMI projects the left side only, so a query touching right
    # columns fails LOUDLY instead of silently matching. RIGHT
    # SEMI/ANTI have no textual Spark analog and pass through.
    masked = re.sub(r"(?i)\bsemi\s+left\s+join\b", "LEFT SEMI JOIN", masked)
    masked = re.sub(r"(?i)\banti\s+left\s+join\b", "LEFT ANTI JOIN", masked)
    # FROM t FINAL — merge-on-read finalization; our snapshots are
    # already final (store versions), so drop the modifier
    masked = re.sub(
        r"(?i)\bfinal\b(?=\s*($|\)|,|where|group|order|limit|join|left|right|inner|full|cross|on|having|union|asof|array))",
        "",
        masked,
    )
    return _unmask_strings(masked, lits)
