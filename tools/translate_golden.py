#!/usr/bin/env python
"""Golden-translation snapshot of the ClickHouse → Spark dialect
translator, and translate time per stored text.

The snapshot (``tests/fixtures/translate_golden.json``) holds the exact
output of ``translate_ch_sql`` for every text the engine and its tests
feed it:

- each ``catalog_tpch`` TPC-H and window text, bound with its default
  params (``tpch/<entry>``);
- the calc pipeline's stored text and the verbatim 6184 text, bound
  (``calc/…``);
- every module-level CH text that ``catalog.py`` and
  ``catalog_dialect.py`` pass to ``translate_ch_sql`` (``catalog/…``,
  ``catalog_dialect/…``), in both ``byte_strings`` modes where the
  catalog uses byte mode;
- the call lists of ``tests/test_dialect_inventory.py``
  (``inventory/…``).

``tests/test_translate_golden.py`` re-translates every entry and
compares byte for byte, so a translator refactor must reproduce it.

Usage::

    python tools/translate_golden.py           # ms per stored text, drift count
    python tools/translate_golden.py --write   # also rewrite the snapshot

Cold is a text's first translation in the process (texts run in the
order printed, so the first one also pays the module's one-time pattern
compiles); warm is the best of five more.
"""

from __future__ import annotations

import ast
import importlib.util
import inspect
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ora_ch_spark import catalog, catalog_dialect, catalog_tpch  # noqa: E402
from ora_ch_spark.functions.dialect import (  # noqa: E402
    register_dictionary,
    translate_ch_sql,
)
from ora_ch_spark.functions.params import bind_params  # noqa: E402

SNAPSHOT = os.path.join(ROOT, "tests", "fixtures", "translate_golden.json")
WARM_REPEATS = 5


def _module_texts(module) -> list[tuple[str, str, bool]]:
    """(name, text, byte mode) for every ``translate_ch_sql(NAME, …)``
    call in ``module`` whose argument is a module-level string."""
    tree = ast.parse(inspect.getsource(module))
    out = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and getattr(node.func, "id", None) == "translate_ch_sql"
                and node.args and isinstance(node.args[0], ast.Name)):
            continue
        text = getattr(module, node.args[0].id, None)
        if not isinstance(text, str):
            continue  # a local (the bound 6184 text is its own entry)
        byte = any(k.arg == "byte_strings" and getattr(k.value, "value", False)
                   for k in node.keywords)
        out.append((node.args[0].id, text, byte))
    return sorted(out, key=lambda t: t[0])


def _inventory_texts() -> list[tuple[str, str]]:
    path = os.path.join(ROOT, "tests", "test_dialect_inventory.py")
    spec = importlib.util.spec_from_file_location("_dialect_inventory", path)
    inv = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(inv)
    out = []
    for kind in ("TRANSLATED", "NATIVE", "LOUD"):
        out += [(f"{kind.lower()}/{c}", f"select {c} from t") for c in getattr(inv, kind)]
    out += [(f"ordered_translated/{s}", s) for s, _ in inv.ORDERED_TRANSLATED]
    out += [(f"ordered_still_loud/{s}", s) for s in inv.ORDERED_STILL_LOUD]
    return out


def stored_texts() -> list[tuple[str, str]]:
    """(name, bound CH text) for the texts that reach ``translate_ch_sql``
    through ``bind_params``: the /calc path's stored queries."""
    out = []
    for qd in catalog_tpch.TPCH_QUERIES + catalog_tpch.WINDOW_QUERIES:
        v = inspect.getclosurevars(qd.spark).nonlocals
        out.append((f"tpch/{qd.name}",
                    bind_params(v["ch_sql"], v["params"], v["values"] or {})))
    out.append(("calc/calc_pipeline",
                bind_params(catalog._CALC_STORED_SQL, catalog._CALC_STORED_PARAMS,
                            catalog._CALC_STORED_VALUES)))
    out.append(("calc/verbatim_6184",
                bind_params(catalog._v6184_view_body(), catalog._V6184_PARAMS,
                            catalog._V6184_VALUES)))
    return out


def golden_inputs() -> list[tuple[str, str, bool]]:
    """(name, CH text, byte_strings) for every snapshot entry, in order."""
    out = [(n, s, False) for n, s in stored_texts()]
    for module in (catalog, catalog_dialect):
        prefix = module.__name__.rsplit(".", 1)[-1]
        for name, text, byte in _module_texts(module):
            out.append((f"{prefix}/{name}", text, False))
            if byte:
                out.append((f"{prefix}/{name}#byte_strings", text, True))
    out += [(f"inventory/{n}", s, False) for n, s in _inventory_texts()]
    return out


def translate(sql: str, byte_strings: bool) -> str:
    # catalog_dialect's dictGet entry registers this before translating
    register_dictionary("nation", "n_nationkey")
    return translate_ch_sql(sql, byte_strings=byte_strings)


def build() -> list[dict]:
    return [{"name": n, "byte_strings": b, "sql": s, "out": translate(s, b)}
            for n, s, b in golden_inputs()]


def load() -> list[dict]:
    with open(SNAPSHOT, encoding="utf-8") as fh:
        return json.load(fh)


def dump(entries: list[dict]) -> None:
    with open(SNAPSHOT, "w", encoding="utf-8") as fh:
        json.dump(entries, fh, indent=1, ensure_ascii=False)
        fh.write("\n")


def _ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def main(argv: list[str]) -> int:
    if argv not in ([], ["--write"]):
        print(__doc__, file=sys.stderr)
        return 2
    print(f"{'stored text':40s} {'cold_ms':>8s} {'warm_ms':>8s}")
    for name, sql in stored_texts():
        cold = _ms(lambda: translate_ch_sql(sql))
        warm = min(_ms(lambda: translate_ch_sql(sql)) for _ in range(WARM_REPEATS))
        print(f"{name:40s} {cold:8.1f} {warm:8.1f}")
    entries = build()
    if argv == ["--write"]:
        dump(entries)
        print(f"wrote {len(entries)} entries to {os.path.relpath(SNAPSHOT, ROOT)}")
        return 0
    old = {e["name"]: e for e in load()}
    new = {e["name"]: e for e in entries}
    drift = sorted(n for n in old.keys() | new.keys() if old.get(n) != new.get(n))
    for name in drift:
        print(f"differs: {name}")
    print(f"{len(entries)} entries, {len(drift)} differ from the snapshot")
    return 1 if drift else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
