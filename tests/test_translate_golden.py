"""Golden-translation snapshot and pattern-compile guard for the dialect
translator. Spark-free: no session is started.

The snapshot (``tests/fixtures/translate_golden.json``) is written by
``tools/translate_golden.py --write``; every entry must re-translate
byte for byte. Regenerate it only for an intended output change.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

from ora_ch_spark.functions import dialect
from ora_ch_spark.functions.dialect import translate_ch_sql

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "translate_golden.py")
_spec = importlib.util.spec_from_file_location("translate_golden", _TOOL)
golden = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(golden)

SNAPSHOT = golden.load()


def test_golden_inputs_match_snapshot():
    """The catalog and inventory texts are the ones the snapshot was
    taken from (else rerun ``tools/translate_golden.py --write``)."""
    now = golden.golden_inputs()
    taken = [(e["name"], e["sql"], e["byte_strings"]) for e in SNAPSHOT]
    assert [n for n, _, _ in now] == [n for n, _, _ in taken]
    assert now == taken


@pytest.mark.parametrize("entry", SNAPSHOT, ids=[e["name"] for e in SNAPSHOT])
def test_translation_matches_golden(entry):
    assert golden.translate(entry["sql"], entry["byte_strings"]) == entry["out"]


def test_warm_translation_compiles_no_patterns(monkeypatch):
    """A translation visits ~700 distinct function names, more than the
    ``re`` module caches (512): without ``_call_pattern``'s memo every
    statement recompiled thousands of patterns. Once warm, translating
    the stored texts again must compile none."""
    texts = [s for _, s in golden.stored_texts()]
    for s in texts:
        translate_ch_sql(s)
    compiled = []
    real = re._compiler.compile

    def counting(pattern, flags=0):
        compiled.append(pattern)
        return real(pattern, flags)

    monkeypatch.setattr(re._compiler, "compile", counting)
    for s in texts:
        translate_ch_sql(s)
    assert len(compiled) == 0, compiled[:5]


def test_call_pattern_memo_holds_only_translator_names():
    """The memo's keys come from the translator's own name tables, not
    from the SQL: translating the inventory a second time, or text full
    of unknown function names, adds no entry."""
    inventory = [(s, b) for n, s, b in golden.golden_inputs() if n.startswith("inventory/")]
    for s, b in inventory:
        golden.translate(s, b)
    size = dialect._call_pattern.cache_info().currsize
    for s, b in inventory:
        golden.translate(s, b)
    translate_ch_sql("select userFnA(x), user_fn_b(y, 1), zz9(z) from t")
    assert dialect._call_pattern.cache_info().currsize == size
