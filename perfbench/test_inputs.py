"""The seeded generator gives identical inputs for one seed and different
inputs for another. Runs without a Spark session:

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import inputs as I  # noqa: E402
from workloads import HEAVY, WORKING, calc_plan, stored_texts  # noqa: E402


def digest(path: str) -> str:
    """sha256 over every file below ``path`` (name + bytes)."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _tables_digest(tmp_path, seed: int, name: str) -> str:
    out = str(tmp_path / name)
    base = I.base_tables(seed, 0.05)
    I.write_tables(base, out)
    I.write_tables(I.corpus_tables(seed, 0.05, n_docs=300, near_dup_share=0.1), out)
    I.sync_plan(seed, base, os.path.join(out, "sync"), n_cycles=3, orders_per_cycle=500,
                update_rows=100)
    I._write(I.derby_seed(seed, 2_000), os.path.join(out, "derby.parquet"))
    return digest(out)


def test_same_seed_same_inputs(tmp_path):
    assert _tables_digest(tmp_path, 7, "a") == _tables_digest(tmp_path, 7, "b")


def test_other_seed_other_inputs(tmp_path):
    assert _tables_digest(tmp_path, 7, "a") != _tables_digest(tmp_path, 8, "b")


def test_calc_plan_is_seeded():
    texts = stored_texts()
    a, b, c = (calc_plan(s, texts, 3, 2, 2) for s in (7, 7, 8))
    assert a == b
    assert a != c
    for rnd in a:
        names = [d[0] for d in rnd]
        # every working-set text, two of them twice, then the heavy text
        assert names[-len(HEAVY):] == list(HEAVY)
        assert names[:len(WORKING)] == list(WORKING)
        assert len(names) == len(WORKING) + 2 + len(HEAVY)
        assert names.count("calc_pipeline") == 1
        assert [d[2] for d in rnd] == [False] * 4 + [True] * 2 + [False] * 3


@pytest.mark.parametrize("share", [0.05, 0.2])
def test_near_duplicate_share(share):
    docs = I.documents(I._rng(1, "documents"), 4_000, share)
    dup = sum(t.endswith(" dup") for t in docs["text"].to_pylist())
    assert abs(dup / 4_000 - share) < 0.02


def test_sync_cycle_expectations(tmp_path):
    base = I.base_tables(3, 0.05)
    plan = I.sync_plan(3, base, str(tmp_path), n_cycles=2, orders_per_cycle=500,
                       update_rows=100)
    for c in plan.cycles:
        keys = pq.read_table(c.paths["lineitem"])["l_orderkey"].to_numpy()
        fresh = int(((keys >= c.orders_hi - 500) & (keys < c.orders_hi)).sum())
        assert fresh == c.expected["lineitem"]
        # the rest replays lines already loaded: APPEND_NOT_IN skips them
        assert (keys < c.orders_hi - 500).sum() == len(keys) - fresh
        assert abs((len(keys) - fresh) / len(keys) - I.REPLAY_SHARE) < 0.02
        upd = pq.read_table(c.paths["orders_upd"])["o_orderkey"].to_numpy()
        assert len(set(upd)) == 100 and upd.max() < c.orders_hi - 500


def test_repeat_shares():
    draws = [("a", {"x": "1"}, False), ("a", {"x": "2"}, False), ("a", {"x": "1"}, True),
             ("b", {}, False)]
    assert I.repeat_shares(draws) == {"text_repeat_share": 0.5, "pair_repeat_share": 0.25}
