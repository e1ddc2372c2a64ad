"""Checks of the benchmark's own oracle and span arithmetic (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import oracle  # noqa: E402
from spans import Tracer  # noqa: E402

from pyetl_spark.cdc.oracle import replay_oracle  # noqa: E402


def tiny_events(seed: int = 7, n: int = 300) -> pd.DataFrame:
    """Seeded events over a small keyspace, delivered out of seq order."""
    rng = np.random.RandomState(seed)
    seq = rng.permutation(n)
    return pd.DataFrame({
        "seq": seq.astype("int64"),
        "op": np.where(rng.rand(n) < 0.2, "delete", "upsert"),
        "repo": [f"repo-{i:05d}" for i in rng.randint(0, 6, n)],
        "path": [f"src/f_{i:04d}.txt" for i in rng.randint(0, 5, n)],
        "commit": [f"{s:016x}" for s in seq],
        "lang": rng.choice(["py", "go", "rs"], n),
        "content": [f"// {s}\nline {s * 7};\n" for s in seq],
    })


def test_vectorised_lww_matches_sequential_replay_oracle():
    ev = tiny_events()
    want = replay_oracle(ev)
    got = oracle.lww_state(ev).reset_index()[list(want.columns)]
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want, check_dtype=False)


def test_lww_state_survives_any_delivery_order():
    ev = tiny_events(seed=3)
    shuffled = ev.sample(frac=1.0, random_state=1)
    pd.testing.assert_frame_equal(oracle.lww_state(ev), oracle.lww_state(shuffled))


def test_expected_table_applies_the_default_rules():
    ev = tiny_events()
    want = oracle.expected_table(ev)
    assert (want["lang"] == want["lang"].str.upper()).all()
    row = want.iloc[0]
    assert row["content_sha"] == hashlib.sha256(row["content"].encode()).hexdigest()


def test_diff_table_flags_wrong_missing_and_duplicate_rows():
    want = oracle.expected_table(tiny_events())
    got = want.reset_index()[["repo", "path", "lang", "content", "content_sha"]]
    assert oracle.diff_table(got, want) == []
    wrong = got.copy()
    wrong.loc[0, "content"] = "tampered"
    assert oracle.diff_table(wrong, want) == ["1 rows with wrong content"]
    assert "keys missing" in oracle.diff_table(got.iloc[1:], want)[-1]
    assert oracle.diff_table(pd.concat([got, got.iloc[:1]]), want) == ["duplicate keys in table"]


def test_input_stats_counts_keys_and_hot_share():
    ev = tiny_events()
    st = oracle.input_stats(ev, seed=7, nbytes=123, top_repos=1)
    assert st["events"] == len(ev)
    assert st["distinct_keys"] == ev.drop_duplicates(["repo", "path"]).shape[0]
    assert 0 < st["hot_repo_share"] <= 1


class _Ctx:
    def setLocalProperty(self, key, value):
        pass


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(_Ctx(), enabled=True)
    tr.spans = [
        {"id": 0, "name": "outer", "parent": None, "rid": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "rid": None, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "rid": None, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "a", "parent": 0, "rid": None, "start": 8.0, "end": 9.0},
        {"id": 4, "name": "leaf", "parent": 1, "rid": None, "start": 2.0, "end": 3.0},
    ]
    st = tr.self_times()
    assert st["outer"] == 10.0 - (5.0 - 1.0) - 1.0
    assert st["a"] == (3.0 - 1.0) + 1.0
    assert st["b"] == 2.0 and st["leaf"] == 1.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(_Ctx(), enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []
