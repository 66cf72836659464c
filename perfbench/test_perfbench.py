"""Tests of the benchmark's own pieces: the generator and the reference
checks. They need numpy and pyarrow only, not Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _s, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("kind", ["attempts", "corpus"])
def test_same_seed_same_bytes(tmp_path, kind):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.build_inputs(kind, 7, str(a))
    gen.build_inputs(kind, 7, str(b))
    gen.build_inputs(kind, 8, str(c))
    assert _files(a) == _files(b)
    for f in _files(a):
        assert filecmp.cmp(a / f, b / f, shallow=False), f
    assert any(not filecmp.cmp(a / f, c / f, shallow=False) for f in _files(a))


def test_cached_inputs_reused(tmp_path):
    d1 = gen.cached_inputs("corpus", 3, str(tmp_path))
    mtime = os.path.getmtime(os.path.join(d1, "documents.parquet"))
    d2 = gen.cached_inputs("corpus", 3, str(tmp_path))
    assert d1 == d2
    assert os.path.getmtime(os.path.join(d2, "documents.parquet")) == mtime


def test_attempt_log_properties():
    t = gen.attempt_log(5, n=20_000, users=1_000)
    ts = t["ts"].cast("int64").to_numpy()
    assert np.all(np.diff(ts) >= 0)
    assert t.schema.field("ts").type.tz == "UTC"
    state = t["state"].to_numpy()
    assert set(np.unique(state)) == {1, 3, 4}
    assert 0.82 < (state == 1).mean() < 0.88
    users = t["user_id"].to_numpy()
    _, counts = np.unique(np.stack([users, t["event_type"].to_numpy(zero_copy_only=False)
                                    .astype("U")], axis=1), axis=0, return_counts=True)
    # the burst keys hold about 1% of the attempts each tenth
    assert counts.max() >= 0.01 * len(users) / gen.BURST_KEYS * 0.5


def test_corpus_planted_pairs_match_text():
    docs, families, pairs = gen.corpus(4, n=300)
    text = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
    assert len(text) == 300
    members = [m for f in families for m in f]
    assert len(members) == len(set(members))
    for a, b, j in pairs:
        assert a < b
        got = gen.jaccard(gen.shingle_set(text[a].split()),
                          gen.shingle_set(text[b].split()))
        assert got == pytest.approx(j)
    fam_of = {m: i for i, f in enumerate(families) for m in f}
    for f in families:
        base = f[0]
        for clone in f[1:]:
            j = gen.jaccard(gen.shingle_set(text[base].split()),
                            gen.shingle_set(text[clone].split()))
            assert j >= gen.MIN_CLONE_JACCARD
    assert all(fam_of[a] == fam_of[b] for a, b, _ in pairs)


def test_vectors_identical_block():
    t = gen.vectors(2, n=400)
    emb = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
    same = t["label"].to_numpy() == -1
    assert same.sum() == 20
    assert np.all(emb[same] == emb[same][0])
    assert emb.dtype == np.float32


# --- reference checks on tiny inputs --------------------------------------

KEY = np.array([1, 1, 1, 2, 2, 3])
TS = np.array([30, 10, 10, 5, 7, 1]) * 1_000_000
EID = np.array([0, 2, 1, 3, 4, 5])


def test_first_wins():
    assert checks.first_wins(KEY, TS, EID).tolist() == \
        [False, False, True, True, False, True]


def test_arbitrate():
    state = np.array([1, 1, 3, 4, 1, 1])
    # key 1: SUCCESS claims eid 0 (ts 30) and 2 (ts 10) -> eid 2 wins
    assert checks.arbitrate(KEY, TS, EID, state).tolist() == \
        ["DUPLICATE", "SUCCESS", "RETRY", "FAILED", "SUCCESS", "SUCCESS"]


def test_signature():
    eid = np.array([3, 4, 5])
    sig = checks.signature(eid, np.array(["SUCCESS", "DUPLICATE", "SUCCESS"]))
    assert sig == {"SUCCESS": (2, 8, 34), "DUPLICATE": (1, 4, 16)}


def test_ttl_accepted():
    key = np.array([1, 1, 1, 1, 2])
    ts = np.array([0, 30, 60, 95, 0]) * 1_000_000
    eid = np.arange(5)
    # ttl 60: 0 accepted, 30 dup, 60 accepted (horizon from 0), 95 dup
    assert checks.ttl_accepted(key, ts, eid, 60).tolist() == \
        [True, False, True, False, True]


def test_incremental_success():
    got = checks.incremental_success(KEY, TS, EID, np.array([2]))
    assert got.tolist() == [False, False, True, False, False, True]


def test_latest_per_key():
    assert checks.latest_per_key(KEY, TS, EID).tolist() == [0, 4, 5]


def test_topk_recall_counts_ties():
    emb = np.array([[1, 0], [1, 0], [1, 0], [0, 1], [1, 1]], float)
    ids = np.array([10, 11, 12, 13, 14])
    # query 10's two best are the identical 11 and 12; either order is right
    assert checks.topk_recall(emb, ids, np.array([10]), {10: [12, 11]}, 2) == 1.0
    assert checks.topk_recall(emb, ids, np.array([10]), {10: [12, 13]}, 2) == 0.5


def test_cosine_errors():
    emb = np.array([[1, 0], [0, 1], [1, 1]], float)
    ids = np.array([1, 2, 3])
    assert checks.cosine_errors(emb, ids, [(1, 2, 0.0), (1, 3, 2 ** -0.5)]) == 0
    assert checks.cosine_errors(emb, ids, [(1, 2, 0.1)]) == 1


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert per_layer == layers.METRICS
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "pass_cpu_s"]
