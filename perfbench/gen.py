"""Seeded input generator for the benchmark workloads.

Everything derives from one ``numpy.random.Generator`` per input kind,
seeded from ``--seed``, so the same seed always writes the same bytes.
Inputs are written as parquet under ``<cache>/<kind>-s<seed>-<generator digest>``
and reused by later runs with the same seed; generation is never part
of the timed set-up.

Why each property is there:

- **Hot-key burst** (``BURST_KEYS`` keys carry ``BURST_SHARE`` of the
  attempts inside a few hours): the reference's duplicate burst. It
  makes a handful of keys hold hundreds of attempts, which is what the
  TTL fold in ``dedup_within_ttl`` pays for quadratically and what
  skews the hash shuffle of every keyed operator.
- **State mix** 85/10/5 SUCCESS/RETRY/FAILED: only SUCCESS claims
  compete in ``arbitrate_ledger``; the RETRY/FAILED rows are audit rows
  that must pass through untouched.
- **TTL span**: timestamps spread over 30 days under a 1 h TTL, so an
  ordinary key's attempts are mostly re-claimable while a burst key's
  are mostly DUPLICATE.
- **Prior ledger** on about 25% of the keys, mostly SUCCESS with some
  compensated FAILED rows: ``dedup_incremental`` must block only on the
  SUCCESS rows.
- **Clone families**: 30% of the documents are clones of a base
  document, a third exact copies and the rest with 1-5-token spans
  deleted. A deletion is shortened until the clone's word-3-gram
  Jaccard with its base is at least ``MIN_CLONE_JACCARD``, where the
  16x4 LSH banding misses a pair with probability below 1e-7, so a
  family that falls apart points at the operator and not at chance.
  The generator keeps the exact Jaccard of every within-family pair,
  so recall needs no second pass.
- **Identical vectors**: 5% of the embeddings are one and the same
  vector. They all land in one LSH bucket in every table: the hot
  bucket of the ANN operators.
- **File count**: the head of the attempt log is also written as
  ``STREAM_FILES`` time-ordered files, drained one per micro-batch, so
  per-batch fixed cost and the growing ledger rewrite are both visible.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes keep one warm pass to a few seconds on 4 cores, so that a whole
# run, JVM start and cold first pass included, stays near a minute.
ATTEMPTS = 100_000
USERS = 5_000
EVENT_TYPES = ("view", "click", "cart", "buy", "share", "like",
               "follow", "rate")
BURST_KEYS = 10
BURST_SHARE = 0.01
BURST_SPAN_S = 6 * 3600
SPAN_DAYS = 30
TTL_S = 3600
LEDGER_KEY_SHARE = 0.25
STATE_P = {1: 0.85, 3: 0.10, 4: 0.05}          # SUCCESS / RETRY / FAILED

STREAM_ROWS = 30_000
STREAM_FILES = 3

DOCS = 1_000
CLONE_SHARE = 0.30
VOCAB = 20_000
DOC_TOKENS = (40, 200)
MIN_CLONE_JACCARD = 0.9

VECTORS = 1_000
DIM = 64
VECTORS_PER_CLUSTER = 20
IDENTICAL_SHARE = 0.05

T0_US = 1_767_225_600_000_000                    # 2026-01-01 00:00 UTC


_SEED_SALT = {"attempts": 1, "docs": 2, "vectors": 3, "ledger": 4}


def _rng(seed: int, kind: str) -> np.random.Generator:
    return np.random.default_rng([seed, _SEED_SALT[kind]])


def _ts_type() -> pa.DataType:
    # tz-aware, so Spark reads TIMESTAMP (event time), not TIMESTAMP_NTZ
    return pa.timestamp("us", tz="UTC")


def attempt_log(seed: int, n: int = ATTEMPTS, users: int = USERS) -> pa.Table:
    """The claimed-attempt log, ordered by (ts, event_id)."""
    rng = _rng(seed, "attempts")
    n_types = len(EVENT_TYPES)
    n_burst = int(round(n * BURST_SHARE))
    n_plain = n - n_burst
    user = rng.integers(0, users, n_plain)
    etype = rng.integers(0, n_types, n_plain)
    span_us = SPAN_DAYS * 86_400_000_000
    ts_us = rng.integers(0, span_us, n_plain)
    hot = rng.choice(users * n_types, BURST_KEYS, replace=False)
    hot_of = rng.integers(0, BURST_KEYS, n_burst)
    burst_start = rng.integers(0, span_us - BURST_SPAN_S * 1_000_000)
    user = np.concatenate([user, hot[hot_of] // n_types])
    etype = np.concatenate([etype, hot[hot_of] % n_types])
    ts_us = T0_US + np.concatenate(
        [ts_us, burst_start + rng.integers(0, BURST_SPAN_S * 1_000_000, n_burst)])
    states = np.array(list(STATE_P))
    state = rng.choice(states, n, p=list(STATE_P.values())).astype(np.int16)
    value = np.round(rng.random(n) * 100.0, 3)
    order = np.argsort(ts_us, kind="stable")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us[order], type=_ts_type()),
        "user_id": pa.array(user[order].astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype[order]]),
        "value": pa.array(value),
        "state": pa.array(state),
    })


def prior_ledger(seed: int, log: pa.Table) -> pa.Table:
    """Yesterday's arbitrated ledger over about 25% of the log's keys."""
    rng = _rng(seed, "ledger")
    keys = np.unique(np.stack([log["user_id"].to_numpy(),
                               _type_codes(log)], axis=1), axis=0)
    pick = rng.random(len(keys)) < LEDGER_KEY_SHARE
    keys = keys[pick]
    verdict = np.where(rng.random(len(keys)) < 0.9, "SUCCESS", "FAILED")
    ts_us = T0_US - rng.integers(1, 86_400_000_000, len(keys))
    return pa.table({
        "event_id": pa.array(-1 - np.arange(len(keys), dtype=np.int64)),
        "ts": pa.array(ts_us, type=_ts_type()),
        "user_id": pa.array(keys[:, 0].astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[keys[:, 1]]),
        "verdict": pa.array(verdict),
    })


def _type_codes(log: pa.Table) -> np.ndarray:
    lookup = {t: i for i, t in enumerate(EVENT_TYPES)}
    return np.array([lookup[t] for t in log["event_type"].to_pylist()])


def shingle_set(tokens: list[str], n: int = 3) -> set[str]:
    """Distinct word n-grams, as ``operators.similarity.shingle_array``
    builds them from already-normalized text."""
    if len(tokens) < n:
        return set()
    return {" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: set, b: set) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 0.0


def corpus(seed: int, n: int = DOCS) -> tuple[pa.Table, list[list[int]], list[tuple[int, int, float]]]:
    """Documents, clone families (lists of doc ids) and every
    within-family pair ``(id_a, id_b, jaccard)`` with ``id_a < id_b``."""
    rng = _rng(seed, "docs")
    words = np.array([f"w{i:x}" for i in range(VOCAB)])
    zipf_p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    n_clones = int(round(n * CLONE_SHARE))
    n_base = n - n_clones
    base_toks = []
    for _ in range(n_base):
        length = int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))
        base_toks.append(list(words[rng.choice(VOCAB, length, p=zipf_p)]))
    # families of a base plus 1-3 clones until the clone budget is spent
    fam_bases = rng.permutation(n_base)
    fam_sizes = []
    left = n_clones
    while left > 0:
        k = min(int(rng.integers(1, 4)), left)
        fam_sizes.append(k)
        left -= k
    texts = [" ".join(t) for t in base_toks]
    fam_members: list[list[int]] = []
    member_toks: dict[int, list[str]] = {i: t for i, t in enumerate(base_toks)}
    for f, k in enumerate(fam_sizes):
        b = int(fam_bases[f])
        members = [b]
        for _ in range(k):
            toks = base_toks[b]
            if rng.random() >= 1 / 3:
                span = int(rng.integers(1, 6))
                start = int(rng.integers(0, len(toks) - span))
                base_set = shingle_set(toks)
                while span > 0:
                    cand = toks[:start] + toks[start + span:]
                    if jaccard(base_set, shingle_set(cand)) >= MIN_CLONE_JACCARD:
                        toks = cand
                        break
                    span -= 1
            member_toks[len(texts)] = toks
            members.append(len(texts))
            texts.append(" ".join(toks))
        fam_members.append(members)
    # ids are a seeded permutation, so clones never sit next to bases
    ids = rng.permutation(len(texts)).astype(np.int64)
    families = [[int(ids[m]) for m in fam] for fam in fam_members]
    pairs = []
    for fam in fam_members:
        sets = {m: shingle_set(member_toks[m]) for m in fam}
        for i, a in enumerate(fam):
            for b in fam[i + 1:]:
                ia, ib = sorted((int(ids[a]), int(ids[b])))
                pairs.append((ia, ib, jaccard(sets[a], sets[b])))
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)})
    return table, families, pairs


def vectors(seed: int, n: int = VECTORS, dim: int = DIM) -> pa.Table:
    """Clustered float32 embeddings with a block of identical vectors."""
    rng = _rng(seed, "vectors")
    n_clusters = max(1, n // VECTORS_PER_CLUSTER)
    centers = rng.standard_normal((n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    emb = centers[label] + 0.35 * rng.standard_normal((n, dim))
    same = rng.choice(n, int(round(n * IDENTICAL_SHARE)), replace=False)
    emb[same] = rng.standard_normal(dim)
    label[same] = -1
    emb = emb.astype(np.float32)
    flat = pa.array(emb.reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(label.astype(np.int32)),
    })


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def build_inputs(kind: str, seed: int, out_dir: str) -> None:
    """Write every input of ``kind`` ('attempts' or 'corpus') for
    ``seed`` into ``out_dir``. Tables follow the ``sources`` layout,
    ``<dir>/<table>.parquet``."""
    if kind == "attempts":
        log = attempt_log(seed)
        _write(log, f"{out_dir}/events.parquet")
        _write(prior_ledger(seed, log), f"{out_dir}/ledger/events.parquet")
        per = -(-STREAM_ROWS // STREAM_FILES)
        for i in range(STREAM_FILES):
            path = f"{out_dir}/stream/part-{i:04d}.parquet"
            _write(log.slice(i * per, min(per, STREAM_ROWS - i * per)), path)
            # the file source takes files in modification-time order
            os.utime(path, ns=(1_700_000_000_000_000_000 + i * 10**9,) * 2)
    elif kind == "corpus":
        docs, _families, pairs = corpus(seed)
        _write(docs, f"{out_dir}/documents.parquet")
        _write(vectors(seed), f"{out_dir}/embeddings.parquet")
        with open(f"{out_dir}/truth.json", "w") as fh:
            json.dump({"pairs": pairs}, fh)
    else:
        raise ValueError(f"unknown input kind {kind!r}")


def generator_id() -> str:
    """Digest of this file: inputs cached by an older generator, or with
    other sizes, are never reused."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:10]


def cached_inputs(kind: str, seed: int, cache_root: str) -> str:
    """The directory holding ``kind``'s inputs for ``seed``, generated on
    first use. Generation writes to a temporary directory and renames
    it, so an interrupted run never leaves a half-written cache."""
    final = os.path.join(cache_root, f"{kind}-s{seed}-{generator_id()}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build_inputs(kind, seed, tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        # another run renamed the same inputs first: identical bytes
        shutil.rmtree(tmp, ignore_errors=True)
    return final
