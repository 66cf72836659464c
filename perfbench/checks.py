"""Reference computations the benchmark checks the engine against.

Each function takes plain numpy / Python data built from the generated
inputs and returns what the engine must produce, so the checks never
trust Spark to verify Spark.
"""

from __future__ import annotations

import numpy as np

SUCCESS, DUPLICATE, RETRY, FAILED = "SUCCESS", "DUPLICATE", "RETRY", "FAILED"
_STATE_NAME = {1: SUCCESS, 2: DUPLICATE, 3: RETRY, 4: FAILED}


def _key_order(key: np.ndarray, ts: np.ndarray, eid: np.ndarray) -> np.ndarray:
    return np.lexsort((eid, ts, key))


def first_wins(key, ts, eid) -> np.ndarray:
    """Per-row bool: the row is the earliest (ts, event_id) of its key."""
    order = _key_order(key, ts, eid)
    k = key[order]
    first = np.ones(len(k), bool)
    first[1:] = k[1:] != k[:-1]
    out = np.zeros(len(k), bool)
    out[order] = first
    return out


def arbitrate(key, ts, eid, state) -> np.ndarray:
    """Per-row verdict of 4-state arbitration: the earliest SUCCESS
    claim per key keeps SUCCESS, later SUCCESS claims become DUPLICATE,
    other claims keep their state."""
    out = np.array([_STATE_NAME[s] for s in (1, 2, 3, 4)], dtype=object)[state - 1]
    succ = state == 1
    win = first_wins(key[succ], ts[succ], eid[succ])
    out[np.flatnonzero(succ)] = np.where(win, SUCCESS, DUPLICATE)
    return out


def signature(eid: np.ndarray, verdict: np.ndarray) -> dict:
    """{verdict: (rows, sum of event ids, sum of squared event ids)}:
    what the engine's output must aggregate to, per verdict."""
    out = {}
    for v in np.unique(verdict):
        ids = eid[verdict == v].astype(object)
        out[str(v)] = (len(ids), int(ids.sum()), int((ids * ids).sum()))
    return out


def ttl_accepted(key, ts_us, eid, ttl_s: int) -> np.ndarray:
    """Per-row bool of the TTL recurrence: an attempt is accepted when
    no accepted attempt of its key lies within ``ttl_s`` before it."""
    order = _key_order(key, ts_us, eid)
    k, t = key[order], ts_us[order]
    ttl_us = ttl_s * 1_000_000
    acc = np.zeros(len(k), bool)
    last_key, last_ts = None, 0
    for i in range(len(k)):
        if k[i] != last_key or t[i] - last_ts >= ttl_us:
            acc[i] = True
            last_key, last_ts = k[i], t[i]
    out = np.zeros(len(k), bool)
    out[order] = acc
    return out


def incremental_success(key, ts, eid, blocked_keys: np.ndarray) -> np.ndarray:
    """Per-row bool: SUCCESS of incremental first-wins against a ledger
    whose SUCCESS rows block ``blocked_keys``."""
    return first_wins(key, ts, eid) & ~np.isin(key, blocked_keys)


def latest_per_key(key, ts, eid) -> np.ndarray:
    """event_id of the latest (ts, event_id) row of every key, sorted."""
    order = np.lexsort((eid, ts, key))
    k = key[order]
    last = np.ones(len(k), bool)
    last[:-1] = k[1:] != k[:-1]
    return np.sort(eid[order][last])


def topk_recall(emb: np.ndarray, ids: np.ndarray, queries: np.ndarray,
                returned: dict[int, list[int]], k: int) -> float:
    """Tie-aware recall@k of ``returned`` neighbour lists against exact
    cosine: a returned neighbour counts when its true cosine is at least
    the query's k-th best true cosine (minus float32 slack), so any of
    several identical vectors is a correct answer."""
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    hits = 0
    for q in queries.tolist():
        qi = pos[q]
        cos = unit @ unit[qi]
        cos[qi] = -np.inf
        kth = np.partition(cos, -k)[-k]
        got = [pos[n] for n in returned.get(q, [])[:k] if n in pos and n != q]
        hits += sum(1 for g in got if cos[g] >= kth - 1e-5)
    return hits / (k * len(queries))


def cosine_errors(emb: np.ndarray, ids: np.ndarray,
                  triples: list[tuple[int, int, float]]) -> int:
    """Count returned (query, neighbour, cosine) rows whose cosine is
    off the exact value by more than float32 rounding allows."""
    unit = emb.astype(np.float64)
    unit /= np.linalg.norm(unit, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(ids)}
    bad = 0
    for q, n, c in triples:
        if abs(float(unit[pos[q]] @ unit[pos[n]]) - c) > 1e-4:
            bad += 1
    return bad
