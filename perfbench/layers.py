"""Per-layer metrics of a traced run.

Every metric is computed per traced pass and reported as the median
over those passes, except where noted. A layer that a workload does not
call reads 0 there (``dedup.*`` on dup_corpus, for example): no time was
spent in it. The list below is the complete set, in the order
BENCHMARK.json declares it; README.md gives each one's meaning.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import tracing

DEDUP_OPS = ("first_wins", "exact_keys", "arbitrate", "within_ttl", "incremental")
SIM_OPS = ("minhash", "ann_lsh")

# name -> (unit, better)
METRICS: dict[str, tuple[str, str]] = {
    "session.get_session_s": ("s", "lower"),
    "sources.open_s": ("s", "lower"),
}
for _op in DEDUP_OPS:
    for _m, _u in (("build_s", "s"), ("plan_s", "s"), ("run_s", "s"),
                   ("jobs", "count"), ("executor_cpu_s", "s"),
                   ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        METRICS[f"dedup.{_op}.{_m}"] = (_u, "lower")
METRICS["dedup.exact_keys.shuffle_rows_per_input_row"] = ("ratio", "lower")
for _op in SIM_OPS:
    for _m, _u in (("build_s", "s"), ("build_jobs", "count"), ("plan_s", "s"),
                   ("run_s", "s"), ("run_jobs", "count"),
                   ("executor_cpu_s", "s"), ("shuffle_write_bytes", "bytes")):
        METRICS[f"similarity.{_op}.{_m}"] = (_u, "lower")
METRICS.update({
    "similarity.ann_lsh.python_cpu_s": ("s", "lower"),
    "similarity.ann.worker_peak_rss_mb": ("MB", "lower"),
    "similarity.minhash.candidates": ("count", "lower"),
    "similarity.minhash.verified_per_candidate": ("ratio", "higher"),
    "similarity.release.run_s": ("s", "lower"),
    "similarity.persisted_after_release": ("count", "lower"),
    "similarity.minhash.recall": ("ratio", "higher"),
    "similarity.ann_lsh.recall_at_5": ("ratio", "higher"),
    "streaming.ledger.batches": ("count", "lower"),
    "streaming.ledger.add_batch_ms_p50": ("ms", "lower"),
    "streaming.ledger.query_planning_ms_p50": ("ms", "lower"),
    "streaming.ledger.wal_commit_ms_p50": ("ms", "lower"),
    "streaming.ledger.commit_offsets_ms_p50": ("ms", "lower"),
    "streaming.ledger.trigger_ms_p50": ("ms", "lower"),
    "streaming.ledger.trigger_ms_p90": ("ms", "lower"),
    "streaming.ledger.jobs_per_batch": ("count", "lower"),
    "streaming.ledger.batch_growth": ("ratio", "lower"),
    "streaming.ledger.bytes_rewritten_per_batch": ("bytes", "lower"),
    "streaming.ledger.write_amp": ("ratio", "lower"),
    "streaming.ledger.executor_cpu_s": ("s", "lower"),
    "streaming.ledger.shuffle_write_bytes": ("bytes", "lower"),
    "dedup.self_s": ("s", "lower"),
    "similarity.self_s": ("s", "lower"),
    "streaming.self_s": ("s", "lower"),
    "bench.self_s": ("s", "lower"),
    "box.steal_cores": ("cores", "lower"),
    "box.gc_s": ("s", "lower"),
    "box.jit_cpu_s": ("s", "lower"),
    "box.loadavg": ("load", "lower"),
    "box.foreign_spark_jvms": ("count", "lower"),
    "trace.traced_pass_s": ("s", "lower"),
    "trace.untraced_pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.traced_pass_cpu_s": ("s", "lower"),
    "trace.untraced_pass_cpu_s": ("s", "lower"),
    "trace.overhead_cpu_s": ("s", "lower"),
    "trace.span_coverage": ("ratio", "higher"),
})


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _pct(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def _pass_values(spans, p, groups) -> dict[str, float]:
    """Layer values of one traced pass."""
    lo, hi = p["spans"]
    v: dict[str, float] = defaultdict(float)
    leaves = 0.0
    for sp in spans[lo:hi]:
        parts = sp.name.split(".")
        if len(parts) != 3:
            continue
        module, op, phase = parts
        leaves += sp.dur
        v[f"{module}.self_s"] += sp.dur
        v[f"{module}.{op}.{phase}_s"] += sp.dur
        if module == "dedup":
            v[f"dedup.{op}.jobs"] += sp.jobs
        elif module == "similarity" and phase in ("build", "run"):
            v[f"similarity.{op}.{phase}_jobs"] += sp.jobs
        if op.startswith("ann"):
            v[f"similarity.{op}.python_cpu_s"] += sp.python_cpu_s
        g = groups.get(sp.group) if sp.group else None
        if g is not None:
            v[f"{module}.{op}.executor_cpu_s"] += g.executor_cpu_s
            v[f"{module}.{op}.shuffle_write_bytes"] += g.shuffle_write_bytes
            v[f"{module}.{op}.spill_bytes"] += g.spill_bytes
            v[f"{module}.{op}.shuffle_write_records"] += g.shuffle_write_records
    v["bench.self_s"] = p["wall_s"] - leaves
    v["trace.span_coverage"] = leaves / p["wall_s"]
    for d in p.get("drains", []):
        batches = d["batches"]
        n = len(batches)
        ms = [b["ms"] for b in batches]
        trig = [m.get("triggerExecution", 0) for m in ms]
        pre = "streaming.ledger"
        v[f"{pre}.batches"] = n
        for name, key in (("add_batch", "addBatch"), ("query_planning", "queryPlanning"),
                          ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets")):
            v[f"{pre}.{name}_ms_p50"] = _median(m.get(key, 0) for m in ms)
        v[f"{pre}.trigger_ms_p50"] = _pct(trig, 50)
        v[f"{pre}.trigger_ms_p90"] = _pct(trig, 90)
        v[f"{pre}.jobs_per_batch"] = d.get("jobs", 0) / max(n, 1)
        q = max(1, n // 4)
        first = _median(trig[:q])
        v[f"{pre}.batch_growth"] = _median(trig[-q:]) / first if first else 0.0
        v[f"{pre}.bytes_rewritten_per_batch"] = d["bytes_written"] / max(n, 1)
        v[f"{pre}.write_amp"] = d["bytes_written"] / max(d["input_bytes"], 1)
        g = groups.get(d["run_id"])
        if g is not None:
            v[f"{pre}.executor_cpu_s"] = g.executor_cpu_s
            v[f"{pre}.shuffle_write_bytes"] = g.shuffle_write_bytes
    if "persisted_after_release" in p:
        v["similarity.persisted_after_release"] = p["persisted_after_release"]
    return v


def per_layer(record, tracer, workload, log_dir) -> dict:
    """Every per-layer metric of one traced run, as the benchmark prints
    them: ``{name: {"value": v, "unit": u}}``."""
    groups = tracing.read_event_log(log_dir)
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    per_pass = [_pass_values(tracer.spans, p, groups) for p in traced]
    keys = set().union(*per_pass) if per_pass else set()
    vals = {k: _median(pp.get(k, 0.0) for pp in per_pass) for k in keys}

    rows = max(getattr(workload, "n_rows", 0), 1)
    vals["dedup.exact_keys.shuffle_rows_per_input_row"] = \
        vals.get("dedup.exact_keys.shuffle_write_records", 0.0) / rows
    vals["session.get_session_s"] = record["setup"]["get_session_s"]
    vals["sources.open_s"] = record["setup"]["open_s"]
    timed = record["passes"]
    vals["box.steal_cores"] = _median(p["steal_cores"] or 0.0 for p in timed)
    vals["box.gc_s"] = _median(p["gc_s"] for p in timed)
    vals["box.jit_cpu_s"] = _median(p["jit_cpu_s"] for p in timed)
    vals["box.loadavg"] = _median(p["loadavg"] for p in timed)
    vals["box.foreign_spark_jvms"] = max(p["foreign_spark_jvms"] for p in timed)
    vals["trace.traced_pass_s"] = _median(p["wall_s"] for p in traced)
    vals["trace.untraced_pass_s"] = _median(p["wall_s"] for p in untraced)
    vals["trace.overhead_s"] = vals["trace.traced_pass_s"] - vals["trace.untraced_pass_s"]
    vals["trace.traced_pass_cpu_s"] = _median(p["cpu_s"] for p in traced)
    vals["trace.untraced_pass_cpu_s"] = _median(p["cpu_s"] for p in untraced)
    vals["trace.overhead_cpu_s"] = \
        vals["trace.traced_pass_cpu_s"] - vals["trace.untraced_pass_cpu_s"]
    vals.update(record.get("live", {}))
    return {name: {"value": float(vals.get(name, 0.0)), "unit": unit}
            for name, (unit, _better) in METRICS.items()}
