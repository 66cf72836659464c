"""The benchmark's two workloads.

Each workload opens its generated inputs through the engine's
``sources`` module, runs one pass of engine calls per
:meth:`Workload.run_pass`, and checks its cold first pass against the
references in ``checks.py``. Every call into an engine module runs
inside a tracer span named ``<module>.<op>.<phase>``, where the phase
is ``build`` (the operator call), ``plan`` (a forced
``executedPlan()``, traced runs only) or ``run`` (the action).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from distributed_deduplicator_spark import sources
from distributed_deduplicator_spark.operators import dedup as D
from distributed_deduplicator_spark.operators import similarity as S
from distributed_deduplicator_spark.streaming import sinks

import checks
import gen
import tracing

KEYS = ["user_id", "event_type"]
ORDER = ["ts", "event_id"]
NEARDUP_THRESHOLD = 0.5
ANN_K = 5
ANN_QUERIES = 500
# The approximate operators must keep recall at or above these floors.
# Planted clone pairs have Jaccard >= 0.9, where 16x4 banding misses a
# pair with probability below 1e-7; the LSH top-k floor sits well under
# what it reaches on every seed tried. A miss means the operator broke.
NEARDUP_RECALL_FLOOR = 0.99
ANN_RECALL_FLOOR = 0.7


def _force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _key(user: np.ndarray, etype: list[str]) -> np.ndarray:
    lookup = {t: i for i, t in enumerate(gen.EVENT_TYPES)}
    codes = np.array([lookup[t] for t in etype])
    return user.astype(np.int64) * len(gen.EVENT_TYPES) + codes


def _dir_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


class Workload:
    """One workload: ``open`` its inputs, ``run_pass`` it, ``check`` it.

    ``op_ms`` collects the latency of every operation run so far: an
    operator call forced to completion, or one micro-batch. ``drains``
    collects one record per streaming drain."""
    name = ""

    def __init__(self, spark, tracer, in_dir: str, work_dir: str):
        self.spark, self.tr = spark, tracer
        self.in_dir, self.work_dir = in_dir, work_dir
        self.op_ms: list[float] = []
        self.ops = 0
        self.drains: list[dict] = []

    def live_metrics(self) -> dict:
        """Per-layer values that need the live session (traced runs)."""
        return {}

    def pass_record(self) -> dict:
        """Per-layer values read at the end of a traced pass."""
        return {}

    def close(self):
        pass

    def op(self, module: str, name: str, build, force=_force) -> None:
        """One operation: build the operator's DataFrame, then force it."""
        tr = self.tr
        python = name.startswith("ann")
        with tr.span("op") as whole:
            with tr.span(f"{module}.{name}.build", tag_jobs=True, python_cpu=python):
                df = build()
            if tr.enabled:
                with tr.span(f"{module}.{name}.plan", tag_jobs=True):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"{module}.{name}.run", tag_jobs=True, python_cpu=python):
                force(df)
        self.op_ms.append(whole.dur * 1e3)
        self.ops += 1


# ---------------------------------------------------------------------------
# attempt_log
# ---------------------------------------------------------------------------

class _Progress(StreamingQueryListener):
    """Collects every micro-batch progress, keyed by query run id."""

    def __init__(self):
        self.lock = threading.Lock()
        self.by_run: dict[str, list] = {}
        self.done: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
        with self.lock:
            self.by_run.setdefault(str(p.runId), []).append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.done.add(str(event.runId))


class AttemptLog(Workload):
    """The claimed-attempt log through ``operators.dedup`` twice: as one
    big batch through the five arbitration operators, and with its head
    as time-ordered files drained one per micro-batch through the
    upsert ledger of ``streaming.sinks``, which calls ``latest_state``
    once per batch."""
    name = "attempt_log"

    def open(self):
        with self.tr.span("sources.open"):
            self.log = sources.load_table(self.spark, self.in_dir, "events")
            self.ledger = sources.load_table(
                self.spark, f"{self.in_dir}/ledger", "events")
            self.schema = sources.fixtures.table_schema(
                self.spark, self.in_dir, "events")
        self.n_rows = sources.fixtures.table_row_count(self.in_dir, "events")
        self.stream_dir = f"{self.in_dir}/stream"
        self.input_bytes = _dir_bytes(self.stream_dir)
        self.listener = _Progress()
        self.spark.streams.addListener(self.listener)
        self.passes = 0

    def close(self):
        self.spark.streams.removeListener(self.listener)

    def _calls(self):
        log, ledger = self.log, self.ledger
        return [
            ("first_wins", lambda: D.dedup_first_wins(log, KEYS, ORDER, keep="all")),
            ("exact_keys", lambda: D.dedup_exact_keys(log, KEYS, ORDER)),
            ("arbitrate", lambda: D.arbitrate_ledger(log, KEYS, ORDER, state_col="state")),
            ("within_ttl", lambda: D.dedup_within_ttl(log, KEYS, "ts", gen.TTL_S, order_by=ORDER)),
            ("incremental", lambda: D.dedup_incremental(log, ledger, KEYS, ORDER)),
        ]

    def run_pass(self, force=_force):
        for name, build in self._calls():
            self.op("dedup", name, build, force)
        self._drain_ledger()

    def _drain_ledger(self) -> None:
        """One availableNow drain of the stream files through the upsert
        ledger; its micro-batches are the operations ``op_ms`` counts."""
        self.passes += 1
        base = os.path.join(self.work_dir, f"pass{self.passes}")
        self.ledger_dir = f"{base}/ledger"
        tr = self.tr
        before = set(self.listener.by_run)
        with tr.span("op"):
            with tr.span("streaming.ledger.build"):
                # maxFilesPerTrigger goes on the reader: run_upsert_ledger
                # does not apply its own max_files_per_trigger argument
                df = (self.spark.readStream.schema(self.schema)
                      .option("maxFilesPerTrigger", 1).parquet(self.stream_dir))
            with tr.span("streaming.ledger.run") as run_span:
                sinks.run_upsert_ledger(df, KEYS, ORDER, self.ledger_dir,
                                        f"{base}/checkpoint")
        run_id = self._finished_run(before)
        batches = [b for b in self.listener.by_run[run_id] if b["rows"] > 0]
        self.op_ms.extend(b["ms"].get("triggerExecution", 0) for b in batches)
        self.ops += len(batches)
        drain = {"run_id": run_id, "batches": batches,
                 "input_bytes": self.input_bytes,
                 "bytes_written": _dir_bytes(self.ledger_dir)}
        if tr.enabled:
            # micro-batch jobs run under the query's run id as job group
            run_span.group = run_id
            run_span.jobs, run_span.stages = tracing.job_counts(
                self.spark.sparkContext, run_id)
            drain["jobs"] = run_span.jobs
        self.drains.append(drain)
        shutil.rmtree(os.path.join(self.work_dir, f"pass{self.passes - 1}"),
                      ignore_errors=True)

    def _finished_run(self, before: set) -> str:
        """The run id of the drain that just ended, once its last
        progress event has arrived (the listener bus is asynchronous)."""
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            with self.listener.lock:
                new = [r for r in self.listener.by_run if r not in before]
                if new and new[0] in self.listener.done:
                    return new[0]
            time.sleep(0.01)
        raise RuntimeError("streaming progress events did not arrive")

    def check(self) -> list[tuple[str, bool]]:
        t = pq.read_table(f"{self.in_dir}/events.parquet")
        eid = t["event_id"].to_numpy()
        ts = t["ts"].cast("int64").to_numpy()
        key = _key(t["user_id"].to_numpy(), t["event_type"].to_pylist())
        state = t["state"].to_numpy()
        lt = pq.read_table(f"{self.in_dir}/ledger/events.parquet")
        lkey = _key(lt["user_id"].to_numpy(), lt["event_type"].to_pylist())
        blocked = lkey[np.array(lt["verdict"].to_pylist()) == checks.SUCCESS]

        def both(flag):
            return np.where(flag, checks.SUCCESS, checks.DUPLICATE)

        first = checks.first_wins(key, ts, eid)
        want = {
            "first_wins": checks.signature(eid, both(first)),
            "exact_keys": checks.signature(eid[first], both(first[first])),
            "arbitrate": checks.signature(eid, checks.arbitrate(key, ts, eid, state)),
            "within_ttl": checks.signature(
                eid, both(checks.ttl_accepted(key, ts, eid, gen.TTL_S))),
            "incremental": checks.signature(
                eid, both(checks.incremental_success(key, ts, eid, blocked))),
        }
        got = []
        self.run_pass(force=lambda df: got.append(_signature(df)))
        results = [(f"dedup.{name}", g == want[name])
                   for (name, _), g in zip(self._calls(), got)]

        head = gen.STREAM_ROWS
        ledger = sinks.read_ledger(self.spark, self.ledger_dir) \
            .select("event_id").toPandas()["event_id"].to_numpy()
        results.append(("streaming.ledger.latest_state", np.array_equal(
            np.sort(ledger), checks.latest_per_key(key[:head], ts[:head], eid[:head]))))
        return results


def _signature(df: DataFrame) -> dict:
    """The engine-side twin of ``checks.signature``, in one job; an
    output without a verdict column (the winners) counts as SUCCESS."""
    e = F.col("event_id")
    aggs = [F.count("*").alias("n"), F.sum(e).alias("s"), F.sum(e * e).alias("q")]
    if "verdict" not in df.columns:
        df = df.withColumn("verdict", F.lit(checks.SUCCESS))
    return {r["verdict"]: (r["n"], r["s"], r["q"])
            for r in df.groupBy("verdict").agg(*aggs).collect()}


# ---------------------------------------------------------------------------
# dup_corpus
# ---------------------------------------------------------------------------

class DupCorpus(Workload):
    """Near-duplicate documents and clustered embeddings through the
    near-dup and ANN operators of ``operators.similarity``."""
    name = "dup_corpus"

    def open(self):
        with self.tr.span("sources.open"):
            self.docs = sources.load_table(self.spark, self.in_dir, "documents")
            self.emb = sources.load_table(self.spark, self.in_dir, "embeddings")
        self.n_vecs = sources.fixtures.table_row_count(self.in_dir, "embeddings")
        self.quality: dict[str, float] = {}

    def _calls(self):
        docs, emb = self.docs, self.emb
        return [
            ("minhash", lambda: S.minhash_near_dup(
                docs, "doc_id", "text", threshold=NEARDUP_THRESHOLD)),
            ("ann_lsh", lambda: S.ann_lsh_topk(emb, k=ANN_K, n=self.n_vecs)),
        ]

    def run_pass(self, force=_force):
        for name, build in self._calls():
            self.op("similarity", name, build, force)
        with self.tr.span("similarity.release.run", tag_jobs=True):
            S.release_persisted()

    def pass_record(self) -> dict:
        jrdds = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {"persisted_after_release": len(jrdds)}

    def live_metrics(self) -> dict:
        """The minhash funnel through the public building blocks, the
        ANN workers' peak memory, and the recall figures."""
        sig = S.minhash_signatures(S.shingles(self.docs, "doc_id", "text", 3), 64)
        cand = S.minhash_lsh_pairs(sig, 16, 4, num_hashes=64).count()
        verified = S.minhash_near_dup(self.docs, "doc_id", "text",
                                      threshold=NEARDUP_THRESHOLD).count()
        S.release_persisted()
        out = dict(self.quality)
        out["similarity.minhash.candidates"] = cand
        out["similarity.minhash.verified_per_candidate"] = verified / max(cand, 1)
        out["similarity.ann.worker_peak_rss_mb"] = \
            tracing.python_worker_peak_rss_mb(self.spark.sparkContext)
        return out

    def check(self) -> list[tuple[str, bool]]:
        with open(f"{self.in_dir}/truth.json") as fh:
            truth = json.load(fh)
        dt = pq.read_table(f"{self.in_dir}/documents.parquet")
        shingles = {int(i): gen.shingle_set(t.split())
                    for i, t in zip(dt["doc_id"].to_pylist(), dt["text"].to_pylist())}
        et = pq.read_table(f"{self.in_dir}/embeddings.parquet")
        ids = et["vec_id"].to_numpy()
        vecs = np.stack(et["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        queries = np.random.default_rng(len(ids)).choice(
            ids, min(ANN_QUERIES, len(ids)), replace=False)
        collected = []
        self.run_pass(force=lambda df: collected.append(df.collect()))
        pairs, topk = collected
        results = []

        mh = [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs]
        results.append(("similarity.minhash.pairs_meet_threshold", all(
            j >= NEARDUP_THRESHOLD - 1e-9
            and abs(gen.jaccard(shingles[a], shingles[b]) - j) < 1e-9
            for a, b, j in mh)))
        planted = {(a, b) for a, b, j in truth["pairs"] if j >= NEARDUP_THRESHOLD}
        recall = len(planted & {(a, b) for a, b, _ in mh}) / max(len(planted), 1)
        self.quality["similarity.minhash.recall"] = recall
        results.append(("similarity.minhash.recall_floor",
                        recall >= NEARDUP_RECALL_FLOOR))

        nbrs: dict[int, list] = {}
        for r in sorted(topk, key=lambda r: (r["query_id"], r["rank"])):
            nbrs.setdefault(r["query_id"], []).append(r["neighbor_id"])
        rec = checks.topk_recall(vecs, ids, queries, nbrs, ANN_K)
        self.quality["similarity.ann_lsh.recall_at_5"] = rec
        bad = checks.cosine_errors(
            vecs, ids, [(r["query_id"], r["neighbor_id"], r["cosine"]) for r in topk])
        results.append(("similarity.ann_lsh.cosine_exact", bad == 0))
        results.append(("similarity.ann_lsh.recall_floor", rec >= ANN_RECALL_FLOOR))
        return results


WORKLOADS = {w.name: w for w in (AttemptLog, DupCorpus)}
