"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload attempt_log --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload runs in this process on
``local[<usable cores>]``, one client, closed loop: a pass starts when
the previous one has finished.

1. Inputs for the seed are generated, or reused, under
   ``.perfbench_cache/inputs``. Generation is not timed.
2. Set-up is timed from process start to inputs opened: imports,
   ``get_session`` (JVM start included) and opening the inputs.
3. The cold first pass collects every output and checks it against the
   references in ``checks.py``.
4. ``WARM_PASSES`` untimed passes follow; then passes are timed until
   ``--seconds`` have elapsed and at least ``MIN_TIMED_PASSES`` have run.
   The metrics come from the calm ones among them (``_calm``).

``pass_cpu_s`` is the median CPU time (user + system) of a timed pass,
summed over this process, the Spark JVM (its JIT compiler threads left
out) and the PySpark workers. On a shared host the hypervisor takes CPU
from the guest in bursts that slow every pass of a run alike, by up to
1.5x in wall time; stolen time is not charged to the processes, so
their CPU time moves far less. Wall times stay in the per-layer metrics
of a traced run.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns the
Spark event log on, alternates traced and untraced timed passes, and
prints the per-layer metrics (README.md lists both). Spans and the
run-state record of every run are written to ``.perfbench_cache/runs``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
# untimed passes after the checked one, while the JIT settles
WARM_PASSES = 3
MIN_TIMED_PASSES = 3
# average cores a pass lost to the hypervisor (CPU steal, /proc/stat) up
# to which it counts as calm; a busy host also slows the cycles the guest
# does get, so a stolen pass costs more CPU too
STEAL_CALM = 0.1
# workload -> the generated input kind it runs on (gen.build_inputs)
INPUTS = {"attempt_log": "attempts", "dup_corpus": "corpus"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(INPUTS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class BoxProbe:
    """Run state around a pass: CPU steal, load, foreign Spark JVMs and
    JVM GC, with the probes bench.py already uses."""

    def __init__(self, sc):
        import bench
        import tracing
        self.bench, self.tracing = bench, tracing
        self.sc, self.jvm_pid = sc, tracing.jvm_pid(sc)
        self.cpu = tracing.CpuMeter(sc)

    def snap(self):
        return (time.monotonic(), self.bench._steal_ticks(),
                self.tracing.jvm_gc_s(self.sc), self.cpu.read())

    def since(self, snap) -> dict:
        t1, st1, gc1, cpu1 = self.snap()
        t0, st0, gc0, cpu0 = snap
        steal = None
        if st0 is not None and st1 is not None and t1 > t0:
            steal = (st1 - st0) / 100.0 / (t1 - t0)
        foreign = [p for p in self.bench._competing_spark_jvms() if p != self.jvm_pid]
        return {"steal_cores": steal, "gc_s": gc1 - gc0,
                "cpu_s": cpu1[0] - cpu0[0], "jit_cpu_s": cpu1[1] - cpu0[1],
                "loadavg": os.getloadavg()[0], "foreign_spark_jvms": len(foreign)}


def setup(workload_cls, trace: bool, in_dir, work_dir, extra_conf, t0):
    """Start the session and open the inputs; returns (spark, tracer,
    workload, timings), the total counted from ``t0`` so that it includes
    the imports before the call."""
    from distributed_deduplicator_spark import get_session
    import tracing
    t_call = time.perf_counter()
    spark = get_session("perfbench", extra_conf=extra_conf)
    t_sess = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    tracer = tracing.Tracer(spark.sparkContext, trace)
    w = workload_cls(spark, tracer, in_dir, work_dir)
    w.open()
    t1 = time.perf_counter()
    return spark, tracer, w, {"total_s": t1 - t0, "imports_s": t_call - t0,
                              "get_session_s": t_sess - t_call, "open_s": t1 - t_sess}


def teardown(spark, w) -> None:
    """Close the workload, stop the session and wait for its JVM to exit."""
    try:
        if w is not None:
            w.close()
    finally:
        try:
            spark.stop()
        finally:
            stop_gateway()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "distributed_deduplicator_spark")):
        print("perfbench: engine package distributed_deduplicator_spark "
              "not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # the PySpark workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    run_dir = os.path.join(CACHE, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # engine scratch, Spark local dirs and JVM temp files stay in the
    # checkout; JAVA_TOOL_OPTIONS also reaches spark-submit's launcher JVM
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                      " -XX:-UseDynamicNumberOfCompilerThreads")
    import tempfile
    tempfile.tempdir = tmp
    # local[<usable cores>] with one shuffle partition per core: the
    # engine sizes itself from SPARK_GRAFT_CPUS
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")

    import gen
    t_gen = time.perf_counter()
    in_dir = gen.cached_inputs(INPUTS[args.workload], args.seed,
                               os.path.join(CACHE, "inputs"))
    gen_s = time.perf_counter() - t_gen

    extra_conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra_conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    spark = w = None
    try:
        import workloads
        wcls = workloads.WORKLOADS[args.workload]
        out_dir = os.path.join(run_dir, "out")
        spark, tr, w, timings = setup(wcls, bool(args.trace), in_dir, out_dir,
                                      extra_conf, t0=T_START + gen_s)
        result, record = run_workload(args, tr, w, BoxProbe(spark.sparkContext),
                                      timings)
        # the event log is complete only once the context has stopped
        teardown(spark, w)
        spark = None
        if args.trace:
            import layers
            result["metrics"] = layers.per_layer(record, tr, w, log_dir)
        tr.dump(os.path.join(CACHE, "runs", f"{args.workload}-s{args.seed}"
                             f"-t{args.trace}-{os.getpid()}.json"), record)
    finally:
        if spark is not None:
            teardown(spark, w)
        stop_gateway()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_gateway():
    """Shut the py4j gateway JVM down and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):
        pass  # already gone; what matters is the wait below
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _calm(passes: list[dict]) -> list[dict]:
    """The passes ``pass_cpu_s`` comes from: those that lost at most
    ``STEAL_CALM`` cores to steal, or the least-stolen half when fewer
    than half of them did."""
    by_steal = sorted(passes, key=lambda p: p["steal_cores"] or 0.0)
    calm = [p for p in by_steal if (p["steal_cores"] or 0.0) <= STEAL_CALM]
    return calm if 2 * len(calm) >= len(passes) else by_steal[:(len(passes) + 1) // 2]


def run_workload(args, tr, w, probe, setup_timings) -> tuple[dict, dict]:
    """The checked pass, warm-up and timed passes; returns the result to
    print and the run-state record."""
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "setup": setup_timings, "box_start": probe.since(probe.snap())}
    failed = attempted = 0

    def one_pass(traced: bool) -> dict:
        nonlocal failed, attempted
        tr.enabled = traced
        first_span = len(tr.spans)
        snap = probe.snap()
        ops0, drains0 = w.ops, len(w.drains)
        t0 = time.perf_counter()
        try:
            with tr.span("pass"):
                w.run_pass()
        except Exception:
            # a failed pass counts as a failed operation; keep measuring
            traceback.print_exc()
            failed += 1
        wall = time.perf_counter() - t0
        attempted += max(w.ops - ops0, 1)
        rec = {"wall_s": wall, "traced": traced, "spans": [first_span, len(tr.spans)],
               "op_ms": w.op_ms[ops0:], "drains": w.drains[drains0:]}
        rec.update(probe.since(snap))
        if traced:
            rec.update(w.pass_record())
        return rec

    # the cold first pass is the checked one
    tr.enabled = False
    t0 = time.perf_counter()
    ops0 = w.ops
    try:
        checks_run = w.check()
    except Exception:
        traceback.print_exc()
        checks_run = [("check_pass", False)]
    record["check_pass_s"] = time.perf_counter() - t0
    attempted += w.ops - ops0 + len(checks_run)
    bad = [name for name, ok in checks_run if not ok]
    failed += len(bad)
    for name in bad:
        print(f"perfbench: check failed: {name}", file=sys.stderr)
    record["checks"] = checks_run

    record["warm"] = [one_pass(False) for _ in range(WARM_PASSES)]
    t_meas = time.perf_counter()
    passes = record["passes"] = []
    min_passes = MIN_TIMED_PASSES + 2 * args.trace
    while time.perf_counter() - t_meas < args.seconds or len(passes) < min_passes:
        # a traced run alternates traced and untraced passes, so the
        # tracing overhead is measured under the same conditions
        passes.append(one_pass(bool(args.trace) and len(passes) % 2 == 1))
    if args.trace:
        tr.enabled = True
        record["live"] = w.live_metrics()

    timed = _calm([p for p in passes if not p["traced"]])
    metrics = {
        "setup_s": {"value": setup_timings["total_s"], "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in timed),
                       "unit": "s"},
    }
    return ({"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}, record)


if __name__ == "__main__":
    sys.exit(main())
