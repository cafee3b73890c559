"""Benchmark driver for the validation engine.

    python3 perfbench/run.py --workload keyed_tables --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[N]`` (N = min(4, usable
cores)), closed loop with a single client: the next operation starts
when the previous one has returned.  The inputs are generated from
``--seed`` (perfbench/gen.py); every operation's output is checked
against the counts the generator injected.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with one Spark job group per layer call and prints the
per-layer metrics, plus the tracing overhead.  The last line of
standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The exit code is 0 when every output matched, 1 when one did not, 2
when the engine package cannot be imported.

See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

SETUP_REPS = 3  # setup_s is the median of this many session set-ups
# Untimed operations follow the last set-up until they and its warm-up
# call add up to this many seconds, so timing starts once the JVM's JIT
# has compiled the hot loops: on keyed_tables an operation takes about a
# quarter longer in the first seconds of a session than later.
WARM_S = 8.0
UNTRACED_BASELINE_OPS = 2  # untraced ops in a traced run, for the overhead


def session_conf(trace: bool) -> dict:
    threads = min(4, len(os.sched_getaffinity(0)))
    return {
        "spark.master": f"local[{threads}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(2 * threads),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
        "spark.local.dir": os.path.join(OUT, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        # a fixed heap, and G1 regions large enough that shuffle and sort
        # buffers are not humongous objects: with the default 1 MB regions
        # each keyed_tables pass starts several concurrent marking cycles
        # and spends about a sixth of its time in GC pauses
        "spark.driver.extraJavaOptions": (
            f"-Xms2g -XX:G1HeapRegionSize=16m -Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"),
    }


def start_session(trace: bool):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_conf(trace).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session, then the JVM it launched, and wait for
    every descendant process (JVM, Python workers) to end."""
    from pyspark import SparkContext
    from spans import process_tree

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in process_tree() if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.perf_counter() - T0:8.2f}s {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """Counts operations and checks each one's output."""

    def __init__(self, expected):
        self.expected = expected
        self.attempted = 0
        self.failed = 0
        self.mismatches = []

    def timed(self, fn, i: int, count: bool = True) -> float:
        """Run operation ``i``, check its output, return its wall time.
        A mismatch or an exception fails the operation."""
        t0 = time.perf_counter()
        try:
            got = fn(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            got = None
        dt = time.perf_counter() - t0
        self.attempted += count
        if got != self.expected:
            self.failed += count
            self.mismatches.append({"op": i, "got": _rows(got), "want": _rows(self.expected)})
        return dt


def _rows(counts):
    return None if counts is None else sorted([c, r, n] for (c, r), n in counts.items())


def warm_up(wl, run: Run, i: int, warm: float) -> int:
    """Run untimed, checked operations from ``i`` on until they and the
    ``warm`` seconds of warm-up already done add up to ``WARM_S``; return
    the next operation number."""
    while warm < WARM_S:
        warm += run.timed(wl.op, i, count=False)
        i += 1
    return i


def end_to_end(args, wl, run: Run) -> dict:
    setup = []
    i = 0
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = start_session(trace=False)
        wl.prepare(spark)
        warm = run.timed(wl.op, i, count=False)  # the warm-up call
        i += 1
        setup.append(time.perf_counter() - t0)
        log(f"setup {rep}: {setup[-1]:.2f}s")
        if rep < SETUP_REPS - 1:
            spark.stop()
    i = warm_up(wl, run, i, warm)
    lat = []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end:
        lat.append(run.timed(wl.op, i))
        log(f"op {i}: {lat[-1]:.2f}s")
        i += 1
    return {
        "setup_s": (median(setup), "s"),
        "rows_per_s": (median([wl.rows / x for x in lat]), "rows/s"),
        "call_p50_s": (median(lat), "s"),
        "call_tail_s": (max(lat), "s"),
    }


# per-layer metric → the span whose self time it reports
BUSY_SPANS = {
    "schemas.busy_s": "schemas.load_schemas",
    "docshred.busy_s": "docshred",
    "library_fallback.busy_s": "library_fallback",
    "row_checks.busy_s": "row_checks",
    "uniqueness.busy_s": "uniqueness",
    "referential.busy_s": "referential",
    "payload.busy_s": "payload",
}
# per-layer count → (span, field the workload recorded on it)
COUNT_FIELDS = {
    "docshred.rows_out": ("docshred", "rows_out"),
    "library_fallback.rows_in": ("library_fallback", "rows_in"),
    "row_checks.violations": ("row_checks", "violations"),
    "uniqueness.violations": ("uniqueness", "violations"),
    "referential.violations": ("referential", "violations"),
    "payload.decoded_mb": ("payload", "decoded_mb"),
}
SPARK_FIELDS = ["jobs", "stages", "tasks", "failed_tasks", "shuffle_write_mb",
                "spill_mb", "executor_run_s", "gc_s"]


def unit_of(name: str) -> str:
    tail = name.rsplit(".", 1)[1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_mb"):
        return "MB"
    return "ratio" if tail == "overhead" else "count"


def op_layers(tracer, k) -> dict:
    """Per-layer figures of traced operation ``k``; 0 for a layer the
    workload bypasses."""
    spans = [j for j, s in enumerate(tracer.spans) if s["op"] == k]
    named = lambda n: [j for j in spans if tracer.spans[j]["name"] == n]  # noqa: E731
    m = {metric: sum(tracer.self_s(j) for j in named(span))
         for metric, span in BUSY_SPANS.items()}
    validate = named("engine.validate")
    m["engine.plan_s"] = sum(tracer.spans[j]["end"] - tracer.spans[j]["start"] for j in validate)
    m["engine.eager_jobs"] = sum(tracer.spans[j]["spark"]["jobs"] for j in validate)
    for metric, (span, f) in COUNT_FIELDS.items():
        m[metric] = sum(tracer.spans[j][f] for j in named(span))
    for f in SPARK_FIELDS:
        m[f"spark.{f}"] = sum(tracer.spans[j]["spark"][f] for j in spans)
    return m


def per_layer(args, wl, run: Run) -> dict:
    from spans import RssSampler, Tracer

    with RssSampler() as rss:
        spark = start_session(trace=True)
        wl.prepare(spark)
        tracer = Tracer(spark, wl.name)
        i = warm_up(wl, run, 1, run.timed(wl.op, 0, count=False))  # after the warm-up call
        # untraced calls (one job group each, no layer spans): the
        # overhead baseline, and the suite layer's driver/job split
        calls = []
        for n in range(UNTRACED_BASELINE_OPS):
            tracer.op = f"call{n}"

            def call(j):
                with tracer.span("call"):
                    return wl.op(j)

            run.timed(call, i)
            i += 1
            calls.append(tracer.spans[-1])
        wl.cache_inputs()
        roots = []
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end or not roots:
            tracer.op = len(roots)

            def traced(j):
                with tracer.span("op") as root:
                    roots.append(root)
                    return wl.traced_op(j, tracer)

            run.timed(traced, i)
            i += 1
            log(f"traced op {tracer.op}: {roots[-1]['end'] - roots[-1]['start']:.2f}s")
        wl.release()
        tracer.collect(spark.sparkContext.uiWebUrl)
        rss.sample()
    tracer.write(os.path.join(OUT, f"trace-{wl.name}-s{args.seed}.json"))

    per_op = [op_layers(tracer, k) for k in range(len(roots))]
    out = {name: median([m[name] for m in per_op]) for name in per_op[0]}
    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    suite = wl.via_suite
    out["suite.driver_s"] = median([dur(c) - c["spark"]["job_s"] for c in calls]) if suite else 0.0
    out["suite.jobs"] = median([c["spark"]["jobs"] for c in calls]) if suite else 0
    out["trace.overhead"] = median([dur(r) for r in roots]) / median([dur(c) for c in calls])
    out["trace.ops"] = len(roots)
    out["rss.peak_mb"] = rss.peak_bytes / 1e6
    return {name: (v, unit_of(name)) for name, v in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # scratch space of Spark, the JVMs and the Python workers stays in the
    # checkout; set before pyspark is imported.  No JVM perf-data file:
    # the JVM would write it under /tmp.
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    sys.path[:0] = [ROOT, HERE]
    try:
        import python_extended_json_schema_validator_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import gen
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    path, expected, facts = gen.ensure_inputs(cls.name, args.seed, cls.size)
    log(f"inputs ready: {path}")

    wl = cls(path, facts)
    run = Run(expected)
    try:
        metrics = (per_layer if args.trace else end_to_end)(args, wl, run)
    finally:
        stop_jvm()
        log("stopped")
    correct = not run.mismatches
    if not correct:
        print(json.dumps({"mismatches": run.mismatches[:3]}), file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
