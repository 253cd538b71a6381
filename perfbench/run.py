"""Layered benchmark of the validation engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One driver process, one client: after set-up
the workload's calls run back to back (a closed loop) for ``--seconds``,
each call timed from outside the engine and each output checked. The last
line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: it alternates untraced and traced repetitions, reads
Spark stage metrics and engine spans on the traced ones, writes the spans
to ``perfbench/.traces/`` and reports the tracing overhead. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_REPS = 1
TRACE_MIN_REPS = 4  # one U T T U cycle
WORKLOADS = ("images_validate", "tables")

# name -> (unit, better)
END_TO_END = {
    "rep_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "driver_rss_mb": ("MB", "lower"),
}

STAGE_CALLS = (
    "pipeline.validate_images",
    "stats.engine.exact",
    "stats.sketches.sketch",
    "validate.rowlevel.check_uniqueness",
    "validate.rowlevel.check_referential",
    "validate.skew.detect_feature_skew",
    "dedup.minhash",
    "dedup.simhash",
    "io.iceberg_native.write",
    "io.checkpoint.run_iceberg_partitioned",
)
STAGE_UNITS = {
    "tasks": ("count", "lower"),
    "executor_run_ms": ("ms", "lower"),
    "executor_cpu_ms": ("ms", "lower"),
    "offcpu_ms": ("ms", "lower"),
    "input_records": ("count", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "core_occupancy": ("ratio", "higher"),
    "wall_s": ("s", "lower"),
}
DRIVER_LAYERS = {
    "stats.exprs.build_agg_exprs_s": ("s", "lower"),
    "stats.exprs.py4j_calls": ("count", "lower"),
    "pipeline.stats_alone_s": ("s", "lower"),
    "pipeline.rowlevel_alone_s": ("s", "lower"),
    "pipeline.concurrency_gain": ("ratio", "higher"),
    "validate.rowlevel.check_pixel_integrity_s": ("s", "lower"),
    "validate.rules.validate_statistics_s": ("s", "lower"),
    "validate.infer.infer_schema_s": ("s", "lower"),
    "dedup.minhash.verified_per_candidate": ("ratio", "higher"),
    "spark.persisted_rdds": ("count", "lower"),
    "io.iceberg_native.plan_scan_s": ("s", "lower"),
    "io.iceberg_native.read_files_s": ("s", "lower"),
    "io.iceberg_native.files_written": ("count", "lower"),
    "io.iceberg_native.bytes_written": ("bytes", "lower"),
    "io.checkpoint.per_partition_s": ("s", "lower"),
    "io.checkpoint.partitions_recomputed_on_resume": ("count", "lower"),
    "io.checkpoint.resume_s": ("s", "lower"),
    "io.artifacts.merge_stats_s": ("s", "lower"),
    "py4j.calls_per_rep": ("count", "lower"),
    "trace.spans_per_rep": ("count", "lower"),
    "trace.overhead": ("ratio", "lower"),
}
# call name -> driver-side metric that is that call's wall time
CALL_WALL_METRICS = {
    "validate.infer.infer_schema": "validate.infer.infer_schema_s",
    "validate.rules.validate_statistics": "validate.rules.validate_statistics_s",
    "io.checkpoint.resume": "io.checkpoint.resume_s",
    "io.artifacts.merge_stats": "io.artifacts.merge_stats_s",
}
# span name -> (seconds metric, py4j-calls metric or None), summed per rep
SPAN_METRICS = {
    "stats.exprs.build_agg_exprs": ("stats.exprs.build_agg_exprs_s", "stats.exprs.py4j_calls"),
    "io.iceberg_native.plan_scan": ("io.iceberg_native.plan_scan_s", None),
    "io.iceberg_native.read_files": ("io.iceberg_native.read_files_s", None),
}


def per_layer_metrics() -> dict:
    out = {f"{c}.{s}": STAGE_UNITS[s] for c in STAGE_CALLS for s in STAGE_UNITS}
    out.update(DRIVER_LAYERS)
    return out


class Run:
    """One benchmark run: the session, the call timer and, when tracing,
    the probes. Workloads make their timed calls through ``call``."""

    def __init__(self, spark, cores: int, trace: bool):
        from perfbench.probes import StageProbe, Tracer

        self.spark = spark
        self.cores = cores
        self.traced = False  # set per repetition
        self.probe = StageProbe(spark.sparkContext) if trace else None
        self.tracer = Tracer(spark.sparkContext._gateway._gateway_client) if trace else None
        self.walls: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.roots: list[int] = []
        self.call_walls: dict[str, list[float]] = {}  # per timed repetition

    def start_rep(self, traced: bool) -> None:
        self.walls, self.layer, self.roots = {}, {}, []
        if traced != self.traced:
            (self.tracer.install if traced else self.tracer.uninstall)()
        self.traced = traced

    def call(self, name: str, fn, *args, **kwargs):
        """Time one call into the engine; when traced, attribute its Spark
        stages and spans to ``name``."""
        if self.traced:
            self.probe.drain()
            span = self.tracer.call_span(name)
            self.roots.append(span["id"])
            py4j0 = self.tracer.py4j_total
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            self.walls[name] = self.walls.get(name, 0.0) + dt
            if self.traced:
                self.tracer.end_call(span)
                self.note("py4j.calls_per_rep", self.tracer.py4j_total - py4j0, add=True)
                for suffix, v in self.probe.collect(dt, self.cores).items():
                    self.note(f"{name}.{suffix}", v, add=True)
                if name in CALL_WALL_METRICS:
                    self.note(CALL_WALL_METRICS[name], dt, add=True)

    def time(self, metric: str, fn) -> float:
        """A diagnostic call outside the repetition's timed calls."""
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        self.note(metric, dt)
        return dt

    def note(self, metric: str, value: float, add: bool = False) -> None:
        self.layer[metric] = (self.layer.get(metric, 0.0) if add else 0.0) + value

    def finish_traced_rep(self) -> None:
        spans = [s for r in self.roots for s in self.tracer.spans_under(r)]
        self.note("trace.spans_per_rep", len(spans) + len(self.roots))
        for s in spans:
            if s["name"] in SPAN_METRICS:
                secs, calls = SPAN_METRICS[s["name"]]
                self.note(secs, s["end"] - s["start"], add=True)
                if calls:
                    self.note(calls, s["py4j_calls"], add=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def configure_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; let the Python
    workers import the engine."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")


def start_session(work: str, cores: int):
    from data_validation_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its standard input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Tally:
    """Operations attempted and failed; a failed output check is a failed
    operation."""

    def __init__(self, workload: str):
        self.workload = workload
        self.attempted = self.failed = 0

    def add(self, checks) -> None:
        for op, ok, detail in checks:
            self.attempted += 1
            if not ok:
                self.failed += 1
                print(f"FAILED {self.workload} {op}: {detail}", file=sys.stderr)


def run_rep(workload, run: Run, label: str):
    try:
        return workload.rep(run)
    except Exception as e:  # an engine error fails the repetition; keep going
        traceback.print_exc()
        return [(label, False, f"{type(e).__name__}: {e}")]


def measure(workload, run: Run, seconds: float, trace: bool, tally: Tally):
    """Closed loop for ``seconds``. With ``trace``, repetitions alternate
    untraced and traced in the order U T T U, so a warming trend does not
    bias the overhead. Returns (walls, traced layer dicts, traced walls,
    untraced walls)."""
    walls, layers, traced_walls, plain_walls = [], [], [], []
    end = time.perf_counter() + seconds
    i = 0
    while i < (TRACE_MIN_REPS if trace else MIN_REPS) or time.perf_counter() < end:
        traced = trace and i % 4 in (1, 2)
        run.start_rep(traced)
        tally.add(run_rep(workload, run, f"rep {i}"))
        rep_wall = sum(run.walls.values())
        for name, w in run.walls.items():
            run.call_walls.setdefault(name, []).append(round(w, 3))
        if traced:
            run.finish_traced_rep()
            layers.append(run.layer)
            traced_walls.append(rep_wall)
        else:
            plain_walls.append(rep_wall)
        walls.append(rep_wall)
        i += 1
    return walls, layers, traced_walls, plain_walls


def layer_metrics(layers, once: dict, traced_walls, plain_walls, spark) -> dict:
    """Each metric's median over the traced repetitions that recorded it,
    else its value from the workload's once-per-run part; 0 for a layer
    this workload does not reach."""
    names = per_layer_metrics()
    out = {}
    for name in names:
        vals = [lay[name] for lay in layers if name in lay]
        out[name] = statistics.median(vals) if vals else once.get(name, 0.0)
    out["spark.persisted_rdds"] = float(spark.sparkContext._jsc.getPersistentRDDs().size())
    out["trace.overhead"] = statistics.median(traced_walls) / statistics.median(plain_walls) - 1
    return {k: {"value": v, "unit": names[k][0]} for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_validation_spark", "__init__.py")):
        print("perfbench: the engine package data_validation_spark is not in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import bench  # the frozen suite's host probe, recorded as context only
    from perfbench import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work)
    tally = Tally(args.workload)
    spark = None
    try:
        host_probe_s = bench.calibrate()
        workload = workloads.WORKLOADS[args.workload]()
        t0 = time.perf_counter()
        workload.prepare(args.seed, os.path.join(work, "inputs"))
        prepare_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        run = Run(spark, cores, trace=bool(args.trace))
        t0 = time.perf_counter()
        workload.load(run)
        load_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(workload.warmup_reps):  # untimed, not counted
            Tally("warm-up").add(run_rep(workload, run, "warm-up"))
        setup_s = session_s + time.perf_counter() - t0

        walls, layers, traced_walls, plain_walls = measure(
            workload, run, args.seconds, bool(args.trace), tally
        )
        if args.trace:
            once = {}
            if hasattr(workload, "once"):
                run.start_rep(True)
                tally.add(workload.once(run))
                run.finish_traced_rep()
                once = run.layer
            run.start_rep(False)
            metrics = layer_metrics(layers, once, traced_walls, plain_walls, spark)
            trace_dir = os.path.join(HERE, ".traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
            run.tracer.write(trace_path, T_START)
            print(f"trace: {os.path.relpath(trace_path, ROOT)} "
                  f"({len(run.tracer.spans)} spans)")
        else:
            values = {
                "rep_s": statistics.median(walls),
                "setup_s": setup_s,
                "driver_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in values.items()}
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "reps": len(walls),
            "rep_walls_s": [round(w, 4) for w in walls],
            "call_walls_s": run.call_walls,
            "prepare_s": round(prepare_s, 3),
            "session_start_s": round(session_s, 3),
            "load_s": round(load_s, 3),
            "host_probe_s": round(host_probe_s, 4),
            "host_probe_nominal_s": bench.CAL_NOMINAL,
        }
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"teardown {time.perf_counter() - t0:.3f} s, process "
              f"{time.perf_counter() - T_START:.3f} s", file=sys.stderr)

    print("context: " + json.dumps(context))
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(f"ops_attempted {tally.attempted}")
    print(f"ops_failed {tally.failed}")
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
