"""Measurement probes the benchmark attaches from outside the engine.

* ``StageProbe`` reads Spark's per-stage task metrics for the jobs that ran
  during one call, from the application status store. The store is kept
  with the UI off, so this needs no engine change.
* ``Tracer`` records spans around calls into the engine's modules by
  replacing module attributes with timing wrappers, and counts py4j round
  trips by wrapping the gateway client's ``send_command``. Spans stay in
  memory and are written out once, at exit.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time

from py4j.protocol import Py4JJavaError


class StageProbe:
    """Sums stage metrics over the jobs started since the last ``drain``.

    Job ids are sequential, so the jobs of one call are the ids from the
    first one not yet seen up to the last one the store knows. This is only
    sound with one client: the benchmark is the only caller of the engine
    in its driver, so every job started during a call belongs to it.
    """

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self.drain()

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def drain(self) -> list[int]:
        """Stage ids of the jobs started since the previous drain."""
        self._bus.waitUntilEmpty(30_000)
        stages: list[int] = []
        misses = 0
        while misses < 3:  # tolerate ids evicted from the store
            job = self._job(self._next_job + misses)
            if job is None:
                misses += 1
                continue
            ids = job.stageIds()
            stages.extend(ids.apply(i) for i in range(ids.size()))
            self._next_job += misses + 1
            misses = 0
        return sorted(set(stages))

    def collect(self, wall_s: float, cores: int) -> dict[str, float]:
        """Totals over the stages of the jobs started since the last drain."""
        tasks = run_ms = cpu_ms = records = shuffle = spill = 0.0
        for sid in self.drain():
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            tasks += st.numCompleteTasks()
            run_ms += st.executorRunTime()
            cpu_ms += st.executorCpuTime() / 1e6
            records += st.inputRecords()
            shuffle += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {
            "tasks": tasks,
            "executor_run_ms": run_ms,
            "executor_cpu_ms": cpu_ms,
            "offcpu_ms": run_ms - cpu_ms,
            "input_records": records,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
            "core_occupancy": run_ms / (wall_s * 1000 * cores),
            "wall_s": wall_s,
        }


# (module, attribute, span name): the engine's layer boundaries.
SPAN_TARGETS = [
    ("data_validation_spark.pipeline", "compute_statistics", "pipeline.compute_statistics"),
    ("data_validation_spark.pipeline", "validate_statistics", "pipeline.validate_statistics"),
    ("data_validation_spark.pipeline", "check_uniqueness", "pipeline.check_uniqueness"),
    ("data_validation_spark.pipeline", "check_row_constraints", "pipeline.check_row_constraints"),
    ("data_validation_spark.pipeline", "check_pixel_integrity", "pipeline.check_pixel_integrity"),
    ("data_validation_spark.pipeline", "summarize_violations", "pipeline.summarize_violations"),
    ("data_validation_spark.stats.exprs", "build_agg_exprs", "stats.exprs.build_agg_exprs"),
    ("data_validation_spark.stats.exprs", "classify_columns", "stats.exprs.classify_columns"),
    ("data_validation_spark.stats.engine", "_run_long_pass", "stats.engine._run_long_pass"),
    ("data_validation_spark.stats.engine", "_assemble_slice", "stats.engine._assemble_slice"),
    ("data_validation_spark.stats.sketches.runner", "run_sketch_pass",
     "stats.sketches.run_sketch_pass"),
    ("data_validation_spark.validate.rowlevel", "_pixel_source", "validate.rowlevel._pixel_source"),
    ("data_validation_spark.dedup.minhash", "minhash_signatures", "dedup.minhash.minhash_signatures"),
    ("data_validation_spark.dedup.simhash", "simhash_fingerprints",
     "dedup.simhash.simhash_fingerprints"),
    ("data_validation_spark.io.iceberg_native", "plan_scan", "io.iceberg_native.plan_scan"),
    ("data_validation_spark.io.iceberg_native", "read_files", "io.iceberg_native.read_files"),
    ("data_validation_spark.io.iceberg_native", "load_table", "io.iceberg_native.load_table"),
    ("data_validation_spark.io.iceberg_native", "_write_snapshot",
     "io.iceberg_native._write_snapshot"),
    ("data_validation_spark.io.iceberg_native", "_commit_delete_snapshot",
     "io.iceberg_native._commit_delete_snapshot"),
    ("data_validation_spark.io.checkpoint", "run_partitioned", "io.checkpoint.run_partitioned"),
    ("data_validation_spark.io.checkpoint.CheckpointLedger", "save_artifacts",
     "io.checkpoint.save_artifacts"),
]


def _resolve(path: str):
    """Module or class named by a dotted path."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        mod, _, cls = path.rpartition(".")
        return getattr(importlib.import_module(mod), cls)


class Tracer:
    """In-memory spans around engine calls, plus py4j round-trip counts.

    A span's parent is the innermost open span on the same thread; spans
    opened on engine worker threads fall back to the benchmark call that is
    running. ``install``/``uninstall`` toggle the wrappers so the same run
    can time traced and untraced repetitions.
    """

    def __init__(self, gateway_client):
        self.spans: list[dict] = []
        self._client = gateway_client
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = 0
        self._root: int | None = None
        self._saved: list[tuple] = []
        self._send = None
        self.py4j_total = 0

    # -- py4j ---------------------------------------------------------------
    def _calls(self) -> int:
        return getattr(self._local, "py4j", 0)

    def _count_send(self, original):
        def send_command(*args, **kwargs):
            self._local.py4j = self._calls() + 1
            with self._lock:
                self.py4j_total += 1
            return original(*args, **kwargs)

        return send_command

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> dict:
        with self._lock:
            self._ids += 1
            sid = self._ids
        stack = self._stack()
        span = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else self._root,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
            "py4j_start": self._calls(),
        }
        stack.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["py4j_calls"] = self._calls() - span.pop("py4j_start")
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    def call_span(self, name: str) -> dict:
        """Open the root span of one benchmark call."""
        span = self.open(name)
        self._root = span["id"]
        return span

    def end_call(self, span: dict) -> None:
        self.close(span)
        self._root = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        return traced

    def install(self) -> None:
        for owner_path, attr, name in SPAN_TARGETS:
            owner = _resolve(owner_path)
            original = getattr(owner, attr)
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))
        self._send = self._client.send_command
        self._client.send_command = self._count_send(self._send)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()
        if self._send is not None:
            del self._client.send_command  # back to the class's method
            self._send = None

    def spans_under(self, root_id: int) -> list[dict]:
        """Every span below the call span ``root_id``."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        out, todo = [], [root_id]
        while todo:
            for s in children.get(todo.pop(), []):
                out.append(s)
                todo.append(s["id"])
        return out

    def write(self, path: str, t0: float) -> None:
        """Write the spans as JSON, times in seconds since ``t0``."""
        rows = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows}, f, indent=1)
