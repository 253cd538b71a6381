"""The workloads. Each one drives a different set of engine layers.

A workload has three phases:

* ``prepare(seed, work_dir)`` writes its seeded inputs and computes the
  expected answers, without Spark.
* ``load(run)`` does the Spark-side preparation that a user would do once,
  such as writing the Iceberg table that is validated. It is not timed.
* ``rep(run)`` makes one closed-loop repetition of timed calls through
  ``run.call`` and returns one ``(operation, ok, detail)`` check per
  operation. A failed check counts as a failed operation. The first
  ``warmup_reps`` repetitions are untimed set-up.

``rep`` with ``run.traced`` set also makes the diagnostic calls behind the
driver-side per-layer metrics; they are timed apart from the repetition.
A workload may also define ``once(run)``: work the traced run does once,
after its repetitions.
"""

from __future__ import annotations

import os
import statistics
from functools import reduce

from data_validation_spark import datagen
from data_validation_spark import pipeline
from data_validation_spark.anomalies import AnomalyType
from data_validation_spark.dedup.minhash import minhash_lsh_candidates, verify_jaccard
from data_validation_spark.dedup.simhash import simhash_near_dups
from data_validation_spark.io import artifacts
from data_validation_spark.io import checkpoint
from data_validation_spark.io import iceberg_native as ice
from data_validation_spark.schema import DriftComparator
from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.validate import infer, rules
from data_validation_spark.validate.rowlevel import (
    check_pixel_integrity,
    check_referential,
    check_uniqueness,
)
from data_validation_spark.validate.skew import detect_feature_skew

from perfbench import data

L_INFTY = AnomalyType.COMPARATOR_L_INFTY_HIGH


def _images_frame(spark, offset: int, n: int, variant: str):
    """Image rows ``offset .. offset+n-1`` generated on the executors."""

    def gen(batches):
        import pyarrow as pa

        from data_validation_spark.datagen import IMAGES_SCHEMA, generate_row

        for b in batches:
            rows = [generate_row(int(i), variant, 64) for i in b.column("id").to_pylist()]
            cols = list(zip(*rows)) if rows else [[]] * len(IMAGES_SCHEMA)
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type) for c, f in zip(cols, IMAGES_SCHEMA)],
                schema=IMAGES_SCHEMA,
            )

    parts = spark.sparkContext.defaultParallelism
    return spark.range(offset, offset + n, 1, parts).mapInArrow(gen, datagen.IMAGES_DDL)


def _anomaly_set(anomalies) -> set:
    return {(a.feature, a.type) for a in anomalies.anomalies}


def _check(op: str, ok: bool, detail: str = "") -> tuple[str, bool, str]:
    return op, bool(ok), "" if ok else detail


def _image_options() -> StatsOptions:
    return StatsOptions(categorical_features={"fmt"})


class ImagesValidate:
    """Flagship: full validation of a clean images table read from Iceberg."""

    name = "images_validate"
    # the first two calls after the cold one still run ~10% slow (JIT)
    warmup_reps = 2

    def prepare(self, seed: int, work: str) -> None:
        self.work = work
        self.offset = data.image_offset(seed)
        self.ingest = IcebergIngest(work, self.offset + data.IMAGES)

    def load(self, run) -> None:
        spark = run.spark
        table = os.path.join(self.work, "images_ice")
        ice.write_table(spark, _images_frame(spark, self.offset, data.IMAGES, "clean"), table)
        self.df = ice.read_table(spark, table)
        self.prev = _images_frame(spark, self.offset, data.PREV_IMAGES, "prev")
        self.prev_stats = None

    def _validate(self):
        return pipeline.validate_images(
            self.spark,
            self.df,
            pipeline.default_image_schema(),
            prev_stats=self.prev_stats,
            options=_image_options(),
            check_pixels=True,
            pixel_sample_rate=0.25,
        )

    def rep(self, run) -> list:
        self.spark = run.spark
        if self.prev_stats is None:  # reference statistics, made in the warm-up
            self.prev_stats = compute_statistics(self.prev, _image_options())
        res = run.call("pipeline.validate_images", self._validate)
        checks = [
            _check("validate_images.num_examples", res.num_examples == data.IMAGES,
                   f"num_examples {res.num_examples} != {data.IMAGES}"),
            _check("validate_images.violations", not res.violation_counts,
                   f"violations {res.violation_counts}"),
            _check("validate_images.drift", _anomaly_set(res.anomalies) == {("fmt", L_INFTY)},
                   f"anomalies {_anomaly_set(res.anomalies)}"),
        ]
        if run.traced:
            self._diagnose(run)
        return checks

    def _violations_alone(self) -> int:
        # the row-level half of validate_images, run by itself
        df = self.df
        parts = [
            check_uniqueness(df, "image_id"),
            pipeline.check_row_constraints(df, pipeline.default_image_schema(), "image_id"),
            check_pixel_integrity(df, sample_rate=0.25),
        ]
        allv = reduce(lambda a, b: a.unionByName(b), parts)
        return len(pipeline.summarize_violations(allv).collect())

    def _diagnose(self, run) -> None:
        stats_s = run.time("pipeline.stats_alone_s",
                           lambda: compute_statistics(self.df, _image_options()))
        rows_s = run.time("pipeline.rowlevel_alone_s", self._violations_alone)
        run.time("validate.rowlevel.check_pixel_integrity_s",
                 lambda: check_pixel_integrity(self.df, sample_rate=0.25).count())
        both = run.walls["pipeline.validate_images"]
        run.note("pipeline.concurrency_gain", (stats_s + rows_s) / both)

    def once(self, run) -> list:
        """Traced run only: one Iceberg ingest cycle."""
        self.ingest.load(run)
        return self.ingest.cycle(run)


class Tables:
    """Tabular path: exact and sketch statistics, schema inference and drift
    validation over lineitem (JVM aggregates, driver planning, the Python
    sketch stack), then uniqueness, referential and skew checks and
    MinHash/SimHash near-duplicate detection (shuffles and joins). No
    binary column and no pixel decode."""

    name = "tables"
    warmup_reps = 1
    CATEGORICAL = {"l_linenumber"}
    NUMERIC = ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
               "l_extendedprice", "l_discount", "l_tax"]
    SKEW_FEATURES = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                     "o_orderpriority"]

    def prepare(self, seed: int, work: str) -> None:
        self.paths = data.write_tables(seed, work)
        self.paths["lineitem_prev"] = data.write(
            data.lineitem_prev(seed), os.path.join(work, "lineitem_prev.parquet")
        )
        docs, self.planted = data.documents(seed)
        self.paths["documents"] = data.write(docs, os.path.join(work, "documents.parquet"))
        self.simhash_pairs = data.simhash_pairs(
            docs.column("text").to_pylist(), docs.column("doc_id").to_pylist(), radius=3
        )
        oracle = data.Oracle(self.paths)
        self.rows = int(oracle.scalar("SELECT count(*) FROM lineitem"))
        self.summary = oracle.column_summary("lineitem", self.NUMERIC)
        self.dups = oracle.duplicate_keys("lineitem", ["l_orderkey", "l_linenumber"])
        self.orphans = (
            oracle.orphans("lineitem", "l_orderkey", "orders", "o_orderkey"),
            oracle.orphans("events", "user_id", "customer", "c_custkey"),
        )
        self.skew = oracle.skew("orders", "orders_test", "o_orderkey", self.SKEW_FEATURES)
        oracle.close()

    def load(self, run) -> None:
        self.df = {k: run.spark.read.parquet(p) for k, p in self.paths.items()}
        self.prev_stats = None

    def _options(self, sketch: bool) -> StatsOptions:
        return StatsOptions(categorical_features=set(self.CATEGORICAL), use_sketches=sketch)

    def _numeric_checks(self, op: str, stats, sketch: bool) -> list:
        ds = stats.default_slice()
        out = [_check(f"{op}.num_examples", ds.num_examples == self.rows,
                      f"num_examples {ds.num_examples} != {self.rows}")]
        for col, (lo, hi, mean, med) in self.summary.items():
            ns = ds.features[col].numeric
            if sketch:  # the median comes from a sketch: 1% of the range
                ok = abs(ns.median - med) <= 0.01 * (hi - lo)
                detail = f"{col} median {ns.median} vs {med}"
            else:
                ok = (ns.min == lo and ns.max == hi
                      and abs(ns.mean - mean) <= 1e-9 * max(1.0, abs(mean)))
                detail = f"{col} min/max/mean {ns.min}/{ns.max}/{ns.mean} vs {lo}/{hi}/{mean}"
            out.append(_check(f"{op}.{col}", ok, detail))
        return out

    def _profile(self, run) -> list:
        li = self.df["lineitem"]
        if self.prev_stats is None:  # reference statistics, made in the warm-up
            self.prev_stats = compute_statistics(self.df["lineitem_prev"], self._options(False))
        exact = run.call("stats.engine.exact", compute_statistics, li, self._options(False))
        sketch = run.call("stats.sketches.sketch", compute_statistics, li, self._options(True))
        schema = run.call("validate.infer.infer_schema", infer.infer_schema, exact)
        for f in ("l_returnflag", "l_linestatus"):
            schema.get_feature(f).drift_comparator = DriftComparator(infinity_norm_threshold=0.1)
        anomalies = run.call("validate.rules.validate_statistics", rules.validate_statistics,
                             exact, schema, previous_statistics=self.prev_stats)
        return [
            *self._numeric_checks("stats_exact", exact, sketch=False),
            *self._numeric_checks("stats_sketch", sketch, sketch=True),
            _check("infer_schema.features", len(schema.feature) == 11,
                   f"{len(schema.feature)} features"),
            _check("validate_statistics.drift",
                   _anomaly_set(anomalies) == {("l_returnflag", L_INFTY)},
                   f"anomalies {_anomaly_set(anomalies)}"),
        ]

    def _referential(self) -> tuple[int, int]:
        d = self.df
        return (
            check_referential(d["lineitem"], "l_orderkey", d["orders"], "o_orderkey").count(),
            check_referential(d["events"], "user_id", d["customer"], "c_custkey").count(),
        )

    def _minhash(self):
        docs = self.df["documents"]
        self.candidates = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=64, bands=16)
        return verify_jaccard(self.candidates, docs, "doc_id", "text", threshold=0.5).collect()

    def _simhash(self):
        return simhash_near_dups(self.df["documents"], "doc_id", "text", radius=3).collect()

    def _rowchecks(self, run) -> list:
        d = self.df
        dups = run.call("validate.rowlevel.check_uniqueness",
                        lambda: check_uniqueness(d["lineitem"], ["l_orderkey", "l_linenumber"]).count())
        orphans = run.call("validate.rowlevel.check_referential", self._referential)
        skew = run.call("validate.skew.detect_feature_skew", detect_feature_skew,
                        d["orders"], d["orders_test"], ["o_orderkey"])
        verified = run.call("dedup.minhash", self._minhash)
        near = run.call("dedup.simhash", self._simhash)
        if run.traced:
            run.note("dedup.minhash.verified_per_candidate",
                     len(verified) / max(1, self.candidates.count()))
        got_skew = {"matching_pairs": skew.match_stats.matching_pairs_count}
        got_skew.update({f: skew.feature_skew[f].mismatch_count for f in self.SKEW_FEATURES})
        pairs = {(r["id_a"], r["id_b"]) for r in verified}
        near_pairs = {(r["id_a"], r["id_b"]) for r in near}
        return [
            _check("check_uniqueness", dups == self.dups, f"{dups} != {self.dups}"),
            _check("check_referential", orphans == self.orphans, f"{orphans} != {self.orphans}"),
            _check("detect_feature_skew", got_skew == self.skew, f"{got_skew} != {self.skew}"),
            _check("minhash.recall", self.planted <= pairs,
                   f"missed {sorted(self.planted - pairs)[:5]}"),
            _check("simhash.pairs", near_pairs == self.simhash_pairs,
                   f"{len(near_pairs)} pairs vs {len(self.simhash_pairs)}"),
        ]

    def rep(self, run) -> list:
        return self._profile(run) + self._rowchecks(run)


class IcebergIngest:
    """Writes beside reads: Iceberg write/append/delete, a partitioned
    validation with a checkpoint ledger, its resume and the artifact merge.

    Not a workload of its own: one cycle validates four merge-on-read
    partitions and takes 25-30 s on a 4-core host, too long to repeat in a
    run. ``ImagesValidate`` makes one cycle in its traced run instead.
    """

    DELETE = "w < 20"

    def __init__(self, work: str, offset: int):
        self.work = work
        self.offset = offset

    def load(self, run) -> None:
        spark = self.spark = run.spark
        base = os.path.join(self.work, "ingest_base.parquet")
        extra = os.path.join(self.work, "ingest_append.parquet")
        _images_frame(spark, self.offset, data.INGEST_IMAGES, "clean").write.parquet(base)
        _images_frame(
            spark, self.offset + data.INGEST_IMAGES, data.INGEST_APPEND, "clean"
        ).write.parquet(extra)
        self.base, self.extra = spark.read.parquet(base), spark.read.parquet(extra)
        oracle = data.Oracle({"base": f"{base}/*.parquet", "extra": f"{extra}/*.parquet"})
        self.expected = int(oracle.scalar(
            f"SELECT count(*) FROM (SELECT * FROM base UNION ALL SELECT * FROM extra) "
            f"WHERE NOT ({self.DELETE})"
        ))
        oracle.close()

    def _ingest(self, table: str) -> None:
        ice.write_table(self.spark, self.base, table, partition_by=["fmt"])
        ice.append_table(self.spark, self.extra, table)
        ice.delete_rows(self.spark, table, self.DELETE)

    def _partitioned(self, table: str, ledger: str):
        return checkpoint.run_iceberg_partitioned(
            self.spark, table, pipeline.default_image_schema(), ledger,
            validate_fn=pipeline.validate_images, options=_image_options(),
        )

    def cycle(self, run) -> list:
        table = os.path.join(self.work, "ingest_ice")
        ledger_dir = os.path.join(self.work, "ingest_ledger")
        run.call("io.iceberg_native.write", self._ingest, table)
        run.call("io.checkpoint.run_iceberg_partitioned", self._partitioned, table, ledger_dir)
        resumed = run.call("io.checkpoint.resume", self._partitioned, table, ledger_dir)
        ledger = checkpoint.CheckpointLedger(ledger_dir)
        done = ledger.completed()
        merged = run.call("io.artifacts.merge_stats", lambda: artifacts.merge_stats(
            [ledger.load_stats(p) for p in sorted(done)]))
        files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(table, "data"))
                 for f in fs if f.endswith(".parquet")]
        run.note("io.iceberg_native.files_written", len(files))
        run.note("io.iceberg_native.bytes_written", sum(os.path.getsize(f) for f in files))
        run.note("io.checkpoint.per_partition_s",
                 statistics.median(r["duration_sec"] for r in done.values()))
        run.note("io.checkpoint.partitions_recomputed_on_resume", len(resumed))
        ledger_rows = sum(r["num_examples"] for r in done.values())
        merged_rows = merged.default_slice().num_examples
        return [
            _check("run_iceberg_partitioned.num_examples", ledger_rows == self.expected,
                   f"ledger {ledger_rows} != {self.expected}"),
            _check("run_iceberg_partitioned.status",
                   all(r["status"] == "ok" for r in done.values()), f"{done}"),
            _check("resume.recomputed", len(resumed) == 0, f"{sorted(resumed)}"),
            _check("merge_stats.num_examples", merged_rows == self.expected,
                   f"merged {merged_rows} != {self.expected}"),
        ]


WORKLOADS = {w.name: w for w in (ImagesValidate, Tables)}
