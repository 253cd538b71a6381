"""Session settings that cut the per-call driver cost of a long-lived
session: the codegen cache holds a whole validation cycle, and PySpark's
per-Column call-site capture is off (see ``session.py``)."""

import os
import subprocess
import sys

from pyspark.sql import SparkSession, functions as F

from data_validation_spark import session
from data_validation_spark.session import CODEGEN_CACHE_ENTRIES, get_spark

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
DEBUG_KEY = "spark.python.sql.dataFrameDebugging.enabled"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_session_reports_both_settings(spark):
    assert spark.conf.get(CACHE_KEY) == str(CODEGEN_CACHE_ENTRIES) == "1000"
    assert spark.conf.get(DEBUG_KEY) == "false"


class _Captured:
    """Stands in for the session a builder would create; keeps its options."""

    def __init__(self, options):
        self.options = dict(options)
        self.sparkContext = self

    def setLogLevel(self, level):
        pass


def _builder_options(monkeypatch, **kwargs) -> dict:
    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: _Captured(self._options)
    )
    return get_spark(**kwargs).options


def test_get_spark_local_star_counts_cpus_from_affinity(monkeypatch):
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: set(range(12)))
    monkeypatch.setattr(session.os, "cpu_count", lambda: 64)
    opts = _builder_options(monkeypatch, master="local[*]")
    assert opts["spark.sql.shuffle.partitions"] == "12"
    # an explicit local[N] master sizes from N, floored at 8
    opts = _builder_options(monkeypatch, master="local[5]")
    assert opts["spark.sql.shuffle.partitions"] == "8"
    opts = _builder_options(monkeypatch, master="local[16]")
    assert opts["spark.sql.shuffle.partitions"] == "16"


def test_build_agg_exprs_round_trips_and_extra_conf_on_a_live_session(tmp_path):
    # PySpark caches the call-site capture flag on the first Column call of
    # the process, so this runs in its own interpreter: no earlier Column
    # call in the suite decides the flag. It counts the py4j round trips of
    # one build_agg_exprs call on an 11-column lineitem-shaped plan (~2,800
    # with the capture on, ~1,100 with it off), then restarts the session
    # with both settings overridden through extra_conf.
    code = """
import sys
sys.path.insert(0, %r)
from pyspark.sql import types as T
from data_validation_spark.session import get_spark
from data_validation_spark.stats import exprs as E
from data_validation_spark.stats.options import StatsOptions

s = get_spark("rt-a", master="local[1]", shuffle_partitions=1)
schema = T.StructType.fromDDL(
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp")
plans = E.classify_columns(schema, {"l_linenumber"})
o = StatsOptions()
client = s.sparkContext._gateway._gateway_client
send = client.send_command
calls = []

def counting(*args, **kwargs):
    calls.append(1)
    return send(*args, **kwargs)

client.send_command = counting
E.build_agg_exprs(plans, None, E.QUANTILE_CUTS, o.quantiles_accuracy,
                  o.num_values_histogram_buckets, o.hll_precision)
del client.send_command
print("CALLS", len(calls))
s.stop()
s = get_spark("rt-b", master="local[1]", shuffle_partitions=1, extra_conf={
    %r: "250", %r: "true"})
print("CONF", s.conf.get(%r), s.conf.get(%r))
s.stop()
""" % (REPO, CACHE_KEY, DEBUG_KEY, CACHE_KEY, DEBUG_KEY)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       cwd=str(tmp_path), env=env, timeout=300)
    out = r.stdout + r.stderr
    calls = [int(line.split()[1]) for line in r.stdout.splitlines()
             if line.startswith("CALLS ")]
    assert calls and 0 < calls[0] <= 1500, out
    assert "CONF 250 true" in r.stdout, out


def _compilations(spark) -> int:
    jvm = spark.sparkContext._jvm
    metrics = getattr(getattr(jvm, "org.apache.spark.metrics.source.CodegenMetrics$"), "MODULE$")
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_profile_and_rowcheck_cycle_compiles_nothing(spark, sf_dir):
    # A long-lived session profiles and checks each new span with the same
    # query shapes; with the codegen cache sized to that working set, the
    # second cycle finds every generated class already compiled.
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.validate.rowlevel import check_referential, check_uniqueness
    from data_validation_spark.validate.skew import detect_feature_skew

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders_test = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1)
        .otherwise(F.col("o_totalprice")),
    )

    def cycle():
        for sketch in (False, True):
            opts = StatsOptions(categorical_features={"l_linenumber"}, use_sketches=sketch)
            assert compute_statistics(li, opts).default_slice().num_examples > 0
        check_uniqueness(li, ["l_orderkey", "l_linenumber"]).count()
        check_referential(li, "l_orderkey", orders, "o_orderkey").count()
        skew = detect_feature_skew(orders, orders_test, ["o_orderkey"])
        assert skew.feature_skew["o_totalprice"].mismatch_count > 0

    before = _compilations(spark)
    cycle()
    first = _compilations(spark) - before
    cycle()
    second = _compilations(spark) - before - first
    assert second == 0, f"first cycle compiled {first} classes, second {second}"
