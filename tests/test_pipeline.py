"""End-to-end pipeline tests: clean passes, dirty fails with exactly the
injected violations, drift vs prev variant fires."""

import pytest

from data_validation_spark.anomalies import AnomalyType as AT
from data_validation_spark.datagen import images_df
from data_validation_spark.pipeline import default_image_schema, validate_images
from data_validation_spark.stats.options import StatsOptions


def test_clean_pipeline_passes(spark):
    df = images_df(spark, 1000, "clean", partitions=4)
    r = validate_images(
        spark, df, default_image_schema(),
        options=StatsOptions(categorical_features={"fmt"}),
        check_pixels=True,
    )
    assert r.passed, r.anomalies.to_json()
    assert r.num_examples == 1000
    assert r.violation_counts == {}
    # image stats landed via the fused wide pass
    fs = r.stats.default_slice().feature("bytes")
    assert sum(fs.custom["image_format_histogram"].values()) == 1000
    assert fs.custom.get("domain_info") == "image_domain {}"


def test_dirty_pipeline_fails_with_expected_violations(spark):
    n = 2000
    df = images_df(spark, n, "dirty", partitions=4)
    r = validate_images(
        spark, df, default_image_schema(),
        options=StatsOptions(categorical_features={"fmt"}),
        check_pixels=False,
    )
    assert not r.passed
    types = {a.type for a in r.anomalies.anomalies}
    # fmt NULLs (i%500==11 → 4 rows) → presence violation at min_fraction=1
    assert AT.FEATURE_TYPE_LOW_FRACTION_PRESENT in types
    # off-domain "tiff" (4 rows = 0.2% > 0.1% allowed)
    assert AT.ENUM_TYPE_UNEXPECTED_STRING_VALUES in types
    # zero/negative w (i%200==3 → 10 rows)
    assert AT.INT_TYPE_SMALL_INT in types
    # corrupt payloads 1% > 0.5% allowed unknown → low supported image fraction
    assert AT.LOW_SUPPORTED_IMAGE_FRACTION in types
    vc = r.violation_counts
    assert vc[("image_id", "DUPLICATE_KEY")] == 2  # ids 6 and 1006
    assert vc[("w", "ROW_CONSTRAINT_VIOLATION")] == 10
    assert vc[("fmt", "ROW_CONSTRAINT_VIOLATION")] == 8  # 4 nulls + 4 tiff


def test_drift_vs_prev_variant(spark):
    cur = images_df(spark, 1500, "clean", partitions=4)
    prev = images_df(spark, 1500, "prev", partitions=4)
    r = validate_images(
        spark, cur, default_image_schema(), prev_df=prev,
        options=StatsOptions(categorical_features={"fmt"}),
    )
    # fmt mix 80% vs 50% jpeg → L∞ ≈ 0.3 > 0.2 threshold
    types = {a.type for a in r.anomalies.anomalies}
    assert AT.COMPARATOR_L_INFTY_HIGH in types
    m = {x.metric: x.value for x in r.anomalies.drift_skew_info}
    assert m["L_INFTY"] == pytest.approx(0.3, abs=0.08)
    assert "JENSEN_SHANNON_DIVERGENCE" in m


def test_pipeline_nl_constraints_on_caption(spark):
    from data_validation_spark.datagen import images_df
    from data_validation_spark.pipeline import default_image_schema, validate_images
    from data_validation_spark.schema import NaturalLanguageDomain, TokenConstraint

    df = images_df(spark, 300, "clean")
    schema = default_image_schema()
    cap = schema.get_feature("caption")
    assert cap is not None
    # synthetic captions are random wNNNN tokens: cap a never-appearing token
    # at ≤10% of sequences (passes, fraction is 0) — exercising the wiring.
    cap.natural_language_domain = NaturalLanguageDomain(
        min_coverage=None,
        token_constraints=[
            TokenConstraint(value="zzz_never", max_fraction_of_sequences=0.1),
        ],
    )
    r = validate_images(spark, df, schema)
    nl = r.stats.default_slice().feature("caption").custom.get("nl_statistics")
    assert nl is not None and "zzz_never" in nl["token_statistics"]
    assert nl["token_statistics"]["zzz_never"]["fraction_of_sequences"] == 0.0
    assert r.anomalies.passed
    # now an impossible constraint → SEQUENCE_VALUE_TOO_SMALL_FRACTION
    cap.natural_language_domain.token_constraints = [
        TokenConstraint(value="zzz_never", min_fraction_of_sequences=0.5)
    ]
    r2 = validate_images(spark, df, schema)
    types = {a.type.value for a in r2.anomalies.anomalies}
    assert "SEQUENCE_VALUE_TOO_SMALL_FRACTION" in types


def test_warm_session_reruns_for_a_new_session(tmp_path):
    # warm_session's memo must not outlive the session it warmed: after a
    # stop and a fresh session in the same process, warm-up runs again.
    # Runs in its own interpreter so stopping a session leaves the suite's
    # shared session alone; the warm-up work itself is replaced by a
    # counter on a session stand-in.
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = """
import sys
sys.path.insert(0, %r)
from data_validation_spark import datagen
from data_validation_spark.session import get_spark

runs = []

class Probe:
    def __init__(self, spark):
        self.sparkContext = spark.sparkContext

    def range(self, *args, **kwargs):
        runs.append(1)
        raise RuntimeError("warm-up body reached")

s = get_spark("warm-a", master="local[1]", shuffle_partitions=1)
probe = Probe(s)
datagen.warm_session(probe)
datagen.warm_session(probe)
s.stop()
s = get_spark("warm-b", master="local[1]", shuffle_partitions=1)
# same Python object for the new session: what id() reuse after GC does
probe.sparkContext = s.sparkContext
datagen.warm_session(probe)
s.stop()
print("RUNS", len(runs))
""" % repo
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       cwd=str(tmp_path), env=env, timeout=300)
    assert "RUNS 2" in r.stdout, r.stdout + r.stderr
