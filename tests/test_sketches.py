"""Sketch-layer tests — three-way accumulate/merge/compact parity per the
reference's harness pattern (tdv/utils/test_util.py:276-389): (a) one
accumulator per batch then merge, (b) merge then compact, (c) sequential adds
into one accumulator must all agree within tolerance. Sketch-mode top-k and
uniques run on Spark's built-in sketch aggregates and are checked at engine
level against exact mode.
"""

import numpy as np
import pytest

from data_validation_spark.stats.sketches.tdigest import TDigest


# ------------------------------------------------------------------ t-digest
def test_tdigest_quantiles_uniform():
    rng = np.random.RandomState(0)
    data = rng.uniform(0, 100, 50_000)
    td = TDigest()
    td.add(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert td.quantile(q) == pytest.approx(np.quantile(data, q), abs=1.0)
    assert td.min == data.min() and td.max == data.max()


def test_tdigest_three_way_parity():
    rng = np.random.RandomState(1)
    batches = [rng.normal(50, 10, 5000) for _ in range(4)]
    all_data = np.concatenate(batches)

    # (a) one accumulator per batch, merged
    accs = []
    for b in batches:
        t = TDigest()
        t.add(b)
        accs.append(t)
    merged = accs[0]
    for t in accs[1:]:
        merged = merged.merge(t)
    # (b) merged + compacted again
    compacted = merged.merge(TDigest())
    # (c) sequential
    seq = TDigest()
    for b in batches:
        seq.add(b)

    for q in (0.1, 0.5, 0.9):
        truth = np.quantile(all_data, q)
        for sk in (merged, compacted, seq):
            assert sk.quantile(q) == pytest.approx(truth, abs=0.5)
    assert merged.count == pytest.approx(len(all_data))


def test_tdigest_skewed_and_point_mass():
    td = TDigest()
    td.add(np.array([5.0] * 10_000))  # pure point mass
    assert td.quantile(0.5) == pytest.approx(5.0)
    td2 = TDigest()
    td2.add(np.concatenate([np.zeros(9000), np.full(1000, 1000.0)]))
    assert td2.quantile(0.5) == pytest.approx(0.0, abs=1e-6)
    assert td2.quantile(0.95) == pytest.approx(1000.0, abs=5.0)


def test_tdigest_ignores_nonfinite():
    td = TDigest()
    td.add(np.array([1.0, np.nan, np.inf, -np.inf, 3.0]))
    assert td.count == 2
    assert td.quantile(0.5) == pytest.approx(2.0, abs=1.0)


# ----------------------------------------------------------- engine parity
def test_sketch_mode_vs_exact(spark):
    rows = [(float(i % 100), f"k{i % 7}") for i in range(10_000)]
    df = spark.createDataFrame(rows, "x double, s string")
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    exact = compute_statistics(df, StatsOptions(use_sketches=False))
    sketch = compute_statistics(df, StatsOptions(use_sketches=True))

    ex = exact.default_slice().feature("x").numeric
    sx = sketch.default_slice().feature("x").numeric
    assert sx.median == pytest.approx(ex.median, abs=2.0)
    assert sx.mean == pytest.approx(ex.mean, rel=1e-6)
    assert sx.min == ex.min and sx.max == ex.max

    es = exact.default_slice().feature("s").string
    ss = sketch.default_slice().feature("s").string
    assert ss.unique == es.unique == 7
    assert dict(ss.top_values) == pytest.approx(dict(es.top_values), rel=0.01)
    # histograms exist in sketch mode too
    assert sx.histogram("STANDARD") is not None
    assert sx.histogram("STANDARD").total_count() == pytest.approx(10_000, rel=0.01)


def _string_stats(df, **opts):
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    return compute_statistics(df, StatsOptions(**opts)).default_slice().feature("s").string


def test_sketch_topk_ties_go_to_larger_value(spark):
    # count descending, equal counts → larger value first (exact generator
    # order, top_k_uniques_stats_generator.py)
    rows = [("a",)] * 5 + [("b",)] * 5 + [("c",)] * 9 + [("d",)] * 1
    df = spark.createDataFrame(rows, "s string")
    st = _string_stats(df, use_sketches=True)
    assert st.top_values == [("c", 9.0), ("b", 5.0), ("a", 5.0), ("d", 1.0)]
    assert st.rank_histogram == _string_stats(df).rank_histogram


def test_sketch_uniques_exact_at_small_cardinality(spark):
    for n in (1, 2, 37, 500):
        df = spark.createDataFrame([(f"u{i % n}",) for i in range(2 * n + 3)], "s string")
        assert _string_stats(df, use_sketches=True).unique == n


def test_sketch_mode_repartitioned_matches_exact(spark):
    # Per-partition sketches merged by Spark's partial aggregation must give
    # the single-pass answer: same top-k (values, counts, order) and uniques
    # as the exact shuffle at this cardinality.
    rows = [(f"k{(i * 7) % 23}", f"v{i % 301}") for i in range(6000)]
    df = spark.createDataFrame(rows, "s string, t string").repartition(8)
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    exact = compute_statistics(df, StatsOptions()).default_slice()
    sketch = compute_statistics(df, StatsOptions(use_sketches=True)).default_slice()
    for name in ("s", "t"):
        es, ss = exact.feature(name).string, sketch.feature(name).string
        assert ss.unique == es.unique
        assert ss.top_values == es.top_values
        assert ss.rank_histogram == es.rank_histogram


# ------------------------------------------------- weighted quantile sketch
def _np_weighted_quantile(x, w, q):
    order = np.argsort(x)
    xs, ws = x[order], w[order]
    cw = np.cumsum(ws)
    return float(xs[np.searchsorted(cw, q * cw[-1])])


def test_tdigest_weighted_three_way_parity():
    # Reference weighted_quantiles_summary parity
    # (basic_stats_generator.py:350,387,470-472): the weighted digest must be
    # order-insensitive under add/merge/compact, and track the exact weighted
    # quantiles of the stream.
    rng = np.random.RandomState(3)
    batches = [
        (rng.normal(50, 10, 4000), rng.uniform(0.1, 5.0, 4000)) for _ in range(4)
    ]
    all_x = np.concatenate([b[0] for b in batches])
    all_w = np.concatenate([b[1] for b in batches])

    accs = []
    for x, w in batches:
        t = TDigest()
        t.add(x, w)
        accs.append(t)
    merged = accs[0]
    for t in accs[1:]:
        merged = merged.merge(t)
    compacted = merged.merge(TDigest())
    seq = TDigest()
    for x, w in batches:
        seq.add(x, w)

    for q in (0.1, 0.5, 0.9):
        truth = _np_weighted_quantile(all_x, all_w, q)
        for sk in (merged, compacted, seq):
            assert sk.quantile(q) == pytest.approx(truth, abs=0.6)
    assert merged.count == pytest.approx(all_w.sum(), rel=1e-9)


def test_feature_accumulator_weighted_merge_parity():
    import pandas as pd

    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.stats.sketches.runner import FeatureAccumulator

    opts = StatsOptions(weight_column="w")
    rng = np.random.RandomState(4)
    x = rng.uniform(0, 100, 9000)
    w = rng.uniform(0.5, 2.0, 9000)

    seq = FeatureAccumulator(opts)
    seq.add_numbers(x, w)

    parts = []
    for i in range(3):
        a = FeatureAccumulator(opts)
        a.add_numbers(x[i::3], w[i::3])
        parts.append(a)
    merged = parts[0].merge(parts[1]).merge(parts[2])
    merged.compact()

    truth = _np_weighted_quantile(x, w, 0.5)
    assert seq.wtd.quantile(0.5) == pytest.approx(truth, abs=0.8)
    assert merged.wtd.quantile(0.5) == pytest.approx(truth, abs=0.8)
    assert merged.wfcnt == pytest.approx(seq.wfcnt) == pytest.approx(w.sum())
    assert merged.wfsum == pytest.approx(seq.wfsum, rel=1e-12)


def test_weighted_sketch_quantiles_engine(spark):
    # End-to-end: weighted median / mean / histograms in sketch mode
    # (WeightedNumericStatistics parity, basic_stats_generator.py:830-877).
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rng = np.random.RandomState(5)
    x = rng.normal(50, 10, 8000)
    w = rng.uniform(0.1, 5.0, 8000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w)], "x double, w double"
    )
    stats = compute_statistics(df, StatsOptions(weight_column="w", use_sketches=True))
    n = stats.default_slice().feature("x").numeric

    assert n.weighted_median == pytest.approx(
        _np_weighted_quantile(x, w, 0.5), abs=0.5
    )
    assert n.weighted_mean == pytest.approx(float((x * w).sum() / w.sum()), rel=1e-9)
    # histogram pair [STANDARD, QUANTILES], masses sum to total weight
    types = [h.type for h in n.weighted_histograms]
    assert types == ["STANDARD", "QUANTILES"]
    for h in n.weighted_histograms:
        assert h.total_count() == pytest.approx(float(w.sum()), rel=0.01)
    # weighted median of a skewed weighting differs from unweighted median
    # when weights correlate with value
    w2 = (x > 50).astype(float) * 4 + 1.0
    df2 = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w2)], "x double, w double"
    )
    s2 = compute_statistics(df2, StatsOptions(weight_column="w", use_sketches=True))
    n2 = s2.default_slice().feature("x").numeric
    assert n2.weighted_median > n2.median + 2.0


def test_fanout_merge_tier_activates_and_preserves_results(spark, monkeypatch):
    # Two-tier salted merge of the weighted-digest branch (the explicit
    # hot-key fanout, stats_impl.py:296-303 CombinePerKey-with-fanout
    # analogue): force the tier on by lowering the threshold below the
    # input's partition count and assert (a) it activated — a second
    # grouped-pandas merge node in the long pass's plan — and (b) results are
    # unchanged vs the single-tier path: merge must be associative across the
    # salt split.
    from data_validation_spark.stats import engine
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.stats.sketches import runner

    rows = [(float(i % 100), f"k{i % 11}", 1.0 + (i % 3)) for i in range(8000)]
    df = spark.createDataFrame(rows, "x double, s string, w double").repartition(8)
    opts = StatsOptions(weight_column="w", use_sketches=True)

    def run():
        engine.CAPTURE_UNION_FRAME = True
        try:
            stats = compute_statistics(df, opts)
            plan = engine._last_union_frame._jdf.queryExecution().optimizedPlan().toString()
        finally:
            engine.CAPTURE_UNION_FRAME = False
            engine._last_union_frame = None
        return stats, plan.count("FlatMapGroupsInPandas")

    base, base_merges = run()
    assert base_merges == 1

    monkeypatch.setattr(runner, "FANOUT_THRESHOLD", 2)
    fanned, fanned_merges = run()
    assert fanned_merges == 2

    x, w = np.array([r[0] for r in rows]), np.array([r[2] for r in rows])
    for stats in (base, fanned):
        n = stats.default_slice().feature("x").numeric
        s = stats.default_slice().feature("s").string
        assert n.min == 0.0 and n.max == 99.0
        assert n.weighted_mean == pytest.approx(float((x * w).sum() / w.sum()), rel=1e-9)
        assert n.weighted_median == pytest.approx(_np_weighted_quantile(x, w, 0.5), abs=1.0)
        assert s.unique == 11
    fn, bn = fanned.default_slice().feature("x").numeric, base.default_slice().feature("x").numeric
    assert fn.weighted_median == pytest.approx(bn.weighted_median, abs=1.0)
    for h_f, h_b in zip(fn.weighted_histograms, bn.weighted_histograms):
        assert h_f.total_count() == pytest.approx(h_b.total_count(), rel=1e-9)
    assert dict(fanned.default_slice().feature("s").string.top_values) == (
        dict(base.default_slice().feature("s").string.top_values)
    )


def test_weighted_quantiles_exact_mode_matches_sketch_mode(spark):
    # Exact mode with a weight column must ALSO emit WeightedNumericStatistics
    # median/histograms (reference emits them whenever weights are configured,
    # regardless of generator flavor) — via the dedicated weighted-quantile
    # job, agreeing with sketch mode within digest tolerance.
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rng = np.random.RandomState(11)
    x = rng.normal(100, 20, 6000)
    w = rng.uniform(0.5, 3.0, 6000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w)], "x double, w double"
    )
    exact = compute_statistics(df, StatsOptions(weight_column="w", use_sketches=False))
    sketch = compute_statistics(df, StatsOptions(weight_column="w", use_sketches=True))
    ne = exact.default_slice().feature("x").numeric
    ns = sketch.default_slice().feature("x").numeric
    truth = _np_weighted_quantile(x, w, 0.5)
    assert ne.weighted_median == pytest.approx(truth, abs=1.0)
    assert ne.weighted_median == pytest.approx(ns.weighted_median, abs=1.0)
    assert [h.type for h in ne.weighted_histograms] == ["STANDARD", "QUANTILES"]
    for h in ne.weighted_histograms:
        assert h.total_count() == pytest.approx(float(w.sum()), rel=0.01)
    # unweighted quantities unaffected
    assert ne.median == pytest.approx(ns.median, abs=1.0)

    # no weight column → no weighted quantile job, no weighted stats
    plain = compute_statistics(df.select("x"), StatsOptions())
    assert plain.default_slice().feature("x").numeric.weighted_median is None
