"""Sketch-backed branches of the statistics long pass (``engine._run_long_pass``).

Two lazy, KB-scale result frames that the engine unions into its single
long-pass action:

1. ``run_sketch_pass`` — sketch-mode top-k / unique counts without a weight
   column, on Spark's built-in sketch aggregates: one JVM
   ``groupBy(slice_key, feature)`` over ``approx_top_k`` (frequent-items
   sketch) and ``hll_sketch_agg`` (HyperLogLog). Spark's partial aggregation
   merges the per-partition sketches, which is the reference's
   CombinePerKey-with-hot-key-fanout over mergeable sketches
   (``stats_impl.py:296-303``) without a Python stage.
2. ``build_weighted_digest_frame`` — weighted quantiles (reference
   WeightedNumericStatistics), which have no JVM builtin: per-partition
   Python weighted t-digests built in ``mapInPandas``, merged by
   ``applyInPandas`` through a salted intermediate tier when there are many
   partials (the explicit two-tier combine for the single-slice skew case).
"""

from __future__ import annotations

import pickle
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from data_validation_spark.stats import exprs as E
from data_validation_spark.stats.sketches.tdigest import TDigest

# Reference parity (top_k_uniques_sketch_stats_generator.py:49-50,211-222,
# constants.py): values >1024 bytes collapse to one placeholder token in the
# TOP-K sketch only — the uniques sketch and the exact generator always see
# raw values, and schema-declared CATEGORICAL_YES features are exempt.
_LARGE_STRING_THRESHOLD = 1024
_LARGE_BYTES_PLACEHOLDER = "__LARGE_BYTES__"


def run_sketch_pass(long_df, options):
    """Lazy sketch top-k/uniques frame over the long frame, in the exact
    branch's ``topk`` row shape ``(slice_key, feature, str_value, cnt, wcnt,
    rank, wrank, unique)``: one row per ranked value, ``rank`` from 1.

    Ranking is count descending, ties to the larger value (the exact
    generator's order): the sketch's items are sorted as ``(count, item)``
    structs before ``posexplode``. Unweighted only — ``approx_top_k`` takes
    no weights, so weighted runs keep the exact branch."""
    k = max(options.num_top_values, options.num_rank_histogram_buckets)
    sv = F.col("str_value")
    large = F.octet_length(sv) > _LARGE_STRING_THRESHOLD
    cats = sorted(options.categorical_features or ())
    if cats:
        large = large & ~F.col("feature").isin(*cats)
    topk_input = F.when(large, F.lit(_LARGE_BYTES_PLACEHOLDER)).otherwise(sv)
    sketched = (
        long_df.where(sv.isNotNull())
        .groupBy("slice_key", "feature")
        .agg(
            F.call_function(
                "approx_top_k", topk_input, F.lit(k),
                F.lit(max(k, 4 * options.topk_sketch_size)),
            ).alias("top"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg(sv, options.hll_precision)
            ).alias("unique"),
        )
    )
    ranked = F.sort_array(
        F.transform(
            "top", lambda t: F.struct(t["count"].alias("cnt"), t["item"].alias("str_value"))
        ),
        asc=False,
    )
    return sketched.select(
        "slice_key", "feature", "unique", F.posexplode(ranked).alias("pos", "t")
    ).select(
        "slice_key",
        "feature",
        F.col("t.str_value").alias("str_value"),
        F.col("t.cnt").alias("cnt"),
        F.col("t.cnt").cast("double").alias("wcnt"),
        (F.col("pos") + 1).alias("rank"),
        F.lit(None).cast("int").alias("wrank"),
        "unique",
    )


class FeatureAccumulator:
    """Weighted numeric sketch state for one (slice, feature): a weighted
    t-digest over finite values plus weighted moments and ±inf masses."""

    __slots__ = ("wtd", "fincnt", "wfcnt", "wfsum", "wfsumsq", "wposinf", "wneginf")

    def __init__(self, options):
        # reference weighted_quantiles_summary (basic_stats_generator.py:
        # 350,387,470-472)
        self.wtd = TDigest(options.tdigest_compression)
        self.fincnt = 0
        self.wfcnt = 0.0
        self.wfsum = 0.0
        self.wfsumsq = 0.0
        self.wposinf = 0.0
        self.wneginf = 0.0

    def add_numbers(self, values: np.ndarray, weights: np.ndarray) -> None:
        self.wposinf += float(weights[values == np.inf].sum())
        self.wneginf += float(weights[values == -np.inf].sum())
        finmask = np.isfinite(values)
        fin, fw = values[finmask], weights[finmask]
        if fin.size:
            self.fincnt += fin.size
            self.wfcnt += float(fw.sum())
            self.wfsum += float((fin * fw).sum())
            self.wfsumsq += float((fin * fin * fw).sum())
            self.wtd.add(fin, fw)

    def merge(self, other: "FeatureAccumulator") -> "FeatureAccumulator":
        self.wtd = self.wtd.merge(other.wtd)
        self.fincnt += other.fincnt
        self.wfcnt += other.wfcnt
        self.wfsum += other.wfsum
        self.wfsumsq += other.wfsumsq
        self.wposinf += other.wposinf
        self.wneginf += other.wneginf
        return self

    def compact(self) -> None:
        self.wtd.compact()


_PARTIAL_DDL = "slice_key string, feature string, acc binary"

# Partial-accumulator count above which the two-tier salted merge kicks in
# (hot-key fanout for the single-slice skew case). Module-level so tests can
# force the fanout tier on small inputs.
FANOUT_THRESHOLD = 64


def build_weighted_digest_frame(df, plans, slice_col, options, weight_arg=None):
    """Lazy merged weighted-digest frame ``(slice_key, feature, acc)``.

    With a weight column the wide agg has weighted moments and the long pass
    has weighted top-k, yet weighted QUANTILES (reference
    WeightedNumericStatistics histograms) have no JVM builtin. The caller
    unions this KB-scale frame into the long pass's single action
    (engine._run_long_pass), so Catalyst executes it as a column-disjoint
    branch (numeric + weight columns only — plan-asserted in
    tests/test_plans.py) of ONE job instead of an extra full read. Decode
    rows with ``decode_weighted_digest``."""
    num_plans = [p for p in plans if p.numeric]
    if not num_plans:
        return None
    long_df = E.long_format(
        df, num_plans, slice_col,
        weight_arg if weight_arg is not None else options.weight_column,
        include_scalar_numeric=True,
    )
    if long_df is None:
        return None

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple[str, str], FeatureAccumulator] = {}
        for pdf in batches:
            for (sk, feat), g in pdf.groupby(["slice_key", "feature"], sort=False):
                acc = accs.get((sk, feat))
                if acc is None:
                    acc = accs[(sk, feat)] = FeatureAccumulator(options)
                nvs = g["num_value"].dropna()
                if len(nvs):
                    acc.add_numbers(
                        nvs.to_numpy(dtype=np.float64),
                        g["weight"][nvs.index].to_numpy(dtype=np.float64),
                    )
        rows = []
        for (sk, feat), acc in accs.items():
            acc.compact()
            rows.append((sk, feat, pickle.dumps(acc, protocol=4)))
        yield pd.DataFrame(rows, columns=["slice_key", "feature", "acc"])

    partials = long_df.mapInPandas(partial, _PARTIAL_DDL)
    if long_df.rdd.getNumPartitions() > FANOUT_THRESHOLD:
        salted = partials.withColumn(
            "salt", F.pmod(F.xxhash64(F.rand(seed=7)), F.lit(16))
        )
        partials = (
            salted.groupBy("slice_key", "feature", "salt")
            .applyInPandas(_merge_group_keep, _PARTIAL_DDL + ", salt bigint")
            .drop("salt")
        )
    return partials.groupBy("slice_key", "feature").applyInPandas(
        _merge_group_keep, _PARTIAL_DDL
    )


def decode_weighted_digest(acc_bytes) -> dict:
    """Driver-side decode of one merged weighted-digest row into the
    ``{wquants, wfcnt, wfsum, wfsumsq, wposinf, wneginf}`` dict consumed by
    engine._assemble_feature."""
    qs = [i / E.QUANTILE_CUTS for i in range(E.QUANTILE_CUTS + 1)]
    acc: FeatureAccumulator = pickle.loads(bytes(acc_bytes))
    return {
        "wquants": acc.wtd.quantiles(qs) if acc.fincnt else None,
        "wfcnt": acc.wfcnt,
        "wfsum": acc.wfsum,
        "wfsumsq": acc.wfsumsq,
        "wposinf": acc.wposinf,
        "wneginf": acc.wneginf,
    }


def _merge_group_keep(pdf: pd.DataFrame) -> pd.DataFrame:
    accs = [pickle.loads(bytes(b)) for b in pdf["acc"]]
    merged = accs[0]
    for a in accs[1:]:
        merged = merged.merge(a)
    merged.compact()
    out = pdf.iloc[[0]].copy()
    out["acc"] = [pickle.dumps(merged, protocol=4)]
    return out
