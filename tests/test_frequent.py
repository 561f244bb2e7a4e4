"""heavy_hitters: exact top-k via mergeable Misra-Gries candidates.

Ground truth is a driver-side pandas count; the operator must return
the EXACT top-k under the (count desc, value asc) order both on the
bounded-shuffle path (zipf data, guarantee holds) and through the
fallback (flat data + tiny summary, guarantee check fails).
"""

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ezdata_spark.operators.frequent import heavy_hitters


def _exact_topk(values, k):
    s = pd.Series(values).value_counts()
    d = pd.DataFrame({"value": s.index, "n": s.to_numpy()})
    d = d.sort_values(["n", "value"], ascending=[False, True])
    return list(d.head(k).itertuples(index=False, name=None))


def _zipf_frame(spark, parts=8):
    rng = np.random.RandomState(7)
    vals = [f"tok{z}" for z in rng.zipf(1.5, 20_000) if z < 10_000]
    return vals, spark.createDataFrame([(v,) for v in vals], "value string").repartition(parts)


def test_zipf_exact_no_fallback(spark):
    vals, df = _zipf_frame(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any fallback warning -> failure
        got = heavy_hitters(df, "value", k=10, summary_size=512)
    assert [tuple(r) for r in got.collect()] == _exact_topk(vals, 10)


def test_flat_data_fallback_still_exact(spark):
    # near-uniform values with a tiny summary: the k-th candidate count
    # cannot beat the decrement bound, so the exact fallback must fire
    # and the answer must still be the true top-k
    rng = np.random.RandomState(11)
    vals = [int(x) for x in rng.randint(0, 5_000, 20_000)]
    df = spark.createDataFrame([(v,) for v in vals], "value bigint").repartition(8)
    with pytest.warns(UserWarning, match="guarantee check failed"):
        got = heavy_hitters(df, "value", k=10, summary_size=16)
    assert [tuple(r) for r in got.collect()] == _exact_topk(vals, 10)


def test_nulls_and_nans_excluded(spark):
    df = spark.createDataFrame(
        [(1.0,), (1.0,), (float("nan"),), (None,), (2.0,)], "value double"
    )
    got = heavy_hitters(df, "value", k=5)
    assert [tuple(r) for r in got.collect()] == [(1.0, 2), (2.0, 1)]


def test_tie_order_and_small_k(spark):
    df = spark.createDataFrame(
        [("b",), ("b",), ("a",), ("a",), ("c",)], "value string"
    )
    got = heavy_hitters(df, "value", k=2)
    # a and b tie at 2 -> value-asc tiebreak puts a first
    assert [tuple(r) for r in got.collect()] == [("a", 2), ("b", 2)]


def test_empty_input(spark):
    df = spark.createDataFrame([], "value string")
    assert heavy_hitters(df, "value", k=3).count() == 0


def test_no_residual_cache(spark):
    df = spark.createDataFrame([("x",)] * 100, "value string")
    heavy_hitters(df, "value", k=1)
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0


def test_eager_call_job_count(spark):
    # one summary aggregate (map stage + result) and one candidate-
    # filtered exact pass; no persist and no separate bound or distinct
    # collects. The input has no shuffle of its own, so every job counted
    # is the operator's.
    df = spark.range(0, 20_000, numPartitions=8).select(
        F.concat(
            F.lit("tok"),
            F.floor(F.lit(1.0) / (F.rand(7) + F.lit(1e-4))).cast("string"),
        ).alias("value")
    )
    sc = spark.sparkContext
    group = "test-heavy-hitters-jobs"
    sc.setJobGroup(group, group)
    try:
        got = heavy_hitters(df, "value", k=10, summary_size=512)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n_jobs <= 5
    assert got.count() == 10


def test_leaves_persistent_rdds_unchanged(spark):
    _, df = _zipf_frame(spark)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    heavy_hitters(df, "value", k=10, summary_size=512)
    assert jsc.getPersistentRDDs().size() == before


def test_result_plan_is_local(spark):
    _, df = _zipf_frame(spark)
    got = heavy_hitters(df, "value", k=10, summary_size=512)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def _mg_bound(values, m):
    # one Misra-Gries step over a partition small enough to arrive as a
    # single Arrow batch: the (m+1)-th largest count is subtracted
    counts = sorted(pd.Series(values).value_counts().to_numpy(), reverse=True)
    return int(counts[m]) if len(counts) > m else 0


def test_bound_is_sum_of_partition_bounds(spark):
    m = 16
    _, df = _zipf_frame(spark, parts=4)
    parts = df.rdd.glom().map(lambda rows: [r[0] for r in rows]).collect()
    assert len(parts) == 4 and all(len(p) < 10_000 for p in parts)
    _, bound = heavy_hitters(df, "value", k=4, summary_size=m, materialize=False)
    assert bound == sum(_mg_bound(p, m) for p in parts)
    assert bound > 0
