"""Exact top-k heavy hitters via mergeable Misra-Gries candidate filtering.

The 100 TB shape for "what are the k most frequent values of this
column" when the column's cardinality is itself huge (tokens, URLs,
user ids): a full ``groupBy(col).count()`` shuffles one row per
DISTINCT value — at corpus scale that is billions of groups for an
answer of k rows. The classic two-pass exact algorithm bounds the
shuffle at k-proportional size instead:

1. **Summary pass** (one scan): each partition folds its rows into a
   Misra-Gries summary of ``summary_size`` counters using the
   mergeable-summaries merge (Agarwal, Cormode, Huang, Phillips, Wei &
   Yi, "Mergeable Summaries", PODS 2012): add a batch's exact counts,
   then subtract the (m+1)-th largest counter from all and drop the
   non-positive. The subtracted total ``d_p`` is the partition's error
   bound: any value absent from partition p's summary has true count
   <= d_p there, so any value absent from EVERY summary has global
   count <= D = sum(d_p). Each partition emits its counters plus
   ``d_p`` under the NULL value (no scanned row is NULL), and ONE
   aggregate, ``groupBy(value).sum(mg)``, merges them: the NULL group
   is D and every other row is one distinct candidate. That collected
   result is exactly the candidate set (plus one row) that has to
   reach the driver anyway to be broadcast, so collecting it costs no
   more driver memory than the broadcast does (<= partitions x
   ``summary_size`` values, and in practice far fewer after the merge).
2. **Exact pass**: the candidate values, a local frame broadcast into a
   semi-join, are counted exactly with an ordinary hash aggregate —
   the shuffle now carries candidate values only.

Job shape of an eager call: the summary aggregate (its map stage and
the collect) and the exact pass (its map stage and the top-k
collect), at most 5 jobs on an input with no shuffle of its own.
Nothing is persisted, the summary is read once, and the top-k comes
back through Arrow as a local frame (a ``LocalRelation``), so later
actions on the result start no job.

The result is EXACT (not approximate) whenever the k-th candidate's
exact count strictly exceeds D — checked at runtime; on failure (the
distribution was too flat for the summary size) the operator falls
back to the full exact aggregate, so the returned top-k is always the
true top-k ordered by (count desc, value asc). That check is what
makes the operator oracle-verifiable against a plain SQL GROUP BY.

The reference has no frequent-items surface; this extends the corpus
tier (vocabulary builds, stop-word discovery, skew-key detection
before a join). No counterpart file in /root/reference.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    summary_size: int | None = None,
    count_col: str = "n",
    materialize: bool = True,
) -> "DataFrame | tuple[DataFrame, int]":
    """Exact top-``k`` most frequent values of ``df[col]`` with their
    exact counts, ordered by (count desc, value asc). NULLs (and NaNs
    for floating columns) are excluded.

    ``summary_size`` (default ``max(32 * k, 256)``) is the per-partition
    Misra-Gries counter budget m: the summary pass is exact-safe for
    any value whose global frequency exceeds n/(m+1) of the scanned
    rows; below that the runtime guarantee check triggers the exact
    fallback. Larger m = more candidates shuffled (still bounded by
    partitions x m), fewer fallbacks.

    ``materialize`` (default True) makes the EAGER action explicit at
    call sites: the exactness guarantee check must run the candidate
    aggregate anyway, so the default returns a LOCAL (already
    materialized) k-row DataFrame — re-running the two-pass plan on
    every downstream action would re-scan the corpus for a k-row
    result. ``materialize=False`` returns ``(plan, bound)``: the LAZY
    candidates-only aggregate plan (self-contained: the collected
    candidate values ride a broadcast-joined literal frame) plus the
    Misra-Gries error bound D as a plain int — a tuple, not a
    DataFrame attribute, so composing/caching the plan cannot silently
    lose the bound. The summary scan still runs eagerly (the
    candidates define the plan), but the corpus-sized exact pass
    defers to the caller's action, and NO guarantee check or exact
    fallback runs: the caller owns verifying ``kth_count > bound`` if
    exactness matters.
    """
    import numpy as np
    import pandas as pd
    import pyarrow.compute as pc

    m = summary_size if summary_size is not None else max(32 * k, 256)
    if m < k:
        raise ValueError(f"summary_size {m} must be >= k {k}")
    spark = df.sparkSession
    dtype = dict(df.dtypes)[col]
    src = df.select(F.col(col).alias("value")).where(F.col("value").isNotNull())
    if dtype in ("float", "double"):
        src = src.where(~F.isnan("value"))

    def _mg(batches):
        cnt = None  # pandas Series: value -> MG counter
        d = 0  # total decremented — the absent-value error bound
        for b in batches:
            if not len(b):
                continue
            vc = b["value"].value_counts()
            cnt = vc if cnt is None else cnt.add(vc, fill_value=0)
            if len(cnt) > m:
                arr = cnt.to_numpy()
                # (m+1)-th largest counter; subtracting it from all and
                # keeping positives retains <= m counters (the mergeable
                # MG merge), adding exactly `sub` to the error bound
                sub = np.partition(arr, len(arr) - (m + 1))[len(arr) - (m + 1)]
                if sub > 0:
                    d += int(sub)
                    cnt = cnt[cnt > sub] - sub
        frame = pd.DataFrame({"value": [], "mg": []})
        if cnt is not None and len(cnt):
            frame = pd.DataFrame(
                {"value": cnt.index.to_numpy(), "mg": cnt.to_numpy().astype("int64")}
            )
        # the partition's bound rides as the NULL value, which no
        # scanned row can carry
        bound = pd.DataFrame({"value": [None], "mg": [d]})
        yield pd.concat([frame, bound], ignore_index=True)

    # one aggregate: the NULL group sums the bounds to D, every other
    # group is one distinct candidate
    merged = (
        src.mapInPandas(_mg, f"value {dtype}, mg long")
        .groupBy("value")
        .agg(F.sum("mg").alias("mg"))
        .toArrow()
    )
    is_bound = pc.is_null(merged["value"])
    # D: max possible global count of any value outside the candidate
    # set (sum of per-partition decrement totals)
    D = pc.sum(merged.filter(is_bound)["mg"]).as_py() or 0
    cand = local_frame(
        spark, merged.filter(pc.invert(is_bound)).select(["value"]), f"value {dtype}"
    )
    counts = (
        src.join(F.broadcast(cand), "value", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias(count_col))
    )
    top = counts.orderBy(F.col(count_col).desc(), F.col("value").asc()).limit(k)
    if not materialize:
        # self-contained lazy plan: the candidates are a local frame, so
        # a re-run does not re-scan the corpus for the summary
        return top, int(D)
    schema = f"value {dtype}, {count_col} long"
    rows = top.toArrow()
    # Exact iff nothing outside the candidate set can reach rank k:
    # D == 0 means no counter was ever decremented (the summaries
    # hold EVERY scanned value), else the k-th candidate must
    # strictly beat the best possible non-candidate (ties would be
    # ambiguous under the value-asc tiebreak).
    kth = rows[count_col][-1].as_py() if rows.num_rows else 0
    if D == 0 or (rows.num_rows == k and kth > D):
        return local_frame(spark, rows, schema)
    warnings.warn(
        f"heavy_hitters: guarantee check failed (k-th count "
        f"{kth} <= bound {D}); "
        f"falling back to the full exact aggregate — raise "
        f"summary_size (m={m}) to keep the bounded-shuffle path",
        stacklevel=2,
    )
    exact = (
        src.groupBy("value")
        .agg(F.count(F.lit(1)).alias(count_col))
        .orderBy(F.col(count_col).desc(), F.col("value").asc())
        .limit(k)
        .toArrow()
    )
    return local_frame(spark, exact, schema)
