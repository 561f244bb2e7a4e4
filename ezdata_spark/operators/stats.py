"""Per-column statistics table (simpletable.py:2877-2929, fn library
3227-3271: nan-mean/max/min/std, var, p16/p50/p84, has_nan).

One Spark job computes every (column x statistic) cell as a single wide
aggregate row — a single scan + partial/final agg, no per-column jobs —
then unpivots driver-side into the reference's (column, stat...) layout.
NaN handling: the reference's nan* functions skip NaNs; Spark aggregates
skip nulls, so NaN values are first nulled via nanvl-style guard.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

DEFAULT_FNS = ("mean", "std", "min", "max", "p16", "p50", "p84", "has_nan")


def _nan_to_null(c):
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def _stat_col(name: str, fn: str):
    c = F.col(name)
    cc = _nan_to_null(c.cast("double"))
    if fn == "mean":
        return F.avg(cc)
    if fn == "std":
        return F.stddev_samp(cc)
    if fn == "var":
        return F.var_samp(cc)
    if fn == "min":
        return F.min(cc)
    if fn == "max":
        return F.max(cc)
    if fn == "sum":
        return F.sum(cc)
    if fn == "count":
        return F.count(cc)
    if fn.startswith("p") and fn[1:].isdigit():
        q = int(fn[1:]) / 100.0
        return F.percentile(cc, F.lit(q))
    if fn == "has_nan":
        return F.max(F.isnan(c.cast("double")) | c.isNull())
    raise ValueError(f"unknown stat {fn!r}")


def _wide_aggs(columns: Sequence[str], fns: Sequence[str]):
    """(aggregate list, post-projection list) for one wide stats row.

    Percentile fns are FUSED into one array ``percentile`` aggregate
    per column (r14): N scalar ``percentile`` calls each buffer and
    sort every value of the column independently — the array form
    computes every requested point from ONE buffer and ONE sort, with
    identical interpolation (value-identical results). The
    post-projection re-emits the exact ``col__fn`` schema in the same
    order, so callers see no change."""
    pfns = [fn for fn in fns if fn.startswith("p") and fn[1:].isdigit()]
    aggs, post = [], []
    for name in columns:
        fused = len(pfns) >= 2
        if fused:
            cc = _nan_to_null(F.col(name).cast("double"))
            aggs.append(
                F.percentile(
                    cc, F.array(*[F.lit(int(fn[1:]) / 100.0) for fn in pfns])
                ).alias(f"__ps__{name}")
            )
        for fn in fns:
            if fused and fn in pfns:
                continue
            aggs.append(_stat_col(name, fn).alias(f"{name}__{fn}"))
        for fn in fns:
            if fused and fn in pfns:
                src = F.col(f"__ps__{name}")[pfns.index(fn)]
            else:
                src = F.col(f"{name}__{fn}")
            post.append(src.alias(f"{name}__{fn}"))
    return aggs, post


def column_stats(df: DataFrame, columns: Sequence[str], fns: Sequence[str] | None = None) -> DataFrame:
    fns = tuple(fns or DEFAULT_FNS)
    aggs, post = _wide_aggs(columns, fns)
    wide = df.agg(*aggs).select(*post)  # single job, one row

    # unpivot to (column, <fn>...) — tiny, driver-safe
    spark = df.sparkSession
    row = wide.collect()[0]
    out_rows = []
    for name in columns:
        rec = {"column": name}
        for fn in fns:
            v = row[f"{name}__{fn}"]
            rec[fn] = float(v) if fn != "has_nan" and v is not None else v
        out_rows.append(rec)
    schema = "column string, " + ", ".join(
        f"{fn} boolean" if fn == "has_nan" else f"{fn} double" for fn in fns
    )
    return local_frame(spark, out_rows, schema)


def stats_wide(df: DataFrame, columns: Sequence[str], fns: Sequence[str] | None = None) -> DataFrame:
    """Fully-distributed variant: one row, columns named col__fn (no
    collect). Used by oracle-checked queries. Percentile fns share one
    array aggregate per column (see :func:`_wide_aggs`)."""
    fns = tuple(fns or DEFAULT_FNS)
    aggs, post = _wide_aggs(columns, fns)
    return df.agg(*aggs).select(*post)


def percentiles_exact_distributed(
    df: DataFrame, column: str, ps: Sequence[float], out: str = "_ps"
) -> DataFrame:
    """One-row frame holding the exact interpolated percentiles of
    ``column`` (array column ``out``, same order as ``ps``), computed
    via DISTRIBUTED order statistics instead of Spark's ``percentile``
    aggregate (r15, guide §2.4/§5).

    ``percentile`` buffers every value of the column into ONE final
    aggregation task (a value->count map per partial task, merged and
    sorted in a single reducer) — the classic scale-killer: at sf0.1 it
    is the most expensive member of the relational core tier, and at
    real scale the final task buffers the whole column. Here the column
    is range-repartitioned and sorted ONCE in parallel (the same
    zipWithIndex shape as window.global_row_id), the per-partition
    counts come back in one bounded collect, and only the <= 2*len(ps)
    rows sitting at the target global ranks are fetched; interpolation
    replicates ``Percentile.getPercentile`` exactly — position =
    p*(N-1), value = (ceil(pos)-pos)*v[floor(pos)] +
    (pos-floor(pos))*v[ceil(pos)] in the same IEEE double operation
    order — so results are bit-identical to the aggregate's (nulls
    skipped, NaN sorts largest, ties irrelevant to the k-th order
    statistic). Empty/all-null input yields a null array, matching the
    aggregate's null.

    The two bounded jobs run at CONSTRUCTION time (the established
    offsets-collect contract of global_row_id / global_cumsum); the
    returned frame is one literal row."""
    import math

    from ..cache import track

    spark = df.sparkSession
    vals = df.select(F.col(column).cast("double").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    srt = track(
        vals.repartitionByRange(F.col("__v"))
        .sortWithinPartitions("__v")
        .withColumn("__mono", F.monotonically_increasing_id())
    )
    pid = F.expr("shiftright(__mono, 33)")
    counts = sorted(
        (r[0], r[1])
        for r in srt.groupBy(pid.alias("pid")).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n_total = sum(n for _, n in counts)
    if n_total == 0:
        return spark.range(1).select(
            F.lit(None).cast("array<double>").alias(out)
        )
    # global rank -> (partition, local index) via cumulative offsets
    targets = set()
    for p in ps:
        pos = p * (n_total - 1)
        targets.add(int(math.floor(pos)))
        targets.add(int(math.ceil(pos)))
    want = {}  # (pid, local) -> rank
    for rank in sorted(targets):
        acc = 0
        for part, n_rows in counts:
            if rank < acc + n_rows:
                want[(part, rank - acc)] = rank
                break
            acc += n_rows
    local = F.expr(f"__mono & {(1 << 33) - 1}")
    cond = F.lit(False)
    for (part, loc), _ in want.items():
        cond = cond | ((pid == F.lit(part)) & (local == F.lit(loc)))
    got = srt.where(cond).select(pid.alias("p"), local.alias("l"), "__v").collect()
    by_rank = {want[(r["p"], r["l"])]: r["__v"] for r in got}
    res = []
    for p in ps:
        pos = p * (n_total - 1)
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        if lo == hi:
            res.append(by_rank[lo])
        else:
            res.append((hi - pos) * by_rank[lo] + (pos - lo) * by_rank[hi])
    return spark.range(1).select(
        F.array(*[F.lit(float(v)).cast("double") for v in res]).alias(out)
    )


def approx_stats(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Sequence[str] | None = None,
    rsd: float = 0.05,
    quantiles: Sequence[float] = (0.5,),
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based statistics for 100 TB profiling: HyperLogLog++
    distinct counts (``approx_count_distinct``, relative error ``rsd``)
    and KLL-style approximate quantiles (``percentile_approx``,
    1/``accuracy`` rank error) per column, optionally per group.

    The exact versions (``count(distinct)``, ``percentile``) shuffle
    every distinct value / sort every row; the sketches are fixed-size
    mergeable state per partition — the only viable shape for interactive
    profiling at corpus scale. Approximation error is pinned by
    tests/test_operators.py::test_approx_stats_close_to_exact.
    """
    def _qname(q: float) -> str:
        # percent naming (p50, p90, p100) with a dot-free fractional tail
        # (p50_1 for 0.501, p0_1 for 0.001) so distinct quantiles never
        # collide into one column name
        pct = q * 100
        name = f"p{pct:.10g}".replace(".", "_").replace("-", "m")
        return name

    qnames = [_qname(q) for q in quantiles]
    if len(set(qnames)) != len(qnames):
        raise ValueError(f"approx_stats: duplicate quantile names {qnames}")
    # ONE KLL sketch per column (percentile_approx takes the quantile
    # array), not one per (column, quantile) — the sketch build is the
    # dominant cost and is identical for every requested quantile
    aggs = []
    post = []
    for c in columns:
        aggs.append(F.approx_count_distinct(c, rsd=rsd).alias(f"{c}_approx_distinct"))
        aggs.append(
            F.percentile_approx(
                c, F.array(*[F.lit(float(q)) for q in quantiles]), accuracy
            ).alias(f"__q_{c}")
        )
        post.append((c, [f"{c}_{qn}" for qn in qnames]))
    g = df.groupBy(*[F.col(c) for c in (group_by or [])])
    out = g.agg(*aggs)
    for c, names in post:
        for i, alias in enumerate(names):
            out = out.withColumn(alias, F.col(f"__q_{c}")[i])
        out = out.drop(f"__q_{c}")
    return out
