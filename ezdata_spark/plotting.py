"""Plotting surface: aggregate on-cluster, render on-driver.

Reference: ``Plotter``/``Group``/``PairGrid``/``CornerPlot``
(plotter.py:130-1711), datashader raster path (datashader.py:105-386).
The reference pulls whole columns into matplotlib; at 100 TB that is
impossible, so every plot verb here reduces to a Spark aggregation
(histogram / 2-D raster / per-group quantiles) and only the aggregate
(KBs) reaches the driver. This is exactly the datashader
``DSArtist.make_image`` design (datashader.py:183-219) generalized to
every plot type.

matplotlib is optional: every verb returns a small *Result object*
(numpy arrays + metadata) with a ``.render(ax=None)`` method that is
import-gated; pipelines and tests consume the arrays directly.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .operators.binned import BinSpec, binned_agg, guess_range
from .session import local_frame
from .table import EzTable


def _have_mpl() -> bool:
    try:
        import matplotlib  # noqa: F401

        return True
    except ImportError:
        return False


def _require_ax(ax):
    if not _have_mpl():
        raise NotImplementedError(
            "matplotlib is not installed in this environment; use the "
            "Result object's data attributes (counts/edges/...) directly"
        )
    if ax is None:
        import matplotlib.pyplot as plt

        _, ax = plt.subplots()
    return ax


@dataclass
class HistResult:
    edges: np.ndarray
    counts: np.ndarray
    label: str = ""

    @property
    def centers(self) -> np.ndarray:
        return 0.5 * (self.edges[:-1] + self.edges[1:])

    def render(self, ax=None, **kw):
        ax = _require_ax(ax)
        ax.step(self.edges[:-1], self.counts, where="post", label=self.label, **kw)
        return ax


@dataclass
class Hist2DResult:
    x_edges: np.ndarray
    y_edges: np.ndarray
    counts: np.ndarray  # shape (nx, ny)
    xlabel: str = ""
    ylabel: str = ""

    def render(self, ax=None, norm=None, **kw):
        ax = _require_ax(ax)
        img = self.counts.T if norm is None else norm(self.counts.T)
        ax.imshow(
            img,
            origin="lower",
            extent=(self.x_edges[0], self.x_edges[-1], self.y_edges[0], self.y_edges[-1]),
            aspect="auto",
            **kw,
        )
        return ax


@dataclass
class BoxStats:
    keys: list
    q1: np.ndarray
    median: np.ndarray
    q3: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    mean: np.ndarray

    def render(self, ax=None, **kw):
        ax = _require_ax(ax)
        stats = [
            {
                "label": str(k),
                "q1": self.q1[i],
                "med": self.median[i],
                "q3": self.q3[i],
                "whislo": self.lo[i],
                "whishi": self.hi[i],
                "mean": self.mean[i],
                "fliers": [],
            }
            for i, k in enumerate(self.keys)
        ]
        ax.bxp(stats, **kw)
        return ax


def line_raster(
    df: DataFrame,
    x: str,
    y: str,
    nx: int,
    ny: int,
    xr: tuple[float, float],
    yr: tuple[float, float],
    order_col: str,
    series_col: str | None = None,
    out_x: str = "xb",
    out_y: str = "yb",
    count_col: str = "v",
) -> DataFrame:
    """On-cluster polyline rasterization — the aggregation behind
    :meth:`Plotter.line` (reference: DSPlotter.line segment rendering,
    /root/reference/ezdata/datashader.py:377-380). Returns the LAZY
    (xb, yb, v) pixel-count frame; nothing is collected here.

    Semantics (the documented, driver-replicable contract):

    - points are connected in ``order_col`` order within each
      ``series_col`` group (one polyline per series; no segment joins
      two series);
    - endpoints map to integer pixels by floor binning CLAMPED to the
      grid (out-of-range endpoints draw from the border pixel — crude
      clipping, same as rendering into an edge-saturating viewport);
    - each segment is walked by DDA: n = max(|dx_px|, |dy_px|) steps,
      pixel_i = start + ROUND(i * delta / n) (SQL ROUND, half-away),
      contributing pixels i = 1..n — the start vertex belongs to the
      PREVIOUS segment, so shared vertices count once;
    - each series' first drawable point (and the first after a
      null/NaN break) contributes its own vertex pixel;
    - a null/NaN coordinate BREAKS the polyline (datashader's NaN-gap
      rule): the row draws nothing and its neighbours do not connect
      across it.

    Scale shape: one shuffle for the lag window (keyed by series — a
    single global polyline serializes its window by construction;
    rasterize per-series data, which is what line plots mean at scale),
    one explode whose fan-out per segment is bounded by nx + ny (pixel
    deltas are clamped before the walk), one pixel groupBy with
    map-side combine. Vector payloads never exist; every shuffled row
    is a handful of longs."""
    from pyspark.sql import Window

    xlo, xhi = xr
    ylo, yhi = yr
    wx = (xhi - xlo) / nx or 1.0
    wy = (yhi - ylo) / ny or 1.0
    xd = F.col(x).cast("double")
    yd = F.col(y).cast("double")
    fin = (
        xd.isNotNull() & ~F.isnan(xd) & yd.isNotNull() & ~F.isnan(yd)
    )
    xp = F.least(
        F.greatest(F.floor((xd - F.lit(xlo)) / F.lit(wx)), F.lit(0)), F.lit(nx - 1)
    ).cast("long")
    yp = F.least(
        F.greatest(F.floor((yd - F.lit(ylo)) / F.lit(wy)), F.lit(0)), F.lit(ny - 1)
    ).cast("long")
    sel = (
        [F.col(series_col).alias("__s")] if series_col else [F.lit(1).alias("__s")]
    )
    p = df.select(
        *sel,
        F.col(order_col).alias("__ord"),
        F.when(fin, xp).alias("xp"),
        F.when(fin, yp).alias("yp"),
    )
    w = Window.partitionBy("__s").orderBy("__ord")
    g = p.select(
        "xp",
        "yp",
        F.lag("xp").over(w).alias("x0"),
        F.lag("yp").over(w).alias("y0"),
    ).where(F.col("xp").isNotNull())
    # series head / post-break vertex: draws its own pixel
    verts = g.where(F.col("x0").isNull() | F.col("y0").isNull()).select(
        F.col("xp").alias(out_x), F.col("yp").alias(out_y)
    )
    segs = g.where(F.col("x0").isNotNull() & F.col("y0").isNotNull()).withColumn(
        "n",
        F.greatest(F.abs(F.col("xp") - F.col("x0")), F.abs(F.col("yp") - F.col("y0"))),
    )
    # DDA walk, i = 1..n (n = 0 -> same pixel as the previous end:
    # nothing new to draw). The major axis steps by exactly 1 per i, so
    # a segment never emits duplicate pixels.
    pix = (
        segs.where(F.col("n") >= 1)
        .select(
            "x0", "y0", "xp", "yp", "n",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"),
        )
        .select(
            (
                F.col("x0")
                + F.round(F.col("i") * (F.col("xp") - F.col("x0")) / F.col("n"), 0)
                .cast("long")
            ).alias(out_x),
            (
                F.col("y0")
                + F.round(F.col("i") * (F.col("yp") - F.col("y0")) / F.col("n"), 0)
                .cast("long")
            ).alias(out_y),
        )
    )
    return (
        verts.unionByName(pix)
        .groupBy(out_x, out_y)
        .agg(F.count(F.lit(1)).alias(count_col))
    )


class Plotter:
    """plot verbs over an EzTable/DataFrame; expression strings go
    through the engine's translator (plotter.py:1730-1779 analog)."""

    def __init__(self, data: EzTable | DataFrame, label: str = ""):
        self.t = data if isinstance(data, EzTable) else EzTable(data)
        self.label = label

    # -- helpers --------------------------------------------------------
    def _col(self, expr: str) -> Column:
        return self.t.expr_column(expr) if expr not in self.t.df.columns else F.col(expr)

    def _frame_with(self, exprs: dict[str, str]) -> DataFrame:
        df = self.t.df
        for name, e in exprs.items():
            df = df.withColumn(name, self._col(e))
        return df

    # -- 1-D ------------------------------------------------------------
    def hist(self, expr: str, bins: int | None = 50, range: tuple | None = None, weights: str | None = None) -> HistResult:
        """Histogram (Plotter.hist, plotter.py:967-990): groupBy bin id
        on-cluster; only `bins` numbers reach the driver. ``bins=None``
        infers min-spacing edges from the data (guess_bins,
        xarray.py:23-31) — every distinct value gets its own bin."""
        df = self._frame_with({"__x": expr})
        if bins is None:
            from .operators.binned import guess_bins

            edges = guess_bins(df, "__x")
            bins = len(edges) - 1
            range = (float(edges[0]), float(edges[-1]))
        if range is None:
            r = guess_range(df, ["__x"])["__x"]
        else:
            r = range
        lo, hi = float(r[0]), float(r[1])
        spec = BinSpec("__x", lo, hi, bins)
        aggs = {"count": F.count(F.lit(1))} if weights is None else {"count": F.sum(self._col(weights))}
        rows = binned_agg(df, [spec], aggs, with_centers=False).collect()
        counts = np.zeros(bins)
        for row in rows:
            counts[int(row["__x__bin"])] = row["count"]
        edges = np.linspace(lo, hi, bins + 1)
        return HistResult(edges, counts, self.label or expr)

    def hist_many(
        self, exprs: list[str], bins: int = 50, ranges: dict | None = None
    ) -> dict[str, HistResult]:
        """Histograms of MANY columns in ONE scan: stack the columns into
        (name, value) rows (k-way amplification of a narrow projection),
        bin with per-column ranges riding a broadcast join, aggregate by
        (name, bin). At scale this reads the table once instead of once
        per column — the k-panel diagonal of a PairGrid is one job.
        Ranges default to one shared min/max scan (guess_range)."""
        df = self.t.df
        named = {f"__c{i}": e for i, e in enumerate(exprs)}
        for n, e in named.items():
            df = df.withColumn(n, self._col(e))
        if ranges is None:
            r = guess_range(df, list(named))  # ONE batched min/max job
            ranges = {e: r[n] for n, e in named.items()}
        stacked = df.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(e).alias("name"), F.col(n).cast("double").alias("v"))
                    for n, e in named.items()
                ])
            ).alias("s")
        ).select("s.name", "s.v")
        spark = df.sparkSession
        from pyspark.sql.types import DoubleType, StringType, StructField, StructType

        rdf = local_frame(
            spark,
            [
                (e, float(lo), float(hi), ((hi - lo) if hi > lo else 1.0) / bins)
                for e, (lo, hi) in ranges.items()
            ],
            StructType([
                StructField("name", StringType()),
                StructField("__lo", DoubleType()),
                StructField("__hi", DoubleType()),
                StructField("__w", DoubleType()),
            ]),
        )
        v = F.col("v")
        joined = stacked.join(F.broadcast(rdf), "name").filter(
            (v >= F.col("__lo")) & (v <= F.col("__hi")) & ~F.isnan(v)
        )
        bin_id = F.least(F.floor((v - F.col("__lo")) / F.col("__w")), F.lit(bins - 1)).cast("long")
        rows = (
            joined.groupBy("name", bin_id.alias("__bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        counts = {e: np.zeros(bins) for e in exprs}
        for r in rows:
            counts[r["name"]][int(r["__bin"])] = r["n"]
        return {
            e: HistResult(np.linspace(ranges[e][0], ranges[e][1], bins + 1), counts[e], e)
            for e in exprs
        }

    # -- 2-D rasters -----------------------------------------------------
    def hist2d(
        self,
        xexpr: str,
        yexpr: str,
        bins: int | tuple[int, int] = 64,
        range: tuple | None = None,
        reduction: Column | None = None,
    ) -> Hist2DResult:
        """2-D histogram / raster aggregation (hist2d plotter.py:967;
        datashader canvas aggregation datashader.py:183-219). The
        ``reduction`` column generalizes to the datashader set (count,
        sum, mean, var, first, last...)."""
        nx, ny = (bins, bins) if isinstance(bins, int) else bins
        df = self._frame_with({"__x": xexpr, "__y": yexpr})
        if range is None:
            r = guess_range(df, ["__x", "__y"])
            xr, yr = r["__x"], r["__y"]
        else:
            xr, yr = range
        specs = [
            BinSpec("__x", float(xr[0]), float(xr[1]), nx),
            BinSpec("__y", float(yr[0]), float(yr[1]), ny),
        ]
        aggs = {"v": reduction if reduction is not None else F.count(F.lit(1))}
        rows = binned_agg(df, specs, aggs, densify=False, with_centers=False).collect()
        grid = np.zeros((nx, ny))
        for row in rows:
            grid[int(row["__x__bin"]), int(row["__y__bin"])] = row["v"] or 0
        return Hist2DResult(
            np.linspace(xr[0], xr[1], nx + 1), np.linspace(yr[0], yr[1], ny + 1), grid, xexpr, yexpr
        )

    def scatter(self, xexpr: str, yexpr: str, bins: int = 256, **kw) -> Hist2DResult:
        """Scatter at scale == raster (SURVEY.md §2.12: never collect)."""
        return self.hist2d(xexpr, yexpr, bins=bins, **kw)

    def line(
        self,
        xexpr: str,
        yexpr: str,
        bins: int | tuple[int, int] = 256,
        range: tuple | None = None,
        order_by: str | None = None,
        series_by: str | None = None,
    ) -> Hist2DResult:
        """Datashader-style LINE raster (DSPlotter.line,
        /root/reference/ezdata/datashader.py:377-380): rasterize the
        CONNECTED SEGMENTS between consecutive points, not the points
        themselves — on sparse series a point raster leaves gaps where
        the reference draws a line. Aggregation is fully on-cluster
        (:func:`line_raster`); only the (nx, ny) pixel grid reaches the
        driver, same contract as :meth:`hist2d`.

        ``order_by`` defines "consecutive" (the reference uses frame
        row order, which a distributed frame does not have) — defaults
        to the x expression, the time-series reading. ``series_by``
        draws one polyline per key (no segment connects different
        series)."""
        nx, ny = (bins, bins) if isinstance(bins, int) else bins
        cols = {"__x": xexpr, "__y": yexpr}
        if order_by is not None and order_by not in (xexpr, yexpr):
            cols["__o"] = order_by
        df = self._frame_with(cols)
        order_col = "__o" if "__o" in cols else ("__x" if order_by in (None, xexpr) else "__y")
        if range is None:
            r = guess_range(df, ["__x", "__y"])
            xr, yr = r["__x"], r["__y"]
        else:
            xr, yr = range
        counts = line_raster(
            df, "__x", "__y", nx, ny,
            (float(xr[0]), float(xr[1])), (float(yr[0]), float(yr[1])),
            order_col=order_col, series_col=series_by,
        )
        grid = np.zeros((nx, ny))
        for row in counts.collect():
            grid[int(row["xb"]), int(row["yb"])] = row["v"]
        return Hist2DResult(
            np.linspace(xr[0], xr[1], nx + 1),
            np.linspace(yr[0], yr[1], ny + 1),
            grid, xexpr, yexpr,
        )

    def persist(self) -> "Plotter":
        """Cache the source frame for an interactive viewport loop —
        the reference's DSArtist holds the frame in RAM between zooms
        (datashader.py:183-219); on Spark that's an explicit persist.
        Pair with ``unpersist()`` when the exploration ends."""
        self.t.df.persist()
        return self

    def unpersist(self) -> "Plotter":
        self.t.df.unpersist()
        return self

    def viewport(
        self,
        xexpr: str,
        yexpr: str,
        x_range: tuple[float, float],
        y_range: tuple[float, float],
        bins: int | tuple[int, int] = 64,
        reduction: Column | None = None,
    ) -> Hist2DResult:
        """Re-rasterize one zoom window at full bin resolution — the
        interactive viewport re-aggregation loop of the reference's
        ``DSArtist.make_image`` (datashader.py:183-219). Each call is
        ONE filtered groupBy: the [x_range] x [y_range] predicate
        pushes down to the scan (plan-asserted in tests) or, after
        ``.persist()``, prunes the cached frame — never a driver-side
        crop of collected points."""
        return self.hist2d(
            xexpr,
            yexpr,
            bins=bins,
            range=(tuple(x_range), tuple(y_range)),
            reduction=reduction,
        )

    def hexbin(self, xexpr: str, yexpr: str, gridsize: int = 40) -> DataFrame:
        """Hexagonal binning: axial hex coordinates computed as column
        arithmetic; groupBy (q, r) on-cluster (hexbin plotter.py:809-)."""
        df = self._frame_with({"__x": xexpr, "__y": yexpr})
        r = guess_range(df, ["__x", "__y"])
        (xlo, xhi), (ylo, yhi) = r["__x"], r["__y"]
        sx = (xhi - xlo) / max(gridsize, 1) or 1.0
        sy = (yhi - ylo) / max(gridsize, 1) or 1.0
        # axial coords on a pointy-top lattice, then CUBE ROUNDING — the
        # correct nearest-hex assignment (independent rounding of q and
        # r produces a sheared parallelogram tiling, not hexagons): round
        # all three cube coords, then fix the one with the largest error
        # so q + y + r == 0 holds.
        xn = (F.col("__x") - F.lit(xlo)) / F.lit(sx)
        yn = (F.col("__y") - F.lit(ylo)) / F.lit(sy)
        qf = xn - yn / F.lit(2.0)
        rf = yn
        yf = -qf - rf
        rq = F.round(qf)
        rr = F.round(rf)
        ry = F.round(yf)
        dq = F.abs(rq - qf)
        dr = F.abs(rr - rf)
        dy = F.abs(ry - yf)
        fix_q = (dq > dr) & (dq > dy)
        fix_r = (~fix_q) & (dr > dy)
        q_id = F.when(fix_q, -ry - rr).otherwise(rq).cast("long")
        r_id = F.when(fix_r, -rq - ry).otherwise(rr).cast("long")
        hexed = (
            df.withColumn("__q", q_id)
            .withColumn("__r", r_id)
            .groupBy("__q", "__r")
            .agg(F.count(F.lit(1)).alias("count"))
            .withColumn("x", F.lit(xlo) + (F.col("__q") + F.col("__r") / 2.0) * F.lit(sx))
            .withColumn("y", F.lit(ylo) + F.col("__r") * F.lit(sy))
            .select("x", "y", "count")
        )
        return hexed

    def lagplot(self, expr: str, t: int = 1, order_by: str | None = None, bins: int = 128) -> Hist2DResult:
        """lagplot (plotter.py:1059-1090): x[i] vs x[i+t] — window lag
        then raster; needs an explicit order column on an unordered
        engine (row_id discipline)."""
        from .operators.window import lag_column

        order = order_by or "row_id"
        df = self._frame_with({"__x": expr})
        if order not in df.columns:
            raise ValueError("lagplot needs an order column (pass order_by=)")
        lagged = lag_column(df.select("__x", order), "__x", order, t, name="__xlag").dropna()
        return Plotter(EzTable(lagged)).hist2d("__x", "__xlag", bins=bins)

    # -- distribution-per-group -----------------------------------------
    def boxplot(self, key: str, value: str, whisker: float = 1.5) -> BoxStats:
        """boxplot/violin data: per-group exact quartiles on-cluster
        (plotter.py violin/box 809-966); whiskers at q +- 1.5 IQR."""
        df = self._frame_with({"__v": value})
        # one array percentile per group (r14): three scalar percentile
        # aggregates each buffer and sort the group's values
        # independently; the array form shares one buffer and one sort
        # (value-identical interpolation)
        qs = F.percentile("__v", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
        agg = (
            df.groupBy(key)
            .agg(qs.alias("_qs"), F.avg("__v").alias("mean"))
            .select(
                key,
                F.col("_qs")[0].alias("q1"),
                F.col("_qs")[1].alias("med"),
                F.col("_qs")[2].alias("q3"),
                "mean",
            )
            .orderBy(key)
            .collect()
        )
        keys = [r[key] for r in agg]
        q1 = np.array([r.q1 for r in agg])
        q3 = np.array([r.q3 for r in agg])
        med = np.array([r.med for r in agg])
        iqr = q3 - q1
        return BoxStats(keys, q1, med, q3, q1 - whisker * iqr, q3 + whisker * iqr,
                        np.array([r.mean for r in agg]))

    violinplot = boxplot  # same cluster-side statistics feed both renders

    # -- sky plots -------------------------------------------------------
    def plot_aitoff(self, lon: str, lat: str, bins: int = 180) -> Hist2DResult:
        """plot_aitoff (plotter.py:1024-1057): project then raster."""
        from .functions.astro import project_aitoff

        x, y = project_aitoff(self._col(lon), self._col(lat))
        df = self.t.df.withColumn("__x", x).withColumn("__y", y)
        return Plotter(EzTable(df)).hist2d("__x", "__y", bins=(bins, bins // 2),
                                           range=((-1.0, 1.0), (-0.5, 0.5)))

    def healpix_plot(self, ra: str = "ra", dec: str = "dec", order: int = 4,
                     what: str = "count(*)") -> DataFrame:
        """healpix_plot (astro.py:340-402): value-per-healpix-cell grid;
        the `what` string goes through the agg-spec parser."""
        from .functions.astro import add_column_healpix
        from .operators.groupby import parse_agg

        df = add_column_healpix(self.t.df, order=order, ra=ra, dec=dec)
        return df.groupBy("healpix").agg(parse_agg(EzTable(df), what).alias("value"))

    # -- grouping --------------------------------------------------------
    def groupby(self, key: str, max_groups: int = 10_000) -> "Group":
        """One Plotter per group (plotter.py:992-1023). Group keys are
        discovered with a distinct scan; each member is a filter view
        (lazy — no materialization until a verb aggregates it). Verbs the
        Group can fuse (hist) run ONE groupBy(key, bin) job over the base
        frame instead of one job per group — see Group.hist.

        ``max_groups`` bounds the driver-side key collect: grouping a
        plot by a high-cardinality column (ids, timestamps) fails fast
        with guidance instead of OOMing the driver — the probe fetches
        at most ``max_groups + 1`` keys regardless of cardinality."""
        from .operators.util import capped_distinct

        vals = capped_distinct(
            self.t.df, key, max_groups, "Plotter.groupby",
            "one sub-plot per group cannot be meaningful at that "
            "cardinality (bin or bucket the column first).",
        )
        # Spark's orderBy is asc-nulls-first; replicate it driver-side
        # (Python can't sort None against values)
        keys = sorted(v for v in vals if v is not None)
        if any(v is None for v in vals):
            keys.insert(0, None)
        members = [
            # eqNullSafe, not ==: a null group key must select its own
            # rows (== is null-comparison and matches nothing, silently
            # emptying the None member while the fused Group.hist path's
            # groupBy DOES aggregate the null group — the two documented-
            # identical paths would diverge)
            Plotter(EzTable(self.t.df.filter(F.col(key).eqNullSafe(F.lit(k)))), label=f"{key}={k}")
            for k in keys
        ]
        return Group(members, keys, base=self.t, key=key)

    def select(self, selections: list[str], labels: list[str] | None = None) -> "Group":
        """Selection-string groups (Plotter.select, plotter.py:650-699)."""
        labels = labels or selections
        members = [Plotter(self.t.where(s), label=lab) for s, lab in zip(selections, labels)]
        return Group(members, labels)

    def all_against(self, key: str, others: list[str] | None = None, bins: int = 64) -> dict[str, Hist2DResult]:
        """One raster of ``key`` against every other numeric column
        (Plotter.all_against, plotter.py:992-1057) — all cluster-side.

        All column ranges come from ONE min/max scan shared across
        panels (not one full scan per panel)."""
        numeric = {"double", "float", "int", "bigint", "smallint", "tinyint"}
        cols = others or [
            n for n, t in self.t.df.dtypes if t in numeric and n != key
        ]
        ranges = guess_range(self.t.df, [key] + cols)
        return {
            c: self.hist2d(key, c, bins=bins, range=(ranges[key], ranges[c])) for c in cols
        }

    def profile(self, xexpr: str, yexpr: str, bins: int = 50, range: tuple | None = None) -> DataFrame:
        """Binned mean/std profile of y vs x — the scalable data feed for
        line plots (``plot``/``step``): never collects raw rows."""
        df = self._frame_with({"__x": xexpr, "__y": yexpr})
        if range is None:
            r = guess_range(df, ["__x"])["__x"]
        else:
            r = range
        spec = BinSpec("__x", float(r[0]), float(r[1]), bins)
        return binned_agg(
            df,
            [spec],
            {
                "mean_y": F.avg("__y"),
                "std_y": F.stddev("__y"),
                "n": F.count(F.lit(1)),
            },
            densify=True,
            with_centers=True,
        )

    def apply(self, fn, *args, **kw):
        """Arbitrary function over the frame (plotter.py:757-778)."""
        return fn(self.t, *args, **kw)


class Group:
    """A set of Plotters; verbs loop and return lists (plotter.py
    Group/looper_method 390-470).

    When built by ``Plotter.groupby`` the base frame and key column are
    kept, so fusible verbs aggregate ALL groups in one job (a k-group
    verb otherwise scans the data k times). Selection-built groups
    (arbitrary predicates) fall back to the member loop."""

    def __init__(self, members: list[Plotter], keys: list, base: EzTable | None = None, key: str | None = None):
        self.members = members
        self.keys = keys
        self._base = base
        self._key = key

    def hist(self, expr: str, bins: int = 50, range: tuple | None = None, weights: str | None = None) -> list[HistResult]:
        """Per-group histograms in ONE groupBy(key, bin) pass (plus one
        batched per-group min/max job when range is None), split
        driver-side — replacing k independent member jobs. Results are
        identical to the member loop (asserted in tests): per-group
        ranges replicate guess_range, bin math replicates BinSpec."""
        if self._base is None:
            return [p.hist(expr, bins=bins, range=range, weights=weights) for p in self.members]
        base = Plotter(self._base)
        df = base._frame_with({"__x": expr})
        key = self._key
        if range is not None:
            ranges = {k: (float(range[0]), float(range[1])) for k in self.keys}
        else:
            got = {
                r[0]: (r[1], r[2])
                for r in df.groupBy(key).agg(F.min("__x"), F.max("__x")).collect()
            }
            ranges = {}
            for k in self.keys:
                lo, hi = got.get(k, (None, None))
                if lo is None or hi is None:
                    raise ValueError(
                        f"group {key}={k!r} has no non-null values to infer a range from; "
                        "pass an explicit range="
                    )
                ranges[k] = (float(lo), float(hi))
        # per-group bin grid rides a broadcast join (type-generic in the
        # key); width clamps like BinSpec.width for constant columns
        spark = df.sparkSession
        kfield = df.schema[key]
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType([
            kfield,
            StructField("__lo", DoubleType()),
            StructField("__hi", DoubleType()),
            StructField("__w", DoubleType()),
        ])
        rdf = local_frame(
            spark,
            [
                (k, lo, hi, ((hi - lo) if hi > lo else 1.0) / bins)
                for k, (lo, hi) in ranges.items()
            ],
            schema,
        )
        x = F.col("__x")
        joined = df.join(F.broadcast(rdf), on=key).filter(
            (x >= F.col("__lo")) & (x <= F.col("__hi")) & ~F.isnan(x.cast("double"))
        )
        bin_id = F.least(F.floor((x - F.col("__lo")) / F.col("__w")), F.lit(bins - 1)).cast("long")
        agg = F.count(F.lit(1)) if weights is None else F.sum(base._col(weights))
        rows = joined.groupBy(F.col(key).alias("__k"), bin_id.alias("__bin")).agg(
            agg.alias("count")
        ).collect()
        per_key: dict = {k: np.zeros(bins) for k in self.keys}
        for row in rows:
            per_key[row["__k"]][int(row["__bin"])] = row["count"]
        return [
            HistResult(
                np.linspace(ranges[k][0], ranges[k][1], bins + 1), per_key[k], f"{key}={k}"
            )
            for k in self.keys
        ]

    def __len__(self):
        return len(self.members)

    def __add__(self, other: "Group") -> "Group":
        return Group(self.members + other.members, self.keys + other.keys)

    def apply(self, fn, *args, **kw):
        return [fn(p.t, *args, **kw) for p in self.members]

    def __getattr__(self, name):
        def looper(*args, **kw):
            return [getattr(p, name)(*args, **kw) for p in self.members]

        return looper


class PairGrid:
    """All-pairs grid (plotter.py:1256-1612): each off-diagonal panel is
    a raster, each diagonal a histogram — all cluster-side aggregates.

    Column ranges are computed ONCE for all keys in a single min/max
    job and shared across every panel — a k-column grid costs k(k-1)/2
    aggregations plus one scan, not one scan per panel."""

    def __init__(self, data: EzTable | DataFrame, keys: list[str], bins: int = 64):
        self.plotter = Plotter(data)
        self.keys = keys
        self.bins = bins
        self._ranges = guess_range(self.plotter.t.df, keys)

    def map_diag(self) -> dict[str, HistResult]:
        # one stacked scan for all diagonal panels, not one job per key
        return self.plotter.hist_many(self.keys, bins=self.bins, ranges=self._ranges)

    def map_offdiag(self) -> dict[tuple[str, str], Hist2DResult]:
        out = {}
        for i, kx in enumerate(self.keys):
            for j, ky in enumerate(self.keys):
                if i < j:
                    out[(kx, ky)] = self.plotter.hist2d(
                        kx, ky, bins=self.bins, range=(self._ranges[kx], self._ranges[ky])
                    )
        return out

    map_lower = map_offdiag
    map_upper = map_offdiag


class CornerPlot(PairGrid):
    """Corner plot (plotter.py:1615-1711) = PairGrid lower triangle +
    diagonals; data identical, layout is a render concern."""

    def panels(self):
        return {"diag": self.map_diag(), "lower": self.map_offdiag()}
