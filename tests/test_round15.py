"""Round-15 optimization pins: distributed exact percentiles (q16's
kernel) and the decimal-scale-preserving prefix-sum total literal."""

import math

import pytest
from pyspark.sql import functions as F


def test_percentiles_exact_distributed_matches_aggregate(spark):
    """r15: percentiles_exact_distributed must be bit-identical to the
    ``percentile`` aggregate (same interpolation formula on the same
    order statistics) across interior, endpoint, tied and single-value
    cases, and return a null array on empty/all-null input like the
    aggregate does."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.stats import percentiles_exact_distributed

    rows = [(float((i * 37) % 101) + 0.25,) for i in range(997)]
    rows += [(42.25,)] * 13 + [(None,)] * 7  # ties + nulls
    df = spark.createDataFrame(rows, "v double").repartition(9)
    ps = [0.0, 0.16, 0.5, 0.84, 0.99, 1.0]

    agg = df.agg(
        F.percentile("v", F.array(*[F.lit(p) for p in ps])).alias("_ps")
    ).collect()[0]["_ps"]
    got = percentiles_exact_distributed(df, "v", ps).collect()[0]["_ps"]
    release_caches()
    assert len(got) == len(agg)
    for g, a in zip(got, agg):
        assert g == a or math.isclose(g, a, rel_tol=0, abs_tol=0), (g, a)

    # single value
    one = spark.createDataFrame([(3.5,)], "v double")
    got1 = percentiles_exact_distributed(one, "v", [0.0, 0.5, 1.0]).collect()[0]["_ps"]
    release_caches()
    assert got1 == [3.5, 3.5, 3.5]

    # empty / all-null -> null array, matching the aggregate's null
    empty = spark.createDataFrame([(None,)], "v double")
    gote = percentiles_exact_distributed(empty, "v", [0.5]).collect()[0]["_ps"]
    release_caches()
    assert gote is None


def test_global_cumsum_total_keeps_decimal_scale(spark):
    """r15 (advice item): a decimal value column with scale > 6 must
    get its grand total UNQUANTIZED — the literal carries the column's
    own scale widened to the sum precision, so the total equals
    ``df.agg(sum(col))`` exactly instead of being rounded at 1e-6."""
    from decimal import Decimal

    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.window import global_cumsum

    rows = [(i, Decimal(f"0.{i % 10}234567{i % 3}")) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, v decimal(20,8)").repartition(4)
    out = global_cumsum(
        df, "v", [F.col("v").desc(), F.col("k")], name="cv", total_name="tv"
    )
    got = out.select("tv").distinct().collect()
    exp = df.agg(F.sum("v")).collect()[0][0]
    release_caches()
    assert len(got) == 1
    assert got[0]["tv"] == exp  # exact Decimal equality, scale preserved
    assert got[0]["tv"].as_tuple().exponent == -8


def test_train_sample_arrow_reshape_matches_tolist(spark):
    """r15: _train_sample converts the collected Arrow list column via
    one values-buffer flatten + reshape; must be bit-identical to the
    row-by-row toPandas().tolist() form (same hash order, same IEEE
    doubles), including the ragged-input fallback and the empty frame."""
    import numpy as np

    import ezdata_spark.operators.similarity as sim

    rows = [(i, [float(i) / 7.0 + j * 0.013 for j in range(6)]) for i in range(257)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(5)

    def old(df_, vec, seed, frac, cap):
        n = sim.normalize(df_, vec, "v").select("v")
        if frac is not None:
            n = n.sample(frac, seed=seed)
        return np.asarray(
            n.orderBy(F.xxhash64("v")).limit(cap).toPandas()["v"].tolist(),
            dtype=np.float64,
        )

    for cap in (50, 10_000):  # limit binding and not binding
        Xo = old(df, "embedding", 42, None, cap)
        Xn = sim._train_sample(df, "embedding", 42, None, cap)
        assert Xo.shape == Xn.shape
        assert np.array_equal(Xo, Xn)

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    Xe = sim._train_sample(empty, "embedding", 42, None, 10)
    assert Xe.size == 0


def test_train_sample_inner_null_takes_row_list_path(spark, monkeypatch):
    """A null ELEMENT inside a vector (not only a null vector) must take
    the documented row-list path, and the sample must stay
    bit-identical to what the zero-copy reshape returned for it (the
    null element nulls the row's norm, so the whole row reads NaN)."""
    import numpy as np

    import ezdata_spark.operators.similarity as sim

    rows = [(i, [float(i) + 0.5 * j for j in range(4)]) for i in range(1, 40)]
    rows.append((99, [1.0, None, 3.0, 4.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(3)

    col = (
        sim.normalize(df, "embedding", "v")
        .select("v")
        .orderBy(F.xxhash64("v"))
        .limit(1000)
        .toArrow()
        .column("v")
        .combine_chunks()
    )
    assert col.null_count == 0 and col.flatten().null_count > 0
    reshape = (
        col.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(col), 4)
    )

    row_lists = []

    class NumpySpy:
        """numpy, recording the row-list path's np.asarray(to_pylist())."""

        def __getattr__(self, name):
            return getattr(np, name)

        def asarray(self, a, *args, **kw):
            row_lists.append(len(a))
            return np.asarray(a, *args, **kw)

    monkeypatch.setattr(sim, "np", NumpySpy())
    got = sim._train_sample(df, "embedding", 42, None, 1000)
    assert row_lists == [len(col)]
    assert got.shape == reshape.shape
    assert got.tobytes() == reshape.tobytes()
    assert np.isnan(got).all(axis=1).sum() == 1


def test_trigram_gram_df_broadcast_matches_window(spark):
    """r15: gram_df='broadcast' (map-combined df table broadcast onto
    the gram frame; no full-frame window by g) must return exactly the
    window form's pairs — the rank order (gc, g) is identical by
    construction, so candidates, verification and output all match."""
    from ezdata_spark.cache import release_caches
    from ezdata_spark.operators.dedup import trigram_similarity_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dot"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely different text with no overlap at all"),
        (5, "completely different text with no overlap at ALL"),
        (6, "xyz"),
        (7, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    key = lambda r: (r.id_a, r.id_b)
    for hv in (True, False):
        got_w = sorted(
            trigram_similarity_pairs(
                df, threshold=0.5, max_gram_df=None, hash_verify=hv, gram_df="window"
            ).collect(),
            key=key,
        )
        release_caches()
        got_b = sorted(
            trigram_similarity_pairs(
                df, threshold=0.5, max_gram_df=None, hash_verify=hv, gram_df="broadcast"
            ).collect(),
            key=key,
        )
        release_caches()
        assert got_w == got_b
        assert len(got_w) >= 2  # the near-dup pairs actually exist

    import pytest as _pytest

    with _pytest.raises(ValueError, match="gram_df"):
        trigram_similarity_pairs(df, gram_df="nope")
    # the broadcast df table is only vocabulary-bounded for char trigrams
    for unit in ("word", 2):
        with _pytest.raises(ValueError, match="gram_df"):
            trigram_similarity_pairs(df, unit=unit, gram_df="broadcast")


def test_save_ngram_lm_failed_write_never_publishes_torn_lm(spark, tmp_path, monkeypatch):
    """save_ngram_lm writes the tri sidecar only after all three frames
    have landed: a re-save whose uni write fails must leave a path
    load_ngram_lm refuses, not the new tri/bi tables under a sidecar
    paired with the old uni table."""
    import ezdata_spark.operators.ann_index as ai
    from ezdata_spark.operators.corpus import ngram_lm_build

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat sat"), (2, "the dog sat on the mat")],
        ["doc_id", "text"],
    )
    tri, bi, uni = ngram_lm_build(docs, min_count=1)
    path = str(tmp_path / "lm")
    ai.save_ngram_lm(path, tri, bi, uni)
    assert ai.load_ngram_lm(spark, path)[3]["kind"] == "ngram_lm"

    real_save = ai.save_ann_index

    def failing_uni(p, *a, **kw):
        if p.endswith("uni"):
            raise OSError("injected uni write failure")
        return real_save(p, *a, **kw)

    monkeypatch.setattr(ai, "save_ann_index", failing_uni)
    with pytest.raises(OSError, match="injected"):
        ai.save_ngram_lm(path, tri, bi, uni, min_count=1)
    with pytest.raises(ValueError, match="not an ngram_lm artifact"):
        ai.load_ngram_lm(spark, path)

    # a fresh path that fails the same way never becomes loadable either
    fresh = str(tmp_path / "fresh")
    with pytest.raises(OSError, match="injected"):
        ai.save_ngram_lm(fresh, tri, bi, uni)
    with pytest.raises(ValueError, match="not an ngram_lm artifact"):
        ai.load_ngram_lm(spark, fresh)

    monkeypatch.setattr(ai, "save_ann_index", real_save)
    ai.save_ngram_lm(path, tri, bi, uni, min_count=1)
    assert ai.load_ngram_lm(spark, path)[3]["min_count"] == 1
