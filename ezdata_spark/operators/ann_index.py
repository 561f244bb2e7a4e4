"""Durable ANN index artifacts: save/load for LSH, IVF, PQ and OPQ.

Extension tier (the reference has no vector search); completes the
persisted-artifact story the similarity operators were designed around:
`lsh_index` / `ivf_index` / `ivf_pq_encode` produce corpus-sized frames
and small driver-side parameter lists (planes seeds, centroids,
codebooks, rotations) that a real pipeline builds ONCE and reloads
across jobs. This module writes the frame as parquet (the 100 TB
artifact — bucket/cell are the natural sort/partition keys, so probes
prune row groups or whole partitions) and the parameters as a JSON
sidecar inside the same directory. The sidecar's leading underscore
(`_ann_meta.json`) makes Spark's file index skip it, so the directory
stays readable as plain parquet too.

JSON round-trips Python floats exactly (shortest-repr decimal encoding
is bijective for IEEE doubles), so a reloaded index probes
bit-identically to the in-session one — pinned by
tests/test_round9.py's LSH / IVF / PQ / OPQ round-trip tests.

Local-filesystem sidecar I/O; on an object store, swap the two
`open()` calls for the Hadoop FileSystem API (the parquet part already
goes through Spark's writer, which handles any FS).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_SIDECAR = "_ann_meta.json"


def save_ann_index(
    path: str,
    frame: DataFrame | None = None,
    meta: dict | None = None,
    partition_by: str | list[str] | None = None,
) -> None:
    """Write an ANN index artifact: an optional parquet ``frame`` plus a
    ``meta`` dict (JSON sidecar) in one directory.

    ``meta`` must be JSON-serializable — the convention is a ``kind``
    key (``'lsh' | 'ivf' | 'pq' | 'opq' | 'ivf_pq'``) plus whatever the
    probe needs: ``centroids``, ``codebooks``, ``rotation``, and the
    build parameters (``n_planes``/``n_tables``/``seed``/``dim`` for
    LSH — the planes are derived from the seed, so only the geometry is
    stored).

    ``partition_by``: partition the parquet by this column — ``'cell'``
    for IVF frames (probes then prune whole partitions; this is what
    makes the kNN-join / rescore exchanges co-located at scale),
    ``'band'`` or ``('band',)`` for MinHash band tables.
    """
    if frame is None and meta is None:
        raise ValueError("save_ann_index: nothing to save (frame and meta both None)")
    if frame is not None:
        # mode('overwrite') deletes the whole directory, sidecar
        # included — a frame-only re-save (meta=None) onto an existing
        # artifact would silently destroy the trained parameters
        # (centroids/codebooks), surfacing only at next load. Carrying
        # the old sidecar over is no better: a frame re-encoded with
        # RETRAINED params would then load cleanly and probe with the
        # wrong codebooks (silently wrong neighbors). Mirror the
        # meta-only guard below: the caller must pass frame and meta
        # together so the artifact stays coherent by construction
        # (load_ann_index returns the current meta to re-pass when the
        # parameters genuinely haven't changed).
        if meta is None and os.path.exists(os.path.join(path, _SIDECAR)):
            raise ValueError(
                f"save_ann_index: {path} already holds a parameter "
                "sidecar; pass meta together with the frame (reload it "
                "via load_ann_index if unchanged) so a re-encoded frame "
                "can never silently pair with stale trained parameters"
            )
        w = frame.write.mode("overwrite")
        if partition_by:
            cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            w = w.partitionBy(*cols)
        w.parquet(path)
    else:
        # a parameter-only save onto a path that already holds a data
        # frame would leave the OLD frame under the NEW sidecar — a
        # silent frame/meta mismatch (e.g. retrained codebooks probing
        # the previous corpus). Fail fast; re-save with the frame (the
        # overwrite branch above replaces both coherently).
        if _has_parquet(path):
            raise ValueError(
                f"save_ann_index: {path} already holds a data frame; pass "
                "the frame together with the new meta so the artifact "
                "stays coherent (parquet overwrite + sidecar rewrite)"
            )
        os.makedirs(path, exist_ok=True)
    if meta is not None:
        _write_sidecar(path, meta)


def _write_sidecar(path: str, meta: dict) -> None:
    with open(os.path.join(path, _SIDECAR), "w") as fh:
        json.dump(meta, fh)


def load_ann_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame | None, dict]:
    """Read an artifact written by :func:`save_ann_index`: returns
    ``(frame, meta)``; ``frame`` is None for parameter-only artifacts
    (pure PQ/OPQ codebooks)."""
    meta: dict = {}
    sidecar = os.path.join(path, _SIDECAR)
    if os.path.exists(sidecar):
        with open(sidecar) as fh:
            meta = json.load(fh)
    frame = spark.read.parquet(path) if _has_parquet(path) else None
    return frame, meta


def _has_parquet(path: str) -> bool:
    return any(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for _, _, files in os.walk(path)
        for f in files
    )


# ----------------------------------------------------- thin typed wrappers
def save_ivf_pq_index(
    path: str,
    encoded_corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    rotation: list[list[float]] | None = None,
) -> None:
    """The full IVF(-OPQ)-PQ artifact: the :func:`ivf_pq_encode`-d frame
    partitioned by ``cell`` (probe-prunable; co-located cogroups) plus
    centroids / codebooks / optional OPQ rotation."""
    meta = {"kind": "ivf_pq", "centroids": centroids, "codebooks": codebooks}
    if rotation is not None:
        meta["rotation"] = rotation
    save_ann_index(path, encoded_corpus, meta, partition_by="cell")


def load_ivf_pq_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]], list[list[float]] | None]:
    frame, meta = load_ann_index(spark, path)
    if frame is None or meta.get("kind") != "ivf_pq":
        raise ValueError(f"{path}: not an ivf_pq index artifact")
    return frame, meta["centroids"], meta["codebooks"], meta.get("rotation")


def save_ivf_pq_index_bucketed(
    table_name: str,
    encoded_corpus: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_buckets: int = 32,
    rotation: list[list[float]] | None = None,
) -> None:
    """The CO-LOCATED form of :func:`save_ivf_pq_index`: the encoded
    corpus persists as a managed table BUCKETED by ``cell``
    (sources/bucketed.py::write_bucketed), so the kNN join's cogroup
    reads it with NO corpus-side Exchange at all — the bucketed scan
    itself satisfies the cogroup's hash-clustered distribution
    (pytest-pinned plan assert). This is the strongest at-scale layout:
    the cell-PARTITIONED path artifact prunes unprobed cells but still
    shuffles the probed ones; the bucketed table ships nothing.
    Trade-offs: bucketing binds to a metastore table (not a bare path),
    and it pairs with ``shard_corpus=1`` — a shard split changes the
    cogroup key to (cell, shard), which the layout no longer matches.
    The sidecar lands inside the table's storage location (underscore
    prefix: invisible to the reader), same as the path artifact."""
    from ..sources.bucketed import write_bucketed

    spark = encoded_corpus.sparkSession
    # an in-memory catalog forgets tables across sessions but the
    # warehouse directory persists; saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS. Drop both halves so overwrite means
    # overwrite. (Local-FS cleanup, like the sidecar I/O — on a real
    # metastore the DROP TABLE alone removes the managed location.)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    wh = wh[len("file:"):] if wh.startswith("file:") else wh
    # compute the managed location the way Spark lays it out:
    # <warehouse>/<tbl> for the default database, <warehouse>/<db>.db/<tbl>
    # otherwise — a qualified name ("ns.idx") or a non-default current
    # database must map to the same directory saveAsTable will claim
    parts = table_name.lower().split(".")
    tbl = parts[-1]
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase().lower()
    stale = (
        os.path.join(wh, tbl) if db == "default"
        else os.path.join(wh, f"{db}.db", tbl)
    )
    if wh and os.path.isdir(stale):
        import shutil

        shutil.rmtree(stale)
    write_bucketed(encoded_corpus, table_name, bucket_by="cell",
                   n_buckets=n_buckets, sort_by="cell")
    loc = _table_location(spark, table_name)
    meta = {"kind": "ivf_pq", "centroids": centroids, "codebooks": codebooks}
    if rotation is not None:
        meta["rotation"] = rotation
    with open(os.path.join(loc, _SIDECAR), "w") as fh:
        json.dump(meta, fh)


def load_ivf_pq_index_bucketed(
    spark: SparkSession, table_name: str
) -> tuple[DataFrame, list[list[float]], list[list[list[float]]], list[list[float]] | None]:
    frame = spark.table(table_name)
    loc = _table_location(spark, table_name)
    sidecar = os.path.join(loc, _SIDECAR)
    if not os.path.exists(sidecar):
        raise ValueError(f"{table_name}: not an ivf_pq bucketed index table")
    with open(sidecar) as fh:
        meta = json.load(fh)
    if meta.get("kind") != "ivf_pq":
        raise ValueError(f"{table_name}: not an ivf_pq bucketed index table")
    return frame, meta["centroids"], meta["codebooks"], meta.get("rotation")


def _table_location(spark: SparkSession, table_name: str) -> str:
    """Local-filesystem storage path of a managed table."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect():
        if r["col_name"] == "Location":
            loc = r["data_type"]
            return loc[len("file:"):] if loc.startswith("file:") else loc
    raise ValueError(f"{table_name}: no Location in catalog")


def save_minhash_index(
    path: str,
    signatures: DataFrame,
    bands: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int | None = None,
    n_bands: int | None = None,
    shingle_n: int = 5,
) -> None:
    """The incremental-dedup index pair (dedup.py::
    minhash_dedup_incremental): signatures (the verify artifact) and
    the (id, band, bucket) table (the candidate-join artifact —
    partitioned by ``band`` so a probe that only needs some bands
    prunes whole partitions; at true index scale, re-write bucketed by
    the join key instead, see the operator's docstring). The build
    parameters ride the sidecar so the next increment signs its shard
    with the SAME hashing geometry — mixing num_hashes/bands between
    snapshots silently empties the candidate join.

    ``num_hashes`` / ``n_bands`` are DERIVED from the frames
    (signature length on one row; max band index + 1) so the sidecar
    can never record a geometry the frames don't have; passing them
    explicitly cross-checks and raises on mismatch. ``shingle_n`` is
    not derivable from the frames — pass the value used to build them
    (default 5, matching ``minhash_dedup_incremental``)."""
    from pyspark.sql import functions as F

    sig_row = signatures.select(F.size("signature").alias("n")).first()
    derived_hashes = int(sig_row["n"]) if sig_row is not None else None
    band_row = bands.agg(F.max("band").alias("b")).first()
    derived_bands = (
        int(band_row["b"]) + 1
        if band_row is not None and band_row["b"] is not None
        else None
    )
    for name, passed, derived in (
        ("num_hashes", num_hashes, derived_hashes),
        ("n_bands", n_bands, derived_bands),
    ):
        if passed is not None and derived is not None and passed != derived:
            raise ValueError(
                f"save_minhash_index: {name}={passed} does not match the "
                f"frames (derived {derived}); a wrong sidecar would make "
                "the next increment sign with mismatched hashing geometry "
                "and silently empty the candidate join"
            )
    num_hashes = derived_hashes if derived_hashes is not None else num_hashes
    n_bands = derived_bands if derived_bands is not None else n_bands
    if num_hashes is None or n_bands is None:
        raise ValueError(
            "save_minhash_index: cannot derive hashing geometry from empty "
            "frames; pass num_hashes and n_bands explicitly"
        )
    save_ann_index(
        os.path.join(path, "signatures"),
        signatures.select(id_col, "signature"),
        {
            "kind": "minhash",
            "id_col": id_col,
            "num_hashes": num_hashes,
            "bands": n_bands,
            "shingle_n": shingle_n,
        },
    )
    save_ann_index(os.path.join(path, "bands"), bands, partition_by="band")


def save_pca(
    path: str,
    mean: list[float],
    components: list[list[float]],
    explained_variance_ratio: list[float] | None = None,
) -> None:
    """Persist a PCA fit (decomp.py::pca_train) as a parameter-only
    artifact: the (k+1) x d doubles ride the JSON sidecar (shortest-repr
    round-trip — a reloaded fit projects bit-identically), no data
    frame. The train-once / project-everywhere split of the PQ tier,
    one tier earlier in the embedding pipeline."""
    meta: dict = {"kind": "pca", "mean": mean, "components": components}
    if explained_variance_ratio is not None:
        meta["explained_variance_ratio"] = explained_variance_ratio
    save_ann_index(path, None, meta)


def load_pca(
    spark: SparkSession, path: str
) -> tuple[list[float], list[list[float]], list[float] | None]:
    """Returns ``(mean, components, explained_variance_ratio)`` for
    ``decomp.pca_project(df, mean, components)``."""
    _, meta = load_ann_index(spark, path)
    if meta.get("kind") != "pca":
        raise ValueError(f"{path}: not a pca artifact")
    return meta["mean"], meta["components"], meta.get("explained_variance_ratio")


def save_ngram_lm(
    path: str,
    tri: DataFrame,
    bi: DataFrame,
    uni: DataFrame,
    min_count: int = 2,
    alpha: float = 0.4,
) -> None:
    """Persist a stupid-backoff LM (corpus.py::ngram_lm_build) as three
    parquet tables plus a sidecar carrying the build/score parameters —
    the train-once artifact :func:`load_ngram_lm` + corpus.py::
    backoff_score consume per shard/stream. The trigram table is the
    big one; at true scale re-write it bucketed by its join key.

    The three writes are independent jobs on disjoint paths, so they
    run from a 3-thread driver pool (guide §2.6): the bigram/unigram
    tasks back-fill executors freed by the trigram write's tail
    instead of paying three sequential job latencies. Artifact bytes
    and layout are identical to the sequential form (same three plans,
    same paths); the shared position-stream cache under all three
    aggregates materializes once whichever job gets there first.

    The sidecar (on ``tri``) is what :func:`load_ngram_lm` checks, so it
    is removed before any write and written again only after all three
    frames have landed: a save that fails partway leaves a path that
    refuses to load, never a torn LM mixing new and old tables. The
    first failure cancels the writes not yet started and is raised once
    the writes already running have finished."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    tri_path = os.path.join(path, "tri")
    sidecar = os.path.join(tri_path, _SIDECAR)
    if os.path.exists(sidecar):
        os.remove(sidecar)
    jobs = (
        lambda: save_ann_index(tri_path, tri),
        lambda: save_ann_index(os.path.join(path, "bi"), bi),
        lambda: save_ann_index(os.path.join(path, "uni"), uni),
    )
    with ThreadPoolExecutor(3) as pool:
        done, pending = wait([pool.submit(j) for j in jobs], return_when=FIRST_EXCEPTION)
        for f in pending:
            f.cancel()
        for f in done:
            f.result()
    _write_sidecar(tri_path, {"kind": "ngram_lm", "min_count": min_count, "alpha": alpha})


def load_ngram_lm(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """Returns ``(tri, bi, uni, params)`` for
    ``backoff_score(docs, tri, bi, uni, alpha=params['alpha'])``."""
    tri, meta = load_ann_index(spark, os.path.join(path, "tri"))
    bi, _ = load_ann_index(spark, os.path.join(path, "bi"))
    uni, _ = load_ann_index(spark, os.path.join(path, "uni"))
    if tri is None or bi is None or uni is None or meta.get("kind") != "ngram_lm":
        raise ValueError(f"{path}: not an ngram_lm artifact")
    return tri, bi, uni, meta


def save_bpe_tokenizer(
    path: str,
    merges: list[tuple[str, str]],
    token_ids: DataFrame,
    unk_id: int = -1,
    alphabet: str = "char",
) -> None:
    """Persist a trained BPE tokenizer (bpe.py::learn_bpe +
    bpe_vocab_ids) — the ordered merge list and encode parameters in
    the JSON sidecar, the frozen (symbol, token_id) inventory as the
    parquet frame. The train-once artifact every shard/stream encodes
    against (bpe.encode_corpus(token_ids=...)): shards sharing the
    artifact produce identical ids, and symbols minted after the
    freeze surface as ``unk_id``."""
    save_ann_index(
        path,
        token_ids,
        {
            "kind": "bpe_tokenizer",
            "merges": [list(m) for m in merges],
            "unk_id": unk_id,
            "alphabet": alphabet,
        },
    )


def load_bpe_tokenizer(
    spark: SparkSession, path: str
) -> tuple[list[tuple[str, str]], DataFrame, dict]:
    """Returns ``(merges, token_ids, params)`` for
    ``bpe.encode_corpus(docs, merges, token_ids=token_ids,
    unk_id=params['unk_id'])``."""
    frame, meta = load_ann_index(spark, path)
    if frame is None or meta.get("kind") != "bpe_tokenizer":
        raise ValueError(f"{path}: not a bpe_tokenizer artifact")
    merges = [tuple(m) for m in meta["merges"]]
    meta.setdefault("alphabet", "char")  # pre-r14 artifacts are char-mode
    return merges, frame, meta


def load_minhash_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, dict]:
    """Returns ``(signatures, bands, params)`` for the next
    ``minhash_dedup_incremental(history_signatures=..,
    history_bands=.., **params-derived kwargs)`` call."""
    sigs, meta = load_ann_index(spark, os.path.join(path, "signatures"))
    bands, _ = load_ann_index(spark, os.path.join(path, "bands"))
    if sigs is None or bands is None or meta.get("kind") != "minhash":
        raise ValueError(f"{path}: not a minhash index artifact")
    return sigs, bands, meta
