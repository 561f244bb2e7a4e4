"""FITS / HDF5 table ingest — the reference's astronomy formats
(simpletable.py:1523-1550; chunked lazy scan dask/hdf5.py:199-283).

Neither astropy nor h5py/pytables ships in this container, so the
loaders are import-gated: the Spark-side plumbing (binaryFile listing,
chunk planning, mapInPandas schema contract) is real and tested with a
fake decoder; the physical decode raises a clear error until the
library is present.

Scale design (mirrors dask/hdf5.py's 10M-row chunking, 262-283): for a
directory of files we parallelize over (file, row-range) chunk tasks —
each executor opens its file locally and reads only its slice, so a
100 TB multi-file HDF5 archive ingests with full cluster parallelism
and bounded per-task memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..session import local_frame

DEFAULT_CHUNK_ROWS = 10_000_000  # dask/hdf5.py:199 default


def _have(mod: str) -> bool:
    try:
        __import__(mod)
        return True
    except ImportError:
        return False


def _pandas_frame(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """A local frame over a driver-side pandas frame, typed from its
    Arrow schema."""
    import pyarrow as pa

    return local_frame(spark, pa.Table.from_pandas(pdf, preserve_index=False))


def _check_schema(schema, got, what: str) -> None:
    """Validate a caller-supplied schema against the file-derived one
    (the native readers derive schemas from file headers; a requested
    schema is checked, never silently ignored)."""
    want = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    if [(f.name, f.dataType) for f in want.fields] != [
        (f.name, f.dataType) for f in got.fields
    ]:
        raise ValueError(
            f"{what}: requested schema does not match the file: "
            f"requested {want.simpleString()}, file has {got.simpleString()}"
        )


def ingest_chunked(
    spark: SparkSession,
    files: list[str],
    schema: T.StructType | str,
    count_rows: Callable[[str], int],
    read_chunk: Callable[[str, int, int], pd.DataFrame],
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
) -> DataFrame:
    """Generic chunked binary-table ingest.

    ``count_rows(path)`` runs on the driver per file (cheap metadata
    read); ``read_chunk(path, start, stop)`` runs on executors inside
    ``mapInPandas``. The task list is (file, start, stop) triples —
    exactly dask/hdf5.py's partitioning, but scheduled by Spark.
    """
    # metadata reads are I/O-bound: count files concurrently so a
    # many-thousand-file archive does not serialize startup on the driver
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(32, max(len(files), 1))) as pool:
        counts = list(pool.map(count_rows, files))
    tasks = []
    for path, n in zip(files, counts):
        for start in range(0, max(n, 1), chunk_rows):
            tasks.append((path, start, min(start + chunk_rows, n)))
    task_df = local_frame(spark, tasks, "path string, start long, stop long").repartition(
        max(len(tasks), 1)
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for _, row in b.iterrows():
                yield read_chunk(row["path"], int(row["start"]), int(row["stop"]))

    return task_df.mapInPandas(_read, schema)


def read_hdf5(
    spark: SparkSession,
    files: list[str],
    dataset: str,
    schema: T.StructType | str | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
) -> DataFrame:
    """HDF5 table scan (simpletable.py:1539-1550 / dask/hdf5.py:199-283).

    Uses h5py when present (chunked/compressed/new-style files);
    otherwise falls back to the pure-numpy old-style reader in
    hdf5_native.py (v0 superblock, contiguous layout — the libhdf5
    'earliest' default), which covers the reference's table surface with
    no extra dependency.
    """
    if not _have("h5py"):
        from .hdf5_native import scan_hdf5

        df = scan_hdf5(spark, files, dataset, chunk_rows=chunk_rows).df
        if schema is not None:
            _check_schema(schema, df.schema, "read_hdf5")
        return df
    import h5py  # noqa: F401

    def count_rows(path: str) -> int:
        with h5py.File(path, "r") as f:
            return len(f[dataset])

    def read_chunk(path: str, start: int, stop: int) -> pd.DataFrame:
        with h5py.File(path, "r") as f:
            arr = f[dataset][start:stop]
        return pd.DataFrame({n: arr[n] for n in arr.dtype.names})

    if schema is None:
        raise ValueError("pass an explicit schema (HDF5 dtypes -> Spark types)")
    return ingest_chunked(spark, files, schema, count_rows, read_chunk, chunk_rows)


def read_fits(
    spark: SparkSession,
    files: list[str],
    hdu: int = 1,
    schema: T.StructType | str | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
) -> DataFrame:
    """FITS binary-table scan (simpletable.py:1523-1538).

    Uses astropy when present (compressed/scaled/variable-array HDUs);
    otherwise falls back to the pure-numpy BINTABLE reader in
    fits_native.py, which covers the reference's numeric/string/vector
    column surface with no extra dependency.
    """
    if not _have("astropy"):
        from .fits_native import scan_fits

        df = scan_fits(spark, files, hdu=hdu, chunk_rows=chunk_rows).df
        if schema is not None:
            _check_schema(schema, df.schema, "read_fits")
        return df
    from astropy.io import fits  # noqa: F401

    def count_rows(path: str) -> int:
        with fits.open(path, memmap=True) as hd:
            return hd[hdu].header["NAXIS2"]

    def read_chunk(path: str, start: int, stop: int) -> pd.DataFrame:
        with fits.open(path, memmap=True) as hd:
            arr = hd[hdu].data[start:stop]
        return pd.DataFrame(
            # numpy>=2 removed ndarray.newbyteorder(); view via dtype
            {n: arr[n].byteswap().view(arr[n].dtype.newbyteorder()) for n in arr.names}
        )

    if schema is None:
        raise ValueError("pass an explicit schema (FITS dtypes -> Spark types)")
    return ingest_chunked(spark, files, schema, count_rows, read_chunk, chunk_rows)


def read_votable(spark: SparkSession, path: str):
    """VOTable scan (simpletable.py:1551-1565): driver-side parse ->
    local frame (VOTables are small interchange files).

    Uses astropy when present (BINARY/BINARY2 streams, exotic types);
    otherwise the stdlib-XML TABLEDATA reader in votable_native.py."""
    if not _have("astropy"):
        from .votable_native import read_votable_native

        return read_votable_native(spark, path)
    from astropy.table import Table

    from ..table import EzTable

    at = Table.read(path, format="votable")
    units = {n: str(at[n].unit) for n in at.colnames if at[n].unit is not None}
    desc = {n: at[n].description for n in at.colnames if at[n].description}
    return EzTable(_pandas_frame(spark, at.to_pandas()), units=units, desc=desc)


def to_latex(t, n: int = 30, name: str | None = None) -> str:
    """LaTeX table of the first ``n`` rows, matching the reference's
    ``_latex_writeto`` structure (simpletable.py:792-844): table/center
    wrapper, optional ``\\caption`` from the table name, c-aligned
    tabular, and a scriptsize notes block built from column
    descriptions. Driver-side formatting of a collected head; a render
    concern, never a data path."""

    def esc(s) -> str:
        return str(s).replace("_", "\\_")

    rows = t.df.limit(n).collect()
    cols = t.df.columns
    lines = ["\\begin{table}", "\\begin{center}"]
    if name not in ("", None, "None"):
        lines.append(f"\\caption{{{esc(name)}}}")
    lines += [
        "\\begin{tabular}{" + "c" * len(cols) + "}",
        " & ".join(esc(c) for c in cols) + " \\\\",
        "\\hline",
    ]
    for r in rows:
        lines.append(" & ".join(esc(r[c]) for c in cols) + " \\\\")
    lines += ["\\end{tabular}", "\\end{center}"]
    desc = dict(getattr(t, "descriptions", {}) or {})
    notes = {k: v for k, v in desc.items() if v not in (None, "None", "none", "")}
    if notes:
        lines += ["% notes", "\\begin{scriptsize}"]
        for e, (k, v) in enumerate(notes.items()):
            lines.append(f"{e} {esc(k)}: {esc(v)} \\\\")
        lines.append("\\end{scriptsize}")
    lines.append("\\end{table}")
    return "\n".join(lines) + "\n"


def write_latex(t, path: str, n: int = 30, name: str | None = None) -> None:
    """File form of ``to_latex`` (the reference's writeto('*.tex')
    dispatch, simpletable.py:792)."""
    with open(path, "w") as fh:
        fh.write(to_latex(t, n=n, name=name))


def from_dict(spark: SparkSession, data: dict, **meta):
    """dict-of-arrays ingest (SimpleTable(dict), simpletable.py:847-898;
    DictDataFrame construction, dictdataframe.py:93-112)."""
    from ..table import EzTable

    pdf = pd.DataFrame(data)
    return EzTable(_pandas_frame(spark, pdf), **meta)


def from_records(spark: SparkSession, rows: list[dict], **meta):
    """generator/rows ingest (from_lines, dictdataframe.py:352-375)."""
    from ..table import EzTable

    return EzTable(_pandas_frame(spark, pd.DataFrame.from_records(rows)), **meta)
