"""JSONL (newline-delimited JSON) ingest — the lingua franca of LLM
training corpora (one document object per line, optionally gzipped).

Extension beyond the reference (its I/O surface is astronomy formats,
SURVEY.md §2.1); a training-data engine needs the corpus side too.
Spark's native json reader does the heavy lifting (distributed line
splitting, per-file parallelism, .gz transparently); this wrapper adds
the engine's metadata discipline and schema hygiene:

- explicit schema by default (schema inference reads the data TWICE and
  is banned at scale unless ``sample_fraction`` opts in: inference then
  runs on a bounded sample, never the full corpus);
- ``columnNameOfCorruptRecord`` capture instead of silent nulls, with a
  helper to split good/bad rows;
- EzTable wrapping with units/descriptions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table import EzTable

CORRUPT_COL = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    sample_fraction: float | None = None,
    keep_corrupt: bool = True,
    **meta,
) -> EzTable:
    """Read JSONL into an EzTable.

    ``schema``: DDL string or StructType. When None, ``sample_fraction``
    must be given — the schema is inferred from a bounded sample (one
    extra job over that sample), then the full read uses the inferred
    schema; full-corpus inference (Spark's default) would scan
    everything twice at 100 TB.
    """
    if schema is None:
        if sample_fraction is None:
            raise ValueError(
                "read_jsonl: pass an explicit schema, or sample_fraction= "
                "to infer from a bounded sample (full-corpus inference "
                "scans the data twice)"
            )
        sampled = spark.read.text(path).sample(sample_fraction, seed=42)
        schema = spark.read.json(sampled.rdd.map(lambda r: r[0])).schema
    reader = spark.read.schema(
        _with_corrupt(spark, schema) if keep_corrupt else schema
    ).option("mode", "PERMISSIVE")
    if keep_corrupt:
        reader = reader.option("columnNameOfCorruptRecord", CORRUPT_COL)
    return EzTable(reader.json(path), **meta)


def _with_corrupt(spark: SparkSession, schema):
    from pyspark.sql.types import StringType, StructField, StructType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, bad): rows that parsed cleanly vs raw corrupt lines.

    Spark refuses queries whose referenced columns are ONLY the internal
    corrupt-record column of a raw JSON scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), so the frame
    is cached here — fine for the interactive flow this serves. For a
    100 TB quarantine pass use ``corrupt_lines`` instead: it re-parses
    from text and never caches."""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad


def corrupt_lines(spark: SparkSession, path: str, schema) -> DataFrame:
    """Scale path for corrupt-line quarantine: one text scan, each line
    checked with from_json carrying an in-struct corrupt-record field
    (from_json returns a null-FIELDED struct for malformed input, so a
    plain null check cannot distinguish '{broken' from the valid '{}').
    No caching, no second corpus scan of the parsed read."""
    parsed_schema = _with_corrupt(spark, schema)
    txt = spark.read.text(path)
    parsed = txt.select(
        "value",
        F.from_json(
            "value", parsed_schema, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
        ).alias("__p"),
    )
    return parsed.filter(F.col(f"__p.{CORRUPT_COL}").isNotNull()).select(
        F.col("value").alias(CORRUPT_COL)
    )


def write_jsonl(t: EzTable | DataFrame, path: str, mode: str = "overwrite", compression: str | None = None) -> None:
    """One JSON object per line, one file per partition (the standard
    sharded-corpus layout). ``compression='gzip'`` for .jsonl.gz."""
    df = t.df if isinstance(t, EzTable) else t
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
