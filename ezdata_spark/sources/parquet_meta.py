"""Parquet with metadata persistence — the engine's native format.

The reference carries (header, units, descriptions, aliases) dicts on
every table (simpletable.py:1449-1460). Spark persists StructField
metadata inside the parquet footer (the Spark schema JSON), so we
round-trip all four through field metadata: units/desc per column, and
the table-level header + alias map on a reserved key of the first
field. No sidecar files; survives any Spark-compatible reader.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..table import EzTable

_TABLE_KEY = "ez_table_meta"


def parquet_frame(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job.

    Spark infers a parquet schema with a one-task job that reads the
    file footer on an executor. For a single file the footer is read
    here on the driver instead, through the same JVM classes that job
    runs (``ParquetFooterReader`` + ``ParquetFileFormat.
    readSchemaFromFooter`` with a converter built from the session's
    SQL conf), and the schema is handed to ``spark.read.schema(...)``.
    The result is therefore identical to inference: nanosAsLong,
    TIMESTAMP_NTZ inference, decimals and Spark's own row metadata
    (field units/descriptions) all come out the same. The footer is
    read on every call; nothing is cached.

    Any other path (a directory of Spark-written part files, hive
    partitions, a glob) keeps ``spark.read.parquet``, which merges or
    discovers what a single footer cannot describe.
    """
    # fully qualified lookups: one py4j round trip per class, where
    # attribute-chained package paths cost one per path segment
    def jclass(name):
        return getattr(spark._jvm, name)

    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    jpath = jclass("org.apache.hadoop.fs.Path")(path)
    if not jpath.getFileSystem(hconf).isFile(jpath):
        return spark.read.parquet(path)
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    footer = jclass(pq + "ParquetFooterReader").readFooter(
        jclass("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(jpath, hconf),
        jclass("org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    schema = jclass(pq + "ParquetFileFormat").readSchemaFromFooter(
        jclass("org.apache.parquet.hadoop.Footer")(jpath, footer),
        jclass(pq + "ParquetToSparkSchemaConverter")(state.conf()),
    )
    return spark.read.schema(T.StructType.fromJson(json.loads(schema.json()))).parquet(path)


def write_parquet(t: EzTable, path: str, mode: str = "overwrite", partition_by=None) -> None:
    df = t.df
    part_cols = set(partition_by or [])
    # partition columns leave the data-file schema (they become directory
    # names and are reconstructed metadata-less on read), so the table-
    # level key must ride on a NON-partition field — and per-column
    # metadata of partition columns goes into the table-level blob
    carrier = next((f.name for f in df.schema.fields if f.name not in part_cols), None)
    if carrier is None:
        raise ValueError("cannot partition by every column")
    part_meta = {
        c: {"unit": t.unit(c), "description": t.comment(c)}
        for c in part_cols
        if t.unit(c) or t.comment(c)
    }
    fields = []
    for f in df.schema.fields:
        md = dict(f.metadata or {})
        if t.unit(f.name):
            md["unit"] = t.unit(f.name)
        if t.comment(f.name):
            md["description"] = t.comment(f.name)
        if f.name == carrier:
            md[_TABLE_KEY] = json.dumps(
                {"header": t.header, "aliases": t._aliases, "part_meta": part_meta}
            )
        fields.append(T.StructField(f.name, f.dataType, f.nullable, md))
    # attach metadata without an RDD round-trip: per-column withMetadata
    out = df
    for f in fields:
        out = out.withMetadata(f.name, f.metadata)
    w = out.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_parquet(spark: SparkSession, path: str) -> EzTable:
    df = parquet_frame(spark, path)
    units: dict[str, str] = {}
    desc: dict[str, str] = {}
    header: dict = {}
    aliases: dict[str, str] = {}
    for f in df.schema.fields:
        md = f.metadata or {}
        if "unit" in md:
            units[f.name] = md["unit"]
        if "description" in md:
            desc[f.name] = md["description"]
        if _TABLE_KEY in md:
            tm = json.loads(md[_TABLE_KEY])
            header = tm.get("header", {})
            aliases = tm.get("aliases", {})
            for c, m in tm.get("part_meta", {}).items():
                if m.get("unit"):
                    units[c] = m["unit"]
                if m.get("description"):
                    desc[c] = m["description"]
    return EzTable(df, header=header, units=units, desc=desc, aliases=aliases)


def write_sharded(
    df,
    path: str,
    partition_by: list[str],
    id_col: str = "doc_id",
    files_per_partition: int = 8,
    records_per_file: int | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Corpus sink with controlled sharding: hive-partition directories
    by ``partition_by`` (split/source/...), at most ``files_per_partition``
    data files per directory, optionally capped at ``records_per_file``
    rows each — the knobs that prevent both the small-files problem
    (every task writing a sliver into every partition dir) and
    unsplittable giant files.

    Scale shape: one repartition keyed on (partition cols + an id-hash
    salt in [0, files_per_partition)) — each output file is exactly one
    task's slice of one partition value, so file count is
    n_partition_values x files_per_partition regardless of input
    parallelism, and ``maxRecordsPerFile`` further splits only when a
    shard genuinely overflows. ``sort_by`` orders rows WITHIN each file
    (sortWithinPartitions — no global sort) for reproducible shards and
    better column compression.
    """
    from pyspark.sql import functions as F

    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_partition))
    out = df.repartition(*[F.col(c) for c in partition_by], salt)
    if sort_by:
        out = out.sortWithinPartitions(*sort_by)
    writer = out.write.mode(mode).partitionBy(*partition_by)
    if records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", records_per_file)
    writer.parquet(path)
