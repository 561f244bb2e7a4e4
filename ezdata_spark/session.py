"""SparkSession factory tuned for the engine.

The reference (ezdata) is a single-process NumPy library with no session
concept; everything here is Spark-native configuration chosen for scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace any hand-tuning.
- ANSI off: the reference's expression dialect is numpy ``eval`` —
  division by zero yields inf/NaN, overflow wraps, casts are lenient.
  Spark 4 defaults ANSI on; we turn it off so expression semantics match
  the numpy dialect (no runtime errors on edge values).
- Arrow on: every pandas_udf / applyInPandas / toPandas crossing is
  Arrow-batched.
- shuffle.partitions sized for local[32]; on a real cluster AQE coalesces
  from a larger initial number, so we set the initial partition number
  high and let AQE shrink it.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``): PySpark 4
  records the calling Python frame on every ``functions``/``Column``
  call, several py4j round trips each, and plan construction makes
  hundreds of such calls per query. The frames would only ever point
  into this package's operator code, and they feed nothing but the
  query context of the runtime errors ANSI mode raises — which is off.

Plan construction also launches no Spark job for a single parquet
file: ``sources.parquet_meta.parquet_frame`` reads the schema from the
file footer on the driver (one footer read) instead of letting Spark
infer it with a one-task job per read.

Every small frame the engine builds from driver-held data (a stats
table, a VOTable, top-k rows, a broadcast weight vector) goes through
``local_frame``: Arrow batches shipped to the JVM, so the plan holds a
``LocalRelation`` and later actions on it start no Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "ezdata-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = DEFAULT_SHUFFLE_PARTITIONS if shuffle_partitions is None else shuffle_partitions
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    # getOrCreate returns an existing session with builder confs ignored;
    # re-apply the runtime-settable ones so explicit args are honored
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(sp))
    except Exception:
        pass
    return spark


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session.

    The driver hands ``entry(spark)`` its own session; ANSI mode and AQE
    are runtime-settable SQL confs, so we align them here.

    Call-site capture is not switched off here. Its conf
    (``spark.python.sql.dataFrameDebugging.enabled``) is static, so a
    live session rejects it, and a rejected set (an exception back
    through py4j) would be paid on every catalog call; PySpark also
    reads it only once per process, on the first ``Column`` call made
    with an active session, and caches it. It takes effect only from
    ``get_spark``'s builder.
    """
    for k, v in {
        "spark.sql.ansi.enabled": "false",
        # the events fixture carries TIMESTAMP(NANOS) parquet, which the
        # Spark 4 reader rejects; read as long + convert (see queries.load)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — leave as-is
    return spark


def local_frame(spark: SparkSession, data, schema=None) -> DataFrame:
    """A DataFrame over driver-held data, kept in the JVM.

    ``data`` is a ``pyarrow.Table`` or a list of rows (tuples, dicts or
    ``Row``s); ``schema`` is a ``StructType`` or DDL string, required
    for rows and inferred from the Arrow types for a table when None.
    Rows are converted with ``pa.Table.from_pylist`` against the Arrow
    form of the schema, so a naive ``datetime`` in a timestamp column is
    read as UTC, not as driver-local time.

    ``createDataFrame`` on a Python list plans a ``LogicalRDD`` over
    pickled rows, so every later action on it starts a Python-worker
    job. An Arrow table is parsed by the JVM into a ``LocalRelation``
    (a JVM Arrow RDD above ``spark.sql.execution.arrow.
    localRelationThreshold``), whatever the session's
    ``arrow.pyspark.enabled`` says. For a 25-row, 3-column frame on a
    warm ``local[4]`` session on a 4-vCPU VM (median of 10): a noop
    write takes 420 ms as a ``LogicalRDD`` and 46 ms as a
    ``LocalRelation`` (one job each); ``collect()`` takes 331 ms and one
    job against 7 ms and no job.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(data, pa.Table):
        names = st.names
        data = pa.Table.from_pylist(
            [
                r.asDict() if isinstance(r, Row) and hasattr(r, "__fields__")
                else r if isinstance(r, dict) else dict(zip(names, r))
                for r in data
            ],
            schema=to_arrow_schema(st),
        )
    return spark.createDataFrame(data, st)
