"""Plan construction without Spark jobs.

``sources.parquet_meta.parquet_frame`` reads a single parquet file's
schema from its footer on the driver instead of letting Spark infer it
with a one-task job. Its schema must equal what inference returns for
every fixture table and for every physical encoding the catalog meets
(including Spark's own row metadata), ``queries.load`` must launch no
job, and a directory must still read through Spark. ``get_spark`` also
switches off PySpark's per-call DataFrame call-site capture.
"""

import datetime
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ezdata_spark.sources.parquet_meta import parquet_frame

PERFBENCH_DATA = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "data")


def _jobs_in(spark, group, fn):
    """Run ``fn`` in its own job group; return (result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_same_schema(spark, path):
    # StructField equality includes nullability and field metadata
    assert parquet_frame(spark, path).schema == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("tables", ["sf0.001", "sf0.01", "sf0.1", "perfbench"])
def test_footer_schema_matches_inference_on_fixture_tables(spark, sf_dir, tables):
    if tables == "perfbench":
        table_dir = PERFBENCH_DATA
    else:
        table_dir = os.path.join(os.path.dirname(sf_dir), tables)
    paths = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
    assert paths, table_dir
    for p in paths:
        _assert_same_schema(spark, p)


@pytest.mark.parametrize(
    "ts_type",
    [pa.timestamp("us"), pa.timestamp("us", tz="UTC"), pa.timestamp("ns")],
    ids=["micros_ntz", "micros_utc", "nanos"],
)
def test_footer_schema_matches_inference_on_event_ts_encodings(spark, tmp_path, ts_type):
    """The three events.ts encodings of test_ntz_ingest.py: TIMESTAMP_NTZ,
    TIMESTAMP and (under nanosAsLong) bigint must all come out as
    inference reads them, so queries.load's normalisation still fires."""
    p = str(tmp_path / "events.parquet")
    ts = [datetime.datetime(2026, 1, 1, h) for h in range(3)]
    pq.write_table(
        pa.table({"event_id": pa.array([0, 1, 2], pa.int64()), "ts": pa.array(ts, ts_type)}),
        p,
        version="2.6",
    )
    _assert_same_schema(spark, p)


def test_footer_schema_matches_inference_on_nested_and_logical_types(spark, tmp_path):
    p = str(tmp_path / "types.parquet")
    tbl = pa.table(
        {
            "d": pa.array([datetime.date(2026, 1, 1), None], pa.date32()),
            "dec": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(12, 2)),
            "wide": pa.array([decimal.Decimal("1.5"), None], pa.decimal128(30, 4)),
            "bin": pa.array([b"\x00\xff", None], pa.binary()),
            "vec": pa.array([[1.0, 2.5], None], pa.list_(pa.float32())),
            "st": pa.array(
                [{"a": 1, "b": "x"}, None], pa.struct([("a", pa.int32()), ("b", pa.string())])
            ),
            "small": pa.array([1, None], pa.int8()),
        }
    )
    pq.write_table(tbl, p)
    _assert_same_schema(spark, p)
    assert [tuple(r) for r in parquet_frame(spark, p).collect()] == [
        tuple(r) for r in spark.read.parquet(p).collect()
    ]


def test_footer_schema_keeps_spark_field_metadata(spark, tmp_path):
    """A file Spark wrote carries the StructField metadata (units,
    descriptions, the table-level header) in its footer; read as a
    single file it must survive ``parquet_meta.read_parquet``."""
    from ezdata_spark import EzTable
    from ezdata_spark.sources.parquet_meta import read_parquet, write_parquet

    df = spark.createDataFrame([(1.0, 2.0), (3.0, 4.0)], "ra double, dec double").coalesce(1)
    t = EzTable(
        df,
        header={"survey": "test"},
        units={"ra": "deg", "dec": "deg"},
        desc={"ra": "right ascension"},
    )
    out = str(tmp_path / "meta")
    write_parquet(t, out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    _assert_same_schema(spark, part)
    for path in (part, out):
        back = read_parquet(spark, path)
        assert back.unit("ra") == "deg" and back.unit("dec") == "deg", path
        assert back.comment("ra") == "right ascension", path
        assert back.header == {"survey": "test"}, path


def test_load_launches_no_spark_job(spark, sf_dir):
    from ezdata_spark.queries import load

    df, jobs = _jobs_in(spark, "footer-load", lambda: load(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{sf_dir}/lineitem.parquet").schema


def test_directory_still_reads_through_spark(spark, tmp_path):
    out = str(tmp_path / "dir")
    spark.range(10).selectExpr("id", "id * 2 AS twice").repartition(2).write.parquet(out)
    df, jobs = _jobs_in(spark, "footer-dir", lambda: parquet_frame(spark, out))
    assert jobs >= 1  # Spark's own schema inference over the part files
    assert df.schema == spark.read.parquet(out).schema
    assert sorted(r.twice for r in df.collect()) == [2 * i for i in range(10)]


def test_get_spark_turns_off_call_site_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    from ezdata_spark.session import get_spark

    assert get_spark("ezdata-tests", shuffle_partitions=8) is spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
