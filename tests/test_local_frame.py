"""session.local_frame: driver-held data as a JVM-side LocalRelation.

A frame built from a Python list with ``createDataFrame`` is a
``LogicalRDD`` over pickled rows, and every action on it starts a
Python-worker job. ``local_frame`` ships Arrow batches instead. These
tests pin the plan shape, the zero-job ``collect()``, the Arrow round
trip for every column type under a non-UTC driver time zone, parity
with ``createDataFrame`` for row input, and (by parsing the package)
that no other ``createDataFrame`` call brings the list path back.
"""

import ast
import datetime as dt
import decimal
import pathlib
import time

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from ezdata_spark.session import local_frame

PKG = pathlib.Path(__file__).resolve().parent.parent / "ezdata_spark"


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def _jobs(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_both_inputs_plan_local_relation_and_collect_without_jobs(spark):
    schema = "a long, b string"
    rows = [(i, f"s{i}") for i in range(25)]
    table = pa.table({"a": list(range(25)), "b": [f"s{i}" for i in range(25)]})
    for name, df in (("rows", local_frame(spark, rows, schema)),
                     ("table", local_frame(spark, table, schema))):
        plan = _plan(df)
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, name
        got = []
        assert _jobs(spark, lambda: got.extend(df.collect()), f"local-frame-{name}") == 0
        assert [tuple(r) for r in got] == rows


def test_table_without_schema_takes_arrow_types(spark):
    df = local_frame(spark, pa.table({"x": pa.array([1, 2], pa.int32()), "y": ["a", None]}))
    assert df.schema == T.StructType(
        [T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())]
    )
    assert df.collect() == [Row(x=1, y="a"), Row(x=2, y=None)]


@pytest.fixture
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_arrow_round_trip_is_lossless(spark, new_york_tz):
    # instants either side of a DST change; values built in SQL so the
    # source frame is not itself a driver-side list
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (TIMESTAMP'2021-03-14 06:59:59.123456', TIMESTAMP_NTZ'2021-03-14 02:30:00',
           DATE'2021-03-14', CAST(12345.67 AS DECIMAL(12,2)),
           CAST(1234567890123456789.0123 AS DECIMAL(30,4)), array(1.5D, NULL),
           named_struct('i', 1, 's', 'x'), map('k', 2L), X'00FF'),
          (TIMESTAMP'2021-11-07 05:30:00', TIMESTAMP_NTZ'2021-11-07 01:30:00',
           DATE'1969-12-31', CAST(-0.01 AS DECIMAL(12,2)),
           CAST(NULL AS DECIMAL(30,4)), array(), named_struct('i', NULL, 's', NULL),
           map(), X''),
          (NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        AS t(ts, ntz, d, dec, wide, arr, st, mp, bin)
        """
    )
    got = local_frame(spark, df.toArrow(), df.schema)
    assert got.schema == df.schema
    assert got.collect() == df.collect()


VOTABLE_SCHEMA = T.StructType(
    [T.StructField(n, t) for n, t in [
        ("flag", T.BooleanType()), ("sh", T.ShortType()), ("i", T.IntegerType()),
        ("l", T.LongType()), ("f", T.FloatType()), ("d", T.DoubleType()),
        ("s", T.StringType()), ("ai", T.ArrayType(T.IntegerType())),
        ("af", T.ArrayType(T.FloatType())), ("ad", T.ArrayType(T.DoubleType())),
        ("ab", T.ArrayType(T.BooleanType())), ("ash", T.ArrayType(T.ShortType())),
        ("al", T.ArrayType(T.LongType())), ("as_", T.ArrayType(T.StringType())),
    ]]
)

VOTABLE_ROWS = [
    [True, 3, -7, 2**40, 1.1, float("nan"), "ra", [1, 2], [0.5, 1.1], [2.5],
     [True, False], [1], [2**33], ["a", "b"]],
    [None] * 14,
    [False, -32768, 2**31 - 1, -(2**63), float("inf"), -0.0, "", [], [], [None],
     [None], [], [], [None, "c"]],
]


def test_rows_match_create_dataframe(spark):
    for rows in (VOTABLE_ROWS, []):
        want = spark.createDataFrame(rows, VOTABLE_SCHEMA)
        got = local_frame(spark, rows, VOTABLE_SCHEMA)
        assert got.schema == want.schema
        assert repr(got.collect()) == repr(want.collect())  # NaN-safe


def test_row_kinds_and_ddl_schema(spark):
    want = [Row(a=1, b="x"), Row(a=None, b="y")]
    for rows in ([(1, "x"), (None, "y")],
                 [{"a": 1, "b": "x"}, {"b": "y"}],
                 [Row(b="x", a=1), Row(a=None, b="y")]):
        assert local_frame(spark, rows, "a int, b string").collect() == want


def test_naive_datetime_rows_read_as_utc(spark):
    got = local_frame(spark, [(dt.datetime(2020, 1, 1, 12),)], "ts timestamp")
    want = spark.sql("SELECT TIMESTAMP'2020-01-01 12:00:00 UTC' AS ts")
    assert got.collect() == want.collect()
    assert local_frame(spark, [(decimal.Decimal("1.50"),)], "x decimal(4,2)").first()[0] == (
        decimal.Decimal("1.50")
    )


# -------------------------------------------------------------- guard
ALLOWED = {("session.py", "local_frame"), ("table.py", "EzTable.append_row")}


def _create_dataframe_sites():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))

        def visit(node, scope):
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    inner = scope + (child.name,)
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createDataFrame"
                ):
                    sites.append((path.name, ".".join(scope), child.lineno))
                visit(child, inner)

        visit(tree, ())
    return sites


def test_create_dataframe_only_in_allowed_places():
    sites = _create_dataframe_sites()
    # the scan itself must see the two allowed sites
    assert {(f, s) for f, s, _ in sites} >= ALLOWED
    stray = [site for site in sites if site[:2] not in ALLOWED]
    assert not stray, (
        f"createDataFrame outside session.local_frame / EzTable.append_row: {stray}; "
        "build driver-held frames with session.local_frame"
    )
