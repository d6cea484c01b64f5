"""Driver-side rows as JVM local relations (``session.local_frame``).

In classic PySpark ``createDataFrame(<python list>)`` parallelizes the
rows through Python workers, so collecting the frame launches a Spark
job. ``local_frame`` builds an Arrow table instead, which the JVM turns
into a LocalRelation. These tests pin the three things that depend on
that: the helper yields exactly what the list path yields, the
statements answered on the driver launch no job, and no new
``createDataFrame`` call site can bring the job back.
"""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import inspect
import os
import re
import uuid

import pytest
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

import hive_2_3_2_spark
from hive_2_3_2_spark.engine import Engine
from hive_2_3_2_spark.session import local_frame
from hive_2_3_2_spark.sources import writers

_ALL_TYPES_DDL = (
    "s string, i int, b bigint, d double, f boolean, dec decimal(10,2), "
    "day date, ts timestamp, arr array<int>, m map<string,bigint>, "
    "st struct<x:int,y:string>"
)

_ALL_TYPES_ROWS = [
    (
        "a", 1, 2**40, 1.5, True, decimal.Decimal("12.34"),
        dt.date(2020, 2, 29), dt.datetime(2020, 2, 29, 23, 59, 58, 123456),
        [1, None, 3], {"k": 7, "n": None}, (5, "five"),
    ),
    (
        None, None, None, None, None, None, None, None, None, None, None,
    ),
    (
        "", -(2**31), -(2**63), float("-inf"), False,
        decimal.Decimal("-99999999.99"), dt.date(1, 1, 1),
        dt.datetime(1969, 12, 31, 23, 59, 59,
                    tzinfo=dt.timezone(dt.timedelta(hours=5))),
        [], {}, Row(x=None, y="row"),
    ),
    Row(
        s="r", i=0, b=0, d=0.0, f=None, dec=decimal.Decimal("0.50"),
        day=dt.datetime(2001, 1, 1, 12), ts=dt.datetime(2038, 1, 19, 3, 14, 8),
        arr=[None], m={"x": 1}, st={"x": 1, "y": None},
    ),
]


def _same_frames(a, b) -> None:
    assert a.schema == b.schema
    assert a.collect() == b.collect()


@pytest.mark.parametrize("rows", [_ALL_TYPES_ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_list_path_ddl(spark, rows):
    _same_frames(
        local_frame(spark, rows, _ALL_TYPES_DDL),
        spark.createDataFrame(rows, _ALL_TYPES_DDL),
    )


def test_local_frame_matches_list_path_struct_type(spark):
    schema = StructType([
        StructField("k", LongType(), False),
        StructField("name", StringType(), True),
        StructField(
            "tags", ArrayType(StringType(), containsNull=False), True
        ),
        StructField(
            "attrs", MapType(StringType(), DoubleType(), True), True
        ),
        StructField("nested", StructType([
            StructField("when", TimestampType(), True),
            StructField("on", DateType(), True),
            StructField("amount", DecimalType(38, 18), True),
            StructField("ok", BooleanType(), True),
            StructField("n", IntegerType(), True),
        ]), True),
    ])
    rows = [
        (1, "x", ["a", "b"], {"p": 0.25},
         (dt.datetime(2024, 3, 10, 2, 30), dt.date(2024, 3, 10),
          decimal.Decimal("1.000000000000000001"), True, 7)),
        (2, None, None, None, None),
        {"k": 3, "name": "dict", "tags": [], "attrs": {"q": None},
         "nested": {"when": None, "on": None, "amount": None,
                    "ok": False, "n": None}},
    ]
    for data in (rows, []):
        _same_frames(
            local_frame(spark, data, schema),
            spark.createDataFrame(data, schema),
        )


@pytest.mark.parametrize(
    "rows, ddl",
    [
        ([("x",)], "n bigint"),  # str into bigint
        ([(1.5,)], "n bigint"),  # Arrow alone would truncate to 1
        ([(True,)], "n double"),
        ([(2**31,)], "n int"),  # out of range
        ([({"a": 1},)], "a array<int>"),
        ([("2020-01-01",)], "d date"),
        ([([1, "a"],)], "a array<int>"),
        ([(1, 2)], "n bigint"),  # arity
    ],
)
def test_local_frame_rejects_what_the_list_path_rejects(spark, rows, ddl):
    with pytest.raises(Exception) as want:
        spark.createDataFrame(rows, ddl)
    with pytest.raises(type(want.value)):
        local_frame(spark, rows, ddl)


def test_local_frame_stringifies_like_the_jvm(spark):
    """The list path stores a non-string value in a string column as the
    JVM's toString of it."""
    values = [
        1, -(2**70), True, False, 1.0, -0.0, 0.001, 1234567.5, 1e7,
        1.5e-5, -2.5e300, float("nan"), float("inf"), float("-inf"),
        decimal.Decimal("1E+3"), decimal.Decimal("0.000000123"),
        decimal.Decimal("-12.50"), "s", None,
    ]
    ddl = (
        "s string, arr array<string>, m map<string,string>, "
        "st struct<v:string>"
    )
    rows = [(v, [v], {str(i): v}, (v,)) for i, v in enumerate(values)]
    _same_frames(
        local_frame(spark, rows, ddl), spark.createDataFrame(rows, ddl)
    )


def test_local_frame_rejects_null_in_non_nullable(spark):
    schema = StructType([StructField("k", LongType(), False)])
    with pytest.raises(Exception) as want:
        spark.createDataFrame([(None,)], schema)
    with pytest.raises(type(want.value)):
        local_frame(spark, [(None,)], schema)


# ---------------------------------------------------------------------------
# No job for statements answered on the driver.
# ---------------------------------------------------------------------------


def _stage_names(spark, fn) -> tuple[object, list[str]]:
    """Run ``fn`` under a fresh job group; return its result and the
    names of the stages of every job it launched."""
    sc = spark.sparkContext
    group = f"local-frame-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    names = []
    for job in sorted(tracker.getJobIdsForGroup(group)):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else []:
            sinfo = tracker.getStageInfo(stage)
            names.append(sinfo.name if sinfo else f"stage {stage}")
    return out, names


@pytest.fixture()
def dml_eng(spark, sf_dir, tmp_path):
    cust = str(tmp_path / "cust_w")
    orders = str(tmp_path / "ord_w")
    read = spark.read.parquet
    read(f"{sf_dir}/customer.parquet").limit(300).write.parquet(cust)
    read(f"{sf_dir}/orders.parquet").limit(600).write.partitionBy(
        "o_orderpriority"
    ).parquet(orders)
    eng = Engine(spark=spark)
    eng.register_table("cust_w", cust)
    eng.register_table("ord_w", orders, ["o_orderpriority"])
    return eng


def test_driver_side_statements_launch_no_job(spark, dml_eng):
    eng = dml_eng
    for stmt in ("SET hivevar:seg=BUILDING", "DESCRIBE ord_w",
                 "SHOW PARTITIONS ord_w"):
        _, stages = _stage_names(spark, eng.sql(stmt).collect)
        assert stages == [], stmt
    dml = [
        "INSERT INTO cust_w (c_custkey, c_name) VALUES (999001, 'ins')",
        "UPDATE cust_w SET c_acctbal = c_acctbal + 1 WHERE c_custkey % 7 = 0",
        "DELETE FROM cust_w WHERE c_custkey % 89 = 3",
        "MERGE INTO cust_w t USING (SELECT 5 AS k, 1.0 AS bal UNION ALL "
        "SELECT 999002 AS k, 2.0 AS bal) s ON t.c_custkey = s.k "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = s.bal + 1 "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal) "
        "VALUES (s.k, 'm', s.bal)",
        "UPDATE ord_w SET o_totalprice = o_totalprice * 1.01 "
        "WHERE o_orderkey % 5 = 0",
    ]
    for stmt in dml:
        rows, stages = _stage_names(spark, eng.sql(stmt).collect)
        assert stages == [], stmt
        assert len(rows) == 1 and rows[0].rows_affected >= 1, stmt


def test_partitioned_update_collects_only_its_discovery(spark, dml_eng):
    """The touched partitions reach _staged_rewrite as Python tuples:
    the one collect a partitioned UPDATE runs is _touched_partitions'
    grouped count."""
    _, names = _stage_names(spark, lambda: dml_eng.sql(
        "UPDATE ord_w SET o_totalprice = o_totalprice + 1 "
        "WHERE o_orderkey % 3 = 0"
    ))
    writers_file = os.path.basename(writers.__file__)
    collect_lines = [
        int(m.group(1))
        for n in names
        if (m := re.search(
            rf"^collect at .*{re.escape(writers_file)}:(\d+)$", n
        ))
    ]
    assert collect_lines, names  # the discovery job is still there
    src, first = inspect.getsourcelines(writers._touched_partitions)
    discovery = range(first, first + len(src))
    assert all(ln in discovery for ln in collect_lines), names


def test_static_partition_insert_evaluates_spec_without_job(spark, dml_eng):
    _, names = _stage_names(spark, lambda: dml_eng.sql(
        "INSERT OVERWRITE TABLE ord_w PARTITION (o_orderpriority='9-NEW') "
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate FROM ord_w WHERE o_orderkey < 50"
    ))
    assert not [n for n in names if n.startswith("first at ")], names
    parts = [r.partition for r in dml_eng.sql(
        "SHOW PARTITIONS ord_w"
    ).collect()]
    assert "o_orderpriority=9-NEW" in parts


def test_static_partition_spec_values_and_types(spark, tmp_path):
    """The VALUES-row evaluation of a static PARTITION spec keeps the
    FROM-less SELECT's values and types (casts, padding, NULLs)."""
    specs = {
        "int": "'007'",
        "bigint": "-12",
        "double": "'1e3'",
        "decimal(6,2)": "'3.14159'",
        "date": "'2024-02-29'",
        "timestamp": "'2024-02-29 10:11:12.5'",
        "string": "'a b'",
        "boolean": "'true'",
    }
    for typ, lit in specs.items():
        sql = f"SELECT CAST({lit} AS {typ})"
        want = spark.sql(sql)
        got = spark.sql(sql + " FROM VALUES (0)")
        assert got.schema == want.schema, typ
        assert got.first() == want.first(), typ


# ---------------------------------------------------------------------------
# Guard: one path from Python rows to a DataFrame.
# ---------------------------------------------------------------------------


def test_create_data_frame_only_in_local_frame():
    """``createDataFrame(`` over driver-side rows must go through
    ``session.local_frame``. Allowed elsewhere: the SequenceFile RDD
    bridge in sources/readers.py and the suite/ fixtures."""
    root = os.path.dirname(hive_2_3_2_spark.__file__)
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        rel_dir = os.path.relpath(dirpath, root)
        if rel_dir == "suite" or rel_dir.startswith("suite" + os.sep):
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.normpath(os.path.join(rel_dir, fn))
            if rel == os.path.join("sources", "readers.py"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                tree = ast.parse(f.read(), filename=rel)
            allowed: set[int] = set()
            if rel == "session.py":
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.FunctionDef)
                        and node.name == "local_frame"
                    ):
                        allowed |= {
                            n.lineno for n in ast.walk(node)
                            if hasattr(n, "lineno")
                        }
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "createDataFrame"
                    and node.lineno not in allowed
                ):
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == [], offenders
