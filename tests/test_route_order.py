"""Dispatch lock for Engine.sql: one statement per pair of dispatch
steps whose patterns overlap.

Each case runs a statement through a fresh Engine and pins which
handler answered it (the first ``_run_*`` / ``_explain_dml`` /
``_describe_catalog_with_constraints`` method entered, or ``None`` when
no engine handler ran and Spark answered), plus the result schema and
rows. A reordering of the dispatch steps that changes which of two
overlapping steps wins moves one of these.
"""

from __future__ import annotations

import os

import pytest

from hive_2_3_2_spark.engine import Engine, HiveQLUnsupportedError

# Handlers the lock observes: the first of these entered is the route.
_HANDLERS = (
    "_run_set", "_run_explain_analyze", "_run_explain_dependency",
    "_explain_dml", "_run_show_view_partitions", "_run_show_partitions",
    "_run_describe", "_describe_catalog_with_constraints", "_run_insert",
    "_run_insert_catalog", "_run_multi_insert", "_run_drop_view",
    "_run_drop_table", "_run_create_temp_table", "_run_alter_view_rename",
    "_run_alter_view", "_run_create_macro", "_run_create_view",
    "_run_insert_directory", "_run_show_create",
)


def _spy(eng: Engine) -> list[str]:
    calls: list[str] = []
    for name in _HANDLERS:
        fn = getattr(eng, name)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            calls.append(_name)
            return _fn(*a, **kw)

        setattr(eng, name, wrapped)
    return calls


def _route(eng: Engine, calls: list[str], stmt: str):
    """Run ``stmt``; return (first handler, columns, sorted rows)."""
    del calls[:]
    df = eng.sql(stmt)
    rows = sorted((tuple(r) for r in df.collect()), key=repr)
    return (calls[0] if calls else None), df.columns, rows


@pytest.fixture()
def env(spark, tmp_path):
    """A fresh Engine with one registered partitioned table ``ro_reg``
    (k int, v string, p string; partitions p=a, p=b), one catalog
    table ``ro_cat`` and a clean-up of everything the cases create."""
    reg = str(tmp_path / "ro_reg")
    spark.createDataFrame(
        [(1, "x", "a"), (2, "y", "a"), (3, "z", "b")],
        "k int, v string, p string",
    ).write.partitionBy("p").parquet(reg)
    eng = Engine(spark=spark)
    eng.register_table("ro_reg", reg, ["p"])
    spark.sql("DROP TABLE IF EXISTS ro_cat")
    spark.sql("CREATE TABLE ro_cat (k INT, v STRING) USING parquet")
    calls = _spy(eng)
    yield eng, calls, tmp_path
    for t in ("ro_cat", "ro_cat2", "ro_cns"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for v in ("ro_v", "ro_v2", "ro_cv", "ro_tt_using", "ro_tt_as"):
        spark.sql(f"DROP VIEW IF EXISTS {v}")


def test_set_paren_falls_through_to_spark(env):
    eng, calls, _ = env
    assert _route(eng, calls, "SET ro.k=5")[0] == "_run_set"
    assert _route(eng, calls, "SET ro.k") == (
        "_run_set", ["name", "value"], [("ro.k", "5")]
    )
    # ``SET (`` is not SetProcessor's: Spark parses (and rejects) it
    del calls[:]
    with pytest.raises(Exception, match="INVALID_SET_SYNTAX"):
        eng.sql("SET (ro_k) = (SELECT 7)")
    assert calls == []


def test_explain_variants(env):
    eng, calls, _ = env
    q = "SELECT k FROM ro_reg WHERE p = 'a'"
    assert _route(eng, calls, f"EXPLAIN ANALYZE {q}")[0] == (
        "_run_explain_analyze"
    )
    route, cols, rows = _route(eng, calls, f"EXPLAIN DEPENDENCY {q}")
    assert (route, cols) == (
        "_run_explain_dependency", ["explain_dependency"]
    )
    assert "ro_reg" in rows[0][0]
    # an intercepted DML statement: the engine's stage breakdown
    route, cols, rows = _route(
        eng, calls, "EXPLAIN INSERT INTO ro_reg PARTITION (p='c') SELECT 9, 'q'"
    )
    assert route == "_explain_dml" and cols == ["plan"]
    assert "Stage" in "\n".join(r[0] for r in rows)
    # a SELECT: _explain_dml declines, Spark's EXPLAIN answers
    route, cols, rows = _route(eng, calls, f"EXPLAIN {q}")
    assert (route, cols) == ("_explain_dml", ["plan"])
    assert "Physical Plan" in rows[0][0]
    assert "Stage" not in rows[0][0]


def test_show_partitions_view_vs_registered(env):
    eng, calls, _ = env
    eng.sql(
        "CREATE VIEW ro_v PARTITIONED ON (p) AS SELECT k, p FROM ro_reg"
    )
    eng.sql("ALTER VIEW ro_v ADD PARTITION (p='a')")
    assert _route(eng, calls, "SHOW PARTITIONS ro_v") == (
        "_run_show_view_partitions", ["partition"], [("p=a",)]
    )
    assert _route(eng, calls, "SHOW PARTITIONS ro_reg") == (
        "_run_show_partitions", ["partition"], [("p=a",), ("p=b",)]
    )


def test_describe_registered_vs_catalog_with_constraints(env, spark):
    eng, calls, _ = env
    route, cols, rows = _route(eng, calls, "DESCRIBE ro_reg")
    assert route == "_run_describe"
    assert cols == ["col_name", "data_type", "comment"]
    assert ("k", "int", None) in rows
    eng.sql(
        "CREATE TABLE ro_cns (a STRING, b STRING, "
        "PRIMARY KEY (a) DISABLE NOVALIDATE) STORED AS PARQUET"
    )
    route, cols, rows = _route(eng, calls, "DESCRIBE EXTENDED ro_cns")
    assert route == "_describe_catalog_with_constraints"
    assert any(r[0] == "Constraints" for r in rows)
    # without EXTENDED the catalog table falls through to Spark
    route, cols, rows = _route(eng, calls, "DESCRIBE ro_cns")
    assert route is None
    assert not any(r[0] == "Constraints" for r in rows)


def test_insert_if_not_exists_on_existing_partition(env):
    eng, calls, _ = env
    # the body would fail if it ran: the existing partition skips it
    stmt = (
        "INSERT OVERWRITE TABLE ro_reg PARTITION (p='a') IF NOT EXISTS "
        "SELECT CAST(raise_error('body ran') AS INT), 'w'"
    )
    assert _route(eng, calls, stmt) == (None, ["rows_affected"], [(0,)])
    assert eng.sql("SELECT count(*) AS n FROM ro_reg").collect()[0].n == 3
    # a missing partition: the guard is stripped, the insert runs
    route, _, rows = _route(
        eng, calls,
        "INSERT OVERWRITE TABLE ro_reg PARTITION (p='c') IF NOT EXISTS "
        "SELECT 4, 'w'",
    )
    assert (route, rows) == ("_run_insert", [(1,)])


def test_insert_registered_vs_catalog_vs_view(env):
    eng, calls, _ = env
    assert _route(
        eng, calls, "INSERT INTO ro_reg PARTITION (p='b') SELECT 5, 'u'"
    ) == ("_run_insert", ["rows_affected"], [(1,)])
    assert _route(
        eng, calls, "INSERT INTO ro_cat SELECT '6', 'u'"
    ) == ("_run_insert_catalog", ["rows_affected"], [(1,)])
    assert eng.sql("SELECT k FROM ro_cat").collect()[0].k == 6
    eng.sql("CREATE VIEW ro_v AS SELECT k FROM ro_reg")
    del calls[:]
    with pytest.raises(Exception):
        eng.sql("INSERT INTO ro_v SELECT 7")
    assert calls == []


def test_with_insert_folds_cte_into_registered_insert(env):
    eng, calls, _ = env
    route, cols, rows = _route(
        eng, calls,
        "WITH c AS (SELECT 8 AS k, 't' AS v) "
        "INSERT INTO ro_reg PARTITION (p='b') SELECT k, v FROM c",
    )
    assert (route, cols, rows) == ("_run_insert", ["rows_affected"], [(1,)])
    assert eng.sql(
        "SELECT v FROM ro_reg WHERE k = 8"
    ).collect()[0].v == "t"


def test_multi_insert_mixes_directory_and_table_sinks(env):
    eng, calls, tmp_path = env
    out = str(tmp_path / "ro_dir")
    route, cols, _ = _route(
        eng, calls,
        "FROM ro_reg "
        "INSERT INTO TABLE ro_cat SELECT k, v WHERE k < 3 "
        f"INSERT OVERWRITE DIRECTORY '{out}' SELECT v WHERE k >= 3",
    )
    assert route == "_run_multi_insert"
    assert sorted(
        r.k for r in eng.sql("SELECT k FROM ro_cat").collect()
    ) == [1, 2]
    assert any(not f.startswith((".", "_")) for f in os.listdir(out))


def test_drop_view_and_table_fall_through_to_spark(env, spark):
    eng, calls, _ = env
    spark.sql("CREATE OR REPLACE VIEW ro_cv AS SELECT 1 AS a")
    assert _route(eng, calls, "DROP VIEW ro_cv")[0] == "_run_drop_view"
    assert not spark.catalog.tableExists("ro_cv")
    spark.sql("CREATE TABLE ro_cat2 (a INT) USING parquet")
    assert _route(eng, calls, "DROP TABLE ro_cat2")[0] == "_run_drop_table"
    assert not spark.catalog.tableExists("ro_cat2")
    # the registered table is the engine's own drop
    assert _route(eng, calls, "DROP TABLE ro_reg") == (
        "_run_drop_table", ["rows_affected"], [(0,)]
    )
    assert "ro_reg" not in eng.table_paths


def test_create_temp_table_using_before_vs_after_as(env, spark):
    eng, calls, _ = env
    # USING before AS: Spark's native datasource form, which Spark
    # itself rejects for a temporary table
    del calls[:]
    with pytest.raises(Exception, match="CREATE TEMPORARY VIEW"):
        eng.sql(
            "CREATE TEMPORARY TABLE ro_tt_using USING parquet "
            "AS SELECT 1 AS k"
        )
    assert calls == []
    # USING after AS is the body's join clause: Hive's temp table
    assert _route(
        eng, calls,
        "CREATE TEMPORARY TABLE ro_tt_as AS SELECT a.k, b.v "
        "FROM ro_reg a JOIN ro_reg b USING (k)",
    )[0] == "_run_create_temp_table"
    assert "ro_tt_as" in eng.temp_tables
    assert eng.sql("SELECT count(*) AS n FROM ro_tt_as").collect()[0].n == 3
    eng.sql("DROP TABLE ro_tt_as")


def test_alter_view_rename_vs_as(env):
    eng, calls, _ = env
    eng.sql("CREATE VIEW ro_v AS SELECT k FROM ro_reg")
    assert _route(eng, calls, "ALTER VIEW ro_v AS SELECT v FROM ro_reg") == (
        "_run_alter_view", ["rows_affected"], [(0,)]
    )
    assert eng.sql("SELECT * FROM ro_v").columns == ["v"]
    assert _route(eng, calls, "ALTER VIEW ro_v RENAME TO ro_v2")[0] == (
        "_run_alter_view_rename"
    )
    assert "ro_v2" in eng.views and "ro_v" not in eng.views
    assert eng.sql("SELECT count(*) AS n FROM ro_v2").collect()[0].n == 3


def test_macro_used_after_create(env):
    eng, calls, _ = env
    assert _route(
        eng, calls, "CREATE TEMPORARY MACRO ro_sq(x INT) x * x"
    )[0] == "_run_create_macro"
    assert _route(eng, calls, "SELECT ro_sq(k) AS s FROM ro_reg") == (
        None, ["s"], [(1,), (4,), (9,)]
    )
    # the macro is expanded inside a routed statement's body too
    assert _route(
        eng, calls, "INSERT INTO ro_cat SELECT ro_sq(k), v FROM ro_reg"
    ) == ("_run_insert_catalog", ["rows_affected"], [(3,)])
    assert sorted(
        r.k for r in eng.sql("SELECT k FROM ro_cat").collect()
    ) == [1, 4, 9]


def test_dml_on_registered_vs_catalog_target(env):
    eng, calls, _ = env
    assert _route(eng, calls, "DELETE FROM ro_reg WHERE k = 1") == (
        None, ["rows_affected"], [(1,)]
    )
    assert _route(eng, calls, "UPDATE ro_reg SET v = 'n' WHERE k = 2") == (
        None, ["rows_affected"], [(1,)]
    )
    assert sorted(
        tuple(r) for r in eng.sql("SELECT k, v FROM ro_reg").collect()
    ) == [(2, "n"), (3, "z")]
    # a catalog target falls through to Spark, which has no v1 DELETE
    with pytest.raises(Exception):
        eng.sql("DELETE FROM ro_cat WHERE k = 1")


def test_empty_acid_surfaces_and_touch(env):
    eng, calls, _ = env
    for stmt, first in (
        ("SHOW LOCKS", "lockid"),
        ("SHOW TRANSACTIONS", "txnid"),
        ("SHOW COMPACTIONS", "compactionid"),
    ):
        df = eng.sql(stmt)
        assert df.columns[0] == first and df.collect() == []
    assert _route(eng, calls, "ALTER TABLE ro_reg TOUCH PARTITION (p='a')") == (
        None, ["rows_affected"], [(0,)]
    )
    with pytest.raises(HiveQLUnsupportedError, match="no such partition"):
        eng.sql("ALTER TABLE ro_reg TOUCH PARTITION (p='zz')")
    assert _route(eng, calls, "ALTER TABLE ro_cat TOUCH")[2] == [(0,)]


def test_show_create_view_vs_registered(env):
    eng, calls, _ = env
    eng.sql("CREATE VIEW ro_v AS SELECT k FROM ro_reg")
    route, cols, rows = _route(eng, calls, "SHOW CREATE TABLE ro_v")
    assert route == "_run_show_create" and "ro_v" in rows[0][0]
    assert _route(eng, calls, "SHOW CREATE TABLE ro_reg")[0] == (
        "_run_show_create"
    )
