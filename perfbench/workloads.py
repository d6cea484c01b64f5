"""The benchmark's workloads: what each runs and how each result is checked.

A workload is a list of *units* — one or more statements that must run
back to back (a write and the read that follows it) — built from the
workload seed. Every run executes each unit once untimed (the warm-up,
where every distinct statement is checked against its oracle) and then
a fixed number of timed rounds, each over all units in a seeded order.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from checks import OracleCache, canonical, diff, duck_canonical, duck_connect
from datagen import TABLES as STAR


@dataclass
class Stmt:
    sid: str
    kind: str  # "entry" (registry DataFrame builder) | "read" | "meta" | "write"
    text: str  # registry entry name, or a HiveQL statement
    twin: list[str] = field(default_factory=list)  # DuckDB statement(s)
    live: bool = False  # expected rows re-derived from the mirror every time
    table: str | None = None  # write target
    values_only: bool = False  # compare values by position, not by column name
    contains: str | None = None  # meta statements: text the result must contain


class Workload:
    """What the runner needs from a workload; hooks default to no-ops."""

    name: str
    sf: float
    check_sf: float | None = None  # second dataset, for checks only
    round_s: float  # a warm round on 4 cores
    sf_dir: str
    units: list[list[Stmt]]
    paths: dict[str, str] = {}  # write target -> table directory

    def setup(self, tracer) -> None:
        """Timed set-up after the session is built (part of setup_s)."""

    def oracle_connection(self):
        return duck_connect(self.sf_dir, STAR)

    def expected(self, stmt: Stmt, con):
        """Canonical expected rows, or None when the warm-up result is
        the reference."""
        return duck_canonical(con, stmt.twin[0]) if stmt.twin else None

    def mirror_write(self, stmt: Stmt, con) -> int:
        raise NotImplementedError

    def after_round(self) -> list[str]:
        return []

    def post_checks(self) -> list[str]:
        return []

    def build(self, stmt: Stmt):
        """The statement's DataFrame: the layer under test builds it."""
        raise NotImplementedError


class LlmDedup(Workload):
    """Registry LLM-pipeline entries through their DataFrame builders.

    ``similarity_topk_lsh`` is the one entry whose plan still evaluates a
    pandas UDF (the LSH bucketer), so it carries the Python-worker layer.
    ``dedup_minhash_near_duplicates`` is left out to fit the run-time
    budget: jaccard and clusters run the same shingling and self-join."""

    name = "llm_dedup"
    sf = 0.05
    check_sf = 0.01
    round_s = 9.0
    ENTRIES = [
        "dedup_ngram_jaccard_pairs",
        "dedup_connected_clusters",
        "dedup_embedding_cosine_pairs",
        "text_tfidf_keywords",
        "similarity_topk_bruteforce",
        "similarity_topk_lsh",
        "chunk_documents_overlapping",
    ]
    # DuckDB needs 5-16 s for these at sf0.01 and minutes at the
    # workload's scale, so they are checked against the oracle at check_sf
    # after the timed rounds; at sf the warm-up result is the reference.
    QUADRATIC = {
        "dedup_ngram_jaccard_pairs",
        "dedup_connected_clusters",
    }

    def __init__(self, spark, data: dict[float, str], cache: OracleCache, rng):
        from hive_2_3_2_spark.suite import load_all

        self.spark = spark
        self.sf_dir = data[self.sf]
        self.check_dir = data[self.check_sf]
        self.cache = cache
        self.registry = load_all()
        self.units = [[Stmt(n, "entry", n)] for n in self.ENTRIES]

    def post_checks(self) -> list[str]:
        """Quadratic entries against DuckDB at check_sf; returns failures.
        Run after the timed rounds, so they find the JVM warm."""
        con = duck_connect(self.check_dir, STAR)
        errors = []
        try:
            for name in sorted(self.QUADRATIC):
                df = self.registry[name].fn(self.spark, self.check_dir)
                got = canonical(df.columns, df.collect())
                want = self.cache.get(con, self.registry[name].oracle, self.check_dir)
                problem = diff(want, got)
                if problem:
                    errors.append(f"{name} at sf{self.check_sf:g}: {problem}")
        finally:
            con.close()
        return errors

    def build(self, stmt: Stmt):
        return self.registry[stmt.text].fn(self.spark, self.sf_dir)

    def expected(self, stmt: Stmt, con):
        if stmt.text in self.QUADRATIC:
            return None  # warm-up result becomes the reference
        return self.cache.get(con, self.registry[stmt.text].oracle, self.sf_dir)



SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CUST_READ = (
    "SELECT count(*) AS n, sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents, "
    "count(DISTINCT c_nationkey) AS nations FROM cust_w"
)
ORD_READ = (
    "SELECT o_orderpriority, count(*) AS n, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents "
    "FROM ord_w GROUP BY o_orderpriority"
)


def hiveql_units(rng: random.Random) -> list[list[Stmt]]:
    """The seeded session script: HiveQL reads with ANSI twins, statements
    that launch no job, and writes each followed by a read of their
    table. Literals come from ``rng``."""
    # Literals vary with the seed, but moduli and ranges are fixed so that
    # every seed asks for about the same amount of work.
    seg = rng.choice(SEGMENTS)
    p1, p2 = rng.randint(440_000, 460_000), rng.randint(460_000, 480_000)
    r, x = rng.randrange(5), rng.randint(1, 8)
    year, year2, region, k = (
        rng.randint(1996, 1998), rng.randint(1998, 2000), rng.randrange(5),
        rng.randint(2, 3),
    )
    rollup = (
        "SELECT o_orderpriority, o_orderstatus, count(*) AS n, "
        "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents FROM orders "
        f"WHERE o_orderdate >= CAST('{year}-01-01' AS TIMESTAMP) "
        "GROUP BY o_orderpriority, o_orderstatus"
    )
    join_agg = (
        "SELECT n_name, count(*) AS n, sum(l_quantity) AS qty FROM lineitem "
        "JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE n_regionkey = {region} "
        f"AND l_shipdate < CAST('{year2}-06-01' AS TIMESTAMP) GROUP BY n_name"
    )
    ranked = (
        "SELECT c_nationkey, c_custkey, rk FROM (SELECT c_nationkey, c_custkey, "
        "rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rk "
        f"FROM customer) t WHERE rk <= {k}"
    )
    reads = [
        [
            Stmt("set_hivevar", "meta", f"SET hivevar:seg={seg}"),
            Stmt(
                "hivevar_select", "read",
                "SELECT c_nationkey, count(*) AS n FROM customer "
                "WHERE c_mktsegment = '${hivevar:seg}' GROUP BY c_nationkey",
                [f"SELECT c_nationkey, count(*) AS n FROM customer "
                 f"WHERE c_mktsegment = '{seg}' GROUP BY c_nationkey"],
            ),
        ],
        [Stmt(
            "distribute_sort", "read",
            f"SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > {p1} "
            "DISTRIBUTE BY o_custkey SORT BY o_custkey, o_totalprice",
            [f"SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > {p1}"],
        )],
        [Stmt(
            "lateral_explode", "read",
            "SELECT w, count(*) AS n FROM documents "
            f"LATERAL VIEW explode(split(text, ' ')) t AS w WHERE doc_id % 5 = {r} "
            "GROUP BY w",
            ["SELECT w, count(*) AS n FROM (SELECT unnest(string_split(text, ' ')) "
             f"AS w FROM documents WHERE doc_id % 5 = {r}) GROUP BY w"],
        )],
        [Stmt(
            "tablesample_bucket", "read",
            f"SELECT count(*) AS n FROM customer "
            f"TABLESAMPLE(BUCKET {x} OUT OF 8 ON c_custkey)",
            # Hive's bucket hash of a non-negative BIGINT below 2^31 is the
            # value itself
            [f"SELECT count(*) AS n FROM customer WHERE c_custkey % 8 = {x - 1}"],
        )],
        [Stmt(
            "with_rollup", "read", rollup + " WITH ROLLUP",
            [rollup.replace(
                "GROUP BY o_orderpriority, o_orderstatus",
                "GROUP BY ROLLUP (o_orderpriority, o_orderstatus)",
            )],
        )],
        [Stmt(
            "left_semi_join", "read",
            "SELECT c_custkey, c_name FROM customer c LEFT SEMI JOIN orders o "
            f"ON c.c_custkey = o.o_custkey AND o.o_totalprice > {p2}",
            ["SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM "
             f"orders o WHERE c.c_custkey = o.o_custkey AND o.o_totalprice > {p2})"],
        )],
        [Stmt("join_agg", "read", join_agg, [join_agg])],
        [Stmt("window_rank", "read", ranked, [ranked])],
        [Stmt(
            "describe", "meta", "DESCRIBE orders",
            ["SELECT column_name FROM (DESCRIBE orders)"], values_only=True,
        )],
        [Stmt("show_tables", "meta", "SHOW TABLES", contains="ord_w")],
        [Stmt(
            "show_partitions", "meta", "SHOW PARTITIONS ord_w",
            ["SELECT DISTINCT 'o_orderpriority=' || o_orderpriority FROM ord_w"],
            live=True, values_only=True,
        )],
        [Stmt(
            "explain", "meta",
            f"EXPLAIN SELECT count(*) FROM lineitem WHERE l_quantity > {k * 10}",
            contains="Scan",
        )],
    ]

    def write(sid, table, text, twin):
        read = CUST_READ if table == "cust_w" else ORD_READ
        return [
            Stmt(sid, "write", text, twin, live=True, table=table),
            Stmt(sid + "_read", "read", read, [read], live=True),
        ]

    key0 = 10_000_000 + 10 * rng.randrange(100_000)
    values = ", ".join(
        f"({key0 + i}, 'bench{i}', {rng.randrange(25)}, "
        f"{rng.randint(-99_999, 999_999) / 100:.2f}, '{rng.choice(SEGMENTS)}')"
        for i in range(rng.randint(2, 4))
    )
    insert = (
        "INSERT INTO cust_w (c_custkey, c_name, c_nationkey, c_acctbal, "
        f"c_mktsegment) VALUES {values}"
    )
    update = (
        f"UPDATE cust_w SET c_acctbal = c_acctbal + {rng.randint(1, 9)} "
        f"WHERE c_nationkey = {rng.randrange(25)}"
    )
    delete = f"DELETE FROM cust_w WHERE c_custkey % 89 = {rng.randrange(89)}"
    src = (
        "SELECT c_custkey AS k, c_acctbal AS bal FROM customer "
        f"WHERE c_custkey % 29 = {rng.randrange(29)}"
    )
    merge = (
        f"MERGE INTO cust_w t USING ({src}) s ON t.c_custkey = s.k "
        "WHEN MATCHED THEN UPDATE SET c_acctbal = s.bal + 1 "
        "WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal) "
        "VALUES (s.k, 'merged', s.bal)"
    )
    merge_twin = [
        f"UPDATE cust_w SET c_acctbal = s.bal + 1 FROM ({src}) s "
        "WHERE cust_w.c_custkey = s.k",
        f"INSERT INTO cust_w (c_custkey, c_name, c_acctbal) SELECT s.k, 'merged', "
        f"s.bal FROM ({src}) s WHERE NOT EXISTS "
        "(SELECT 1 FROM cust_w t WHERE t.c_custkey = s.k)",
    ]
    pu, pi = rng.sample(PRIORITIES, 2)
    p_update = (
        "UPDATE ord_w SET o_totalprice = o_totalprice * 1.01 "
        f"WHERE o_orderpriority = '{pu}' AND o_orderkey % 7 = {rng.randrange(7)}"
    )
    off, ri = 20_000_000 + 100_000 * rng.randrange(100), rng.randrange(61)
    p_insert = (
        f"INSERT INTO ord_w PARTITION (o_orderpriority='{pi}') "
        f"SELECT o_orderkey + {off}, o_custkey, o_orderstatus, o_totalprice, "
        f"o_orderdate FROM orders WHERE o_orderkey % 61 = {ri}"
    )
    p_insert_twin = (
        f"INSERT INTO ord_w SELECT o_orderkey + {off}, o_custkey, o_orderstatus, "
        f"o_totalprice, o_orderdate, '{pi}' FROM orders WHERE o_orderkey % 61 = {ri}"
    )
    writes = [
        write("insert_values", "cust_w", insert, [insert]),
        write("update", "cust_w", update, [update]),
        write("delete", "cust_w", delete, [delete]),
        write("merge", "cust_w", merge, merge_twin),
        write("update_partitioned", "ord_w", p_update, [p_update]),
        write("insert_partition", "ord_w", p_insert, [p_insert_twin]),
    ]
    return reads + writes


WRITE_KINDS = ("insert", "update", "delete", "merge")


def write_kind(text: str) -> str:
    head = text.lstrip().split(None, 1)[0].lower()
    return head if head in WRITE_KINDS else "insert"


class HiveqlSession(Workload):
    """An analyst's HiveQL session through ``Engine.sql``, with writes to
    two scratch tables mirrored into DuckDB."""

    name = "hiveql_session"
    sf = 0.01
    round_s = 10.0

    def __init__(self, spark, data: dict[float, str], cache: OracleCache, rng):
        self.spark = spark
        self.sf_dir = data[self.sf]
        self.units = hiveql_units(rng)
        self.engine = None
        self.mirror = None

    def setup(self, tracer) -> None:
        from hive_2_3_2_spark.catalog import load_table
        from hive_2_3_2_spark.engine import Engine

        with tracer.span("catalog.engine_init_s"):
            self.engine = Engine(self.spark, self.sf_dir)
        root = os.path.join(os.environ["SPARK_GRAFT_SCRATCH"], "dml")
        with tracer.span("fixtures.scratch_tables_s"):
            cust, orders = (os.path.join(root, t) for t in ("cust_w", "ord_w"))
            load_table(self.spark, self.sf_dir, "customer").repartition(2).write.parquet(cust)
            src = load_table(self.spark, self.sf_dir, "orders")
            src.repartition("o_orderpriority").write.partitionBy(
                "o_orderpriority"
            ).parquet(orders)
            self.engine.register_table("cust_w", cust)
            self.engine.register_table("ord_w", orders, ["o_orderpriority"])
        self.paths = {"cust_w": cust, "ord_w": orders}

    def oracle_connection(self):
        con = duck_connect(self.sf_dir, STAR)
        con.execute("CREATE TABLE cust_w AS SELECT * FROM customer")
        con.execute("CREATE TABLE ord_w AS SELECT * FROM orders")
        self.mirror = con
        return con

    def build(self, stmt: Stmt):
        return self.engine.sql(stmt.text)

    def mirror_write(self, stmt: Stmt, con) -> int:
        """Apply a write's twin(s) to the mirror; rows they affected."""
        return sum(con.execute(sql).fetchone()[0] for sql in stmt.twin)

    def after_round(self) -> list[str]:
        """Full table state of both scratch tables against the mirror."""
        errors = []
        for table in self.paths:
            df = self.engine.sql(f"SELECT * FROM {table}")
            got = canonical(df.columns, df.collect())
            want = duck_canonical(self.mirror, f"SELECT * FROM {table}")
            if got != want:
                errors.append(f"{table} state differs from the DuckDB mirror")
        return errors


WORKLOADS = {w.name: w for w in (LlmDedup, HiveqlSession)}
