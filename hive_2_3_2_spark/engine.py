"""Engine facade — the single entry point a reference user would switch to.

Collapses the reference's three front-ends (CLI ``CliDriver.java:94``,
HiveServer2 ``SQLOperation.java:91``, programmatic ``Driver.java:1371``;
SURVEY.md §3) into one in-process API:

    eng = Engine(sf_dir="/root/testdata/sf0.01")
    eng.sql("SELECT ... FROM lineitem ...")     # HiveQL-compatible SQL
    eng.table("lineitem")                        # DataFrame handle

Spark's SQL parser natively accepts the Hive dialect the reference's ANTLR
grammar defines (parse/HiveParser.g) — LATERAL VIEW, DISTRIBUTE/SORT/
CLUSTER BY, GROUPING SETS, TRANSFORM — so ``sql()`` is a direct pass-through
plus a tiny rewriter for the few Hive-isms Spark rejects.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from hive_2_3_2_spark.catalog import (
    ensure_engine_confs,
    note_view_override,
    register_star_schema,
)
from hive_2_3_2_spark.session import get_spark, local_frame


class HiveQLUnsupportedError(NotImplementedError):
    """A HiveQL construct this engine deliberately does not emulate —
    raised with a precise reason instead of letting Spark produce a
    generic parse/analysis error (or, worse, silently wrong rows)."""


# Hive: FROM t TABLESAMPLE(BUCKET x OUT OF y ON col) [alias]
#   → inline filtered subquery with a deterministic modulo predicate
#   (genSamplePredicate, parse/SemanticAnalyzer.java:10268). Hive's bucket
#   hash of an integral column IS the value (ObjectInspectorUtils.hashCode),
#   so pmod(col, y) = x-1 reproduces Hive's exact bucket row set for int
#   keys. Non-integral keys use Java String.hashCode — NOT reproduced;
#   Engine.sql raises HiveQLUnsupportedError rather than silently
#   returning a different row set. The subquery form (rather than an
#   appended WHERE) stays valid with existing WHERE clauses, aliases and
#   following joins.
_TABLESAMPLE = re.compile(
    r"([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)"
    r"\s+ON\s+(rand\s*\(\s*\)|[\w.]+)\s*\)"
    r"(\s+(?:AS\s+)?(?!WHERE|GROUP|ORDER|JOIN|ON|LEFT|"
    r"RIGHT|FULL|INNER|CROSS|UNION|LIMIT|HAVING\b)(\w+))?",
    re.IGNORECASE,
)

_INTEGRAL_TYPES = {"byte", "short", "int", "integer", "long", "bigint",
                   "smallint", "tinyint"}

# the ON-less form: the sampling column comes from the table's
# CLUSTERED BY spec (resolved in rewrite_hiveql, which can see the
# catalog); the trailing alias group mirrors _TABLESAMPLE
_TABLESAMPLE_NOON = re.compile(
    r"([\w.]+)\s+TABLESAMPLE\s*\(\s*BUCKET\s+(\d+)\s+OUT\s+OF\s+(\d+)"
    r"\s*\)(\s+(?:AS\s+)?(?!WHERE|GROUP|ORDER|JOIN|ON|LEFT|"
    r"RIGHT|FULL|INNER|CROSS|UNION|LIMIT|HAVING\b)(\w+))?",
    re.IGNORECASE,
)


def _rewrite_tablesample(m: re.Match[str], col_type: str | None = None) -> str:
    table, x, y, col = m.group(1), m.group(2), m.group(3), m.group(4)
    alias = m.group(6) or table.split(".")[-1]
    bare_col = col.split(".")[-1]
    if re.match(r"rand\s*\(", col, re.IGNORECASE):
        # ON rand() (sample1.q/sample10.q): a uniform 1-in-y row
        # sample — Hive buckets the random double's hashCode; any
        # uniform 1/y predicate is the same distribution, and the
        # result is nondeterministic by construction either way
        pred = f"floor(rand() * {y}) = {int(x) - 1}"
    elif col_type == "string":
        # Hive buckets strings with the signed-UTF-8-byte fold
        # (ObjectInspectorUtils.hashCode:673) then
        # (hash & Integer.MAX_VALUE) % y (getBucketNumber:625) —
        # hive_bucket_hash reproduces the fold exactly.
        pred = f"(hive_bucket_hash({bare_col}) & 2147483647) % {y} = {int(x) - 1}"
    else:
        pred = f"pmod({bare_col}, {y}) = {int(x) - 1}"
    return f"(SELECT * FROM {table} WHERE {pred}) {alias}"


# Other Hive-isms Spark's parser rejects → portable rewrites. Kept
# deliberately small: almost all of HiveQL parses natively in Spark SQL.
_REWRITES: list[tuple[re.Pattern[str], str]] = [
    # Hive virtual columns (parse/VirtualColumn.java): INPUT__FILE__NAME
    # maps 1:1 to Spark's input_file_name(). BLOCK__OFFSET__INSIDE__FILE /
    # ROW__OFFSET__INSIDE__BLOCK have no parquet-scan equivalent in Spark
    # (the closest row-identity primitive is monotonically_increasing_id,
    # a different contract) — HiveQLUnsupportedError below.
    (
        re.compile(r"\bINPUT__FILE__NAME\b", re.IGNORECASE),
        "input_file_name()",
    ),
    # Legacy GROUPING__ID virtual column == Spark's grouping_id():
    # Hive 2.3 builds the id big-endian with set bits marking NULLED
    # keys (exec/GroupByOperator.java:181 groupingSet2BitSet, :776
    # nextClearBit keeps cleared positions), i.e. first grouping column
    # = most significant bit, 1 = aggregated — exactly Spark's
    # semantics (the pre-2.3 reversed encoding was already fixed in the
    # reference).
    # (the backtick-quoted `grouping__id` form the goldens also use
    # must consume the quotes, or the rewrite would produce a quoted
    # IDENTIFIER named "grouping_id()")
    (
        re.compile(r"`?\bGROUPING__ID\b`?", re.IGNORECASE),
        "grouping_id()",
    ),
    # Hive's "GROUP BY ()" — the explicit empty grouping set
    # (groupby_empty.q; SemanticAnalyzer treats it as one global
    # group). Spark's parser rejects the bare form but accepts the
    # equivalent GROUPING SETS spelling.
    (
        re.compile(r"\bGROUP\s+BY\s+\(\s*\)", re.IGNORECASE),
        "GROUP BY GROUPING SETS (())",
    ),
    # Hive's MySQL-style "LIMIT offset,count" (HiveParser limitClause;
    # offset_limit.q goldens) — Spark only takes LIMIT n [OFFSET m].
    (
        re.compile(r"\bLIMIT\s+(\d+)\s*,\s*(\d+)", re.IGNORECASE),
        lambda m: f"LIMIT {m.group(2)} OFFSET {m.group(1)}",
    ),
    # Hive permits UNORDERED ranking windows — row_number() over() etc.
    # (windowing_navfn.q line 1). Spark requires an ORDER BY, so supply
    # one that reproduces Hive's semantics (WindowingSpec.ensureOrderSpec
    # implicitly orders by the PARTITION keys):
    #   - row_number/ntile are order-agnostic (any numbering is valid) —
    #     monotonically_increasing_id gives an arbitrary total order;
    #   - rank/dense_rank/percent_rank/cume_dist are PEER-sensitive:
    #     ordering by the partition keys makes every row in a partition
    #     a peer, so Hive returns rank=1 / dense_rank=1 / percent_rank=0
    #     / cume_dist=1 for all rows — an arbitrary total order would
    #     silently return distinct 1..n instead. With no partition keys
    #     a constant sort key makes the whole frame one peer group.
    # Aggregate windows (sum(x) over()) are untouched: empty OVER is
    # valid there and adding an order would change the default frame.
    (
        re.compile(
            r"\b(row_number\s*\(\s*\)|ntile\s*\([^)]*\))\s+over\s*\(\s*\)",
            re.IGNORECASE,
        ),
        lambda m: (
            f"{m.group(1)} over (order by monotonically_increasing_id())"
        ),
    ),
    (
        re.compile(
            r"\b((?:rank|dense_rank|percent_rank|cume_dist)\s*\(\s*\))"
            r"\s+over\s*\(\s*\)",
            re.IGNORECASE,
        ),
        lambda m: f"{m.group(1)} over (order by '__hive_all_peers')",
    ),
    # Same contract for PARTITION BY without ORDER BY (ptfgroupbyjoin.q:
    # row_number() over (partition by id, fkey)). Paren-free partition
    # lists only (expression partition keys with an ORDER BY already
    # parse fine in Spark).
    (
        re.compile(
            r"\b(row_number\s*\(\s*\)|ntile\s*\([^)]*\))\s+over\s*\(\s*"
            r"(partition\s+by\s+(?:(?!order\s+by)[^()])*?)\s*\)",
            re.IGNORECASE,
        ),
        lambda m: (
            f"{m.group(1)} over ({m.group(2)} "
            "order by monotonically_increasing_id())"
        ),
    ),
    (
        re.compile(
            r"\b((?:rank|dense_rank|percent_rank|cume_dist)\s*\(\s*\))"
            r"\s+over\s*\(\s*"
            r"(partition\s+by\s+((?:(?!order\s+by)[^()])*?))\s*\)",
            re.IGNORECASE,
        ),
        lambda m: (
            f"{m.group(1)} over ({m.group(2)} order by {m.group(3)})"
        ),
    ),
]

_UNSUPPORTED_VIRTUAL = re.compile(
    r"\b(BLOCK__OFFSET__INSIDE__FILE|ROW__OFFSET__INSIDE__BLOCK)\b",
    re.IGNORECASE,
)

# Hive storage-format DDL → Spark datasource DDL. Without Hive catalog
# support Spark rejects STORED AS outright (NOT_SUPPORTED_COMMAND_WITHOUT_
# HIVE_SUPPORT), but every format the reference's DDL names (SURVEY §2.2)
# has a native Spark datasource; ROW FORMAT DELIMITED's field terminator
# becomes the csv ``sep`` option (Hive default delimiter is \x01).
#: ROW FORMAT DELIMITED with Hive's full clause menu (LazySimpleSerDe
#: parameters — serde2/lazy/LazySimpleSerDe.java): fields/escape/
#: lines/null map onto Spark csv options; collection/map-keys
#: delimiters imply nested types inside text, which Spark's csv source
#: cannot express (typed error).
_ROW_FORMAT_DELIM = re.compile(
    r"ROW\s+FORMAT\s+DELIMITED"
    r"((?:\s+(?:FIELDS\s+TERMINATED\s+BY\s+'[^']*'"
    r"(?:\s+ESCAPED\s+BY\s+'[^']*')?"
    r"|COLLECTION\s+ITEMS\s+TERMINATED\s+BY\s+'[^']*'"
    r"|MAP\s+KEYS\s+TERMINATED\s+BY\s+'[^']*'"
    r"|LINES\s+TERMINATED\s+BY\s+'[^']*'"
    r"|NULL\s+DEFINED\s+AS\s+'[^']*'))*)"
    r"(\s+STORED\s+AS\s+(?:TEXTFILE\b"
    r"|INPUTFORMAT\s+'[^']+'\s+OUTPUTFORMAT\s+'[^']+'))?",
    re.IGNORECASE,
)
#: STORED AS words whose serde comes from the file format itself — Hive
#: ignores a preceding ROW FORMAT DELIMITED clause for these (the
#: delimiters only ever reach LazySimpleSerDe, i.e. text tables; a
#: STORED AS INPUTFORMAT spelling names classes but NOT a serde, so
#: text input formats keep honoring the delimiters).
_BINARY_STORED_AS = frozenset(
    {"ORC", "PARQUET", "AVRO", "RCFILE", "SEQUENCEFILE", "JSONFILE"}
)
_ROW_FORMAT_SERDE = re.compile(
    r"ROW\s+FORMAT\s+SERDE\s+'([^']+)'"
    r"(\s+WITH\s+SERDEPROPERTIES\s*\(([^)]*)\))?"
    r"(\s+STORED\s+AS\s+(?:INPUTFORMAT\s+'[^']+'\s+"
    r"OUTPUTFORMAT\s+'[^']+'|\w+))?",
    re.IGNORECASE,
)
_STORED_AS_IOF = re.compile(
    r"STORED\s+AS\s+INPUTFORMAT\s+'([^']+)'\s+"
    r"OUTPUTFORMAT\s+'([^']+)'",
    re.IGNORECASE,
)
#: serde class → Spark USING clause (the same physical-format map the
#: ALTER SET SERDE path validates against)
_SERDE_CLASS_USING = {
    "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe":
        "USING parquet",
    "org.apache.hadoop.hive.ql.io.orc.OrcSerde": "USING orc",
    "org.apache.hadoop.hive.serde2.avro.AvroSerDe": "USING avro",
    "org.apache.hive.hcatalog.data.JsonSerDe": "USING json",
    "org.apache.hadoop.hive.serde2.JsonSerDe": "USING json",
    "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe":
        "USING csv OPTIONS (sep '\x01', nullValue '\\\\N')",
    "org.apache.hadoop.hive.serde2.OpenCSVSerde": "USING csv",
}
_IOF_CLASS_FORMAT = (
    ("parquet", "USING parquet"),
    ("orc", "USING orc"),
    ("avro", "USING avro"),
    ("TextInputFormat",
     "USING csv OPTIONS (sep '\x01', nullValue '\\\\N')"),
)


def _rewrite_row_format(query: str) -> str:
    """The long-form Hive CREATE TABLE storage clauses → Spark USING
    clauses (SemanticAnalyzer's rowFormat/fileFormat analysis):
    DELIMITED text tables become csv datasources carrying their
    delimiters as options; known serde classes and INPUTFORMAT/
    OUTPUTFORMAT class pairs map to their physical format; custom
    serde classes and RCFile/SequenceFile stay typed errors."""

    def _delim(m: re.Match[str]) -> str:
        body = m.group(1) or ""
        stored = m.group(2) or ""
        # Hive ignores DELIMITED row-format options only for file
        # formats that carry their OWN serde (the binary STORED AS
        # words) — there the clause drops and the format wins. A
        # STORED AS INPUTFORMAT spelling names classes but not a
        # serde: LazySimpleSerDe still honors the delimiters for
        # text-based input formats, so only binary class pairs drop.
        im = _STORED_AS_IOF.search(stored)
        if im is not None:
            if "textinputformat" not in im.group(1).lower():
                # binary IOF pair: drop the delimiters, re-emit the
                # STORED AS for the downstream _iof format mapping
                return stored
            # text IOF pair: the delimiters win; the IOF clause is
            # consumed here (its mapping would be a second USING)
        elif not stored:
            tail = re.match(
                r"\s*STORED\s+AS\s+(\w+)",
                m.string[m.end():],
                re.IGNORECASE,
            )
            if tail and tail.group(1).upper() in _BINARY_STORED_AS:
                return ""
        for clause in ("COLLECTION", "MAP"):
            if re.search(rf"\b{clause}\b", body, re.IGNORECASE):
                raise HiveQLUnsupportedError(
                    "ROW FORMAT DELIMITED COLLECTION/MAP KEYS "
                    "delimiters imply nested types inside text files "
                    "— Spark's csv source is flat; STORE AS "
                    "PARQUET/ORC/JSON for nested columns"
                )
        opts = []
        fm = re.search(
            r"FIELDS\s+TERMINATED\s+BY\s+'([^']*)'", body,
            re.IGNORECASE,
        )
        opts.append(f"sep '{fm.group(1) if fm else chr(1)}'")
        em = re.search(
            r"ESCAPED\s+BY\s+'([^']*)'", body, re.IGNORECASE
        )
        if em:
            opts.append(f"escape '{em.group(1)}'")
        nm = re.search(
            r"NULL\s+DEFINED\s+AS\s+'([^']*)'", body, re.IGNORECASE
        )
        # the default Hive null marker is backslash-N; inside a Spark
        # SQL string literal the backslash must be DOUBLED or
        # unescapeSQLString drops it (effective marker would be 'N').
        # Captured NULL DEFINED AS values pass through raw — they came
        # from a SQL literal and re-embed with the same escaping.
        opts.append(
            f"nullValue '{nm.group(1) if nm else chr(92) * 2 + 'N'}'"
        )
        lm = re.search(
            r"LINES\s+TERMINATED\s+BY\s+'([^']*)'", body,
            re.IGNORECASE,
        )
        if lm and lm.group(1) not in ("\n", "\\n"):
            raise HiveQLUnsupportedError(
                "LINES TERMINATED BY only supports '\\n' (Hive "
                "itself: SemanticAnalyzer 'LINES TERMINATED BY only "
                "supports newline')"
            )
        return "USING csv OPTIONS (" + ", ".join(opts) + ")"

    def _serde(m: re.Match[str]) -> str:
        cls = m.group(1)
        using = _SERDE_CLASS_USING.get(cls)
        if using is None:
            raise HiveQLUnsupportedError(
                f"ROW FORMAT SERDE {cls!r}: custom serde classes "
                "change how bytes parse — out of scope (supported: "
                "the Parquet/Orc/Avro/Json/LazySimple/OpenCSV serdes)"
            )
        props = dict(
            re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group(3) or "")
        )
        fd = props.get("field.delim") or props.get("separatorChar")
        if fd and using.startswith("USING csv"):
            using = (
                f"USING csv OPTIONS (sep '{fd}', "
                "nullValue '" + chr(92) * 2 + "N')"
            )
        return using

    def _iof(m: re.Match[str]) -> str:
        inp = m.group(1)
        for token, using in _IOF_CLASS_FORMAT:
            if token.lower() in inp.lower():
                return using
        raise HiveQLUnsupportedError(
            f"STORED AS INPUTFORMAT {inp!r}: no Spark datasource "
            "equivalent here (RCFile is out of scope per SURVEY §2.2; "
            "SequenceFile reads go through "
            "sources.readers.read_sequencefile)"
        )

    query = _ROW_FORMAT_SERDE.sub(_serde, query)
    query = _ROW_FORMAT_DELIM.sub(_delim, query)
    return _STORED_AS_IOF.sub(_iof, query)
_STORED_AS = re.compile(r"STORED\s+AS\s+(\w+)", re.IGNORECASE)
# The STORED AS / ROW FORMAT rewrite only applies in CREATE TABLE
# context — matching anywhere would rewrite (or reject) the text
# 'STORED AS X' inside string literals/comments of a pure SELECT.
_CREATE_TABLE_PREFIX = re.compile(
    r"\s*CREATE\s+(?:TEMPORARY\s+|EXTERNAL\s+)*TABLE\b", re.IGNORECASE
)
_STORED_AS_MAP = {
    "PARQUET": "USING parquet",
    "ORC": "USING orc",
    "AVRO": "USING avro",
    "JSONFILE": "USING json",
    # Hive default delim + the \\N null marker (doubled backslash in
    # the OPTIONS literal — unescapeSQLString eats one; a csv table
    # WITHOUT a nullValue both writes NULLs as empty AND silently
    # DROPS all-null rows on read, losing input7.q's (NULL, NULL))
    "TEXTFILE":
        "USING csv OPTIONS (sep '\x01', nullValue '\\\\N')",

}


_SKEWED_BY = re.compile(
    # the column list may carry backtick-quoted names with parens
    # inside (`!@#$%^&*()_q`, quotedid_skew.q)
    r"\s*\bSKEWED\s+BY\s*\((?:[^()`]|`[^`]*`)*\)\s*"
    r"ON\s*\((?:[^()]|\([^)]*\))*\)"
    r"(\s+STORED\s+AS\s+DIRECTORIES)?",
    re.IGNORECASE,
)


def _rewrite_stored_as(query: str) -> str:
    sm = _SKEWED_BY.search(query)
    if sm and _CREATE_TABLE_PREFIX.match(query):
        if sm.group(1):
            raise HiveQLUnsupportedError(
                "SKEWED BY ... STORED AS DIRECTORIES (list bucketing) "
                "changes the physical layout — out of scope per SURVEY "
                "§2.2; plain SKEWED BY is accepted as advisory metadata"
            )
        # Plain SKEWED BY is ADVISORY metadata in Hive (the compile-time
        # skew-join optimizer's hint list, optimizer/SkewJoinOptimizer
        # .java:78). Runtime skew is AQE's job here
        # (spark.sql.adaptive.skewJoin.enabled, session default) — the
        # clause is dropped, the skew handling is real.
        query = query[:sm.start()] + query[sm.end():]
    query = _rewrite_row_format(query)

    def repl(m: re.Match[str]) -> str:
        fmt = m.group(1).upper()
        if fmt in _STORED_AS_MAP:
            return _STORED_AS_MAP[fmt]
        raise HiveQLUnsupportedError(
            f"STORED AS {fmt}: no Spark datasource equivalent here "
            "(RCFile is out of scope per SURVEY §2.2; SequenceFile reads "
            "go through sources.readers.read_sequencefile)"
        )

    return _restructure_create_table(_STORED_AS.sub(repl, query))


_UNIONTYPE = re.compile(r"\buniontype\s*<", re.IGNORECASE)


def _rewrite_uniontype(query: str) -> str:
    """``uniontype<T1,T2,...>`` → ``struct<tag:tinyint,field0:T1,...>``
    in CREATE TABLE type lists — the struct-tag encoding of Hive's union
    type (reference: serdeConstants.java:119 UNION_TYPE_NAME; SURVEY
    §1.3 — the same encoding Spark's own Hive compat layer uses, and
    what functions.gaps.create_union/extract_union construct/read)."""
    while True:
        m = _UNIONTYPE.search(query)
        if not m:
            return query
        i, depth = m.end(), 1
        while i < len(query) and depth:
            if query[i] == "<":
                depth += 1
            elif query[i] == ">":
                depth -= 1
            i += 1
        if depth:
            return query  # malformed — let Spark raise the parse error
        inner = _rewrite_uniontype(query[m.end(): i - 1])
        branches, cur, d = [], [], 0
        for ch in inner:
            if ch in "<(":
                d += 1
            elif ch in ">)":
                d -= 1
            if ch == "," and d == 0:
                branches.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        branches.append("".join(cur))
        fields = ",".join(
            f"field{j}:{b.strip()}" for j, b in enumerate(branches)
        )
        repl = f"struct<tag:tinyint,{fields}>"
        query = query[: m.start()] + repl + query[i:]


_CT_HEAD = re.compile(
    r"^\s*CREATE\s+(?:TEMPORARY\s+|EXTERNAL\s+)*TABLE\s+"
    r"(?:IF\s+NOT\s+EXISTS\s+)?[\w.`]+\s*",
    re.IGNORECASE,
)
_USING_CLAUSE = re.compile(
    r"\s*\bUSING\s+\w+(?:\s+OPTIONS\s*\([^)]*\))?", re.IGNORECASE
)
_PARTITIONED_BY = re.compile(
    r"\s*\bPARTITIONED\s+BY\s*\(([^)]*)\)", re.IGNORECASE
)
_SORTED_BY_SPEC = re.compile(
    r"(\bSORTED\s+BY\s*\()([^)]*)\)", re.IGNORECASE
)


def _restructure_create_table(query: str) -> str:
    """Reorder a STORED-AS-rewritten CREATE TABLE into Spark clause
    order. Hive's grammar puts COMMENT / PARTITIONED BY / CLUSTERED BY
    ... INTO n BUCKETS *before* STORED AS (parse/HiveParser.g
    createTableStatement), but Spark's USING must directly follow the
    column list, with the other clauses order-free after it. Three
    transformations:

    - the USING clause (what STORED AS became) moves to just after the
      column list (or the table name for CTAS);
    - Hive's typed PARTITIONED BY (ds STRING) columns are appended to
      the main column list and the clause becomes name-only — Hive
      keeps partition columns out of the column list, Spark datasource
      tables keep them in;
    - a leading EXTERNAL is dropped: Spark rejects EXTERNAL with USING
      (datasource tables are external exactly when LOCATION is given,
      which is also Hive's operative meaning).
    """
    mu = _USING_CLAUSE.search(query)
    if not mu or not _CT_HEAD.match(query):
        return query
    using_txt = mu.group(0).strip()
    body = query[:mu.start()] + query[mu.end():]
    body = re.sub(
        r"(\bCREATE\s+)(?:EXTERNAL\s+)", r"\1", body, count=1,
        flags=re.IGNORECASE,
    )
    mh = _CT_HEAD.match(body)
    insert_at = mh.end()
    cols_end = None
    if body[insert_at:].lstrip().startswith("("):
        i = body.index("(", insert_at)
        depth, j = 1, i + 1
        while j < len(body) and depth:
            if body[j] == "(":
                depth += 1
            elif body[j] == ")":
                depth -= 1
            j += 1
        if depth:
            return query  # unbalanced — let Spark produce the parse error
        cols_end = j
        insert_at = j
    part_clause = ""
    mp = _PARTITIONED_BY.search(body, insert_at)
    if mp:
        entries = [
            e.strip() for e in _split_top_commas(mp.group(1)) if e.strip()
        ]
        typed = [e for e in entries if len(e.split()) > 1]
        if typed:
            if cols_end is None:
                raise HiveQLUnsupportedError(
                    "CREATE TABLE ... PARTITIONED BY (col TYPE) without "
                    "an explicit column list: typed partition columns "
                    "cannot be folded into a CTAS schema — list the "
                    "columns or use name-only PARTITIONED BY"
                )
            names = [e.split()[0] for e in entries]
            body = body[:mp.start()] + body[mp.end():]
            part_clause = " PARTITIONED BY (" + ", ".join(names) + ")"
            add = ", " + ", ".join(typed)
            body = body[: cols_end - 1] + add + body[cols_end - 1:]
            insert_at = cols_end - 1 + len(add) + 1
    return (
        body[:insert_at]
        + " "
        + using_txt
        + part_clause
        + " "
        + body[insert_at:].lstrip()
    ).rstrip()


# SQL-string DML front-end (reference: parse/UpdateDeleteSemanticAnalyzer
# .java:62 UPDATE, :80 DELETE, :86 MERGE — all compile to rewrites;
# INSERT compiles through parse/SemanticAnalyzer.java's genFileSinkPlan +
# exec/MoveTask.java). Spark only parses these for v2 catalogs, so the
# Engine intercepts the statements and routes them to the staged-rewrite
# helpers in sources/writers.py.
_DELETE_STMT = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_STMT = re.compile(
    r"^\s*UPDATE\s+([\w.]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# INSERT INTO|OVERWRITE [TABLE] t [PARTITION (p=v | p, ...)] [(cols)]
# SELECT ... | VALUES ... | WITH ... (body passes through spark.sql).
_INSERT_STMT = re.compile(
    r"^\s*INSERT\s+(INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"(?:\s*\(([\w\s,]+)\))?"
    r"\s+((?:SELECT|VALUES|WITH|FROM|TABLE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
# INSERT OVERWRITE ... PARTITION (static spec) IF NOT EXISTS — Hive
# skips the whole insert when the target partition already exists
# (insert1_overwrite_partitions.q; SemanticAnalyzer qbp.getInsertOverwriteTables
# ifNotExists). Detected and stripped before _INSERT_STMT matching.
_INSERT_IF_NOT_EXISTS = re.compile(
    r"^(\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?([\w.]+)\s+"
    r"PARTITION\s*\(([^)]*)\))\s+IF\s+NOT\s+EXISTS\b",
    re.IGNORECASE,
)
# FROM src INSERT INTO|OVERWRITE t1 SELECT ... INSERT ... (Hive
# multi-insert: one scan fans out into several sinks — the MapOperator
# multi-alias plan, parse/SemanticAnalyzer.java multi-QB handling).
_MULTI_INSERT_STMT = re.compile(
    r"^\s*FROM\s+(.*?)\s+(INSERT\s+(?:INTO|OVERWRITE)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_MULTI_INSERT_SPLIT = re.compile(
    r"(?=\bINSERT\s+(?:INTO|OVERWRITE)\b)", re.IGNORECASE
)
# LOAD DATA [LOCAL] INPATH 'src' [OVERWRITE] INTO TABLE t [PARTITION(...)]
_LOAD_DATA_STMT = re.compile(
    r"^\s*LOAD\s+DATA\s+(?:LOCAL\s+)?INPATH\s+'([^']+)'\s+"
    r"(OVERWRITE\s+)?INTO\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
# Path-backed DDL statements (reference: parse/DDLSemanticAnalyzer.java,
# executed by exec/DDLTask.java): TRUNCATE, SHOW PARTITIONS, ALTER TABLE
# ADD/DROP PARTITION, ALTER TABLE [PARTITION] CONCATENATE.
_TRUNCATE_STMT = re.compile(
    r"^\s*TRUNCATE\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_TEMP_TABLE_STMT = re.compile(
    r"^\s*CREATE\s+TEMPORARY\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)"
    r"\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: CREATE TABLE ... STORED AS AVRO — intercepted ONLY when the spark
#: avro datasource is absent (jar-less container): the engine then
#: manages the table itself through the pure-python Avro codec
#: (sources/avro_py.py), same fallback the reader API uses.
_CREATE_AVRO_STMT = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"`?([\w.]+)`?\s*(.*?)\s*STORED\s+AS\s+AVRO\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_INSERT_DIRECTORY_STMT = re.compile(
    r"^\s*INSERT\s+OVERWRITE\s+(LOCAL\s+)?DIRECTORY\s+'([^']+)'\s*"
    r"(?:ROW\s+FORMAT\s+DELIMITED\s+"
    r"(?:FIELDS\s+TERMINATED\s+BY\s+'([^']*)'\s*)?)?"
    r"(?:STORED\s+AS\s+(\w+)\s+)?"
    r"((?:SELECT|WITH|FROM)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)

_SHOW_PARTITIONS_STMT = re.compile(
    r"^\s*SHOW\s+PARTITIONS\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_PARTITION_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+(ADD|DROP)\s+(IF\s+(?:NOT\s+)?EXISTS\s+)?"
    r"((?:PARTITION\s*\([^)]*\)\s*,?\s*)+);?\s*$",
    re.IGNORECASE,
)
# the individual specs inside a (possibly multi-spec) ADD/DROP clause
_ALTER_PARTITION_SPEC = re.compile(
    r"PARTITION\s*\(([^)]*)\)", re.IGNORECASE
)
_CONCATENATE_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s+CONCATENATE\s*;?\s*$",
    re.IGNORECASE,
)
# EXPORT TABLE t TO 'path' / IMPORT TABLE t FROM 'path' [LOCATION 'loc']
# (reference: ql/.../parse/ExportSemanticAnalyzer.java +
# ImportSemanticAnalyzer.java over CopyTask/MoveTask — data files plus a
# _metadata descriptor; here the descriptor is JSON).
_ANALYZE_STMT = re.compile(
    r"^\s*ANALYZE\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"\s+COMPUTE\s+STATISTICS"
    r"(\s+FOR\s+COLUMNS.*|\s+NOSCAN)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MSCK_STMT = re.compile(
    r"^\s*MSCK\s+(?:REPAIR\s+)?TABLE\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
# CREATE TABLE ... AS SELECT/WITH — the head/body split for Hive's
# _c<ordinal> auto-naming of unaliased expression columns
_CTAS_SPLIT = re.compile(
    r"^(\s*CREATE\s+(?:TEMPORARY\s+)?(?:EXTERNAL\s+)?TABLE\b.*?\bAS)"
    r"\s+((?:SELECT|WITH)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_STMT = re.compile(
    r"^\s*REFRESH\s+TABLE\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
# StatsOptimizer-answerable shape: a bare aggregate-only SELECT over one
# path-backed table — no GROUP/ORDER/LIMIT/joins (any such text after
# the table name fails the $ anchor). A WHERE clause is captured and
# accepted ONLY when every conjunct is a partition-column comparison
# (Hive's StatsOptimizer walks pruned partition stats the same way);
# any data-column predicate fails the conjunct grammar → fallback.
_STATS_QUERY = re.compile(
    r"^\s*SELECT\s+(.*?)\s+FROM\s+([\w.]+)"
    r"(?:\s+WHERE\s+(.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_STATS_AGG_ITEM = re.compile(
    r"^(count|min|max)\s*\(\s*(\*|1|`?\w+`?)\s*\)"
    r"(?:\s+(?:AS\s+)?(`?\w+`?))?\s*$",
    re.IGNORECASE,
)
# sum over a bare numeric literal — answerable as literal × numRows
# (StatsOptimizer.java handles the same shape)
_STATS_SUM_LIT = re.compile(
    r"^sum\s*\(\s*(\d+(?:\.\d+)?)\s*\)"
    r"(?:\s+(?:AS\s+)?(`?\w+`?))?\s*$",
    re.IGNORECASE,
)
# one WHERE conjunct: partition_col OP literal
_STATS_PART_PRED = re.compile(
    r"^`?(\w+)`?\s*(=|!=|<>|<=|>=|<|>)\s*"
    r"('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$"
)
_RENAME_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_EXPORT_STMT = re.compile(
    r"^\s*EXPORT\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"\s+TO\s+'([^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_IMPORT_STMT = re.compile(
    r"^\s*IMPORT\s+(?:EXTERNAL\s+)?(?:TABLE\s+([\w.]+)\s+)?"
    r"FROM\s+'([^']+)'"
    r"(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$",
    re.IGNORECASE,
)
# MERGE INTO t [AS a] USING (subquery)|src [AS b] ON cond WHEN ...
_MERGE_STMT = re.compile(
    r"^\s*MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?"
    r"\s+USING\s+(\(.*?\)|[\w.]+)(?:\s+(?:AS\s+)?(\w+))?"
    r"\s+ON\s+(.*?)"
    r"\s+(WHEN\s+.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_HEAD = re.compile(
    r"^WHEN\s+(NOT\s+)?MATCHED\s*", re.IGNORECASE
)
# EXPLAIN [EXTENDED|FORMATTED|COST|CODEGEN] <statement> — ExplainTask
# parity (reference: exec/ExplainTask.java:117). SELECT passes through
# to Spark's EXPLAIN; intercepted DML statements get a stage breakdown
# of the staged-rewrite plan plus the underlying scan/source plan,
# WITHOUT executing anything.
_EXPLAIN_STMT = re.compile(
    r"^\s*EXPLAIN\s+(?:(EXTENDED|FORMATTED|COST|CODEGEN|DEPENDENCY)\s+)?"
    r"(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# EXPLAIN ANALYZE q (HIVE-14362, Hive 2.3's runtime-annotated explain;
# explainanalyze_1.q-5.q): run the query, annotate operators with
# ACTUAL output rows.
_EXPLAIN_ANALYZE_STMT = re.compile(
    r"^\s*EXPLAIN\s+ANALYZE\s+(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

# CLI command processors (CommandProcessorFactory.java:59 dispatch):
# SET → SetProcessor, ADD/LIST/DELETE → AddResourceProcessor /
# ListResourceProcessor / DeleteResourceProcessor, RESET →
# ResetProcessor, SOURCE → CliDriver.processFile, dfs → DfsProcessor,
# ! → shell escape (CliDriver.processCmd).
# (``SET (`` is not SetProcessor's: it falls through to Spark's parser)
_SET_STMT = re.compile(r"^\s*SET(?!\s*\()(?:\s+(.*?))?\s*;?\s*$",
                       re.IGNORECASE | re.DOTALL)
_RESET_STMT = re.compile(r"^\s*RESET\s*;?\s*$", re.IGNORECASE)
_RESOURCE_STMT = re.compile(
    r"^\s*(ADD|DELETE|LIST)\s+(FILES?|JARS?|ARCHIVES?)\b\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SOURCE_STMT = re.compile(r"^\s*SOURCE\s+(.+?)\s*;?\s*$", re.IGNORECASE)
_SHOW_CREATE_STMT = re.compile(
    r"^\s*SHOW\s+CREATE\s+TABLE\s+([\w.]+)\s*;?\s*$", re.IGNORECASE
)
_DESCRIBE_STMT = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(EXTENDED\s+|FORMATTED\s+)?([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"(?:\s+(\w+))?\s*;?\s*$",
    re.IGNORECASE,
)
_DFS_STMT = re.compile(r"^\s*(dfs)\s+", re.IGNORECASE)
_SHELL_STMT = re.compile(r"^\s*!")
# CREATE TEMPORARY MACRO name(arg type, ...) body
# (reference: parse/MacroSemanticAnalyzer.java:70 — macros are
# SQL-expression templates registered in FunctionRegistry).
_CREATE_MACRO_STMT = re.compile(
    r"^\s*CREATE\s+TEMPORARY\s+MACRO\s+(\w+)\s*\(([^)]*)\)\s*(.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MACRO_STMT = re.compile(
    r"^\s*DROP\s+TEMPORARY\s+MACRO\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
# CREATE [TEMPORARY] FUNCTION name AS 'qualified.name' [USING JAR ...]
# (reference: exec/FunctionTask.java resolves the AS-string to a class
# and registers it under name — here the extension language is Python,
# so the string names an importable module.attr callable or a prebuilt
# Spark UserDefinedFunction; see functions/examples.py.)
_CREATE_FUNCTION_STMT = re.compile(
    r"^\s*CREATE\s+(TEMPORARY\s+)?FUNCTION\s+([\w.]+)\s+AS\s+"
    r"'([^']+)'\s*(USING\s+.+?)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNCTION_STMT = re.compile(
    r"^\s*DROP\s+(TEMPORARY\s+)?FUNCTION\s+(IF\s+EXISTS\s+)?([\w.]+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_FUNCTIONS_STMT = re.compile(
    r"^\s*SHOW\s+FUNCTIONS(?:\s+(?:LIKE\s+)?'([^']*)')?\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_FUNCTION_STMT = re.compile(
    r"^\s*DESC(?:RIBE)?\s+FUNCTION\s+(EXTENDED\s+)?(`?[\w.$|<>=!+*/%-]+`?)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CONF_STMT = re.compile(
    r"^\s*SHOW\s+CONF\s+'([^']+)'\s*;?\s*$", re.IGNORECASE
)
_SHOW_ACID_STMT = re.compile(
    r"^\s*SHOW\s+(?:(LOCKS)(?:\s+(?:DATABASE\s+)?[\w.]+)?(?:\s+EXTENDED)?"
    r"|(TRANSACTIONS|COMPACTIONS))\s*;?\s*$",
    re.IGNORECASE,
)
# Database DDL (reference: parse/DDLSemanticAnalyzer.java
# analyzeCreateDatabase / analyzeDropDatabase / analyzeAlterDatabase →
# exec/DDLTask.java createDatabase/dropDatabase/alterDatabase; the
# metastore Database object carries name/comment/locationUri/parameters
# and an owner). Spark namespaces back the catalog — CREATE/USE/SHOW
# DATABASES and db.table resolution pass through — but Hive's
# DBPROPERTIES map is free-form while Spark RESERVES the keys
# comment/location/owner, so those land in an engine-side overlay; and
# DESCRIBE DATABASE reshapes Spark's key/value rows into Hive's one-row
# metastore form (DDLTask.describeDatabase schema).
_CREATE_DB_STMT = re.compile(
    r"^\s*CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"`?(\w+)`?\s*(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DB_STMT = re.compile(
    r"^\s*ALTER\s+(?:DATABASE|SCHEMA)\s+`?(\w+)`?\s+SET\s+"
    r"(?:DBPROPERTIES\s*\((.*)\)|OWNER\s+(?:USER|ROLE)\s+(\w+))\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DESC_DB_STMT = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:DATABASE|SCHEMA)\s+(EXTENDED\s+)?`?(\w+)`?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CREATE_DB_STMT = re.compile(
    r"^\s*SHOW\s+CREATE\s+(?:DATABASE|SCHEMA)\s+`?(\w+)`?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_DB_STMT = re.compile(
    r"^\s*DROP\s+(?:DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?`?(\w+)`?"
    r"\s*(CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE,
)
# SELECT DISTINCT <partition cols> FROM t [WHERE <partition conj>] —
# the MetadataOnlyOptimizer shape (_try_metadata_only)
_META_DISTINCT = re.compile(
    r"^\s*SELECT\s+DISTINCT\s+([`\w\s,.]+?)\s+FROM\s+([\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b)\w+)?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# min/max/count-DISTINCT over partition columns — the aggregate half of
# the metadata-only surface (metadataonly1.q)
_META_AGG = re.compile(
    r"^\s*SELECT\s+([`\w\s,.()]+?)\s+FROM\s+([\w.]+)"
    r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b)\w+)?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<gby>[`\w\s,.]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_META_AGG_ITEM = re.compile(
    r"^(?:(MIN|MAX)\s*\(\s*`?([\w]+)`?\s*\)"
    r"|COUNT\s*\(\s*DISTINCT\s+`?([\w]+)`?\s*\)"
    r"|`?([\w]+)`?)"
    r"(?:\s+(?:AS\s+)?`?(\w+)`?)?$",
    re.IGNORECASE,
)
# ALTER TABLE t PARTITION COLUMN (col type) — retype ONE partition
# column (alter_partition_coltype.q; DDLSemanticAnalyzer
# analyzeAlterTableModifyCols' partition-column branch). Metadata-only
# in Hive: directory VALUES reparse under the new type.
_ALTER_PART_COLTYPE_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+PARTITION\s+COLUMN\s*"
    r"\(\s*(\w+)\s+([\w]+(?:\s*\([\d,\s]*\))?)\s*\)\s*;?\s*$",
    re.IGNORECASE,
)
# ALTER TABLE t [PARTITION (...)] CLUSTERED BY ... / NOT CLUSTERED —
# Hive changes bucket METADATA for future writes while old
# files/partitions keep their layout (alter_numbuckets_partitioned_
# table_h23.q, bucketmapjoin10.q/13.q exploit exactly that drift).
# Spark's bucket spec is immutable table-level metadata the planner
# TRUSTS for shuffle elision — serving a changed spec over unchanged
# files would return wrong joins, so this is a typed error with the
# migration path, never a silent wrong answer.
_ALTER_CLUSTERED_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)(?:\s+PARTITION\s*\([^)]*\))?\s+"
    r"(?:NOT\s+CLUSTERED|NOT\s+SORTED|CLUSTERED\s+BY\b).*$",
    re.IGNORECASE | re.DOTALL,
)
#: DBPROPERTIES keys Spark reserves for namespace metadata
#: (SupportsNamespaces.RESERVED_PROPERTIES) — Hive stores them as plain
#: parameters, so the engine keeps them in a per-db overlay instead.
_DB_RESERVED_PROPS = ("comment", "location", "owner")
#: default-database qualification of an engine temp-view table
_DEFAULT_QUAL = re.compile(
    r"(?:`default`|\bdefault\b)\s*\.\s*`?(\w+)`?", re.IGNORECASE
)
#: backtick-quoted identifier containing non-word characters — Hive's
#: special-character table names (hive.support.special.characters
#: .tablename; special_character_in_tabnames_1.q uses `src/_/cbo`).
#: Spark's temp-view/catalog namespace rejects them, so Engine.sql
#: rewrites each to a deterministic mangled identifier before dispatch
#: (registration and every later reference mangle identically).
#: the content must be a plausible NAME (no whitespace/comma/paren
#: anywhere, incl. the special char itself) — otherwise a pattern
#: starting at a CLOSING backtick could swallow the text BETWEEN two
#: ordinary quoted identifiers (`values`, a.`values` regression)
_SPECIAL_IDENT = re.compile(r"`([^`\s,()]*[^\w`\s,()][^`\s,()]*)`")


def _mangle_special_name(name: str) -> str:
    import hashlib

    return "spec_" + hashlib.md5(name.lower().encode()).hexdigest()[:10]
# CREATE TABLE t LIKE s [STORED AS fmt] [LOCATION 'p'] — schema-only copy
# (reference: parse/DDLSemanticAnalyzer.java analyzeCreateTable LIKE →
# DDLTask.createTableLike: new empty table with the source's schema).
_CREATE_LIKE_STMT = re.compile(
    r"^\s*CREATE\s+(?:EXTERNAL\s+)?TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"([\w.]+)\s+LIKE\s+([\w.]+)(?:\s+STORED\s+AS\s+(\w+))?"
    r"(?:\s+LOCATION\s+'([^']+)')?\s*;?\s*$",
    re.IGNORECASE,
)
# Schema-evolution DDL (reference: parse/DDLSemanticAnalyzer.java
# analyzeAlterTableModifyCols / analyzeAlterTableRenameCol → DDLTask
# alterTable). Metadata-only in Hive: parquet data binds BY NAME, so an
# added column reads NULL from old files and a renamed column orphans
# its data (reads NULL) — this engine reproduces exactly that via a
# declared-schema overlay applied at read time.
_ALTER_ADD_COLS_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS\s*\((.*)\)"
    r"\s*(?:CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_REPLACE_COLS_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+REPLACE\s+COLUMNS\s*\((.*)\)"
    r"\s*(?:CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_CHANGE_COL_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+CHANGE(?:\s+COLUMN)?\s+(\w+)\s+(\w+)\s+"
    r"([\w]+(?:\s*\([\d,\s]*\))?(?:\s*<[^;]*>)?)"
    r"(?:\s+COMMENT\s+'[^']*')?"
    r"(?:\s+(FIRST|AFTER\s+\w+))?\s*(?:CASCADE|RESTRICT)?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_FILEFORMAT_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"\s+SET\s+FILEFORMAT\s+(\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TBLPROPS_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+(SET|UNSET)\s+TBLPROPERTIES\s*"
    r"(IF\s+EXISTS\s+)?\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_TBLPROPS_STMT = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+([\w.]+)"
    r"\s*(?:\(\s*'?([^')]+?)'?\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_TABLE_EXTENDED_STMT = re.compile(
    r"^\s*SHOW\s+TABLE\s+EXTENDED\s+(?:(?:IN|FROM)\s+[\w.]+\s+)?"
    r"LIKE\s+['`]?([\w.]+)['`]?"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_COLUMNS_STMT = re.compile(
    r"^\s*SHOW\s+COLUMNS\s+(?:FROM|IN)\s+([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_EXCHANGE_PARTITION_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+EXCHANGE\s+PARTITION\s*"
    r"\(([^)]*)\)\s+WITH\s+TABLE\s+([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_PARTITION_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+PARTITION\s*\(([^)]*)\)\s+"
    r"RENAME\s+TO\s+PARTITION\s*\(([^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_SET_LOCATION_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+SET\s+LOCATION\s+'([^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
# View DDL (reference: parse/SemanticAnalyzer.java createView analysis +
# exec/DDLTask.java createView/dropTable view guards).
_CREATE_VIEW_STMT = re.compile(
    r"^\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(IF\s+NOT\s+EXISTS\s+)?"
    r"`?([\w.]+)`?\s*(\([^)]*\))?\s*(?:COMMENT\s+'[^']*'\s*)?"
    r"(?:PARTITIONED\s+ON\s*\(([^)]*)\)\s*)?"
    r"(?:TBLPROPERTIES\s*\([^)]*\)\s*)?AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_VIEW_STMT = re.compile(
    r"^\s*ALTER\s+VIEW\s+([\w.]+)\s+AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_VIEW_RENAME_STMT = re.compile(
    r"^\s*ALTER\s+VIEW\s+([\w.]+)\s+RENAME\s+TO\s+([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_VIEW_PART_STMT = re.compile(
    r"^\s*ALTER\s+VIEW\s+([\w.]+)\s+(ADD|DROP)\s+"
    r"(IF\s+(?:NOT\s+)?EXISTS\s+)?PARTITION\s*\(([^)]*)\)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_VIEW_STMT = re.compile(
    r"^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_TABLE_STMT = re.compile(
    r"^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*(?:PURGE\s*)?;?\s*$",
    re.IGNORECASE,
)
_ALTER_SET_SERDE_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"\s+SET\s+SERDE\s+'([^']+)'"
    r"(?:\s+WITH\s+SERDEPROPERTIES\s*\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_SET_SERDEPROPS_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?"
    r"\s+SET\s+SERDEPROPERTIES\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_TOUCH_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+TOUCH"
    r"(?:\s+PARTITION\s*\(([^)]*)\))?\s*;?\s*$",
    re.IGNORECASE,
)
# Informational constraint DDL (create_with_constraints.q;
# DDLSemanticAnalyzer analyzeAlterTableAddConstraint/DropConstraint)
_ALTER_ADD_CONSTRAINT_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
    r"(PRIMARY\s+KEY|FOREIGN\s+KEY)\s*\(([^)]*)\)\s*"
    r"(?:REFERENCES\s+([\w.]+)\s*\(([^)]*)\)\s*)?"
    r"(.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_CONSTRAINT_STMT = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+CONSTRAINT\s+(\w+)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
# a constraint ITEM inside a CREATE TABLE column list
_CONSTRAINT_ITEM = re.compile(
    r"^\s*(?:CONSTRAINT\s+(\w+)\s+)?(PRIMARY\s+KEY|FOREIGN\s+KEY)\s*"
    r"\(([^)]*)\)\s*(?:REFERENCES\s+([\w.]+)\s*\(([^)]*)\))?\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_VAR_REF = re.compile(r"\$\{([\w.:-]+)\}")

# Python return-annotation → Spark SQL type, for plain callables
# registered via CREATE TEMPORARY FUNCTION (string annotations included
# for `from __future__ import annotations` modules).
_PY_TO_SQL_TYPE = {
    str: "string", "str": "string",
    int: "bigint", "int": "bigint",
    float: "double", "float": "double",
    bool: "boolean", "bool": "boolean",
    bytes: "binary", "bytes": "binary",
}


def _resolve_python_callable(qual: str):
    """Resolve 'pkg.mod.attr' to the Python object it names, trying the
    longest importable module prefix first (the attr chain may be more
    than one level deep, e.g. a class attribute)."""
    import importlib

    parts = qual.split(".")
    last_err: Exception | None = None
    for i in range(len(parts) - 1, 0, -1):
        try:
            obj: object = importlib.import_module(".".join(parts[:i]))
        except ImportError as exc:
            last_err = exc
            continue
        try:
            for attr in parts[i:]:
                obj = getattr(obj, attr)
        except AttributeError as exc:
            last_err = exc
            continue
        return obj
    raise HiveQLUnsupportedError(
        f"CREATE TEMPORARY FUNCTION: cannot resolve {qual!r} as an "
        f"importable Python object ({last_err}) — the AS-string names "
        "module.attr, the Python analogue of FunctionTask's class name"
    )


def _scan_top_keywords(text: str):
    """Yield ``(start, end, WORD)`` for bare keywords at top level —
    outside single-quoted strings, parentheses, and CASE...END blocks.
    The quote handling mirrors ``_split_statements`` (backslash and
    doubled-quote escapes)."""
    in_str = False
    depth = 0
    case_depth = 0
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "\\" and i + 1 < n:
                i += 2
                continue
            if ch == "'":
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            i += 1
            continue
        if ch == "(":
            depth += 1
            i += 1
            continue
        if ch == ")":
            depth -= 1
            i += 1
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (text[j].isalnum() or text[j] == "_"):
                j += 1
            word = text[i:j].upper()
            if depth == 0:
                if word == "CASE":
                    case_depth += 1
                elif word == "END" and case_depth > 0:
                    case_depth -= 1
                elif case_depth == 0:
                    yield i, j, word
            i = j
            continue
        i += 1


def _split_when_clauses(text: str) -> list[tuple[bool, str, str]]:
    """Parse a MERGE WHEN tail into ``(not_matched, condition, action)``
    triples. Clause boundaries are TOP-LEVEL ``WHEN`` keywords and the
    clause's ``THEN`` is the first top-level THEN — so string literals
    containing 'WHEN MATCHED', parenthesized subexpressions, and CASE
    WHEN ... THEN ... END conditions all parse correctly (the reference
    gets this from a real grammar, parse/HiveParser.g; the prior regex
    split on any WHEN/THEN text). Raises HiveQLUnsupportedError on
    structurally invalid clause text."""
    text = text.strip().rstrip(";").strip()
    starts = [s for s, _e, w in _scan_top_keywords(text) if w == "WHEN"]
    if not starts or text[: starts[0]].strip():
        raise HiveQLUnsupportedError(
            f"unparseable MERGE WHEN clauses: {text[:80]!r}"
        )
    spans = [
        (s, starts[k + 1] if k + 1 < len(starts) else len(text))
        for k, s in enumerate(starts)
    ]
    out: list[tuple[bool, str, str]] = []
    for s, e in spans:
        clause = text[s:e].strip()
        hm = _WHEN_HEAD.match(clause)
        if not hm:
            raise HiveQLUnsupportedError(
                f"unparseable MERGE WHEN clause: {clause[:80]!r}"
            )
        rest = clause[hm.end():]
        off = len(clause) - len(rest)
        then_at = next(
            (
                (ks, ke)
                for ks, ke, w in _scan_top_keywords(rest)
                if w == "THEN"
            ),
            None,
        )
        if then_at is None:
            raise HiveQLUnsupportedError(
                f"MERGE WHEN clause has no THEN: {clause[:80]!r}"
            )
        head, action = rest[: then_at[0]].strip(), rest[then_at[1]:].strip()
        cond = ""
        if head:
            am = re.match(r"^AND\s+(.*)$", head, re.IGNORECASE | re.DOTALL)
            if not am:
                raise HiveQLUnsupportedError(
                    f"unexpected text between MATCHED and THEN: {head[:60]!r}"
                )
            cond = am.group(1).strip()
        if not action:
            raise HiveQLUnsupportedError(
                f"MERGE WHEN clause has an empty action: {clause[:80]!r}"
            )
        del off
        out.append((bool(hm.group(1)), cond, action))
    return out
_MERGE_ON_EQ = re.compile(r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$")
_MERGE_INSERT = re.compile(
    r"^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)




def _split_statements(text: str) -> list[str]:
    """Split a SQL script into statements on top-level semicolons, with
    quote-aware ``--`` line-comment stripping — CliDriver.processLine
    parity (reference: cli/.../CliDriver.java:342)."""
    out: list[str] = []
    cur: list[str] = []
    in_str = ""  # the open quote char ('' = not in a string)
    i = 0
    while i < len(text):
        ch = text[i]
        if in_str:
            cur.append(ch)
            if ch == "\\" and i + 1 < len(text):
                cur.append(text[i + 1])
                i += 2
                continue
            if ch == in_str:
                in_str = ""
            i += 1
            continue
        if ch in "'\"":
            # Hive strings use either quote char (cmdwithcomments.q:
            # a double-quoted literal containing `--` and `;` must
            # survive both the comment stripper and the splitter)
            in_str = ch
            cur.append(ch)
        elif ch == "-" and text[i : i + 2] == "--":
            while i < len(text) and text[i] != "\n":
                i += 1
            continue
        elif ch == ";":
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
        i += 1
    stmt = "".join(cur).strip()
    if stmt:
        out.append(stmt)
    return out


def _split_assignments(s: str) -> list[tuple[str, str]]:
    """Split ``a = expr1, b = expr2`` on top-level commas only."""
    out = []
    for p in _split_top_commas(s):
        col, _, expr = p.partition("=")
        if not _:
            raise HiveQLUnsupportedError(
                f"malformed SET assignment: {p.strip()!r}"
            )
        out.append((col.strip(), expr.strip()))
    return out


# Partition-dir escaping lives in sources.writers (next to the staged
# write paths that must produce the SAME dir names partitionBy writes).
from hive_2_3_2_spark.hiveql_rewrites import (  # noqa: F401
    _pin_distinct_window_decimal,
    _rewrite_named_windows,
    _DTF_CALLS,
    _TEST_JAR_CLASSES,
    _FROM_TAIL_KEYWORDS,
    _HIVE_CLASS_FN_EXCEPTIONS,
    _MAP_REDUCE_KW,
    _NOOP_PTF_HEAD,
    _PTF_SPEC_CLAUSE,
    _TRANSFORM_PARTIAL_STMT,
    _dedup_grouping_sets,
    _reorder_forward_ctes,
    _retry_rewrite,
    _rewrite_call_args,
    _rewrite_decimal_in_strings,
    _rewrite_distinct_window,
    _rewrite_add_months,
    _rewrite_positional_constants,
    _rewrite_months_between,
    _rewrite_field_calls,
    _rewrite_float_cast_compares,
    _rewrite_greatest_least,
    _rewrite_int_ts_casts,
    _rewrite_ancient_ts_filters,
    _rewrite_invalid_sdf_literals,
    _rewrite_map_reduce_transform,
    _rewrite_printf_double_literals,
    _rewrite_replicate_rows,
    _scan_balanced,
    _search_code,
    _split_top_args,
    _split_top_commas,
)
from hive_2_3_2_spark.sources.writers import (  # noqa: E402
    _escape_path_name,
    _obs_count as _obs_count_w,
    _unescape_path_name,
)


def _parse_partition_spec(spec: str) -> tuple[dict[str, str], list[str]]:
    """``PARTITION (p='v', q)`` → ({'p': "'v'"}, ['q']) — static values
    stay SQL literals (evaluated with F.expr, cast to the column type);
    bare names are dynamic partition columns (Hive nonstrict mode)."""
    static: dict[str, str] = {}
    dynamic: list[str] = []
    for part in _split_top_commas(spec):
        part = part.strip()
        if not part:
            continue
        name, eq, val = part.partition("=")
        if eq:
            # Hive lowercases all column names — a spec written
            # PARTITION (pCol1=...) addresses column pcol1
            # (alter_rename_partition.q, loadpart1.q)
            static[name.strip().lower()] = val.strip()
        else:
            dynamic.append(part.lower())
    return static, dynamic


class Engine:
    """A session + catalog bound to a data directory."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        sf_dir: str | None = None,
    ) -> None:
        self.spark = spark or get_spark()
        # The driver (or an embedding app) may hand us a vanilla session;
        # the engine's Hive-parity semantics depend on these runtime confs
        # (non-ANSI casts, UTC, SimpleDateFormat patterns) from statement
        # ONE — not only after the first table load. force=True: an
        # embedding app may have flipped a conf since the last Engine;
        # construction is the contract point that re-asserts them.
        ensure_engine_confs(self.spark, force=True)
        self.tables: dict[str, DataFrame] = {}
        self.table_paths: dict[str, str] = {}
        self.table_partitions: dict[str, list[str]] = {}
        # Session state the CLI processors maintain (SetProcessor's
        # hiveconf/hivevar overlay + the session resource lists of
        # SessionState.ResourceType — reference session/SessionState.java).
        self.hiveconf: dict[str, str] = {}
        self.resources: dict[str, list[str]] = {
            "FILE": [], "JAR": [], "ARCHIVE": []
        }
        # name → (ordered arg names, body SQL) — CREATE TEMPORARY MACRO
        self.macros: dict[str, tuple[list[str], str]] = {}
        # name → qualified Python source — CREATE TEMPORARY FUNCTION
        self.functions: dict[str, str] = {}
        # user PTF name → canonical head (matchpath/noop/noopwithmap):
        # CREATE TEMPORARY FUNCTION x AS '<hive ptf resolver class>'
        self.ptf_aliases: dict[str, str] = {}
        # user fn name → Spark builtin: CREATE TEMPORARY FUNCTION x AS
        # '<hive builtin UDF/UDAF class>' (windowing_udaf2.q registers
        # GenericUDAFSum under a user name and windows over it)
        self.fn_aliases: dict[str, str] = {}
        # Python UDTF classes registered via CREATE TEMPORARY FUNCTION
        # — their Hive SELECT-head invocations rewrite to TABLE args
        self.python_udtfs: set[str] = set()
        # table → [(frozenset of data-file relpaths, read StructType)]:
        # files written BEFORE a type-CONVERTING column alter, with the
        # schema they must be read under (then CAST to the declared
        # schema). Hive's schema-evolution converters
        # (schema_evol_*.q; enabled when hive.metastore.disallow.
        # incompatible.col.type.changes=false) re-expressed as
        # per-epoch scans unioned after casting.
        self.schema_epochs: dict[str, list[tuple[frozenset, object]]] = {}
        # Per-partition STORAGE DESCRIPTORS (partition_wise_fileformat*
        # .q; the metastore's SDS role — each partition remembers the
        # format it was written with, metastore/api/StorageDescriptor).
        # table_format[t] is the TABLE-level format ALTER TABLE SET
        # FILEFORMAT changes for FUTURE writes (absent = parquet);
        # partition_formats[t][rel_dir] records partitions whose files
        # are NOT parquet. Reads of a table with any non-parquet
        # partition union one format-grouped scan per format
        # (_mixed_format_frame).
        self.table_format: dict[str, str] = {}
        self.partition_formats: dict[str, dict[str, str]] = {}
        # spark-avro datasource availability — probed lazily, once
        self._avro_native_memo: bool | None = None
        self._system_props: dict[str, str] | None = None
        # Session-scoped TEMPORARY TABLES (temp_table*.q;
        # SessionHiveMetaStoreClient keeps them in a session map that
        # SHADOWS same-named metastore tables until dropped): key →
        # declared db (for qualified-reference rewriting).
        # temp_shadowed remembers what the temp table hid so DROP
        # restores it (getTempTable wins over the metastore lookup).
        self.temp_tables: dict[str, str] = {}
        self.temp_shadowed: dict[str, dict] = {}
        # Informational constraints (create_with_constraints.q; Hive
        # 2.1+ metastore KEY_CONSTRAINTS — PRIMARY KEY / FOREIGN KEY
        # ... DISABLE NOVALIDATE [RELY]): never enforced (Hive doesn't
        # either), recorded for DESCRIBE EXTENDED/FORMATTED and the
        # ADD/DROP CONSTRAINT DDL. key → {"pk": {...}|None,
        # "fks": [...]}.
        self.table_constraints: dict[str, dict] = {}
        # Declared-schema overlay (ALTER TABLE ADD/CHANGE/REPLACE
        # COLUMNS): Hive stores the declared schema in the metastore and
        # parquet binds BY NAME at read time; tables with no overlay
        # read with the file-discovered schema exactly as before.
        self.table_schemas: dict[str, object] = {}
        # name → TBLPROPERTIES dict (ALTER TABLE SET/UNSET TBLPROPERTIES)
        self.table_props: dict[str, dict[str, str]] = {}
        # db name → DBPROPERTIES whose keys Spark reserves
        # (comment/location/owner) — merged back in DESCRIBE DATABASE
        # EXTENDED / SHOW CREATE DATABASE for Hive parameter parity
        self.db_props: dict[str, dict[str, str]] = {}
        # view name → original (pre-rewrite) body SQL — CREATE VIEW
        self.views: dict[str, str] = {}
        # PARTITIONED ON views: name → (partition cols, ADDed specs)
        self.view_partitions: dict[
            str, tuple[list[str], set[tuple[tuple[str, str], ...]]]
        ] = {}
        # view name → explicit column aliases (CREATE VIEW v (a, b) AS)
        self.view_aliases: dict[str, list[str]] = {}
        # table → column → stats dict (ANALYZE ... FOR COLUMNS; the
        # metastore TAB_COL_STATS role)
        self.column_stats: dict[str, dict[str, dict]] = {}
        # table → basic stats {num_rows, total_size, fp} from ANALYZE
        # COMPUTE STATISTICS; fp is a data-file fingerprint standing in
        # for Hive's COLUMN_STATS_ACCURATE flag — ANY write (engine DML
        # or external) changes it, so the stats-answer path falls back
        # instead of serving stale numbers
        self.basic_stats: dict[str, dict] = {}
        # table → fingerprint at ANALYZE ... FOR COLUMNS time
        self.column_stats_fp: dict[str, str] = {}
        # PARTITIONED tables gather per-partition (Hive stores partition
        # stats in PARTITION_PARAMS / PART_COL_STATS and StatsOptimizer
        # aggregates them over the pruned partition list):
        #   part_basic_stats[t] = {fp, all_parts: [rel...],
        #                          parts: {rel: {num_rows}}}
        #   part_column_stats[t] = {fp, parts: {rel: {col: stats,
        #                          __num_rows}}}
        self.part_basic_stats: dict[str, dict] = {}
        self.part_column_stats: dict[str, dict] = {}
        # table → data-file fingerprint verified against disk THIS
        # session. Staleness is tracked by EVENT, not by re-listing:
        # every engine write invalidates (register_table), ANALYZE and
        # REFRESH TABLE re-fingerprint, and the first stats-answered
        # query per table pays one listing — never one per query (Hive
        # reads COLUMN_STATS_ACCURATE, an O(1) metastore flag; a
        # per-query file walk on a 10^6-file table would be a
        # driver-side bottleneck the StatsOptimizer exists to avoid).
        self._fp_memo: dict[str, str] = {}
        # catalog-table schema memo for the decimal-vs-float rewrite —
        # cleared on any DDL statement (Engine.sql)
        self._catalog_schema_memo: dict[str, object] = {}
        if sf_dir is not None:
            self.tables = register_star_schema(self.spark, sf_dir)
            import os

            for name in self.tables:
                self.table_paths[name] = os.path.join(
                    sf_dir, f"{name}.parquet"
                )

    def register_table(
        self,
        name: str,
        path: str,
        partition_cols: list[str] | None = None,
    ) -> DataFrame:
        """Register a writable parquet table: a temp view for reads plus
        the path/partition metadata the DML front-end needs. Tables with
        a declared-schema overlay (ALTER ... COLUMNS) read with that
        schema — Spark's parquet reader binds by name, filling missing
        columns with NULL (exactly Hive's metastore-schema semantics)."""
        name = name.split(".")[-1].lower()
        if re.search(r"[^\w]", name):
            # Hive special-character table name — registered under the
            # same mangled identifier Engine.sql rewrites backticked
            # references to
            name = _mangle_special_name(name)
        # Every mutating statement re-registers its target, so this is
        # the single chokepoint where gathered stats go stale — the
        # engine's version of Hive clearing COLUMN_STATS_ACCURATE on a
        # non-stats-aware write (StatsSetupConst.clearColumnStatsState).
        # Column VALUES survive for DESCRIBE (Hive keeps TAB_COL_STATS
        # rows too); only the serve-from-stats gates drop.
        self._invalidate_stats(name)
        # The reads below may fail (bad path, unreadable files): set the
        # new path/partition metadata provisionally and ROLL BACK on
        # exception, so a failed registration doesn't leave metadata
        # pointing at the new path while tables/views still serve the
        # old frame.
        prev_path = self.table_paths.get(name)
        prev_parts = self.table_partitions.get(name)
        try:
            if partition_cols:
                # _mixed_format_frame needs the partition depth before
                # the read below resolves
                self.table_partitions[name] = list(partition_cols)
            self.table_paths[name] = path
            return self._register_table_read(name, path, partition_cols)
        except Exception:
            if prev_path is None:
                self.table_paths.pop(name, None)
            else:
                self.table_paths[name] = prev_path
            if prev_parts is None:
                self.table_partitions.pop(name, None)
            else:
                self.table_partitions[name] = prev_parts
            raise

    def _register_table_read(
        self,
        name: str,
        path: str,
        partition_cols: list[str] | None,
    ) -> DataFrame:
        note_view_override(self.spark, name)
        if self.table_format.get(name) == "avro":
            df = self._avro_py_frame(name, path)
            df.createOrReplaceTempView(name)
            self.tables[name] = df
            if self.views:
                self._refresh_dependent_views(name)
            return df
        overlay_df = self._epoch_union_frame(name, path)
        if overlay_df is None:
            overlay_df = self._mixed_format_frame(name, path)
        if overlay_df is not None:
            overlay_df.createOrReplaceTempView(name)
            self.tables[name] = overlay_df
            if self.views:
                self._refresh_dependent_views(name)
            return overlay_df
        reader = self.spark.read
        if name in self.table_schemas:
            reader = reader.schema(self.table_schemas[name])
        try:
            df = reader.parquet(path)
        except Exception as exc:
            # A table whose LAST partition was dropped/exchanged away is
            # an empty directory tree — unreadable without a schema, but
            # Hive keeps it queryable (the metastore carries the
            # schema). Serve the remembered schema as an empty relation;
            # the next INSERT re-materializes files.
            remembered = self.table_schemas.get(name) or (
                self.tables[name].schema if name in self.tables else None
            )
            if remembered is None or "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                raise
            df = local_frame(self.spark, [], remembered)
        if name in self.table_schemas:
            df = self._apply_char_read_semantics(
                df, self.table_schemas[name]
            )
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        self.table_paths[name] = path
        if partition_cols:
            self.table_partitions[name] = list(partition_cols)
        if self.views:
            # late-binding parity: views over this table must see its
            # new registration (schema evolution, rename, truncate)
            self._refresh_dependent_views(name)
        return df

    def _target_frame(self, key: str) -> DataFrame:
        """Overlay-aware read of a registered table's path — every DML
        path must use this (a bare ``spark.read.parquet`` after schema
        evolution would adopt ONE file's schema and could silently drop
        a column that newer files carry)."""
        if self.table_format.get(key) == "avro":
            return self._avro_py_frame(key, self.table_paths[key])
        epoch_df = self._epoch_union_frame(key, self.table_paths[key])
        if epoch_df is None:
            epoch_df = self._mixed_format_frame(key, self.table_paths[key])
        if epoch_df is not None:
            return epoch_df
        reader = self.spark.read
        if key in self.table_schemas:
            reader = reader.schema(self.table_schemas[key])
        try:
            return self._apply_char_read_semantics(
                reader.parquet(self.table_paths[key]),
                self.table_schemas[key],
            ) if key in self.table_schemas else reader.parquet(
                self.table_paths[key]
            )
        except Exception as exc:
            remembered = self.table_schemas.get(key) or (
                self.tables[key].schema if key in self.tables else None
            )
            if remembered is None or "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                raise
            # empty directory tree (last partition dropped/exchanged) —
            # same metastore-parity fallback as register_table
            return local_frame(self.spark, [], remembered)

    #: Roots no mutating statement may write under. The shared test
    #: fixtures are the canonical member: their files are chmod-read-
    #: only but the DIRECTORIES are writable, so an INSERT INTO a
    #: fixture-registered table would happily append a part file and
    #: corrupt every later run (this bit us once — r6). Override via
    #: SPARK_GRAFT_PROTECT (os.pathsep-separated) for other datasets.
    PROTECTED_ROOTS: tuple[str, ...] = tuple(
        p for p in os.environ.get(
            "SPARK_GRAFT_PROTECT", "/root/testdata"
        ).split(os.pathsep) if p
    )

    def _assert_mutable(self, key: str) -> None:
        """Typed error when a mutating statement targets a table whose
        files live under a protected root (read-only fixtures)."""
        path = os.path.abspath(self.table_paths[key])
        for root in self.PROTECTED_ROOTS:
            r = os.path.abspath(root)
            if path == r or path.startswith(r + os.sep):
                raise HiveQLUnsupportedError(
                    f"table {key!r} is backed by the protected dataset "
                    f"{path!r} — mutating it would corrupt a shared "
                    "fixture; copy it first (CREATE TABLE ... AS or "
                    "register_table on a scratch copy)"
                )

    def _resolve_dml_table(self, name: str, mutating: bool = False) -> str:
        key = name.split(".")[-1].lower()
        if key not in self.table_paths:
            raise HiveQLUnsupportedError(
                f"DML target {name!r} is not a path-backed table this "
                "Engine registered (register_table(name, path) first)"
            )
        if mutating:
            self._assert_mutable(key)
        return key

    def _dml_registered(self, name: str) -> bool:
        """True if ``name`` is a path-backed table this Engine manages.

        Statements whose target is NOT registered fall through to
        ``spark.sql`` (the Spark parser accepts INSERT/TRUNCATE/SHOW
        PARTITIONS/ALTER PARTITION/... against catalog tables — e.g.
        ones Engine.sql itself created via the STORED AS rewrite), so
        catalog-backed tables keep working instead of getting a typed
        rejection. Statements Spark cannot parse at all (EXPORT/IMPORT/
        CONCATENATE) keep the typed error."""
        return name.split(".")[-1].lower() in self.table_paths

    def _local_sink(self, name: str) -> bool:
        """The INSERT sink rule, shared by the single-INSERT and the
        multi-insert routes: Engine-registered tables, or session-catalog
        tables that are not views (which need the Hive positional-cast
        mapping — Spark's native INSERT enforces ANSI store assignment
        and rejects e.g. string→int, join8.q)."""
        return self._dml_registered(name) or (
            name.split(".")[-1].lower() not in self.views
            and self._is_catalog_table(name)
        )

    def _run_insert_sink(self, m: re.Match[str]) -> DataFrame:
        """An INSERT into a _local_sink: registered tables take the
        staged rewrite, catalog tables Hive's positional-cast mapping."""
        if self._dml_registered(m.group(2)):
            return self._run_insert(m)
        return self._run_insert_catalog(m)

    def _local_sinks(self, inserts: str) -> bool:
        """Every table sink of a multi-insert is a _local_sink. DIRECTORY
        branches are always engine-handled sinks (ppd_multi_insert.q
        mixes table + directory sinks), so they don't participate in the
        table-sink routing check."""
        targets = [
            t
            for t in re.findall(
                r"INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?"
                r"(?:LOCAL\s+)?([\w.]+)",
                inserts,
                re.IGNORECASE,
            )
            if t.upper() != "DIRECTORY"
        ]
        return bool(targets) and all(self._local_sink(t) for t in targets)

    def _rows_affected(self, n: int) -> DataFrame:
        return local_frame(self.spark, [(n,)], "rows_affected bigint")

    def _semantic_rewrites(self, query: str) -> str:
        """The value-semantics passes (_SEMANTIC_STEPS) on their own.
        Engine.sql runs the same rows once per statement inside
        _SQL_STEPS, so a SELECT body a handler later lifts out of a
        CTAS or a view already carries them."""
        return self._apply_steps(query, _SEMANTIC_STEPS)

    def _rewrite_position_aliases(self, query: str) -> str:
        """Position-alias semantics, PER ITEM (SemanticAnalyzer
        processPositionAlias, SemanticAnalyzer.java:12743-12846): a bare
        integer in GROUP BY is a CONSTANT unless
        hive.groupby.position.alias (default false, HiveConf.java:1154)
        or the deprecated combined conf is true — `select count(1) from
        t group by 1` is one global bucket (constGby.q), and `select
        key, count(*) ... group by 1` ERRORS (key not grouped), which
        Spark's MISSING_AGGREGATION reproduces once the literal stops
        being an ordinal; with the alias ON, Spark's own groupByOrdinal
        IS Hive's behavior (groupby_position.q). ORDER BY defaults to
        ORDINALS (hive.orderby.position.alias default TRUE,
        HiveConf.java:1156 — Spark's orderByOrdinal matches), so
        constants only when the user turns it off. SORT BY is never
        position-processed in Hive: always constants."""
        combined = self.hiveconf.get(
            "hive.groupby.orderby.position.alias", "false"
        ).lower() == "true"
        gby_pos = combined or self.hiveconf.get(
            "hive.groupby.position.alias", "false"
        ).lower() == "true"
        oby_pos = combined or self.hiveconf.get(
            "hive.orderby.position.alias", "true"
        ).lower() == "true"
        return _rewrite_positional_constants(
            query,
            gby_constants=not gby_pos,
            oby_constants=not oby_pos,
            sortby_constants=True,
        ) or query

    def _rewrite_function_aliases(self, query: str) -> str:
        """PTFs registered under user names (ptf_register_tblfn.q:
        CREATE TEMPORARY FUNCTION x AS '...MatchPath$MatchPathResolver')
        normalize to their canonical head before the PTF rewrites;
        Hive-builtin-class registrations invoke the Spark builtin."""
        for alias, canon in self.ptf_aliases.items():
            pat = re.compile(
                rf"\b{re.escape(alias)}(\s*\(\s*on\b)", re.IGNORECASE
            )
            if _search_code(pat, query):
                query = pat.sub(rf"{canon}\1", query)
        for alias, fn in self.fn_aliases.items():
            pat = re.compile(rf"\b{re.escape(alias)}\s*\(", re.IGNORECASE)
            if _search_code(pat, query):
                query = pat.sub(f"{fn}(", query)
        return query

    def _rewrite_udtf_select(self, query: str) -> str:
        """Hive's SELECT-head UDTF spelling ``SELECT f() FROM t``
        (SemanticAnalyzer genSelectPlan UDTF branch) → Spark's
        TABLE-argument invocation; SINGLE PARTITION reproduces the
        single fetch/reduce task the golden runs under
        (udtf_nofetchtask.q). Argless only — UDTFs with per-row args use
        LATERAL VIEW, which Spark plans natively."""
        for uname in self.python_udtfs:
            um = re.match(
                rf"^\s*select\s+{re.escape(uname)}\s*\(\s*\)\s+"
                rf"from\s+(.+?)\s*;?\s*$",
                query,
                re.IGNORECASE | re.DOTALL,
            )
            if um:
                return (
                    f"SELECT * FROM {uname}(TABLE(SELECT * FROM "
                    f"{um.group(1)}) WITH SINGLE PARTITION)"
                )
        return query

    def _body_df(self, body: str) -> DataFrame:
        """Evaluate a SELECT body extracted from a larger statement (CTAS,
        CREATE TEMPORARY TABLE ... AS, a view body, INSERT DIRECTORY,
        EXPLAIN DEPENDENCY). Engine.sql has already applied macro
        expansion and the semantic passes to the whole statement before
        any handler runs, so only the final text rewrite is left: the
        same SELECT yields the same values inside DDL as standalone."""
        return self.spark.sql(rewrite_hiveql(body, spark=self.spark))

    def _apply_steps(self, query: str, steps) -> str | DataFrame:
        """Run ``query`` down an ordered step table (see _SQL_STEPS):
        return the first route's DataFrame, or the text the passes
        left when no route answered."""
        for test, step in steps:
            if isinstance(test, re.Pattern):
                m = test.match(query)
            else:
                m = test(self, query)
            if not m:
                continue
            out = step(self, query, m)
            if isinstance(out, str):
                query = out
            elif out is not None:
                return out
        return query

    def sql(self, query: str) -> DataFrame:
        """Run HiveQL-compatible SQL (reference entry:
        ql/src/java/org/apache/hadoop/hive/ql/Driver.java:1371 ``run``).
        DML returns a 1-row (rows_affected) DataFrame like a CLI row
        count; results the driver computes itself (SET, DESCRIBE, SHOW,
        EXPLAIN, rows_affected) are LocalRelations that launch no job.

        Dispatch is one ordered step table, ``_SQL_STEPS``: a step
        rewrites the statement (a pass), answers it (a route) or
        declines. The first route that answers wins, and each pass sees
        the text left by the passes above it. A statement no route
        answers gets ``rewrite_hiveql`` and runs on spark.sql under the
        error-keyed retry loop."""
        # CLI command processors run BEFORE variable substitution would
        # make sense for SET itself, but Hive substitutes every command
        # (VariableSubstitution wraps each processor) — so substitute
        # first, then dispatch (CommandProcessorFactory.java:59).
        query = self._substitute(query)
        if re.match(
            r"\s*(alter|create|drop|replace|truncate|import|load)\b",
            query,
            re.IGNORECASE,
        ):
            # DDL can change a catalog table's column types
            self._catalog_schema_memo.clear()
            # ... and may create/drop a temp view shadowing a star-schema
            # view name through ANY dispatch path (including raw
            # spark.sql fall-through) — drop the suite's registered-view
            # memo wholesale; the next register_star_schema re-registers.
            from hive_2_3_2_spark.catalog import _VIEWS_REGISTERED

            _VIEWS_REGISTERED.pop(self.spark.sparkContext.applicationId, None)
        out = self._apply_steps(query, _SQL_STEPS)
        if not isinstance(out, str):
            return out
        rewritten = rewrite_hiveql(out, spark=self.spark)
        # Error-keyed retry loop: each pass applies the rewrite matching
        # the exact Spark rejection (nested window hoist, SELECT-alias
        # in window spec, WINDOW-clause inheritance inlining, string/
        # date/timestamp RANGE frame bounds — see _retry_rewrite), so
        # statements Spark already accepts are untouchable by
        # construction. Chained gaps (windowing.q test 34 hits a parse
        # error, then a frame-type error) resolve in successive passes.
        for _ in range(4):
            try:
                return self.spark.sql(rewritten)
            except Exception as exc:
                err = str(exc)
                # SimpleDateFormat patterns are handled session-wide:
                # spark.sql.legacy.timeParserPolicy=LEGACY is set at
                # session build (ENGINE_CONFS) and re-ensured in
                # __init__, so the SAME statement parses identically no
                # matter what ran before it. A DATETIME_PATTERN_
                # RECOGNITION retry arm here would reintroduce the
                # order-dependence — keep all datetime parity static.
                nxt = _retry_rewrite(rewritten, err)
                if nxt is None or nxt == rewritten:
                    raise
                rewritten = nxt
        return self.spark.sql(rewritten)

    def _run_drop_macro(self, m: re.Match[str]) -> DataFrame:
        self.macros.pop(m.group(1).lower(), None)
        return self._conf_frame([])

    def _run_drop_database(self, m: re.Match[str], query: str) -> DataFrame:
        self.db_props.pop(m.group(2).lower(), None)
        return self.spark.sql(query.rstrip().rstrip(";"))

    def _run_show_acid(self, kind: str) -> DataFrame:
        """SHOW LOCKS / TRANSACTIONS / COMPACTIONS (DDLTask.showLocks,
        showTxns, showCompactions). This engine is single-session with
        no lock manager and no ACID manager (like Hive under the no-op
        DummyTxnManager without ACID): the list is ALWAYS empty; the
        typed columns mirror ShowLocksResponseElement and the txn/
        compaction responses so tooling can still bind."""
        return local_frame(self.spark, [], _ACID_SHOW_SCHEMAS[kind])

    def _run_describe_stmt(self, m: re.Match[str]) -> DataFrame:
        """DESCRIBE [EXTENDED|FORMATTED] t [PARTITION (...)] [col] on a
        registered table."""
        if m.group(4):
            if m.group(3):
                raise HiveQLUnsupportedError(
                    "DESCRIBE <table> PARTITION (...) <column> is "
                    "not supported — DESCRIBE the partition or the "
                    "column, not both"
                )
            return self._run_describe_column(m.group(2), m.group(4))
        if m.group(3):
            return self._run_describe_partition(
                m.group(2), m.group(3), m.group(1)
            )
        return self._run_describe(m.group(2), m.group(1))

    def _staged_dml(self, name: str, verb: str, write) -> DataFrame:
        """DELETE / UPDATE on a registered table: ``write(path, parts,
        schema=..., target_df=...)`` runs the staged rewrite of
        sources/writers.py and returns the affected count (from the
        rewrite itself); the table then re-registers over the result."""
        key = self._resolve_dml_table(name, mutating=True)
        self._assert_not_mixed(key, verb)
        path = self.table_paths[key]
        parts = self.table_partitions.get(key)
        affected = write(
            path, parts,
            schema=self._declared_schema(key),
            target_df=(
                self._epoch_union_frame(key, path)
                if key in self.schema_epochs else None
            ),
        )
        self.register_table(key, path, parts)
        return self._rows_affected(affected)

    def _run_delete(self, m: re.Match[str]) -> DataFrame:
        from pyspark.sql import functions as F

        from hive_2_3_2_spark.sources.writers import delete_where

        return self._staged_dml(
            m.group(1), "DELETE",
            lambda path, parts, **kw: delete_where(
                self.spark, path,
                F.expr(m.group(2)) if m.group(2) else F.lit(True),
                parts, **kw,
            ),
        )

    def _run_update(self, m: re.Match[str]) -> DataFrame:
        from pyspark.sql import functions as F

        from hive_2_3_2_spark.sources.writers import update_where

        cond_txt = m.group(3)
        return self._staged_dml(
            m.group(1), "UPDATE",
            lambda path, parts, **kw: update_where(
                self.spark, path,
                {
                    col: F.expr(expr)
                    for col, expr in _split_assignments(m.group(2))
                },
                F.expr(cond_txt) if cond_txt else F.lit(True),
                parts,
                # subquery conditions can't ride the observe metric
                observe_count=not re.search(
                    r"\(\s*SELECT\b", cond_txt or "", re.IGNORECASE
                ),
                **kw,
            ),
        )

    def _run_with_insert(self, query: str) -> DataFrame | None:
        """Hive allows the CTE BEFORE the INSERT (WITH c AS (...) INSERT
        INTO t SELECT ... FROM c). Split at the top-level INSERT keyword
        and fold the CTE prefix into the insert body, which the
        SELECT|VALUES|WITH body grammar accepts. None (fall through)
        unless that INSERT targets a registered table."""
        ins_pos = next(
            (s for s, _e, w in _scan_top_keywords(query) if w == "INSERT"),
            None,
        )
        if ins_pos is None:
            return None
        cte, rest = query[:ins_pos].rstrip(), query[ins_pos:]
        im = _INSERT_STMT.match(rest)
        if not (im and self._dml_registered(im.group(2))):
            return None
        folded = rest[: im.start(5)] + cte + " " + rest[im.start(5):]
        return self._run_insert(_INSERT_STMT.match(folded))

    def _run_touch(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE ... TOUCH [PARTITION] (touch.q; DDLTask touch):
        fires hooks and bumps timestamps in Hive — a validated no-op
        here (the named partition must exist)."""
        if m.group(2) and self._dml_registered(m.group(1)):
            tkey = self._resolve_dml_table(m.group(1))
            rel = self._static_partition_reldir(tkey, m.group(2))
            if not os.path.isdir(os.path.join(self.table_paths[tkey], rel)):
                raise HiveQLUnsupportedError(
                    f"TOUCH: no such partition {rel!r}"
                )
        return self._rows_affected(0)

    def _strip_temp_db_quals(self, query: str) -> str:
        """Rewrite ``<declared_db>.<temp_table>`` to the bare temp-view
        name (string literals left alone) — Hive resolves temp tables
        before the metastore under their declared database."""
        for key, db in self.temp_tables.items():
            # (?<![\w.]) — the db qualifier must START the dotted chain:
            # \b holds after a dot, so spark_catalog.default.t would
            # otherwise match its 'default.t' tail and rewrite to the
            # broken spark_catalog.t.
            pat = re.compile(
                rf"(?<![\w.]){re.escape(db)}\.{re.escape(key)}\b",
                re.IGNORECASE,
            )
            out: list[str] = []
            last = 0
            for m in pat.finditer(query):
                in_q = None
                for ch in query[: m.start()]:
                    if in_q:
                        if ch == in_q:
                            in_q = None
                    elif ch in "'\"":
                        in_q = ch
                if in_q is not None:
                    continue
                out.append(query[last: m.start()])
                out.append(key)
                last = m.end()
            out.append(query[last:])
            query = "".join(out)
        return query

    def _strip_default_db(self, query: str) -> str:
        """Engine-registered tables are session temp views, which Spark
        resolves only UNQUALIFIED — but HiveQL freely writes
        ``default.t`` for default-database tables (database_location.q
        and ctas_uses_database_location.q read ``default.src`` while
        USEing another db). Strip the qualifier exactly when the bare
        name is a table or view this Engine registered; anything else
        (real catalog tables in `default`) keeps it. Matches inside
        string literals are left alone."""
        out: list[str] = []
        last = 0
        for m in _DEFAULT_QUAL.finditer(query):
            name = m.group(1)
            if (
                name.lower() not in self.table_paths
                and name.lower() not in self.views
            ):
                continue
            in_q = None
            for ch in query[: m.start()]:
                if in_q:
                    if ch == in_q:
                        in_q = None
                elif ch in "'\"":
                    in_q = ch
            if in_q is not None:
                continue
            out.append(query[last: m.start()])
            out.append(name)
            last = m.end()
        out.append(query[last:])
        return "".join(out)

    @property
    def system_props(self) -> dict[str, str]:
        """The ``${system:...}`` namespace (JVM system properties in
        Hive; SystemVariables.java:52-56). Built lazily: the JVM-ish
        standards get OS equivalents, plus the QTestUtil test-harness
        properties the reference's own .q corpus reads
        (``${system:test.tmp.dir}`` appears in 357 statements —
        QTestUtil sets them before every golden run). ``SET
        system:x=y`` writes here, matching SetProcessor (which calls
        System.getProperties().setProperty)."""
        if self._system_props is None:
            import getpass
            import tempfile

            tmp = tempfile.mkdtemp(prefix="hive232_qtest_tmp_")
            try:
                warehouse = self.spark.conf.get("spark.sql.warehouse.dir")
            except Exception:
                warehouse = tmp
            try:
                user = getpass.getuser()
            except Exception:
                user = "hive"
            self._system_props = {
                "user.name": user,
                "user.dir": os.getcwd(),
                "user.home": os.path.expanduser("~"),
                "java.io.tmpdir": tempfile.gettempdir(),
                "file.separator": os.sep,
                "path.separator": os.pathsep,
                "line.separator": "\n",
                "hive.version": "2.3.2",
                # QTestUtil-style harness properties
                "test.tmp.dir": tmp,
                "test.tmp.dir.uri": "file://" + tmp,
                "test.warehouse.dir": warehouse,
            }
        return self._system_props

    def _substitute(self, text: str) -> str:
        """``${hiveconf:x}`` / ``${hivevar:x}`` / ``${env:X}`` /
        ``${system:x}`` / ``${x}`` text substitution before dispatch
        (VariableSubstitution parity — Hive substitutes every command
        when hive.variable.substitute=true, including inside string
        literals). Substitution iterates to
        hive.variable.substitute.depth (default 40,
        SystemVariables.java:96-120), so nested spellings like
        ``${hivevar:${hivevar:b}}`` resolve inside-out like the
        set_variable_sub.q golden. One deliberate divergence, pinned in
        tests: UNBOUND names are a typed error rather than Hive's
        leave-the-literal-text (which just fails parse later with a
        worse message)."""
        if self.hiveconf.get("hive.variable.substitute", "true") == "false":
            return text

        fired = False

        def repl(m: re.Match[str]) -> str:
            nonlocal fired
            fired = True
            name = m.group(1)
            ns, _, bare = name.partition(":")
            if not _:
                ns, bare = "", name
            if ns == "env":
                if bare in os.environ:
                    return os.environ[bare]
                raise HiveQLUnsupportedError(
                    f"unbound environment variable ${{{name}}}"
                )
            if ns == "system":
                if bare in self.system_props:
                    return self.system_props[bare]
                raise HiveQLUnsupportedError(
                    f"unbound system property ${{{name}}} — SET "
                    f"system:{bare}=... first (emulated JVM/QTestUtil "
                    "properties are pre-seeded)"
                )
            if bare in self.hiveconf:
                return self.hiveconf[bare]
            if bare == "hive.metastore.warehouse.dir":
                # HiveConf METASTOREWAREHOUSE has a DEFAULT — resolve
                # to the live warehouse (encryption_*.q substitute it)
                try:
                    return self.spark.conf.get(
                        "spark.sql.warehouse.dir"
                    ).removeprefix("file:")
                except Exception:
                    pass
            raise HiveQLUnsupportedError(
                f"unbound script variable ${{{name}}} — SET {bare}=... "
                "first, or pass it in run_script(variables={...})"
            )

        depth = int(
            self.hiveconf.get("hive.variable.substitute.depth", "40")
        )
        for _round in range(depth + 1):
            if "${" not in text:
                return text
            fired = False
            text = _VAR_REF.sub(repl, text)
            if not fired:
                # braces present but nothing matched the variable
                # pattern — nothing to substitute, pass through
                return text
        raise HiveQLUnsupportedError(
            "Variable substitution depth is deeper than "
            f"{depth} for expression (hive.variable.substitute.depth; "
            "SystemVariables.java:118)"
        )

    def _conf_frame(self, rows: list[tuple[str, str | None]]) -> DataFrame:
        return local_frame(self.spark, rows, "name string, value string")

    def _run_set(self, arg: str | None) -> DataFrame:
        """SET / SET -v / SET name / SET name=value — SetProcessor parity
        (reference: processors/SetProcessor.java:91 ``run``). Assignments
        land in the session hiveconf overlay (visible to ${...}
        substitution); ``spark.*`` names are additionally forwarded to
        the live SparkSession conf so they take real effect; the one
        cross-dialect mapping is hive.auto.convert.join →
        spark.sql.autoBroadcastJoinThreshold (map-join toggle)."""
        arg = (arg or "").strip()
        if arg in ("", "-v"):
            rows = sorted(self.hiveconf.items())
            return self._conf_frame(rows)
        if re.match(r"^TIME\s+ZONE\b", arg, re.IGNORECASE):
            return self.spark.sql(f"SET {arg}")
        name, eq, value = arg.partition("=")
        name = name.strip()
        for prefix in ("hiveconf:", "hivevar:"):
            if name.lower().startswith(prefix):
                name = name[len(prefix):]
        if not eq:
            if name.lower().startswith("system:"):
                return self._conf_frame(
                    [(name, self.system_props.get(name[len("system:"):]))]
                )
            if name.lower().startswith("env:"):
                return self._conf_frame(
                    [(name, os.environ.get(name[len("env:"):]))]
                )
            return self._conf_frame([(name, self.hiveconf.get(name))])
        value = value.strip()
        if name.lower().startswith("env:"):
            raise HiveQLUnsupportedError(
                f"SET {name}: env:* variables can not be set "
                "(SetProcessor.java rejects env: writes)"
            )
        if name.lower().startswith("system:"):
            # SetProcessor writes JVM system properties
            # (System.getProperties().setProperty) — emulated map here
            self.system_props[name[len("system:"):]] = value
            return self._conf_frame([(name, value)])
        self.hiveconf[name] = value
        if name.startswith("spark."):
            self.spark.conf.set(name, value)
            # A SET may have overridden one of the engine-required
            # runtime confs — drop the verified-memo so the next
            # load path re-checks them.
            from hive_2_3_2_spark.catalog import invalidate_engine_confs

            invalidate_engine_confs(self.spark)
        elif name == "hive.auto.convert.join":
            # Hive's map-join auto-conversion toggle IS Spark's
            # auto-broadcast threshold (MapJoinProcessor parity).
            self.spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold",
                "10485760" if value.lower() == "true" else "-1",
            )
        elif name == "hive.support.quoted.identifiers":
            # `none` turns backtick-quoted names into Java regexes over
            # the input columns (ParseDriver's QuotedIdentifier mode;
            # exercised by input_regex_column/quotedid_* goldens) —
            # Spark inherited the exact feature behind
            # quotedRegexColumnNames. `column` (the default) restores
            # plain identifier quoting.
            self.spark.conf.set(
                "spark.sql.parser.quotedRegexColumnNames",
                "true" if value.lower() == "none" else "false",
            )
        return self._conf_frame([(name, value)])

    def _run_resource(self, verb: str, kind: str, arg: str) -> DataFrame:
        """ADD/LIST/DELETE FILE|JAR|ARCHIVE — the Add/List/Delete
        ResourceProcessor trio over SessionState's resource lists
        (reference: session/SessionState.java ResourceType). ADD FILE
        also ships the file to executors via SparkContext.addFile —
        the mechanism TRANSFORM scripts rely on."""
        verb = verb.upper()
        kind = kind.upper().rstrip("S")
        paths = arg.split()
        if verb == "LIST":
            listed = self.resources[kind]
            if paths:
                listed = [p for p in listed if p in paths]
            return local_frame(
                self.spark, [(p,) for p in listed], "resource string"
            )
        if not paths:
            raise HiveQLUnsupportedError(
                f"{verb} {kind} requires at least one path"
            )
        if verb == "ADD":
            for p in paths:
                if not os.path.exists(p):
                    raise HiveQLUnsupportedError(
                        f"ADD {kind}: path does not exist: {p}"
                    )
                if p not in self.resources[kind]:
                    self.resources[kind].append(p)
                    if kind == "FILE":
                        self.spark.sparkContext.addFile(p)
        else:  # DELETE
            for p in paths:
                if p in self.resources[kind]:
                    self.resources[kind].remove(p)
        return local_frame(
            self.spark, [(p,) for p in self.resources[kind]], "resource string"
        )

    def _run_create_macro(self, m: re.Match[str]) -> DataFrame:
        """CREATE TEMPORARY MACRO name(arg type, ...) body — a named SQL
        expression template (reference: parse/MacroSemanticAnalyzer.java:70;
        Hive registers it as a GenericUDFMacro). Here the macro expands
        textually at call sites before parsing, which preserves Hive's
        evaluate-in-caller semantics exactly."""
        name = m.group(1).lower()
        body = m.group(3).strip()
        args: list[str] = []
        if m.group(2).strip():
            for part in _split_top_commas(m.group(2)):
                arg_name = part.strip().split()[0].lower()
                if arg_name in args:
                    raise HiveQLUnsupportedError(
                        f"CREATE MACRO {name}: duplicate formal argument "
                        f"{arg_name!r} (MacroSemanticAnalyzer rejects this)"
                    )
                args.append(arg_name)
        self.macros[name] = (args, body)
        return self._conf_frame([])

    def _expand_macros(self, query: str, depth: int = 0) -> str:
        """Expand registered macro calls: ``name(e1, e2)`` → the macro
        body with each formal replaced by the (parenthesized) actual.
        Balanced-paren scan for the argument list; bodies may call other
        macros (bounded nesting)."""
        if depth > 8:
            raise HiveQLUnsupportedError(
                "macro expansion exceeded depth 8 — recursive macros are "
                "not supported (Hive macros cannot recurse either)"
            )
        out = query
        for name, (formals, body) in self.macros.items():
            pat = re.compile(rf"\b{re.escape(name)}\s*\(", re.IGNORECASE)
            pos = 0
            while True:
                mm = pat.search(out, pos)
                if not mm:
                    break
                # balanced scan from the opening paren
                i = mm.end()
                d, in_str = 1, False
                while i < len(out) and d:
                    ch = out[i]
                    if in_str:
                        if ch == "'":
                            in_str = False
                    elif ch == "'":
                        in_str = True
                    elif ch == "(":
                        d += 1
                    elif ch == ")":
                        d -= 1
                    i += 1
                if d:
                    raise HiveQLUnsupportedError(
                        f"unbalanced parentheses in macro call {name}(...)"
                    )
                arg_text = out[mm.end(): i - 1]
                actuals = (
                    _split_top_commas(arg_text) if arg_text.strip() else []
                )
                if len(actuals) != len(formals):
                    raise HiveQLUnsupportedError(
                        f"macro {name} expects {len(formals)} argument(s), "
                        f"got {len(actuals)}"
                    )
                expansion = body
                for formal, actual in zip(formals, actuals):
                    expansion = re.sub(
                        rf"\b{re.escape(formal)}\b",
                        f"({actual.strip()})".replace("\\", "\\\\"),
                        expansion,
                        flags=re.IGNORECASE,
                    )
                expansion = f"({expansion})"
                out = out[: mm.start()] + expansion + out[i:]
                pos = mm.start() + len(expansion)
        if out != query:
            return self._expand_macros(out, depth + 1)
        return out

    def _run_source(self, path: str) -> DataFrame:
        """SOURCE file.sql — inline script execution
        (CliDriver.processFile, cli/.../CliDriver.java:436). Returns the
        last statement's result."""
        path = path.strip().strip("'\"")
        if not os.path.exists(path):
            raise HiveQLUnsupportedError(f"SOURCE: file not found: {path}")
        with open(path, encoding="utf-8") as fh:
            results = self.run_script(fh.read())
        if results:
            return results[-1]
        return self._conf_frame([])

    def _explain_dml(self, mode: str | None, inner: str) -> DataFrame | None:
        """EXPLAIN over an intercepted DML statement: Hive's EXPLAIN
        renders the compiled Task/Stage DAG without running it
        (exec/ExplainTask.java:117 on the QueryPlan) — here that is the
        staged-rewrite pipeline (discovery → rewrite → swap) plus the
        Spark plan of the statement's read side. Returns None when the
        inner statement is not one this Engine intercepts, so plain
        EXPLAIN SELECT falls through to Spark."""
        from pyspark.sql import functions as F

        from hive_2_3_2_spark.plans.explain import explain_str

        spark_mode = {
            "extended": "extended", "cost": "cost", "codegen": "codegen",
        }.get((mode or "").lower(), "formatted")

        def frame(lines: list[str]) -> DataFrame:
            return local_frame(
                self.spark, [(ln,) for ln in lines], "plan string"
            )

        def target_lines(name: str, verb: str) -> list[str]:
            key = self._resolve_dml_table(name)
            parts = self.table_partitions.get(key)
            rewrite = (
                "  Stage-2 rewrite (touched partitions only — "
                "OR-of-ANDs PartitionFilters literal)"
                if parts
                else "  Stage-2 rewrite (full table)"
            )
            return [
                "STAGE DEPENDENCIES:",
                "  Stage-1 discovery (matched rows + touched partitions,"
                " one scan)",
                rewrite,
                "  Stage-3 swap (staged directory replaces target)",
                "",
                f"{verb} TARGET: {key}",
                f"  path: {self.table_paths[key]}",
                f"  partition columns: {parts or '(none)'}",
                "",
            ]

        m = _DELETE_STMT.match(inner)
        if m and self._dml_registered(m.group(1)):
            key = self._resolve_dml_table(m.group(1))
            cond = (m.group(2) or "TRUE").strip()
            lines = target_lines(m.group(1), "DELETE FROM")
            lines += [f"  delete condition: {cond}", "",
                      "MATCHED-ROWS SCAN PLAN:"]
            df = self.spark.read.parquet(self.table_paths[key]).filter(
                F.expr(cond)
            )
            return frame(lines + explain_str(df, mode=spark_mode).splitlines())
        m = _UPDATE_STMT.match(inner)
        if m and self._dml_registered(m.group(1)):
            key = self._resolve_dml_table(m.group(1))
            cond = (m.group(3) or "TRUE").strip()
            lines = target_lines(m.group(1), "UPDATE")
            lines += [
                f"  set: {m.group(2).strip()}",
                f"  update condition: {cond}",
                "",
                "MATCHED-ROWS SCAN PLAN:",
            ]
            df = self.spark.read.parquet(self.table_paths[key]).filter(
                F.expr(cond)
            )
            return frame(lines + explain_str(df, mode=spark_mode).splitlines())
        m = _INSERT_STMT.match(inner)
        if m and self._dml_registered(m.group(2)):
            verb = "INSERT " + m.group(1).upper()
            lines = [
                "STAGE DEPENDENCIES:",
                "  Stage-1 select (source query → staging directory)",
                "  Stage-2 move (staged files land in the target"
                + (", dynamic partition dirs swapped)"
                   if m.group(1).upper() == "OVERWRITE" else ")"),
                "",
            ] + target_lines(m.group(2), verb)[5:]
            if m.group(3):
                lines += [f"  partition spec: {m.group(3).strip()}"]
            lines += ["", "SOURCE QUERY PLAN:"]
            src = self._body_df(m.group(5))
            return frame(lines + explain_str(src, mode=spark_mode).splitlines())
        m = _MERGE_STMT.match(inner)
        if m and self._dml_registered(m.group(1)):
            src_spec = m.group(3)
            lines = target_lines(m.group(1), "MERGE INTO")
            lines += [
                f"  on: {m.group(5).strip()}",
                f"  when clauses: {' '.join(m.group(6).split())}",
                "",
                "SOURCE PLAN:",
            ]
            if src_spec.startswith("("):
                src = self._body_df(src_spec[1:-1])
            else:
                src = self.spark.table(src_spec)
            return frame(lines + explain_str(src, mode=spark_mode).splitlines())
        for pat, desc in (
            (_TRUNCATE_STMT, "TRUNCATE: partition/table directory clear "
                             "(file operation, no job)"),
            (_LOAD_DATA_STMT, "LOAD DATA: file move into the table "
                              "(MoveTask parity, no job)"),
            (_CONCATENATE_STMT, "CONCATENATE: compaction rewrite toward "
                                "128MB files (one repartition job)"),
        ):
            mm = pat.match(inner)
            if mm:
                name = mm.group(1) if pat is not _LOAD_DATA_STMT else mm.group(3)
                if self._dml_registered(name):
                    return frame([desc,
                                  f"  target: {self._resolve_dml_table(name)}"])
        return None

    def _run_create_function(self, m: re.Match[str]) -> DataFrame:
        """CREATE TEMPORARY FUNCTION name AS 'module.attr' — FunctionTask
        parity (reference: exec/FunctionTask.java → Registry
        .registerTemporaryUDF). The AS-string resolves to an importable
        Python object: a prebuilt UserDefinedFunction registers as-is
        (the Arrow fast path); a plain callable registers as a row UDF
        with the SQL type derived from its ``-> type`` annotation, the
        Python analogue of FunctionTask deriving the signature from the
        UDF class."""
        temporary, name, qual, using = m.groups()
        if not temporary:
            raise HiveQLUnsupportedError(
                "CREATE FUNCTION (permanent) needs a metastore to persist "
                "the registration across sessions — use CREATE TEMPORARY "
                "FUNCTION (reference: FunctionTask.createPermanentFunction "
                "writes to the metastore)"
            )
        if using:
            raise HiveQLUnsupportedError(
                "CREATE TEMPORARY FUNCTION ... USING JAR/FILE/ARCHIVE: no "
                "JVM class loading here — the AS-string must name an "
                "importable Python callable (module.attr); ship code via "
                "ADD FILE + imports instead of jars"
            )
        if "." in name:
            raise HiveQLUnsupportedError(
                f"temporary function name {name!r} must be unqualified — "
                "db-qualified names are for permanent functions "
                "(FunctionTask rejects qualified temporary names)"
            )
        # Hive PTF resolver classes register as PTF aliases — the SQL
        # head ``x(on ...)`` then normalizes to the canonical rewrite
        # (ptf_register_tblfn.q registers MatchPath under a user name).
        if ".udf.ptf." in qual or qual.endswith("Resolver"):
            low = qual.lower()
            if "matchpath" in low:
                canon = "matchpath"
            elif "noopwithmap" in low:
                canon = "noopwithmap"
            elif "noop" in low:
                canon = "noop"
            else:
                raise HiveQLUnsupportedError(
                    f"CREATE TEMPORARY FUNCTION: unknown Hive PTF "
                    f"resolver {qual!r} — supported: MatchPath, Noop, "
                    "NoopWithMap (reference udf/ptf/)"
                )
            self.ptf_aliases[name.lower()] = canon
            self.functions[name.lower()] = qual
            return self._conf_frame([])
        # The reference's TEST-JAR classes (itests/util, contrib
        # example UDTF, custom-udfs jars) — mapped to the Python
        # equivalents in functions/test_jar_udfs.py so the golden .q
        # files' exact AS-strings register (create_udaf.q,
        # udf_testlength.q, udtf_nofetchtask.q, vector_udf3.q ...).
        spec = _TEST_JAR_CLASSES.get(qual)
        if spec is not None:
            kind, target = spec
            if kind == "alias":
                self.fn_aliases[name.lower()] = target
                self.functions[name.lower()] = qual
                return self._conf_frame([])
            qual = target  # fall through to the python-resolver path
        # Hive BUILTIN UDF/UDAF classes registered under user names
        # alias to the Spark builtin of the same function
        # (windowing_udaf2.q: mysum AS '...GenericUDAFSum' then
        # mysum(key) OVER () — FunctionRegistry maps these classes to
        # the same evaluators the builtin names use).
        cm = re.match(
            r"org\.apache\.hadoop\.hive\.ql\.udf\."
            r"(?:generic\.)?"
            r"(?:GenericUDTF|GenericUDAF|GenericUDF|UDTF|UDAF|UDF)"
            r"(\w+)$",
            qual,
        )
        if cm:
            fn = _HIVE_CLASS_FN_EXCEPTIONS.get(
                cm.group(1).lower(), cm.group(1).lower()
            )
            try:
                self.spark.sql(f"DESCRIBE FUNCTION {fn}")
            except Exception:
                raise HiveQLUnsupportedError(
                    f"CREATE TEMPORARY FUNCTION: Hive builtin class "
                    f"{qual!r} has no Spark builtin equivalent "
                    f"({fn!r} not found)"
                ) from None
            self.fn_aliases[name.lower()] = fn
            self.functions[name.lower()] = qual
            return self._conf_frame([])
        obj = _resolve_python_callable(qual)
        # A UDTF class (GenericUDTF parity: eval ≈ process, terminate ≈
        # close/forward) registers through spark.udtf; the SELECT-head
        # Hive spelling ``SELECT f() FROM t`` rewrites to the TABLE-
        # argument form in Engine.sql.
        if isinstance(obj, type) and hasattr(obj, "eval"):
            from pyspark.sql import functions as _F

            ret = getattr(obj, "RETURN_TYPE", None)
            if not ret:
                raise HiveQLUnsupportedError(
                    f"CREATE TEMPORARY FUNCTION: UDTF class {qual!r} "
                    "needs a RETURN_TYPE attribute (its output schema)"
                )
            self.spark.udtf.register(name, _F.udtf(obj, returnType=ret))
            self.python_udtfs.add(name.lower())
            self.functions[name.lower()] = qual
            return self._conf_frame([])
        # Prebuilt UDF detection: the same duck-type check spark.udf
        # .register itself uses (a UserDefinedFunction or the pandas_udf
        # wrapper both carry asNondeterministic).
        if hasattr(obj, "asNondeterministic"):
            self.spark.udf.register(name, obj)
        elif callable(obj):
            ann = getattr(obj, "__annotations__", {}).get("return")
            ret = _PY_TO_SQL_TYPE.get(ann, "string")
            self.spark.udf.register(name, obj, ret)
        else:
            raise HiveQLUnsupportedError(
                f"CREATE TEMPORARY FUNCTION: {qual!r} resolved to a "
                f"non-callable {type(obj).__name__} — it must be a "
                "function or a Spark UserDefinedFunction"
            )
        self.functions[name.lower()] = qual
        return self._conf_frame([])

    def _run_create_like(self, m: re.Match[str]) -> DataFrame:
        """CREATE TABLE t LIKE s for a path-backed source: a new empty
        parquet table carrying the source's exact schema (DDLTask
        .createTableLike — the metastore copy becomes one empty
        schema-bearing parquet file). The new table registers with this
        Engine, so every DML statement works on it immediately."""
        if_not_exists, target, source, fmt, location = m.groups()
        skey = self._resolve_dml_table(source)
        tkey = target.split(".")[-1].lower()
        if tkey in self.table_paths:
            if if_not_exists:
                return self._rows_affected(0)
            raise HiveQLUnsupportedError(
                f"CREATE TABLE {target} LIKE: table already registered "
                "(use IF NOT EXISTS)"
            )
        if fmt and fmt.upper() != "PARQUET":
            raise HiveQLUnsupportedError(
                f"CREATE TABLE LIKE ... STORED AS {fmt}: path-backed "
                "tables here are parquet — omit STORED AS or use PARQUET"
            )
        if self.table_partitions.get(skey):
            raise HiveQLUnsupportedError(
                "CREATE TABLE LIKE a partitioned path-backed table: an "
                "empty partitioned directory cannot carry the schema "
                "(no metastore here) — create unpartitioned, or copy a "
                "partition with INSERT"
            )
        from hive_2_3_2_spark.suite._scratch import scratch_root

        schema = self.spark.read.parquet(self.table_paths[skey]).schema
        path = location or os.path.join(
            scratch_root("ddl"), f"like_{tkey}"
        )
        local_frame(self.spark, [], schema).write.mode(
            "overwrite"
        ).parquet(path)
        self.register_table(tkey, path)
        return self._rows_affected(0)

    def _run_drop_function(self, m: re.Match[str]) -> DataFrame:
        """DROP [TEMPORARY] FUNCTION [IF EXISTS] name."""
        if_exists, name = bool(m.group(2)), m.group(3)
        if name.lower() not in self.functions and not if_exists:
            raise HiveQLUnsupportedError(
                f"DROP FUNCTION {name}: not a temporary function this "
                "session registered (use IF EXISTS to make this a no-op)"
            )
        if name.lower() in self.ptf_aliases or name.lower() in self.fn_aliases:
            # PTF / builtin-class aliases live only in the engine's
            # rewrite tables — nothing was registered with Spark.
            self.ptf_aliases.pop(name.lower(), None)
            self.fn_aliases.pop(name.lower(), None)
        else:
            self.spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
        self.functions.pop(name.lower(), None)
        return self._conf_frame([])

    def _run_show_functions(self, pattern: str | None) -> DataFrame:
        """SHOW FUNCTIONS ['pattern'] — Spark's listing (which already
        includes session-registered temporary functions) unioned with
        the session's macros: Hive registers macros in the same
        FunctionRegistry, so SHOW FUNCTIONS lists them too."""
        sql = "SHOW FUNCTIONS"
        if pattern is not None:
            sql += f" LIKE '{pattern}'"
        base = self.spark.sql(sql)
        if self.macros:
            names = sorted(self.macros)
            if pattern is not None:
                # Spark pattern semantics: '*' any chars, '|' alternation.
                rx = re.compile(
                    "^(?:"
                    + re.escape(pattern).replace(r"\*", ".*").replace(
                        r"\|", "|"
                    )
                    + ")$",
                    re.IGNORECASE,
                )
                names = [n for n in names if rx.match(n)]
            if names:
                macro_df = local_frame(
                    self.spark, [(n,) for n in names], base.schema
                )
                col = base.columns[0]
                base = base.union(macro_df).distinct().orderBy(col)
        return base

    # Hive name-groups registered on the SAME UDF class — what
    # FunctionRegistry.getFunctionSynonyms returns (reference:
    # exec/FunctionRegistry.java:193-536 duplicate registerUDF calls).
    _FN_SYNONYMS = [
        {"upper", "ucase"}, {"lower", "lcase"}, {"substr", "substring"},
        {"rlike", "regexp"}, {"ceil", "ceiling"}, {"pow", "power"},
        {"sha", "sha1"}, {"day", "dayofmonth"},
        {"std", "stddev", "stddev_pop"}, {"variance", "var_pop"},
    ]

    def _run_describe_function(self, extended: bool, name: str) -> DataFrame:
        """DESCRIBE FUNCTION [EXTENDED] — DDLTask.describeFunction
        parity (reference: exec/DDLTask.java:3040): one text line per
        row. A known name emits its synopsis (Spark's builtin usage doc
        is the analogue of Hive's @Description annotation, re-keyed to
        the Hive name for renamed builtins); an UNKNOWN name emits
        \"Function 'x' does not exist.\" as a RESULT ROW, not an error —
        Hive returns rc 0 there, and most udf_*.q goldens open with
        exactly that statement shape. EXTENDED appends Synonyms,
        Function class and Function type lines like the reference."""
        from hive_2_3_2_spark.functions.registry import hive_function_map

        key = name.lower()
        lines: list[str] = []

        def spark_doc(fn_name: str) -> list[str]:
            try:
                rows = self.spark.sql(
                    "DESCRIBE FUNCTION "
                    + ("EXTENDED " if extended else "")
                    + f"`{fn_name}`"
                ).collect()
                return [str(r[0]) for r in rows]
            except Exception:
                return []

        if key in self.macros:
            formals, body = self.macros[key]
            lines.append(
                f"{key}({', '.join(formals)}) - temporary macro"
            )
            if extended:
                lines.append(f"Expansion: {body}")
                lines.append("Function type:TEMPORARY")
        elif key in self.functions:
            lines.append(
                f"There is no documentation for function '{key}'"
            )
            if extended:
                lines.append(f"Function class:{self.functions[key]}")
                lines.append("Function type:TEMPORARY")
        elif key in (fmap := hive_function_map()):
            kind, detail = fmap[key]
            if kind == "sql":
                doc = spark_doc(detail)
                if doc:
                    lines.extend(
                        ln.replace(f"Function: {detail}", f"Function: {key}")
                        .replace(f"{detail}(", f"{key}(")
                        for ln in doc
                    )
                else:
                    lines.append(
                        f"There is no documentation for function '{key}'"
                    )
                syns = sorted(
                    n
                    for grp in self._FN_SYNONYMS
                    if key in grp
                    for n in grp
                    if n != key
                )
                if detail != key and detail not in syns:
                    syns.append(detail)
                if syns:
                    lines.append(f"Synonyms: {', '.join(syns)}")
                if extended:
                    lines.append("Function type:BUILTIN")
            elif kind == "gap":
                lines.append(
                    f"{key} - Hive builtin provided by this engine"
                )
                if extended:
                    lines.append(f"Function class:{detail}")
                    lines.append("Function type:BUILTIN")
            else:  # skip — deliberately outside the query surface
                lines.append(f"Function '{key}' does not exist.")
                if extended:
                    lines.append(f"Excluded from this engine: {detail}")
        else:
            doc = spark_doc(key)  # Spark-only names still describable
            if doc:
                lines.extend(doc)
            else:
                lines.append(f"Function '{key}' does not exist.")
        return local_frame(
            self.spark, [(ln,) for ln in lines], "function_desc string"
        )

    # SHOW CONF serves the known Hive knobs this engine actually honors
    # (defaults + one-line descriptions), the subset of HiveConf.ConfVars
    # that maps onto the Spark execution model. Unknown hive.* names are
    # a typed error, exactly DDLTask.showConf's "invalid configuration
    # property" behavior.
    _SHOWABLE_CONF = {
        "hive.variable.substitute": (
            "true", "BOOLEAN", "substitute ${...} variables in statements"
        ),
        "hive.exec.dynamic.partition.mode": (
            "nonstrict", "STRING", "dynamic-partition INSERT mode"
        ),
        "hive.materialize.max.rows": (
            "1000000", "INT",
            "cap on rows a CLI processor may materialize driver-side"
        ),
        "hive.auto.convert.join": (
            "true", "BOOLEAN",
            "map-join auto conversion (Catalyst broadcast threshold here)"
        ),
        "hive.exec.parallel": (
            "false", "BOOLEAN",
            "parallel stage execution (Catalyst schedules stages itself)"
        ),
        "hive.merge.mapfiles": (
            "true", "BOOLEAN",
            "small-file merge (ALTER TABLE ... CONCATENATE here)"
        ),
        "hive.optimize.bucketmapjoin.sortedmerge": (
            "false", "BOOLEAN",
            "SMB join (bucketed+sorted tables join exchange-free here)"
        ),
    }

    def _run_show_conf(self, key: str) -> DataFrame:
        """SHOW CONF 'name' — DDLTask.showConf parity: one row of
        (default, type, description) for a known property; a typed
        error for unknown names. The session's CURRENT value (after any
        SET overrides) is readable via ``SET name`` — Hive's SHOW CONF
        deliberately reports the DEFAULT, and so does this."""
        info = self._SHOWABLE_CONF.get(key.lower())
        if info is None:
            raise HiveQLUnsupportedError(
                f"SHOW CONF: invalid or unmapped configuration property "
                f"{key!r} (the engine serves the Hive knobs it honors; "
                "Spark-side settings read via SET spark....)"
            )
        return local_frame(
            self.spark,
            [info], "default string, type string, description string"
        )

    def _run_explain_analyze(self, body: str) -> DataFrame:
        """EXPLAIN ANALYZE q — Hive 2.3's runtime-annotated explain
        (HIVE-14362, ExplainTask with the analyze config: the query RUNS
        and the operator tree is re-printed with actual row counts).
        Here the body executes once through the engine (DML side
        effects happen, like Hive), the EXECUTED Spark plan is walked —
        through AQE's final plan and materialized query stages — and
        every operator carrying a numOutputRows metric is annotated
        ``(rows: N)``. Execution drives the plan's own RDD (no driver
        materialization of the result set)."""
        df = self.sql(body)
        qe = df._jdf.queryExecution()
        qe.toRdd().count()  # execute THIS plan so its metrics populate
        lines: list[str] = []

        def walk(node, depth: int) -> None:
            name = node.nodeName()
            rows = None
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    rows = kv._2().value()
            lines.append(
                "  " * depth + name
                + ("" if rows is None else f" (rows: {rows})")
            )
            if name.startswith("AdaptiveSparkPlan"):
                walk(node.finalPhysicalPlan(), depth + 1)
                return
            if "QueryStage" in name:
                walk(node.plan(), depth + 1)
                return
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i), depth + 1)

        walk(qe.executedPlan(), 0)
        return local_frame(
            self.spark, [(ln,) for ln in lines], "plan string"
        )

    def _run_create_database(self, m: re.Match[str]) -> DataFrame:
        """CREATE DATABASE|SCHEMA [IF NOT EXISTS] name [COMMENT ...]
        [LOCATION ...] [WITH DBPROPERTIES (...)] (reference:
        parse/DDLSemanticAnalyzer.java analyzeCreateDatabase →
        DDLTask.createDatabase). Spark's namespace DDL carries the
        clause forms directly, but rejects the reserved property names
        comment/location/owner that Hive accepts as plain parameters —
        those go to the engine overlay and re-merge on DESCRIBE."""
        ine, name, tail = bool(m.group(1)), m.group(2).lower(), m.group(3)
        if ine and self.spark.catalog.databaseExists(name):
            # Hive: CREATE INE on an existing db is a pure no-op — it
            # must NOT update comment/location/properties
            return self._rows_affected(0)
        comment = location = None
        props: dict[str, str] = {}
        cm = re.search(r"\bCOMMENT\s+'([^']*)'", tail or "", re.IGNORECASE)
        if cm:
            comment = cm.group(1)
        lm = re.search(r"\bLOCATION\s+'([^']+)'", tail or "", re.IGNORECASE)
        if lm:
            location = lm.group(1)
        pm = re.search(
            r"(?:WITH\s+)?DBPROPERTIES\s*\((.*)\)", tail or "",
            re.IGNORECASE | re.DOTALL,
        )
        if pm:
            for k, v in _split_assignments(pm.group(1)):
                props[k.strip().strip("'\"")] = v.strip().strip("'\"")
        passthru = {
            k: v for k, v in props.items()
            if k.lower() not in _DB_RESERVED_PROPS
        }
        stmt = "CREATE NAMESPACE "
        if ine:
            stmt += "IF NOT EXISTS "
        stmt += f"`{name}`"
        if comment is not None:
            stmt += " COMMENT '" + comment.replace("'", "''") + "'"
        if location is not None:
            stmt += f" LOCATION '{location}'"
        if passthru:
            stmt += " WITH DBPROPERTIES (" + ", ".join(
                f"'{k}'='{v}'" for k, v in sorted(passthru.items())
            ) + ")"
        self.spark.sql(stmt)
        if props:
            # the engine keeps the FULL parameter map: Spark both
            # rejects reserved keys and REDACTS url/secret-looking
            # values in DESCRIBE output, so its rendered properties
            # string cannot round-trip Hive's parameters
            self.db_props.setdefault(name, {}).update(props)
        return self._rows_affected(0)

    def _run_alter_database(self, m: re.Match[str]) -> DataFrame:
        """ALTER DATABASE name SET DBPROPERTIES (...) | SET OWNER USER x
        (DDLTask.alterDatabase — a merge into the metastore parameter
        map, never a replace)."""
        name = m.group(1).lower()
        if m.group(3):  # SET OWNER USER/ROLE x
            self.db_props.setdefault(name, {})["owner"] = m.group(3)
            return self._rows_affected(0)
        props: dict[str, str] = {}
        for k, v in _split_assignments(m.group(2)):
            props[k.strip().strip("'\"")] = v.strip().strip("'\"")
        passthru = {
            k: v for k, v in props.items()
            if k.lower() not in _DB_RESERVED_PROPS
        }
        if passthru:
            self.spark.sql(
                f"ALTER NAMESPACE `{name}` SET DBPROPERTIES ("
                + ", ".join(
                    f"'{k}'='{v}'" for k, v in sorted(passthru.items())
                )
                + ")"
            )
        elif not self.spark.catalog.databaseExists(name):
            raise HiveQLUnsupportedError(
                f"ALTER DATABASE: database {name!r} does not exist"
            )
        if props:
            self.db_props.setdefault(name, {}).update(props)
        return self._rows_affected(0)

    def _db_info(self, name: str) -> tuple[str, str, str, dict[str, str]]:
        """(comment, location, owner, parameters) for a namespace, with
        the reserved-key overlay merged into parameters."""
        rows = self.spark.sql(f"DESCRIBE NAMESPACE EXTENDED `{name}`")
        info = {r[0]: r[1] for r in rows.collect()}
        params: dict[str, str] = {}
        raw = info.get("Properties", "") or ""
        for k, v in re.findall(r"\(([^,()]+),\s*([^()]*)\)", raw):
            params[k.strip()] = v.strip()
        params.update(self.db_props.get(name.lower(), {}))
        return (
            info.get("Comment", "") or "",
            info.get("Location", "") or "",
            info.get("Owner", "") or "",
            params,
        )

    def _run_describe_database(self, extended: bool, name: str) -> DataFrame:
        """DESCRIBE DATABASE [EXTENDED] name — Hive's one-row metastore
        form (DDLTask.describeDatabase writes db_name, comment,
        location, owner_name, owner_type, parameters; parameters only
        under EXTENDED)."""
        comment, location, owner, params = self._db_info(name)
        pstr = ""
        if extended and params:
            pstr = "{" + ", ".join(
                f"{k}={v}" for k, v in sorted(params.items())
            ) + "}"
        return local_frame(
            self.spark,
            [(name.lower(), comment, location, owner, "USER", pstr)],
            "db_name string, comment string, location string, "
            "owner_name string, owner_type string, parameters string",
        )

    def _run_show_create_database(self, name: str) -> DataFrame:
        """SHOW CREATE DATABASE name (DDLTask.showCreateDatabase) —
        reconstructed DDL, one line per row like Hive's text output."""
        comment, location, owner, params = self._db_info(name)
        lines = [f"CREATE DATABASE `{name.lower()}`"]
        if comment:
            lines += ["COMMENT", f"  '{comment}'"]
        if location:
            lines += ["LOCATION", f"  '{location}'"]
        shown = {k: v for k, v in params.items() if k.lower() != "owner"}
        if shown:
            lines.append("WITH DBPROPERTIES (")
            body = ",\n".join(
                f"  '{k}'='{v}'" for k, v in sorted(shown.items())
            )
            lines += body.split("\n")
            lines.append(")")
        return local_frame(
            self.spark, [(ln,) for ln in lines], "createdb_stmt string"
        )

    def _run_export(
        self,
        table: str,
        out_dir: str,
        part_spec: str | None = None,
    ) -> DataFrame:
        """EXPORT TABLE t [PARTITION (spec)] TO 'path' — copy the data
        files plus a _metadata.json descriptor (schema + partition
        columns), the reference's export layout (ExportSemanticAnalyzer
        + CopyTask; Hive writes a thrift _metadata, ours is JSON). Pure
        file copy — no scan; row count from parquet footers. A
        (possibly partial) PARTITION spec exports only the matching
        partition subtrees (exim_09_part_spec_nonoverlap.q)."""
        import json
        import shutil

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        key = self._resolve_dml_table(table)
        self._assert_not_mixed(key, "EXPORT")
        path = self.table_paths[key]
        parts = self.table_partitions.get(key) or []
        spec = self._parse_partition_spec(part_spec, parts)
        if spec and not parts:
            raise HiveQLUnsupportedError(
                f"EXPORT PARTITION on unpartitioned table {key!r}"
            )
        if os.path.exists(out_dir) and os.listdir(out_dir):
            raise HiveQLUnsupportedError(
                f"EXPORT target {out_dir!r} exists and is not empty "
                "(Hive refuses to export onto existing data)"
            )
        os.makedirs(out_dir, exist_ok=True)
        data_dir = os.path.join(out_dir, "data")
        if os.path.isfile(path):
            os.makedirs(data_dir, exist_ok=True)
            shutil.copy2(path, os.path.join(data_dir, os.path.basename(path)))
        elif spec:
            rels = self._match_partition_rels(
                self._partition_rels(key), spec
            )
            if not rels:
                raise HiveQLUnsupportedError(
                    f"EXPORT: no partition matches ({spec}) in {key}"
                )
            for rel in rels:
                shutil.copytree(
                    os.path.join(path, rel), os.path.join(data_dir, rel)
                )
        else:
            shutil.copytree(path, data_dir)
        meta = {
            "table": key,
            "partition_cols": parts,
            "schema_json": self._target_frame(key).schema.json(),
        }
        with open(os.path.join(out_dir, "_metadata.json"), "w") as f:
            json.dump(meta, f)
        # count what was EXPORTED (the whole table, or just the
        # spec-matched partitions)
        return self._rows_affected(parquet_row_count(data_dir, self.spark))

    def _run_import(
        self, table: str | None, export_dir: str, location: str | None
    ) -> DataFrame:
        """IMPORT [TABLE t] FROM 'path' [LOCATION 'loc'] — register
        (and, with LOCATION, copy) an exported table
        (ImportSemanticAnalyzer + MoveTask). Without a table name the
        export's own name is used (exim_03's ``import from 'dir'``
        form). Without LOCATION the export's data directory is used in
        place (external-table style). Importing INTO AN EXISTING table
        follows Hive's rules: the schemas must match (else the typed
        'Table exists and schema does not match'), a nonpartitioned
        import APPENDS the exported files, and a partitioned import
        adds only NEW partitions — an already-present partition is the
        typed 'Partition already exists'
        (exim_03_nonpart_over_compat.q, exim_09_part_spec_nonoverlap.q
        semantics)."""
        import json
        import shutil

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        meta_path = os.path.join(export_dir, "_metadata.json")
        data_dir = os.path.join(export_dir, "data")
        if not os.path.exists(meta_path) or not os.path.exists(data_dir):
            raise HiveQLUnsupportedError(
                f"{export_dir!r} is not an export directory "
                "(missing _metadata.json/data)"
            )
        with open(meta_path) as f:
            meta = json.load(f)
        key = (table or meta.get("table") or "").split(".")[-1].lower()
        if not key:
            raise HiveQLUnsupportedError(
                "IMPORT: no table name given and the export metadata "
                "carries none"
            )
        if key in self.table_paths:
            return self._import_into_existing(key, meta, data_dir)
        if location:
            if os.path.exists(location) and os.listdir(location):
                raise HiveQLUnsupportedError(
                    f"IMPORT LOCATION {location!r} exists and is not empty"
                )
            shutil.copytree(data_dir, location, dirs_exist_ok=True)
            dest = location
        else:
            dest = data_dir
        self.register_table(key, dest, meta.get("partition_cols") or None)
        return self._rows_affected(parquet_row_count(dest, self.spark))

    def _import_into_existing(
        self, key: str, meta: dict, data_dir: str
    ) -> DataFrame:
        """IMPORT into an existing table (ImportSemanticAnalyzer
        checkTable + the partition-existence walk)."""
        import json
        import shutil
        import uuid

        from pyspark.sql.types import StructType

        from hive_2_3_2_spark.sources.writers import (
            _staged_partition_rels,
            parquet_row_count,
        )

        self._assert_mutable(key)
        self._assert_not_mixed(key, "IMPORT")
        exp_parts = [
            p.lower() for p in (meta.get("partition_cols") or [])
        ]
        tgt_parts = [
            p.lower() for p in (self.table_partitions.get(key) or [])
        ]
        if exp_parts != tgt_parts:
            raise HiveQLUnsupportedError(
                f"IMPORT into {key!r}: table exists and partition "
                f"columns do not match (export {exp_parts}, "
                f"table {tgt_parts})"
            )
        exp_schema = StructType.fromJson(json.loads(meta["schema_json"]))
        tgt_schema = self._target_frame(key).schema
        exp_sig = [
            (f.name.lower(), f.dataType.simpleString())
            for f in exp_schema.fields
        ]
        tgt_sig = [
            (f.name.lower(), f.dataType.simpleString())
            for f in tgt_schema.fields
        ]
        if exp_sig != tgt_sig:
            raise HiveQLUnsupportedError(
                f"IMPORT into {key!r}: table exists and schema does "
                f"not match (export {exp_sig}, table {tgt_sig})"
            )
        path = self.table_paths[key]
        n = parquet_row_count(data_dir, self.spark)
        if tgt_parts:
            rels = _staged_partition_rels(data_dir, len(tgt_parts))
            existing = {
                r for r in self._partition_rels(key)
                if any(
                    fs for _r, _d, fs in os.walk(os.path.join(path, r))
                )
            }
            clash = sorted(set(rels) & existing)
            if clash:
                raise HiveQLUnsupportedError(
                    f"IMPORT into {key!r}: partition(s) {clash[:3]} "
                    "already exist (Hive: Partition already exists)"
                )
            for rel in rels:
                shutil.copytree(
                    os.path.join(data_dir, rel),
                    os.path.join(path, rel),
                    dirs_exist_ok=True,
                )
        else:
            # nonpartitioned: append the exported files under fresh
            # names (an import is file copies, never a rewrite)
            tag = uuid.uuid4().hex[:8]
            for i, fn in enumerate(sorted(os.listdir(data_dir))):
                src = os.path.join(data_dir, fn)
                if not os.path.isfile(src) or fn.startswith(("_", ".")):
                    continue
                shutil.copy2(
                    src,
                    os.path.join(path, f"import_{tag}_{i:05d}.parquet"),
                )
        self.register_table(key, path, self.table_partitions.get(key))
        return self._rows_affected(n)

    def _static_partition_reldir(self, key: str, spec: str) -> str:
        """``p='v', q=1`` → ``p=v/q=1`` for a registered table, validating
        the spec covers exactly the partition columns, in order."""
        parts = self.table_partitions.get(key)
        if not parts:
            raise HiveQLUnsupportedError(
                f"table {key!r} is not partitioned (register_table with "
                "partition_cols to declare partitions)"
            )
        static, dynamic = _parse_partition_spec(spec)
        if dynamic or set(static) != set(parts):
            raise HiveQLUnsupportedError(
                f"PARTITION spec must give static values for exactly "
                f"{parts} (got static={sorted(static)} dynamic={dynamic})"
            )
        return os.path.join(
            *[
                f"{p}={_escape_path_name(static[p].strip(chr(39)))}"
                for p in parts
            ]
        )

    def _run_truncate(self, m: re.Match[str]) -> DataFrame:
        """TRUNCATE TABLE t [PARTITION (...)] — drop the data, keep the
        schema (DDLSemanticAnalyzer truncate path): a truncated partition
        directory is removed outright; a truncated table is replaced by
        an empty parquet file carrying the old schema so the table stays
        readable (the metastore would have kept the schema)."""
        import shutil

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        key = self._resolve_dml_table(m.group(1), mutating=True)
        path = self.table_paths[key]
        parts = self.table_partitions.get(key)
        auto = self._stats_autogather_on()
        snap = self._prewrite_stats_snapshot(key) if auto else {}
        trunc_rel = None
        if m.group(2):
            trunc_rel = self._static_partition_reldir(key, m.group(2))
            dest = os.path.join(path, trunc_rel)
            n = parquet_row_count(dest, self.spark) if os.path.exists(dest) else 0
            shutil.rmtree(dest, ignore_errors=True)
        else:
            if parts:
                raise HiveQLUnsupportedError(
                    "TRUNCATE of a whole partitioned path-backed table "
                    "would leave no file to carry the schema (no "
                    "metastore here) — TRUNCATE per PARTITION instead"
                )
            from hive_2_3_2_spark.sources.writers import _swap_dirs

            n = parquet_row_count(path, self.spark)
            schema = self._target_frame(key).schema
            empty = local_frame(self.spark, [], schema)
            staging = f"{path}__truncate_staging"
            shutil.rmtree(staging, ignore_errors=True)
            empty.coalesce(1).write.parquet(staging)
            _swap_dirs(path, staging)
        self.register_table(key, path, parts)
        if auto:
            # Hive's TRUNCATE resets basic stats to an ACCURATE zero
            # (DDLTask truncateTable → StatsSetupConst.setBasicStatsState
            # TRUE with 0 counters); a truncated PARTITION disappears
            # from this engine's listing, so the carry-forward set is
            # simply every other partition's fresh stats.
            if trunc_rel is None:
                fp, size, _nf = self._fingerprint_and_size(path)
                self.basic_stats[key] = {
                    "num_rows": 0, "total_size": size, "fp": fp,
                }
                self._fp_memo[key] = fp
            else:
                carried = dict(
                    snap.get("parts", {}).get("parts", {}) if snap else {}
                )
                carried.pop(trunc_rel, None)
                pcol = dict(snap.get("pcol") or {})
                pcol.pop(trunc_rel, None)
                if carried or pcol:
                    fp, _size, _nf = self._fingerprint_and_size(path)
                    if carried:
                        self.part_basic_stats[key] = {
                            "fp": fp,
                            "all_parts": self._partition_rels(key),
                            "parts": carried,
                        }
                    if pcol:
                        self.part_column_stats[key] = {
                            "fp": fp, "parts": pcol,
                        }
                    self._fp_memo[key] = fp
        return self._rows_affected(n)

    def _invalidate_stats(self, key: str) -> None:
        """Drop the serve-from-stats gates for a table: basic stats,
        the column-stats fingerprint, and the session fingerprint memo.
        Called on every (re-)registration — i.e. after every engine
        write — and on DROP TABLE. ``column_stats`` values are kept for
        DESCRIBE parity; without a fresh fingerprint they can no longer
        answer queries."""
        self.basic_stats.pop(key, None)
        self.column_stats_fp.pop(key, None)
        self.part_basic_stats.pop(key, None)
        self.part_column_stats.pop(key, None)
        self._fp_memo.pop(key, None)

    def _mixed_format(self, key: str) -> bool:
        """True when the table carries per-partition storage
        descriptors other than parquet (partition_wise_fileformat*.q)
        or its table-level write format was altered."""
        return bool(self.partition_formats.get(key)) or (
            self.table_format.get(key, "parquet") != "parquet"
        )

    def _assert_not_mixed(self, key: str, op: str) -> None:
        if self._mixed_format(key):
            raise HiveQLUnsupportedError(
                f"{op} on {key!r}: the table carries per-partition "
                "file formats (ALTER ... SET FILEFORMAT) and this "
                "operation's rewrite path is parquet-only — INSERT "
                "OVERWRITE the non-parquet partitions back to parquet "
                "(and ALTER ... SET FILEFORMAT PARQUET) first"
            )

    def _stats_autogather_on(self) -> bool:
        """hive.stats.autogather (HiveConf.java:1655, default TRUE):
        stats-aware writes record basic stats as they go, so
        count(*)-style queries are stats-answerable WITHOUT an explicit
        ANALYZE — exactly Hive's StatsTask running after MoveTask."""
        v = self.hiveconf.get("hive.stats.autogather", "true")
        return str(v).strip().lower() in ("true", "1", "yes")

    def _col_autogather_on(self) -> bool:
        """hive.stats.column.autogather (HiveConf.java:1657) — FALSE by
        default, exactly as in Hive 2.3; the autoColumnStats_*.q
        goldens SET it true."""
        v = self.hiveconf.get("hive.stats.column.autogather", "false")
        return str(v).strip().lower() in ("true", "1", "yes")

    def _prewrite_stats_snapshot(self, key: str) -> dict:
        """Fingerprint-validated copy of the stats an in-engine write
        can CARRY FORWARD, taken before the write mutates the files.
        Hive keeps per-partition COLUMN_STATS_ACCURATE flags, so a
        write to partition A leaves partition B's stats serveable
        (StatsTask.java:245ff aggregates per-partition parameters);
        this engine's fingerprint is table-wide, so carrying forward
        means re-recording the untouched partitions' numbers under the
        post-write fingerprint. Stale (fingerprint-mismatched) stats
        are never carried."""
        import copy

        snap: dict = {}
        path = self.table_paths.get(key)
        if path is None:
            return snap
        prev_b = self.basic_stats.get(key)
        prev_p = self.part_basic_stats.get(key)
        prev_pc = self.part_column_stats.get(key)
        if not (prev_b or prev_p or prev_pc):
            return snap
        fp = self._fp_memo.get(key)
        if fp is None:
            fp = self._table_fingerprint(path)
        if prev_b and prev_b.get("fp") == fp:
            snap["basic"] = dict(prev_b)
        if prev_p and prev_p.get("fp") == fp:
            snap["parts"] = {
                "all_parts": list(prev_p["all_parts"]),
                "parts": {
                    r: dict(v) for r, v in prev_p["parts"].items()
                },
            }
        if prev_pc and prev_pc.get("fp") == fp:
            snap["pcol"] = copy.deepcopy(prev_pc["parts"])
        return snap

    def _autogather_insert_stats(
        self,
        key: str,
        n: int,
        overwrite: bool,
        part_counts: dict[str, int] | None,
        pre_rels: set[str] | None,
        snap: dict,
    ) -> None:
        """Record basic stats after an engine INSERT — Hive's
        hive.stats.autogather StatsTask (exec/StatsTask.java:170-220):
        INSERT OVERWRITE (LoadTableDesc.getReplace()) sets the target's
        numRows from the FileSink counters outright; INSERT INTO adds
        the counters to prior ACCURATE stats and otherwise leaves the
        target un-gathered (never a guess). Partitioned writes carry
        ``part_counts`` — per-written-partition row counts read from
        the staged parquet footers (the engine's FileSink counters;
        StatsTask.java:245ff aggregates one counter row per written
        partition) — so STATIC and DYNAMIC specs gather alike. Column
        stats remain ANALYZE-only (Hive gates those behind the separate
        hive.stats.column.autogather, default FALSE in 2.3), but
        untouched partitions' ANALYZEd column stats are carried forward
        like Hive's per-partition accuracy flags. Costs one listing
        walk (the same walk ANALYZE pays) per stats-gathering write —
        never per query."""
        path = self.table_paths[key]
        parts = self.table_partitions.get(key)
        if not parts:
            if overwrite:
                num = n
            elif "basic" in snap:
                num = snap["basic"]["num_rows"] + n
            else:
                return
            fp, size, _nf = self._fingerprint_and_size(path)
            self.basic_stats[key] = {
                "num_rows": num, "total_size": size, "fp": fp,
            }
            self._fp_memo[key] = fp
            return
        carried: dict = dict(
            snap.get("parts", {}).get("parts", {}) if snap else {}
        )
        written: list[str] = []
        for rel, cnt in (part_counts or {}).items():
            if overwrite:
                carried[rel] = {"num_rows": cnt}
            elif rel in carried:
                carried[rel] = {
                    "num_rows": carried[rel]["num_rows"] + cnt
                }
            elif pre_rels is not None and rel not in pre_rels:
                # brand-new partition: its rows ARE this insert's
                carried[rel] = {"num_rows": cnt}
            else:
                # append to an existing partition with no prior stats —
                # that partition stays un-gathered; others may carry
                carried.pop(rel, None)
                continue
            written.append(rel)
        pcol = dict(snap.get("pcol") or {})
        for rel in part_counts or {}:
            pcol.pop(rel, None)  # written partitions' column values moved
        all_rels = self._partition_rels(key)
        existing = set(all_rels)
        # a fully-static OVERWRITE of zero rows REMOVES the partition —
        # prune anything no longer on disk
        carried = {r: v for r, v in carried.items() if r in existing}
        pcol = {r: v for r, v in pcol.items() if r in existing}
        if not carried and not pcol:
            return  # nothing worth recording under a new fingerprint
        fp, _size, _nf = self._fingerprint_and_size(path)
        for rel in written:
            if rel not in carried:
                continue
            pdir = os.path.join(path, rel)
            psize = 0
            for root, _dirs, files in os.walk(pdir):
                psize += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
            carried[rel]["total_size"] = psize
        if carried:
            self.part_basic_stats[key] = {
                "fp": fp,
                "all_parts": all_rels,
                "parts": carried,
            }
        if pcol:
            self.part_column_stats[key] = {"fp": fp, "parts": pcol}
        self._fp_memo[key] = fp

    @staticmethod
    def _table_fingerprint(path: str) -> str:
        """Metadata-only digest of a table's data files (relpath, size,
        mtime) — the engine's stand-in for Hive's COLUMN_STATS_ACCURATE
        flag (StatsSetupConst): stats recorded under one fingerprint
        are served only while the files are bit-for-bit the same set.
        Listing only — no data read — so it costs what a metastore
        lookup costs."""
        return Engine._fingerprint_and_size(path)[0]

    @staticmethod
    def _fingerprint_and_size(path: str) -> tuple[str, int, int]:
        """(fingerprint, total data-file bytes, data-file count) in ONE
        listing walk — the autogather path and DESCRIBE's quick stats
        need all three (StatsTask's updateQuickStats records
        numFiles/totalSize from the same FileStatus listing that
        validates the write)."""
        import hashlib

        h = hashlib.md5()
        if os.path.isfile(path):
            st = os.stat(path)
            h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
            return h.hexdigest(), st.st_size, 1
        entries = []
        size = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.startswith(("_", ".")):
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                size += st.st_size
                entries.append(
                    f"{os.path.relpath(full, path)}:{st.st_size}:"
                    f"{st.st_mtime_ns}"
                )
        for e in sorted(entries):
            h.update(e.encode())
        return h.hexdigest(), size, len(entries)

    @staticmethod
    def _parse_partition_spec(
        spec: str | None, part_cols: list[str]
    ) -> dict[str, str] | None:
        """PARTITION (dt='2010', pri=1) → {'dt': '2010', 'pri': '1'};
        PARTITION (dt) (Hive's all-partitions form) and no spec → None.
        Values keep their directory-encoding (stringified, unquoted)."""
        if not spec or not spec.strip():
            return None
        out: dict[str, str] = {}
        by_lower = {c.lower(): c for c in part_cols}
        for item in spec.split(","):
            item = item.strip()
            if not item:
                continue
            if "=" not in item:  # PARTITION (dt) — dynamic/all form
                return None
            col, _, val = item.partition("=")
            col = col.strip().strip("`")
            if col.lower() not in by_lower:
                raise HiveQLUnsupportedError(
                    f"ANALYZE: {col!r} is not a partition column"
                )
            out[by_lower[col.lower()]] = val.strip().strip("'\"")
        return out or None

    def _partition_rels(self, key: str) -> list[str]:
        """Existing ``col=value/...`` partition dirs of a path-backed
        partitioned table (directory listing, metadata-only)."""
        from hive_2_3_2_spark.sources.writers import _staged_partition_rels

        parts = self.table_partitions.get(key) or []
        return sorted(
            _staged_partition_rels(self.table_paths[key], len(parts))
        )

    def _run_analyze(
        self,
        table: str,
        for_columns: str | None = None,
        part_spec: str | None = None,
    ) -> DataFrame:
        """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS [c, ...]] on
        a path-backed table. Basic stats (numRows/totalSize) come from
        parquet FOOTERS — metadata only, no scan (what Hive's StatsTask
        records). FOR COLUMNS runs ONE aggregation pass computing
        Hive's column statistics (ColumnStatsTask /
        GenericUDAFComputeStats: nulls, approximate NDV — Hive uses an
        FM sketch, here HLL++ — min/max for orderables, avg/max length
        for strings), stores them on the engine (the metastore's
        TAB_COL_STATS role), and DESCRIBE t col serves them back."""
        from hive_2_3_2_spark.sources.writers import parquet_row_count

        key = self._resolve_dml_table(table)
        part_cols = self.table_partitions.get(key) or []
        spec = self._parse_partition_spec(part_spec, part_cols)
        noscan = False
        if for_columns is not None:
            if for_columns.strip().upper() == "NOSCAN":
                # Hive's NOSCAN gathers ONLY file-level stats (numFiles,
                # totalSize) — no footer reads, no row count
                # (StatsTask with the noscan work flag).
                noscan = True
            else:
                return self._run_analyze_columns(key, for_columns, spec)
        if part_cols and not noscan:
            return self._run_analyze_partitions(key, spec)
        if part_cols and noscan:
            # per-partition file-level stats, honoring a (possibly
            # partial) spec — stats_noscan_1.q's surface
            base = self.table_paths[key]
            rels = self._match_partition_rels(
                self._partition_rels(key), spec
            )
            rows = []
            for rel in rels:
                nf, sz = 0, 0
                for root, _dirs, files in os.walk(
                    os.path.join(base, rel)
                ):
                    data = [
                        f for f in files if not f.startswith(("_", "."))
                    ]
                    nf += len(data)
                    sz += sum(
                        os.path.getsize(os.path.join(root, f))
                        for f in data
                    )
                rows.append((rel, nf, sz))
            return local_frame(
                self.spark, rows,
                "partition string, num_files bigint, "
                "total_size_bytes bigint",
            )
        path = self.table_paths[key]
        size = 0
        n_files = 0
        if os.path.isfile(path):
            size, n_files = os.path.getsize(path), 1
        else:
            for root, _dirs, files in os.walk(path):
                data = [f for f in files if not f.startswith(("_", "."))]
                n_files += len(data)
                size += sum(
                    os.path.getsize(os.path.join(root, f)) for f in data
                )
        if noscan:
            return local_frame(
                self.spark, [(n_files, size)],
                "num_files bigint, total_size_bytes bigint",
            )
        if self._mixed_format(key):
            # non-parquet partitions have no parquet footers — ANALYZE
            # pays one real distributed count (what Hive's StatsTask
            # without NOSCAN does for non-footer formats)
            n = self._target_frame(key).count()
        else:
            n = parquet_row_count(path, self.spark)
        fp = self._table_fingerprint(path)
        self.basic_stats[key] = {
            "num_rows": n,
            "total_size": size,
            "fp": fp,
        }
        self._fp_memo[key] = fp  # ANALYZE is a re-fingerprint event
        return local_frame(
            self.spark, [(n, size)], "num_rows bigint, total_size_bytes bigint"
        )

    @staticmethod
    def _match_partition_rels(
        all_rels: list[str], spec: dict[str, str] | None
    ) -> list[str]:
        """Partition rel-paths matching a (possibly PARTIAL) spec —
        Hive's partial-spec semantics: ``PARTITION (ds='x')`` over a
        (ds, hr) table selects every hr under that ds
        (stats_noscan_1.q's analyze_srcpart_partial)."""
        if spec is None:
            return all_rels
        want = {c.lower(): v for c, v in spec.items()}
        out = []
        for rel in all_rels:
            vals = {}
            for seg in rel.split("/"):
                c, _, v = seg.partition("=")
                # dirs are stored ESCAPED (FileUtils.escapePathName);
                # specs carry raw values
                vals[c.lower()] = _unescape_path_name(v)
            if all(vals.get(c) == v for c, v in want.items()):
                out.append(rel)
        return out

    def _run_analyze_partitions(
        self, key: str, spec: dict[str, str] | None
    ) -> DataFrame:
        """Per-partition basic stats (Hive StatsTask writes one
        PARTITION_PARAMS row per partition; StatsOptimizer aggregates
        them over the pruned list at query time). ``spec`` of
        col→value analyzes one partition; None analyzes every existing
        partition. Footer reads only — no data scan."""
        from hive_2_3_2_spark.sources.writers import parquet_row_count

        path = self.table_paths[key]
        all_rels = self._partition_rels(key)
        targets = self._match_partition_rels(all_rels, spec)
        if spec is not None and not targets:
            raise HiveQLUnsupportedError(
                f"ANALYZE: no partition matches ({spec}) in {key}"
            )
        fp = self._table_fingerprint(path)
        store = self.part_basic_stats.get(key)
        if not store or store.get("fp") != fp:
            store = {"fp": fp, "all_parts": all_rels, "parts": {}}
        else:
            store["all_parts"] = all_rels
        pmap = self.partition_formats.get(key, {})
        rows = []
        for rel in targets:
            pdir = os.path.join(path, rel)
            if pmap.get(rel, "parquet") != "parquet":
                # no parquet footers in this partition — one real
                # per-partition count (its own format's scan)
                src, opts = self._MIXED_FORMAT_SOURCES[pmap[rel]]
                rdr = self.spark.read
                declared = self.table_schemas.get(key)
                if declared is not None:
                    from pyspark.sql.types import StructType

                    parts_l = {
                        p.lower()
                        for p in self.table_partitions.get(key, [])
                    }
                    rdr = rdr.schema(StructType([
                        f for f in declared.fields
                        if f.name.lower() not in parts_l
                    ]))
                for k, v in opts.items():
                    rdr = rdr.option(k, v)
                n = rdr.format(src).load(pdir).count()
            else:
                n = parquet_row_count(pdir, self.spark)
            size = 0
            for root, _dirs, files in os.walk(pdir):
                size += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
            store["parts"][rel] = {"num_rows": n, "total_size": size}
            rows.append((rel, n, size))
        self.part_basic_stats[key] = store
        self._fp_memo[key] = fp  # ANALYZE is a re-fingerprint event
        return local_frame(
            self.spark, rows,
            "partition string, num_rows bigint, total_size_bytes bigint",
        )

    @staticmethod
    def _col_stats_aggs(fields: dict, cols: list[str]) -> list:
        """The per-column statistics aggregate battery (Hive's
        GenericUDAFComputeStats roles: nulls, approximate NDV — Hive an
        FM sketch, here HLL++ — min/max for orderables, avg/max length
        for strings). Shared by ANALYZE ... FOR COLUMNS and the
        column-autogather observe that rides an INSERT write."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            NumericType,
            StringType,
            TimestampType,
        )

        aggs = []
        for c in cols:
            dt = fields[c].dataType
            aggs += [
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                F.approx_count_distinct(c).alias(f"{c}__ndv"),
            ]
            if isinstance(dt, (NumericType, TimestampType)):
                aggs += [
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                ]
            if isinstance(dt, StringType):
                aggs += [
                    F.round(F.avg(F.length(c)), 2).alias(f"{c}__avglen"),
                    F.max(F.length(c)).alias(f"{c}__maxlen"),
                ]
        return aggs

    def _run_analyze_columns(
        self,
        key: str,
        for_columns: str,
        part_spec: dict[str, str] | None = None,
    ) -> DataFrame:
        """The FOR COLUMNS pass: one aggregation job over the table
        computing every requested column's stats together (map-side
        partials; the shuffle carries one row of aggregates). On a
        PARTITIONED table this is ONE grouped job over the partition
        columns — every partition's stats in a single pass (Hive runs
        ColumnStatsTask per partition; grouping gets the same result in
        one shuffle, which is the right shape at 10^4 partitions)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import NumericType, StringType, TimestampType

        target = self._target_frame(key)
        fields = {f.name: f for f in target.schema.fields}
        spec = re.sub(r"^\s*FOR\s+COLUMNS\s*", "", for_columns,
                      flags=re.IGNORECASE).strip().rstrip(";").strip()
        by_lower = {name.lower(): name for name in fields}
        requested = (
            [c.strip().strip("`") for c in spec.split(",") if c.strip()]
            if spec
            else list(fields)
        )
        unknown = [c for c in requested if c.lower() not in by_lower]
        if unknown:
            raise HiveQLUnsupportedError(
                f"ANALYZE FOR COLUMNS: unknown column(s) {unknown}"
            )
        # HiveQL identifiers are case-insensitive
        cols = [by_lower[c.lower()] for c in requested]
        aggs = self._col_stats_aggs(fields, cols)
        tpart_cols = self.table_partitions.get(key) or []
        if tpart_cols and key in self.table_paths:
            return self._analyze_columns_partitioned(
                key, target, fields, cols, aggs, tpart_cols, part_spec
            )
        row = target.agg(*aggs).collect()[0].asDict()
        if key in self.table_paths:
            fp = self._table_fingerprint(self.table_paths[key])
            self.column_stats_fp[key] = fp
            self._fp_memo[key] = fp  # ANALYZE is a re-fingerprint event
        stats = self.column_stats.setdefault(key, {})
        out_rows = []
        for c in cols:
            s = {
                "data_type": fields[c].dataType.simpleString(),
                "num_nulls": int(row[f"{c}__nulls"] or 0),
                "distinct_count": int(row[f"{c}__ndv"] or 0),
                "min": row.get(f"{c}__min"),
                "max": row.get(f"{c}__max"),
                "avg_col_len": row.get(f"{c}__avglen"),
                "max_col_len": row.get(f"{c}__maxlen"),
            }
            stats[c] = s
            out_rows.append(
                (
                    c,
                    s["data_type"],
                    s["num_nulls"],
                    s["distinct_count"],
                    str(s["min"]) if s["min"] is not None else None,
                    str(s["max"]) if s["max"] is not None else None,
                )
            )
        return local_frame(
            self.spark, out_rows,
            "col_name string, data_type string, num_nulls bigint, "
            "distinct_count bigint, min string, max string",
        )

    def _analyze_columns_partitioned(
        self, key, target, fields, cols, aggs, part_cols, part_spec
    ) -> DataFrame:
        """Per-partition column stats in ONE grouped job (the
        metastore's PART_COL_STATS role). The collected result is one
        row PER PARTITION — metadata-sized, not data-sized."""
        from pyspark.sql import functions as F

        if part_spec:
            for c, v in part_spec.items():
                target = target.filter(F.col(c).cast("string") == v)
        grouped = (
            target.groupBy(*[F.col(c) for c in part_cols])
            .agg(F.count(F.lit(1)).alias("__cnt"), *aggs)
            .collect()
        )
        if part_spec and not grouped:
            raise HiveQLUnsupportedError(
                f"ANALYZE: partition ({part_spec}) has no rows/does not "
                f"exist in {key}"
            )
        fp = self._table_fingerprint(self.table_paths[key])
        store = self.part_column_stats.get(key)
        if not store or store.get("fp") != fp:
            store = {"fp": fp, "parts": {}}
        out_rows = []
        for grow in grouped:
            row = grow.asDict()
            rel = "/".join(
                f"{c}=" + (
                    "__HIVE_DEFAULT_PARTITION__"
                    if row[c] is None else str(row[c])
                )
                for c in part_cols
            )
            pstats = store["parts"].setdefault(rel, {})
            pstats["__num_rows"] = int(row["__cnt"])
            for c in cols:
                s = {
                    "data_type": fields[c].dataType.simpleString(),
                    "num_nulls": int(row[f"{c}__nulls"] or 0),
                    "distinct_count": int(row[f"{c}__ndv"] or 0),
                    "min": row.get(f"{c}__min"),
                    "max": row.get(f"{c}__max"),
                    "avg_col_len": row.get(f"{c}__avglen"),
                    "max_col_len": row.get(f"{c}__maxlen"),
                }
                pstats[c] = s
                out_rows.append(
                    (
                        rel,
                        c,
                        s["data_type"],
                        s["num_nulls"],
                        s["distinct_count"],
                        str(s["min"]) if s["min"] is not None else None,
                        str(s["max"]) if s["max"] is not None else None,
                    )
                )
        self.part_column_stats[key] = store
        # table-level rollup for DESCRIBE t col (the TAB_COL_STATS
        # serving role): nulls sum, extrema merge, NDV = max over
        # partitions (a lower bound — NDVs don't add). The serve-from-
        # stats path never reads this for partitioned tables; it walks
        # the fingerprint-gated per-partition store above.
        tstats = self.column_stats.setdefault(key, {})
        for c in cols:
            parts_s = [
                ps[c] for ps in store["parts"].values() if c in ps
            ]
            if not parts_s:
                continue
            mins = [s["min"] for s in parts_s if s["min"] is not None]
            maxs = [s["max"] for s in parts_s if s["max"] is not None]
            lens = [
                s["max_col_len"] for s in parts_s
                if s.get("max_col_len") is not None
            ]
            avgs = [
                s["avg_col_len"] for s in parts_s
                if s.get("avg_col_len") is not None
            ]
            tstats[c] = {
                "data_type": parts_s[0]["data_type"],
                "num_nulls": sum(s["num_nulls"] for s in parts_s),
                "distinct_count": max(
                    s["distinct_count"] for s in parts_s
                ),
                "min": min(mins) if mins else None,
                "max": max(maxs) if maxs else None,
                "avg_col_len": max(avgs) if avgs else None,
                "max_col_len": max(lens) if lens else None,
            }
        self._fp_memo[key] = fp  # ANALYZE is a re-fingerprint event
        return local_frame(
            self.spark, out_rows,
            "partition string, col_name string, data_type string, "
            "num_nulls bigint, distinct_count bigint, min string, "
            "max string",
        )

    def _stats_part_predicate(self, key: str, where: str | None):
        """Compile a stats-serveable WHERE into rel-path → bool, or
        None when any conjunct is not a partition-column comparison
        against a literal (→ the caller falls back to real execution).
        NULL partitions (__HIVE_DEFAULT_PARTITION__) compare false,
        like SQL comparisons with NULL."""
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            NumericType,
            ShortType,
        )

        part_cols = self.table_partitions[key]
        if not where or not where.strip():
            return lambda rel: True
        by_lower = {c.lower(): c for c in part_cols}
        types = {
            f.name.lower(): f.dataType
            for f in self._declared_schema(key).fields
        }
        integral_types = (ByteType, ShortType, IntegerType, LongType)
        ops = {
            "=": lambda a, b: a == b,
            "!=": lambda a, b: a != b,
            "<>": lambda a, b: a != b,
            "<=": lambda a, b: a <= b,
            ">=": lambda a, b: a >= b,
            "<": lambda a, b: a < b,
            ">": lambda a, b: a > b,
        }
        preds: list[tuple[str, object, object, bool]] = []
        for conj in re.split(r"\s+AND\s+", where.strip(),
                             flags=re.IGNORECASE):
            pm = _STATS_PART_PRED.match(conj.strip())
            if not pm:
                return None
            col, op, lit = pm.groups()
            if col.lower() not in by_lower:
                return None
            litv = lit[1:-1] if lit.startswith("'") else lit
            # Integral partition columns compare via int() — float()
            # loses precision above 2^53, so a bigint partition value
            # would otherwise match the wrong literal.
            coerce = None
            ctype = types.get(col.lower())
            if isinstance(ctype, integral_types):
                coerce = int
            elif isinstance(ctype, NumericType):
                coerce = float
            if coerce is not None:
                try:
                    litv = coerce(litv)
                except ValueError:
                    return None
            preds.append((by_lower[col.lower()], ops[op], litv, coerce))

        def fn(rel: str) -> bool:
            # Dir values are stored ESCAPED (ExternalCatalogUtils
            # charset: '/', ':', '%', '=' ...); WHERE literals are the
            # logical values — unescape before comparing, exactly like
            # _find_matching_partitions / _partition_tuples_df.
            vals: dict[str, str] = {}
            for seg in rel.split("/"):
                c, _, v = seg.partition("=")
                vals[c] = _unescape_path_name(v)
            for col, op, litv, coerce in preds:
                raw = vals.get(col)
                if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
                    return False
                if coerce is not None:
                    try:
                        lhs = coerce(raw)
                    except ValueError:
                        return False
                else:
                    lhs = raw
                if not op(lhs, litv):
                    return False
            return True

        return fn

    def _partitioned_stats_sources(
        self, key: str, fp: str, where: str | None
    ):
        """(num_rows, col_lookup) over the PRUNED partition list, or
        None → fall back. Requires basic stats for every candidate
        partition under the current fingerprint (a partition added or
        rewritten since ANALYZE changes the table fingerprint, so stale
        per-partition numbers can never be served)."""
        pred = self._stats_part_predicate(key, where)
        if pred is None:
            return None
        pb = self.part_basic_stats.get(key)
        if not pb or pb["fp"] != fp:
            return None
        cand = [rel for rel in pb["all_parts"] if pred(rel)]
        parts = pb["parts"]
        if any(rel not in parts for rel in cand):
            return None
        num_rows = sum(parts[rel]["num_rows"] for rel in cand)
        pc = self.part_column_stats.get(key)
        pc_ok = bool(pc) and pc.get("fp") == fp

        def col_lookup(fname: str) -> dict | None:
            if not pc_ok:
                return None
            tot_nulls = 0
            mins: list = []
            maxs: list = []
            for rel in cand:
                ps = pc["parts"].get(rel)
                s = ps.get(fname) if ps else None
                if s is None:
                    return None
                tot_nulls += s["num_nulls"]
                if s.get("min") is not None:
                    mins.append(s["min"])
                if s.get("max") is not None:
                    maxs.append(s["max"])
            return {
                "num_nulls": tot_nulls,
                "min": min(mins) if mins else None,
                "max": max(maxs) if maxs else None,
            }

        return num_rows, col_lookup

    def _try_metadata_only(self, query: str) -> DataFrame | None:
        """Hive's MetadataOnlyOptimizer
        (optimizer/MetadataOnlyOptimizer.java, wired behind
        hive.optimize.metadataonly default TRUE;
        limit_partition_metadataonly.q): ``SELECT DISTINCT`` over
        PARTITION COLUMNS ONLY — optionally under a partition-only
        WHERE conjunction — answers from the partition LISTING. Unlike
        the stats path this needs no ANALYZE and no staleness gate:
        the directory list IS ground truth. At 100 TB this is the
        difference between one listing and a full scan of every file
        for a query whose answer is the partition layout. Returns
        None → normal execution for any other shape."""
        conf = self.hiveconf.get("hive.optimize.metadataonly", "true")
        if str(conf).strip().lower() not in ("true", "1", "yes"):
            return None
        m = _META_DISTINCT.match(query)
        if not m:
            return self._try_metadata_only_aggs(query)
        try:
            key = self._resolve_dml_table(m.group(2))
        except Exception:
            return None
        parts = self.table_partitions.get(key)
        if not parts:
            return None
        by_lower = {c.lower(): c for c in parts}
        cols: list[str] = []
        for raw in m.group(1).split(","):
            c = raw.strip().strip("`").split(".")[-1].strip("`").lower()
            if c not in by_lower:
                return None  # a non-partition column → real execution
            cols.append(c)
        pred = self._stats_part_predicate(key, m.group("where"))
        if pred is None:
            return None
        return self._partition_tuples_df(key, cols, pred)

    def _partition_tuples_df(self, key: str, cols: list[str], pred):
        """DISTINCT partition-value tuples for the requested partition
        columns, built from the directory LISTING (typed via the
        declared schema). One row per distinct combination — safe for
        any duplicate-insensitive consumer (DISTINCT, min/max,
        count(DISTINCT ...)): Hive's metadata-only path reads one null
        row per partition, and these aggregates can't tell the
        difference."""
        parts = self.table_partitions.get(key) or []
        by_lower = {c.lower(): c for c in parts}
        seen: set[tuple] = set()
        for rel in self._partition_rels(key):
            if not pred(rel):
                continue
            vals = {}
            for seg in rel.split("/"):
                c, _, v = seg.partition("=")
                v = _unescape_path_name(v)
                vals[c.lower()] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else v
                )
            seen.add(tuple(vals.get(c) for c in cols))
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType(
            [StructField(by_lower[c], StringType()) for c in cols]
        )
        df = local_frame(self.spark, sorted(seen, key=repr), schema)
        declared = {
            f.name.lower(): f.dataType
            for f in self._declared_schema(key).fields
        }
        exprs = [
            f"CAST(`{by_lower[c]}` AS {declared[c].simpleString()}) "
            f"AS `{by_lower[c]}`"
            if c in declared and declared[c].simpleString() != "string"
            else f"`{by_lower[c]}`"
            for c in cols
        ]
        return df.selectExpr(*exprs)

    def _try_metadata_only_aggs(self, query: str) -> DataFrame | None:
        """The aggregate half of Hive's metadata-only path
        (physical/MetadataOnlyOptimizer.java rewrites the scan to ONE
        NULL ROW PER PARTITION via OneNullRowInputFormat;
        metadataonly1.q): ``min/max(partition_col)`` and
        ``count(DISTINCT partition_col)`` — optionally grouped by
        partition columns under a partition-only WHERE — answer from
        the partition LISTING. The famous consequence, pinned by the
        golden: an EMPTY partition still contributes its value, so
        ``max(ds)`` over a table whose only partition holds zero rows
        returns that ds, not NULL. Row-counting aggregates
        (plain count) keep REAL execution — one row per partition
        would miscount them (metadataonly1.q: count(ds) is 0 over the
        empty partition while max(ds) is '1')."""
        m = _META_AGG.match(query)
        if not m:
            return None
        try:
            key = self._resolve_dml_table(m.group(2))
        except Exception:
            return None
        parts = self.table_partitions.get(key)
        if not parts:
            return None
        by_lower = {c.lower(): c for c in parts}
        raw_gby = [
            c.strip() for c in (m.group("gby") or "").split(",")
            if c.strip()
        ]
        if any("." in c for c in raw_gby):
            return None  # alias-qualified names won't resolve over the
            # listing view — keep real execution
        gby = [c.strip("`").lower() for c in raw_gby]
        if any(c not in by_lower for c in gby):
            return None
        needed: set[str] = set(gby)
        n_aggs = 0
        for item in _split_top_args(m.group(1)):
            im = _META_AGG_ITEM.match(item.strip())
            if im is None:
                return None
            mm_col, cd_col, bare = im.group(2), im.group(3), im.group(4)
            col = (mm_col or cd_col or bare or "").lower()
            if col not in by_lower:
                return None
            if bare:
                if col not in gby:
                    return None  # non-grouped bare column
            else:
                n_aggs += 1
            needed.add(col)
        if n_aggs == 0:
            return None  # plain projections belong to the DISTINCT path
        pred = self._stats_part_predicate(key, m.group("where"))
        if pred is None:
            return None
        tuples = self._partition_tuples_df(key, sorted(needed), pred)
        tuples.createOrReplaceTempView("__meta_only_parts")
        sql = f"SELECT {m.group(1)} FROM __meta_only_parts"
        if gby:
            sql += f" GROUP BY {m.group('gby')}"
        return self.spark.sql(sql)

    def _try_stats_answer(self, query: str) -> DataFrame | None:
        """Answer aggregate-only queries purely from gathered stats —
        Hive's StatsOptimizer (reference:
        ql/src/java/org/apache/hadoop/hive/ql/optimizer/StatsOptimizer.java,
        wired at Optimizer.java:227 behind hive.compute.query.using.stats,
        default TRUE — HiveConf.java:2043). Scope mirrors the
        reference's stable core (metadata_only_queries.q surface):
        ``count(*)``/``count(1)`` from basic numRows, ``count(col)`` =
        numRows - numNulls, ``min/max(col)`` from column stats,
        ``sum(<literal>)`` = literal × numRows, and interleaved
        CONSTANT select items — over ONE path-backed table. PARTITIONED
        tables serve from per-partition stats aggregated over the
        pruned partition list, and the only WHERE accepted is a
        conjunction of partition-column comparisons (exactly the
        reference's partition-pruning path,
        metadata_only_queries_with_filters.q). Returns None (normal
        execution) when the conf is off, the shape doesn't match, stats
        were never gathered, any candidate partition lacks stats, or
        the data-file fingerprint no longer matches the one recorded at
        ANALYZE time (= Hive dropping COLUMN_STATS_ACCURATE on a
        non-stats-aware write). The result is a driver-local row — zero
        scan, zero job, exactly like Hive's FetchTask-over-metastore
        plan."""
        from pyspark.sql.types import LongType, StructField, StructType

        conf = self.hiveconf.get("hive.compute.query.using.stats", "true")
        if str(conf).strip().lower() not in ("true", "1", "yes"):
            return None
        m = _STATS_QUERY.match(query)
        if not m:
            return None
        try:
            key = self._resolve_dml_table(m.group(2))
        except Exception:
            return None
        path = self.table_paths.get(key)
        if path is None:
            return None
        where = m.group(3)
        # One listing per (table, session): engine writes invalidate
        # via register_table, so only out-of-band file changes need a
        # disk check — paid once here, refreshed by ANALYZE / REFRESH
        # TABLE (the same contract as Spark's own file-listing cache).
        fp = self._fp_memo.get(key)
        if fp is None:
            fp = self._table_fingerprint(path)
            self._fp_memo[key] = fp
        if self.table_partitions.get(key):
            src = self._partitioned_stats_sources(key, fp, where)
            if src is None:
                return None
            num_rows, col_lookup = src
        else:
            if where and where.strip():
                return None  # data-column predicate → real execution
            basic = self.basic_stats.get(key)
            if not basic or basic["fp"] != fp:
                return None
            num_rows = basic["num_rows"]
            colstats = self.column_stats.get(key, {})
            cols_fresh = self.column_stats_fp.get(key) == fp

            def col_lookup(fname: str) -> dict | None:
                return colstats.get(fname) if cols_fresh else None

        fields_by_lower = {
            f.name.lower(): f for f in self._declared_schema(key).fields
        }
        out_fields: list[StructField] = []
        out_vals: list[object] = []
        n_aggs = 0
        for item in _split_top_args(m.group(1)):
            item = item.strip()
            im = _STATS_AGG_ITEM.match(item)
            if im:
                fn = im.group(1).lower()
                arg = im.group(2).strip("`")
                alias = (im.group(3) or "").strip("`")
                n_aggs += 1
                if fn == "count" and arg in ("*", "1"):
                    # Spark's real execution names unaliased count(*)
                    # as count(1) — match it so toggling
                    # hive.compute.query.using.stats never changes
                    # schema.
                    out_fields.append(
                        StructField(alias or "count(1)", LongType(), False)
                    )
                    out_vals.append(num_rows)
                    continue
                f = fields_by_lower.get(arg.lower())
                if f is None:
                    return None
                s = col_lookup(f.name)
                if not s:
                    return None
                if fn == "count":
                    out_fields.append(
                        StructField(
                            alias or f"count({f.name})", LongType(), False
                        )
                    )
                    out_vals.append(num_rows - s["num_nulls"])
                    continue
                # min/max: only orderable types whose stats carry the
                # value (strings record lengths, not extrema — fall
                # back, exactly like the reference's unsupported-type
                # bail-out). All-NULL columns and zero pruned rows
                # answer NULL like real execution.
                if s.get(fn) is None:
                    if num_rows == 0 or s["num_nulls"] == num_rows:
                        out_fields.append(
                            StructField(
                                alias or f"{fn}({f.name})", f.dataType,
                                True,
                            )
                        )
                        out_vals.append(None)
                        continue
                    return None
                out_fields.append(
                    StructField(alias or f"{fn}({f.name})", f.dataType, True)
                )
                out_vals.append(s[fn])
                continue
            sm = _STATS_SUM_LIT.match(item)
            if sm:
                lit, alias = sm.group(1), (sm.group(2) or "").strip("`")
                n_aggs += 1
                name = alias or f"sum({lit})"
                if "." in lit:
                    from decimal import Decimal

                    from pyspark.sql.types import DecimalType

                    d = Decimal(lit)
                    scale = -d.as_tuple().exponent
                    prec = len(d.as_tuple().digits)
                    # Spark: sum over DECIMAL(p,s) → DECIMAL(p+10, s)
                    out_fields.append(
                        StructField(
                            name,
                            DecimalType(min(38, prec + 10), scale),
                            True,
                        )
                    )
                    out_vals.append(d * num_rows if num_rows else None)
                else:
                    out_fields.append(StructField(name, LongType(), True))
                    out_vals.append(
                        int(lit) * num_rows if num_rows else None
                    )
                continue
            # constant select item ('1' as one, 3+4.0 as three, ...):
            # evaluate standalone — resolves only if it references no
            # columns; any aggregate-looking call falls back (min(5)
            # over an EMPTY table is NULL, not 5).
            if re.search(
                r"\b(count|sum|min|max|avg|stddev|var\w*|collect|"
                r"approx)\w*\s*\(",
                item,
                re.IGNORECASE,
            ):
                return None
            try:
                cdf = self.spark.sql(f"SELECT {item}")
                crows = cdf.collect()
            except Exception:
                return None
            if len(crows) != 1 or len(crows[0]) != 1:
                return None
            out_fields.append(cdf.schema.fields[0])
            out_vals.append(crows[0][0])
        if n_aggs == 0:
            # constants-only select returns one row PER TABLE ROW in
            # real execution — not a stats shape
            return None
        return local_frame(
            self.spark, [tuple(out_vals)], StructType(out_fields)
        )

    def _run_describe_column(self, table: str, column: str) -> DataFrame:
        """DESCRIBE t col — Hive's column-stats output shape
        (MetaDataFormatUtils.getColumnInformation): stats populated
        when ANALYZE ... FOR COLUMNS ran, empty otherwise."""
        key = self._resolve_dml_table(table)
        fields = {
            f.name.lower(): f for f in self._declared_schema(key).fields
        }
        if column.lower() not in fields:
            raise HiveQLUnsupportedError(
                f"DESCRIBE: no column {column!r} in table {key!r}"
            )
        f = fields[column.lower()]
        s = self.column_stats.get(key, {}).get(f.name, {})

        def fmt(v):
            return "" if v is None else str(v)

        rows = [
            ("col_name", f.name),
            ("data_type", f.dataType.simpleString()),
            ("min", fmt(s.get("min"))),
            ("max", fmt(s.get("max"))),
            ("num_nulls", fmt(s.get("num_nulls"))),
            ("distinct_count", fmt(s.get("distinct_count"))),
            ("avg_col_len", fmt(s.get("avg_col_len"))),
            ("max_col_len", fmt(s.get("max_col_len"))),
        ]
        return local_frame(
            self.spark, rows, "info_name string, info_value string"
        )

    def _run_msck(self, table: str) -> DataFrame:
        """MSCK [REPAIR] TABLE — re-discover partitions from the
        directory layout and refresh the registered view (reference:
        DDLSemanticAnalyzer/HiveMetaStoreChecker msck path). Path-backed
        tables discover partitions on every read, so repair here means
        re-registering (picks up directories dropped in out-of-band)
        and reporting the current partition count."""
        from hive_2_3_2_spark.sources.writers import _staged_partition_rels

        key = self._resolve_dml_table(table)
        parts = self.table_partitions.get(key)
        self.register_table(key, self.table_paths[key], parts)
        n = (
            len(_staged_partition_rels(self.table_paths[key], len(parts)))
            if parts
            else 0
        )
        return self._rows_affected(n)

    def _static_partition_exists(self, table: str, spec_txt: str) -> bool:
        """Does the fully-STATIC partition named by an INSERT OVERWRITE
        ... IF NOT EXISTS spec already exist? Dynamic/partial specs
        return False (Hive only allows the guard on full static
        specs — the insert then proceeds and errors naturally if the
        spec is bad)."""
        key = table.split(".")[-1].lower()
        pairs: dict[str, str] = {}
        for item in spec_txt.split(","):
            col, eq, val = item.partition("=")
            if not eq:
                return False  # dynamic column → not a static spec
            pairs[col.strip().strip("`").lower()] = (
                val.strip().strip("'\"")
            )
        if key in self.table_paths:
            part_cols = self.table_partitions.get(key) or []
            if set(pairs) != {c.lower() for c in part_cols}:
                return False
            spec = {
                c: pairs[c.lower()] for c in part_cols
            }
            return bool(
                self._match_partition_rels(self._partition_rels(key), spec)
            )
        try:
            rows = self.spark.sql(f"SHOW PARTITIONS {table}").collect()
        except Exception:
            return False
        want = {f"{c}={v}" for c, v in pairs.items()}
        for r in rows:
            segs = set(r[0].split("/"))
            if want <= segs:
                return True
        return False

    def _ctas_hive_autonames(self, query: str, m: re.Match[str]) -> str:
        """Hive names unaliased CTAS expression columns ``_c<ordinal>``
        (SemanticAnalyzer genConvertedNames; ctas_colname.q golden —
        ``create table s as select *, key+1 from src`` yields columns
        key, value, _c1). Spark would store the raw expression text
        ("(key + 1)") as the column name. When the CTAS select's output
        has any non-identifier name, wrap it in a projection that
        aliases exactly those columns by ordinal — one extra Project,
        collapsed by Catalyst. ``m`` is the statement's _CTAS_SPLIT
        match."""
        body = m.group(2).rstrip().rstrip(";")
        try:
            # this pass runs above the macro step of _SQL_STEPS, so the
            # body expands its macros here
            schema = self._body_df(self._expand_macros(body)).schema
        except Exception:
            return query  # let the real handler surface the error
        ident = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
        if all(ident.fullmatch(f.name) for f in schema.fields):
            return query
        projs = []
        for i, f in enumerate(schema.fields):
            quoted = "`" + f.name.replace("`", "``") + "`"
            if ident.fullmatch(f.name):
                projs.append(quoted)
            else:
                projs.append(f"{quoted} AS _c{i}")
        return (
            f"{m.group(1)} SELECT {', '.join(projs)} FROM ({body}) "
            "__ctas_autoname"
        )

    def _run_refresh(self, table: str) -> DataFrame:
        """REFRESH TABLE t — the out-of-band-write escape hatch (same
        contract as Spark's own REFRESH: cached file listings are
        rebuilt). Drops the session fingerprint memo so the next
        stats-answered query re-verifies the files on disk; gathered
        stats themselves survive and serve again if the files turn out
        unchanged."""
        key = self._resolve_dml_table(table)
        self.spark.catalog.refreshTable(key)
        self._fp_memo.pop(key, None)
        return self._rows_affected(0)

    def _run_rename(self, old_name: str, new_name: str) -> DataFrame:
        """ALTER TABLE old RENAME TO new — external-table semantics
        (the reference leaves external data in place on rename,
        DDLTask alterTable): the path is unchanged, the registration
        moves to the new name and the old view is dropped. ALL metastore
        state travels with the table — declared-schema overlay,
        TBLPROPERTIES, and column stats (Hive's alterTable carries the
        full StorageDescriptor + parameters to the new name); leaving
        them under the old key would both lose them for the renamed
        table and poison any future table registered under that name.
        Dependent views are refreshed last: a view over the old name no
        longer resolves and is dropped (late-binding semantics)."""
        key = self._resolve_dml_table(old_name)
        new_key = new_name.split(".")[-1].lower()
        if new_key in self.table_paths or new_key in self.views:
            raise HiveQLUnsupportedError(
                f"RENAME target {new_key!r} already exists"
            )
        path = self.table_paths.pop(key)
        parts = self.table_partitions.pop(key, None)
        self.tables.pop(key, None)
        for store in (self.table_schemas, self.table_props,
                      self.column_stats, self.schema_epochs):
            if key in store:
                store[new_key] = store.pop(key)
        # gathered stats travel too (rename moves no data files, so the
        # recorded fingerprints stay valid) — migrate AFTER
        # register_table, whose invalidation hook would clear them
        stats_stores = (self.basic_stats, self.column_stats_fp,
                        self.part_basic_stats, self.part_column_stats,
                        self._fp_memo)
        carried = [(s, s.pop(key)) for s in stats_stores if key in s]
        note_view_override(self.spark, key)
        self.spark.catalog.dropTempView(key)
        self.register_table(new_key, path, parts)
        for store, val in carried:
            store[new_key] = val
        self._refresh_dependent_views(key)
        return self._rows_affected(0)

    def _run_exchange_partition(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE dest EXCHANGE PARTITION (spec) WITH TABLE src —
        MOVE the partition directory from src into dest (reference:
        DDLSemanticAnalyzer analyzeExchangePartition → DDLTask
        exchangeTablePartition; a metadata+rename operation, no data
        rewrite). Hive's validation enforced as typed errors: both
        tables partitioned the same way, same column schema, source
        partition exists, destination partition doesn't."""
        import shutil

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        dest = self._resolve_dml_table(m.group(1), mutating=True)
        src = self._resolve_dml_table(m.group(3), mutating=True)
        self._assert_not_mixed(dest, "EXCHANGE PARTITION")
        self._assert_not_mixed(src, "EXCHANGE PARTITION")
        spec = m.group(2)
        d_parts = self.table_partitions.get(dest)
        s_parts = self.table_partitions.get(src)
        if not d_parts or d_parts != s_parts:
            raise HiveQLUnsupportedError(
                f"EXCHANGE PARTITION requires both tables partitioned by "
                f"the same columns (dest={d_parts}, src={s_parts})"
            )
        d_schema = [
            (f.name.lower(), f.dataType)
            for f in self._declared_schema(dest).fields
        ]
        s_schema = [
            (f.name.lower(), f.dataType)
            for f in self._declared_schema(src).fields
        ]
        if d_schema != s_schema:
            raise HiveQLUnsupportedError(
                "EXCHANGE PARTITION requires identical table schemas "
                "(Hive: tables are not compatible)"
            )
        rel = self._static_partition_reldir(dest, spec)
        src_dir = os.path.join(self.table_paths[src], rel)
        dest_dir = os.path.join(self.table_paths[dest], rel)
        if not os.path.isdir(src_dir):
            raise HiveQLUnsupportedError(
                f"EXCHANGE PARTITION: source has no partition {rel!r}"
            )
        if os.path.exists(dest_dir):
            raise HiveQLUnsupportedError(
                f"EXCHANGE PARTITION: destination partition {rel!r} "
                "already exists (Hive refuses to overwrite)"
            )
        n = parquet_row_count(src_dir, self.spark)
        os.makedirs(os.path.dirname(dest_dir), exist_ok=True)
        shutil.move(src_dir, dest_dir)
        self.register_table(dest, self.table_paths[dest], d_parts)
        self.register_table(src, self.table_paths[src], s_parts)
        return self._rows_affected(n)

    def _run_rename_partition(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE t PARTITION (old) RENAME TO PARTITION (new) —
        directory rename (DDLTask renamePartition). Old must exist, new
        must not; the spec must cover all partition columns."""
        import shutil

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        key = self._resolve_dml_table(m.group(1), mutating=True)
        old_rel = self._static_partition_reldir(key, m.group(2))
        new_rel = self._static_partition_reldir(key, m.group(3))
        old_dir = os.path.join(self.table_paths[key], old_rel)
        new_dir = os.path.join(self.table_paths[key], new_rel)
        if not os.path.isdir(old_dir):
            raise HiveQLUnsupportedError(
                f"RENAME PARTITION: no such partition {old_rel!r}"
            )
        if os.path.exists(new_dir):
            raise HiveQLUnsupportedError(
                f"RENAME PARTITION: target partition {new_rel!r} "
                "already exists"
            )
        n = parquet_row_count(old_dir, self.spark)
        os.makedirs(os.path.dirname(new_dir), exist_ok=True)
        shutil.move(old_dir, new_dir)
        pm = self.partition_formats.get(key)
        if pm and old_rel in pm:
            # the partition keeps its storage descriptor under the
            # new spec (metastore SDS rides the rename)
            pm[new_rel] = pm.pop(old_rel)
        self.register_table(
            key, self.table_paths[key], self.table_partitions.get(key)
        )
        return self._rows_affected(n)

    def _run_set_location(self, table: str, location: str) -> DataFrame:
        """ALTER TABLE t SET LOCATION 'path' — re-point the external
        table at a new directory (DDLTask alterTable location path; no
        file movement — Hive leaves old data where it was)."""
        key = self._resolve_dml_table(table)
        if not os.path.exists(location):
            raise HiveQLUnsupportedError(
                f"SET LOCATION: path does not exist: {location!r} "
                "(a path-backed table needs readable parquet)"
            )
        self.table_paths[key] = location
        self.register_table(key, location, self.table_partitions.get(key))
        return self._rows_affected(0)

    # ------------------------------------------------------------------
    # Schema evolution (ALTER TABLE ... COLUMNS) — metadata-only, like
    # Hive: the declared schema lives in the engine (metastore role) and
    # parquet files bind by name at read time.
    # ------------------------------------------------------------------

    @staticmethod
    def _parse_col_defs(text: str) -> list[tuple[str, object]]:
        """``c1 INT COMMENT 'x', c2 array<struct<a:int,b:string>>`` →
        [(name, DataType), ...]. Splits on commas outside (), <> and
        quotes (nested types carry commas), strips COMMENTs, and parses
        each type through Spark's own DDL parser (Hive's primitive names
        are all valid Spark DDL; uniontype<> rewrites to the §1.3 struct
        encoding first)."""
        from pyspark.sql.types import StructType

        parts: list[str] = []
        depth = 0
        cur: list[str] = []
        in_str = False
        for ch in text:
            if in_str:
                cur.append(ch)
                if ch == "'":
                    in_str = False
                continue
            if ch == "'":
                in_str = True
            elif ch in "(<":
                depth += 1
            elif ch in ")>":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))

        out: list[tuple[str, object]] = []
        for raw in parts:
            spec = re.sub(
                r"\s+COMMENT\s+'[^']*'", "", raw, flags=re.IGNORECASE
            ).strip()
            if not spec:
                continue
            m = re.match(r"^`?(\w+)`?\s+(.+)$", spec, re.DOTALL)
            if not m:
                raise HiveQLUnsupportedError(
                    f"cannot parse column definition {raw.strip()!r}"
                )
            name, typ = m.group(1), _rewrite_uniontype(m.group(2).strip())
            try:
                parsed = StructType.fromDDL(f"`{name}` {typ}")
            except Exception as exc:
                raise HiveQLUnsupportedError(
                    f"unsupported column type {typ!r} for {name!r}: {exc}"
                ) from exc
            out.append((name, parsed.fields[0].dataType))
        if not out:
            raise HiveQLUnsupportedError("empty column definition list")
        return out

    @staticmethod
    def _char_aware_field(name: str, dtype):
        """Declared-overlay field for one ALTERed column: CHAR(n)/
        VARCHAR(n) targets become StringType + the char-type metadata
        (the same encoding Spark's catalog uses, so _store_cast
        truncates/pads on INSERT) — the parquet reader overlay must be
        plain string; read-side pad/truncate happens in
        _apply_char_read_semantics."""
        from pyspark.sql.types import (
            CharType, StringType, StructField, VarcharType,
        )

        if isinstance(dtype, CharType):
            return StructField(
                name, StringType(), True,
                {_CHAR_VARCHAR_META: f"char({dtype.length})"},
            )
        if isinstance(dtype, VarcharType):
            return StructField(
                name, StringType(), True,
                {_CHAR_VARCHAR_META: f"varchar({dtype.length})"},
            )
        return StructField(name, dtype, True)

    @staticmethod
    def _apply_char_read_semantics(df, schema):
        """Hive reads a column ALTERed to CHAR(n)/VARCHAR(n) through
        the new SerDe: overlong values truncate, CHAR pads
        (alter_char1.q's char(20) → char(3) golden). Applied after the
        overlay read; idempotent for data already stored shaped."""
        from pyspark.sql import functions as F

        exprs = []
        changed = False
        for f in schema.fields:
            raw = (
                f.metadata.get(_CHAR_VARCHAR_META) if f.metadata else None
            )
            m = (
                re.match(r"(char|varchar)\((\d+)\)", raw)
                if raw else None
            )
            if m and f.name in df.columns:
                n = int(m.group(2))
                c = F.substring(F.col(f.name), 1, n)
                if m.group(1) == "char":
                    c = F.rpad(c, n, " ")
                exprs.append(c.alias(f.name))
                changed = True
            else:
                exprs.append(F.col(f.name))
        return df.select(*exprs) if changed else df

    @staticmethod
    def _parquet_read_compatible(old, new) -> bool:
        """Type changes Spark's parquet reader supports when the declared
        schema differs from the file schema: identity plus the safe
        numeric widenings. Hive would let you DECLARE anything and fail
        at read time (SerDe error); failing at ALTER time is stricter
        and kinder."""
        if old == new:
            return True
        chain = ["tinyint", "smallint", "int", "bigint"]
        o, n = old.simpleString(), new.simpleString()
        # the string family interconverts freely: Hive's string ↔
        # char(n) ↔ varchar(n) CHANGE is metadata-only (alter_char1.q /
        # alter_varchar1.q) — reads truncate/pad to the declared shape
        strings = ("string", "char(", "varchar(")
        if o.startswith(strings) and n.startswith(strings):
            return True
        if o in chain and n in chain and chain.index(o) < chain.index(n):
            return True
        if (o, n) in {("float", "double"), ("int", "double"),
                      ("tinyint", "double"), ("smallint", "double")}:
            return True
        return False

    _COL_CMP = re.compile(
        r"([A-Za-z_][\w.]*)\s*(==|!=|<>|<=|>=|=|<|>)\s*"
        r"([A-Za-z_][\w.]*)"
    )
    #: statement heads that carry no query body unless a SELECT appears
    _NON_QUERY_HEADS = frozenset(
        "CREATE ALTER DROP TRUNCATE MSCK SHOW DESCRIBE DESC USE SET "
        "ANALYZE LOAD EXPORT IMPORT GRANT REVOKE REFRESH".split()
    )
    # the alias group must NOT consume a tail keyword — 'from t join u'
    # would otherwise bind 'join' as t's alias and skip u entirely
    _FROM_ALIAS = re.compile(
        r"\b(?:from|join)\s+([\w.]+)"
        r"(?:\s+(?:as\s+)?"
        r"(?!(?:join|inner|left|right|full|cross|outer|semi|anti|on"
        r"|where|group|order|sort|distribute|cluster|window|having"
        r"|limit|union|intersect|except|insert|select|lateral|using"
        r"|natural)\b)"
        r"([A-Za-z_]\w*))?",
        re.IGNORECASE,
    )

    def _mentioned_schemas(self, query: str) -> dict[str, object]:
        """table-key → schema for every table a statement can read:
        engine-registered tables whose name appears anywhere, plus
        catalog tables named in FROM/JOIN (memoized — the memo clears
        on any DDL statement; temp views never memoize, they can be
        replaced via spark.sql without routing through Engine.sql)."""
        lowered = query.lower()
        mentioned: dict[str, object] = {}
        for key in set(self.tables) | set(self.table_schemas):
            if re.search(rf"\b{re.escape(key)}\b", lowered):
                try:
                    mentioned[key] = self._declared_schema(key)
                except Exception:
                    continue
        for am in self._FROM_ALIAS.finditer(query):
            t = am.group(1).split(".")[-1].lower()
            if t in mentioned or t in _FROM_TAIL_KEYWORDS:
                continue
            if t not in self._catalog_schema_memo:
                try:
                    schema = self.spark.table(am.group(1)).schema
                except Exception:
                    schema = None
                is_temp = True
                if schema is not None:
                    try:
                        is_temp = self.spark.catalog.getTable(
                            am.group(1)
                        ).isTemporary
                    except Exception:
                        is_temp = True
                if is_temp:
                    if schema is not None:
                        mentioned[t] = schema
                    continue
                self._catalog_schema_memo[t] = schema
            if self._catalog_schema_memo[t] is not None:
                mentioned[t] = self._catalog_schema_memo[t]
        # a table named ONLY as an INSERT target doesn't resolve body
        # columns (Hive binds the select list against the FROM sources;
        # orc_merge10.q's hash(key) reads src.key, not the target's
        # same-named INT column)
        ins_targets = {
            mm.group(1).split(".")[-1].lower()
            for mm in re.finditer(
                r"(?is)\binsert\s+(?:into|overwrite)\s+(?:table\s+)?"
                r"([\w.]+)",
                query,
            )
        }
        if ins_targets:
            from_names = {
                am.group(1).split(".")[-1].lower()
                for am in self._FROM_ALIAS.finditer(query)
            }
            for t in list(mentioned):
                if t in ins_targets and t not in from_names:
                    del mentioned[t]
        return mentioned

    def _from_alias_map(
        self, query: str, mentioned: dict[str, object]
    ) -> dict[str, str]:
        """alias-or-name → mentioned-table-key for FROM/JOIN items."""
        alias_of: dict[str, str] = {}
        for am in self._FROM_ALIAS.finditer(query):
            t = am.group(1).split(".")[-1].lower()
            if t in mentioned:
                alias_of[t] = t
                a = (am.group(2) or "").lower()
                if a and a not in _FROM_TAIL_KEYWORDS:
                    alias_of[a] = t
        return alias_of

    def _datetime_operand_type(self, query: str):
        """Schema-resolved classifier for the months_between/add_months
        typed gate: expression → 'date' | 'timestamp' | None. Typed
        literals and CASTs classify syntactically; bare/qualified
        column identifiers resolve against the mentioned tables'
        declared schemas (ambiguous bare names stay None → the lenient
        normalization keeps them, which is always value-safe)."""
        from pyspark.sql.types import DateType, TimestampType

        resolve = self._spark_type_resolver(query)

        def operand_type(expr: str) -> str | None:
            expr = expr.strip()
            lm = re.match(
                r"^(date|timestamp)\s*'", expr, re.IGNORECASE
            )
            if lm:
                return lm.group(1).lower()
            cm = re.match(
                r"^cast\s*\(.*\bas\s+(date|timestamp)\s*\)$",
                expr,
                re.IGNORECASE | re.DOTALL,
            )
            if cm:
                return cm.group(1).lower()
            dt = resolve(expr)
            if isinstance(dt, DateType):
                return "date"
            if isinstance(dt, TimestampType):
                return "timestamp"
            return None

        return operand_type

    def _rewrite_add_months_typed(self, query: str) -> str:
        return _rewrite_add_months(
            query, operand_type=self._datetime_operand_type(query)
        )

    def _rewrite_months_between_typed(self, query: str) -> str:
        return _rewrite_months_between(
            query, operand_type=self._datetime_operand_type(query)
        )

    _HIVE_HASH_CALL = re.compile(r"\bhash\s*\(", re.IGNORECASE)

    #: portable signed-int32 wraparound over BIGINT intermediates —
    #: Java's implicit (int) truncation in the 31-fold, spelled so the
    #: same text evaluates identically on Spark AND the DuckDB oracle
    #: (% keeps the dividend's sign in both)
    @staticmethod
    def _hh_wrap(x: str) -> str:
        return (
            f"((({x}) % 4294967296 + 4294967296 + 2147483648) "
            "% 4294967296 - 2147483648)"
        )

    _HASH_STAR = re.compile(
        r"\bhash\s*\(\s*(?:(\w+)\s*\.)?\*\s*\)", re.IGNORECASE
    )

    def _expand_hash_star(
        self, query: str
    ) -> tuple[str, dict[str, object]]:
        """``hash(*)`` / ``hash(t.*)`` → the explicit column list
        (GenericUDFHash receives the expanded row like any * in Hive's
        select analysis). Three resolvable shapes: a qualified alias, a
        single plain FROM table, and FROM (subselect) alias — where the
        inner select list's plain columns resolve by schema and its
        ``expr AS alias`` items contribute TYPE HINTS (count(*) is a
        bigint, CAST pins its target) returned for the typed-hash
        resolver. Anything else leaves the star in place (the caller
        then keeps Spark's native hash)."""
        from pyspark.sql import types as T

        if not self._HASH_STAR.search(query):
            return query, {}
        mentioned = self._mentioned_schemas(query)
        alias_of = self._from_alias_map(query, mentioned)
        extra: dict[str, object] = {}

        _CAST_T = {
            "int": T.IntegerType(), "integer": T.IntegerType(),
            "bigint": T.LongType(), "smallint": T.ShortType(),
            "tinyint": T.ByteType(), "double": T.DoubleType(),
            "float": T.FloatType(), "string": T.StringType(),
            "boolean": T.BooleanType(), "date": T.DateType(),
            "timestamp": T.TimestampType(),
        }

        def _depth0(pos: int) -> bool:
            depth = 0
            in_q = None
            for ch in query[:pos]:
                if in_q:
                    if ch == in_q:
                        in_q = None
                elif ch in "'\"":
                    in_q = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
            return depth == 0

        def _plain_from_cols() -> list[str] | None:
            if re.search(r"\bjoin\b", query, re.IGNORECASE):
                return None
            for fm in re.finditer(
                r"(?is)\bfrom\s+([\w.]+)", query
            ):
                if not _depth0(fm.start()):
                    continue
                t = fm.group(1).split(".")[-1].lower()
                schema = mentioned.get(t)
                if schema is None:
                    return None
                return [f.name for f in schema.fields]
            return None

        def _subselect_cols() -> list[str] | None:
            fsm = next(
                (
                    mm
                    for mm in re.finditer(r"(?is)\bfrom\s*\(", query)
                    if _depth0(mm.start())
                ),
                None,
            )
            if fsm is None:
                return None
            open_idx = query.index("(", fsm.start())
            close = _scan_balanced(query, open_idx)
            inner = query[open_idx + 1:close]
            sm = re.match(
                r"(?is)^\s*select\s+(?:distinct\s+)?(.*)$", inner
            )
            if sm is None:
                return None
            body = sm.group(1)
            # top-level select list: scan to the depth-0 FROM
            items: list[str] = []
            depth = 0
            quote = None
            i = start = 0
            end = len(body)
            while i < len(body):
                ch = body[i]
                if quote:
                    if ch == quote:
                        quote = None
                elif ch in "'\"":
                    quote = ch
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif depth == 0 and ch == ",":
                    items.append(body[start:i])
                    start = i + 1
                elif depth == 0 and ch in "fF" and re.match(
                    r"(?i)from\b", body[i:]
                ) and (i == 0 or not (
                    body[i - 1].isalnum() or body[i - 1] == "_"
                )):
                    end = i
                    break
                i += 1
            items.append(body[start:end])
            names: list[str] = []
            for it in items:
                it = it.strip().rstrip()
                if it == "*":
                    # (select * from <one table> ...) — recurse once
                    if re.search(r"\bjoin\b", inner, re.IGNORECASE):
                        return None
                    fm2 = re.search(
                        r"(?is)\bfrom\s+([\w.]+)", body[end:]
                    )
                    sch = mentioned.get(
                        fm2.group(1).split(".")[-1].lower()
                    ) if fm2 else None
                    if sch is None:
                        return None
                    names.extend(f.name for f in sch.fields)
                    continue
                if re.fullmatch(r"[\w.]+", it):
                    names.append(it.split(".")[-1])
                    continue
                am = re.match(
                    r"(?is)^(.*?)\s+as\s+`?(\w+)`?\s*$", it
                )
                if am is None:
                    return None
                expr, alias = am.group(1).strip(), am.group(2)
                names.append(alias)
                if re.match(r"(?is)^count\s*\(", expr):
                    extra[alias.lower()] = T.LongType()
                else:
                    cm = re.match(
                        r"(?is)^cast\s*\(.*\bas\s+(\w+)"
                        r"(?:\(\s*\d+[^)]*\))?\s*\)$",
                        expr,
                    )
                    if cm and cm.group(1).lower() in _CAST_T:
                        extra[alias.lower()] = _CAST_T[
                            cm.group(1).lower()
                        ]
                    # plain-identifier exprs resolve by schema later;
                    # anything else stays unresolvable → native hash
            return names

        def repl(m: re.Match[str]) -> str:
            qual = m.group(1)
            if qual:
                t = alias_of.get(qual.lower())
                schema = mentioned.get(t) if t else None
                if schema is None:
                    return m.group(0)
                cols = [f"{qual}.{f.name}" for f in schema.fields]
            else:
                # a depth-0 parenthesized FROM binds the star to the
                # SUBQUERY's output; otherwise the plain FROM table
                cols = _subselect_cols() or _plain_from_cols()
                if not cols:
                    return m.group(0)
            return "hash(" + ", ".join(cols) + ")"

        return self._HASH_STAR.sub(repl, query), extra

    def _rewrite_hive_hash(self, query: str) -> str:
        """``hash(a1, a2, ...)`` with HIVE's semantics — Spark's native
        hash() is Murmur3, a DIFFERENT function, so every golden that
        prints or checksums hash values (the join family's
        sum(hash(...)) canonicalization pattern — 600+ statements)
        diverges without this. Reference: GenericUDFHash.evaluate →
        ObjectInspectorUtils.getBucketHashCode (31-fold,
        ObjectInspectorUtils.java:633-640) over per-type hashCode
        (:643-707): null→0, boolean→1/0, byte/short/int→value,
        long/double→(int)((bits>>>32)^bits), float→floatToIntBits,
        string→signed-byte 31-fold, date→days, timestamp→(secs<<30|nanos)
        folded. int-family args stay pure Catalyst; the bit/byte folds
        run as the Arrow UDF family (functions/hive_hash.py). An arg
        whose type can't be schema-resolved (or an unsupported type:
        decimal, binary, complex) leaves the whole call on Spark's
        native hash — same-engine-deterministic, documented
        divergence."""
        query, extra_types = self._expand_hash_star(query)
        resolve0 = self._spark_type_resolver(query)

        def resolve(expr: str):
            dt = resolve0(expr)
            if dt is None:
                return extra_types.get(expr.strip().lower())
            return dt

        def _arg_hash(a: str) -> str | None:
            from pyspark.sql import types as T

            a = a.strip()
            if re.fullmatch(r"[-+]?\d+", a):
                return f"({a})"  # int literal hashes to itself
            if re.fullmatch(r"'(?:[^'\\]|\\.)*'", a):
                return f"__hive_hash_str({a})"
            dt = resolve(a)
            if isinstance(dt, T.StringType):
                return f"__hive_hash_str({a})"
            if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
                return f"CAST({a} AS INT)"
            if isinstance(dt, T.BooleanType):
                return f"(CASE WHEN {a} THEN 1 ELSE 0 END)"
            if isinstance(dt, T.LongType):
                return f"__hive_hash_long({a})"
            if isinstance(dt, T.DoubleType):
                return f"__hive_hash_double({a})"
            if isinstance(dt, T.FloatType):
                return f"__hive_hash_float({a})"
            if isinstance(dt, T.TimestampType):
                return f"__hive_hash_ts({a})"
            if isinstance(dt, T.DateType):
                return f"__hive_hash_date({a})"
            return None

        needs_udfs = False

        def fn(args):
            nonlocal needs_udfs
            hashes = []
            for a in args:
                h = _arg_hash(a)
                if h is None:
                    return None  # keep Spark's native hash
                hashes.append(h)
            acc = "0"
            for h in hashes:
                acc = self._hh_wrap(f"31 * {acc} + coalesce({h}, 0)")
            needs_udfs = True
            return f"CAST({acc} AS INT)"

        out = _rewrite_call_args(query, self._HIVE_HASH_CALL, fn)
        if needs_udfs and not getattr(self, "_hive_hash_registered", False):
            from hive_2_3_2_spark.functions.hive_hash import (
                register_hive_hash_family,
            )

            register_hive_hash_family(self.spark)
            self._hive_hash_registered = True
        return out

    _STR_IN_NUM_SUBQ = re.compile(
        r"\b(\w+)\s+(not\s+)?in\s*\(\s*select\s+([^,()]+?)\s+from\b",
        re.IGNORECASE,
    )

    def _rewrite_string_in_numeric_subquery(self, query: str) -> str:
        """``string_col IN (SELECT <numeric expr> ...)`` compares at
        DOUBLE in Hive — getCommonClassForComparison resolves
        string-vs-numeric to double (the lineage3.q golden's
        PREDICATE edges spell it: ``UDFToDouble(src1.key) =
        (UDFToDouble(src1.key) + 18.0)``). Spark's IN-subquery
        coercion compares the same pair at STRING ('146' vs '146.0'
        never matches — silent empty result). Schema-resolved: fires
        only when the outer operand is a STRING column and the
        subquery head is an arithmetic expression."""
        from pyspark.sql import types as T

        if self._STR_IN_NUM_SUBQ.search(query) is None:
            return query
        resolve = self._spark_type_resolver(query)

        def repl(m: re.Match[str]) -> str:
            col, neg, inner = m.group(1), m.group(2) or "", m.group(3)
            if not isinstance(resolve(col), T.StringType):
                return m.group(0)
            if not re.search(r"[+\-*/]", inner):
                return m.group(0)
            return (
                f"CAST({col} AS DOUBLE) {neg}in (select {inner} from"
            )

        return self._STR_IN_NUM_SUBQ.sub(repl, query)

    _ABS_CALL = re.compile(r"\babs\s*\(", re.IGNORECASE)

    def _rewrite_abs_promote(self, query: str) -> str:
        """``abs(byte/short col)`` evaluates at INT width in Hive
        (GenericUDFAbs.java:80-86,119-124: the operand converts to
        IntWritable, so abs(tinyint -128) = 128) — Spark's abs keeps
        the narrow type and WRAPS (-128). Schema-resolved; INT and
        wider keep Spark's native abs (already Hive-identical,
        including the Integer.MIN_VALUE wrap)."""
        from pyspark.sql import types as T

        resolve = self._spark_type_resolver(query)

        def fn(args):
            if len(args) != 1:
                return None
            if isinstance(
                resolve(args[0].strip()), (T.ByteType, T.ShortType)
            ):
                return f"abs(CAST({args[0]} AS INT))"
            return None

        return _rewrite_call_args(query, self._ABS_CALL, fn)

    _CAST_BOOL = re.compile(r"\bcast\s*\(", re.IGNORECASE)

    def _rewrite_boolean_casts(self, query: str) -> str:
        """``CAST(x AS BOOLEAN)`` with Hive's conversion semantics
        (PrimitiveObjectInspectorUtils.getBoolean:524-575): a STRING is
        true iff NON-EMPTY (Spark NULLs anything that isn't a boolean
        word); LONG/FLOAT/DOUBLE pass through a Java ``(int)`` cast
        first, so cast(0.5 as boolean) is FALSE in Hive (Spark: any
        nonzero → true); TIMESTAMP tests its SECONDS. Schema-resolved —
        int-family and boolean operands keep Spark's native cast
        (already Hive-identical); unresolvable operands stay native."""
        from pyspark.sql import types as T

        resolve = self._spark_type_resolver(query)

        def fn(args):
            if len(args) != 1:
                return None
            mm = re.match(
                r"(?is)^(.*?)\s+AS\s+BOOLEAN\s*$", args[0]
            )
            if mm is None:
                return None
            x = mm.group(1).strip()
            dt = resolve(x)
            if isinstance(dt, T.StringType):
                return f"(length({x}) != 0)"
            if isinstance(dt, (T.DoubleType, T.FloatType, T.LongType)):
                return f"(CAST({x} AS INT) != 0)"
            if isinstance(dt, T.TimestampType):
                return f"(CAST({x} AS BIGINT) != 0)"
            return None

        return _rewrite_call_args(query, self._CAST_BOOL, fn)

    _COMPUTE_STATS_CALL = re.compile(
        r"\bcompute_stats\s*\(", re.IGNORECASE
    )

    def _rewrite_compute_stats(self, query: str) -> str:
        """``SELECT compute_stats(col, nbitvectors)`` — the direct
        spelling of the internal stats UDAF — as a struct-returning
        composition of native aggregates, type-dispatched on the
        schema-resolved operand exactly like the reference's
        getEvaluator switch (GenericUDAFComputeStats.java:58-97,
        FunctionRegistry.java:441): boolean→Boolean,
        integrals/timestamp→Long, float/double→Double,
        string/char/varchar→String, binary→Binary, decimal→Decimal,
        date→Date. ``numdistinctvalues`` uses approx_count_distinct
        (HLL) standing in for Hive's FM-sketch NDV estimate;
        ``ndvbitvector`` is the FM sketch's Hive-internal serialized
        form and stays '' (the empty-table golden value) — both are
        sketch encodings, not exact values, so a bit-for-bit match is
        a non-goal (compute_stats_empty_table.q value-verifies; the
        non-empty goldens differ only in those two sketch fields)."""
        from pyspark.sql import types as T

        resolve = self._spark_type_resolver(query)

        def _counts(col: str) -> str:
            return f"COUNT(*) - COUNT({col})"

        def fn(args):
            if len(args) != 2:
                raise HiveQLUnsupportedError(
                    "compute_stats: exactly two arguments are "
                    "expected (GenericUDAFComputeStats.java:60)"
                )
            col = args[0].strip()
            dt = resolve(col)
            if dt is None:
                raise HiveQLUnsupportedError(
                    f"compute_stats({col!r}, ...): operand type is "
                    "not schema-resolvable here — only a column of a "
                    "known table dispatches (the reference switches "
                    "on the primitive category the same way)"
                )
            zero = "CAST(0 AS BIGINT)"
            nulls = f"'countnulls', {_counts(col)}"
            ndv = (
                f"'numdistinctvalues', approx_count_distinct({col}), "
                "'ndvbitvector', ''"
            )
            if isinstance(dt, T.BooleanType):
                return (
                    "named_struct('columntype', 'Boolean', "
                    f"'counttrues', coalesce(sum(case when {col} "
                    f"then 1 else 0 end), {zero}), "
                    f"'countfalses', coalesce(sum(case when not {col} "
                    f"then 1 else 0 end), {zero}), "
                    f"{nulls})"
                )
            if isinstance(
                dt,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.TimestampType),
            ):
                return (
                    "named_struct('columntype', 'Long', "
                    f"'min', CAST(min({col}) AS BIGINT), "
                    f"'max', CAST(max({col}) AS BIGINT), "
                    f"{nulls}, {ndv})"
                )
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                return (
                    "named_struct('columntype', 'Double', "
                    f"'min', CAST(min({col}) AS DOUBLE), "
                    f"'max', CAST(max({col}) AS DOUBLE), "
                    f"{nulls}, {ndv})"
                )
            if isinstance(dt, T.DecimalType):
                return (
                    "named_struct('columntype', 'Decimal', "
                    f"'min', min({col}), 'max', max({col}), "
                    f"{nulls}, {ndv})"
                )
            if isinstance(dt, T.DateType):
                return (
                    "named_struct('columntype', 'Date', "
                    f"'min', min({col}), 'max', max({col}), "
                    f"{nulls}, {ndv})"
                )
            if isinstance(dt, T.StringType):
                return (
                    "named_struct('columntype', 'String', "
                    f"'maxlength', coalesce(CAST(max(length({col})) "
                    f"AS BIGINT), {zero}), "
                    f"'avglength', coalesce(avg(length({col})), "
                    "CAST(0.0 AS DOUBLE)), "
                    f"{nulls}, {ndv})"
                )
            if isinstance(dt, T.BinaryType):
                return (
                    "named_struct('columntype', 'Binary', "
                    f"'maxlength', coalesce(CAST(max(length({col})) "
                    f"AS BIGINT), {zero}), "
                    f"'avglength', coalesce(avg(length({col})), "
                    "CAST(0.0 AS DOUBLE)), "
                    f"{nulls})"
                )
            raise HiveQLUnsupportedError(
                "compute_stats: only integer/long/timestamp/date/"
                "float/double/string/binary/boolean/decimal type "
                f"argument is accepted but {dt.simpleString()} is "
                "passed (GenericUDAFComputeStats.java:90-95)"
            )

        return _rewrite_call_args(query, self._COMPUTE_STATS_CALL, fn)

    def _spark_type_resolver(self, query: str):
        """expression → Spark DataType for bare/qualified column
        identifiers of the statement's mentioned tables (None when not
        an identifier or ambiguous)."""
        mentioned = self._mentioned_schemas(query)
        percol: dict[tuple[str, str], object] = {}
        bare: dict[str, list] = {}
        for t, schema in mentioned.items():
            for f in schema.fields:
                percol[(t, f.name.lower())] = f.dataType
                bare.setdefault(f.name.lower(), []).append(f.dataType)
        alias_of = self._from_alias_map(query, mentioned)

        def resolve(expr: str):
            expr = expr.strip()
            if not re.fullmatch(
                r"[A-Za-z_][\w]*(\.[A-Za-z_]\w*)?", expr
            ):
                return None
            parts = expr.lower().split(".")
            if len(parts) == 2:
                t = alias_of.get(parts[0])
                return percol.get((t, parts[1])) if t else None
            cands = bare.get(parts[0], [])
            if len({c.simpleString() for c in cands}) == 1:
                return cands[0]
            return None

        return resolve

    def _rewrite_decimal_float_col_compares(self, query: str) -> str:
        """DECIMAL column vs FLOAT column comparisons compare AT FLOAT
        in Hive: getCommonClassForComparison walks numericTypeList in
        registration order (BYTE<SHORT<INT<LONG<DECIMAL<FLOAT<DOUBLE,
        FunctionRegistry.java:836-841), so the common type of decimal
        and float is FLOAT — while Spark widens both to double and a
        float 0.22 (double value 0.2199999988...) misses a decimal
        0.22. The engine knows the declared schemas of its registered
        tables, so this resolves BOTH comparison operands statically
        and casts the decimal side to float — no typeof dispatch, no
        run-time branching; comparisons not involving a
        decimal-column/float-column pair are untouched (their
        PushedFilters survive — pinned)."""
        from pyspark.sql.types import DecimalType, FloatType

        if not self._COL_CMP.search(query):
            return query
        lowered = query.lower()
        # DDL with no query body can still trip _COL_CMP (array<int> in
        # a column list matches '<') — skip those entirely instead of
        # regex-scanning table names and issuing catalog lookups. CTAS
        # and other SELECT-bearing statements keep the rewrite.
        head = re.match(r"\s*(\w+)", query)
        if (
            head
            and head.group(1).upper() in self._NON_QUERY_HEADS
            and "select" not in lowered
        ):
            return query
        mentioned = self._mentioned_schemas(query)
        if not mentioned:
            return query
        # category per (table, column) + ambiguity-aware bare-name map
        percol: dict[tuple[str, str], str] = {}
        bare: dict[str, set[str]] = {}
        any_pair = {"decimal": False, "float": False}
        for t, schema in mentioned.items():
            for f in schema.fields:
                dt = f.dataType
                cat = (
                    "decimal" if isinstance(dt, DecimalType)
                    else "float" if isinstance(dt, FloatType)
                    else "other"
                )
                percol[(t, f.name.lower())] = cat
                bare.setdefault(f.name.lower(), set()).add(cat)
                if cat != "other":
                    any_pair[cat] = True
        if not (any_pair["decimal"] and any_pair["float"]):
            return query
        alias_of = self._from_alias_map(query, mentioned)

        def resolve(ident: str) -> str | None:
            parts = ident.lower().split(".")
            if len(parts) == 2:
                t = alias_of.get(parts[0])
                return percol.get((t, parts[1])) if t else None
            if len(parts) == 1:
                cats = bare.get(parts[0])
                if cats is not None and len(cats) == 1:
                    return next(iter(cats))
            return None

        out: list[str] = []
        last = 0
        for m in self._COL_CMP.finditer(query):
            in_q = None
            for ch in query[: m.start()]:
                if in_q:
                    if ch == in_q:
                        in_q = None
                elif ch in "'\"":
                    in_q = ch
            if in_q is not None:
                continue
            a, op, b = m.group(1), m.group(2), m.group(3)
            ca, cb = resolve(a), resolve(b)
            if {ca, cb} != {"decimal", "float"}:
                continue
            out.append(query[last: m.start()])
            if ca == "decimal":
                out.append(f"CAST({a} AS FLOAT) {op} {b}")
            else:
                out.append(f"{a} {op} CAST({b} AS FLOAT)")
            last = m.end()
        if not out:
            return query
        out.append(query[last:])
        return "".join(out)

    def _declared_schema(self, key: str):
        """Current declared schema: the overlay if one exists, else the
        file-discovered schema of the registered view."""
        from pyspark.sql.types import StructType

        if key in self.table_schemas:
            return self.table_schemas[key]
        return StructType(self.tables[key].schema.fields)

    def _set_declared_schema(self, key: str, schema) -> DataFrame:
        self.table_schemas[key] = schema
        self.register_table(
            key, self.table_paths[key], self.table_partitions.get(key)
        )
        return self._rows_affected(0)

    def _run_add_columns(self, table: str, coldefs: str) -> DataFrame:
        """ALTER TABLE t ADD COLUMNS (...) — append to the declared
        schema BEFORE the partition columns (Hive's column order). Old
        files lack the columns and read NULL; subsequent INSERTs write
        them (reference: DDLSemanticAnalyzer analyzeAlterTableModifyCols,
        clientnegative: duplicate column → typed error)."""
        from pyspark.sql.types import StructField, StructType

        key = self._resolve_dml_table(table)
        new_cols = self._parse_col_defs(coldefs)
        schema = self._declared_schema(key)
        existing = {f.name.lower() for f in schema.fields}
        dup = [n for n, _t in new_cols if n.lower() in existing]
        if dup:
            raise HiveQLUnsupportedError(
                f"ADD COLUMNS duplicates existing column(s) {dup}"
            )
        parts = [p.lower() for p in self.table_partitions.get(key, [])]
        data = [f for f in schema.fields if f.name.lower() not in parts]
        part = [f for f in schema.fields if f.name.lower() in parts]
        added = [self._char_aware_field(n, t) for n, t in new_cols]
        return self._set_declared_schema(
            key, StructType(data + added + part)
        )

    def _conversion_alter_allowed(self, old, new) -> bool:
        """A non-parquet-bindable type change is permitted when the
        session disables Hive's incompatible-change guard
        (hive.metastore.disallow.incompatible.col.type.changes=false —
        HiveConf default TRUE; the schema_evol_*.q matrix runs with the
        evolution converters active) AND Spark can CAST the old type to
        the new one (the converters' semantics are exactly the
        permissive cast: unparseable → NULL)."""
        if self.hiveconf.get(
            "hive.metastore.disallow.incompatible.col.type.changes",
            "true",
        ).lower() != "false":
            return False
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        try:
            local_frame(
                self.spark, [], StructType([StructField("c", old)])
            ).select(F.col("c").cast(new))
            return True
        except Exception:
            return False

    def _snapshot_schema_epoch(self, key: str) -> None:
        """Record the CURRENT data files + the schema they read under,
        so a type-converting alter can keep serving them (cast on
        read). One listing per converting ALTER — the same event-scoped
        cost as Hive rewriting the metastore SD. Files later rewritten
        by DML drop out of the epoch naturally (the fileset no longer
        matches disk)."""
        path = self.table_paths.get(key)
        if not path or not os.path.isdir(path):
            return
        rels = frozenset(
            os.path.relpath(os.path.join(root, fn), path)
            for root, _d, files in os.walk(path)
            for fn in files
            if fn.endswith(".parquet")
        )
        if not rels:
            return
        schema = self._declared_schema(key)
        self.schema_epochs.setdefault(key, []).append((rels, schema))

    def _epoch_union_frame(self, name: str, path: str):
        """Conversion-aware read: files captured in a schema epoch scan
        under THEIR schema and CAST to the declared one; everything
        else scans declared directly. Returns None when no epoch file
        survives on disk (and drops the bookkeeping — the table has
        been fully rewritten under the new schema). Scale: the listing
        is per-registration (event), the per-epoch scans are ordinary
        distributed parquet scans, and the union is a plan-level
        concat — no extra shuffle."""
        from pyspark.sql import functions as F

        epochs = self.schema_epochs.get(name)
        if not epochs or name not in self.table_schemas:
            return None
        current = set(
            os.path.relpath(os.path.join(root, fn), path)
            for root, _d, files in os.walk(path)
            for fn in files
            if fn.endswith(".parquet")
        )
        declared = self.table_schemas[name]

        def conform(df):
            have = {f.name.lower(): f.name for f in df.schema.fields}
            cols = []
            for f in declared.fields:
                src = have.get(f.name.lower())
                if src is None:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                else:
                    cols.append(F.col(src).cast(f.dataType).alias(f.name))
            return df.select(cols)

        claimed: set = set()
        frames = []
        for fileset, schema in epochs:
            live = (set(fileset) & current) - claimed
            if not live:
                continue
            claimed |= live
            rdr = self.spark.read.option("basePath", path).schema(schema)
            frames.append(
                conform(rdr.parquet(*[os.path.join(path, f)
                                      for f in sorted(live)]))
            )
        if not frames:
            self.schema_epochs.pop(name, None)
            return None
        rest = current - claimed
        if rest:
            rdr = self.spark.read.option("basePath", path).schema(declared)
            frames.append(
                rdr.parquet(*[os.path.join(path, f) for f in sorted(rest)])
            )
        df = frames[0]
        for o in frames[1:]:
            df = df.unionByName(o)
        return self._apply_char_read_semantics(df, declared)

    #: Spark DataSource + read/write options per supported Hive
    #: fileformat for MIXED-format partitioned tables. TEXTFILE uses
    #: Hive's LazySimpleSerDe defaults: ^A field delimiter, \N null
    #: sentinel, empty string kept distinct from NULL. AVRO is excluded
    #: (this container reads avro via the pure-python fallback, not a
    #: Spark DataSource); RCFILE/SEQUENCEFILE are out of scope per
    #: SURVEY §2.2.
    @property
    def _MIXED_FORMAT_SOURCES(self) -> dict:  # noqa: N802
        from hive_2_3_2_spark.sources.writers import FORMAT_SOURCES

        return FORMAT_SOURCES

    def _mixed_format_frame(self, name: str, path: str):
        """Per-partition storage-descriptor read
        (partition_wise_fileformat*.q): partitions whose recorded format
        differs from parquet scan with THEIR OWN DataSource, grouped by
        format — ONE distributed scan per format, partition columns
        recovered by directory discovery (basePath), then a plan-level
        unionByName. Returns None when every surviving partition is
        parquet (the bookkeeping is dropped — the table has been fully
        rewritten). Scale: the listing is per-registration (event);
        partition pruning pushes into each per-format scan exactly as it
        would for a homogeneous table (Hive's ExecMapper binds one
        deserializer per partition SD, reference exec/MapOperator.java —
        here Catalyst gets one FileSourceScanExec per format instead of
        one serde per split)."""
        pmap = self.partition_formats.get(name)
        if not pmap:
            return None
        parts = self.table_partitions.get(name) or []
        if not parts:
            return None
        live = set(self._partition_rels_at(path, len(parts)))
        pmap = {r: f for r, f in pmap.items() if r in live and f != "parquet"}
        if not pmap:
            self.partition_formats.pop(name, None)
            return None
        self.partition_formats[name] = pmap
        declared = self.table_schemas.get(name)
        if declared is None:
            # discover the data schema from the parquet partitions (or
            # the remembered frame) + partition column discovery
            base = self.tables.get(name)
            if base is not None:
                declared = base.schema
        groups: dict[str, list[str]] = {}
        for rel in live:
            groups.setdefault(pmap.get(rel, "parquet"), []).append(rel)
        frames = []
        for fmt, rels in sorted(groups.items()):
            src, opts = self._MIXED_FORMAT_SOURCES[fmt]
            rdr = self.spark.read.option("basePath", path)
            if declared is not None:
                rdr = rdr.schema(declared)
            elif fmt in ("csv", "json"):
                raise HiveQLUnsupportedError(
                    f"table {name!r} has {fmt} partitions but no "
                    "declared schema to read them under"
                )
            for k, v in opts.items():
                rdr = rdr.option(k, v)
            frames.append(
                rdr.format(src).load(
                    [os.path.join(path, r) for r in sorted(rels)]
                )
            )
        df = frames[0]
        for o in frames[1:]:
            df = df.unionByName(o)
        if declared is not None:
            df = df.select(*[f.name for f in declared.fields])
            df = self._apply_char_read_semantics(df, declared)
        return df

    @staticmethod
    def _partition_rels_at(path: str, depth: int) -> list[str]:
        from hive_2_3_2_spark.sources.writers import _staged_partition_rels

        return sorted(_staged_partition_rels(path, depth))

    def _run_replace_columns(self, table: str, coldefs: str) -> DataFrame:
        """ALTER TABLE t REPLACE COLUMNS (...) — the declared DATA
        columns become exactly this list (partition columns are kept —
        Hive forbids touching them). A column dropped from the list
        disappears from reads; its bytes stay in the files (metadata-only
        operation, like Hive on a by-name format)."""
        from pyspark.sql.types import StructField, StructType

        key = self._resolve_dml_table(table)
        new_cols = self._parse_col_defs(coldefs)
        schema = self._declared_schema(key)
        parts = [p.lower() for p in self.table_partitions.get(key, [])]
        clash = [n for n, _t in new_cols if n.lower() in parts]
        if clash:
            raise HiveQLUnsupportedError(
                f"REPLACE COLUMNS cannot redefine partition column(s) "
                f"{clash}"
            )
        seen: set[str] = set()
        for n, _t in new_cols:
            if n.lower() in seen:
                raise HiveQLUnsupportedError(
                    f"REPLACE COLUMNS lists column {n!r} twice"
                )
            seen.add(n.lower())
        old_types = {
            f.name.lower(): f.dataType
            for f in schema.fields
            if f.name.lower() not in parts
        }
        converting = False
        for n, t in new_cols:
            old = old_types.get(n.lower())
            if old is not None and not self._parquet_read_compatible(old, t):
                if self._conversion_alter_allowed(old, t):
                    converting = True
                    continue
                raise HiveQLUnsupportedError(
                    f"REPLACE COLUMNS changes {n!r} from "
                    f"{old.simpleString()} to {t.simpleString()} — not a "
                    "parquet-compatible conversion (identity or numeric "
                    "widening only; SET hive.metastore.disallow."
                    "incompatible.col.type.changes=false for Hive's "
                    "schema-evolution conversion matrix)"
                )
        if converting:
            self._snapshot_schema_epoch(key)
        part = [f for f in schema.fields if f.name.lower() in parts]
        data = [self._char_aware_field(n, t) for n, t in new_cols]
        # Column stats survive REPLACE COLUMNS only for columns kept
        # with an identical type; a dropped or retyped column's stats
        # are invalidated (Hive clears metastore stats on this alter —
        # an int→bigint widening must not keep the pre-alter min/max).
        # Partition-column stats are untouched (Hive forbids touching
        # partition columns here, enforced above).
        stats = self.column_stats.get(key)
        if stats is not None:
            new_by_lower = {n.lower(): (n, t) for n, t in new_cols}
            for cname in list(stats):
                if cname.lower() in parts:
                    continue
                kept = new_by_lower.get(cname.lower())
                old = old_types.get(cname.lower())
                if kept is None or old is None or kept[1] != old:
                    stats.pop(cname)
                elif kept[0] != cname:
                    stats[kept[0]] = stats.pop(cname)
        return self._set_declared_schema(key, StructType(data + part))

    def _run_partition_coltype(
        self, table: str, col: str, typ: str
    ) -> DataFrame:
        """ALTER TABLE t PARTITION COLUMN (col type) — retype one
        PARTITION column (alter_partition_coltype.q). Metadata-only:
        partition directory VALUES reparse under the new declared type
        on the next read (a value that does not parse reads NULL, the
        schema-on-read rule)."""
        from pyspark.sql.types import StructField, StructType

        key = self._resolve_dml_table(table)
        parts = [p.lower() for p in self.table_partitions.get(key, [])]
        if col.lower() not in parts:
            raise HiveQLUnsupportedError(
                f"ALTER PARTITION COLUMN: {col!r} is not a partition "
                f"column of {key!r} (partition columns: {parts})"
            )
        new_type = self._parse_col_defs(f"{col} {typ}")[0][1]
        schema = self._declared_schema(key)
        fields = [
            self._char_aware_field(f.name, new_type)
            if f.name.lower() == col.lower()
            else f
            for f in schema.fields
        ]
        return self._set_declared_schema(key, StructType(fields))

    def _run_change_column(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE t CHANGE [COLUMN] old new type [FIRST|AFTER c] —
        rename/retype/reorder one declared column (reference:
        analyzeAlterTableRenameCol). On a by-name format a RENAME orphans
        the data (old files read NULL under the new name) — exactly
        Hive-on-parquet's documented behavior; type changes are limited
        to parquet-compatible widenings; partition columns can't change."""
        from pyspark.sql.types import StructField, StructType

        key = self._resolve_dml_table(m.group(1))
        old_name, new_name = m.group(2), m.group(3)
        pos = m.group(5)
        new_cols = self._parse_col_defs(f"{new_name} {m.group(4)}")
        new_type = new_cols[0][1]
        schema = self._declared_schema(key)
        parts = [p.lower() for p in self.table_partitions.get(key, [])]
        if old_name.lower() in parts:
            raise HiveQLUnsupportedError(
                f"CHANGE COLUMN cannot alter partition column {old_name!r}"
            )
        names = [f.name.lower() for f in schema.fields]
        if old_name.lower() not in names:
            raise HiveQLUnsupportedError(
                f"CHANGE COLUMN: no such column {old_name!r} in {key!r}"
            )
        if (
            new_name.lower() != old_name.lower()
            and new_name.lower() in names
        ):
            raise HiveQLUnsupportedError(
                f"CHANGE COLUMN target name {new_name!r} already exists"
            )
        fields = []
        moved = None
        old_field = None
        for f in schema.fields:
            if f.name.lower() == old_name.lower():
                if new_name.lower() == old_name.lower():
                    if not self._parquet_read_compatible(f.dataType, new_type):
                        if self._conversion_alter_allowed(
                            f.dataType, new_type
                        ):
                            self._snapshot_schema_epoch(key)
                        else:
                            raise HiveQLUnsupportedError(
                                f"CHANGE COLUMN {old_name!r}: "
                                f"{f.dataType.simpleString()} → "
                                f"{new_type.simpleString()} is not a "
                                "parquet-compatible conversion (SET "
                                "hive.metastore.disallow.incompatible."
                                "col.type.changes=false for Hive's "
                                "schema-evolution conversion matrix)"
                            )
                old_field = f
                moved = self._char_aware_field(new_name, new_type)
                fields.append(moved)
            else:
                fields.append(f)
        if pos:
            fields.remove(moved)
            data = [f for f in fields if f.name.lower() not in parts]
            part = [f for f in fields if f.name.lower() in parts]
            if pos.upper() == "FIRST":
                data.insert(0, moved)
            else:
                after = pos.split()[1].lower()
                idx = next(
                    (
                        i
                        for i, f in enumerate(data)
                        if f.name.lower() == after
                    ),
                    None,
                )
                if idx is None:
                    raise HiveQLUnsupportedError(
                        f"CHANGE COLUMN AFTER {after!r}: no such column"
                    )
                data.insert(idx + 1, moved)
            fields = data + part
        # Hive invalidates metastore column stats on CHANGE COLUMN: a
        # retype must not keep serving the pre-alter min/max/NDV via
        # DESCRIBE t col; a pure rename re-keys the stats so they follow
        # the column instead of being orphaned under the dead name.
        stats = self.column_stats.get(key)
        if stats is not None and old_field is not None:
            entry = stats.pop(old_field.name, None)
            if entry is not None and new_type == old_field.dataType:
                stats[new_name] = entry
        return self._set_declared_schema(key, StructType(fields))

    def _run_tblproperties(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE t SET/UNSET TBLPROPERTIES — the metastore table
        parameters map (DDLTask alterTable TBLPROPERTIES path); UNSET of
        a missing key without IF EXISTS is a typed error (Hive's
        AlterTableDesc validation)."""
        key = self._resolve_dml_table(m.group(1))
        verb = m.group(2).upper()
        guarded = bool(m.group(3))
        props = self.table_props.setdefault(key, {})
        if verb == "SET":
            for name, val in _split_assignments(m.group(4)):
                props[name.strip().strip("'\"")] = val.strip().strip("'\"")
        else:
            for raw in _split_top_commas(m.group(4)):
                name = raw.strip().strip("'\"")
                if name not in props and not guarded:
                    raise HiveQLUnsupportedError(
                        f"UNSET TBLPROPERTIES: no property {name!r} "
                        "(use IF EXISTS)"
                    )
                props.pop(name, None)
        return self._rows_affected(0)

    _FILEFORMAT_PROVIDERS = {
        "PARQUET": "parquet",
        "ORC": "orc",
        "AVRO": "avro",
        "JSONFILE": "json",
        "TEXTFILE": "csv",
        "SEQUENCEFILE": "sequencefile",
    }

    def _run_set_fileformat(
        self, table: str, part_spec: str | None, fmt: str
    ) -> DataFrame:
        """ALTER TABLE [PARTITION] SET FILEFORMAT
        (partition_wise_fileformat.q; DDLTask alterTable
        AlterTableTypes.SETFILEFORMAT). Hive's per-partition storage
        descriptors: a table-level change applies to FUTURE writes —
        NEW partitions and INSERT OVERWRITE of existing ones adopt it
        (partition_wise_fileformat3.q's golden: re-overwritten dt=101
        flips to the new format) while untouched partitions keep the
        format they were written with; reads union one format-grouped
        scan per format (_mixed_format_frame). A PARTITION-level spec
        retargets that one partition's descriptor (only when it holds
        no files — Hive lets the files/SD disagree and the next read
        throws a serde error; a typed error here is strictly better).
        Table-level changes on UNPARTITIONED tables with data are
        refused: both formats would share one directory, which no
        reader (Hive included) can serve correctly."""
        new = self._FILEFORMAT_PROVIDERS.get(fmt.upper())
        if new is None or new not in self._MIXED_FORMAT_SOURCES:
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} SET FILEFORMAT {fmt}: supported "
                "target formats are PARQUET, ORC, TEXTFILE, JSONFILE "
                "(RCFILE/SEQUENCEFILE are out of scope per SURVEY §2.2; "
                "AVRO reads via the pure-python fallback, not a "
                "DataSource this mixed-partition path can scan)"
            )
        if self._dml_registered(table):
            key = self._resolve_dml_table(table)
        elif self._is_catalog_table(table):
            key = self._adopt_catalog_table(table)
        else:
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} SET FILEFORMAT: {table!r} is not "
                "a table this Engine knows"
            )
        if key in self.schema_epochs:
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} SET FILEFORMAT: table has pending "
                "schema-conversion epochs; rewrite it (INSERT OVERWRITE) "
                "before changing its format"
            )
        current_tbl = self.table_format.get(key, "parquet")
        if part_spec:
            rel = self._static_partition_reldir(key, part_spec)
            cur = self.partition_formats.get(key, {}).get(rel, "parquet")
            if new == cur:
                return self._rows_affected(0)
            pdir = os.path.join(self.table_paths[key], rel)
            has_files = any(
                files for _r, _d, files in os.walk(pdir)
            ) if os.path.isdir(pdir) else False
            if has_files:
                raise HiveQLUnsupportedError(
                    f"ALTER TABLE {table} PARTITION ({part_spec}) SET "
                    f"FILEFORMAT {fmt}: partition holds {cur} files; "
                    "changing its descriptor without rewriting them "
                    "would make every read fail — INSERT OVERWRITE the "
                    "partition instead (it adopts the table format)"
                )
            if new == "parquet":
                self.partition_formats.get(key, {}).pop(rel, None)
            else:
                self.partition_formats.setdefault(key, {})[rel] = new
            return self._rows_affected(0)
        if new == current_tbl:
            return self._rows_affected(0)
        if not self.table_partitions.get(key):
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} SET FILEFORMAT {fmt}: the table "
                f"is unpartitioned (currently {current_tbl}) — both "
                "formats would share one directory, which no reader "
                "(Hive included) can serve; CREATE a new table STORED "
                "AS the target format and INSERT ... SELECT to migrate"
            )
        if self.table_schemas.get(key) is None and key in self.tables:
            # remember the declared schema now — csv/json partition
            # scans need it even after every parquet partition is gone
            self.table_schemas[key] = self.tables[key].schema
        self.table_format[key] = new
        return self._rows_affected(0)

    #: Hive serde classes whose row layout the engine's physical
    #: formats already model — SET SERDE to one of these is the
    #: metadata-only change it is in Hive (the data files don't move;
    #: partition_wise_fileformat8/11.q's LazyBinaryColumnarSerDe flip).
    _KNOWN_SERDES = (
        "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
        "org.apache.hadoop.hive.serde2.lazybinary.LazyBinarySerDe",
        "org.apache.hadoop.hive.serde2.columnar.ColumnarSerDe",
        "org.apache.hadoop.hive.serde2.columnar.LazyBinaryColumnarSerDe",
        "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
        "org.apache.hadoop.hive.ql.io.orc.OrcSerde",
        "org.apache.hadoop.hive.serde2.avro.AvroSerDe",
        "org.apache.hadoop.hive.serde2.OpenCSVSerde",
        "org.apache.hive.hcatalog.data.JsonSerDe",
        "org.apache.hadoop.hive.serde2.JsonSerDe",
    )

    #: Serde classes bound to one physical format the engine models —
    #: used to refuse cross-format SET SERDE flips (see _run_set_serde).
    _SERDE_PHYSICAL_FORMAT = {
        "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe":
            "parquet",
        "org.apache.hadoop.hive.ql.io.orc.OrcSerde": "orc",
        "org.apache.hadoop.hive.serde2.avro.AvroSerDe": "avro",
        "org.apache.hive.hcatalog.data.JsonSerDe": "json",
        "org.apache.hadoop.hive.serde2.JsonSerDe": "json",
    }

    def _run_set_serde(
        self,
        table: str,
        part_spec: str | None,
        serde: str | None,
        props_txt: str | None,
    ) -> DataFrame:
        """ALTER TABLE [PARTITION] SET SERDE 'class' [WITH
        SERDEPROPERTIES (...)] / SET SERDEPROPERTIES (...) on a
        path-backed table (DDLTask alterTable ADDSERDE/ADDPROPS).
        Hive's serde assignment is metastore metadata — recorded here
        (DESCRIBE FORMATTED surfaces it) with the class validated
        against the layouts the engine models; a CUSTOM serde class
        would change how existing bytes parse, which nothing here can
        honor, so it's a typed error (partition_wise_fileformat17.q's
        CustomSerDe jars are out of scope per SURVEY §2.2)."""
        if self._dml_registered(table):
            key = self._resolve_dml_table(table)
            if part_spec:
                # validate the partition exists; the descriptor is
                # recorded table-level (the engine's formats are
                # uniform per partition already)
                rel = self._static_partition_reldir(key, part_spec)
                if not os.path.isdir(
                    os.path.join(self.table_paths[key], rel)
                ):
                    raise HiveQLUnsupportedError(
                        f"SET SERDE: no such partition {rel!r}"
                    )
            current_fmt = self.table_format.get(key, "parquet")
        else:
            # catalog table (Spark itself refuses ALTER ... SERDE on
            # datasource tables) — record engine-side
            key = table.split(".")[-1].lower()
            try:
                current_fmt = next(
                    (r.data_type or "").strip().lower()
                    for r in self.spark.sql(
                        f"DESCRIBE EXTENDED {table}"
                    ).collect()
                    if r.col_name.strip() == "Provider"
                )
            except StopIteration:
                current_fmt = "parquet"
        if serde is not None and serde not in self._KNOWN_SERDES:
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} SET SERDE {serde!r}: custom serde "
                "classes change how existing bytes parse — out of scope "
                "(supported: the Lazy/Columnar/Parquet/Orc/Avro/CSV/"
                "Json serdes the engine's formats model)"
            )
        # Cross-PHYSICAL-format flips among formats the engine models
        # (e.g. OrcSerde on a parquet table): Hive records the metadata
        # and every subsequent read throws a serde error — surfacing the
        # mismatch eagerly is strictly better than a silently-inert
        # descriptor. The row-layout serdes (Lazy*/Columnar*/OpenCSV)
        # stay metadata-only, as in Hive's own text-family flips
        # (partition_wise_fileformat8/11.q).
        target_fmt = self._SERDE_PHYSICAL_FORMAT.get(serde or "")
        if target_fmt is not None and target_fmt != current_fmt:
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} SET SERDE {serde!r}: the table's "
                f"physical format is {current_fmt} — Hive would accept "
                "the metadata and fail every subsequent read; use SET "
                "FILEFORMAT / INSERT OVERWRITE to migrate the data first"
            )
        props = self.table_props.setdefault(key, {})
        if serde is not None:
            props["serialization.lib"] = serde
        if props_txt:
            for pm in re.finditer(
                r"'([^']+)'\s*=\s*'([^']*)'", props_txt
            ):
                props[f"serde.{pm.group(1)}"] = pm.group(2)
        return self._rows_affected(0)

    # ----- informational constraints (create_with_constraints.q) -----

    @staticmethod
    def _constraint_rely(tail: str, ctx: str) -> bool:
        """Validate the DISABLE NOVALIDATE [RELY|NORELY] tail (Hive 2.x
        grammar: ENABLE and VALIDATE are 'not supported yet',
        ErrorMsg.INVALID_CSTR_SYNTAX) and return the RELY flag."""
        tokens = tail.upper().split()
        if "ENABLE" in tokens:
            raise HiveQLUnsupportedError(
                f"{ctx}: ENABLE feature not supported yet (Hive 2.x "
                "constraints are informational — use DISABLE NOVALIDATE)"
            )
        if "VALIDATE" in tokens:
            raise HiveQLUnsupportedError(
                f"{ctx}: VALIDATE feature not supported yet — use "
                "NOVALIDATE"
            )
        if "DISABLE" not in tokens or "NOVALIDATE" not in tokens:
            raise HiveQLUnsupportedError(
                f"{ctx}: Hive 2.x constraints must be declared DISABLE "
                f"NOVALIDATE (got {tail.strip()!r})"
            )
        return "RELY" in tokens and "NORELY" not in tokens

    def _constraint_names(self, key: str) -> set[str]:
        cons = self.table_constraints.get(key) or {}
        names = set()
        if cons.get("pk"):
            names.add(cons["pk"]["name"].lower())
        for fk in cons.get("fks", []):
            names.add(fk["name"].lower())
        return names

    def _assert_ref_table(self, ref: str, cols: list[str]) -> str:
        rkey = ref.split(".")[-1].lower()
        if rkey not in self.table_paths and not (
            self._is_catalog_table(ref) or self._is_catalog_table(rkey)
        ):
            raise HiveQLUnsupportedError(
                f"FOREIGN KEY references unknown table {ref!r}"
            )
        if not cols:
            raise HiveQLUnsupportedError(
                "FOREIGN KEY REFERENCES needs a column list"
            )
        return rkey

    def _extract_create_constraints(self, query: str) -> str:
        """Strip PRIMARY KEY / FOREIGN KEY items out of a CREATE TABLE
        column list (Hive 2.1+ grammar puts them inline,
        parse/HiveParser.g columnNameTypeOrPKOrFK; Spark has no
        constraint grammar at all) and record them on the engine —
        the metastore KEY_CONSTRAINTS role."""
        m = re.match(
            r"\s*CREATE\s+(?:TEMPORARY\s+|EXTERNAL\s+)*TABLE\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\(",
            query, re.IGNORECASE,
        )
        if not m:
            return query
        key = m.group(1).split(".")[-1].lower()
        open_idx = m.end() - 1
        close = _scan_balanced(query, open_idx)
        inner = query[open_idx + 1: close]
        # split at top-level commas
        items: list[str] = []
        buf: list[str] = []
        depth, q = 0, None
        for ch in inner:
            if q:
                if ch == q:
                    q = None
                buf.append(ch)
            elif ch in "'\"":
                q = ch
                buf.append(ch)
            elif ch == "(":
                depth += 1
                buf.append(ch)
            elif ch == ")":
                depth -= 1
                buf.append(ch)
            elif ch == "," and depth == 0:
                items.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        items.append("".join(buf))
        cols_out: list[str] = []
        pk = None
        fks: list[dict] = []
        n_unnamed = 0
        for item in items:
            cm = _CONSTRAINT_ITEM.match(item)
            if not cm:
                cols_out.append(item)
                continue
            name, kind, cols_txt, ref, ref_cols_txt, tail = cm.groups()
            kind = " ".join(kind.upper().split())
            cols = [c.strip().lower() for c in cols_txt.split(",") if c.strip()]
            rely = self._constraint_rely(tail or "", f"CREATE TABLE {key}")
            if not name:
                n_unnamed += 1
                name = f"{key}_{'pk' if kind == 'PRIMARY KEY' else 'fk'}" \
                       f"_{n_unnamed}"
            if kind == "PRIMARY KEY":
                if ref:
                    raise HiveQLUnsupportedError(
                        "PRIMARY KEY does not take REFERENCES"
                    )
                if pk is not None:
                    raise HiveQLUnsupportedError(
                        f"table {key!r} declares more than one PRIMARY KEY"
                    )
                pk = {"name": name, "cols": cols, "rely": rely}
            else:
                if not ref:
                    raise HiveQLUnsupportedError(
                        "FOREIGN KEY needs REFERENCES t(cols)"
                    )
                ref_cols = [
                    c.strip().lower()
                    for c in (ref_cols_txt or "").split(",") if c.strip()
                ]
                rkey = self._assert_ref_table(ref, ref_cols)
                if len(ref_cols) != len(cols):
                    raise HiveQLUnsupportedError(
                        f"FOREIGN KEY ({cols}) and REFERENCES "
                        f"({ref_cols}) column counts differ"
                    )
                fks.append({
                    "name": name, "cols": cols, "ref_table": rkey,
                    "ref_cols": ref_cols, "rely": rely,
                })
        if pk is None and not fks:
            return query
        if not any(c.strip() for c in cols_out):
            raise HiveQLUnsupportedError(
                f"CREATE TABLE {key}: constraints-only column list"
            )
        self.table_constraints[key] = {"pk": pk, "fks": fks}
        return (
            query[:open_idx + 1]
            + ", ".join(c.strip() for c in cols_out)
            + query[close:]
        )

    def _run_add_constraint(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE t ADD CONSTRAINT name PRIMARY KEY|FOREIGN KEY
        (...) [REFERENCES r(...)] DISABLE NOVALIDATE [RELY]."""
        table, name, kind, cols_txt, ref, ref_cols_txt, tail = m.groups()
        key = table.split(".")[-1].lower()
        if key not in self.table_paths and not (
            self._is_catalog_table(table) or self._is_catalog_table(key)
        ):
            raise HiveQLUnsupportedError(
                f"ALTER TABLE {table} ADD CONSTRAINT: unknown table"
            )
        kind = " ".join(kind.upper().split())
        rely = self._constraint_rely(
            tail or "", f"ALTER TABLE {key} ADD CONSTRAINT"
        )
        if name.lower() in self._constraint_names(key):
            raise HiveQLUnsupportedError(
                f"constraint {name!r} already exists on {key!r}"
            )
        cols = [c.strip().lower() for c in cols_txt.split(",") if c.strip()]
        cons = self.table_constraints.setdefault(
            key, {"pk": None, "fks": []}
        )
        if kind == "PRIMARY KEY":
            if ref:
                raise HiveQLUnsupportedError(
                    "PRIMARY KEY does not take REFERENCES"
                )
            if cons.get("pk"):
                raise HiveQLUnsupportedError(
                    f"table {key!r} already has a PRIMARY KEY "
                    f"({cons['pk']['name']})"
                )
            cons["pk"] = {"name": name, "cols": cols, "rely": rely}
        else:
            if not ref:
                raise HiveQLUnsupportedError(
                    "FOREIGN KEY needs REFERENCES t(cols)"
                )
            ref_cols = [
                c.strip().lower()
                for c in (ref_cols_txt or "").split(",") if c.strip()
            ]
            rkey = self._assert_ref_table(ref, ref_cols)
            if len(ref_cols) != len(cols):
                raise HiveQLUnsupportedError(
                    "FOREIGN KEY and REFERENCES column counts differ"
                )
            cons.setdefault("fks", []).append({
                "name": name, "cols": cols, "ref_table": rkey,
                "ref_cols": ref_cols, "rely": rely,
            })
        return self._rows_affected(0)

    def _run_drop_constraint(self, m: re.Match[str]) -> DataFrame:
        table, name = m.group(1), m.group(2)
        key = table.split(".")[-1].lower()
        cons = self.table_constraints.get(key)
        nl = name.lower()
        if cons:
            if cons.get("pk") and cons["pk"]["name"].lower() == nl:
                cons["pk"] = None
                return self._rows_affected(0)
            for i, fk in enumerate(cons.get("fks", [])):
                if fk["name"].lower() == nl:
                    cons["fks"].pop(i)
                    return self._rows_affected(0)
        raise HiveQLUnsupportedError(
            f"ALTER TABLE {table} DROP CONSTRAINT: no constraint "
            f"{name!r} (Hive: Constraint not found)"
        )

    def _constraint_rows(self, key: str) -> list[tuple]:
        """DESCRIBE EXTENDED/FORMATTED's Constraints section
        (MetaDataFormatUtils.getConstraintsInformation)."""
        cons = self.table_constraints.get(key)
        if not cons or not (cons.get("pk") or cons.get("fks")):
            return []
        rows: list[tuple] = [("", "", None)]
        label = "Constraints"
        pk = cons.get("pk")
        if pk:
            rows.append((
                label,
                f"Primary Key for default.{key}:[{', '.join(pk['cols'])}]"
                f", Constraint Name: {pk['name']}",
                None,
            ))
            label = ""
        for fk in cons.get("fks", []):
            pairs = ", ".join(
                f"(Parent Column Name: default.{fk['ref_table']}.{rc}, "
                f"Column Name: {c}, Key Sequence: {i + 1})"
                for i, (c, rc) in enumerate(
                    zip(fk["cols"], fk["ref_cols"])
                )
            )
            rows.append((
                label,
                f"Foreign Keys for default.{key}:[ "
                f"{{Constraint Name: {fk['name']}, {pairs}}}]",
                None,
            ))
            label = ""
        return rows

    def _describe_catalog_with_constraints(
        self, table: str, key: str, modifier: str
    ) -> DataFrame:
        base = self.spark.sql(
            f"DESCRIBE {modifier.strip()} {table}"
        ).collect()
        rows = [tuple(r) for r in base] + self._constraint_rows(key)
        return local_frame(
            self.spark,
            rows, "col_name string, data_type string, comment string"
        )

    def _adopt_catalog_table(self, name: str) -> str:
        """Convert a session-catalog table into a path-backed registered
        table so the per-partition-format machinery (engine-side reads
        and writes) can manage it. The catalog entry stays — the temp
        view registered under the same name shadows it for reads, and
        the INSERT dispatch prefers the path registry."""
        key = name.split(".")[-1].lower()
        info = {
            r.col_name.strip(): (r.data_type or "").strip()
            for r in self.spark.sql(f"DESCRIBE EXTENDED {name}").collect()
        }
        provider = (info.get("Provider") or "parquet").lower()
        location = info.get("Location") or ""
        if location.startswith("file:"):
            location = re.sub(r"^file:(//)?", "", location)
        if not location or not os.path.isdir(location):
            raise HiveQLUnsupportedError(
                f"cannot adopt catalog table {name!r}: location "
                f"{location!r} is not a local directory"
            )
        if provider not in self._MIXED_FORMAT_SOURCES:
            raise HiveQLUnsupportedError(
                f"cannot adopt catalog table {name!r}: provider "
                f"{provider!r} is not scannable per-partition"
            )
        part_cols = [
            c.name
            for c in self.spark.catalog.listColumns(name)
            if c.isPartition
        ]
        if provider != "parquet" and not part_cols:
            raise HiveQLUnsupportedError(
                f"cannot adopt catalog table {name!r}: unpartitioned "
                f"{provider} tables have no per-partition descriptors "
                "to manage"
            )
        self.table_schemas[key] = self.spark.table(name).schema
        if provider != "parquet":
            if part_cols:
                rels = self._partition_rels_at(location, len(part_cols))
                if rels:
                    self.partition_formats[key] = {
                        r: provider for r in rels
                    }
            self.table_format[key] = provider
        self.register_table(key, location, part_cols or None)
        return key

    #: Hive InputFormat/OutputFormat class names per engine format —
    #: what SHOW TABLE EXTENDED prints (ShowTableStatus golden lines,
    #: partition_wise_fileformat*.q)
    _HIVE_FORMAT_CLASSES = {
        "parquet": (
            "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
            "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
        ),
        "orc": (
            "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat",
            "org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat",
        ),
        "csv": (
            "org.apache.hadoop.mapred.TextInputFormat",
            "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
        ),
        "json": (
            "org.apache.hadoop.mapred.TextInputFormat",
            "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat",
        ),
    }

    @staticmethod
    def _thrift_type(dt) -> str:
        """Hive renders SHOW TABLE EXTENDED column types in thrift DDL
        (MetaStoreUtils.typeToThriftType): int→i32, bigint→i64, ..."""
        s = dt.simpleString()
        return {
            "int": "i32", "bigint": "i64", "smallint": "i16",
            "tinyint": "byte", "boolean": "bool",
        }.get(s, s)

    def _run_show_table_extended(
        self, table: str, part_spec: str | None
    ) -> DataFrame:
        """SHOW TABLE EXTENDED LIKE t [PARTITION (spec)] — Hive's
        ShowTableStatus output (DDLTask showTableStatus,
        partition_wise_fileformat*.q goldens): table name, location,
        the INPUT/OUTPUT format classes of the table's — or the named
        PARTITION's — storage descriptor, the thrift-DDL column struct,
        partition columns, and file-level stats (count/total/max/min
        bytes) from a directory listing (metadata-only, never a
        scan)."""
        if self._dml_registered(table):
            key = self._resolve_dml_table(table)
            path = self.table_paths[key]
            fmt = self.table_format.get(key, "parquet")
            schema = self._declared_schema(key)
        else:
            key = table.split(".")[-1].lower()
            info = {
                r.col_name.strip(): (r.data_type or "").strip()
                for r in self.spark.sql(
                    f"DESCRIBE EXTENDED {table}"
                ).collect()
            }
            fmt = (info.get("Provider") or "parquet").lower()
            path = re.sub(r"^file:(//)?", "", info.get("Location") or "")
            schema = self.spark.table(table).schema
        parts = self.table_partitions.get(key) or [
            c.name
            for c in (
                self.spark.catalog.listColumns(table)
                if self._is_catalog_table(table) else []
            )
            if c.isPartition
        ]
        parts_l = {p.lower() for p in parts}
        target_dir = path
        if part_spec:
            if not self._dml_registered(table):
                raise HiveQLUnsupportedError(
                    "SHOW TABLE EXTENDED ... PARTITION is supported for "
                    "path-backed tables"
                )
            rel = self._static_partition_reldir(key, part_spec)
            if not os.path.isdir(os.path.join(path, rel)):
                raise HiveQLUnsupportedError(
                    f"SHOW TABLE EXTENDED: no such partition {rel!r}"
                )
            fmt = self.partition_formats.get(key, {}).get(rel, "parquet")
            target_dir = os.path.join(path, rel)
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for root, _d, fs in os.walk(target_dir)
            for f in fs
            if not f.startswith(("_", "."))
        ] if os.path.isdir(target_dir) else []
        inf, outf = self._HIVE_FORMAT_CLASSES[fmt]
        data_cols = ", ".join(
            f"{self._thrift_type(f.dataType)} {f.name}"
            for f in schema.fields
            if f.name.lower() not in parts_l
        )
        lines = [
            f"tableName:{key}",
            f"location:{os.path.abspath(path)}" if path else "location:",
            f"inputformat:{inf}",
            f"outputformat:{outf}",
            "columns:struct columns { " + data_cols + "}",
            f"partitioned:{'true' if parts else 'false'}",
            (
                "partitionColumns:struct partition_columns { "
                + ", ".join(
                    f"{self._thrift_type(f.dataType)} {f.name}"
                    for f in schema.fields
                    if f.name.lower() in parts_l
                )
                + "}"
            ) if parts else "partitionColumns:",
            f"totalNumberFiles:{len(sizes)}",
            f"totalFileSize:{sum(sizes)}",
            f"maxFileSize:{max(sizes) if sizes else 0}",
            f"minFileSize:{min(sizes) if sizes else 0}",
        ]
        return local_frame(
            self.spark, [(ln,) for ln in lines], "tab_name string"
        )

    def _run_show_tblproperties(
        self, table: str, prop: str | None
    ) -> DataFrame:
        if self._dml_registered(table):
            key = self._resolve_dml_table(table)
            props = dict(self.table_props.get(key, {}))
        else:
            # catalog table with engine-side props: merge Spark's own
            # TBLPROPERTIES under the engine's recorded ones (the
            # engine-side serde/props are the newer writes)
            key = table.split(".")[-1].lower()
            props = {
                r.key: r.value
                for r in self.spark.sql(
                    f"SHOW TBLPROPERTIES {table}"
                ).collect()
            }
            props.update(self.table_props.get(key, {}))
        if prop is not None:
            name = prop.strip().strip("'\"")
            if name not in props:
                raise HiveQLUnsupportedError(
                    f"table {key!r} has no property {name!r}"
                )
            return local_frame(
                self.spark, [(props[name],)], "value string"
            )
        return local_frame(
            self.spark, sorted(props.items()), "key string, value string"
        )

    def _run_show_columns(self, table: str) -> DataFrame:
        """SHOW COLUMNS FROM t — column names only, declared order
        (Hive's output shape: one ``field`` column)."""
        key = self._resolve_dml_table(table)
        return local_frame(
            self.spark, [(f.name,) for f in self._declared_schema(key).fields],
            "field string",
        )

    # ------------------------------------------------------------------
    # Views (SemanticAnalyzer createView / DDLTask view guards)
    # ------------------------------------------------------------------

    def _run_create_view(self, m: re.Match[str]) -> DataFrame:
        replace = bool(m.group(1))
        if_not_exists = bool(m.group(2))
        key = m.group(3).split(".")[-1].lower()
        aliases = (
            [a.strip().strip("`") for a in m.group(4)[1:-1].split(",")]
            if m.group(4)
            else None
        )
        part_on = m.group(5)
        body = m.group(6).rstrip().rstrip(";")
        if self._local_sink(key):
            raise HiveQLUnsupportedError(
                f"CREATE VIEW: {key!r} already exists as a table "
                "(AlreadyExistsException)"
            )
        if key in self.views and not replace:
            if if_not_exists:
                return self._rows_affected(0)
            raise HiveQLUnsupportedError(
                f"CREATE VIEW: view {key!r} already exists "
                "(use OR REPLACE / IF NOT EXISTS)"
            )
        df = self._body_df(body)
        if aliases:
            if len(aliases) != len(df.columns):
                raise HiveQLUnsupportedError(
                    f"CREATE VIEW column list has {len(aliases)} names "
                    f"but the query supplies {len(df.columns)} columns"
                )
            df = df.toDF(*aliases)
        note_view_override(self.spark, key)
        df.createOrReplaceTempView(key)
        replaced = key in self.views
        self.views[key] = body
        if aliases:
            self.view_aliases[key] = aliases
        else:
            self.view_aliases.pop(key, None)
        if part_on is not None:
            # Hive's PARTITIONED ON views (SemanticAnalyzer
            # validateCreateView): pure METADATA — partitions are
            # declared, then explicitly registered via ALTER VIEW ADD
            # PARTITION (no effect on query results; the dependency
            # bookkeeping is the feature). The declared columns must be
            # a SUFFIX of the view's output columns (Hive's rule).
            cols = [c.strip().strip("`") for c in part_on.split(",")]
            out_cols = [c.lower() for c in df.columns]
            if [c.lower() for c in cols] != out_cols[-len(cols):]:
                raise HiveQLUnsupportedError(
                    f"CREATE VIEW PARTITIONED ON {cols}: partition "
                    "columns must be the LAST columns of the view "
                    f"(view outputs {df.columns})"
                )
            self.view_partitions[key] = (cols, set())
        else:
            self.view_partitions.pop(key, None)
        if replaced:
            self._refresh_dependent_views(key)
        return self._rows_affected(0)

    def _run_alter_view_partition(self, m: re.Match[str]) -> DataFrame:
        """ALTER VIEW v ADD|DROP PARTITION (c='v', ...) — Hive's
        partitioned-view lifecycle (DDLSemanticAnalyzer
        analyzeAlterTableAddParts on a VIRTUAL_VIEW): pure metastore
        bookkeeping, no data movement; SHOW PARTITIONS serves the
        registered list back."""
        key = m.group(1).split(".")[-1].lower()
        action = m.group(2).upper()
        if_clause = bool(m.group(3))
        if key not in self.view_partitions:
            raise HiveQLUnsupportedError(
                f"ALTER VIEW ... PARTITION: {key!r} is not a "
                "PARTITIONED ON view"
            )
        cols, specs = self.view_partitions[key]
        low = [c.lower() for c in cols]
        want: list[tuple[str, str]] = []
        for name, val in _split_assignments(m.group(4)):
            col = name.strip().strip("`").lower()
            if col not in low:
                raise HiveQLUnsupportedError(
                    f"ALTER VIEW PARTITION: {col!r} is not a partition "
                    f"column of {key!r} (declared: {cols})"
                )
            want.append((col, val.strip().strip("'\"")))
        spec = tuple(sorted(want))
        if action == "ADD":
            if spec in specs and not if_clause:
                raise HiveQLUnsupportedError(
                    f"ALTER VIEW ADD PARTITION: {dict(spec)} already "
                    "registered (AlreadyExistsException)"
                )
            specs.add(spec)
        else:
            if spec not in specs and not if_clause:
                raise HiveQLUnsupportedError(
                    f"ALTER VIEW DROP PARTITION: {dict(spec)} is not "
                    "registered"
                )
            specs.discard(spec)
        return self._rows_affected(0)

    def _run_show_view_partitions(self, key: str) -> DataFrame:
        """SHOW PARTITIONS over a PARTITIONED ON view: the explicitly
        ADDed spec list in Hive's col=val/... line format."""
        cols, specs = self.view_partitions[key]
        order = {c.lower(): i for i, c in enumerate(cols)}
        lines = sorted(
            "/".join(
                f"{c}={v}"
                for c, v in sorted(spec, key=lambda cv: order[cv[0]])
            )
            for spec in specs
        )
        return local_frame(
            self.spark, [(ln,) for ln in lines], "partition string"
        )

    def _run_alter_view_rename(self, old: str, new: str) -> DataFrame:
        """ALTER VIEW old RENAME TO new (DDLTask renameTable on a VIEW;
        alter_view_rename.q moves tv1.view1 to tv2.view2 — Hive allows
        a database change). Engine views move their body plus alias/
        partition metadata and re-register under the new name; a pure
        catalog view falls back to Spark's native rename, recreating
        from the stored view text when the rename crosses databases
        (which Spark's RENAME refuses)."""
        okey = old.split(".")[-1].lower()
        nkey = new.split(".")[-1].lower()
        if okey in self.views:
            if nkey in self.views or nkey in self.table_paths:
                raise HiveQLUnsupportedError(
                    f"ALTER VIEW RENAME: target {nkey!r} already exists"
                )
            self.views[nkey] = self.views.pop(okey)
            for store in (self.view_aliases, self.view_partitions):
                if okey in store:
                    store[nkey] = store.pop(okey)
            self._bind_view(nkey)
            note_view_override(self.spark, okey)
            self.spark.catalog.dropTempView(okey)
            return self._rows_affected(0)
        try:
            return self.spark.sql(f"ALTER VIEW {old} RENAME TO {new}")
        except Exception:
            text = None
            for r in self.spark.sql(
                f"DESCRIBE TABLE EXTENDED {old}"
            ).collect():
                if (r.col_name or "").strip() == "View Text":
                    text = r.data_type
                    break
            if text is None:
                raise
            self.spark.sql(f"CREATE VIEW {new} AS {text}")
            self.spark.sql(f"DROP VIEW {old}")
            return self._rows_affected(0)

    def _run_alter_view(self, view: str, body: str) -> DataFrame:
        key = view.split(".")[-1].lower()
        if key in self.table_paths:
            raise HiveQLUnsupportedError(
                f"ALTER VIEW: {key!r} is a base table, not a view"
            )
        if key not in self.views:
            raise HiveQLUnsupportedError(f"ALTER VIEW: no such view {key!r}")
        body = body.rstrip().rstrip(";")
        note_view_override(self.spark, key)
        self._body_df(body).createOrReplaceTempView(key)
        self.views[key] = body
        self.view_aliases.pop(key, None)
        self._refresh_dependent_views(key)
        return self._rows_affected(0)

    def _bind_view(self, key: str) -> None:
        """(Re)create engine view ``key``'s temp view from its stored
        text and column aliases."""
        df = self._body_df(self.views[key])
        if key in self.view_aliases:
            df = df.toDF(*self.view_aliases[key])
        note_view_override(self.spark, key)
        df.createOrReplaceTempView(key)

    def _refresh_dependent_views(
        self, changed: str, _done: set[str] | None = None
    ) -> None:
        """Hive views are stored TEXT expanded at query time (late
        binding) — a stacked view sees its parent's redefinition. Spark
        temp views bind their plan at creation, so after ALTER VIEW /
        CREATE OR REPLACE VIEW / a base-table re-registration every
        dependent view is re-created from its stored text (each view at
        most once per refresh). A view whose text no longer resolves
        (base column dropped, table gone) is DROPPED from the session
        catalog instead of aborting the triggering statement — Hive's
        late binding surfaces the breakage when the view is QUERIED, and
        a stale pre-change plan would silently return wrong data."""
        done = _done if _done is not None else set()
        done.add(changed.lower())
        for vname, body in list(self.views.items()):
            if vname in done or not re.search(
                rf"\b{re.escape(changed)}\b", body, re.IGNORECASE
            ):
                continue
            try:
                self._bind_view(vname)
            except Exception:
                try:
                    note_view_override(self.spark, vname)
                    self.spark.catalog.dropTempView(vname)
                except Exception:
                    pass
            self._refresh_dependent_views(vname, done)

    def _run_drop_view(
        self, if_exists: bool, name: str
    ) -> DataFrame | None:
        """DROP VIEW — typed error on a base table (Hive: "Cannot drop a
        base table with DROP VIEW"); None → fall through to spark.sql
        for catalog views this Engine doesn't manage."""
        key = name.split(".")[-1].lower()
        if key in self.table_paths:
            raise HiveQLUnsupportedError(
                f"Cannot drop a base table {key!r} with DROP VIEW"
            )
        if key not in self.views:
            return None
        note_view_override(self.spark, key)
        self.spark.catalog.dropTempView(key)
        del self.views[key]
        self.view_aliases.pop(key, None)
        self.view_partitions.pop(key, None)
        # Views stacked on the dropped view must not keep serving their
        # stale pre-drop plan — resolve-or-drop each dependent (Hive's
        # late binding would error at query time, never return old data).
        self._refresh_dependent_views(key)
        return self._rows_affected(0)

    def _run_drop_table(
        self, if_exists: bool, name: str
    ) -> DataFrame | None:
        """DROP TABLE on a registered path-backed table — EXTERNAL
        semantics: deregister, keep the files (DDLTask dropTable leaves
        external data in place). Typed error on a view (Hive: "Cannot
        drop a view with DROP TABLE"); None → passthrough."""
        key = name.split(".")[-1].lower()
        if key in self.views:
            raise HiveQLUnsupportedError(
                f"Cannot drop a view {key!r} with DROP TABLE"
            )
        self.table_constraints.pop(key, None)
        if key not in self.table_paths:
            return None
        self.table_paths.pop(key)
        self.table_partitions.pop(key, None)
        self.table_schemas.pop(key, None)
        self.table_props.pop(key, None)
        self.table_format.pop(key, None)
        self.partition_formats.pop(key, None)
        self.column_stats.pop(key, None)
        # Epochs die with the table (a temp table's own ALTER-created
        # epochs are discarded here BEFORE the shadow restore below).
        self.schema_epochs.pop(key, None)
        self._invalidate_stats(key)
        self.tables.pop(key, None)
        note_view_override(self.spark, key)
        self.spark.catalog.dropTempView(key)
        if self.temp_tables.pop(key, None) is not None:
            # dropping a TEMPORARY table un-shadows whatever it hid
            # (SessionHiveMetaStoreClient.dropTempTable — the permanent
            # table resolves again)
            shadow = self.temp_shadowed.pop(key, None)
            if shadow and shadow["kind"] == "path":
                if shadow.get("schema") is not None:
                    self.table_schemas[key] = shadow["schema"]
                if shadow.get("props") is not None:
                    self.table_props[key] = shadow["props"]
                if shadow.get("format") is not None:
                    self.table_format[key] = shadow["format"]
                if shadow.get("pformats") is not None:
                    self.partition_formats[key] = shadow["pformats"]
                if shadow.get("epochs") is not None:
                    self.schema_epochs[key] = shadow["epochs"]
                self.register_table(
                    key, shadow["path"], shadow.get("partitions")
                )
            self._refresh_dependent_views(key)
            return self._rows_affected(0)
        # A view over the dropped table must not keep its bound plan and
        # silently return the dropped table's data — resolve-or-drop it
        # (Hive late binding errors when the view is queried).
        self._refresh_dependent_views(key)
        return self._rows_affected(0)

    def _schema_split(self, key: str):
        """(data_fields, partition_fields) for a registered table —
        partition columns come last in the parquet-discovered schema but
        are matched by name against the registered partition spec."""
        parts = [p.lower() for p in self.table_partitions.get(key, [])]
        fields = self.tables[key].schema.fields
        data = [f for f in fields if f.name.lower() not in parts]
        part = [f for f in fields if f.name.lower() in parts]
        return data, part

    def _run_show_create(self, table: str) -> DataFrame:
        """SHOW CREATE TABLE — Hive-style external-table DDL
        (reference: exec/DDLTask.java showCreateTable). One row,
        column ``createtab_stmt``, like Hive/Spark. Views render their
        stored definition (showCreateTable's CREATE VIEW branch)."""
        vkey = table.split(".")[-1].lower()
        if vkey in self.views:
            # A view created with an explicit column list must replay
            # with the same list, or the emitted DDL yields different
            # column names than the original (Hive stores viewExpandedText
            # with the alias list intact).
            aliases = self.view_aliases.get(vkey)
            alias_sql = (
                "(" + ", ".join(f"`{a}`" for a in aliases) + ") "
                if aliases
                else ""
            )
            return local_frame(
                self.spark,
                [(f"CREATE VIEW `{vkey}` {alias_sql}AS {self.views[vkey]}",)],
                "createtab_stmt string",
            )
        key = self._resolve_dml_table(table)
        data, part = self._schema_split(key)
        lines = [f"CREATE EXTERNAL TABLE `{key}`("]
        lines.append(
            ",\n".join(
                f"  `{f.name}` {f.dataType.simpleString()}" for f in data
            )
            + ")"
        )
        if part:
            lines.append("PARTITIONED BY (")
            lines.append(
                ",\n".join(
                    f"  `{f.name}` {f.dataType.simpleString()}" for f in part
                )
                + ")"
            )
        lines.append("STORED AS PARQUET")
        lines.append("LOCATION")
        lines.append(f"  '{self.table_paths[key]}'")
        return local_frame(
            self.spark, [("\n".join(lines),)], "createtab_stmt string"
        )

    def _run_describe(self, table: str, modifier: str | None) -> DataFrame:
        """DESCRIBE [EXTENDED|FORMATTED] t — column listing plus, for the
        long forms, Hive's partition-information and detailed-table
        sections (reference: exec/DDLTask.java describeTable;
        formatting MetaDataFormatUtils). Path metadata only — no scan."""
        key = self._resolve_dml_table(table)
        data, part = self._schema_split(key)
        rows = [(f.name, f.dataType.simpleString(), None) for f in data]
        if part:
            # Hive appends partition columns to the plain DESCRIBE too.
            rows += [(f.name, f.dataType.simpleString(), None) for f in part]
        if modifier:
            if part:
                rows += [
                    ("", "", None),
                    ("# Partition Information", "", None),
                    ("# col_name", "data_type", "comment"),
                ]
                rows += [
                    (f.name, f.dataType.simpleString(), None) for f in part
                ]
            path = self.table_paths[key]
            fp, total, n_files = self._fingerprint_and_size(path)
            rows += [
                ("", "", None),
                ("# Detailed Table Information", "", None),
                ("Location", path, None),
                ("Table Type", "EXTERNAL_TABLE", None),
                ("numFiles", str(n_files), None),
                ("totalSize", str(total), None),
                ("InputFormat", "parquet", None),
            ]
            # Hive's DESC FORMATTED surfaces the StatsTask parameters
            # (numRows, COLUMN_STATS_ACCURATE) when the stats are
            # accurate — the observable stats0.q/stats1.q's goldens pin
            basic = self.basic_stats.get(key)
            if basic and basic.get("fp") == fp:
                rows += [
                    ("numRows", str(basic["num_rows"]), None),
                    (
                        "COLUMN_STATS_ACCURATE",
                        '{"BASIC_STATS":"true"}',
                        None,
                    ),
                ]
            props = self.table_props.get(key)
            if props:
                rows += [("", "", None), ("# Table Parameters", "", None)]
                rows += [(k, v, None) for k, v in sorted(props.items())]
            rows += self._constraint_rows(key)
        return local_frame(
            self.spark,
            rows, "col_name string, data_type string, comment string"
        )

    def _run_describe_partition(
        self, table: str, spec: str, modifier: str | None
    ) -> DataFrame:
        """DESCRIBE [EXTENDED|FORMATTED] t PARTITION (full spec) —
        Hive prints the table's column listing plus a Detailed
        Partition Information section with the partition's own
        quick stats and, when that partition's StatsTask numbers are
        accurate, numRows/COLUMN_STATS_ACCURATE (stats4.q, stats18.q:
        an autogathered partition SHOWS numRows; a LOAD DATA into it
        clears them while numFiles/totalSize stay current)."""
        key = self._resolve_dml_table(table)
        rel = self._static_partition_reldir(key, spec)
        path = self.table_paths[key]
        pdir = os.path.join(path, rel)
        if not os.path.isdir(pdir):
            raise HiveQLUnsupportedError(
                f"DESCRIBE: partition ({spec}) does not exist in {key!r}"
            )
        data, part = self._schema_split(key)
        rows = [(f.name, f.dataType.simpleString(), None) for f in data]
        rows += [(f.name, f.dataType.simpleString(), None) for f in part]
        if modifier:
            rows += [
                ("", "", None),
                ("# Partition Information", "", None),
                ("# col_name", "data_type", "comment"),
            ]
            rows += [
                (f.name, f.dataType.simpleString(), None) for f in part
            ]
            _pfp, total, n_files = self._fingerprint_and_size(pdir)
            rows += [
                ("", "", None),
                ("# Detailed Partition Information", "", None),
                ("Partition Value", rel, None),
                ("Location", pdir, None),
                ("numFiles", str(n_files), None),
                ("totalSize", str(total), None),
            ]
            fp = self._fp_memo.get(key)
            if fp is None:
                fp = self._table_fingerprint(path)
                self._fp_memo[key] = fp
            pb = self.part_basic_stats.get(key)
            if (
                pb
                and pb.get("fp") == fp
                and rel in pb.get("parts", {})
            ):
                rows += [
                    (
                        "numRows",
                        str(pb["parts"][rel]["num_rows"]),
                        None,
                    ),
                    (
                        "COLUMN_STATS_ACCURATE",
                        '{"BASIC_STATS":"true"}',
                        None,
                    ),
                ]
        return local_frame(
            self.spark,
            rows, "col_name string, data_type string, comment string"
        )

    def _run_show_partitions(
        self, table: str, spec: str | None = None
    ) -> DataFrame:
        """SHOW PARTITIONS t [PARTITION (p='v', ...)] — Hive prints one
        ``col=val/...`` line per partition directory, optionally
        filtered by a PARTIAL partition spec (DDLSemanticAnalyzer
        analyzeShowPartitions: any subset of partition columns); here a
        directory listing (metadata-only). A spec column that isn't a
        partition column is a typed error (Hive's validation)."""
        from hive_2_3_2_spark.sources.writers import _staged_partition_rels

        key = self._resolve_dml_table(table)
        parts = self.table_partitions.get(key)
        if not parts:
            raise HiveQLUnsupportedError(f"table {key!r} is not partitioned")
        rels = sorted(
            _staged_partition_rels(self.table_paths[key], len(parts))
        )
        if spec:
            low = [p.lower() for p in parts]
            want: dict[str, str] = {}
            for name, val in _split_assignments(spec):
                col = name.strip().strip("`").lower()
                if col not in low:
                    raise HiveQLUnsupportedError(
                        f"SHOW PARTITIONS: {col!r} is not a partition "
                        f"column of {key!r} (has {parts})"
                    )
                want[col] = val.strip().strip("'\"")
            rels = [
                r
                for r in rels
                if all(
                    f"{c}={v}" in r.split("/")
                    for c, v in want.items()
                )
            ]
        return local_frame(
            self.spark, [(r,) for r in rels], "partition string"
        )

    def _run_alter_partition(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE t ADD|DROP [IF [NOT] EXISTS] PARTITION (p=v) —
        directory create/remove (the metastore add/drop partition calls,
        exec/DDLTask.java). DROP reports the removed row count; an empty
        ADDed partition is invisible to parquet listing until data lands
        (documented divergence from a metastore catalog)."""
        import shutil

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        key = self._resolve_dml_table(m.group(1), mutating=True)
        action = m.group(2).upper()
        guarded = bool(m.group(3))
        path = self.table_paths[key]
        # Hive's grammar accepts SEVERAL PARTITION (...) specs in one
        # ADD/DROP (add_part_exist.q: ADD IF NOT EXISTS PARTITION (a)
        # PARTITION (b) PARTITION (c))
        specs = [
            sm.group(1)
            for sm in _ALTER_PARTITION_SPEC.finditer(m.group(4))
        ]
        n = 0
        for spec in specs:
            dest = os.path.join(
                path, self._static_partition_reldir(key, spec)
            )
            exists = os.path.isdir(dest)
            if action == "ADD":
                if exists and not guarded:
                    raise HiveQLUnsupportedError(
                        f"partition already exists: {dest} "
                        "(use IF NOT EXISTS)"
                    )
                os.makedirs(dest, exist_ok=True)
            else:
                if not exists and not guarded:
                    raise HiveQLUnsupportedError(
                        f"no such partition: {dest} (use IF EXISTS)"
                    )
                if exists:
                    n += parquet_row_count(dest, self.spark)
                    shutil.rmtree(dest)
        self.register_table(key, path, self.table_partitions.get(key))
        return self._rows_affected(n)

    def _run_concatenate(self, m: re.Match[str]) -> DataFrame:
        """ALTER TABLE t [PARTITION (...)] CONCATENATE — small-file
        compaction (OrcFileMergeOperator / ALTER TABLE CONCATENATE):
        rewrite the directory's files into max(1, ceil(bytes/128MB))
        outputs via the staged swap; row count is invariant (asserted
        from footers). At 100 TB this is the per-partition maintenance
        job that keeps scan task counts sane after streaming ingest."""
        import math
        import shutil

        from hive_2_3_2_spark.sources.writers import (
            _swap_dirs,
            parquet_row_count,
        )

        key = self._resolve_dml_table(m.group(1), mutating=True)
        fmt = "parquet"
        if m.group(2):
            rel = self._static_partition_reldir(key, m.group(2))
            # a partition compacts under ITS OWN storage descriptor
            # (Hive's merge task binds the partition SD; orc_merge*.q)
            fmt = self.partition_formats.get(key, {}).get(rel, "parquet")
            dest = os.path.join(self.table_paths[key], rel)
        else:
            self._assert_not_mixed(key, "CONCATENATE")
            dest = self.table_paths[key]
        path = self.table_paths[key]
        src, opts = self._MIXED_FORMAT_SOURCES[fmt]

        def _reader():
            rdr = self.spark.read
            if fmt != "parquet":
                from pyspark.sql.types import StructType

                declared = self.table_schemas.get(key)
                if declared is not None:
                    parts_l = {
                        p.lower()
                        for p in self.table_partitions.get(key, [])
                    }
                    rdr = rdr.schema(StructType([
                        f for f in declared.fields
                        if f.name.lower() not in parts_l
                    ]))
                for k, v in opts.items():
                    rdr = rdr.option(k, v)
            return rdr.format(src)

        def _count(d):
            if fmt == "parquet":
                return parquet_row_count(d, self.spark)
            return _reader().load(d).count()

        before = _count(dest)
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(dest)
            for f in fs
            if not f.startswith(("_", "."))
        )
        n_files = max(1, math.ceil(size / (128 * 1024 * 1024)))
        df = _reader().load(dest)
        staging = f"{dest.rstrip('/')}__concat_staging"
        shutil.rmtree(staging, ignore_errors=True)
        w = df.coalesce(n_files).write
        from hive_2_3_2_spark.sources.writers import _format_writer

        _format_writer(w, fmt).save(staging)
        if _count(staging) != before:
            shutil.rmtree(staging)
            raise RuntimeError(
                "CONCATENATE row-count mismatch — aborted before swap"
            )
        _swap_dirs(dest, staging)
        self.register_table(key, path, self.table_partitions.get(key))
        return self._rows_affected(before)

    def _run_multi_insert(self, from_clause: str, inserts: str) -> DataFrame:
        """Hive multi-insert: ``FROM src INSERT ... SELECT cols [WHERE]
        INSERT ... SELECT cols [WHERE] ...`` — each branch's select list
        is re-attached to the shared FROM clause and routed through the
        single-INSERT path. Returns one (target_table, rows_affected)
        row per sink.

        One-scan rule (Hive's MapOperator fans ONE mapper out to all
        sinks — parse/SemanticAnalyzer.java multi-QB): each branch is a
        separate Spark write job, so for a simple FROM (one table, no
        joins) the source is persisted MEMORY_AND_DISK for the duration
        — branch 2..N read the materialized source, not the parquet
        scan again. At 100 TB the persist spills to local disk, still
        one pass over the remote data instead of N. A complex FROM
        (joins/subqueries) falls back to per-branch plans, where
        Spark's scan/exchange reuse applies within each job."""
        segments = [
            s.strip() for s in _MULTI_INSERT_SPLIT.split(inserts) if s.strip()
        ]
        results: list[tuple[str, int]] = []
        seen_overwrite: set[tuple[str, str]] = set()
        shared_src = None
        simple = re.match(
            r"^\s*([\w.]+)(\s+(?:AS\s+)?(\w+))?\s*$", from_clause
        )
        if simple and len(segments) > 1:
            from pyspark import StorageLevel

            shared_src = self._body_df(
                f"SELECT * FROM {simple.group(1)}"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            shared_src.createOrReplaceTempView("__mi_shared_src")
            # Re-alias the shared view as the source's own name (or the
            # explicit alias) so branch selects can keep qualifying
            # columns the way Hive's multi-insert goldens do
            # (FROM src INSERT ... SELECT src.key ... GROUP BY src.key).
            alias = simple.group(3) or simple.group(1).split(".")[-1]
            from_clause = f"__mi_shared_src AS {alias}"
        try:
            self._multi_insert_branches(
                segments, from_clause, seen_overwrite, results
            )
        finally:
            if shared_src is not None:
                shared_src.unpersist()
                self.spark.catalog.dropTempView("__mi_shared_src")
        return local_frame(
            self.spark, results, "target_table string, rows_affected bigint"
        )

    @staticmethod
    def _inject_from(select_part: str, from_clause: str) -> str:
        """Attach the shared FROM before the first top-level clause
        keyword (WHERE/GROUP/ORDER/...) of a branch select. LATERAL
        included: a branch's own LATERAL VIEW attaches AFTER the
        shared FROM (multi_insert_lateral_view.q — SELECT k, C LATERAL
        VIEW explode(...) A AS C expands to SELECT k, C FROM src
        LATERAL VIEW ...)."""
        depth, cut = 0, len(select_part)
        kw = re.compile(
            r"\b(WHERE|GROUP|ORDER|HAVING|LIMIT|DISTRIBUTE|SORT|"
            r"CLUSTER|LATERAL|WINDOW)\b",
            re.IGNORECASE,
        )
        for i, ch in enumerate(select_part):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                km = kw.match(select_part, i)
                if km and i > 0 and select_part[i - 1].isspace():
                    cut = i
                    break
        return (
            f"{select_part[:cut].rstrip()} FROM {from_clause} "
            f"{select_part[cut:]}"
        )

    def _multi_insert_branches(
        self,
        segments: list[str],
        from_clause: str,
        seen_overwrite: set[tuple[str, str]],
        results: list[tuple[str, int]],
    ) -> None:
        for seg in segments:
            dm = re.match(
                r"^(INSERT\s+OVERWRITE\s+(?:LOCAL\s+)?DIRECTORY\s+.*?)"
                r"\s+(SELECT\b.*)$",
                seg,
                re.IGNORECASE | re.DOTALL,
            )
            if dm:
                # directory sink branch (ppd_multi_insert.q's 4th sink)
                # — reuse the standalone handler on the rebuilt
                # statement
                full = (
                    f"{dm.group(1)} "
                    f"{self._inject_from(dm.group(2), from_clause)}"
                )
                im = _INSERT_DIRECTORY_STMT.match(full)
                if not im:
                    raise HiveQLUnsupportedError(
                        f"unparseable multi-insert DIRECTORY branch: "
                        f"{seg[:80]!r}"
                    )
                n = self._run_insert_directory(im).collect()[0][0]
                results.append((f"directory:{im.group(2)}", int(n)))
                continue
            sm = re.match(
                r"^(INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?[\w.]+"
                r"(?:\s+PARTITION\s*\([^)]*\))?)\s+(SELECT\b.*)$",
                seg,
                re.IGNORECASE | re.DOTALL,
            )
            if not sm:
                raise HiveQLUnsupportedError(
                    f"unparseable multi-insert branch: {seg[:80]!r}"
                )
            head, select_part = sm.group(1), sm.group(2)
            body = self._inject_from(select_part, from_clause)
            im = _INSERT_STMT.match(f"{head} {body}")
            if not im:
                raise HiveQLUnsupportedError(
                    f"unparseable multi-insert head: {head!r}"
                )
            if im.group(1).upper() == "OVERWRITE":
                # Hive rejects the same table/partition appearing twice
                # as an OVERWRITE sink (clientnegative
                # duplicate_insert1.q/duplicate_insert2.q) — the second
                # branch would silently clobber the first.
                sink = (
                    im.group(2).split(".")[-1].lower(),
                    "".join((im.group(3) or "").lower().split()),
                )
                if sink in seen_overwrite:
                    raise HiveQLUnsupportedError(
                        f"multi-insert names the same OVERWRITE sink "
                        f"twice: {im.group(2)!r} (Hive duplicate-insert "
                        "rule)"
                    )
                seen_overwrite.add(sink)
            tgt = im.group(2)
            if not self._local_sink(tgt):
                raise HiveQLUnsupportedError(
                    f"multi-insert branch target {tgt!r} is not writable "
                    "here (unknown table) — register the table with the "
                    "Engine or use a standalone INSERT statement"
                )
            n = self._run_insert_sink(im).collect()[0].rows_affected
            results.append((tgt.split(".")[-1].lower(), n))

    def _run_load_data(self, m: re.Match[str]) -> DataFrame:
        """``LOAD DATA INPATH`` — a pure file MOVE into the table (or
        static partition) directory, exactly the reference's MoveTask
        semantics (exec/MoveTask.java: no rewrite, no validation beyond
        schema-on-read; OVERWRITE clears the destination first). The
        row count comes from parquet footers (metadata, no scan)."""
        import shutil
        import uuid

        from hive_2_3_2_spark.sources.writers import parquet_row_count

        src, overwrite, table, partspec = (
            m.group(1),
            bool(m.group(2)),
            m.group(3),
            m.group(4),
        )
        key = self._resolve_dml_table(table, mutating=True)
        self._assert_not_mixed(key, "LOAD DATA")
        path = self.table_paths[key]
        parts = self.table_partitions.get(key)
        if parts and not partspec:
            raise HiveQLUnsupportedError(
                f"LOAD DATA into partitioned table {key!r} requires a "
                "static PARTITION spec (Hive rule; moving files into the "
                "table root would produce a mixed-depth layout that "
                "breaks partition discovery)"
            )
        static, dynamic = _parse_partition_spec(partspec or "")
        if dynamic or (partspec and not parts):
            raise HiveQLUnsupportedError(
                "LOAD DATA PARTITION requires static values for a "
                "partitioned table (files are moved, not read — dynamic "
                "partition values would need a scan; use INSERT instead)"
            )
        dest = path
        for p in parts or []:
            if static and p not in static:
                raise HiveQLUnsupportedError(
                    f"LOAD DATA PARTITION spec missing partition column {p!r}"
                )
        if static:
            rels = [
                f"{p}={static[p].strip(chr(39))}" for p in (parts or [])
            ]
            dest = os.path.join(path, *rels)
        if not os.path.exists(src):
            # load_nonexistent path (Hive: "No files matching path")
            raise HiveQLUnsupportedError(
                f"LOAD DATA INPATH: no files matching path {src!r}"
            )
        files = (
            [src]
            if os.path.isfile(src)
            else [
                os.path.join(src, f)
                for f in sorted(os.listdir(src))
                if f.endswith(".parquet")
            ]
        )
        from hive_2_3_2_spark.sources.writers import ensure_dir_table

        try:
            n = sum(parquet_row_count(f, self.spark) for f in files)
        except Exception as exc:
            # load_wrong_fileformat.q parity: LOAD moves files without a
            # rewrite, so a non-parquet payload would poison the table —
            # reject it typed up front (Hive: "Wrong file format").
            raise HiveQLUnsupportedError(
                f"LOAD DATA INPATH: wrong file format under {src!r} "
                "(target table stores parquet; LOAD moves files without "
                f"conversion): {exc}"
            ) from exc
        if overwrite:
            if os.path.isdir(dest):
                shutil.rmtree(dest)
            elif os.path.exists(dest):
                os.remove(dest)
        else:
            ensure_dir_table(dest)
        os.makedirs(dest, exist_ok=True)
        for f in files:
            base = os.path.basename(f)
            tgt = os.path.join(dest, base)
            if os.path.exists(tgt):
                tgt = os.path.join(dest, f"{uuid.uuid4().hex[:8]}_{base}")
            shutil.move(f, tgt)
        self.register_table(key, path, parts)
        return self._rows_affected(n)

    def _run_insert(self, m: re.Match[str]) -> DataFrame:
        """INSERT INTO|OVERWRITE [TABLE] t [PARTITION(...)] [(cols)] body.

        Reference: parse/SemanticAnalyzer.java INSERT analysis +
        exec/MoveTask.java finalization. Hive column mapping is
        POSITIONAL: the select supplies the data columns in table order,
        then any dynamic partition columns (static PARTITION values are
        constants added here); an explicit column list maps by name with
        unnamed columns NULL. Everything is cast to the target column
        types (Hive-permissive implicit casts)."""
        from pyspark.sql import functions as F

        from hive_2_3_2_spark.sources.writers import insert_rows

        overwrite = m.group(1).upper() == "OVERWRITE"
        key = self._resolve_dml_table(m.group(2), mutating=True)
        static, dynamic = _parse_partition_spec(m.group(3) or "")
        col_list = (
            [c.strip() for c in m.group(4).split(",")] if m.group(4) else None
        )
        body = m.group(5).rstrip().rstrip(";")
        path = self.table_paths[key]
        parts = self.table_partitions.get(key, [])
        target = self._target_frame(key)
        fields = {f.name: f.dataType for f in target.schema.fields}
        sfields = {f.name: f for f in target.schema.fields}

        # HiveQL partition spec NAMES resolve case-insensitively
        # (loadpart1.q inserts with pCol1= into a pcol1 partition);
        # normalize to the declared casing before validating
        parts_by_lower = {p.lower(): p for p in parts}
        static = {
            parts_by_lower.get(c.lower(), c): v for c, v in static.items()
        }
        dynamic = [parts_by_lower.get(c.lower(), c) for c in dynamic]
        bad = [p for p in list(static) + dynamic if p not in parts]
        if bad:
            raise HiveQLUnsupportedError(
                f"PARTITION spec names non-partition column(s) {bad} "
                f"(table {key!r} is partitioned by {parts or 'nothing'})"
            )
        src = self._body_df(body)
        # Positional mapping references source columns by name — rename
        # them first so auto-generated names with dots (a literal 1.5
        # yields a column literally named "1.5", which F.col would parse
        # as `1`.`5`) can't break resolution.
        src = src.toDF(*[f"__src_c{i}" for i in range(len(src.columns))])
        if col_list:
            # A FULLY-STATIC partition spec composes with a column
            # list (insert_into_with_schema.q: PARTITION (ds='..', i=1)
            # (userid, link) — HIVE-9481's schema-insert grammar); the
            # list names DATA columns, the spec supplies the partition
            # values. Dynamic/partial specs with a column list stay
            # refused.
            if dynamic or (static and set(static) != set(parts)):
                raise HiveQLUnsupportedError(
                    "INSERT with a DYNAMIC/partial PARTITION spec and "
                    "an explicit column list is not supported — use a "
                    "fully-static spec or positional columns"
                )
            in_parts = [c for c in col_list if c in parts]
            if static and in_parts:
                raise HiveQLUnsupportedError(
                    f"INSERT column list names partition column(s) "
                    f"{in_parts} already bound by the PARTITION spec"
                )
            unknown = [c for c in col_list if c not in fields]
            if unknown:
                raise HiveQLUnsupportedError(
                    f"INSERT column list names unknown column(s) {unknown}"
                )
            if len(src.columns) != len(col_list):
                raise HiveQLUnsupportedError(
                    f"INSERT column list has {len(col_list)} columns but "
                    f"the query supplies {len(src.columns)}"
                )
            by_name = {
                name: _store_cast(F.col(src.columns[i]), sfields[name])
                for i, name in enumerate(col_list)
            }
            aligned = src.select(
                *[
                    by_name.get(c, F.lit(None).cast(fields[c])).alias(c)
                    for c in target.columns
                ]
            )
            for name, lit_sql in static.items():
                aligned = aligned.withColumn(
                    name, F.expr(lit_sql).cast(fields[name])
                )
            aligned = aligned.select(*target.columns)
        else:
            dyn = dynamic or [p for p in parts if p not in static]
            expected = [c for c in target.columns if c not in parts] + dyn
            if len(src.columns) != len(expected):
                raise HiveQLUnsupportedError(
                    f"INSERT expects {len(expected)} columns "
                    f"({', '.join(expected)}) but the query supplies "
                    f"{len(src.columns)}"
                )
            aligned = src.select(
                *[
                    _store_cast(F.col(src.columns[i]), sfields[name])
                    .alias(name)
                    for i, name in enumerate(expected)
                ]
            )
            for name, lit_sql in static.items():
                aligned = aligned.withColumn(
                    name, F.expr(lit_sql).cast(fields[name])
                )
            aligned = aligned.select(*target.columns)
        static_values = None
        fully_static = bool(
            parts and not dynamic and set(static) == set(parts)
        )
        static_rel = None
        if fully_static:
            # Fully static spec: pre-resolve the literal partition tuple
            # so the named partition is swapped (= cleared) even when
            # the SELECT returns zero rows (Hive semantics) — and so the
            # autogather hook knows WHICH partition dir it just wrote.
            # Over a VALUES row (a LocalRelation) ConvertToLocalRelation
            # folds the casts on the driver: no job, unlike the
            # one-task job a FROM-less SELECT costs.
            row = self.spark.sql(
                "SELECT "
                + ", ".join(
                    f"CAST({static[p]} AS {fields[p].simpleString()})"
                    for p in parts
                )
                + " FROM VALUES (0)"
            ).first()
            if overwrite:
                static_values = [tuple(row)]
            from hive_2_3_2_spark.sources.writers import _partition_rel_dir

            static_rel = _partition_rel_dir(parts, tuple(row))
        # Per-partition storage descriptors (partition_wise_fileformat*
        # .q): new partitions and OVERWRITEs adopt the TABLE's current
        # format; an append into an existing partition keeps the
        # PARTITION's own descriptor (its files must stay homogeneous).
        fmt = self.table_format.get(key, "parquet")
        pmap = self.partition_formats.get(key, {})
        if parts and (fmt != "parquet" or pmap):
            if fully_static and not overwrite:
                pdir = os.path.join(path, static_rel)
                if os.path.isdir(pdir) and any(
                    f for _r, _d, fs in os.walk(pdir) for f in fs
                    if not f.startswith(("_", "."))
                ):
                    fmt = pmap.get(static_rel, "parquet")
            elif not fully_static and not overwrite:
                clash = [
                    r for r in self._partition_rels(key)
                    if pmap.get(r, "parquet") != fmt
                ]
                if clash:
                    raise HiveQLUnsupportedError(
                        f"dynamic INSERT INTO {key}: existing "
                        f"partition(s) {clash[:3]} hold a different "
                        f"format than the table's current {fmt!r}; an "
                        "append could mix formats inside one partition "
                        "directory — use INSERT OVERWRITE (adopts the "
                        "table format) or static specs"
                    )
        auto = self._stats_autogather_on()
        if fmt != "parquet" or pmap:
            # mixed/non-parquet writes don't stage parquet footers —
            # stats would be partial; leave autogather to ANALYZE
            auto = False
        snap = self._prewrite_stats_snapshot(key) if auto else {}
        part_counts: dict[str, int] | None = (
            {} if auto and parts else None
        )
        pre_rels: set[str] | None = None
        if auto and parts and not overwrite:
            pre_rels = set(self._partition_rels(key))
        # hive.stats.column.autogather (HiveConf.java:1657, default
        # FALSE like Hive 2.3): when SET, an unpartitioned OVERWRITE
        # gathers column stats RIDING the write — one extra observe on
        # the same job, zero extra scan (Hive computes these in the
        # FileSink's side aggregation). Appends would need mergeable
        # NDV sketches (Hive merges bitvectors) — out of scope, the
        # write simply leaves column stats un-gathered.
        colobs = None
        if auto and overwrite and not parts and self._col_autogather_on():
            from pyspark.sql import Observation

            colobs = Observation()
            aligned = aligned.observe(
                colobs, *self._col_stats_aggs(sfields, list(fields))
            )
        written: set[str] = set()
        n = insert_rows(
            self.spark,
            path,
            aligned,
            parts or None,
            overwrite=overwrite,
            static_partition_values=static_values,
            partition_counts=part_counts,
            fmt=fmt,
            written_rels=written,
        )
        if parts and (fmt != "parquet" or pmap):
            pm = self.partition_formats.setdefault(key, {})
            for r in written:
                if fmt == "parquet":
                    pm.pop(r, None)
                else:
                    pm[r] = fmt
            if not pm:
                self.partition_formats.pop(key, None)
        self.register_table(key, path, parts or None)
        if auto:
            self._autogather_insert_stats(
                key, n, overwrite, part_counts, pre_rels, snap
            )
        if colobs is not None and key in self.basic_stats:
            row = colobs.get
            stats = self.column_stats.setdefault(key, {})
            for c in fields:
                stats[c] = {
                    "data_type": sfields[c].dataType.simpleString(),
                    "num_nulls": int(row.get(f"{c}__nulls") or 0),
                    "distinct_count": int(row.get(f"{c}__ndv") or 0),
                    "min": row.get(f"{c}__min"),
                    "max": row.get(f"{c}__max"),
                    "avg_col_len": row.get(f"{c}__avglen"),
                    "max_col_len": row.get(f"{c}__maxlen"),
                }
            self.column_stats_fp[key] = self.basic_stats[key]["fp"]
        return self._rows_affected(n)

    def _is_catalog_table(self, name: str) -> bool:
        """True for a real session-catalog TABLE (not a temp view) —
        the targets Hive's positional-cast INSERT alignment applies to."""
        try:
            if not self.spark.catalog.tableExists(name):
                return False
            t = self.spark.catalog.getTable(name)
            return (t.tableType or "").upper() not in ("TEMPORARY", "VIEW")
        except Exception:
            return False

    def _run_insert_catalog(self, m: re.Match[str]) -> DataFrame:
        """INSERT INTO|OVERWRITE a session-catalog table (e.g. one this
        Engine created via the STORED AS rewrite) with HIVE column
        mapping: positional, cast to the target column types
        (FunctionRegistry implicit conversions — string→int inserts work
        like Hive instead of failing Spark's safe-cast store-assignment
        check). Explicit column lists map by name with unnamed columns
        NULL. The row count rides the write as an observed metric."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        overwrite = m.group(1).upper() == "OVERWRITE"
        name = m.group(2)
        part_txt = m.group(3)
        col_list = (
            [c.strip() for c in m.group(4).split(",")] if m.group(4) else None
        )
        body = m.group(5).rstrip().rstrip(";")
        target = self.spark.table(name)
        fields = {f.name: f.dataType for f in target.schema.fields}
        sfields = {f.name: f for f in target.schema.fields}
        by_lower = {n.lower(): n for n in fields}
        src = self._body_df(body)
        src = src.toDF(*[f"__src_c{i}" for i in range(len(src.columns))])
        if part_txt:
            return self._insert_catalog_partitioned(
                name, target, sfields, part_txt, src, overwrite, col_list
            )
        if col_list:
            unknown = [c for c in col_list if c.lower() not in by_lower]
            if unknown:
                raise HiveQLUnsupportedError(
                    f"INSERT column list names unknown column(s) {unknown}"
                )
            col_list = [by_lower[c.lower()] for c in col_list]
            if len(src.columns) != len(col_list):
                raise HiveQLUnsupportedError(
                    f"INSERT column list has {len(col_list)} columns but "
                    f"the query supplies {len(src.columns)}"
                )
            by_name = {
                name_: _store_cast(F.col(src.columns[i]), sfields[name_])
                for i, name_ in enumerate(col_list)
            }
            aligned = src.select(
                *[
                    by_name.get(c, F.lit(None).cast(fields[c])).alias(c)
                    for c in target.columns
                ]
            )
        else:
            if len(src.columns) != len(target.columns):
                raise HiveQLUnsupportedError(
                    f"INSERT expects {len(target.columns)} columns "
                    f"({', '.join(target.columns)}) but the query supplies "
                    f"{len(src.columns)}"
                )
            aligned = src.select(
                *[
                    _store_cast(F.col(src.columns[i]), sfields[c]).alias(c)
                    for i, c in enumerate(target.columns)
                ]
            )
        obs = Observation()
        aligned = aligned.observe(obs, F.count(F.lit(1)).alias("__n"))
        aligned.write.insertInto(name, overwrite=overwrite)
        return self._rows_affected(_obs_count_w(obs))

    def _insert_catalog_partitioned(
        self, name, target, sfields, part_txt, src, overwrite, col_list
    ) -> DataFrame:
        """INSERT [OVERWRITE] INTO a partitioned catalog table with a
        PARTITION spec — static, dynamic, or Hive's mixed form
        (load_dyn_part1.q: ``partition (ds='2008-12-31', hr)``). The
        SELECT supplies the data columns then the DYNAMIC partition
        values, positionally with Hive's implicit casts; static values
        come from the spec. OVERWRITE follows Hive's partition
        semantics: a static-only spec clears exactly that partition
        (even when the select is empty — MoveTask replaces the
        directory), a dynamic spec replaces only the partitions the
        output touches (partitionOverwriteMode=dynamic)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        static, dynamic = _parse_partition_spec(part_txt)
        part_cols = [
            c.name
            for c in self.spark.catalog.listColumns(name)
            if c.isPartition
        ]
        part_lower = {c.lower(): c for c in part_cols}
        spec_named = [k for k in static] + dynamic
        if sorted(k.lower() for k in spec_named) != sorted(
            c.lower() for c in part_cols
        ):
            raise HiveQLUnsupportedError(
                f"PARTITION spec ({part_txt}) does not name exactly the "
                f"partition columns of {name} ({', '.join(part_cols)})"
            )
        static = {part_lower[k.lower()]: v for k, v in static.items()}
        dynamic = [part_lower[d.lower()] for d in dynamic]
        part_set = {c.lower() for c in part_cols}
        data_cols = [
            c for c in target.columns if c.lower() not in part_set
        ]
        expected = (len(col_list) if col_list
                    else len(data_cols) + len(dynamic))
        if len(src.columns) != expected:
            raise HiveQLUnsupportedError(
                f"INSERT into {name} PARTITION ({part_txt}) expects "
                f"{expected} columns but the query supplies "
                f"{len(src.columns)}"
            )
        exprs: dict[str, object] = {}
        if col_list:
            # PARTITION spec + column list (HIVE-9481,
            # insert_into_with_schema.q): the list names DATA columns
            # and DYNAMIC partition columns by name, in any order;
            # unnamed columns are NULL (a NULL dynamic value lands in
            # __HIVE_DEFAULT_PARTITION__, same as Hive); static
            # partition values come from the spec only.
            addressable = {c.lower(): c for c in data_cols}
            addressable.update({c.lower(): c for c in dynamic})
            for i, c in enumerate(col_list):
                tc = addressable.get(c.lower())
                if tc is None:
                    raise HiveQLUnsupportedError(
                        f"INSERT column list names {c!r}, which is "
                        f"neither a data column nor a dynamic "
                        f"partition column of {name} (static-bound "
                        "partition columns can't be listed)"
                    )
                exprs[tc] = _store_cast(
                    F.col(src.columns[i]), sfields[tc]
                )
            for c in list(data_cols) + list(dynamic):
                if c not in exprs:
                    exprs[c] = F.lit(None).cast(sfields[c].dataType)
        else:
            for i, c in enumerate(data_cols):
                exprs[c] = _store_cast(F.col(src.columns[i]), sfields[c])
            for j, c in enumerate(dynamic):
                exprs[c] = _store_cast(
                    F.col(src.columns[len(data_cols) + j]), sfields[c]
                )
        for c, lit in static.items():
            exprs[c] = _store_cast(F.expr(lit), sfields[c])
        aligned = src.select(
            *[exprs[c].alias(c) for c in target.columns]
        )
        obs = Observation()
        aligned = aligned.observe(obs, F.count(F.lit(1)).alias("__n"))
        if overwrite and not dynamic:
            # static-only OVERWRITE: Hive stages the query output to
            # scratch and MoveTask swaps the partition directory only on
            # success — dropping the partition BEFORE the query runs
            # would lose the existing data if the query fails mid-way.
            # Dynamic-partition-overwrite gives the same staged-commit
            # contract here (the static values are literal columns, so
            # exactly the one target partition is replaced, and only
            # after the job commits). A cleanly-evaluated EMPTY source
            # touches no partition under dynamic mode, so the replace-
            # with-empty semantics is applied as a post-success
            # TRUNCATE PARTITION — Hive's MoveTask replaces the
            # directory CONTENTS and keeps the partition registered, so
            # SHOW PARTITIONS must still list it (r7 ADVICE; a DROP
            # here lost the metadata too).
            conf = "spark.sql.sources.partitionOverwriteMode"
            prev = self.spark.conf.get(conf, "static")
            self.spark.conf.set(conf, "dynamic")
            try:
                aligned.write.insertInto(name, overwrite=True)
            finally:
                self.spark.conf.set(conf, prev)
            if _obs_count_w(obs) == 0:
                # Hive registers the static target partition even for a
                # zero-row insert — ADD covers the never-existed case,
                # TRUNCATE empties a pre-existing one.
                self.spark.sql(
                    f"ALTER TABLE {name} ADD IF NOT EXISTS "
                    f"PARTITION ({part_txt})"
                )
                self.spark.sql(
                    f"TRUNCATE TABLE {name} PARTITION ({part_txt})"
                )
            return self._rows_affected(_obs_count_w(obs))
        elif overwrite:
            conf = "spark.sql.sources.partitionOverwriteMode"
            prev = self.spark.conf.get(conf, "static")
            self.spark.conf.set(conf, "dynamic")
            try:
                aligned.write.insertInto(name, overwrite=True)
            finally:
                self.spark.conf.set(conf, prev)
        else:
            aligned.write.insertInto(name, overwrite=False)
        return self._rows_affected(_obs_count_w(obs))

    def _run_merge(self, m: re.Match[str]) -> DataFrame:
        """MERGE statement with Hive's full clause surface (reference:
        parse/UpdateDeleteSemanticAnalyzer.java:86): up to TWO WHEN
        MATCHED clauses (one UPDATE + one DELETE, first-match-wins; with
        two, the first MUST carry an AND condition — Hive's rule, since
        an unconditional first clause would shadow the second) plus at
        most one WHEN NOT MATCHED THEN INSERT. Anything richer raises
        HiveQLUnsupportedError — explicitly, not silently-wrong."""
        from pyspark.sql import functions as F

        from hive_2_3_2_spark.sources.writers import merge_apply

        key = self._resolve_dml_table(m.group(1), mutating=True)
        self._assert_not_mixed(key, "MERGE")
        talias = m.group(2) or key
        src_spec, salias = m.group(3), m.group(4)
        on_cond, when_part = m.group(5), m.group(6)
        path = self.table_paths[key]
        parts = self.table_partitions.get(key)
        target_cols = self._target_frame(key).columns

        if src_spec.startswith("("):
            if not salias:
                raise HiveQLUnsupportedError(
                    "MERGE USING (subquery) requires an alias"
                )
            source = self._body_df(src_spec[1:-1])
        else:
            source = self.spark.table(src_spec)
            salias = salias or src_spec.split(".")[-1]

        key_pairs: list[tuple[str, str]] = []
        for part in re.split(r"\s+AND\s+", on_cond.strip(), flags=re.IGNORECASE):
            eq = _MERGE_ON_EQ.match(part)
            if not eq:
                raise HiveQLUnsupportedError(
                    f"MERGE ON must be a conjunction of alias.col = "
                    f"alias.col equalities (got {part.strip()!r}) — the "
                    "reference executes only equi-join merges "
                    "(optimizer/physical/CrossProductCheck.java)"
                )
            a1, c1, a2, c2 = eq.groups()
            if a1.lower() == talias.lower() and a2.lower() == salias.lower():
                key_pairs.append((c1, c2))
            elif a1.lower() == salias.lower() and a2.lower() == talias.lower():
                key_pairs.append((c2, c1))
            else:
                raise HiveQLUnsupportedError(
                    f"MERGE ON references unknown alias in {part.strip()!r} "
                    f"(target alias {talias!r}, source alias {salias!r})"
                )

        matched_actions: list = []
        insert_values = None
        insert_condition = None
        for not_kw, and_cond, action in _split_when_clauses(when_part):
            cond = F.expr(and_cond) if and_cond else None
            if not_kw:
                ins = _MERGE_INSERT.match(action)
                if not ins or insert_values is not None:
                    raise HiveQLUnsupportedError(
                        "WHEN NOT MATCHED supports a single INSERT "
                        "[(cols)] VALUES (...) clause"
                    )
                cols = (
                    [c.strip() for c in ins.group(1).split(",")]
                    if ins.group(1)
                    else list(target_cols)
                )
                exprs = [e.strip() for e in _split_top_commas(ins.group(2))]
                if len(cols) != len(exprs):
                    raise HiveQLUnsupportedError(
                        f"INSERT names {len(cols)} columns but VALUES "
                        f"supplies {len(exprs)}"
                    )
                insert_values = {
                    c: F.expr(e) for c, e in zip(cols, exprs)
                }
                insert_condition = cond
            else:
                if len(matched_actions) == 2:
                    raise HiveQLUnsupportedError(
                        "MERGE allows at most 2 WHEN MATCHED clauses "
                        "(one UPDATE + one DELETE — "
                        "UpdateDeleteSemanticAnalyzer rule)"
                    )
                if action.upper() == "DELETE":
                    if any(k == "delete" for k, _s, _c in matched_actions):
                        raise HiveQLUnsupportedError(
                            "MERGE allows at most one WHEN MATCHED "
                            "DELETE clause"
                        )
                    matched_actions.append(("delete", None, cond))
                elif action.upper().startswith("UPDATE"):
                    if any(k == "update" for k, _s, _c in matched_actions):
                        raise HiveQLUnsupportedError(
                            "MERGE allows at most one WHEN MATCHED "
                            "UPDATE clause"
                        )
                    sets = {}
                    for col, expr in _split_assignments(
                        re.sub(r"^UPDATE\s+SET\s+", "", action, flags=re.I)
                    ):
                        bare = col.split(".")[-1]
                        if parts and bare in parts:
                            raise HiveQLUnsupportedError(
                                f"MERGE may not UPDATE partition column "
                                f"{bare!r} (Hive rule: moving rows between "
                                "partitions is delete+insert)"
                            )
                        sets[bare] = F.expr(expr)
                    matched_actions.append(("update", sets, cond))
                else:
                    raise HiveQLUnsupportedError(
                        f"unsupported WHEN MATCHED action: {action!r}"
                    )
        if len(matched_actions) == 2 and matched_actions[0][2] is None:
            raise HiveQLUnsupportedError(
                "with two WHEN MATCHED clauses the FIRST must have an "
                "AND <condition> (Hive rule — an unconditional first "
                "clause would shadow the second)"
            )
        affected = merge_apply(
            self.spark,
            path,
            source,
            talias,
            salias,
            key_pairs,
            matched_actions,
            insert_values,
            insert_condition,
            parts,
            schema=self._declared_schema(key),
        )
        self.register_table(key, path, parts)
        return self._rows_affected(affected)

    def run_script(
        self,
        script: str,
        eager: bool = True,
        variables: dict[str, str] | None = None,
    ) -> list[DataFrame]:
        """Run a multi-statement SQL script — statements split on
        top-level semicolons with ``--`` comments stripped (CliDriver
        processLine parity, cli/.../CliDriver.java:342). Statements
        execute in order (DML takes effect immediately).

        ``variables`` substitutes ``${hiveconf:name}`` / ``${name}``
        placeholders before execution (VariableSubstitution parity —
        the reference's own q_test_init.sql uses
        ``${hiveconf:test.data.dir}``); an unbound placeholder is a
        typed error rather than silently running with the literal text.

        By default each statement's result is MATERIALIZED before the
        next statement runs — exactly what the CLI does (it prints every
        result set as it goes). A lazy frame would otherwise re-read
        table files a later DML statement has already rewritten
        (stale-scan FILE_NOT_EXIST at collect time). Pass
        ``eager=False`` to keep the raw lazy frames when the script has
        no such read-after-write hazard and a result is too large to
        hold locally."""
        if variables is not None:
            # hive --hivevar/--hiveconf parity: CLI-passed variables
            # become session state, visible to every statement AND to
            # later SET reads; substitution itself happens per statement
            # inside sql() so a SET in the script binds from the next
            # statement on (VariableSubstitution runs per command).
            self.hiveconf.update(variables)
        out: list[DataFrame] = []
        for stmt in _split_statements(script):
            df = self.sql(stmt)
            if eager:
                df = self._materialize(df)
            out.append(df)
        return out

    def _materialize(self, df: DataFrame) -> DataFrame:
        """Buffer a statement's result driver-side (CLI/HS2 parity),
        guarded by ``hive.materialize.max.rows`` (default 1,000,000;
        settable via SET / hiveconf). The guard never fetches more than
        cap+1 rows, so a runaway SELECT fails with a typed error instead
        of materializing an executor-scale result on the driver — the
        escape hatch for genuinely large results is ``eager=False``
        (keep the distributed frame and write it out, don't fetch it)."""
        cap = int(self.hiveconf.get("hive.materialize.max.rows", "1000000"))
        rows = df.limit(cap + 1).collect()
        if len(rows) > cap:
            raise HiveQLUnsupportedError(
                f"result exceeds hive.materialize.max.rows={cap}: "
                "run_script/sql_async buffer each statement's rows on the "
                "driver (CLI/HS2 semantics); raise the cap via SET "
                "hive.materialize.max.rows, or pass eager=False and keep "
                "the result distributed"
            )
        return local_frame(self.spark, rows, df.schema)

    _NOAS_TRANSFORM_SUBQ = re.compile(
        r"\(\s*FROM\s+([\w.]+)\s+SELECT\s+TRANSFORM\s*\(",
        re.IGNORECASE,
    )

    def _rewrite_noas_transform_subqueries(self, query: str) -> str:
        """``( FROM t SELECT TRANSFORM(exprs) USING 'cmd' [layout-BY] )``
        subqueries WITHOUT an AS clause — Hive's default output schema
        is (key, value) with serialization.last.column.takes.rest
        (genScriptPlan SemanticAnalyzer.java:3843-3874,
        PlanUtils.java:257): value carries the REMAINDER of the output
        line, embedded tabs included. Spark's native script transform
        truncates value to the second field (input38.q's
        '0\\tval_0\\t3\\t7' would lose '3\\t7'), so these evaluate
        through the per-partition subprocess operator and splice back
        as temp views. A trailing CLUSTER/SORT/DISTRIBUTE BY is a
        reduce-distribution directive (no result-set semantics) and
        drops with the subquery."""
        from hive_2_3_2_spark.operators.transform import (
            transform_script_partial,
        )

        pos = 0
        while True:
            m = self._NOAS_TRANSFORM_SUBQ.search(query, pos)
            if m is None:
                return query
            open_idx = query.rindex("(", m.start(), m.end())
            close = _scan_balanced(query, open_idx)
            if close >= len(query):
                return query
            args = query[open_idx + 1:close]
            rest = query[close + 1:]
            um = re.match(
                r"(?is)^\s*using\s+'([^']+)'\s*"
                r"((?:CLUSTER|SORT|DISTRIBUTE)\s+BY\s+[\w.`\s,]*?)?"
                r"\s*\)",
                rest,
            )
            if um is None:  # AS clause or unexpected tail → native
                pos = close
                continue
            df = transform_script_partial(
                self._body_df(f"SELECT {args} FROM {m.group(1)}"),
                um.group(1), ["key", "value"],
                rest_of_line=True,
            )
            self._matchpath_seq = getattr(self, "_matchpath_seq", 0) + 1
            view = f"__transkv_{self._matchpath_seq}"
            df.createOrReplaceTempView(view)
            query = (
                query[:m.start()] + view
                + query[close + 1 + um.end():]
            )
            pos = m.start() + len(view)

    def _run_transform_partial(self, m: re.Match[str]) -> DataFrame:
        """TRANSFORM under hive.exec.script.allow.partial.consumption
        (reference ScriptOperator.java: an early-exiting script is not
        an error in this mode — script_pipe.q's `true` and `head -n 1`
        scripts). Input rows come from the statement's own FROM via the
        normal rewrite pipeline; the piping runs per partition on the
        executors (operators/transform.transform_script_partial)."""
        from hive_2_3_2_spark.operators.transform import (
            transform_script_partial,
        )

        cols, cmd, outs, rest = m.groups()
        rest_of_line = not outs
        if not outs:
            outs = "key, value"  # Hive's default TRANSFORM output names
        out_names = [
            part.strip().split()[0]
            for part in outs.strip().strip("()").split(",")
            if part.strip()
        ]
        src = self._body_df(
            f"SELECT {cols.strip()} FROM {rest.strip().rstrip(';')}"
        )
        return transform_script_partial(
            src, cmd, out_names, rest_of_line=rest_of_line
        )

    def _rewrite_noop_ptf_calls(self, query: str) -> str:
        """Hive's Noop family of PTFs (reference: udf/ptf/Noop.java,
        NoopWithMap.java, NoopStreaming.java — ptf.q, ptf_streaming.q):
        pass-through table functions whose partition/order (or
        distribute/sort) clause establishes the PTF input ordering.
        Row content is unchanged, and every windowing expression in the
        golden corpus carries its OWN explicit OVER spec, so the
        Spark-first translation is a plain subquery over the source —
        Catalyst then plans the real partitioning from the window specs
        (one Exchange per distinct spec, not one per noop level, which
        also drops the redundant per-chain-link shuffles Hive's PTF
        operator chain would execute at 100 TB).

        Rewrites RIGHTMOST-first so chained calls (test 12/18-23:
        ``noop(on noopwithmap(on noop(on part ...)))``) reduce from the
        innermost out. A call in FROM position with no explicit alias
        gets a generated one (the FROM-first multi-insert branch and
        older SQL dialects require aliased subqueries)."""
        n = 0
        while True:
            m = None
            for cand in _NOOP_PTF_HEAD.finditer(query):
                in_q = None
                for ch in query[:cand.start()]:
                    if in_q:
                        if ch == in_q:
                            in_q = None
                    elif ch in "'\"":
                        in_q = ch
                if in_q is None:
                    m = cand  # keep the RIGHTMOST code match
            if m is None:
                return query
            open_idx = query.index("(", m.start())
            close = _scan_balanced(query, open_idx)
            if close >= len(query):
                return query
            body = re.sub(
                r"^\s*on\b", "", query[open_idx + 1:close],
                flags=re.IGNORECASE,
            )
            # src = body up to the first TOP-LEVEL ptf clause keyword
            cut = len(body)
            for cm in _PTF_SPEC_CLAUSE.finditer(body):
                depth = 0
                for ch in body[:cm.start()]:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                if depth == 0:
                    cut = cm.start()
                    break
            src = body[:cut].strip().rstrip(",").strip()
            if not src:
                raise HiveQLUnsupportedError(
                    "noop PTF: missing input relation after ON"
                )
            # explicit alias right after the call? (``) abc join ...``)
            tail = query[close + 1:]
            am = re.match(r"\s*(?:as\s+)?([A-Za-z_]\w*)", tail)
            has_alias = bool(
                am and am.group(1).lower() not in _FROM_TAIL_KEYWORDS
            )
            alias = "" if has_alias else f" __ptf_{n}"
            n += 1
            query = (
                query[:m.start()]
                + f"(SELECT * FROM {src}){alias}"
                + query[close + 1:]
            )

    def _rewrite_matchpath_calls(self, query: str) -> str:
        """Hive's MatchPath PTF SQL invocation (reference:
        udf/ptf/MatchPath.java; ptf_matchpath.q):

            matchpath(on <src> distribute by K sort by S1, S2
                      arg1('<pattern>'),
                      arg2('<symbol>'), arg3(<bool expr>), ...
                      argN('<result expr list>'))

        Bridged to operators/ptf.py match_path: each symbol's predicate
        is precomputed as a JVM-side boolean column BEFORE the Arrow
        boundary (the pandas side just reads it), multi-char symbol
        names compile to single chars in the pattern ('.' is Hive's
        concatenation), and the result list supports the MatchPath
        surface the operator emits: plain columns, ``size(tpath)``
        (→ match_len) and ``tpath[0].col`` (→ the match's first row).
        The evaluated call registers a temp view substituted into the
        statement, so arbitrary outer SELECTs compose."""
        from pyspark.sql import functions as F

        head = re.compile(r"\bmatchpath\s*\(\s*on\b", re.IGNORECASE)
        clause = re.compile(
            r"\b(distribute\s+by|partition\s+by|sort\s+by|order\s+by)\b"
            r"|\barg\d+\s*\(",
            re.IGNORECASE,
        )
        while True:
            m = _search_code(head, query)
            if not m:
                return query
            open_idx = query.index("(", m.start())
            close = _scan_balanced(query, open_idx)
            if close >= len(query):
                return query
            body = re.sub(
                r"^\s*on\b", "", query[open_idx + 1:close],
                flags=re.IGNORECASE,
            )
            # top-level clause boundaries
            marks: list[tuple[str, int, int]] = []
            for cm in clause.finditer(body):
                depth = 0
                for ch in body[:cm.start()]:
                    if ch == "(":
                        depth += 1
                    elif ch == ")":
                        depth -= 1
                if depth == 0:
                    kw = cm.group(1) or "arg"
                    marks.append((kw.lower(), cm.start(), cm.end()))
            if not marks:
                raise HiveQLUnsupportedError(
                    "matchpath: missing distribute/sort/arg clauses"
                )
            src = body[:marks[0][1]].strip().rstrip(",")
            dist = sort = None
            args: list[str] = []
            for idx, (kw, start, end) in enumerate(marks):
                nxt = marks[idx + 1][1] if idx + 1 < len(marks) else len(body)
                if kw == "arg":
                    aopen = body.index("(", start)
                    aclose = _scan_balanced(body, aopen)
                    args.append(body[aopen + 1:aclose].strip())
                else:
                    text = body[end:nxt].strip().rstrip(",")
                    if kw.startswith(("distribute", "partition")):
                        dist = text
                    else:
                        sort = text
            if dist is None or sort is None or len(args) < 4:
                raise HiveQLUnsupportedError(
                    "matchpath needs distribute by, sort by, a pattern, "
                    "at least one (symbol, expr) pair, and a result list"
                )
            if len(args) % 2 != 0:
                raise HiveQLUnsupportedError(
                    "matchpath: arguments must be pattern + (name, expr) "
                    "pairs + result list"
                )
            pattern = args[0].strip().strip("'\"")
            result_text = args[-1].strip().strip("'\"")
            pairs = [
                (args[i].strip().strip("'\""), args[i + 1])
                for i in range(1, len(args) - 1, 2)
            ]
            if "," in dist:
                raise HiveQLUnsupportedError(
                    "matchpath: a single distribute-by column is supported"
                )
            from hive_2_3_2_spark.operators.ptf import match_path

            df = self._body_df(f"SELECT * FROM {src}")
            import pandas as pd  # noqa: F401 — predicate closures

            symbols = {}
            sym_cols = []
            chars = [chr(ord("A") + i) for i in range(len(pairs))]
            sym_map: dict[str, str] = {}
            for i, (name, expr) in enumerate(pairs):
                col = f"__mp_sym_{i}"
                sym_cols.append(col)
                df = df.withColumn(
                    col,
                    F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)),
                )
                sym_map[name.lower()] = chars[i]
                symbols[chars[i]] = (
                    lambda p, c=col: p[c].fillna(False).astype(bool)
                )
            # Whole-token substitution in ONE pass: tokenize the pattern
            # into identifiers vs. single punctuation chars and map each
            # identifier through the symbol table. A symbol literally
            # named 'A' (or prefixing another symbol's name) can never be
            # clobbered by a later pass, unlike sequential re.sub.
            rx = "".join(
                sym_map.get(tok.lower(), tok)
                if (tok[0].isalpha() or tok[0] == "_")
                else tok
                for tok in re.findall(r"[A-Za-z_]\w*|.", pattern)
            )
            rx = rx.replace(".", "")  # Hive '.' = symbol concatenation
            out_specs: list[tuple[str, str]] = []  # (source col, alias)
            need_cols: list[str] = []
            for item in _split_top_args(result_text):
                im = re.match(
                    r"^size\s*\(\s*tpath\s*\)\s+as\s+(\w+)$",
                    item, re.IGNORECASE,
                )
                if im:
                    out_specs.append(("match_len", im.group(1)))
                    continue
                im = re.match(
                    r"^tpath\s*\[\s*0\s*\]\s*\.\s*(\w+)\s+as\s+(\w+)$",
                    item, re.IGNORECASE,
                )
                if im:
                    out_specs.append((im.group(1), im.group(2)))
                    need_cols.append(im.group(1))
                    continue
                im = re.match(r"^(\w+)(?:\s+as\s+(\w+))?$", item, re.IGNORECASE)
                if im and im.group(1).lower() != "tpath":
                    out_specs.append((im.group(1), im.group(2) or im.group(1)))
                    need_cols.append(im.group(1))
                    continue
                raise HiveQLUnsupportedError(
                    f"matchpath result expression {item!r} not supported "
                    "(plain columns, size(tpath), tpath[0].col)"
                )
            sort_cols = [s.strip() for s in _split_top_args(sort)]
            result_cols = list(dict.fromkeys(need_cols))
            out = match_path(
                df, dist.strip(), sort_cols, symbols, rx, result_cols,
                all_starts=True,
            )
            final = out.select(
                *[F.col(src_c).alias(alias) for src_c, alias in out_specs]
            )
            self._matchpath_seq = getattr(self, "_matchpath_seq", 0) + 1
            view = f"__matchpath_{self._matchpath_seq}"
            final.createOrReplaceTempView(view)
            query = query[:m.start()] + view + query[close + 1:]

    @property
    def _avro_native(self) -> bool:
        """Whether spark-avro is loadable in this session — probed ONCE
        (a jar-less container raises 'Failed to find data source' even
        for a nonexistent path; a present datasource raises a
        path-not-found instead)."""
        if self._avro_native_memo is None:
            try:
                self.spark.read.format("avro").load(
                    "/__avro_datasource_probe_nonexistent__"
                )
                self._avro_native_memo = True
            except Exception as e:
                from hive_2_3_2_spark.sources.readers import (
                    MISSING_DATASOURCE,
                )

                self._avro_native_memo = not MISSING_DATASOURCE.search(
                    str(e)
                )
        return self._avro_native_memo

    def _avro_py_frame(self, key: str, path: str) -> DataFrame:
        """Read an engine-managed avro_py table: pure-python container
        decode over a distributed binaryFile scan, or an empty relation
        with the declared schema when no files exist yet (a freshly
        CREATEd table — Hive's metastore carries the schema)."""
        import glob as _glob

        from hive_2_3_2_spark.sources.avro_py import read_avro_py

        if os.path.isdir(path) and _glob.glob(
            os.path.join(path, "*.avro")
        ):
            df = read_avro_py(self.spark, path)
        else:
            schema = self.table_schemas.get(key)
            if schema is None:
                raise ValueError(
                    f"no .avro files and no declared schema for {key!r}"
                )
            df = local_frame(self.spark, [], schema)
        if key in self.table_schemas:
            df = self._apply_char_read_semantics(
                df, self.table_schemas[key]
            )
        return df

    def _run_create_avro_fallback(self, m: re.Match[str]) -> DataFrame:
        """CREATE TABLE ... STORED AS AVRO without the spark-avro
        datasource (avrocountemptytbl.q): the engine materializes a
        path-backed table whose reads/writes go through the pure-python
        Avro container codec (sources/avro_py.py) — the same files a
        native AvroSerDe table would hold. Reference:
        ql/src/test/queries/clientpositive/avrocountemptytbl.q;
        serde2/avro/AvroSerDe.java (schema-from-columns path)."""
        import tempfile

        from pyspark.sql.types import StructField, StructType

        if_not_exists, name, mid, tail = m.groups()
        key = name.split(".")[-1].lower()
        if re.search(r"\bpartitioned\s+by\b", mid, re.IGNORECASE):
            raise HiveQLUnsupportedError(
                "STORED AS AVRO with PARTITIONED BY: the jar-less "
                "fallback manages unpartitioned avro tables only "
                "(per-partition avro descriptors are excluded from the "
                "mixed-format matrix by design)"
            )
        if re.search(
            r"\b(tblproperties|location|row\s+format)\b", mid + tail,
            re.IGNORECASE,
        ):
            raise HiveQLUnsupportedError(
                "STORED AS AVRO fallback supports a plain column list "
                "or CTAS only (avro.schema.literal/url TBLPROPERTIES "
                "would override the declared schema — out of scope)"
            )
        if (
            key in self.table_paths
            or key in self.views
            or self._is_catalog_table(key)
        ):
            if if_not_exists:
                return self._rows_affected(0)
            raise HiveQLUnsupportedError(
                f"CREATE TABLE: {key!r} already exists"
            )
        coldefs = None
        if mid.startswith("("):
            close = _scan_balanced(mid, 0)
            if close >= len(mid):
                raise HiveQLUnsupportedError(
                    "CREATE TABLE ... AVRO: unbalanced column list"
                )
            coldefs = mid[1:close]
            if mid[close + 1:].strip():
                raise HiveQLUnsupportedError(
                    "CREATE TABLE ... AVRO: unsupported clause "
                    f"{mid[close + 1:].strip()[:40]!r}"
                )
        elif mid.strip():
            raise HiveQLUnsupportedError(
                f"CREATE TABLE ... AVRO: unsupported clause {mid[:40]!r}"
            )
        am = re.match(r"^AS\s+(.+)$", tail, re.IGNORECASE | re.DOTALL)
        if coldefs is None and am is None:
            raise HiveQLUnsupportedError(
                "CREATE TABLE ... AVRO needs a column list or AS SELECT"
            )
        path = os.path.join(
            tempfile.mkdtemp(prefix="hive232_avro_tbl_"), key
        )
        os.makedirs(path, exist_ok=True)
        if am is not None:
            from hive_2_3_2_spark.sources.avro_py import write_avro_py

            df = self._body_df(am.group(1))
            write_avro_py(df, path)
            schema = df.schema
        else:
            schema = StructType([
                StructField(n, t, True)
                for n, t in self._parse_col_defs(coldefs)
            ])
        self.table_schemas[key] = schema
        self.table_format[key] = "avro"
        self.register_table(key, path)
        return self._rows_affected(0)

    def _run_create_temp_table(self, m: re.Match[str]) -> DataFrame:
        """Hive's session-scoped ``CREATE TEMPORARY TABLE`` (Hive 0.14+,
        SemanticAnalyzer's isTemporary branch — backed by the session
        scratch dir and WRITABLE, unlike a view). Spark has no
        providerless temp table, so the engine materializes one: the
        declared schema (or CTAS result) lands as parquet under a
        per-table scratch dir and registers as a path-backed table —
        INSERT/UPDATE/DELETE/MERGE then work through the normal DML
        path. Lifetime matches Hive's: the registration dies with the
        session; the scratch files die with the tmpdir."""
        import tempfile

        if_not_exists, name, rest = m.groups()
        rest = rest.strip()
        coldefs = body = like_src = None
        if rest.startswith("("):
            close = _scan_balanced(rest, 0)
            if close >= len(rest):
                raise HiveQLUnsupportedError(
                    "CREATE TEMPORARY TABLE: unbalanced column list"
                )
            coldefs = rest[1:close]
            rest = rest[close + 1:].strip()
        rest = re.sub(r"^STORED\s+AS\s+\w+\s*", "", rest, flags=re.IGNORECASE)
        lm = re.match(r"^LIKE\s+([\w.]+)\s*$", rest, re.IGNORECASE)
        am = re.match(r"^AS\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
        if lm and coldefs is None:
            like_src = lm.group(1)
        elif am:
            body = am.group(1)
        elif rest:
            raise HiveQLUnsupportedError(
                f"CREATE TEMPORARY TABLE: unsupported clause {rest[:40]!r}"
            )
        if coldefs is None and body is None and like_src is None:
            raise HiveQLUnsupportedError(
                "CREATE TEMPORARY TABLE needs a column list, LIKE, or "
                "AS SELECT"
            )
        parts = name.split(".")
        key = parts[-1].lower()
        decl_db = (
            parts[-2].lower() if len(parts) > 1
            else self.spark.catalog.currentDatabase().lower()
        )
        if key in self.temp_tables or key in self.views:
            # a second TEMP table of the same name is Hive's
            # "already exists"; shadowing a VIEW is not a thing the
            # session metastore does either
            if if_not_exists:
                return self._rows_affected(0)
            raise HiveQLUnsupportedError(
                f"CREATE TEMPORARY TABLE: {key!r} already exists"
            )
        # Evaluate the CTAS/LIKE source BEFORE the registration flips —
        # `CREATE TEMPORARY TABLE s AS SELECT * FROM s` reads the
        # PERMANENT s (SessionHiveMetaStoreClient shadowing starts only
        # once the temp table exists).
        if body:
            df = self._body_df(body)
        elif like_src is not None:
            src_key = like_src.split(".")[-1].lower()
            if src_key in self.tables:
                template = self.tables[src_key].schema
            else:
                template = self.spark.table(like_src).schema
            df = local_frame(self.spark, [], template)
        else:
            from pyspark.sql.types import StructField, StructType

            fields = [
                StructField(n, t, True)
                for n, t in self._parse_col_defs(coldefs)
            ]
            df = local_frame(self.spark, [], StructType(fields))
        # Shadow snapshot: Hive's session metastore resolves temp tables
        # FIRST, hiding a same-named permanent table until DROP
        # (temp_table.q's `create temporary table s as select * from s`;
        # temp_table_precedence.q). Save whatever this name resolved to.
        if key in self.table_paths:
            self.temp_shadowed[key] = {
                "kind": "path",
                "path": self.table_paths[key],
                "partitions": self.table_partitions.get(key),
                "schema": self.table_schemas.get(key),
                "props": self.table_props.get(key),
                "format": self.table_format.get(key),
                "pformats": self.partition_formats.get(key),
                # Pending schema-conversion epochs belong to the HIDDEN
                # permanent table: move them into the shadow so a read
                # (or later ALTER) of the temp table can neither apply
                # them to the temp files nor drop the bookkeeping when
                # no epoch file survives under the temp path.
                "epochs": self.schema_epochs.pop(key, None),
            }
        elif self._is_catalog_table(name) or self._is_catalog_table(key):
            # the temp view registered below shadows the catalog table;
            # DROP just removes the view and the catalog wins again
            self.temp_shadowed[key] = {"kind": "catalog"}
        path = os.path.join(
            tempfile.mkdtemp(prefix="hive232_tmp_tbl_"), key
        )
        df.write.parquet(path)
        for store in (self.table_schemas, self.table_props,
                      self.table_format, self.partition_formats,
                      self.table_partitions):
            store.pop(key, None)
        self.register_table(key, path)
        self.temp_tables[key] = decl_db
        return self._rows_affected(0)

    def _run_insert_directory(self, m: re.Match[str]) -> DataFrame:
        """Hive-form ``INSERT OVERWRITE [LOCAL] DIRECTORY '<path>'
        [ROW FORMAT DELIMITED [FIELDS TERMINATED BY 'c']]
        [STORED AS fmt] <select>`` (reference: SemanticAnalyzer's
        writing-to-path branch; Spark only accepts its own ``USING``
        form without Hive catalog support). Defaults mirror Hive's
        LazySimpleSerDe text output: \\x01 field delimiter, ``\\N``
        for NULL. LOCAL is the same filesystem here (local mode /
        shared FS — documented). Row count comes from an observed
        metric on the write itself, never a second scan."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        local, path, sep, stored, body = m.groups()
        df = self._body_df(body.strip())
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        fmt = (stored or "").lower()
        if fmt in ("parquet", "orc", "json"):
            df.write.mode("overwrite").format(fmt).save(path)
        elif fmt in ("", "textfile"):
            (
                df.write.mode("overwrite")
                .option("sep", sep if sep is not None else "\x01")
                .option("nullValue", r"\N")
                .option("emptyValue", "")
                .csv(path)
            )
        else:
            raise HiveQLUnsupportedError(
                f"INSERT OVERWRITE DIRECTORY STORED AS {stored}: "
                "supported formats are TEXTFILE (default), PARQUET, "
                "ORC, JSON"
            )
        return self._rows_affected(int(obs.get["n"]))

    def _run_explain_dependency(self, body: str) -> DataFrame:
        """EXPLAIN DEPENDENCY — Hive emits one JSON object naming the
        statement's input tables and input partitions (reference:
        exec/ExplainTask.java getJSONDependencies, the lineage feed for
        external tooling; Hive's partition list comes from the PRUNED
        ReadEntity set). Input tables come from the analyzed plan's
        file listing intersected with the registered table paths.
        Pruned partitions are reproduced portably: each scan's
        ``PartitionFilters`` from the formatted physical plan (expr-ids
        stripped) is evaluated against that table's partition VALUES —
        a metadata-sized frame served from directory names; no data
        column is read and nothing executes."""
        import json as _json

        from pyspark.sql import functions as F

        from hive_2_3_2_spark.plans import explain_str

        df = self._body_df(body)
        files = [re.sub(r"^file:/+", "/", f) for f in df.inputFiles()]
        tables: set[str] = set()
        part_dirs: dict[str, set[str]] = {}
        for key, path in self.table_paths.items():
            norm = os.path.abspath(path)
            has_parts = bool(self.table_partitions.get(key))
            for fp in files:
                if not (fp == norm or fp.startswith(norm + os.sep)):
                    continue
                tables.add(key)
                if has_parts:
                    rel = os.path.relpath(os.path.dirname(fp), norm)
                    if rel not in (".", ""):
                        part_dirs.setdefault(key, set()).add(
                            rel.replace(os.sep, "/")
                        )
        # Per-table partition pruning: harvest PartitionFilters blocks
        # from the formatted plan, attribute each to its scan's Location
        # path, and evaluate against the partition-value frame.
        plan = explain_str(df)
        filters_by_key: dict[str, list[str]] = {}
        last_key: str | None = None
        for line in plan.splitlines():
            locm = re.search(r"Location:[^\[]*\[([^\]]+)\]", line)
            if locm:
                loc_path = re.sub(
                    r"^file:/+", "/", locm.group(1).split(",")[0].strip()
                )
                last_key = next(
                    (
                        k
                        for k, p in self.table_paths.items()
                        if os.path.abspath(p) == loc_path
                    ),
                    None,
                )
                continue
            fm = re.search(r"PartitionFilters:\s*\[([^\]]*)\]", line)
            if fm and last_key is not None:
                conds = [
                    re.sub(r"#\d+L?", "", c.strip())
                    for c in _split_top_args(fm.group(1))
                    if c.strip() and "dynamicpruning" not in c
                ]
                if conds:
                    filters_by_key.setdefault(last_key, []).extend(conds)
                last_key = None
        partitions: set[str] = set()
        for key, dirs in part_dirs.items():
            pcols = self.table_partitions[key]
            selected = dirs
            conds = filters_by_key.get(key)
            if conds:
                try:
                    vals = self.tables[key].select(*pcols).distinct()
                    for c in conds:
                        vals = vals.filter(F.expr(c))
                    keep = {
                        "/".join(f"{p}={r[p]}" for p in pcols)
                        for r in vals.collect()
                    }
                    selected = {d for d in dirs if d in keep}
                except Exception:
                    selected = dirs  # unparseable filter → report all
            partitions |= {f"default@{key}@{d}" for d in selected}
        payload = {
            "input_tables": sorted(f"default@{k}" for k in tables),
            "input_partitions": sorted(partitions),
        }
        return local_frame(
            self.spark, [(_json.dumps(payload),)], "explain_dependency string"
        )

    def sql_async(self, query: str):
        """Submit a statement on a background thread and return a
        ``concurrent.futures.Future`` resolving to the (materialized)
        result rows + schema as a DataFrame.

        This is the HiveServer2 entry point collapsed in-process
        (reference: service/.../SQLOperation.java:91 — compile on
        submit, ``driver.run()`` on the async thread pool). Spark job
        submission is thread-safe; each statement becomes its own job
        group so concurrent statements interleave under the scheduler
        exactly like concurrent HS2 operations. The future holds a
        MATERIALIZED result (SQLOperation buffers fetched rows): a lazy
        frame handed across threads could re-scan files a later DML
        statement already rewrote.
        """
        from concurrent.futures import ThreadPoolExecutor

        if not hasattr(self, "_pool"):
            self._pool = ThreadPoolExecutor(
                max_workers=8, thread_name_prefix="hs2-async"
            )

        def run() -> DataFrame:
            return self._materialize(self.sql(query))

        return self._pool.submit(run)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def explain(self, query: str) -> str:
        """Formatted physical plan (reference: exec/ExplainTask.java:117).
        Uses the portable stdout-capture path (works under Spark Connect
        too), not private py4j internals."""
        from hive_2_3_2_spark.plans import explain_str

        return explain_str(self.sql(query))


# _NOOP_PTF_HEAD (the single module-level definition lives further
# down, next to the FROM-item machinery) matches the whole noop PTF
# family: noop/noopwithmap/noopstreaming/noopwithmapstreaming.
# --------------------------------------------------------------------------
# Engine.sql's ordered step table. Hive makes the same two decisions
# from tables: SemanticAnalyzerFactory.get picks the analyzer for a
# statement kind (Driver.java:629) and optimizer/Optimizer.java applies
# an ordered list of rule passes. Each row is ``(test, step)``:
#   - ``test`` is a compiled pattern (matched at the start of the
#     statement) or a guard ``(engine, query) -> match | truthy``; a
#     falsy result skips the row;
#   - ``step(engine, query, m)`` gets the test's result as ``m`` and
#     returns a str (a pass: the rows below see the new text), a
#     DataFrame (a route: the statement's answer) or None (fall through).
# --------------------------------------------------------------------------

#: matches every statement (rows that decide inside their step)
_EVERY_STATEMENT = re.compile("")
_WITH_HEAD = re.compile(r"^\s*WITH\b", re.IGNORECASE)
_ACID_SHOW_SCHEMAS = {
    "LOCKS": "lockid string, database string, tab_name string, "
    "partition string, lock_state string, lock_type string, "
    "transaction_id string",
    "TRANSACTIONS": "txnid bigint, state string, startedtime bigint, "
    "lastheartbeattime bigint, user string, host string",
    "COMPACTIONS": "compactionid bigint, dbname string, tabname string, "
    "partname string, type string, state string, workerid string, "
    "starttime bigint, duration bigint",
}


def _when(pat, pred):
    """Guard: ``pat`` matches and ``pred(engine, match)`` holds."""
    return lambda e, q: (m := pat.match(q)) and pred(e, m) and m


def _registered(pat, g=1):
    """Guard: group ``g`` of ``pat`` names a table this Engine
    registered (Engine._dml_registered)."""
    return _when(pat, lambda e, m: e._dml_registered(m.group(g)))


def _registered_or_catalog(pat, g=1):
    """Guard: group ``g`` of ``pat`` names a registered table or a
    session-catalog table."""
    return _when(pat, lambda e, m: e._dml_registered(m.group(g))
                 or e._is_catalog_table(m.group(g)))


def _finds(regex, code_only=False):
    """Guard: ``regex`` occurs anywhere in the statement (outside quoted
    literals when ``code_only``)."""
    pat = re.compile(regex)
    if code_only:
        return lambda e, q: _search_code(pat, q) is not None
    return lambda e, q: pat.search(q)


def _refuse(msg):
    """Step: a typed error; ``{}`` fields take the match's groups."""

    def step(e, q, m):
        raise HiveQLUnsupportedError(msg.format(*m.groups()))

    return step


def _bare(name: str) -> str:
    return name.split(".")[-1].lower()


#: Value-semantics passes: Hive RUNTIME semantics (type coercion,
#: lenient date parses, GROUP BY constant mode), not statement syntax.
#: They run once per statement inside _SQL_STEPS, so a SELECT body a
#: handler lifts out of a CTAS or a view already carries them.
_SEMANTIC_STEPS = (
    # Reference DEFAULT is false (HiveConf.java:1337): integral/boolean
    # → TIMESTAMP counts MILLISECONDS.
    (lambda e, q: e.hiveconf.get(
        "hive.int.timestamp.conversion.in.seconds", "false"
    ).lower() == "false" and re.search(r"(?i)\btimestamp\b", q),
     lambda e, q, m: _rewrite_int_ts_casts(q)),
    (lambda e, q: re.search(r"(?i)\b(?:GROUP|ORDER|SORT)\s+BY\b", q)
     and re.search(r"(?<![\w.'\"`])\d", q),
     lambda e, q, m: e._rewrite_position_aliases(q)),
    # the internal stats UDAF's direct spelling → native aggregate
    # struct composition (type-dispatched)
    (_finds(Engine._COMPUTE_STATS_CALL),
     lambda e, q, m: e._rewrite_compute_stats(q)),
    # Hive's hash() is the getBucketHashCode 31-fold, NOT Spark's
    # Murmur3 — schema-resolved typed rewrite
    (_finds(Engine._HIVE_HASH_CALL, code_only=True),
     lambda e, q, m: e._rewrite_hive_hash(q)),
    # Hive's getBoolean conversions (string non-empty, numeric
    # (int)-truncated) — schema-resolved
    (_finds(r"(?is)\bas\s+boolean\s*\)"),
     lambda e, q, m: e._rewrite_boolean_casts(q)),
    # string IN (numeric subquery) compares at DOUBLE in Hive
    (_finds(r"(?is)\bin\s*\(\s*select\b"),
     lambda e, q, m: e._rewrite_string_in_numeric_subquery(q)),
    # GenericUDFAbs evaluates BYTE/SHORT at INT width
    # (GenericUDFAbs.java:80-86: abs(tinyint -128) is 128, where Spark
    # wraps at the byte width to -128)
    (_finds(r"(?is)\babs\s*\("), lambda e, q, m: e._rewrite_abs_promote(q)),
    # Hive's lenient string parse for add_months (rollover) — must
    # precede the months_between rewrite, which emits internal
    # add_months calls of its own
    (_finds(r"(?i)\badd_months\s*\("),
     lambda e, q, m: e._rewrite_add_months_typed(q)),
    # Hive's lenient string parse for months_between operands (rollover
    # + partial-time skip) — real golden divergences
    (_finds(r"(?i)\bmonths_between\s*\("),
     lambda e, q, m: e._rewrite_months_between_typed(q)),
    # decimal-vs-float-literal comparisons compare at FLOAT in Hive
    # (parquet_ppd_decimal.q) — typeof-dispatched rewrite
    (_finds(r"(?i)\bAS\s+FLOAT\s*\)"),
     lambda e, q, m: _rewrite_float_cast_compares(q)),
    # decimal IN ('quoted numerics') — Hive's numeric IN route
    (_finds(r"(?i)\bIN\s*\(\s*'-?\d"),
     lambda e, q, m: _rewrite_decimal_in_strings(q)),
    # decimal COLUMN vs float COLUMN comparisons happen at FLOAT in
    # Hive — schema-resolved static rewrite
    (_finds(r"[=<>]"),
     lambda e, q, m: e._rewrite_decimal_float_col_compares(q)),
    # pre-Gregorian timestamp filters must not reach the ORC
    # SearchArgument (hybrid-calendar stripe elimination)
    (lambda e, q: any(
        int(t.group(1)) < 1583
        for t in re.finditer(r"(?i)\btimestamp\s+'(\d{1,4})-", q)
    ), lambda e, q, m: _rewrite_ancient_ts_filters(q)),
)

_SQL_STEPS = (
    # special-character table names; regex-column mode
    # (quoted.identifiers=none) keeps its backticked patterns
    (lambda e, q: "`" in q and e.hiveconf.get(
        "hive.support.quoted.identifiers", "column"
    ).lower() != "none",
     lambda e, q, m: _SPECIAL_IDENT.sub(
         lambda s: _mangle_special_name(s.group(1)), q)),
    (lambda e, q: "default" in q.lower(),
     lambda e, q, m: e._strip_default_db(q)),
    # temp tables SHADOW same-named permanent tables even under their
    # declared-db qualifier (SessionHiveMetaStoreClient getTempTable
    # resolves before the metastore; temp_table_precedence.q) — but
    # Spark resolves db.t against the catalog, so rewrite the qualified
    # form to the bare temp-view name.
    (lambda e, q: e.temp_tables and "." in q,
     lambda e, q, m: e._strip_temp_db_quals(q)),
    # inline PK/FK constraint items (create_with_constraints.q) are
    # recorded engine-side and stripped — Spark's CREATE grammar has no
    # constraint clause
    (lambda e, q: re.search(r"(?i)\b(?:PRIMARY|FOREIGN)\s+KEY\b", q)
     and _CREATE_TABLE_PREFIX.match(q),
     lambda e, q, m: e._extract_create_constraints(q)),
    *_SEMANTIC_STEPS,
    # Hive's MAP/REDUCE spellings of script transform normalize to the
    # TRANSFORM form before ANY dispatch, so the FROM-first INSERT
    # branch parser and spark.sql both see one spelling.
    (_finds(_MAP_REDUCE_KW, code_only=True),
     lambda e, q, m: _rewrite_map_reduce_transform(q)),
    # no-AS TRANSFORM subqueries evaluate eagerly (takes-rest output
    # contract) and splice back as views, BEFORE the INSERT/multi-insert
    # dispatch reads the statement
    (_finds(Engine._NOAS_TRANSFORM_SUBQ, code_only=True),
     lambda e, q, m: e._rewrite_noas_transform_subqueries(q)),
    (lambda e, q: e.ptf_aliases or e.fn_aliases,
     lambda e, q, m: e._rewrite_function_aliases(q)),
    (lambda e, q: e.python_udtfs, lambda e, q, m: e._rewrite_udtf_select(q)),
    # Noop pass-through PTFs reduce to subqueries before ANY dispatch
    # (they appear in FROM-first multi-insert too).
    (_finds(_NOOP_PTF_HEAD, code_only=True),
     lambda e, q, m: e._rewrite_noop_ptf_calls(q)),
    (_CTAS_SPLIT, lambda e, q, m: e._ctas_hive_autonames(q, m)),
    (_SHELL_STMT, _refuse(
        "'!' shell escape is not supported — no shell execution from "
        "SQL in this engine (CliDriver.processCmd shell path)")),
    (_DFS_STMT, _refuse(
        "'dfs' commands are not supported — there is no HDFS shell "
        "here; use LOAD DATA / EXPORT / IMPORT instead")),
    (_SET_STMT, lambda e, q, m: e._run_set(m.group(1))),
    (_RESET_STMT, lambda e, q, m: e.hiveconf.clear() or e._conf_frame([])),
    (_RESOURCE_STMT, lambda e, q, m: e._run_resource(*m.groups())),
    (_SOURCE_STMT, lambda e, q, m: e._run_source(m.group(1))),
    (_CREATE_MACRO_STMT, lambda e, q, m: e._run_create_macro(m)),
    (_DROP_MACRO_STMT, lambda e, q, m: e._run_drop_macro(m)),
    (_CREATE_FUNCTION_STMT, lambda e, q, m: e._run_create_function(m)),
    (_DROP_FUNCTION_STMT, lambda e, q, m: e._run_drop_function(m)),
    (_SHOW_FUNCTIONS_STMT, lambda e, q, m: e._run_show_functions(m.group(1))),
    (_DESCRIBE_FUNCTION_STMT, lambda e, q, m: e._run_describe_function(
        bool(m.group(1)), m.group(2).strip("`"))),
    (_SHOW_CONF_STMT, lambda e, q, m: e._run_show_conf(m.group(1))),
    (_SHOW_ACID_STMT,
     lambda e, q, m: e._run_show_acid((m.group(1) or m.group(2)).upper())),
    (_CREATE_DB_STMT, lambda e, q, m: e._run_create_database(m)),
    (_ALTER_DB_STMT, lambda e, q, m: e._run_alter_database(m)),
    (_DESC_DB_STMT, lambda e, q, m: e._run_describe_database(
        bool(m.group(1)), m.group(2))),
    (_SHOW_CREATE_DB_STMT,
     lambda e, q, m: e._run_show_create_database(m.group(1))),
    (_DROP_DB_STMT, lambda e, q, m: e._run_drop_database(m, q)),
    (_ALTER_CLUSTERED_STMT, _refuse(
        "ALTER TABLE {} CLUSTERED BY / NOT CLUSTERED: Hive changes "
        "bucket metadata for FUTURE writes while existing files keep "
        "their layout — Spark's planner trusts the (immutable) bucket "
        "spec for shuffle elision, so a drifted spec would return "
        "wrong joins. CREATE a new table with the target CLUSTERED BY "
        "and INSERT ... SELECT to migrate")),
    (_registered(_CREATE_LIKE_STMT, 3), lambda e, q, m: e._run_create_like(m)),
    (lambda e, q: e.macros, lambda e, q, m: e._expand_macros(q)),
    (_EXPLAIN_ANALYZE_STMT,
     lambda e, q, m: e._run_explain_analyze(m.group(1))),
    (_EXPLAIN_STMT, lambda e, q, m: e._run_explain_dependency(m.group(2))
     if (m.group(1) or "").upper() == "DEPENDENCY"
     else e._explain_dml(m.group(1), m.group(2))),
    (_when(_SHOW_CREATE_STMT, lambda e, m: e._dml_registered(m.group(1))
           or _bare(m.group(1)) in e.views),
     lambda e, q, m: e._run_show_create(m.group(1))),
    (_registered(_DESCRIBE_STMT, 2), lambda e, q, m: e._run_describe_stmt(m)),
    # catalog table with recorded informational constraints — Spark's
    # DESCRIBE + the Constraints section
    (_when(_DESCRIBE_STMT, lambda e, m: m.group(1) and not m.group(3)
           and not m.group(4) and _bare(m.group(2)) in e.table_constraints
           and (e._is_catalog_table(m.group(2))
                or e._is_catalog_table(_bare(m.group(2))))),
     lambda e, q, m: e._describe_catalog_with_constraints(
         m.group(2), _bare(m.group(2)), m.group(1))),
    (_registered(_DELETE_STMT), lambda e, q, m: e._run_delete(m)),
    (_registered(_UPDATE_STMT), lambda e, q, m: e._run_update(m)),
    # Hive's IF NOT EXISTS overwrite guard: when the STATIC target
    # partition already exists, the insert is a no-op — the select never
    # runs (insert1_overwrite_partitions.q); otherwise the clause is
    # stripped for the INSERT routes below.
    (_registered_or_catalog(_INSERT_IF_NOT_EXISTS, 2),
     lambda e, q, m: e._rows_affected(0)
     if e._static_partition_exists(m.group(2), m.group(3))
     else q[: m.end(1)] + q[m.end(0):]),
    # PARTITION specs (static/dynamic/mixed) into catalog tables are
    # handled with Hive's positional casts + partition-overwrite
    # semantics
    (_when(_INSERT_STMT, lambda e, m: e._local_sink(m.group(2))),
     lambda e, q, m: e._run_insert_sink(m)),
    (_WITH_HEAD, lambda e, q, m: e._run_with_insert(q)),
    (_when(_MULTI_INSERT_STMT, lambda e, m: e._local_sinks(m.group(2))),
     lambda e, q, m: e._run_multi_insert(m.group(1), m.group(2))),
    (_registered(_LOAD_DATA_STMT, 3), lambda e, q, m: e._run_load_data(m)),
    (_registered(_MERGE_STMT), lambda e, q, m: e._run_merge(m)),
    (_registered(_TRUNCATE_STMT), lambda e, q, m: e._run_truncate(m)),
    (_when(_SHOW_PARTITIONS_STMT,
           lambda e, m: _bare(m.group(1)) in e.view_partitions),
     lambda e, q, m: e._run_show_view_partitions(_bare(m.group(1)))),
    (_registered(_SHOW_PARTITIONS_STMT),
     lambda e, q, m: e._run_show_partitions(m.group(1), m.group(2))),
    (_registered(_ALTER_PARTITION_STMT),
     lambda e, q, m: e._run_alter_partition(m)),
    (_CONCATENATE_STMT, lambda e, q, m: e._run_concatenate(m)),
    (_registered(_MSCK_STMT), lambda e, q, m: e._run_msck(m.group(1))),
    (_registered(_REFRESH_STMT), lambda e, q, m: e._run_refresh(m.group(1))),
    (_registered(_ANALYZE_STMT),
     lambda e, q, m: e._run_analyze(m.group(1), m.group(3), m.group(2))),
    (_registered(_RENAME_STMT), lambda e, q, m: e._run_rename(*m.group(1, 2))),
    (_registered(_EXCHANGE_PARTITION_STMT),
     lambda e, q, m: e._run_exchange_partition(m)),
    (_registered(_RENAME_PARTITION_STMT),
     lambda e, q, m: e._run_rename_partition(m)),
    (_registered(_SET_LOCATION_STMT),
     lambda e, q, m: e._run_set_location(*m.group(1, 2))),
    (_registered(_ALTER_ADD_COLS_STMT),
     lambda e, q, m: e._run_add_columns(*m.group(1, 2))),
    (_registered(_ALTER_REPLACE_COLS_STMT),
     lambda e, q, m: e._run_replace_columns(*m.group(1, 2))),
    (_registered(_ALTER_PART_COLTYPE_STMT),
     lambda e, q, m: e._run_partition_coltype(*m.group(1, 2, 3))),
    (_registered(_ALTER_CHANGE_COL_STMT),
     lambda e, q, m: e._run_change_column(m)),
    (_registered(_ALTER_TBLPROPS_STMT),
     lambda e, q, m: e._run_tblproperties(m)),
    (_ALTER_FILEFORMAT_STMT,
     lambda e, q, m: e._run_set_fileformat(*m.group(1, 2, 3))),
    (_registered_or_catalog(_ALTER_SET_SERDE_STMT),
     lambda e, q, m: e._run_set_serde(*m.group(1, 2, 3, 4))),
    (_registered_or_catalog(_ALTER_SET_SERDEPROPS_STMT),
     lambda e, q, m: e._run_set_serde(*m.group(1, 2), None, m.group(3))),
    (_registered_or_catalog(_ALTER_TOUCH_STMT),
     lambda e, q, m: e._run_touch(m)),
    (_ALTER_ADD_CONSTRAINT_STMT, lambda e, q, m: e._run_add_constraint(m)),
    (_ALTER_DROP_CONSTRAINT_STMT, lambda e, q, m: e._run_drop_constraint(m)),
    (_registered_or_catalog(_SHOW_TABLE_EXTENDED_STMT),
     lambda e, q, m: e._run_show_table_extended(*m.group(1, 2))),
    # catalog tables with engine-side props (SET SERDE / SERDEPROPERTIES
    # route through the engine because Spark refuses ALTER SERDE on
    # datasource tables) — serve the MERGED view so the recorded
    # metadata is observable
    (_when(_SHOW_TBLPROPS_STMT, lambda e, m: e._dml_registered(m.group(1))
           or _bare(m.group(1)) in e.table_props),
     lambda e, q, m: e._run_show_tblproperties(*m.group(1, 2))),
    (_registered(_SHOW_COLUMNS_STMT),
     lambda e, q, m: e._run_show_columns(m.group(1))),
    (_CREATE_VIEW_STMT, lambda e, q, m: e._run_create_view(m)),
    (_ALTER_VIEW_PART_STMT, lambda e, q, m: e._run_alter_view_partition(m)),
    (_ALTER_VIEW_RENAME_STMT,
     lambda e, q, m: e._run_alter_view_rename(*m.group(1, 2))),
    (_ALTER_VIEW_STMT, lambda e, q, m: e._run_alter_view(*m.group(1, 2))),
    # DROP VIEW / DROP TABLE of an object the engine does not manage
    # declines (None) and falls through to spark.sql
    (_DROP_VIEW_STMT,
     lambda e, q, m: e._run_drop_view(bool(m.group(1)), m.group(2))),
    (_DROP_TABLE_STMT,
     lambda e, q, m: e._run_drop_table(bool(m.group(1)), m.group(2))),
    (_EXPORT_STMT,
     lambda e, q, m: e._run_export(m.group(1), m.group(3), m.group(2))),
    (_IMPORT_STMT, lambda e, q, m: e._run_import(*m.group(1, 2, 3))),
    # Hive-form INSERT OVERWRITE DIRECTORY (plain / ROW FORMAT DELIMITED
    # / STORED AS). The Spark-native `USING fmt` form does not match
    # this regex (the body must start at SELECT/WITH/FROM) and passes
    # through to spark.sql.
    (_INSERT_DIRECTORY_STMT, lambda e, q, m: e._run_insert_directory(m)),
    # Hive-form session temp table; the Spark-native `USING fmt` variant
    # passes through untouched. A datasource clause (`USING fmt`) can
    # only appear BEFORE the CTAS `AS` keyword — `... AS SELECT a JOIN b
    # USING (k)` is a valid Hive CTAS whose USING must not disqualify it.
    (_when(_CREATE_TEMP_TABLE_STMT, lambda e, m: m.group(3) and not re.search(
        r"(?i)\bUSING\b", re.split(r"(?i)\bAS\b", m.group(3), maxsplit=1)[0]
    )), lambda e, q, m: e._run_create_temp_table(m)),
    (_when(_CREATE_AVRO_STMT, lambda e, m: not e._avro_native),
     lambda e, q, m: e._run_create_avro_fallback(m)),
    (_EVERY_STATEMENT, lambda e, q, m: e._try_stats_answer(q)),
    (_EVERY_STATEMENT, lambda e, q, m: e._try_metadata_only(q)),
    # Two reasons to leave Spark's native script transform: (1)
    # ScriptOperator's tolerated-broken-pipe mode (script_pipe.q) —
    # native fails the task when the script exits early; (2) NO AS
    # clause — Hive's default (key, value) schema carries
    # last.column.takes.rest semantics (value = remainder of the line,
    # tabs included; PlanUtils.java:257) where native truncates value
    # to the second field. Both route through the per-partition
    # subprocess operator.
    (_when(_TRANSFORM_PARTIAL_STMT, lambda e, m: m.group(3) is None
           or e.hiveconf.get("hive.exec.script.allow.partial.consumption",
                             "false").lower() == "true"),
     lambda e, q, m: e._run_transform_partial(m)),
    (_finds(r"(?i)\bmatchpath\s*\(\s*on\b"),
     lambda e, q, m: e._rewrite_matchpath_calls(q)),
    # invalid SimpleDateFormat patterns → typed NULL (Hive
    # initialize-time behavior; Spark would raise at EXECUTION, past the
    # error-keyed retry loop)
    (_finds(_DTF_CALLS, code_only=True),
     lambda e, q, m: _rewrite_invalid_sdf_literals(q)),
)

_PTF_CLAUSE_SPLIT = re.compile(
    r"\b(partition\s+by|distribute\s+by|sort\s+by|order\s+by)\b",
    re.IGNORECASE,
)


def _rewrite_noop_ptf(query: str) -> str:
    """Hive's table-function invocation syntax for the passthrough PTFs
    (reference: ql/src/test/queries/clientpositive/ptf.q;
    udf/ptf/Noop.java, NoopWithMap.java — identity PTFs that exist to
    exercise the PTF partitioning machinery):

        FROM noop(on <src> partition by A order by B)

    becomes a derived table that reproduces the PTF's partitioned sort:

        FROM (SELECT * FROM <src> DISTRIBUTE BY A SORT BY B) __ptf

    (partition by → distribute by, order/sort by → sort by — the PTF's
    ordering is per-partition, exactly SORT BY's contract). Window
    functions above re-declare their own partition/order, so results
    are identical; the rewrite preserves the clustering for them."""
    while True:
        m = _search_code(_NOOP_PTF_HEAD, query)
        if not m:
            return query
        # find the matching close paren of noop( ... )
        j = query.index("(", m.start())
        depth = 0
        n = len(query)
        while j < n:
            c = query[j]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            elif c in "'\"":
                quote = c
                j += 1
                while j < n and query[j] != quote:
                    j += 1
            j += 1
        if j >= n:
            return query
        inner = query[query.index("(", m.start()) + 1:j]
        body = re.sub(r"^\s*on\b", "", inner, flags=re.IGNORECASE).strip()
        # split the trailing partition/sort clauses at TOP level (not
        # inside a nested subquery's parens)
        parts: list[tuple[str, int]] = []
        depth = 0
        for cm in _PTF_CLAUSE_SPLIT.finditer(body):
            d = 0
            for ch in body[:cm.start()]:
                if ch == "(":
                    d += 1
                elif ch == ")":
                    d -= 1
            if d == 0:
                parts.append((cm.group(1).lower(), cm.start()))
        src = body[:parts[0][1]].strip() if parts else body
        dist = sort = None
        for idx, (kw, pos) in enumerate(parts):
            end = parts[idx + 1][1] if idx + 1 < len(parts) else len(body)
            text = body[pos:end]
            expr = _PTF_CLAUSE_SPLIT.sub("", text, count=1).strip()
            if kw.startswith(("partition", "distribute")):
                dist = expr
            else:
                sort = expr
        derived = f"(SELECT * FROM {src}"
        if dist:
            derived += f" DISTRIBUTE BY {dist}"
        if sort:
            derived += f" SORT BY {sort}"
        derived += ") __ptf_noop"
        query = query[:m.start()] + derived + query[j + 1:]


_TRUNC_CALL = re.compile(r"\btrunc\s*\(", re.IGNORECASE)
_GET_JSON_CALL = re.compile(r"\bget_json_object\s*\(", re.IGNORECASE)
_INTERVAL_CTOR_CALL = re.compile(
    r"\b(interval_year_month|interval_day_time)\s*\(", re.IGNORECASE
)
# SELECT /*+ hint */ TRANSFORM — Spark's script-transform grammar
# rejects a hint in that position; the hint is physical advice with no
# meaning for a script pipe, so drop it (select_transform_hint.q).
# Only the TRANSFORM spelling: a hint before MAP( could be a legitimate
# broadcast hint on a map-constructor projection and must survive.
_HINT_BEFORE_TRANSFORM = re.compile(
    r"(\bSELECT\s*)/\*\+[^*]*\*/(\s*TRANSFORM\b)",
    re.IGNORECASE,
)
_MASK_FAMILY_CALL = re.compile(
    r"\b(mask_hash|mask_first_n|mask_last_n|mask_show_first_n|"
    r"mask_show_last_n|mask)\s*\(",
    re.IGNORECASE,
)

#: a numeric literal, optionally cast to a numeric type — the statically
#: detectable inputs of Hive's NUMERIC mask overload
_NUMERIC_LITERAL_ARG = re.compile(
    r"\(?\s*(?:cast\s*\(\s*)?([-+]?\d+)\s*"
    r"(?:as\s+(tinyint|smallint|int|integer|bigint)\s*\))?\s*\)?",
    re.IGNORECASE,
)




_ADD_MONTHS_CALL = re.compile(r"\badd_months\s*\(", re.IGNORECASE)
_RADIANS_CALL = re.compile(r"\bradians\s*\(", re.IGNORECASE)
_AES_CALL = re.compile(r"\baes_(?:encrypt|decrypt)\s*\(", re.IGNORECASE)
_UTC_TS_CALL = re.compile(
    r"\b(?:from|to)_utc_timestamp\s*\(", re.IGNORECASE
)
_LOGGED_IN_USER_CALL = re.compile(r"\blogged_in_user\s*\(", re.IGNORECASE)
# java.time.ZoneId.SHORT_IDS — the abbreviation table Hive inherits via
# java.util.TimeZone.getTimeZone; Spark >= 3 rejects bare abbreviations
_JAVA_SHORT_TZ = {
    "ACT": "Australia/Darwin", "AET": "Australia/Sydney",
    "AGT": "America/Argentina/Buenos_Aires", "ART": "Africa/Cairo",
    "AST": "America/Anchorage", "BET": "America/Sao_Paulo",
    "BST": "Asia/Dhaka", "CAT": "Africa/Harare",
    "CNT": "America/St_Johns", "CST": "America/Chicago",
    "CTT": "Asia/Shanghai", "EAT": "Africa/Addis_Ababa",
    "ECT": "Europe/Paris", "IET": "America/Indiana/Indianapolis",
    "IST": "Asia/Kolkata", "JST": "Asia/Tokyo", "MIT": "Pacific/Apia",
    "NET": "Asia/Yerevan", "NST": "Pacific/Auckland",
    "PLT": "Asia/Karachi", "PNT": "America/Phoenix",
    "PRT": "America/Puerto_Rico", "PST": "America/Los_Angeles",
    "SST": "Pacific/Guadalcanal", "VST": "Asia/Ho_Chi_Minh",
    "EST": "-05:00", "MST": "-07:00", "HST": "-10:00",
}


def _rewrite_udf_hive_semantics(query: str) -> str:
    """Hive-exact semantics for scalar UDFs whose Spark twins diverge
    (udf_*.q golden wave 3):

    - ``add_months``: Hive's GenericUDFAddMonths (reference:
      ql/src/java/.../udf/generic/GenericUDFAddMonths.java) preserves
      END-OF-MONTH — add_months('2014-02-28', -1) = '2014-01-31';
      Spark 3+ dropped that adjustment. Rewritten to a last-day-aware
      CASE over a transform(array(named_struct(...))) so both
      arguments evaluate exactly once.
    - ``radians``: Hive is Java Math.toRadians = x / 180 * PI; Spark
      multiplies x * PI / 180 — a last-ULP difference the goldens
      print (udf_radians.q: 1.000000357564167 vs ...672).
    - ``aes_encrypt/aes_decrypt``: Hive uses AES/ECB/PKCS5Padding
      (GenericUDFAesBase); Spark defaults to GCM with a random IV —
      nondeterministic AND wrong length. Pin 'ECB'. A LITERAL key of
      invalid length answers NULL like Hive (Spark raises); non-literal
      keys keep Spark's typed error.
    - ``from_utc_timestamp/to_utc_timestamp``: literal 3-letter zone
      abbreviations map through java.time.ZoneId.SHORT_IDS (Hive
      accepts them via TimeZone.getTimeZone; Spark rejects).
    - ``logged_in_user()``: NULL — Hive's GenericUDFLoggedInUser
      returns the authenticated session user, null when there is no
      session (the library context here, and the golden's answer).
    - ``std/stddev/variance``: Hive's are the POPULATION aggregates
      (GenericUDAFStd / GenericUDAFVariance,
      FunctionRegistry.java:407-446); Spark aliases all three to the
      SAMPLE forms — silently different values (groupby3.q golden).
      Rewritten to the explicit stddev_pop/var_pop, on which both
      engines agree.
    """
    def fix_add_months(args):
        if len(args) != 2:
            return None
        d, n = args[0].strip(), args[1].strip()
        return (
            "element_at(transform(array(named_struct('d', "
            f"CAST({d} AS DATE), 'n', {n})), __am -> "
            "CASE WHEN dayofmonth(__am.d) = dayofmonth(last_day(__am.d)) "
            "THEN last_day(add_months(__am.d, __am.n)) "
            "ELSE add_months(__am.d, __am.n) END), 1)"
        )

    def fix_radians(args):
        if len(args) != 1:
            return None
        return f"(CAST({args[0].strip()} AS DOUBLE) / 180.0D * pi())"

    def fix_aes(args):
        if len(args) != 2:
            return None
        key = args[1].strip()
        km = re.fullmatch(
            r"(?:binary\s*\(\s*)?'([^']*)'\s*\)?", key
        ) or re.fullmatch(r'(?:binary\s*\(\s*)?"([^"]*)"\s*\)?', key)
        if km and len(km.group(1)) not in (16, 24, 32):
            return "CAST(NULL AS BINARY)"
        return [args[0], args[1], "'ECB'"]

    def fix_utc_ts(args):
        if len(args) != 2:
            return None
        tz = args[1].strip()
        tm = re.fullmatch(r"['\"](.*)['\"]", tz, re.DOTALL)
        if not tm:
            return None  # non-literal zone — Spark's typed error stands
        z = tm.group(1)
        if z in _JAVA_SHORT_TZ:
            return [args[0], f"'{_JAVA_SHORT_TZ[z]}'"]
        # region ids, offsets, GMT/UTC[±x] pass through; anything else
        # falls back to GMT exactly like java.util.TimeZone.getTimeZone
        # (Hive: unparseable zone string → GMT, not an error)
        if re.fullmatch(
            r"[A-Za-z_]+/[A-Za-z0-9_+\-/]+|GMT|UTC|UT|Z"
            r"|(?:GMT|UTC|UT)?[+-]\d{1,2}(?::?\d{2})?",
            z,
        ):
            return None
        return [args[0], "'GMT'"]

    def fix_logged_in_user(args):
        if args and any(a.strip() for a in args):
            return None
        return "CAST(NULL AS STRING)"

    for call_re, target in (
        (re.compile(r"\bstd\s*\(", re.IGNORECASE), "stddev_pop"),
        (re.compile(r"\bstddev\s*\(", re.IGNORECASE), "stddev_pop"),
        (re.compile(r"\bvariance\s*\(", re.IGNORECASE), "var_pop"),
    ):
        query = _rewrite_call_args(
            query, call_re,
            lambda args, t=target: f"{t}({', '.join(args)})",
        )
    query = _rewrite_call_args(query, _ADD_MONTHS_CALL, fix_add_months)
    query = _rewrite_call_args(query, _RADIANS_CALL, fix_radians)
    query = _rewrite_call_args(query, _AES_CALL, fix_aes)
    query = _rewrite_call_args(query, _UTC_TS_CALL, fix_utc_ts)
    query = _rewrite_call_args(
        query, _LOGGED_IN_USER_CALL, fix_logged_in_user
    )
    return query


def _rewrite_trunc_quarter(query: str) -> str:
    """Hive's trunc covers two surfaces Spark's does not
    (GenericUDFTrunc, reference:
    ql/src/java/.../udf/generic/GenericUDFTrunc.java; udf_trunc.q and
    udf_trunc_number.q goldens):

    - ``trunc(date, 'Q')`` — Spark spells the quarter format 'QUARTER'
      and returns NULL for 'Q', so normalize the literal;
    - NUMERIC trunc ``trunc(x)`` / ``trunc(x, d)`` (d an integer
      literal, possibly negative) — Spark's trunc is date-only, so
      rewrite to ``(x - (x) % p)`` with p = 10^-d, which truncates
      toward zero for both signs (the % remainder carries the
      dividend's sign) and preserves the input's double/decimal type.
      The argument is emitted twice, so a nondeterministic x (rand())
      is unsupported here — same documented restriction as
      greatest/least.

    A two-argument call whose second argument is neither an integer
    literal nor a 'Q' literal is left for Spark's date trunc."""
    def fix(args):
        if len(args) == 1:
            x = args[0].strip()
            return f"(({x}) - ({x}) % 1)"
        if len(args) == 2 and re.fullmatch(
            r"['\"][qQ]['\"]", args[1].strip()
        ):
            return [args[0], "'QUARTER'"]
        if len(args) == 2:
            d_lit = args[1].strip()
            if re.fullmatch(r"-?\d+", d_lit):
                d = int(d_lit)
                p = "1" + "0" * (-d) if d <= 0 else "0." + "0" * (d - 1) + "1"
                x = args[0].strip()
                return f"(({x}) - ({x}) % {p})"
        return None

    return _rewrite_call_args(query, _TRUNC_CALL, fix)


def _rewrite_json_path_dot_bracket(query: str) -> str:
    """Hive's get_json_object accepts ``$.[0]`` as a synonym for
    ``$[0]`` (udf_get_json_object.q golden; the reference's JsonPath
    tokenizer treats '.' before '[' as a no-op) — Spark's path parser
    rejects the dot-bracket form, so normalize literal paths."""
    def fix(args):
        if len(args) == 2:
            p = args[1].strip()
            if (
                len(p) >= 2
                and p[0] == p[-1]
                and p[0] in "'\""
                and ".[" in p
            ):
                return [args[0], p[0] + p[1:-1].replace(".[", "[") + p[0]]
        return None

    return _rewrite_call_args(query, _GET_JSON_CALL, fix)


_TUPLE_IN = re.compile(r"\)\s*IN\s*\(", re.IGNORECASE)


def _rewrite_tuple_in(query: str) -> str:
    """Hive's multi-column IN — ``(a, b) IN ((1, 1), (2, 2))``
    (join45.q; GenericUDFIn over struct values) — coerces each FIELD
    pairwise, so a string key matches an int literal. Spark compares
    whole structs and rejects the mixed-type form
    (DATATYPE_MISMATCH.DATA_DIFF_TYPES). Expand to the standard OR of
    per-field conjunctions, which is the SQL definition of row-value
    IN and restores Spark's ordinary binary coercion per field. Only
    fires when the left side is a bare parenthesized tuple of arity
    >= 2 and EVERY right-side item is a parenthesized tuple of the
    same arity (subquery IN and scalar IN are untouched)."""
    out = []
    while True:
        m = _search_code(_TUPLE_IN, query)
        if m is None:
            break
        # left tuple: scan backwards from the ')' at m.start() to its '('
        close_l = m.start()
        depth = 0
        open_l = -1
        for j in range(close_l, -1, -1):
            c = query[j]
            if c == ")":
                depth += 1
            elif c == "(":
                depth -= 1
                if depth == 0:
                    open_l = j
                    break
        open_r = query.index("(", m.end() - 1)
        close_r = _scan_balanced(query, open_r)
        if open_l < 0 or close_r >= len(query):
            break
        lhs = _split_top_args(query[open_l + 1:close_l])
        items = _split_top_args(query[open_r + 1:close_r])
        prev = query[open_l - 1] if open_l > 0 else ""
        ok = (
            len(lhs) >= 2
            and items
            # a word char before '(' means a function call's argument
            # list, not a bare row-value tuple
            and not (prev.isalnum() or prev == "_")
            and all(
                it.strip().startswith("(") and it.strip().endswith(")")
                for it in items
            )
        )
        tuples = []
        if ok:
            for it in items:
                vals = _split_top_args(it.strip()[1:-1])
                if len(vals) != len(lhs):
                    ok = False
                    break
                tuples.append(vals)
        if not ok:
            out.append(query[:close_r + 1])
            query = query[close_r + 1:]
            continue
        ors = " OR ".join(
            "("
            + " AND ".join(
                f"({l.strip()}) = ({v.strip()})"
                for l, v in zip(lhs, vals)
            )
            + ")"
            for vals in tuples
        )
        out.append(query[:open_l] + "(" + ors + ")")
        query = query[close_r + 1:]
    out.append(query)
    return "".join(out)


def _rewrite_interval_ctors(query: str) -> str:
    """Hive's interval constructor functions —
    ``interval_year_month('2-2')`` / ``interval_day_time('2 1:2:3')``
    (GenericUDFToIntervalYearMonth/DayTime, registered as cast
    functions at exec/FunctionRegistry.java:399-400; interval_1.q,
    interval_2.q) — map to Spark's string→interval casts."""
    def fix_ym(args):
        if len(args) == 1:
            return (
                f"CAST(({args[0].strip()}) AS INTERVAL YEAR TO MONTH)"
            )
        return None

    def fix_dt(args):
        if len(args) == 1:
            return (
                f"CAST(({args[0].strip()}) AS INTERVAL DAY TO SECOND)"
            )
        return None

    out = []
    while True:
        m = _search_code(_INTERVAL_CTOR_CALL, query)
        if m is None:
            break
        open_idx = query.index("(", m.start())
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            break
        args = _split_top_args(query[open_idx + 1:close])
        fix = fix_ym if m.group(1).lower() == "interval_year_month" else fix_dt
        repl = fix(args)
        if repl is None:
            out.append(query[:close + 1])
        else:
            out.append(query[:m.start()] + repl)
        query = query[close + 1:]
    out.append(query)
    return "".join(out)


def _rewrite_mask_family(query: str) -> str:
    """Hive's data-masking UDF family as SQL-callable forms
    (GenericUDFMaskFirstN ff., exec/FunctionRegistry.java:531-536;
    udf_mask_*.q goldens), composed over Spark's native ``mask``:

    - mask_hash(x)                      → md5(cast(x AS string))
      (Hive 2.3 hashes with md5 — the golden digests are 32-hex;
      Hive 3 moved to sha256)
    - mask_first_n(x, n, U, l, d, o)    → mask the first n chars
    - mask_last_n(x, n, U, l, d, o)     → mask the last n chars
    - mask_show_first_n(x, n, U, l, d, o) → mask all but the first n
    - mask_show_last_n(x, n, U, l, d, o)  → mask all but the last n

    Defaults mirror Hive: n=4, upper 'X', lower 'x', digit 'n', other
    kept (NULL). The value/count expressions are emitted more than
    once, so nondeterministic arguments are unsupported (same
    documented restriction as greatest/least). The bare ``mask``
    string form is Spark-native with identical defaults; Hive's
    numeric/date masking overloads (6+ args) are not provided."""
    def fix_factory(name):
        def fix(args):
            if not args:
                return None
            x = f"({args[0].strip()})"
            if name == "mask":
                # Hive's NUMERIC masking overload (GenericUDFMask 6th
                # arg = numberChar; udf_mask.q: mask(123,-1,-1,-1,-1,
                # '5') → 555): every digit of the NUMBER becomes the
                # mask digit. Spark's native mask is string-only and
                # 5-arg max. Statically-numeric inputs rewrite to a
                # digit translate; other 6-arg calls drop the (string-
                # irrelevant) numberChar and stay native.
                if len(args) < 6:
                    return None
                num = re.fullmatch(
                    _NUMERIC_LITERAL_ARG, args[0].strip()
                )
                nc = args[5].strip().strip("'\"")
                if nc in ("-1", ""):
                    nc = "1"  # Hive's default maskedNumber digit
                if num:
                    masked = "".join(
                        nc if ch.isdigit() else ch
                        for ch in num.group(1)
                    )
                    # Hive masks the DIGITS then converts back to the
                    # input's type — the golden wraps: 555 AS TINYINT
                    # = 43, 55555 AS SMALLINT = -9981
                    ty = (num.group(2) or "INT").upper()
                    return f"CAST({masked} AS {ty})"
                # DATE masking overload (args 7-9 = dayValue/
                # monthValue/yearValue, GenericUDFMask.transform(Date)
                # via java.sql.Date's 1900-based/0-based fields:
                # masked year N renders as 1900+N, masked month M is
                # 0-based, out-of-range values fall back to the
                # defaults day=1/month=0, and day overflow rolls over
                # like the lenient GregorianCalendar — udf_mask.q's
                # date battery). Static date-typed inputs only, same
                # discipline as the numeric overload.
                if len(args) >= 7 and (
                    re.search(r"(?is)\bas\s+date\s*\)\s*$",
                              args[0].strip())
                    or re.match(r"(?is)^date\s+'", args[0].strip())
                ):
                    dv = args[6].strip() if len(args) > 6 else "1"
                    mv = args[7].strip() if len(args) > 7 else "0"
                    yv = args[8].strip() if len(args) > 8 else "0"
                    y = (f"(CASE WHEN ({yv}) = -1 THEN year({x}) "
                         f"ELSE 1900 + ({yv}) END)")
                    mth = (f"(CASE WHEN ({mv}) = -1 THEN month({x}) "
                           f"WHEN ({mv}) BETWEEN 0 AND 11 "
                           f"THEN ({mv}) + 1 ELSE 1 END)")
                    d = (f"(CASE WHEN ({dv}) = -1 THEN day({x}) "
                         f"WHEN ({dv}) BETWEEN 1 AND 31 THEN ({dv}) "
                         f"ELSE 1 END)")
                    return (
                        f"date_add(make_date({y}, {mth}, 1), {d} - 1)"
                    )
                # -1 char args mean "Hive default" (upper X, lower x,
                # digit n, other kept = Spark NULL)
                defaults = ["'X'", "'x'", "'n'", "NULL"]
                rest = [
                    defaults[i] if a.strip() == "-1" else a.strip()
                    for i, a in enumerate(args[1:5])
                ]
                return f"mask({args[0].strip()}, {', '.join(rest)})"
            if name == "mask_hash":
                # Hive's GenericUDFMaskHash hashes only string/char/
                # varchar and answers NULL for anything else
                # (udf_mask_hash.q: numeric args → NULL). Only literal
                # arguments can be type-checked at rewrite time.
                if re.fullmatch(
                    r"\(\s*(?:cast\s*\(\s*)?[-+]?\d+(?:\.\d+)?\s*"
                    r"(?:as\s+(?:tinyint|smallint|int|integer|bigint|"
                    r"float|double|decimal[^)]*)\s*\))?\s*\)",
                    x,
                    re.IGNORECASE,
                ) or re.fullmatch(
                    r"\(\s*cast\s*\(\s*'[^']*'\s*as\s+"
                    r"(?:date|timestamp)\s*\)\s*\)",
                    x,
                    re.IGNORECASE,
                ):
                    return "CAST(NULL AS STRING)"
                return f"md5(cast({x} AS string))"
            n = f"({args[1].strip()})" if len(args) > 1 else "4"
            chars = [a.strip() for a in args[2:5]]
            chars += ["'X'", "'x'", "'n'"][len(chars):]
            other = args[5].strip() if len(args) > 5 else "NULL"
            m_args = ", ".join([chars[0], chars[1], chars[2], other])
            head_n = f"substring({x}, 1, {n})"
            tail_n = f"substring({x}, {n} + 1)"
            keep = f"greatest(length({x}) - {n}, 0)"
            head_keep = f"substring({x}, 1, {keep})"
            tail_keep = f"substring({x}, {keep} + 1)"
            if name == "mask_first_n":
                return f"concat(mask({head_n}, {m_args}), {tail_n})"
            if name == "mask_show_first_n":
                return f"concat({head_n}, mask({tail_n}, {m_args}))"
            if name == "mask_last_n":
                return f"concat({head_keep}, mask({tail_keep}, {m_args}))"
            # mask_show_last_n
            return f"concat(mask({head_keep}, {m_args}), {tail_keep})"

        return fix

    out = []
    while True:
        m = _search_code(_MASK_FAMILY_CALL, query)
        if m is None:
            break
        open_idx = query.index("(", m.start())
        close = _scan_balanced(query, open_idx)
        if close >= len(query):
            break
        args = _split_top_args(query[open_idx + 1:close])
        repl = fix_factory(m.group(1).lower())(args)
        if repl is None:
            out.append(query[:close + 1])
        else:
            out.append(query[:m.start()] + repl)
        query = query[close + 1:]
    out.append(query)
    return "".join(out)


_CHAR_VARCHAR_META = "__CHAR_VARCHAR_TYPE_STRING"


def _store_cast(col, field):
    """Hive store-assignment cast for one target column (FunctionRegistry
    implicit conversions): plain cast, except CHAR(n)/VARCHAR(n) targets
    (surfaced by Spark as StringType + metadata) TRUNCATE overlong values
    -- and pad, for CHAR -- the way Hive's writers do, instead of raising
    Spark's EXCEED_LIMIT_LENGTH at write time (char_1.q/varchar_2.q)."""
    from pyspark.sql import functions as F

    raw = field.metadata.get(_CHAR_VARCHAR_META) if field.metadata else None
    if raw:
        m = re.match(r"(char|varchar)\s*\(\s*(\d+)\s*\)", raw, re.IGNORECASE)
        if m:
            n = int(m.group(2))
            c = F.substring(col.cast("string"), 1, n)
            if m.group(1).lower() == "char":
                c = F.rpad(c, n, " ")
            return c
    return col.cast(field.dataType)


#: rewrite_hiveql's text passes, applied in this order
_TEXT_PASSES = (
    _dedup_grouping_sets,
    _rewrite_greatest_least,
    _rewrite_field_calls,
    _rewrite_noop_ptf,
    _reorder_forward_ctes,
    lambda q: _HINT_BEFORE_TRANSFORM.sub(r"\1\2", q),
    _rewrite_distinct_window,
    _rewrite_udf_hive_semantics,
    _rewrite_tuple_in,
    _rewrite_interval_ctors,
    _rewrite_mask_family,
    _rewrite_replicate_rows,
    _rewrite_trunc_quarter,
    _rewrite_json_path_dot_bracket,
    _rewrite_printf_double_literals,
)


def rewrite_hiveql(query: str, spark: SparkSession | None = None) -> str:
    """Apply the (small) set of HiveQL→Spark SQL rewrites.

    When a ``spark`` session is provided, TABLESAMPLE(BUCKET ... ON col)
    bucket columns are type-checked against the catalog: Hive buckets
    non-integral keys with Java String.hashCode, which pmod does not
    reproduce, so those raise HiveQLUnsupportedError instead of silently
    returning a different row set than Hive.
    """
    for text_pass in _TEXT_PASSES:
        query = text_pass(query)
    un = _UNSUPPORTED_VIRTUAL.search(query)
    if un:
        raise HiveQLUnsupportedError(
            f"virtual column {un.group(1)} has no Spark parquet-scan "
            "equivalent (row-identity inside a file block); use "
            "INPUT__FILE__NAME or monotonically_increasing_id() depending "
            "on intent"
        )
    if spark is not None and _TABLESAMPLE_NOON.search(query):
        # Implicit-column bucket sampling: Hive resolves the table's
        # CLUSTERED BY column (sample2.q/sample4.q run BUCKET x OUT OF
        # y with no ON over srcbucket) and prunes/filters on its hash.
        # Spark's native TABLESAMPLE(BUCKET x OUT OF y) is a RANDOM
        # row fraction — silently different rows — so the clause is
        # expanded to the explicit ON form here, or rejected when the
        # table has no bucket spec.
        def _expand(m: re.Match[str]) -> str:
            table = m.group(1)
            col = None
            try:
                for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
                    if r.col_name.strip() == "Bucket Columns":
                        names = re.findall(r"`?(\w+)`?", r.data_type)
                        col = names[0] if names else None
                        break
            except Exception:
                col = None
            if col is None:
                raise HiveQLUnsupportedError(
                    f"TABLESAMPLE(BUCKET {m.group(2)} OUT OF "
                    f"{m.group(3)}) on {table}: no CLUSTERED BY bucket "
                    "spec found to resolve the implicit sampling column "
                    "(Hive prunes on the table's bucket hash; Spark's "
                    "native form would sample a random row fraction "
                    "instead) — name the column with ON <col>"
                )
            return (
                f"{m.group(1)} TABLESAMPLE (BUCKET {m.group(2)} OUT OF "
                f"{m.group(3)} ON {col}){m.group(4) or ''}"
            )

        query = _TABLESAMPLE_NOON.sub(_expand, query)
    col_types: dict[int, str | None] = {}
    if spark is not None:
        for m in _TABLESAMPLE.finditer(query):
            table, col = m.group(1), m.group(4).split(".")[-1]
            try:
                schema = spark.table(table).schema
            except Exception:
                continue  # unregistered table — cannot resolve, let it run
            for f in schema.fields:
                if f.name.lower() == col.lower():
                    t = f.dataType.simpleString()
                    if t in ("string", "varchar", "char"):
                        # full Hive parity via the hive_bucket_hash UDF
                        from hive_2_3_2_spark.functions.hive_hash import (
                            register_hive_hash,
                        )

                        register_hive_hash(spark)
                        col_types[m.start()] = "string"
                    elif t not in _INTEGRAL_TYPES:
                        raise HiveQLUnsupportedError(
                            f"TABLESAMPLE(BUCKET ... ON {col}): column type "
                            f"{t} has no Hive bucket-hash emulation here "
                            "(integral keys use the value, string keys the "
                            "UTF-8 byte fold) — sample on an integral or "
                            "string column"
                        )
    out = _TABLESAMPLE.sub(
        lambda m: _rewrite_tablesample(m, col_types.get(m.start())), query
    )
    if _CREATE_TABLE_PREFIX.match(out):
        out = _rewrite_stored_as(_rewrite_uniontype(out))
        # Hive's bucket sort spec allows per-column ASC/DESC
        # (sort_merge_join_desc_1.q); Spark's bucket grammar is
        # ASC-only. The direction only shapes the file layout — reads
        # re-sort for SMB — so strip it rather than reject the DDL.
        out = _SORTED_BY_SPEC.sub(
            lambda m: m.group(1)
            + ", ".join(
                re.sub(
                    r"\s+(ASC|DESC)\s*$", "", c.strip(),
                    flags=re.IGNORECASE,
                )
                for c in m.group(2).split(",")
            )
            + ")",
            out,
        )
    for pat, repl in _REWRITES:
        out = pat.sub(repl, out)
    if "0x" in out:
        # Hive's charset-prefixed hex string literal — `_UTF-8 0xE9...`
        # decodes the bytes in the named charset (inputddl5.q;
        # LexerNoViableAltException path in ParseDriver handles the
        # `_<charset> 0x<hex>` token pair)
        def _decode_hex_literal(m: re.Match[str]) -> str:
            try:
                s = bytes.fromhex(m.group(2)).decode(
                    m.group(1).replace("-", "_")
                )
            except (ValueError, LookupError):
                return m.group(0)
            return "'" + s.replace("'", "\\'") + "'"

        out = re.sub(
            r"_([\w-]+)\s+0x([0-9A-Fa-f]+)", _decode_hex_literal, out
        )
    return out
