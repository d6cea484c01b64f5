"""SparkSession factory with Hive-2.3.2-parity configuration.

The reference engine (Apache Hive 2.3.2 fork at /root/reference) evaluates
queries with permissive, non-ANSI semantics — e.g. string/number comparisons
coerce to double and ``int / int`` yields double
(reference: ql/src/java/org/apache/hadoop/hive/ql/exec/FunctionRegistry.java:337
registers ``/`` as GenericUDFOPDivide which always returns double).
Spark 4 defaults to ANSI mode, so we turn it off to match Hive semantics.

Scale posture: every config below is chosen for a multi-executor cluster at
~100 TB, then merely *exercised* on local[32]:

- AQE on (runtime re-plan = Hive's CommonJoinResolver / SkewJoinResolver,
  reference: ql/.../optimizer/physical/PhysicalOptimizer.java:50-100).
- AQE skew-join on (= runtime skew handling in
  ql/.../exec/SkewJoinHandler.java:74).
- Broadcast threshold ~32 MB (= hive.mapjoin.smalltable.filesize auto
  map-join conversion, ql/.../optimizer/ConvertJoinMapJoin.java:78).
- Dynamic partition pruning on (= Hive's AppMasterEventOperator DPP events,
  ql/.../exec/AppMasterEventOperator.java:46).
- Shuffle partitions default 200 but AQE coalesces; at 100 TB you would
  raise ``spark.sql.shuffle.partitions`` to O(#cores * 2-3) — AQE's
  coalescing makes the initial number non-critical.
"""

from __future__ import annotations

import decimal
import math
import os
import tempfile
from typing import Any, Callable, Iterable

from pyspark.errors import PySparkTypeError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StringType,
    StructType,
)

_SCRATCH_BASE = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
    tempfile.gettempdir(), "hive_2_3_2_spark_scratch"
)

# Configs that matter at 100 TB; identical semantics at sf0.001.
ENGINE_CONFS: dict[str, str] = {
    # Hive-permissive semantics (not ANSI).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Runtime adaptivity — replaces Hive's physical resolvers (§4.3 SURVEY).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast (map-join) conversion threshold.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Partition pruning at runtime (Hive DPP parity).
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # Arrow for the Pandas-UDF slow path (only used where JVM exprs can't).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4's DataFrame-debugging call-site capture (on by default)
    # costs THREE extra py4j round trips per DataFrame/Column operation
    # (a conf.get + PySparkCurrentOrigin.set/.clear around every call —
    # pyspark/errors/utils.py:295-325) plus a Python stack walk. On this
    # host's ~2 ms localhost sockets that is most of the measured ~8 ms
    # per Column op; 100 ops cost 2.49 s with it on. It only enriches
    # error messages with user-code line numbers — the engine raises its
    # own typed errors — so it is pure per-op overhead here. Static conf:
    # must be set at session build (r12, guide §1/§4: shrink the
    # Python-to-JVM boundary).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Hive's datetime patterns ARE Java SimpleDateFormat (GenericUDFDateFormat
    # / UDFUnixTimeStamp wrap SimpleDateFormat directly) — week-based fields
    # ('Y'/'u'/'w'/'W'), 'E', 'G' are valid and lenient-parse semantics apply.
    # Spark 3+'s DateTimeFormatter refuses them; LEGACY is Spark's documented
    # remedy and exactly the reference semantics. Set at session build so the
    # SAME query returns the SAME result regardless of what ran before it
    # (a per-statement flip would be order-dependent).
    "spark.sql.legacy.timeParserPolicy": "LEGACY",
    # Engine.sql owns ${...} substitution (VariableSubstitution parity,
    # typed error on unbound names); Spark's own layer would otherwise
    # double-substitute and silently blank unbound references.
    "spark.sql.variable.substitute": "false",
    # Scan sizing: 128 MB splits is the right grain for 100 TB parquet.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Bucketed-table support (Hive bucketCols parity,
    # metastore/if/hive_metastore.thrift:285-286).
    "spark.sql.sources.bucketing.enabled": "true",
    # Hive's SMB join handles DIVISIBLE bucket counts exchange-free
    # (auto_sortmerge_join_*.q: 2-bucket joins 4-bucket by reading two
    # buckets per task); Spark's equivalent is coalescing the
    # larger-bucketed side — off by default upstream, on here for
    # parity. At 100 TB this removes BOTH shuffles from every
    # mixed-bucket-count join of co-bucketed fact tables.
    "spark.sql.bucketing.coalesceBucketsInJoin.enabled": "true",
    # Hive writes legacy-style partition dirs; keep overwrite dynamic so
    # INSERT OVERWRITE only replaces touched partitions (Hive semantics).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Parquet TIMESTAMP(NANOS) (events.ts in the testdata) is otherwise
    # rejected by Spark's reader; read as int64 nanos and let the catalog
    # normalize to microsecond timestamps (catalog.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep ALL session-created state out of the working directory (a
    # fresh clone must behave identically to a dirty checkout):
    # saveAsTable data goes under the scratch warehouse, and embedded
    # Derby (JDBC tests / any metastore use) writes its home + log
    # there instead of ./derby.log.
    "spark.sql.warehouse.dir": os.path.join(_SCRATCH_BASE, "warehouse"),
    "spark.driver.extraJavaOptions": (
        f"-Dderby.system.home={_SCRATCH_BASE} "
        f"-Dderby.stream.error.file={_SCRATCH_BASE}/derby.log"
    ),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "hive-2.3.2-spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for tests; on a real
    cluster the caller passes the cluster master / relies on spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{default_parallelism()}]"
    builder = builder.master(master)
    confs = dict(ENGINE_CONFS)
    # Local runs: modest shuffle parallelism; cluster runs keep Spark default
    # (200) + AQE coalescing, or the operator explicitly repartitions.
    if master.startswith("local"):
        confs.setdefault("spark.sql.shuffle.partitions", str(default_parallelism()))
        confs.setdefault("spark.driver.memory", "8g")
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Parsed DDL schemas, keyed by their text: the engine builds its local
# results under a few dozen fixed schemas, and each parse is a py4j call.
_DDL_SCHEMAS: dict[str, StructType] = {}


def _java_str(v: Any) -> str:
    """``String.valueOf`` of the Java object a Python scalar pickles to:
    ``createDataFrame(list)`` accepts any value in a string column and
    the JVM stores its ``toString`` (``EvaluatePython.makeFromJava``)."""
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, decimal.Decimal)):
        return str(v)  # BigDecimal.toString == Decimal.__str__
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        if v == 0 or 1e-3 <= abs(v) < 1e7:
            return repr(v)
        # Double.toString's computerized scientific notation: the same
        # shortest digits as repr, as d.ddd...E<exp>
        sign, digits, exp = decimal.Decimal(repr(v)).as_tuple()
        ds = "".join(map(str, digits)).rstrip("0") or "0"
        mant = ds[0] + "." + (ds[1:] or "0")
        return f"{'-' if sign else ''}{mant}E{exp + len(digits) - 1}"
    raise PySparkTypeError(
        errorClass="CANNOT_ACCEPT_OBJECT_IN_TYPE",
        messageParameters={
            "data_type": "StringType()",
            "obj_name": repr(v),
            "obj_type": type(v).__name__,
        },
    )


def _string_coercer(dt: DataType) -> Callable[[Any], Any] | None:
    """Applies ``_java_str`` to every string leaf of an internal value of
    type ``dt``; None when ``dt`` holds no string."""
    if isinstance(dt, StringType):
        return lambda v: None if v is None else _java_str(v)
    if isinstance(dt, ArrayType):
        elem = _string_coercer(dt.elementType)
        return elem and (
            lambda v: None if v is None else [elem(x) for x in v]
        )
    if isinstance(dt, MapType):
        key, val = _string_coercer(dt.keyType), _string_coercer(dt.valueType)
        if key is None and val is None:
            return None
        key, val = key or (lambda k: k), val or (lambda x: x)
        return (
            lambda v: None if v is None
            else {key(k): val(x) for k, x in v.items()}
        )
    if isinstance(dt, StructType):
        fields = [_string_coercer(f.dataType) for f in dt.fields]
        if not any(fields):
            return None
        return lambda v: None if v is None else tuple(
            f(x) if f else x for f, x in zip(fields, v)
        )
    return None


def local_frame(
    spark: SparkSession,
    rows: Iterable[Any],
    schema: str | StructType,
) -> DataFrame:
    """A DataFrame over rows the driver already holds, as a JVM
    LocalRelation: collecting it launches no Spark job.

    In classic PySpark, ``spark.createDataFrame(<python list>)`` is
    ``sc.parallelize`` plus a Python-worker RDD
    (``pyspark/sql/session.py`` ``_createFromLocal``), so every SET,
    DESCRIBE, SHOW or ``rows_affected`` result built that way cost one
    job with a task per core when collected (about 0.3 s on ``local[4]``).
    A ``pyarrow.Table`` input instead ships the rows to the JVM in one
    Arrow stream and becomes a ``LocalTableScan``, which Catalyst can
    also fold (ConvertToLocalRelation, PropagateEmptyRelation).

    ``schema`` is a DDL string or a ``StructType`` and is required: the
    rows are never inferred. Every row is checked against it with the
    same verifier ``createDataFrame(list)`` applies (``verifySchema``),
    so a value that does not fit its declared type raises the same
    typed ``PySparkTypeError``/``PySparkValueError``. The values are then
    converted exactly as the list path converts them
    (``StructType.toInternal``: dates as epoch days, timestamps as UTC
    microseconds, naive datetimes read in the process's local zone; a
    number or boolean in a string column becomes its Java ``toString``),
    so both paths yield identical rows. Outside the suite's fixtures,
    this is the package's only path from Python rows to a DataFrame.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _create_converter, _make_type_verifier

    if isinstance(schema, str):
        struct = _DDL_SCHEMAS.get(schema)
        if struct is None:
            struct = _DDL_SCHEMAS[schema] = spark._parse_ddl(schema)
    else:
        struct = schema
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    stringify = _string_coercer(struct) or (lambda row: row)
    internal = []
    for row in rows:
        verify(row)
        internal.append(stringify(struct.toInternal(convert(row))))
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=field.type)
            for col, field in zip(columns, arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
