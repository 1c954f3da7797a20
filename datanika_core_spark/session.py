"""EngineSession — the engine's handle on a SparkSession.

Replaces the reference's warehouse-connection layer
(datanika/services/connection_service.py) with a single Spark
session + managed warehouse. All relational execution that the
reference delegated to postgres/snowflake/bigquery/... via dbt
(SURVEY.md §0) happens here in Spark SQL / Catalyst.

Scale notes (100 TB target):
- AQE is on: runtime partition coalescing, skew-join splitting and
  broadcast-demotion decisions happen per-stage from real statistics.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value;
  on a real cluster set it ~2-3× total cores (AQE coalesces down).
- Session timezone is pinned UTC so results are stable across
  environments (and comparable to DuckDB oracles).
- Table reads run no Spark job: ``read_table`` maps the file's parquet
  footer (one pyarrow metadata read) to the read schema Spark's
  inference would produce, instead of letting Spark run an inference
  job per read. Directories and globs still infer — at scale a table
  is many files whose footers Spark reads in parallel and merges.
  Nothing is cached: the footer read is cheaper than a cache lookup
  keyed on file identity and can never serve a stale schema.
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datanika_core_spark.naming import to_snake_case, validate_identifier

#: Tables every driver test-dataset directory contains (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_DEFAULTS: Mapping[str, str] = {
    # The driver testdata's `events.ts` is parquet TIMESTAMP(NANOS),
    # which Spark's vectorized reader rejects by default; read as
    # int64 nanos and rebuild (see read_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10 MB default is conservative; dims like region/nation/customer
    # are far below this even at sf100.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.ui.enabled": "false",
    # FAIR job scheduling so the concurrent ModelRunner's per-worker
    # pools (spark.scheduler.pool = models-<i>, plans/runner.py) do
    # real work: a wide topo level's models time-share executors
    # instead of queuing FIFO (dbt `threads: 4` parity — reference
    # dbt_project.py:231). Inert for single-job sessions.
    "spark.scheduler.mode": "FAIR",
}

#: shipped pool definitions for the ModelRunner workers; pools are
#: auto-created with the same defaults past models-3, the file is the
#: operator knob for re-weighting model runs on a shared cluster
FAIR_SCHEDULER_XML = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "resources",
    "fairscheduler.xml",
)


def build_spark(
    app_name: str = "datanika_core_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or int(cpus))
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    if os.path.isfile(FAIR_SCHEDULER_XML):
        conf.setdefault(
            "spark.scheduler.allocation.file", FAIR_SCHEDULER_XML
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: key under which Spark writers store their own Catalyst schema in the
#: footer; Spark's inference prefers it over the parquet types
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: characters that make Spark treat a path as a glob pattern
_GLOB_CHARS = re.compile(r"[*?\[\]{}\\]")

#: signed INT(bits) annotations, as Spark's ParquetToSparkSchemaConverter
#: maps them; decimals by physical type up to its precision limit
_INT_TYPES = {
    8: T.ByteType(), 16: T.ShortType(), 32: T.IntegerType(), 64: T.LongType()
}
_DECIMAL_MAX_PRECISION = {"INT32": 9, "INT64": 18, "FIXED_LEN_BYTE_ARRAY": 38}


def _read_footer(path: str):
    """pyarrow ``FileMetaData`` of a parquet file (of a directory: its
    first part file), or None when it cannot be read."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not inner:
                return None
            path = os.path.join(path, inner[0])
        return pq.read_metadata(path)
    except Exception:
        return None


def _leaf_type(spark: SparkSession, col) -> T.DataType | None:
    """Spark type of one parquet leaf column, as Spark's own schema
    inference maps it with ``nanosAsLong`` on; None outside the map."""
    phys, kind = col.physical_type, col.logical_type.type
    if kind == "NONE":
        if phys == "BYTE_ARRAY":
            as_string = spark.conf.get("spark.sql.parquet.binaryAsString")
            return T.BinaryType() if as_string == "false" else None
        return {
            "BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(),
            "INT64": T.LongType(), "FLOAT": T.FloatType(),
            "DOUBLE": T.DoubleType(),
        }.get(phys)
    if kind == "STRING" and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind == "DATE" and phys == "INT32":
        return T.DateType()
    if kind == "DECIMAL":
        if col.precision <= _DECIMAL_MAX_PRECISION.get(phys, 0):
            return T.DecimalType(col.precision, col.scale)
        return None
    lt = json.loads(col.logical_type.to_json())
    if kind == "INT" and phys in ("INT32", "INT64") and lt["isSigned"]:
        return _INT_TYPES.get(lt["bitWidth"])
    if kind == "TIMESTAMP" and phys == "INT64":
        if lt["timeUnit"] == "nanoseconds":
            return T.LongType()
        if lt["isAdjustedToUTC"]:
            return T.TimestampType()
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
        return T.TimestampNTZType() if ntz == "true" else T.TimestampType()
    return None


def footer_schema(
    spark: SparkSession, path: str
) -> tuple[T.StructType | None, list[str]]:
    """Read ``path``'s parquet footer once and return the read schema
    Spark's inference would produce from it, plus the columns stored
    as timestamp[ns] (illegal for Spark's reader, surfaced as int64
    under the nanosAsLong flag, which the caller sets).

    The schema is None — the caller lets Spark infer — for anything
    outside the proven map: a directory or glob path, a footer written
    by Spark (its own schema key wins), a struct/map/uint/INT96/
    fixed-size-binary/time column, or a non-default ``binaryAsString``.
    Every field is nullable, as Spark makes every file-source field.
    """
    footer = _read_footer(path)
    if footer is None:
        return None, []
    import pyarrow as pa

    arrow = footer.schema.to_arrow_schema()
    nanos = [f.name for f in arrow if str(f.type) == "timestamp[ns]"]
    if (
        not os.path.isfile(path)
        or _GLOB_CHARS.search(path)
        or _SPARK_SCHEMA_KEY in (footer.metadata or {})
        or len(arrow) != footer.num_columns
    ):
        return None, nanos
    fields = []
    for i, f in enumerate(arrow):
        col = footer.schema.column(i)
        if pa.types.is_list(f.type) and not pa.types.is_nested(
            f.type.value_type
        ):
            elem = (_leaf_type(spark, col)
                    if col.max_repetition_level == 1 else None)
            dt = elem and T.ArrayType(elem, True)
        elif col.max_repetition_level == 0 and col.path == f.name:
            dt = _leaf_type(spark, col)
        else:
            dt = None
        if dt is None:
            return None, nanos
        fields.append(T.StructField(f.name, dt, True))
    return T.StructType(fields), nanos


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, normalizing nanosecond timestamps to
    TIMESTAMP_NTZ (truncated to micros, matching how DuckDB/pandas
    read the same file).

    The read schema comes from the parquet footer (one pyarrow
    metadata read, well under a millisecond) through
    :func:`footer_schema`, which maps it exactly as Spark's inference
    would; supplying it means no schema-inference job runs on a read.
    Paths or columns outside that map (directories, globs, nested or
    unsigned columns, ...) fall back to plain ``spark.read.parquet``.
    There is no cache: a footer read costs less than a lookup keyed on
    the file's identity, and a schema derived on every call cannot go
    stale when the file is replaced.

    Runtime-sets the two confs it depends on so this works on any
    caller-provided SparkSession (e.g. the verify driver's), not just
    ones built by :func:`build_spark`.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema, nanos = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for col in nanos:
        df = df.withColumn(
            col,
            F.expr(f"cast(timestamp_micros({col} div 1000) as timestamp_ntz)"),
        )
    return df


class EngineSession:
    """Engine facade: one Spark session + a managed warehouse.

    The reference's "destination warehouse" becomes Spark's session
    catalog (parquet-backed managed tables); its per-tenant "dataset"
    (schema) becomes a Spark database (K2 —
    datanika/services/upload_service.py:32).
    """

    def __init__(self, spark: SparkSession | None = None, **kwargs):
        self.spark = spark or build_spark(**kwargs)

    # -- catalog helpers ------------------------------------------------

    def ensure_database(self, name: str) -> str:
        """CREATE DATABASE IF NOT EXISTS for a dataset name (K2)."""
        db = validate_identifier(to_snake_case(name))
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        return db

    def table_exists(self, qualified: str) -> bool:
        return self.spark.catalog.tableExists(qualified)

    def drop_database(self, name: str) -> None:
        db = validate_identifier(to_snake_case(name))
        self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")

    # -- data loading ---------------------------------------------------

    def load_dir(
        self,
        sf_dir: str,
        tables: Iterable[str] = TESTDATA_TABLES,
        register: bool = True,
    ) -> dict[str, DataFrame]:
        """Read each ``{sf_dir}/{name}.parquet`` and (optionally)
        register it as a temp view under its table name."""
        out: dict[str, DataFrame] = {}
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            df = read_table(self.spark, path)
            if register:
                df.createOrReplaceTempView(name)
            out[name] = df
        return out

    # -- querying -------------------------------------------------------

    def query(self, sql: str) -> DataFrame:
        """Read-only SQL passthrough (Q1 —
        datanika/services/connection_service.py:174-192)."""
        return self.spark.sql(sql)

    def stop(self) -> None:
        self.spark.stop()
