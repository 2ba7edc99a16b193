"""Parquet table catalog over the driver-provided TPC-H-ish test data.

Mirrors the reference's "one source per table" manifest pattern
(``/root/reference/etl_meteo.py:16-34``) but as a declarative catalog:
paths in, lazily-scanned DataFrames out.  Filters and projections applied
downstream reach the parquet reader via Catalyst pushdown — check with
``df.explain()`` for ``PushedFilters`` / ``ReadSchema``.

Schema cache: a plain ``spark.read.parquet`` runs a Spark job to infer
the schema from the footers on every call, which at small per-query
data is most of a query's fixed cost.  :func:`load_table` infers each
table's schema once per session and supplies it to later reads, which
then run no job.  The key is the session plus the table path's
``(abspath, st_mtime_ns, st_size)``: a table rewritten at the same path
changes its stat and is inferred again.
"""

from __future__ import annotations

import itertools
import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: process-wide counter for :func:`unique_view` names
_VIEW_SEQ = itertools.count()


def unique_view(prefix: str) -> str:
    """A per-call temp-view name (``prefix__vNNN``).

    Queries that stage an intermediate behind ``createOrReplaceTempView``
    (the ``WITH RECURSIVE`` plans) must not share a session-global name:
    two concurrent invocations in one SparkSession — or user code that
    happens to use the same view name — would silently clobber each
    other before analysis binds the plan.  A monotone counter is enough;
    uniqueness only needs to hold within this process/session.
    """
    return f"{prefix}__v{next(_VIEW_SEQ)}"

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def harden_session(spark: SparkSession) -> None:
    """Pin the runtime-settable confs our plans assume, so queries run
    identically on an externally-built vanilla session (the driver's
    correctness gate constructs its own SparkSession, which in Spark 4
    defaults to ANSI mode and the machine timezone):

    - ANSI off: ``cast('n/a' AS DOUBLE)`` must yield null (the P1
      unparsable→null contract), not raise;
    - UTC session timezone: window starts / date parts must agree with
      the DuckDB oracle regardless of host timezone;
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS);
    - cached-plan coalescing: AQE may size a persisted intermediate's
      partitions like any other shuffle (see ``session.get_spark``).
    """
    for k, v in (
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — conf may be fixed; keep going
            pass


#: per-session inferred schemas: ``{session: {abspath: ((st_mtime_ns,
#: st_size), StructType)}}``; an entry goes with its session, and a
#: path's newer version replaces its older one
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    session and file version (see the module docstring).  A path that
    cannot be stat-ed takes the plain read, so a missing table raises
    the reader's own error."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key, stamp = os.path.abspath(path), (st.st_mtime_ns, st.st_size)
    schemas = _SCHEMAS.setdefault(spark, {})
    cached = schemas.get(key)
    if cached is not None and cached[0] == stamp:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    schemas[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one catalog table.

    The first scan of a table in a session infers its schema (one Spark
    job); later scans reuse it and run no job, until the table path's
    stat (mtime, size) changes, e.g. when it is rewritten.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a nanosecond
    BIGINT, which we convert to a microsecond TimestampType here (same
    truncation DuckDB applies when it casts nanos to its µs timestamps).
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    harden_session(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    types = {f.name: f.dataType for f in df.schema}
    ts_type = types.get("ts") if name == "events" else None
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
        # TIMESTAMP_NTZ in Spark 4; with the session pinned to UTC this
        # cast maps each wall-clock value to the identical instant DuckDB
        # sees, and restores TimestampType for unix_micros()/window().
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

def spread_scan(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Round-robin repartition a freshly-scanned (or narrowly-derived)
    DataFrame up to the session's default parallelism — but ONLY when
    the source actually under-partitions.

    Why: the guide's "input skew" remedy (one unsplittable file → the
    whole scan stage runs on one task).  The test fixtures are
    single-row-group parquet files, so every scan yields ONE partition
    and all CPU-heavy scan-stage work (md5 priorities, shingling,
    regex tokenization, codec kernels) serializes on one core of 32.
    One round-robin exchange of the (small) scan output unlocks the
    machine.

    Scale-adaptive by construction: the guard compares the plan's
    actual partition count against the session default parallelism, so
    on a cluster reading a real multi-file table (thousands of splits)
    this is a NO-OP — no shuffle is added at 100 TB.  The partition
    count read is driver-side plan inspection only (no job runs; same
    mechanism as the jdbc writer guard).
    """
    spark = df.sparkSession
    want = parts or spark.sparkContext.defaultParallelism
    try:
        have = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — planning quirk: keep the plan as-is
        return df
    if have * 2 <= want:
        return df.repartition(want)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several tables; also registers each as a temp view so the
    same queries can be written in pure SQL (``spark.sql``)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
