"""SparkSession bootstrap tuned for this engine.

Local testing runs on ``local[N]`` but every knob here is chosen for the
multi-executor case: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), broadcast threshold high enough that dimension
tables (region/nation/customer/supplier/part at bench scale) broadcast,
shuffle partitions sized for the test SFs but overridable for a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "projet-meteo-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    At 100 TB the same plan runs with ``shuffle_partitions`` in the
    thousands and the AQE coalescer shrinks post-shuffle partitions to
    target size; nothing else changes — all parallelism decisions are
    declarative.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffles under a persisted plan too.  With
        # it off (Spark's default) a cached intermediate keeps
        # spark.sql.shuffle.partitions partitions, so every build and
        # rescan of a small cache schedules that many near-empty tasks.
        # Safe at scale: AQE sizes cached partitions to the advisory size
        # as it does every other shuffle, and a user-numbered
        # repartition(n) is never coalesced.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # deliberate join strategy (guide §3.1/§9): let the planner pick
        # shuffled-hash over sort-merge when its size conditions hold —
        # skips both sort passes; the planner's canBuildLocalHashMap
        # size guard (and AQE's per-partition localMap threshold below)
        # keeps the build side bounded, so this is safe at any scale.
        # Measured on the SMJ-heavy queries: rocchio −35%,
        # frequent_triples −23% (OPTIMIZATION_r12.md).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", str(64 * 1024 * 1024)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # test data stores event ts as parquet TIMESTAMP(NANOS), which Spark
        # cannot read natively; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "false")
        # embedded Derby (JDBC sink tests) writes derby.log to the JVM's cwd
        # by default — keep build droppings out of the repo tree
        .config(
            "spark.driver.extraJavaOptions",
            "-Dderby.stream.error.file=/tmp/derby.log -Dderby.system.home=/tmp",
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
