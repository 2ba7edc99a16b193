"""Catalog fixed costs: the per-session schema cache of ``load_table``
and AQE coalescing of persisted intermediates."""

from __future__ import annotations

import itertools

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from projet_meteo_etl_spark.catalog import harden_session, load_table

COALESCE_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Spark jobs ``fn()`` runs, counted under its own job group."""
    sc = spark.sparkContext
    group = f"catalog-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(spark, sf_dir, extra: bool = False) -> None:
    df = spark.createDataFrame(
        [(0, "AFRICA", "a"), (1, "AMERICA", "b")],
        "r_regionkey long, r_name string, r_comment string",
    )
    if extra:
        df = df.withColumn("r_extra", F.lit(7))
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/region.parquet")


def test_second_load_runs_no_job(spark, tmp_path):
    _write_region(spark, tmp_path)
    first, _ = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    second, n = _jobs(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert n == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    _write_region(spark, tmp_path)
    assert "r_extra" not in load_table(spark, str(tmp_path), "region").columns
    _write_region(spark, tmp_path, extra=True)
    df = load_table(spark, str(tmp_path), "region")
    assert "r_extra" in df.columns
    assert [r.r_extra for r in df.collect()] == [7, 7]


def test_missing_table_raises_reader_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path / "nowhere"), "region")


def test_harden_session_enables_cached_plan_coalescing(spark):
    old = spark.conf.get(COALESCE_CACHED)
    try:
        spark.conf.set(COALESCE_CACHED, "false")
        harden_session(spark)
        assert spark.conf.get(COALESCE_CACHED) == "true"
    finally:
        spark.conf.set(COALESCE_CACHED, old)


def test_persisted_aggregate_is_coalesced(spark):
    harden_session(spark)
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count().persist()
    try:
        assert agg.count() == 10
        assert agg.rdd.getNumPartitions() < n_shuffle
    finally:
        agg.unpersist()
