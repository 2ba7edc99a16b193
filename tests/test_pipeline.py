"""End-to-end weather pipeline tests — the reference's golden-invariant
e2e pattern (test_etl_meteo.py:14-92) ported: run the pipeline once,
assert count / nulls / types / date-range on the written table."""

from __future__ import annotations

import gc
import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from projet_meteo_etl_spark.pipeline import (
    FINAL_COLS,
    NUMERIC_FIELDS,
    run_full_etl,
)


@pytest.fixture(scope="module")
def etl_result(spark, weather_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("unified") / "weather.parquet")
    return run_full_etl(
        spark,
        csv_manifests=weather_dir["csv_manifests"],
        json_path=weather_dir["json_path"],
        output_path=out,
    ), weather_dir


def test_01_total_count(etl_result):
    """Golden row count (reference test_01: 4936 for its private data;
    our synthetic fixture pins its own golden count)."""
    res, fx = etl_result
    assert res.source_count == fx["golden_total"]
    assert res.sink_count == fx["golden_total"]
    assert res.count_reconciled


def test_02_no_missing_critical_values(etl_result):
    """No null temperature except the one deliberate falsy-quirk record
    per JSON station (reference test_02 asserts 0 on its clean data; our
    fixture plants empty temperature at h==7 per station per day)."""
    res, fx = etl_result
    df = res.unified
    null_temp = df.filter(F.col("temperature_c").isNull()).count()
    # 2 json stations × 7 days × 1 planted empty + 14 csv files × 0
    assert null_temp == 2 * 7


def test_03_numeric_fields_are_numbers(etl_result):
    """Schema-level type integrity (reference test_03's BSON $type check
    is impossible-by-construction here — assert the schema)."""
    res, _ = etl_result
    schema = {f.name: f.dataType.simpleString() for f in res.unified.schema.fields}
    for field in NUMERIC_FIELDS:
        assert schema[field] == "double", field


def test_04_date_range(etl_result):
    res, _ = etl_result
    mn, mx = res.unified.agg(
        F.min("date_heure_utc"), F.max("date_heure_utc")
    ).collect()[0]
    assert str(mn).startswith("2024-10-01")
    assert str(mx).startswith("2024-10-07")


def test_05_schema_and_columns(etl_result):
    res, _ = etl_result
    assert res.unified.columns == FINAL_COLS


def test_06_sources_both_present(etl_result):
    res, _ = etl_result
    srcs = {
        r["source_donnees"]: r["n"]
        for r in res.unified.groupBy("source_donnees")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert srcs["Weather Underground"] == 14 * 25
    assert srcs["Infoclimat"] == 2 * 7 * 24


def test_07_unit_conversions_applied(etl_result):
    """CSV temps arrive in °F (40..70) → °C range ≈ (4.4..21.1); a raw
    un-converted value would sit far outside."""
    res, _ = etl_result
    wu = res.unified.filter(F.col("source_donnees") == "Weather Underground")
    mn, mx = wu.agg(F.min("temperature_c"), F.max("temperature_c")).collect()[0]
    assert 3.0 < mn < mx < 22.0


def test_08_duplicates_detected(etl_result):
    """The fixture plants 1 duplicated timestamp per CSV file (14 total);
    the quality report's expect_unique must see them."""
    res, _ = etl_result
    dup_check = next(
        c for c in res.quality_report["checks"] if c.name.startswith("expect_unique")
    )
    assert dup_check.observed["duplicates"] == 14


def test_09_json_wind_default(etl_result):
    """P6: planted empty vent_moyen (h==9) → 0.0, not null."""
    res, _ = etl_result
    ic = res.unified.filter(
        (F.col("source_donnees") == "Infoclimat")
        & (F.hour("date_heure_utc") == 9)
    )
    rows = ic.select("vent_vitesse_ms").collect()
    assert rows and all(r[0] == 0.0 for r in rows)


def test_10_corrupt_and_missing_file_isolation(spark, weather_dir, tmp_path):
    """S2 fault isolation (reference etl_meteo.py:173-176 try/excepts
    each file): a structurally corrupt CSV and a nonexistent path in the
    manifest must not kill the read or change the good files' rows; an
    all-missing manifest yields an empty frame, not an error.  The
    ``{station: {date: path}}`` map is read in one scan: every row
    carries its own file's station and date, and a path listed under
    two stations yields its rows under both."""
    from projet_meteo_etl_spark.sources.weather_csv import read_weather_csv

    man = dict(weather_dir["csv_manifests"]["1001"])
    base = read_weather_csv(spark, {"1001": man}).count()
    assert base > 0 and base % len(man) == 0
    per_file = base // len(man)  # every fixture file has the same rows

    corrupt = tmp_path / "corrupt.csv"
    corrupt.write_bytes(b"\x00\xff\xfe garbage\nnot;a;valid\nrow?\n\x01\x02")
    bad = dict(man)
    bad["2024-10-08"] = str(corrupt)
    bad["2024-10-09"] = str(tmp_path / "does_not_exist.csv")
    assert read_weather_csv(spark, {"1001": bad}).count() == base

    all_missing = {k: v + ".gone" for k, v in man.items()}
    assert read_weather_csv(spark, {"1001": all_missing}).count() == 0

    def per_key(manifests):
        return {
            (r["id_station"], r["Date"]): r["n"]
            for r in read_weather_csv(spark, manifests)
            .groupBy("id_station", "Date")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    other = weather_dir["csv_manifests"]["1002"]
    days = sorted(man)
    two = {
        "1001": {d: man[d] for d in days[:3]},
        "1002": {d: other[d] for d in days[3:5]},
    }
    assert per_key(two) == {
        (s, d): per_file for s, m in two.items() for d in m
    }

    shared = man[days[0]]
    assert per_key(
        {"A": {days[0]: shared}, "B": {days[0]: shared}}
    ) == {("A", days[0]): per_file, ("B", days[0]): per_file}


def test_all_missing_manifest_flows_through_clean(spark):
    """Every manifest file absent → empty frame with the FULL raw
    schema, so clean_weather_csv still resolves (reference semantics:
    the loop ends empty, it does not error)."""
    from projet_meteo_etl_spark.pipeline import clean_weather_csv
    from projet_meteo_etl_spark.sources.weather_csv import read_weather_csv

    raw = read_weather_csv(
        spark, {"1001": {"2024-10-01": "/nonexistent/a.csv"}}
    )
    out = clean_weather_csv(raw)
    assert out.count() == 0
    assert out.columns[0] == "date_heure_utc"


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager (a private list, read
    through JVM reflection) after unreachable frames are finalized."""
    gc.collect()
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.getClass().getDeclaredField("cachedData")
    cached.setAccessible(True)
    return cached.get(cm).size()


def test_run_full_etl_leaves_no_cache(spark, weather_dir, tmp_path):
    """The call caches nothing: the unified plan is written once, and
    the audit reads the sink, so no cache entry outlives the call."""
    before = _cache_entries(spark)
    res = run_full_etl(
        spark,
        csv_manifests=weather_dir["csv_manifests"],
        json_path=weather_dir["json_path"],
        output_path=str(tmp_path / "out.parquet"),
    )
    assert _cache_entries(spark) == before
    assert res.unified.storageLevel == StorageLevel(False, False, False, False)
    assert res.count_reconciled


def _etl_jobs(spark, manifests, json_path, out) -> int:
    """Spark jobs one ``run_full_etl`` call runs under its own job group."""
    sc = spark.sparkContext
    group = f"etl-jobs-{len(manifests)}-{os.path.basename(out)}"
    sc.setJobGroup(group, group)
    try:
        res = run_full_etl(spark, manifests, json_path, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.count_reconciled
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_job_count_independent_of_station_count(spark, weather_dir, tmp_path):
    """One CSV scan for every station: the same fixed number of jobs
    for 1 and for 4 stations, whatever the manifest holds."""
    m1, m2 = (weather_dir["csv_manifests"][s] for s in ("1001", "1002"))
    days = sorted(m1)
    one = {"1001": m1}
    four = {
        "1001a": {d: m1[d] for d in days[:4]},
        "1001b": {d: m1[d] for d in days[4:]},
        "1002a": {d: m2[d] for d in days[:4]},
        "1002b": {d: m2[d] for d in days[4:]},
    }
    json_path = weather_dir["json_path"]
    n1 = _etl_jobs(spark, one, json_path, str(tmp_path / "one"))
    n4 = _etl_jobs(spark, four, json_path, str(tmp_path / "four"))
    assert n1 == n4 <= 7, (n1, n4)


def test_weather_imputation_contract(spark):
    """Cross-validated neighbor imputation: every ordered pair of
    distinct stations present, MAE bounded by the max error, the fit
    trained on strictly more rows than it predicts, and the whole
    result partition-independent."""
    from projet_meteo_etl_spark.plans.weather import (
        weather_etl_unified,
        weather_impute_temperature,
    )

    rows = weather_impute_temperature(spark, "/root/testdata/sf0.001").collect()
    n_st = (
        weather_etl_unified(spark, "/root/testdata/sf0.001")
        .select("id_station")
        .distinct()
        .count()
    )
    assert len(rows) == n_st * (n_st - 1)
    for r in rows:
        assert r["id_station"] != r["src_station"]
        assert r["n_train"] > r["n_imputed"] > 0
        assert 0 <= r["mae_centi"] <= r["max_abs_err_centi"]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows2 = weather_impute_temperature(
            spark, "/root/testdata/sf0.001"
        ).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert [tuple(r) for r in rows] == [tuple(r) for r in rows2]
