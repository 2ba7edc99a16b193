"""Weather ETL as a registered query (reference EP1 end-to-end).

The driver's oracle tables don't include weather data, so this entry
generates the deterministic synthetic fixtures (same generator the test
suite uses, seed=42) under /tmp and runs the full pipeline: quirky-CSV +
nested-JSON read → clean/convert → unionByName → quality gate.

HASH-ORACLED (round 6; previously rows-only because DuckDB 1.x cannot
read the latin-1 ``;``-CSV fixtures): the fixture generator now stages
``expected_unified.parquet`` — the ground-truth unified table computed
in PURE PYTHON from the generator's in-memory values *before* they were
serialized into quirky CSV/JSON — and the DuckDB oracle reads that.
The oracle is therefore independent of the engine under test: a bug in
any of S1-S4/P1-P13/U1 (mis-parsed cell, wrong unit constant, dropped
or duplicated row) breaks the value hash.  The golden 686 count and the
reference's golden-4936-analogue contract stay pinned in
tests/test_pipeline.py (/root/reference/test_etl_meteo.py:50-51).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_meteo_etl_spark.functions.portable import pround


def _fixtures() -> dict:
    from projet_meteo_etl_spark.sources.weather_fixtures import (
        fixture_manifest,
        generate_weather_fixtures,
    )

    d = os.path.join(tempfile.gettempdir(), "spark_graft_weather_fixtures")
    os.makedirs(d, exist_ok=True)
    marker = os.path.join(d, ".complete")
    fx = fixture_manifest(d)
    # marker honored: when a prior process fully staged the fixtures
    # (incl. the ground-truth parquet), DON'T rewrite them — this runs
    # at import time, and a concurrent oracle may be mid-read of the
    # very files a rewrite would truncate
    if os.path.exists(marker) and os.path.exists(fx["expected_path"]):
        return fx
    # first-time generation is serialized with an O_EXCL lock: two fresh
    # concurrent processes (e.g. bench --isolate next to pytest on a new
    # machine) must not both enter the generator — only the parquet write
    # is per-file atomic, so a concurrent oracle could read a torn CSV
    lock = os.path.join(d, ".lock")
    fd = None
    while fd is None:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            import time

            try:  # identity of the lock we are waiting on
                seen = os.stat(lock)
            except FileNotFoundError:
                continue  # released between open and stat — retry
            for _ in range(600):  # wait ≤60 s for the winner's marker
                if os.path.exists(marker) and os.path.exists(
                    fx["expected_path"]
                ):
                    return fx
                time.sleep(0.1)
            # stale lock (the generating process died): reclaim it and
            # retry the O_EXCL acquisition — generating WITHOUT the lock
            # would let two timed-out waiters regenerate concurrently
            # (the exact race the lock exists to prevent) and would leave
            # the stale lock taxing every future fresh process 60 s.
            # Reclaim via ATOMIC RENAME: exactly one waiter's rename of
            # the observed inode succeeds (stat-then-unlink would let a
            # second waiter delete the first's freshly re-acquired LIVE
            # lock); the identity check keeps a waiter from renaming a
            # lock that was already released and re-acquired meanwhile
            try:
                cur = os.stat(lock)
                if (cur.st_ino, cur.st_mtime_ns) == (
                    seen.st_ino,
                    seen.st_mtime_ns,
                ):
                    reclaim = f"{lock}.reclaim.{os.getpid()}"
                    os.rename(lock, reclaim)
                    got = os.stat(reclaim)
                    if (got.st_ino, got.st_mtime_ns) == (
                        seen.st_ino,
                        seen.st_mtime_ns,
                    ):
                        os.unlink(reclaim)  # reclaimed the stale lock
                    else:
                        # the rename raced a fresh acquisition and moved
                        # a LIVE lock — put it back (detected, restored)
                        os.rename(reclaim, lock)
            except OSError:
                pass  # replaced or reclaimed by another waiter — retry
    try:
        fx = generate_weather_fixtures(d)
        with open(marker, "w") as f:
            f.write("ok")
    finally:
        os.close(fd)
        try:
            os.unlink(lock)
        except OSError:
            pass
    return fx


# the oracle SQL below embeds the staged ground-truth path, and the
# driver may evaluate the oracle BEFORE the Spark query runs — so the
# fixtures (including expected_unified.parquet) are materialized at
# import time.  Cheap (~700 records, marker-cached) and idempotent.
_EXPECTED_PARQUET = _fixtures()["expected_path"]


def weather_etl_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full EP1: multi-source read → clean → union; returns the unified
    table ordered by (station, ts) for a stable rows-only signature."""
    from projet_meteo_etl_spark.catalog import harden_session
    from projet_meteo_etl_spark.pipeline import build_unified

    harden_session(spark)  # driver gate sessions default to ANSI mode
    fx = _fixtures()
    return build_unified(spark, fx["csv_manifests"], fx["json_path"]).orderBy(
        "id_station", "date_heure_utc"
    )


def weather_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 analogue: the fused quality-expectation report over the
    unified weather table (1 scan vs the reference's 10)."""
    from projet_meteo_etl_spark.operators.quality import (
        WEATHER_EXPECTATIONS,
        quality_report_df,
    )

    unified = weather_etl_unified(spark, sf_dir)
    return quality_report_df(unified, WEATHER_EXPECTATIONS).orderBy("check")


def weather_station_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-station climate summary over the unified table — the
    report a consumer of the reference's MongoDB collection would run
    next (the reference itself stops at global min/max dates,
    ``/root/reference/etl_meteo.py:127-129``): observation count,
    temperature min/max, mean pressure, rain total per (station, day).

    Exactness: min/max on doubles are comparison-only (safe); the two
    SUMS run in integer centi-units so partial-aggregation merge order
    cannot flip a rounding boundary.  The oracle recomputes from the
    independently-staged ground-truth parquet, so this also extends the
    pipeline-vs-ground-truth contract to per-day granularity.
    """
    u = weather_etl_unified(spark, sf_dir)
    press_c = F.expr("CAST(floor(pression_hpa * 100.0 + 0.5) AS BIGINT)")
    rain_c = F.expr("CAST(floor(pluie_accum_mm * 100.0 + 0.5) AS BIGINT)")
    return (
        u.groupBy(
            "id_station", F.to_date("date_heure_utc").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.min("temperature_c").alias("temp_min"),
            F.max("temperature_c").alias("temp_max"),
            pround(
                F.sum(press_c) / F.lit(100.0) / F.count("pression_hpa"), 4
            ).alias("press_avg"),
            (F.sum(rain_c) / F.lit(100.0)).alias("rain_total_mm"),
        )
        .orderBy("id_station", "day")
    )


def weather_anomaly_rate_by_station(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-station physical-plausibility anomaly rate — the reference's
    EP3 audit (``/root/reference/quality_audit.py:42-69``: 4 range
    scans + a global ``anomalies/total×100``) generalized to the
    grouping a station operator needs and FUSED into one scan (the
    reference issues one collection scan per field).  Rate is exact
    integer ppm (``violations·1e6 DIV total``); the four range
    constraints are the reference's own (temp [-50,50] °C, humidity
    [0,100] %, pressure [800,1100] hPa, wind [0,50] m/s,
    ``quality_audit.py:11-16``).
    """
    u = weather_etl_unified(spark, sf_dir)

    def oor(col: str, lo: float, hi: float):
        return F.sum(
            F.when(
                (F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi)), 1
            ).otherwise(0)
        ).cast("long")

    per = u.groupBy("id_station").agg(
        F.count(F.lit(1)).alias("n_obs"),
        oor("temperature_c", -50.0, 50.0).alias("oor_temp"),
        oor("humidite_pct", 0.0, 100.0).alias("oor_hum"),
        oor("pression_hpa", 800.0, 1100.0).alias("oor_press"),
        oor("vent_vitesse_ms", 0.0, 50.0).alias("oor_wind"),
    )
    return per.select(
        "id_station",
        "n_obs",
        "oor_temp",
        "oor_hum",
        "oor_press",
        "oor_wind",
        F.expr(
            "CAST((oor_temp + oor_hum + oor_press + oor_wind) * 1000000"
            " DIV (4 * n_obs) AS BIGINT)"
        ).alias("anomaly_rate_ppm"),
    ).orderBy("id_station")


#: deterministic holdout: observations whose md5(station:epoch_us)
#: lands on residue 0 mod this are masked and re-predicted (~10%)
WX_HOLDOUT_MOD = 10


def weather_impute_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-station regression imputation of ``temperature_c`` —
    the audit-to-REPAIR step the reference can only flag
    (``/root/reference/quality_audit.py:42-58`` counts nulls and
    out-of-range values; a production weather pipeline then FILLS the
    gap from a co-located station's same-hour reading).  Run as a
    cross-validated audit so it is verifiable without real gaps: a
    deterministic ~10% holdout (md5 residue) is masked, each masked
    reading is re-predicted from every other station's unmasked
    same-timestamp reading via per-station-pair OLS fit on the unmasked
    co-observations, and the per-pair MAE / max error / slope are the
    result — the table that says WHICH neighbor is a trustworthy donor
    before any real gap appears.

    Exact integers end-to-end: temps in centi-°C; the OLS prediction is
    one rational ``(Σy·βden + βnum·(n·x − Σx)) / (n·βden)`` evaluated
    in DECIMAL(38,0)/HUGEINT with trunc-toward-zero division on both
    engines (Spark ``DIV`` and DuckDB ``//`` both truncate toward zero
    on every sign; the oracle's sign-split is defensive, pinning the
    same result under a flooring ``//`` as well).  Headroom: the
    widened triple product stays inside DECIMAL(38,0) for per-pair
    co-observation counts up to ~10⁸.

    Scale: the co-observation join keys on timestamp, whose fan-out is
    the CO-LOCATED station group size (bounded — a deployment buckets
    by region first), and the pair-stats relation (≤ stations² rows)
    broadcasts onto the holdout join.  The oracle recomputes everything
    from the independently-staged ground-truth parquet, extending the
    pipeline-vs-ground-truth contract to the repair math.
    """
    u = weather_etl_unified(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("st"), F.col("us").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    t = (
        u.filter(F.col("temperature_c").isNotNull())
        .select(
            F.col("id_station").alias("st"),
            F.unix_micros(F.col("date_heure_utc")).alias("us"),
            F.expr(
                "CAST(floor(temperature_c * 100.0 + 0.5) AS BIGINT)"
            ).alias("tc"),
        )
        .withColumn(
            "held", (h % WX_HOLDOUT_MOD == 0).cast("int")
        )
        # consumed by the training join (both sides), the holdout side,
        # and the donor side: persist so the 15-source ETL runs once
        .persist()
    )
    tr_a = t.filter(F.col("held") == 0).select(
        F.col("st").alias("tgt"), "us", F.col("tc").alias("y")
    )
    tr_b = t.filter(F.col("held") == 0).select(
        F.col("st").alias("src"), "us", F.col("tc").alias("x")
    )
    stats = (
        tr_a.join(tr_b, "us")
        .filter(F.col("tgt") != F.col("src"))
        .groupBy("tgt", "src")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        )
        .withColumn(
            "bnum",
            F.expr("CAST(n AS DECIMAL(38,0)) * sxy - sx * sy"),
        )
        .withColumn(
            "bden",
            F.expr("CAST(n AS DECIMAL(38,0)) * sxx - sx * sx"),
        )
        .filter(F.col("bden") > 0)  # degenerate (constant-x) pairs skip
        .withColumn(
            "slope_ppm",
            F.expr("CAST(bnum * 1000000 DIV bden AS BIGINT)"),
        )
        .withColumn("n_train", F.col("n").cast("long"))
    )
    held_rows = t.filter(F.col("held") == 1).select(
        F.col("st").alias("tgt"), "us", F.col("tc").alias("true_tc")
    )
    src_rows = t.filter(F.col("held") == 0).select(
        F.col("st").alias("src"), "us", F.col("tc").alias("x")
    )
    imp = (
        held_rows.join(src_rows, "us")
        .join(F.broadcast(stats), ["tgt", "src"])
        .withColumn(
            "pred",
            F.expr(
                "CAST((sy * bden + bnum * (CAST(n AS DECIMAL(38,0)) * x"
                " - sx)) DIV (CAST(n AS DECIMAL(38,0)) * bden) AS BIGINT)"
            ),
        )
    )
    from projet_meteo_etl_spark.cachescope import scoped_cache

    out = (
        imp.groupBy("tgt", "src")
        .agg(
            F.max("n_train").alias("n_train"),
            F.max("slope_ppm").alias("slope_ppm"),
            F.count(F.lit(1)).alias("n_imputed"),
            F.expr(
                "CAST(sum(abs(pred - true_tc)) DIV count(1) AS BIGINT)"
            ).alias("mae_centi"),
            F.expr("CAST(max(abs(pred - true_tc)) AS BIGINT)").alias(
                "max_abs_err_centi"
            ),
        )
        .select(
            F.col("tgt").alias("id_station"),
            F.col("src").alias("src_station"),
            "n_train",
            "slope_ppm",
            "n_imputed",
            "mae_centi",
            "max_abs_err_centi",
        )
        .orderBy("id_station", "src_station")
    )
    return scoped_cache(out, t)


SPARK_QUERIES = {
    "weather_etl_unified": weather_etl_unified,
    "weather_quality_report": weather_quality_report,
    "weather_station_daily_rollup": weather_station_daily_rollup,
    "weather_anomaly_rate_by_station": weather_anomaly_rate_by_station,
    "weather_impute_temperature": weather_impute_temperature,
}

WEATHER_UNIFIED_SQL = f"""
SELECT date_heure_utc, temperature_c, humidite_pct, pression_hpa,
       vent_vitesse_ms, id_station, source_donnees, pluie_accum_mm
FROM read_parquet('{_EXPECTED_PARQUET}')
ORDER BY id_station, date_heure_utc
"""

# the fused quality report, recomputed over the ground-truth parquet
# with the exact observed-string formats quality.py's verdict_cols emit
WEATHER_QUALITY_SQL = f"""
WITH u AS (SELECT * FROM read_parquet('{_EXPECTED_PARQUET}')),
a AS (
  SELECT count(*) AS total,
         sum(CASE WHEN temperature_c IS NULL THEN 1 ELSE 0 END) AS nulls_t,
         sum(CASE WHEN temperature_c < -50.0 OR temperature_c > 50.0
                  THEN 1 ELSE 0 END) AS oor_t,
         sum(CASE WHEN humidite_pct < 0.0 OR humidite_pct > 100.0
                  THEN 1 ELSE 0 END) AS oor_h,
         sum(CASE WHEN pression_hpa < 800.0 OR pression_hpa > 1100.0
                  THEN 1 ELSE 0 END) AS oor_p,
         sum(CASE WHEN vent_vitesse_ms < 0.0 OR vent_vitesse_ms > 50.0
                  THEN 1 ELSE 0 END) AS oor_w,
         count(*) - count(DISTINCT (date_heure_utc, id_station)) AS dups
  FROM u
)
SELECT * FROM (
  SELECT 'expect_count' AS "check", TRUE AS passed,
         '{{''total'': ' || CAST(total AS VARCHAR)
           || ', ''expected'': None}}' AS observed
  FROM a
  UNION ALL
  SELECT 'expect_no_nulls(temperature_c)', nulls_t <= 0,
         '{{''temperature_c'': ' || CAST(nulls_t AS VARCHAR) || '}}'
  FROM a
  UNION ALL
  SELECT 'expect_in_range(temperature_c,[-50.0,50.0])', oor_t = 0,
         '{{''violations'': ' || CAST(oor_t AS VARCHAR)
           || ', ''lo'': -50.0, ''hi'': 50.0}}'
  FROM a
  UNION ALL
  SELECT 'expect_in_range(humidite_pct,[0.0,100.0])', oor_h = 0,
         '{{''violations'': ' || CAST(oor_h AS VARCHAR)
           || ', ''lo'': 0.0, ''hi'': 100.0}}'
  FROM a
  UNION ALL
  SELECT 'expect_in_range(pression_hpa,[800.0,1100.0])', oor_p = 0,
         '{{''violations'': ' || CAST(oor_p AS VARCHAR)
           || ', ''lo'': 800.0, ''hi'': 1100.0}}'
  FROM a
  UNION ALL
  SELECT 'expect_in_range(vent_vitesse_ms,[0.0,50.0])', oor_w = 0,
         '{{''violations'': ' || CAST(oor_w AS VARCHAR)
           || ', ''lo'': 0.0, ''hi'': 50.0}}'
  FROM a
  UNION ALL
  SELECT 'expect_unique(date_heure_utc,id_station)', dups = 0,
         '{{''duplicates'': ' || CAST(dups AS VARCHAR) || '}}'
  FROM a
)
ORDER BY "check"
"""

WEATHER_DAILY_SQL = f"""
WITH u AS (SELECT * FROM read_parquet('{_EXPECTED_PARQUET}'))
SELECT id_station, CAST(date_heure_utc AS DATE) AS day,
       count(*) AS n_obs,
       min(temperature_c) AS temp_min,
       max(temperature_c) AS temp_max,
       floor((sum(CAST(floor(pression_hpa * 100.0 + 0.5) AS BIGINT))
              / 100.0 / count(pression_hpa)) * 10000.0 + 0.5) / 10000.0
         AS press_avg,
       sum(CAST(floor(pluie_accum_mm * 100.0 + 0.5) AS BIGINT)) / 100.0
         AS rain_total_mm
FROM u GROUP BY 1, 2 ORDER BY 1, 2
"""

WEATHER_ANOMALY_SQL = f"""
WITH u AS (SELECT * FROM read_parquet('{_EXPECTED_PARQUET}')),
per AS (
  SELECT id_station,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CASE WHEN temperature_c < -50.0 OR temperature_c > 50.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS oor_temp,
         CAST(sum(CASE WHEN humidite_pct < 0.0 OR humidite_pct > 100.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS oor_hum,
         CAST(sum(CASE WHEN pression_hpa < 800.0 OR pression_hpa > 1100.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS oor_press,
         CAST(sum(CASE WHEN vent_vitesse_ms < 0.0 OR vent_vitesse_ms > 50.0
                       THEN 1 ELSE 0 END) AS BIGINT) AS oor_wind
  FROM u GROUP BY 1
)
SELECT id_station, n_obs, oor_temp, oor_hum, oor_press, oor_wind,
       CAST((oor_temp + oor_hum + oor_press + oor_wind) * 1000000
            // (4 * n_obs) AS BIGINT) AS anomaly_rate_ppm
FROM per ORDER BY id_station
"""

WEATHER_IMPUTE_SQL = f"""
WITH t AS (
  SELECT id_station AS st, epoch_us(date_heure_utc) AS us,
         CAST(floor(temperature_c * 100.0 + 0.5) AS BIGINT) AS tc,
         CASE WHEN ('0x' || substr(md5(id_station || ':'
                      || CAST(epoch_us(date_heure_utc) AS VARCHAR)),
                    1, 15))::BIGINT % {WX_HOLDOUT_MOD} = 0
              THEN 1 ELSE 0 END AS held
  FROM read_parquet('{{expected}}')
  WHERE temperature_c IS NOT NULL
),
co AS (
  SELECT a.st AS tgt, b.st AS src,
         CAST(a.tc AS HUGEINT) AS y, CAST(b.tc AS HUGEINT) AS x
  FROM t a JOIN t b ON a.us = b.us AND a.st <> b.st
  WHERE a.held = 0 AND b.held = 0
),
stats AS (
  SELECT tgt, src, CAST(count(*) AS HUGEINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM co GROUP BY tgt, src
),
fit AS (
  SELECT tgt, src, n, sx, sy,
         n * sxy - sx * sy AS bnum,
         n * sxx - sx * sx AS bden
  FROM stats WHERE n * sxx - sx * sx > 0
),
imp AS (
  SELECT h.tgt, f.src,
         CAST(f.n AS BIGINT) AS n_train,
         CASE WHEN f.bnum >= 0
              THEN CAST(f.bnum * 1000000 // f.bden AS BIGINT)
              ELSE -CAST((-f.bnum) * 1000000 // f.bden AS BIGINT)
         END AS slope_ppm,
         h.true_tc,
         CASE WHEN f.sy * f.bden + f.bnum * (f.n * s.x - f.sx) >= 0
              THEN CAST((f.sy * f.bden + f.bnum * (f.n * s.x - f.sx))
                        // (f.n * f.bden) AS BIGINT)
              ELSE -CAST((-(f.sy * f.bden + f.bnum * (f.n * s.x - f.sx)))
                         // (f.n * f.bden) AS BIGINT)
         END AS pred
  FROM (SELECT st AS tgt, us, tc AS true_tc FROM t WHERE held = 1) h
  JOIN (SELECT st AS src, us, CAST(tc AS HUGEINT) AS x FROM t
        WHERE held = 0) s ON s.us = h.us
  JOIN fit f ON f.tgt = h.tgt AND f.src = s.src
)
SELECT tgt AS id_station, src AS src_station,
       max(n_train) AS n_train,
       max(slope_ppm) AS slope_ppm,
       CAST(count(*) AS BIGINT) AS n_imputed,
       CAST(sum(abs(pred - true_tc)) // count(*) AS BIGINT) AS mae_centi,
       CAST(max(abs(pred - true_tc)) AS BIGINT) AS max_abs_err_centi
FROM imp GROUP BY tgt, src
ORDER BY id_station, src_station
""".replace("{expected}", _EXPECTED_PARQUET)


ORACLE_SQL: dict[str, str] = {
    "weather_etl_unified": WEATHER_UNIFIED_SQL,
    "weather_quality_report": WEATHER_QUALITY_SQL,
    "weather_station_daily_rollup": WEATHER_DAILY_SQL,
    "weather_anomaly_rate_by_station": WEATHER_ANOMALY_SQL,
    "weather_impute_temperature": WEATHER_IMPUTE_SQL,
}
