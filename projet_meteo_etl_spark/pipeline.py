"""End-to-end weather ETL pipeline (reference EP1, SURVEY.md §3).

``run_full_etl`` in the reference (``/root/reference/etl_meteo.py:292-332``)
is a sequential script: loop 14 CSVs → pandas clean → list-extend → JSON
→ list-extend → integrity prints → Mongo truncate-insert → audit scans
against the loaded collection (``quality_audit.py``).

Here the whole thing is ONE lazily-built DataFrame DAG, run in a fixed
number of Spark jobs whatever the number of stations:

    read(csv manifests, all stations: one scan)  ┐
                                                 ├─ clean/convert (pure Column exprs)
    read(nested json)                            ┘
        → unionByName → filter(ts not null)          (no cache)
        → observe(count) → write parquet/JDBC (overwrite)
        → read the sink back → [quality report: one fused agg]

The source count is an observed metric of the write itself (the rows
that entered the writer), and the audit runs on the sink readback, like
the reference's audits on the loaded collection: its row total is the
sink count, so one pass gives both the count reconcile and the report.
The only shuffles are the grand-total quality aggregates (1-group, so
they reduce map-side); everything else is embarrassingly parallel over
file splits.  At 100 TB the same plan holds: more files → more splits.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from projet_meteo_etl_spark.functions import cleaning as C
from projet_meteo_etl_spark.sources.weather_csv import read_weather_csv
from projet_meteo_etl_spark.sources.weather_json import read_weather_json

#: unified target schema (reference README.md:41-57, etl_meteo.py:66);
#: date_heure_utc is typed TimestampType here (SURVEY §1.2 decision —
#: the reference keeps a string and parses transiently).
UNIFIED_SCHEMA = T.StructType(
    [
        T.StructField("date_heure_utc", T.TimestampType(), False),
        T.StructField("temperature_c", T.DoubleType(), True),
        T.StructField("humidite_pct", T.DoubleType(), True),
        T.StructField("pression_hpa", T.DoubleType(), True),
        T.StructField("vent_vitesse_ms", T.DoubleType(), True),
        T.StructField("id_station", T.StringType(), False),
        T.StructField("source_donnees", T.StringType(), False),
        T.StructField("pluie_accum_mm", T.DoubleType(), True),
    ]
)

FINAL_COLS = [f.name for f in UNIFIED_SCHEMA.fields]

#: numeric audit fields (reference etl_meteo.py:37)
NUMERIC_FIELDS = [
    "temperature_c",
    "humidite_pct",
    "pression_hpa",
    "vent_vitesse_ms",
    "pluie_accum_mm",
]


def clean_weather_csv(raw: DataFrame) -> DataFrame:
    """CSV-path transform (reference ``clean_and_convert_csv_df``,
    etl_meteo.py:48-67): P1 normalize + P2-P5 unit conversions + P7
    timestamp assembly + P11 null-ts filter + P12/P13 projection."""
    out = raw.select(
        C.assemble_timestamp(F.col("Date"), F.col("Time")).alias("date_heure_utc"),
        C.wu_temperature_c(F.col("Temperature")).alias("temperature_c"),
        C.clean_numeric(F.col("Humidity")).alias("humidite_pct"),
        C.wu_pressure_hpa(F.col("Pressure")).alias("pression_hpa"),
        C.wu_wind_ms(F.col("Speed")).alias("vent_vitesse_ms"),
        F.col("id_station"),
        F.col("source_donnees"),
        C.wu_rain_mm(F.col("`Precip. Accum.`")).alias("pluie_accum_mm"),
    )
    return out.filter(F.col("date_heure_utc").isNotNull())


def clean_weather_json(flat: DataFrame) -> DataFrame:
    """JSON-path transform (reference ``clean_and_convert_json``,
    etl_meteo.py:79-108): metric units, km/h→m/s with 0-default (P6),
    rain 1h/3h fallback (P9), double casts (P10 sane variant —
    divergence: the reference nulls real zeros, we keep them)."""
    out = flat.select(
        F.to_timestamp(F.col("dh_utc")).alias("date_heure_utc"),
        F.col("temperature").cast("double").alias("temperature_c"),
        F.col("humidite").cast("double").alias("humidite_pct"),
        F.col("pression").cast("double").alias("pression_hpa"),
        C.kmh_to_ms(F.col("vent_moyen")).alias("vent_vitesse_ms"),
        F.coalesce(F.col("id_station"), F.col("station_key")).alias("id_station"),
        F.col("source_donnees"),
        C.rain_accum(F.col("pluie_1h"), F.col("pluie_3h")).alias("pluie_accum_mm"),
    )
    return out.filter(F.col("date_heure_utc").isNotNull())


def unify(*sources: DataFrame) -> DataFrame:
    """U1 (etl_meteo.py:171,299-311): schema-aligned union of all
    per-source DataFrames — ``unionByName`` keeps it order-insensitive."""
    it = iter(sources)
    df = next(it).select(FINAL_COLS)
    for s in it:
        df = df.unionByName(s.select(FINAL_COLS))
    return df


def build_unified(
    spark: SparkSession,
    csv_manifests: dict[str, dict[str, str]],
    json_path: str | None,
) -> DataFrame:
    """Read → clean → unify: the lazy unified table of every CSV station
    (one scan, :func:`read_weather_csv`) and the optional JSON dump."""
    parts = [clean_weather_csv(read_weather_csv(spark, csv_manifests))]
    if json_path is not None:
        parts.append(clean_weather_json(read_weather_json(spark, json_path)))
    return unify(*parts)


@dataclass
class EtlResult:
    """Outcome of :func:`run_full_etl`.

    ``unified`` is the lazy, uncached plan the sink was written from:
    every action on it re-reads the sources.  ``source_count`` is the
    number of rows that entered the writer; ``sink_count`` and
    ``quality_report`` describe the sink as read back, as the
    reference's audits described the loaded collection.
    """

    unified: DataFrame
    output_path: str
    source_count: int
    sink_count: int
    quality_report: dict = field(default_factory=dict)

    @property
    def count_reconciled(self) -> bool:
        """Q1 — source↔sink count reconciliation (etl_meteo.py:201-207)."""
        return self.source_count == self.sink_count


def run_full_etl(
    spark: SparkSession,
    csv_manifests: dict[str, dict[str, str]],
    json_path: str | None,
    output_path: str,
    jdbc_url: str | None = None,
    jdbc_table: str = "weather_unified",
) -> EtlResult:
    """The full reference pipeline, Spark-first.

    ``csv_manifests`` maps station_id → {date: csv_path} (the reference
    hardcodes two stations, etl_meteo.py:16-33).  Writes the unified
    table to ``output_path`` (parquet, overwrite = the truncate-and-load
    S5 semantics), counting the written rows with an observed metric,
    then reads the sink back and computes the count reconcile and the
    quality report in one fused aggregation pass over it (vs the
    reference's 10 separate scans).

    ``jdbc_url`` switches the sink to an external DB — the reference's
    actual S5/S6 shape (MongoDB truncate-and-load + ping,
    etl_meteo.py:182-218): healthcheck first, fail fast if unreachable,
    overwrite-load ``jdbc_table``, and audit the table read back from
    the DB.  ``output_path`` is ignored in that mode.
    """
    from projet_meteo_etl_spark.operators.quality import (
        WEATHER_EXPECTATIONS,
        run_expectations,
    )

    unified = build_unified(spark, csv_manifests, json_path)
    written = Observation("weather_etl_source")
    observed = unified.observe(written, F.count(F.lit(1)).alias("rows"))

    # S5: truncate-and-load
    if jdbc_url is not None:
        # S6: ping before any compute, like the reference's early exit
        from projet_meteo_etl_spark.sources.jdbc_sink import (
            jdbc_healthcheck,
            read_jdbc_table,
            write_jdbc_truncate_load,
        )

        if not jdbc_healthcheck(spark, jdbc_url):
            raise ConnectionError(f"JDBC sink unreachable: {jdbc_url}")
        write_jdbc_truncate_load(observed, jdbc_url, jdbc_table)
        sink = read_jdbc_table(spark, jdbc_url, jdbc_table)
        output_path = f"{jdbc_url}::{jdbc_table}"
    else:
        observed.write.mode("overwrite").parquet(output_path)
        # explicit schema: the readback runs no schema-inference job
        sink = spark.read.schema(UNIFIED_SCHEMA).parquet(output_path)

    # the audit cannot ride on the observation: expect_unique's
    # countDistinct is not allowed in observed metrics
    report = run_expectations(sink, WEATHER_EXPECTATIONS)
    return EtlResult(
        unified=unified,
        output_path=output_path,
        source_count=written.get["rows"],
        sink_count=report["total"],
        quality_report=report,
    )
