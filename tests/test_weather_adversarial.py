"""Degenerate-input coverage for the weather family (round-12 verdict
item 1's second half): the adversarial parquet gate cannot redirect the
weather queries (they stage their own fixtures), so the pathological
shapes run HERE through the same pipeline functions the registered
queries use — all-junk CSVs, empty/odd hourly maps, malformed cells,
missing manifest files.  Every assertion is a documented contract:
junk rows drop by CONTENT, never by crash (the reference's per-file
fault isolation, etl_meteo.py:173-176, as data-level isolation)."""

from __future__ import annotations

import json
import os

from projet_meteo_etl_spark.pipeline import (
    clean_weather_csv,
    clean_weather_json,
    run_full_etl,
    unify,
)
from projet_meteo_etl_spark.sources.weather_csv import read_weather_csv
from projet_meteo_etl_spark.sources.weather_json import read_weather_json

_HDR = "Time;Temperature;Humidity;Pressure;Speed;Precip. Accum.\n"


def _write(path, text, encoding="latin-1"):
    with open(path, "w", encoding=encoding) as f:
        f.write(text)
    return str(path)


def test_all_junk_csv_yields_empty_not_crash(spark, tmp_path):
    """Every data row junk: units row, empty cells, garbage time
    strings, a stray latin-1 degree row — all dropped by content."""
    p = _write(
        tmp_path / "junk.csv",
        _HDR
        + "°F;%;inHg;mph;in\n"          # units row (skiprows[2] analogue)
        + ";;;;;\n"
        + "not-a-time;72.1;55;29.92;3.5;0.0\n"
        + "25:99;x;y;z;w;v\n"
        + "°;°;°;°;°;°\n",
    )
    raw = read_weather_csv(spark, {"S1": {"2024-01-01": p}})
    cleaned = clean_weather_csv(raw)
    assert cleaned.count() == 0
    assert cleaned.columns == [
        "date_heure_utc", "temperature_c", "humidite_pct", "pression_hpa",
        "vent_vitesse_ms", "id_station", "source_donnees", "pluie_accum_mm",
    ]


def test_header_only_and_missing_files(spark, tmp_path):
    """A header-only CSV and absent manifest paths: both reduce to the
    empty frame with the full raw schema (the reference's empty-loop
    shape), and the union of nothing-but-empties still unifies."""
    p = _write(tmp_path / "hdr.csv", _HDR)
    manifest = {
        "2024-01-01": p,
        "2024-01-02": str(tmp_path / "absent_a.csv"),
        "2024-01-03": str(tmp_path / "absent_b.csv"),
    }
    cleaned = clean_weather_csv(read_weather_csv(spark, {"S1": manifest}))
    only_missing = clean_weather_csv(
        read_weather_csv(
            spark, {"S2": {"2024-01-01": str(tmp_path / "nope.csv")}}
        )
    )
    u = unify(cleaned, only_missing)
    assert u.count() == 0


def test_malformed_cells_null_not_poison(spark, tmp_path):
    """One valid row among malformed cells: FR commas, unit suffixes,
    empty strings, '--' sentinels — bad cells become NULL, the row's
    good cells survive, and junk never poisons a neighbouring row."""
    p = _write(
        tmp_path / "mixed.csv",
        _HDR
        + "°F;%;inHg;mph;in\n"
        + "12:00 AM;50.0 °F;82;29,92;--;0.01\n"
        + "1:00 AM;garbage;;29.92 inHg;5 mph;\n",
    )
    rows = clean_weather_csv(
        read_weather_csv(spark, {"S1": {"2024-01-02": p}})
    ).orderBy("date_heure_utc").collect()
    assert len(rows) == 2
    r0, r1 = rows
    assert abs(r0["temperature_c"] - 10.0) < 1e-9          # (50-32)*5/9
    assert abs(r0["pression_hpa"] - 29.92 * 33.8638) < 1e-6  # FR comma
    assert r0["vent_vitesse_ms"] is None                    # '--'
    # faithful reference quirk: only the literal 'in' substring is a
    # unit token, so 'inHg' strips to 'Hg' -> unparsable -> NULL
    # (etl_meteo.py:44 strips 'in', never 'Hg')
    assert r1["pression_hpa"] is None
    assert r1["temperature_c"] is None                      # 'garbage'
    assert r1["humidite_pct"] is None                       # empty cell
    assert abs(r1["vent_vitesse_ms"] - 5 * 0.44704) < 1e-9


def test_space_in_manifest_path_keeps_rows(spark, tmp_path):
    """A manifest path with a space reaches the date join as a URI
    (``%20``); both sides must compare in that one form, or every row
    gets a null Date and the clean step drops them all silently."""
    text = (
        _HDR
        + "°F;%;inHg;mph;in\n"
        + "12:00 AM;50,0 °F;82 %;29,92 in;3,5 mph;0,01 in\n"
        + "1:00 AM;51,0 °F;80 %;29,90 in;4,0 mph;0,00 in\n"
    )
    (tmp_path / "plain").mkdir()
    (tmp_path / "with space").mkdir()
    plain = _write(tmp_path / "plain" / "day.csv", text)
    spaced = _write(tmp_path / "with space" / "a day.csv", text)

    def cleaned(path):
        return clean_weather_csv(
            read_weather_csv(spark, {"S1": {"2024-01-02": path}})
        ).orderBy("date_heure_utc").collect()

    want = cleaned(plain)
    assert len(want) == 2
    assert cleaned(spaced) == want


def test_empty_hourly_map_and_non_list_payloads(spark, tmp_path):
    """JSON path: empty hourly map → empty frame; non-list payloads
    and non-dict list elements are skipped per the reference's
    isinstance guards; an all-null record drops at the null-ts gate."""
    empty = _write(
        tmp_path / "empty.json", json.dumps({"hourly": {}}), "utf-8"
    )
    assert clean_weather_json(read_weather_json(spark, empty)).count() == 0

    odd = _write(
        tmp_path / "odd.json",
        json.dumps(
            {
                "hourly": {
                    "not_a_list": {"dh_utc": "2024-01-01 00:00:00"},
                    "scalar": 42,
                    "empty_list": [],
                    "mixed": [
                        17,
                        "string-element",
                        {"dh_utc": None, "temperature": 1.5},
                        {
                            "dh_utc": "2024-01-01 03:00:00",
                            "temperature": -3.5,
                            "vent_moyen": None,
                            "pluie_1h": None,
                            "pluie_3h": None,
                        },
                    ],
                }
            }
        ),
        "utf-8",
    )
    got = clean_weather_json(read_weather_json(spark, odd)).collect()
    assert len(got) == 1                      # only the one valid record
    (r,) = got
    assert r["id_station"] == "mixed"         # station_key fallback
    assert r["temperature_c"] == -3.5
    assert r["vent_vitesse_ms"] == 0.0        # km/h with 0-default (P6)
    assert r["pluie_accum_mm"] == 0.0         # faithful `or 0` quirk (P9)


def test_full_etl_on_degenerate_sources_reconciles(spark, tmp_path):
    """End-to-end: all-junk CSV + odd JSON through run_full_etl — the
    sink count must reconcile with the (tiny) surviving source count
    and the quality report must come back, not crash; an all-missing
    manifest with no JSON reconciles at zero."""
    junk_csv = _write(
        tmp_path / "j.csv", _HDR + "°F;%;inHg;mph;in\n;;;;;\n"
    )
    ok_json = _write(
        tmp_path / "ok.json",
        json.dumps(
            {
                "hourly": {
                    "st1": [
                        {
                            "dh_utc": "2024-02-01 00:00:00",
                            "temperature": 1.0,
                        },
                        {
                            "dh_utc": "2024-02-01 01:00:00",
                            "temperature": 2.0,
                        },
                    ]
                }
            }
        ),
        "utf-8",
    )
    out = str(tmp_path / "out_parquet")
    res = run_full_etl(
        spark,
        {"S1": {"2024-03-01": junk_csv}},
        ok_json,
        out,
    )
    assert res.source_count == 2 == res.sink_count
    assert res.count_reconciled
    assert res.quality_report  # fused report computed, not skipped

    # nothing at all reaches the writer: the observed count is 0, not
    # missing, and the empty sink still reads back and audits
    res = run_full_etl(
        spark,
        {"S1": {"2024-03-01": str(tmp_path / "absent.csv")}},
        None,
        str(tmp_path / "empty_parquet"),
    )
    assert res.source_count == 0 == res.sink_count
    assert res.quality_report["total"] == 0
