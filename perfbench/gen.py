"""Seeded input generator for the benchmark.

Two families of inputs, both a pure function of ``(seed, size)``:

* ``write_tables`` — the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` as single-file parquet tables, with the
  column names and types of the catalog's tables.  The marginals follow
  ``tools/gen_sf1.py``; the key spaces scale with the row counts.
* ``write_weather`` — station-day Weather-Underground CSV files and one
  nested Infoclimat JSON dump per batch of stations, with every quirk the
  weather readers handle, plus the expected unified rows and golden
  counts computed in pure Python from the drawn values.

Usage (prints the output directory)::

    python3 perfbench/gen.py <out_dir> <seed> <workload>
"""

from __future__ import annotations

import datetime
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table for the table-driven workloads (customer drives the
#: TPC-H key spaces; see ``_star_schema``)
TABLE_SIZES = {
    "table_queries": {"customer": 3000, "events": 4000, "documents": 150, "embeddings": 150},
}

#: weather shape: calls per pass × CSV stations per call × days, plus the
#: JSON stations each call's dump carries
WEATHER_SIZE = {"calls": 2, "csv_stations": 2, "json_stations": 1, "days": 3}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "zh", "fr", "es"]
VOCAB = (
    "the a data customer vector merge table stream batch part spark line "
    "column order small sort fast value scan hash slow group agg filter "
    "query big key window join row"
).split()
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_ADJ = ["small", "hot", "red", "blue", "large", "old", "cold", "new"]
P_NOUN = ["widget", "gear", "plate", "bolt", "ring", "rod", "gizmo", "anvil"]
DAY_US = 86_400_000_000


def _write(out: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    tmp = os.path.join(out, f".{name}.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _star_schema(out: str, rng: np.random.Generator, n_customer: int) -> dict[str, int]:
    """region/nation/customer/supplier/part/orders/lineitem with the
    sf-style ratios (10 orders and ~40 lineitems per customer), keys from
    0 and the part-name/type/brand domains of the sf-N test tables."""
    n_supplier = max(10, n_customer // 15)
    n_part = max(200, n_customer * 4 // 3)
    n_orders = n_customer * 10
    rows = {}
    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = np.arange(n_customer)
    rows["customer"] = _write(out, "customer", {
        "c_custkey": k.astype("int64"),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_customer).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_customer)],
    })
    k = np.arange(n_supplier)
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": k.astype("int64"),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supplier).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supplier), 2),
    })
    k = np.arange(n_part)
    w1 = rng.integers(0, len(P_ADJ), n_part)
    w2 = rng.integers(0, len(P_NOUN), n_part)
    rows["part"] = _write(out, "part", {
        "p_partkey": k.astype("int64"),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(w1, w2)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, len(P_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 2),
    })
    ok = np.arange(n_orders)
    o_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08
    epoch_1995 = np.datetime64("1995-01-01", "us").astype("int64")
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": ok.astype("int64"),
        "o_custkey": rng.integers(0, n_customer, n_orders).astype("int64"),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(1000.0, 499999.0, n_orders), 2),
        "o_orderdate": pa.array((epoch_1995 + o_days * DAY_US).astype("datetime64[us]")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    lines_per = rng.integers(1, 8, n_orders)
    n_li = int(lines_per.sum())
    ship_off = rng.integers(1, 121, n_li)
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": np.repeat(ok, lines_per).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supplier, n_li).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, c + 1) for c in lines_per]).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.68, 104999.91, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (epoch_1995 + (np.repeat(o_days, lines_per) + ship_off) * DAY_US).astype("datetime64[us]")
        ),
    })
    return rows


def _events(out: str, rng: np.random.Generator, n: int) -> int:
    """Event log with ts strictly increasing in event_id (the streaming
    sources replay it in order), spanning about 30 days."""
    n_users = max(10, n // 60)
    epoch_2024 = np.datetime64("2024-01-01", "us").astype("int64")
    span_us = 30 * DAY_US
    gaps = rng.integers(1_000_000, 2 * span_us // n, n)
    return _write(out, "events", {
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array((epoch_2024 + np.cumsum(gaps)).astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": [ETYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 560.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    })


def _documents(out: str, rng: np.random.Generator, n: int) -> int:
    """Texts over a small vocabulary; one doc in ten repeats an earlier
    one exactly and one in ten repeats it with a single word changed, so
    the exact and near-duplicate detectors have work to find."""
    texts: list[str] = []
    for i in range(n):
        kind = rng.integers(0, 10)
        if i >= 10 and kind == 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and kind == 1:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            length = int(rng.integers(8, 108))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), length)))
    lang_ix = rng.choice(5, n, p=[0.41, 0.14, 0.15, 0.15, 0.15])
    return _write(out, "documents", {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in lang_ix],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(out: str, rng: np.random.Generator, n: int, dim: int = 64) -> int:
    """Vectors drawn around eight centres, so clustering and semantic
    dedup see real structure."""
    centres = rng.normal(0.0, 0.3, (8, dim))
    label = rng.integers(0, 8, n)
    emb = (centres[label] + rng.normal(0.0, 0.12, (n, dim))).astype("float32")
    return _write(out, "embeddings", {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
        "label": (label % 4).astype("int32"),
    })


def write_tables(out: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write every catalog table under ``out``; return rows per table."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = _star_schema(out, rng, sizes["customer"])
    rows["events"] = _events(out, rng, sizes["events"])
    rows["documents"] = _documents(out, rng, sizes["documents"])
    rows["embeddings"] = _embeddings(out, rng, sizes["embeddings"])
    return rows


# --------------------------------------------------------------------------
# weather station-day files
# --------------------------------------------------------------------------


def _csv_day(rng: random.Random, date: str, station: str) -> tuple[list[str], list[dict]]:
    """One station-day: 24 hourly rows, one duplicated timestamp and one
    row whose Time is unparsable (dropped); returns the data lines and
    the expected unified records of the kept rows."""
    y, m, d = (int(x) for x in date.split("-"))
    lines, expected = [], []
    blank_h, bad_h = rng.randrange(24), rng.randrange(24)
    for h in range(24):
        t = f"{h % 12 or 12}:00 {'AM' if h < 12 else 'PM'}"
        temp_s = f"{rng.uniform(20, 95):.1f}"
        hum_v = rng.randint(20, 100)
        press_s = f"{rng.uniform(29.0, 30.8):.2f}"
        speed_s = f"{rng.uniform(0, 30):.1f}"
        rain_s = f"{rng.uniform(0, 0.5):.2f}"
        hum = "" if h == blank_h else f"{hum_v} %"
        press = "n/a" if h == bad_h else press_s.replace(".", ",") + " in"
        lines.append(
            f"{t};{temp_s.replace('.', ',')} °F;{hum};{press};"
            f"{speed_s.replace('.', ',')} mph;{rain_s.replace('.', ',')} in"
        )
        expected.append({
            "date_heure_utc": datetime.datetime(y, m, d, h),
            "temperature_c": (float(temp_s) - 32.0) * 5.0 / 9.0,
            "humidite_pct": None if h == blank_h else float(hum_v),
            "pression_hpa": None if h == bad_h else float(press_s) * 33.8638,
            "vent_vitesse_ms": float(speed_s) * 0.44704,
            "id_station": station,
            "source_donnees": "Weather Underground",
            "pluie_accum_mm": float(rain_s) * 25.4,
        })
    dup = rng.randrange(24)
    lines.append(lines[dup])
    expected.append(dict(expected[dup]))
    lines.append("--:--;55,0 °F;50 %;29,92 in;5,0 mph;0,0 in")
    return lines, expected


def _json_records(rng: random.Random, dates: list[str], station: str) -> tuple[list, list[dict]]:
    """Hourly Infoclimat records of one station: bare-string numbers,
    pluie_1h on every third hour and pluie_3h otherwise, one empty
    temperature (→ null) and one empty wind (→ 0.0) per day."""
    recs, expected = [], []
    for date in dates:
        y, m, d = (int(x) for x in date.split("-"))
        empty_t, empty_w = rng.randrange(24), rng.randrange(24)
        for h in range(24):
            temp_s = f"{rng.uniform(-5, 30):.1f}"
            hum_s = str(rng.randint(30, 100))
            press_s = f"{rng.uniform(990, 1030):.1f}"
            vent_s = f"{rng.uniform(0, 60):.1f}"
            rec = {
                "dh_utc": f"{date} {h:02d}:00:00",
                "temperature": "" if h == empty_t else temp_s,
                "humidite": hum_s,
                "pression": press_s,
                "vent_moyen": "" if h == empty_w else vent_s,
                "id_station": station,
            }
            rain_s = f"{rng.uniform(0, 3):.1f}"
            rec["pluie_1h" if h % 3 == 0 else "pluie_3h"] = rain_s
            recs.append(rec)
            expected.append({
                "date_heure_utc": datetime.datetime(y, m, d, h),
                "temperature_c": None if h == empty_t else float(temp_s),
                "humidite_pct": float(hum_s),
                "pression_hpa": float(press_s),
                "vent_vitesse_ms": (0.0 if h == empty_w else float(vent_s)) / 3.6,
                "id_station": station,
                "source_donnees": "Infoclimat",
                "pluie_accum_mm": float(rain_s),
            })
    return recs, expected


def write_weather(out: str, seed: int, size: dict[str, int]) -> tuple[list[dict], int]:
    """Write one input batch per ETL call; return the batches (manifests,
    JSON path, golden count, expected rows) and the bytes written."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    start = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(300))
    dates = [str(start + datetime.timedelta(days=i)) for i in range(size["days"])]
    batches, n_bytes = [], 0
    for b in range(size["calls"]):
        manifests: dict[str, dict[str, str]] = {}
        expected: list[dict] = []
        for s in range(size["csv_stations"]):
            station = f"{1000 + b * size['csv_stations'] + s}"
            manifest = {}
            for date in dates:
                lines, exp = _csv_day(rng, date, station)
                path = os.path.join(out, f"wu_{station}_{date}.csv")
                body = "\n".join([
                    "Time ;Temperature; Humidity ;Pressure;Speed;Precip. Accum.",
                    lines[0],
                    "°F;%;in;mph;in;junk",  # units row at file position 2
                    *lines[1:],
                ]) + "\n"
                with open(path, "w", encoding="latin-1") as f:
                    f.write(body)
                n_bytes += os.path.getsize(path)
                manifest[date] = os.path.abspath(path)
                expected.extend(exp)
            manifests[station] = manifest
        hourly: dict[str, object] = {}
        for s in range(size["json_stations"]):
            station = f"07{b * size['json_stations'] + s:03d}"
            recs, exp = _json_records(rng, dates, station)
            hourly[station] = recs
            expected.extend(exp)
        first = next(iter(hourly))
        hourly[first].insert(rng.randrange(len(hourly[first])), "not-a-dict")
        hourly[f"bad{b}"] = "not-a-list"
        json_path = os.path.join(out, f"infoclimat_{b}.json")
        with open(json_path, "w", encoding="utf-8") as f:
            json.dump({"hourly": hourly, "metadata": {"batch": b}}, f)
        n_bytes += os.path.getsize(json_path)
        golden = size["csv_stations"] * size["days"] * 25 + size["json_stations"] * size["days"] * 24
        if len(expected) != golden:
            raise RuntimeError(f"batch {b}: {len(expected)} expected rows, golden {golden}")
        batches.append({
            "csv_manifests": manifests,
            "json_path": os.path.abspath(json_path),
            "golden_total": golden,
            "expected": expected,
        })
    return batches, n_bytes


if __name__ == "__main__":
    out_dir, seed, workload = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    if workload == "weather_etl":
        print(write_weather(out_dir, seed, WEATHER_SIZE)[1], "bytes")
    else:
        print(write_tables(out_dir, seed, TABLE_SIZES[workload]))
    print(out_dir)
