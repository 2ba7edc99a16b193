"""Structured Streaming: stream-executed results must equal batch results."""

from __future__ import annotations

from pyspark.sql import functions as F

from projet_meteo_etl_spark.catalog import load_table
from projet_meteo_etl_spark.streaming import structured, windows

SF = "/root/testdata/sf0.001"


def test_stream_tumbling_equals_batch(spark):
    stream_rows = structured.stream_tumbling_counts(spark, SF).collect()
    batch_rows = windows.events_tumbling_counts(spark, SF).collect()
    assert stream_rows == batch_rows


def test_memory_sink_views_do_not_accumulate(spark):
    """Each run's memory-sink temp view is dropped: repeated streams
    leave the session's views as they were, and every result still
    equals the batch answer."""
    def views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    batch_rows = windows.events_tumbling_counts(spark, SF).collect()
    results = [structured.stream_tumbling_counts(spark, SF) for _ in range(3)]
    assert views() == before
    for r in results:
        assert r.collect() == batch_rows


def test_stream_tumbling_update_mode_equals_batch_and_evicts_state(spark):
    """The update-mode twin must fold its per-batch update rows to the
    exact batch answer AND the 1-hour watermark must actually remove
    window state (bounded state — the 100 TB/day requirement), not just
    stop updating it."""
    got = structured.stream_tumbling_counts_update(spark, SF).collect()
    batch = windows.events_tumbling_counts(spark, SF).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]
    m = structured.LAST_STATE_METRICS["stream_tumbling_counts_update"]
    assert m["numRowsRemoved"] > 0, f"watermark evicted nothing: {m}"
    # end-of-stream resident state must be far below the total window
    # count — only the horizon's windows may remain
    assert m["numRowsTotal"] < len(batch), m


def test_stream_stateful_totals_equal_batch_agg(spark):
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in structured.stream_user_running_totals(spark, SF).collect()
    }
    cents = F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
    exp = {
        r.user_id: (r.n, r.tv)
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), (F.sum(cents) / 100.0).alias("tv"))
        .collect()
    }
    assert got == exp


def test_file_sink_twins_match_memory_sink(spark):
    """The parquet file-sink path (executor-side append log, nothing in
    driver memory) must reproduce the memory-sink result row-for-row —
    same stateful operator, same downstream fold."""
    mem = structured.stream_pit_features(spark, SF).collect()
    fil = structured.stream_pit_features_files(spark, SF).collect()
    assert fil == mem
    assert len(mem) > 0
    mem_t = structured.stream_user_running_totals(spark, SF).collect()
    fil_t = structured.stream_user_totals_files(spark, SF).collect()
    assert fil_t == mem_t


def test_rocksdb_state_backend_matches_default(spark, monkeypatch):
    """With the RocksDB provider (the spill-to-disk production state
    backend) the stateful stream must produce identical results, and
    the provider conf must be restored once the stream finishes."""
    base = structured.stream_user_running_totals(spark, SF).collect()
    monkeypatch.setattr(structured, "STREAM_STATE_BACKEND", "rocksdb")
    rocks = structured.stream_user_running_totals(spark, SF).collect()
    assert rocks == base
    assert spark.conf.get(structured._PROVIDER_KEY, None) is None


def test_late_dropper_subset_and_deterministic(spark):
    a = {r.event_type: r.n_survived for r in structured.stream_late_event_dropper(spark, SF).collect()}
    b = {r.event_type: r.n_survived for r in structured.stream_late_event_dropper(spark, SF).collect()}
    assert a == b  # same batch boundaries → same drops
    totals = {
        r.event_type: r.n
        for r in load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(a) == set(totals)
    for et, n in a.items():
        assert 0 < n <= totals[et]


def test_checkpoint_exactly_once_across_restarts(spark, tmp_path):
    """File-sink streaming with a checkpoint: restart after new data
    arrives must process ONLY the new files — no reprocessing, no loss
    (exactly-once for the file source + file sink pair)."""
    import pyarrow.parquet as pq

    from projet_meteo_etl_spark.catalog import table_path
    from projet_meteo_etl_spark.streaming.structured import (
        _events_raw_schema,
        _ts_is_long,
    )

    src_dir = tmp_path / "src"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    src_dir.mkdir()
    t = pq.read_table(table_path(SF, "events"))
    half = t.num_rows // 2

    def run_once():
        stream = (
            spark.readStream.schema(_events_raw_schema(_ts_is_long(SF)))
            .parquet(str(src_dir))
            .select("event_id", "user_id", "event_type")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    pq.write_table(t.slice(0, half), str(src_dir / "part_a.parquet"), version="2.6")
    run_once()
    first = spark.read.parquet(out_dir).count()
    assert first == half

    pq.write_table(
        t.slice(half, t.num_rows - half), str(src_dir / "part_b.parquet"), version="2.6"
    )
    run_once()  # restart from checkpoint
    back = spark.read.parquet(out_dir)
    assert back.count() == t.num_rows              # nothing lost
    assert back.select("event_id").distinct().count() == t.num_rows  # nothing duplicated


def test_stream_dedup_matches_batch_distinct(spark):
    from projet_meteo_etl_spark.streaming.structured import (
        stream_dedup_user_day,
    )

    got = {
        (r["day"], r["n_users"])
        for r in stream_dedup_user_day(spark, SF).collect()
    }
    exp = {
        (r["day"], r["n"])
        for r in load_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == exp and len(got) > 0


def test_dau_wau_invariants(spark):
    from projet_meteo_etl_spark.streaming.windows import events_dau_wau

    rows = events_dau_wau(spark, SF).collect()
    assert len(rows) > 7
    for r in rows:
        # a day's actives are a subset of its trailing week's actives
        assert 0 < r["dau"] <= r["wau"]
        assert 0.0 < r["stickiness"] <= 1.0


def test_rolling_3day_range_frame(spark):
    from collections import defaultdict

    from projet_meteo_etl_spark.streaming.windows import (
        events_rolling_3day_revenue,
    )

    rows = events_rolling_3day_revenue(spark, SF).collect()
    assert rows
    series = defaultdict(dict)
    for r in rows:
        series[r["event_type"]][r["epoch_day"]] = r
    for days in series.values():
        for d, r in days.items():
            exp = sum(
                days[k]["rev_cents"] for k in (d - 2, d - 1, d) if k in days
            )
            assert r["rev_3day_cents"] == exp


def test_burstiness_covers_all_types(spark):
    from projet_meteo_etl_spark.streaming.windows import event_burstiness

    rows = event_burstiness(spark, SF).collect()
    assert {r["event_type"] for r in rows} == {
        "click", "view", "purchase", "signup", "error",
    }
    for r in rows:
        assert r["n_days"] > 0 and r["n_events"] > 0
        assert r["mean_per_day"] > 0
        assert r["fano_factor"] >= 0


def test_foreachbatch_idempotent_parquet_sink(spark, tmp_path):
    """Exactly-once via foreachBatch + idempotent partition overwrite:
    each micro-batch lands in its own batch_id partition with dynamic
    overwrite (a replayed batch overwrites itself, never duplicates),
    and restarting from the same checkpoint writes nothing new."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n_total = load_table(spark, SF, "events").count()

    def write_batch(df, bid):
        (
            df.withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out)
        )

    def run():
        q = (
            structured._read_events_stream(spark, SF)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    first = spark.read.parquet(out)
    assert first.count() == n_total
    n_batches = first.select("batch_id").distinct().count()
    assert n_batches >= 2  # maxFilesPerTrigger=1 over 4 staged files

    # restart from the same checkpoint: all batches are committed, so
    # the sink must be byte-for-byte unchanged (no duplicate rows)
    run()
    again = spark.read.parquet(out)
    assert again.count() == n_total
    assert again.select("batch_id").distinct().count() == n_batches


def test_stream_left_outer_equals_batch_and_expires_state(spark):
    """The heartbeat-flushed left-outer join must equal the batch left
    join exactly, and the lonely counts must be non-trivial (state
    expiry actually emitted null-padded rows)."""
    got = {
        r.user_id: (r.n_pairs, r.n_lonely)
        for r in structured.stream_left_outer_lonely_purchases(spark, SF).collect()
    }
    e = load_table(spark, SF, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    j = p.join(
        c,
        F.expr(
            "user_id = c_user AND c_ts > p_ts "
            "AND c_ts <= p_ts + interval 10 minutes"
        ),
        "left_outer",
    )
    exp = {
        r.user_id: (r.n_pairs, r.n_lonely)
        for r in j.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("c_ts").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_pairs"),
            F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_lonely"),
        )
        .collect()
    }
    assert got == exp
    assert sum(v[1] for v in got.values()) > 0
    assert -1 not in got  # heartbeat row filtered


def test_stream_hll_matches_batch_registers(spark):
    """The streamed register state must yield exactly the estimate a
    batch build of the same registers yields, and sit within the
    ~1.04/sqrt(m) HLL error band of the exact distinct count."""
    import math

    from projet_meteo_etl_spark.operators.sketches import HLL_M

    got = {
        r["event_type"]: r["hll_users"]
        for r in structured.stream_hll_users(spark, SF).collect()
    }
    e = load_table(spark, SF, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, est in got.items():
        assert est > 0
        # 5 sigma of the standard HLL relative error
        assert abs(est - exact[t]) / exact[t] < 5 * 1.04 / math.sqrt(HLL_M)


def test_stream_cms_matches_batch_sketch(spark):
    """The streamed CMS cells must equal a batch-built sketch: probes
    are one-sided (est >= true) and exact where no collision occurs."""
    got = structured.stream_cms_item_counts(spark, SF).collect()
    assert len(got) > 0
    for r in got:
        assert r["cms_est"] >= r["true_clicks"]
        assert r["overcount"] == r["cms_est"] - r["true_clicks"]
    trues = [r["true_clicks"] for r in got]
    assert trues == sorted(trues, reverse=True)


def test_backfill_seam_equals_whole_log(spark):
    """Backfill(files 0-1) + stream(files 1-3, file 1 re-delivered)
    composed through the (ts, event_id) cut must equal the whole-log
    aggregate — a double-counted or dropped seam row breaks equality."""
    seam = structured.stream_backfill_seam(spark, SF).collect()
    whole = structured.stream_tumbling_counts(spark, SF).collect()
    assert seam == whole
    assert len(seam) > 0


def test_stream_sliding_topk_rank_invariants(spark):
    """Per-window ranks are contiguous from 1, counts non-increasing
    with rank, and no window reports more than K items."""
    from projet_meteo_etl_spark.streaming.structured import (
        TOPK_ITEMS_K,
        stream_sliding_topk_items,
    )
    from tests.conftest import SF_SMOKE

    rows = stream_sliding_topk_items(spark, SF_SMOKE).collect()
    assert rows
    by_w: dict = {}
    for r in rows:
        by_w.setdefault(r["window_start"], []).append(r)
    for w, rs in by_w.items():
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOPK_ITEMS_K
        counts = [r["n_clicks"] for r in rs]
        assert counts == sorted(counts, reverse=True)


def test_stream_rate_alert_matches_batch_replay(spark):
    """The streaming tumbling counts folded through the alert rule must
    equal the plain batch hourly counts + trailing comparison."""
    import duckdb

    from projet_meteo_etl_spark.streaming.structured import (
        RATE_ALERT_LOOKBACK,
        stream_rate_alert,
    )

    sf = "/root/testdata/sf0.001"
    rows = stream_rate_alert(spark, sf).collect()
    hourly = duckdb.sql(
        f"SELECT time_bucket(INTERVAL '1 hour', ts), CAST(count(*) AS BIGINT)"
        f" FROM '{sf}/events.parquet' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    counts = [n for _, n in hourly]
    expect = []
    for i in range(RATE_ALERT_LOOKBACK, len(counts)):
        s3 = sum(counts[i - RATE_ALERT_LOOKBACK:i])
        expect.append((counts[i], s3, int(2 * counts[i] > s3)))
    assert [(r["n_events"], r["sum_prev3"], r["alert"]) for r in rows] == expect
    assert len(rows) == len(counts) - RATE_ALERT_LOOKBACK


def test_stream_cusum_equals_batch_twin(spark):
    """The streaming CUSUM (incremental day rollup -> shared kernel)
    must equal the batch query row-for-row."""
    from projet_meteo_etl_spark.plans.timeseries import cusum_revenue_drift
    from projet_meteo_etl_spark.streaming.structured import (
        stream_cusum_revenue_alert,
    )
    from tests.conftest import SF_SMOKE

    got = [tuple(r) for r in stream_cusum_revenue_alert(spark, SF_SMOKE).collect()]
    want = [tuple(r) for r in cusum_revenue_drift(spark, SF_SMOKE).collect()]
    assert got == want and len(got) > 0


def test_stateful_restart_recovers_groupstate(spark):
    """Checkpoint stop/restart for the GroupState totals operator: the
    restarted run must resume offsets AND recover per-user state — the
    fold over the combined emission log equals the whole-log batch
    aggregate.  Also pins that the check is NOT vacuous: at least one
    user must span both phases (otherwise a state wipe would be
    invisible)."""
    import os

    import pyarrow.parquet as pq

    staged = structured._staged_events_dir(SF)
    files = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    half = max(1, len(files) // 2)
    first = set()
    second = set()
    for f in files[:half]:
        first |= set(
            pq.read_table(os.path.join(staged, f), columns=["user_id"])
            .column("user_id")
            .to_pylist()
        )
    for f in files[half:]:
        second |= set(
            pq.read_table(os.path.join(staged, f), columns=["user_id"])
            .column("user_id")
            .to_pylist()
        )
    spanning = first & second
    assert spanning, "no user spans the restart boundary — test is vacuous"

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in structured.stream_user_totals_restart(spark, SF).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("tv"),
        )
        .collect()
    }
    assert got == want
    # a state wipe at the restart would leave boundary-spanning users
    # with phase-2-only counts; check one explicitly
    u = next(iter(spanning))
    phase2_only = sum(
        1
        for f in files[half:]
        for v in pq.read_table(os.path.join(staged, f), columns=["user_id"])
        .column("user_id")
        .to_pylist()
        if v == u
    )
    assert got[u][0] > phase2_only


def test_stateful_restart_recovers_tws_valuestate(spark):
    """Same restart contract for the TWS ValueState operator on the
    RocksDB store: the packed per-shard blob must be reloaded from the
    checkpoint on restart."""
    import pytest

    if not structured.has_tws_runtime():
        pytest.skip("no protobuf runtime for transformWithStateInPandas")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in structured.stream_tws_user_totals_restart(spark, SF).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("tv"),
        )
        .collect()
    }
    assert got == want
