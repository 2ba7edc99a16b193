"""Property-based tests (hypothesis) for the cross-engine invariants the
oracle gate depends on — the reference has no property testing at all
(SURVEY.md §5); these pin the engine's own load-bearing contracts.

Each property generates a BATCH of cases and runs them through ONE
Spark job (and one DuckDB query where parity is the property), keeping
wall time bounded while still exploring the input space.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from projet_meteo_etl_spark.functions.cleaning import clean_numeric
from projet_meteo_etl_spark.functions.portable import json_long, pround
from projet_meteo_etl_spark.operators.dedup import word_shingles

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite_doubles = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12
)


@settings(**_SETTINGS)
@given(st.lists(finite_doubles, min_size=1, max_size=64))
def test_pround_matches_duckdb(spark, xs):
    """pround is THE portability primitive: floor(x·10^n + 0.5)/10^n
    must produce the identical double on Spark and DuckDB for any
    finite input (each engine evaluates the same IEEE ops)."""
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    got = {
        r["i"]: r["p"]
        for r in df.select("i", pround(F.col("x"), 4).alias("p")).collect()
    }
    con = duckdb.connect()
    for i, x in enumerate(xs):
        want = con.execute(
            "SELECT floor((?::DOUBLE) * 10000.0 + 0.5) / 10000.0", [x]
        ).fetchone()[0]
        assert got[i] == want or (got[i] != got[i] and want != want), (i, x)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
            max_size=24,
        ),
        min_size=1,
        max_size=64,
    )
)
def test_clean_numeric_is_total(spark, raws):
    """The P1 normalizer never throws: ANY string maps to a double or
    null (the reference's try/except ValueError contract,
    /root/reference/etl_meteo.py:41-46), even under ANSI mode."""
    df = spark.createDataFrame([(i, s) for i, s in enumerate(raws)], "i long, s string")
    rows = df.select("i", clean_numeric(F.col("s")).alias("v")).collect()
    assert len(rows) == len(raws)
    for r in rows:
        assert r["v"] is None or isinstance(r["v"], float)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="abcd", min_size=1, max_size=3), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=32,
    )
)
def test_word_shingles_count_bound(spark, docs):
    """For any document of n whitespace tokens, the distinct-3-gram
    inverted index emits between 1 and n-2 rows (0 for n < 3) — the
    bound the Jaccard size join relies on."""
    data = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    counts = {
        r["doc_id"]: r["c"]
        for r in word_shingles(df).groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    }
    for i, toks in enumerate(docs):
        n = len(toks)
        c = counts.get(i, 0)
        if n < 3:
            assert c == 0, (i, toks)
        else:
            assert 1 <= c <= n - 2, (i, toks, c)


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=2**62), min_size=1, max_size=64))
def test_portable_hash_matches_duckdb(spark, keys):
    """The 60-bit md5-prefix hash — every dedup/sampling operator's
    join key — is bit-identical across engines for arbitrary inputs."""
    df = spark.createDataFrame([(k,) for k in set(keys)], "k long")
    got = {
        r["k"]: r["h"]
        for r in df.select(
            "k",
            F.conv(F.substring(F.md5(F.col("k").cast("string")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        ).collect()
    }
    con = duckdb.connect()
    for k in set(keys):
        want = con.execute(
            "SELECT ('0x' || substr(md5(?::VARCHAR), 1, 15))::BIGINT", [k]
        ).fetchone()[0]
        assert got[k] == want, k


def test_weighted_sample_wor_properties(spark):
    """Priority-sampling keys (u/w, smallest first): per source exactly
    min(K, n) rows, dense ranks, keys non-decreasing along rank, and
    the sample is length-biased — the mean weight of sampled docs
    exceeds the corpus mean weight."""
    from pyspark.sql import functions as F

    from projet_meteo_etl_spark.catalog import load_table
    from projet_meteo_etl_spark.plans.curation import (
        WSAMPLE_K,
        weighted_sample_wor,
    )

    sf = "/root/testdata/sf0.01"
    rows = weighted_sample_wor(spark, sf).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    d = load_table(spark, sf, "documents")
    n_per = {
        r.source: r.n
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    corpus_mean = d.agg(F.avg("n_chars")).collect()[0][0]
    for src, rs in by_src.items():
        assert len(rs) == min(WSAMPLE_K, n_per[src])
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        keys = [r.key_pico for r in rs]
        assert keys == sorted(keys)
    sample_mean = sum(r.weight for r in rows) / len(rows)
    assert sample_mean > corpus_mean  # length-proportional inclusion


def test_shard_assignment_balance(spark):
    from projet_meteo_etl_spark.plans.curation import (
        N_SHARDS,
        shard_assignment_audit,
    )

    rows = shard_assignment_audit(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == N_SHARDS
    assert sum(r.share_ppm for r in rows) <= 1_000_000
    total = sum(r.total_chars for r in rows)
    for r in rows:
        # hash assignment keeps every shard within 3x of fair share
        assert r.total_chars < 3 * total / N_SHARDS


def test_json_long_under_ansi_nulls_dirty_tokens(spark):
    """``json_long`` casts every token, so it must not raise under ANSI
    (the Spark 4 default): dirty and overflowing tokens give NULL,
    integer tokens their value."""
    cases = [
        ('{"k": "abc"}', None),
        ('{"k": "12.5"}', None),
        ('{"k": 12.5}', None),
        ('{"k": "99999999999999999999"}', None),
        ("{}", None),
        ('{"k": 42}', 42),
        ('{"k": " -7 "}', -7),
        ('{"k": "+3"}', 3),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, (p, _) in enumerate(cases)], "i int, props string"
    )
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = dict(df.select("i", json_long().alias("v")).collect())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
    assert [got[i] for i in range(len(cases))] == [v for _, v in cases]
