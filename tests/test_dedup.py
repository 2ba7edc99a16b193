"""Near-dup family cross-checks: approximate paths vs exact ground truth."""

from __future__ import annotations

from projet_meteo_etl_spark.operators import dedup

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_is_subset_of_exact_with_recall_on_strong_pairs(spark):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, SF).collect()
    }
    mh = _pairs(dedup.dedup_minhash_lsh(spark, SF))
    assert mh <= set(exact)
    # pairs with strong similarity must be recalled (LSH probability
    # at j≥0.5 with 8 bands × 4 rows is ≈1)
    strong = {k for k, j in exact.items() if j >= 0.5}
    if strong:
        assert strong <= mh


def test_simhash_pairs_symmetric_free_and_bounded(spark):
    rows = dedup.dedup_simhash(spark, SF).collect()
    seen = set()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 8
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))


def test_connected_components_account_for_all_paired_docs(spark):
    pairs = dedup.ngram_jaccard_pairs(spark, SF).collect()
    docs_in_pairs = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    hist = dedup.dedup_connected_components(spark, SF).collect()
    assert sum(r.cluster_size * r.n_clusters for r in hist) == len(docs_in_pairs)
    assert all(r.cluster_size >= 2 for r in hist)  # singletons have no edges


def test_shingle_hash_matches_duckdb(spark):
    """The 60-bit md5-prefix shingle key is bit-identical across engines
    — the invariant that lets the inverted-index join run on longs while
    staying oracle-exact."""
    import duckdb

    from pyspark.sql import functions as F

    samples = ["the quick brown", "fox jumps over", "àccents éh ça", ""]
    got = (
        spark.createDataFrame([(s,) for s in samples], "shingle string")
        .select(
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("h")
        )
        .collect()
    )
    for s, row in zip(samples, got):
        want = duckdb.sql(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", params=[s]
        ).fetchone()[0]
        assert row.h == want, s


def test_two_phase_cc_handles_cross_partition_chains(spark):
    """Phase-1 local contraction + phase-2 label loop must find exactly
    the components of a chain deliberately scattered across partitions
    (every edge in a different partition than its neighbor)."""
    from pyspark.sql import functions as F

    # chain 0-1-2-...-19 plus a separate triangle 100-101-102
    edges = [(i, i + 1) for i in range(19)] + [(100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long").repartition(8)

    # drive the public operator with this synthetic graph as pair source
    import projet_meteo_etl_spark.operators.dedup as dd

    orig = dd.ngram_jaccard_pairs
    try:
        dd.ngram_jaccard_pairs = lambda _s, _d, threshold=0.04: pairs.withColumn(
            "jaccard", F.lit(1.0)
        )
        hist = {
            r.cluster_size: r.n_clusters
            for r in dd.dedup_connected_components(spark, "unused").collect()
        }
    finally:
        dd.ngram_jaccard_pairs = orig
    assert hist == {20: 1, 3: 1}


def test_stop_shingle_cap_excludes_corpus_wide_shingle(spark, tmp_path):
    """A shingle shared by the whole corpus must not reach the
    inverted-index self-join once ``max_df`` caps it — the O(df²)
    blow-up guard — while genuinely duplicated docs still pair."""
    common = "lorem ipsum dolor sit"
    rows = [
        (i, f"{common} unique{i} filler{i} tail{i} end{i}") for i in range(12)
    ]
    # a true near-dup pair with no corpus-wide shingles
    dup = "completely distinct duplicated passage retained verbatim twice"
    rows += [(100, dup), (101, dup)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    uncapped = _pairs(dedup.ngram_jaccard_pairs(spark, sf, max_df=None))
    capped = _pairs(dedup.ngram_jaccard_pairs(spark, sf, max_df=4))

    all_common_pairs = {(a, b) for a in range(12) for b in range(12) if a < b}
    assert all_common_pairs <= uncapped  # the blow-up the cap prevents
    assert capped & all_common_pairs == set()  # stop shingles excluded
    assert (100, 101) in capped  # real dups survive the cap

    # the stop set itself: every dropped hash had df > cap
    sh = dedup.word_shingle_hashes(
        spark.read.parquet(str(tmp_path / "documents.parquet"))
    )
    kept = dedup.stop_shingle_filter(sh, 4)
    dfc = {r.h: r.df for r in
           sh.groupBy("h").count().withColumnRenamed("count", "df").collect()}
    assert all(dfc[r.h] <= 4 for r in kept.collect())


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a 10x-longer one: containment of
    the short side is ~1.0 while Jaccard is diluted below its own
    threshold — the asymmetric measure's reason to exist."""
    from pyspark.sql import functions as F

    from projet_meteo_etl_spark.operators import dedup as dd

    short = "alpha beta gamma delta epsilon zeta eta theta"
    long = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    orig = dd.load_table
    try:
        dd.load_table = lambda s, d, n: df if n == "documents" else orig(s, d, n)
        rows = dd.containment_pairs(spark, "x").collect()
        jac = dd.ngram_jaccard_pairs(spark, "x").collect()
    finally:
        dd.load_table = orig
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.contain_a_in_b == 1.0  # the short doc is fully contained
    assert r.contain_b_in_a < 0.1
    # symmetric Jaccard on the same pair is tiny
    assert all(p.jaccard < 0.1 for p in jac)


def test_sorted_neighborhood_matches_python_replay(spark):
    """Blocked SNM candidates, truth pairs, and recall/precision ppm
    replayed in pure Python over the normalized keys."""
    import re as _re

    import duckdb

    from projet_meteo_etl_spark.operators.dedup import (
        SNM_BLOCK_CHARS,
        SNM_KEY_CHARS,
        SNM_WINDOW,
        sorted_neighborhood_pairs,
    )

    sf = "/root/testdata/sf0.001"
    r = sorted_neighborhood_pairs(spark, sf).collect()[0]
    docs = duckdb.sql(
        f"SELECT doc_id, md5(text), text FROM '{sf}/documents.parquet'"
    ).fetchall()
    keyed = []
    for doc_id, h, text in docs:
        k = _re.sub(r"[^a-zA-Z0-9]", "", text).lower()[:SNM_KEY_CHARS]
        keyed.append((k[:SNM_BLOCK_CHARS], k, doc_id, h))
    blocks: dict = {}
    for blk, k, doc_id, h in keyed:
        blocks.setdefault(blk, []).append((k, doc_id, h))
    n_cands = n_hits = 0
    for members in blocks.values():
        members.sort()
        for i, (_, _, h1) in enumerate(members):
            for j in range(i + 1, min(i + SNM_WINDOW + 1, len(members))):
                n_cands += 1
                n_hits += h1 == members[j][2]
    from collections import Counter

    truth = sum(
        c * (c - 1) // 2 for c in Counter(h for _, _, _, h in keyed).values()
    )
    assert (r["n_docs"], r["n_blocks"]) == (len(keyed), len(blocks))
    assert (r["n_candidates"], r["n_hits"], r["n_truth_pairs"]) == (
        n_cands, n_hits, truth,
    )
    assert r["recall_ppm"] == n_hits * 1_000_000 // max(truth, 1)
    assert r["precision_ppm"] == n_hits * 1_000_000 // max(n_cands, 1)


def _doc_8gram_hash_sets(sf: str) -> dict:
    """doc_id -> set of 60-bit md5-prefix hashes of its distinct
    8-grams — the same portable key both engines derive."""
    import hashlib

    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, trim(text), source FROM '{sf}/documents.parquet'"
    ).fetchall()
    out = {}
    for doc_id, text, source in docs:
        toks = text.split()
        grams = {
            " ".join(toks[i : i + 8]) for i in range(max(len(toks) - 7, 0))
        }
        out[doc_id] = (
            source,
            {
                int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                for g in grams
                if g
            },
        )
    return out


def test_ngram_contamination_matches_python_replay(spark):
    from projet_meteo_etl_spark.operators.dedup import (
        CONTAM_FLAG_PPM,
        ngram_contamination_audit,
    )

    sf = "/root/testdata/sf0.001"
    sets = _doc_8gram_hash_sets(sf)
    mx = max(sets)
    train: set = set()
    ev = {}
    for doc_id, (_, hs) in sets.items():
        if min(9, doc_id * 10 // (mx + 1)) == 9:
            ev[doc_id] = hs
        else:
            train |= hs
    rows = ngram_contamination_audit(spark, sf).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(ev)
    for r in rows:
        hs = ev[r["doc_id"]]
        n_cont = len(hs & train)
        assert (r["n_ngrams"], r["n_contaminated"]) == (len(hs), n_cont)
        ppm = n_cont * 1_000_000 // len(hs) if hs else 0
        assert r["contamination_ppm"] == ppm
        assert r["flagged"] == (1 if hs and ppm >= CONTAM_FLAG_PPM else 0)


def test_source_contamination_matrix_matches_python_replay(spark):
    from collections import defaultdict

    from projet_meteo_etl_spark.operators.dedup import (
        source_contamination_matrix,
    )

    sf = "/root/testdata/sf0.001"
    per_src = defaultdict(set)
    for _, (source, hs) in _doc_8gram_hash_sets(sf).items():
        per_src[source] |= hs
    rows = source_contamination_matrix(spark, sf).collect()
    expect = {}
    srcs = sorted(per_src)
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(per_src[a] & per_src[b])
            if shared:
                expect[(a, b)] = (
                    shared,
                    len(per_src[a]),
                    len(per_src[b]),
                    shared
                    * 1_000_000
                    // min(len(per_src[a]), len(per_src[b])),
                )
    got = {
        (r["src_a"], r["src_b"]): (
            r["n_shared"], r["grams_a"], r["grams_b"], r["containment_ppm"],
        )
        for r in rows
    }
    assert got == expect


def test_fs_weights_identities(spark):
    """FS estimate identities: m/u are Laplace-smoothed ppm in (0, 1e6);
    agreeing on a field must be evidence FOR a match only when m > u
    (w_agree > 0 iff ln m > ln u at the fixed-point scale); and the u
    probability must equal the value-distribution collision rate
    recomputed directly."""
    from projet_meteo_etl_spark.operators.dedup import (
        FS_LEN_BAND,
        fs_linkage_weights,
    )
    from projet_meteo_etl_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    rows = {r["field"]: r for r in fs_linkage_weights(spark, SF_SMOKE).collect()}
    assert set(rows) == {"lang", "source", "len_band"}

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    n = len(docs)
    t_pairs = n * (n - 1) // 2
    for field, getter in (
        ("lang", lambda d: d["lang"]),
        ("source", lambda d: d["source"]),
        ("len_band", lambda d: d["n_chars"] // FS_LEN_BAND),
    ):
        counts: dict = {}
        for d in docs:
            v = getter(d)
            counts[v] = counts.get(v, 0) + 1
        agree_u = sum(c * (c - 1) // 2 for c in counts.values())
        r = rows[field]
        assert r["n_total_pairs"] == t_pairs
        assert r["u_ppm"] == (agree_u + 1) * 1_000_000 // (t_pairs + 2)
        assert 0 < r["m_ppm"] < 1_000_000
        assert 0 < r["u_ppm"] < 1_000_000
        assert (r["w_agree_mnat"] > 0) == (r["m_ppm"] > r["u_ppm"])


def test_fs_scores_rank_matches_weight_sum(spark):
    """Each reported pair's score must equal the sum of its per-field
    weights chosen by the agreement flags, and matches (shared-prefix
    pairs) must score at least as high on average as non-matches."""
    from projet_meteo_etl_spark.operators.dedup import (
        fs_linkage_scores,
        fs_linkage_weights,
    )
    from tests.conftest import SF_SMOKE

    w = {r["field"]: r for r in fs_linkage_weights(spark, SF_SMOKE).collect()}
    rows = fs_linkage_scores(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        expect = (
            (w["lang"]["w_agree_mnat"] if r["ag_lang"] else w["lang"]["w_disagree_mnat"])
            + (w["source"]["w_agree_mnat"] if r["ag_source"] else w["source"]["w_disagree_mnat"])
            + (w["len_band"]["w_agree_mnat"] if r["ag_len"] else w["len_band"]["w_disagree_mnat"])
        )
        assert r["score_mnat"] == expect


def test_incremental_minhash_split_and_pruning(spark):
    """Incremental probe: every emitted pair is new-vs-corpus, the
    result is non-trivial, jaccard respects the threshold, and the
    stored-index scan is physically partition-pruned (the
    PartitionFilters INSET over (band_idx, key_pfx))."""
    import re

    df = dedup.dedup_minhash_incremental(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[concat_ws", plan), (
        "index scan is not partition-pruned"
    )
    rows = df.collect()
    assert rows, "no cross-split near-dup pairs at sf0.01"
    for r in rows:
        assert r["new_doc"] % dedup.INC_BATCH_MOD == 0
        assert r["corpus_doc"] % dedup.INC_BATCH_MOD != 0
        assert r["jaccard"] >= 0.04


def test_incremental_minhash_agrees_with_batch_lsh_on_cross_pairs(spark):
    """Where the corpus-frozen stop set equals the full-corpus stop set
    (true at this SF — assert it), the incremental result must be
    EXACTLY the batch LSH result restricted to cross-split pairs."""
    from pyspark.sql import functions as F

    from projet_meteo_etl_spark.catalog import load_table
    from projet_meteo_etl_spark.operators.dedup import (
        INC_BATCH_MOD,
        NGRAM_MAX_DF,
        word_shingle_hashes,
    )

    d = load_table(spark, SF, "documents")
    full_stop = {
        r["h"]
        for r in word_shingle_hashes(d)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_MAX_DF)
        .collect()
    }
    corpus_stop = {
        r["h"]
        for r in word_shingle_hashes(
            d.filter(F.col("doc_id") % INC_BATCH_MOD != 0)
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_MAX_DF)
        .collect()
    }
    if full_stop != corpus_stop:  # fixture drift: comparison is moot
        import pytest

        pytest.skip("stop sets diverge at this SF; subset check only")
    inc = {
        (r["new_doc"], r["corpus_doc"], r["jaccard"])
        for r in dedup.dedup_minhash_incremental(spark, SF).collect()
    }
    full = dedup.dedup_minhash_lsh(spark, SF).collect()
    cross = set()
    for r in full:
        a, b = r["doc_a"], r["doc_b"]
        if a % INC_BATCH_MOD == 0 and b % INC_BATCH_MOD != 0:
            cross.add((a, b, r["jaccard"]))
        elif b % INC_BATCH_MOD == 0 and a % INC_BATCH_MOD != 0:
            cross.add((b, a, r["jaccard"]))
    assert inc == cross


def test_winnow_persists_fingerprints_only_when_capped(spark, monkeypatch):
    """Uncapped, the fingerprint relation has one consumer and is not
    persisted; the df cap gives it a second consumer and a cache.  Both
    give the same pairs when the cap drops nothing."""
    from tests.conftest import SF_SMOKE

    cls = type(spark.range(1))
    persist, calls = cls.persist, []

    def counting_persist(self, *args, **kwargs):
        calls.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", counting_persist)
    uncapped = dedup.winnow_fingerprint_pairs(spark, SF_SMOKE, max_df=None)
    assert len(calls) == 1  # the self-join input only
    capped = dedup.winnow_fingerprint_pairs(spark, SF_SMOKE, max_df=10**9)
    assert len(calls) == 3
    assert _pairs(uncapped) == _pairs(capped)
