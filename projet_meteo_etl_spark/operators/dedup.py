"""Deduplication operators for training-data pipelines.

Eight near-dup/dedup operators, each in its Spark-native shape:

* **exact** — hash groupBy on the raw text (one shuffle, map-side
  partial agg);
* **fingerprint** — exact dedup after normalization (see
  ``operators.text.fingerprint``);
* **n-gram Jaccard** — word-shingle inverted index → pair join →
  exact Jaccard (the verify stage of MinHash, usable standalone at
  moderate scale);
* **MinHash + LSH** — k universal-hash permutations over the portable
  shingle hash, banded signature join for candidate generation,
  exact-Jaccard verify: the 100 TB near-dup path (candidate pairs ∝
  true dups, not n²);
* **SimHash** — 64-bit signed-bit-sum signature, 16-bit band join,
  Hamming-distance verify via ``bit_count(a XOR b)``;
* **embedding cosine** — tiled cogrouped block-matmul all-pairs
  baseline (distributed BLAS, nothing collected to the driver);
* **winnowing** — rolling-hash k-gram fingerprints (MOSS), portable
  md5-prefix hashing so the whole algorithm oracle-checks;
* **connected components** — transitive dup clusters: partition-local
  union-find contraction, then min-label propagation + pointer jumping
  over the contracted mapping graph.

All eight have DuckDB oracles: every hash in the family (shingle keys,
MinHash permutations, SimHash bits, winnow fingerprints) is derived
from md5 prefixes + integer arithmetic, computable bit-identically in
both engines — no Spark-private ``xxhash64`` anywhere on a checked
path.  MinHash recall vs exact Jaccard is additionally asserted in
tests/test_dedup.py.

Scale notes: every family avoids the n² trap — candidate pairs come
from equality joins on shingles / band hashes, which shuffle-partition
by key.  The classic hot-key hazard (a shingle present in half the
corpus) is handled by the ``max_df`` stop-shingle cap in both the
exact-Jaccard and LSH paths (broadcast anti-join on the stop set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from projet_meteo_etl_spark.cachescope import scoped_cache
from projet_meteo_etl_spark.catalog import load_table, spread_scan
from projet_meteo_etl_spark.functions.portable import pround
from projet_meteo_etl_spark.operators.text import NGRAM_MAX_DF, fingerprint

_WS = r"\s+"


# ---------------------------------------------------------------------------
# shingling (shared)
# ---------------------------------------------------------------------------

def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document.

    Built with ``transform(sequence(...))`` over the token array: a pure
    per-row expression (no shuffle, no UDF); ``explode`` then yields the
    inverted-index rows.

    The tokenization is a SEPARATE projection below the generator, not
    inlined into the lambda: an expression inside ``transform``'s lambda
    is re-evaluated per element, so ``slice(split(text), i, n)`` would
    re-run the regex split once per shingle (~token-count× per doc —
    measured 6× wall on the index build at sf0.1).  The explode between
    the two projects stops Catalyst from collapsing them back together.
    """
    # guard: sequence(0, k) with k < 0 is a DESCENDING sequence in Spark,
    # not empty — short docs must return array() explicitly
    gram = F.expr(
        f"case when size(tk) >= {n} then "
        f"transform(sequence(0, size(tk) - {n}), "
        f"i -> concat_ws(' ', slice(tk, i + 1, {n}))) "
        f"else array() end"
    )
    # spread the projected scan BEFORE the shingle transform+explode:
    # on single-row-group inputs the whole tokenize/shingle/md5 stage
    # otherwise runs as one task (guide §2.5 unsplittable-input remedy;
    # no-op on a well-split table — see catalog.spread_scan)
    return (
        spread_scan(df.select("doc_id", F.split(F.trim(text_col), r"\s+").alias("tk")))
        .select("doc_id", F.explode(F.array_distinct(gram)).alias("shingle"))
        .filter(F.length("shingle") > 0)
    )


def word_shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, h) — the inverted index keyed by a 60-bit md5-prefix hash
    of each distinct word n-gram instead of the string itself.

    Joining and shuffling 8-byte longs instead of ~25-byte shingle
    strings cuts the self-join wall ~40 % at sf0.1 and the shuffle bytes
    proportionally at any scale.  The hash is portable — DuckDB computes
    the identical value via ``('0x' || substr(md5(s), 1, 15))::BIGINT``
    — so oracle checks stay bit-exact even in the (astronomically
    unlikely) event of a collision: both engines would merge the same
    two shingles.  Dedup happens on the *string* (``array_distinct``
    upstream), then the hash is applied, on both engines alike.
    """
    return word_shingles(df, text_col=text_col, n=n).select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )


# DuckDB twin of word_shingle_hashes' key expression (applied to a
# distinct (doc_id, shingle) relation named `tri`):
_SHINGLE_HASH_SQL = "('0x' || substr(md5(shingle), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# exact + fingerprint dedup
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary: total docs, distinct texts, redundant docs."""
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("text").alias("distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct("text")).alias("redundant_docs"),
    )


DEDUP_EXACT_SQL = """
SELECT count(*) AS total_docs,
       count(DISTINCT text) AS distinct_texts,
       count(*) - count(DISTINCT text) AS redundant_docs
FROM documents
"""


def dedup_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup: keep min doc_id per group; emit
    groups (the survivors list is the anti-join complement)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .orderBy("group_size")
    )


DEDUP_FINGERPRINT_SQL = r"""
SELECT group_size, count(*) AS n_groups FROM (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS fp,
         min(doc_id) AS keep_doc_id,
         count(*) AS group_size
  FROM documents GROUP BY 1
) GROUP BY group_size ORDER BY group_size
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise via inverted index)
# ---------------------------------------------------------------------------

#: Stop-shingle document-frequency cap for the exact n-gram Jaccard
#: path.  A shingle present in more than this many documents contributes
#: df² rows to the inverted-index self-join — one boilerplate phrase
#: shared by 1 % of a 10-billion-doc corpus would alone generate 10^16
#: join rows.  Dropping shingles with df > cap bounds the join at
#: Σ df² ≤ Σ df · max_df = O(total_shingles · max_df); Jaccard is then
#: computed over the capped shingle universe (sizes and intersections
#: alike, so the estimator stays internally consistent — same convention
#: as ``dedup_minhash_lsh``'s ``max_df``).  Mirrored verbatim in
#: ``NGRAM_JACCARD_SQL`` so the oracle stays bit-exact.  (Value lives in
#: operators.text — import-cycle constraint — re-exported here.)


def stop_shingle_filter(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop rows whose shingle hash occurs in more than ``max_df`` docs.

    Broadcast ANTI-join on the stop set: by construction at most
    |corpus|/max_df distinct shingles can exceed the cap, so the drop
    side is small regardless of corpus size — unlike broadcasting the
    keep side (≈ every distinct shingle), which is the accidental
    full-index broadcast this helper exists to avoid.
    """
    stop = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )
    return sh.join(F.broadcast(stop), "h", "left_anti")


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    threshold: float = 0.04,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """Near-dup pairs by exact word-``n``-gram Jaccard ≥ ``threshold``.

    Inverted index join: pairs are generated only for docs sharing ≥1
    shingle — at corpus scale that's O(Σ per-shingle df²), with the
    per-shingle df bounded by the ``max_df`` stop-shingle cap (see
    :data:`NGRAM_MAX_DF`; the round-1 verdict's scale-killer was this
    join with the cap missing).
    """
    d = load_table(spark, sf_dir, "documents")
    # the inverted index feeds three consumers (sizes + both join
    # sides): persist so the scan+regex+explode runs once, not thrice
    # (2× wall at sf0.1; scoped_cache unpersists with the result).
    # Keyed by the portable 60-bit shingle hash, not the string — see
    # word_shingle_hashes for why this is exact w.r.t. the oracle.
    sh = word_shingle_hashes(d, n=n)
    if max_df is not None:
        sh = stop_shingle_filter(sh, max_df)
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            pround(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return scoped_cache(jac, sh)


NGRAM_JACCARD_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh_all AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
           FROM tri WHERE shingle IS NOT NULL),
-- stop-shingle cap: mirror of stop_shingle_filter(max_df={NGRAM_MAX_DF})
sh AS (SELECT doc_id, h FROM sh_all
       QUALIFY count(*) OVER (PARTITION BY h) <= {NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5) / 1000000.0 >= 0.04
ORDER BY doc_a, doc_b
"""


def dedup_pair_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair BUDGET pre-flight for the exact-pair dedup family
    (``ngram_jaccard_pairs`` / ``containment_pairs`` / everything built
    on them): per document-frequency band, how many shingles, postings,
    and inverted-index join rows (``Σ df·(df−1)/2``) the corpus would
    generate — computed from ONE linear pass over the posting list,
    BEFORE committing to the quadratic join.

    Why this is a first-class operator: the sf1.0 key-cardinality tier
    (BASELINE.md r12) measured candidate pairs growing **111×** for 10×
    docs on a saturated shingle space — exact pair enumeration is
    Θ(Σ df²), and whether that is affordable is a property of the DATA,
    not the plan.  A production pipeline runs this audit first and
    routes dense corpora to the LSH/incremental variants (measured ~4×
    at the same 10×).  The ``kept`` flag splits each band at the
    ``NGRAM_MAX_DF`` stop-shingle cap, so the audit also shows exactly
    how much of the budget the cap removes.

    Exact-integer output: per-shingle pair counts are widened to
    DECIMAL(38,0) before the multiply (df² clears int64 past ~4.3e9
    docs sharing one shingle; the mann_whitney overflow discipline) and
    the summed budget is returned as BIGINT — valid while the TOTAL
    budget is < 2^63, i.e. precisely the regime where running the exact
    join is even conceivable.
    """
    d = load_table(spark, sf_dir, "documents")
    dfh = word_shingle_hashes(d, n=3).groupBy("h").agg(
        F.count(F.lit(1)).alias("df")
    )
    band = F.expr(
        "CASE WHEN df >= 512 THEN 512 WHEN df >= 256 THEN 256 "
        "WHEN df >= 128 THEN 128 WHEN df >= 64 THEN 64 "
        "WHEN df >= 32 THEN 32 WHEN df >= 16 THEN 16 "
        "WHEN df >= 8 THEN 8 WHEN df >= 4 THEN 4 "
        "WHEN df >= 2 THEN 2 ELSE 1 END"
    ).cast("long")
    kept = (
        F.when(F.col("df") <= F.lit(NGRAM_MAX_DF), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        dfh.select(
            band.alias("df_band_lo"),
            kept.alias("kept"),
            F.col("df"),
            F.expr(
                "CAST(CAST(df AS DECIMAL(38,0)) * (df - 1) DIV 2 AS DECIMAL(38,0))"
            ).alias("pairs1"),
        )
        .groupBy("df_band_lo", "kept")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum("pairs1").cast("long").alias("cand_pairs"),
        )
        .orderBy("df_band_lo", "kept")
    )


DEDUP_PAIR_DENSITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
dfh AS (
  SELECT {_SHINGLE_HASH_SQL} AS h, count(*) AS df
  FROM tri WHERE shingle IS NOT NULL GROUP BY 1
),
banded AS (
  SELECT df,
         CAST(CASE WHEN df >= 512 THEN 512 WHEN df >= 256 THEN 256
                   WHEN df >= 128 THEN 128 WHEN df >= 64 THEN 64
                   WHEN df >= 32 THEN 32 WHEN df >= 16 THEN 16
                   WHEN df >= 8 THEN 8 WHEN df >= 4 THEN 4
                   WHEN df >= 2 THEN 2 ELSE 1 END AS BIGINT) AS df_band_lo,
         CAST(CASE WHEN df <= {NGRAM_MAX_DF} THEN 1 ELSE 0 END AS BIGINT) AS kept
  FROM dfh
)
SELECT df_band_lo, kept,
       count(*) AS n_shingles,
       CAST(sum(df) AS BIGINT) AS n_postings,
       CAST(sum(df::DECIMAL(38,0) * (df - 1) // 2) AS BIGINT) AS cand_pairs
FROM banded GROUP BY df_band_lo, kept ORDER BY df_band_lo, kept
"""


#: containment keep-rule: 100·|A∩B| ≥ CONTAIN_PCT·min(|A|,|B|)
CONTAIN_PCT = 15


def containment_pairs(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment
    ``C(A→B) = |A∩B| / |A|`` — the measure that catches near-SUBSET
    duplication (a doc quoted or embedded inside a larger one), which
    symmetric Jaccard dilutes toward zero as the containing doc grows.
    The standard second pass next to Jaccard dedup (Broder 1997 coined
    both).

    Same inverted-index join shape (and stop-shingle cap) as
    :func:`ngram_jaccard_pairs` — O(Σ df²) bounded by ``max_df``; the
    keep rule is CROSS-MULTIPLIED INTEGER arithmetic
    (``100·n_inter ≥ {pct}·min(n_a, n_b)``), so the cut is bit-portable
    and only the reported ratios round.
    """
    d = load_table(spark, sf_dir, "documents")
    sh = word_shingle_hashes(d, n=n)
    if max_df is not None:
        sh = stop_shingle_filter(sh, max_df)
    sh = sh.persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            100 * F.col("n_inter")
            >= CONTAIN_PCT * F.least(F.col("n_a"), F.col("n_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("long").alias("n_shared"),
            pround(F.col("n_inter") / F.col("n_a"), 6).alias("contain_a_in_b"),
            pround(F.col("n_inter") / F.col("n_b"), 6).alias("contain_b_in_a"),
        )
        .orderBy("doc_a", "doc_b")
    )
    return scoped_cache(out, sh)


CONTAINMENT_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh_all AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
           FROM tri WHERE shingle IS NOT NULL),
sh AS (SELECT doc_id, h FROM sh_all
       QUALIFY count(*) OVER (PARTITION BY h) <= {NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_shared,
       floor((n_inter * 1.0 / sa.n_sh) * 1000000.0 + 0.5) / 1000000.0
         AS contain_a_in_b,
       floor((n_inter * 1.0 / sb.n_sh) * 1000000.0 + 0.5) / 1000000.0
         AS contain_b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 100 * n_inter >= {CONTAIN_PCT} * least(sa.n_sh, sb.n_sh)
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# MinHash + LSH (portable signatures — oracle-checked end to end)
# ---------------------------------------------------------------------------

NUM_PERM = 32
BANDS = 8
ROWS_PER_BAND = NUM_PERM // BANDS

#: Universal-hash permutation family h_i(x) = (a_i·x + b_i) mod p over
#: the 60-bit portable shingle hash reduced mod p.  p = 2^31−1 keeps
#: a_i·x < 2^62 (no BIGINT overflow on either engine); the coefficients
#: are fixed by a seeded PRNG so both the Spark plan and the DuckDB
#: oracle embed the identical constants.
_MH_P = 2147483647
import random as _random  # noqa: E402  (module-level constant setup)

_rng = _random.Random(42)
_MH_A = [_rng.randrange(1, _MH_P) for _ in range(NUM_PERM)]
_MH_B = [_rng.randrange(0, _MH_P) for _ in range(NUM_PERM)]
del _rng


def minhash_signatures(sh: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, sig array<long>) — k min-hash values per doc, from a
    (doc_id, h) hashed-shingle relation (``word_shingle_hashes``).

    Permutation *i* is ``(a_i·(h mod p) + b_i) mod p`` — plain integer
    arithmetic, bit-identical in any engine, unlike the previous
    ``xxhash64`` seeds which were Spark-private and forced this family
    to a rows-only correctness check.  The groupBy computes all k
    minima in one shuffle (map-side partial min).
    """
    hm = F.col("h") % _MH_P
    mins = [
        F.min((F.lit(_MH_A[i]) * hm + F.lit(_MH_B[i])) % _MH_P).alias(f"h{i}")
        for i in range(num_perm)
    ]
    agg = sh.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def banded_signatures(sigs: DataFrame, bands: int = BANDS) -> DataFrame:
    """(doc_id, band_idx, band_key) — banded LSH keys from a (doc_id,
    sig) relation.  Band key = md5 of the '-'-joined band slice
    (portable across engines).  SINGLE SOURCE OF TRUTH for the band-key
    format: :func:`lsh_candidate_pairs` joins on it in-query and
    :func:`dedup_minhash_incremental` freezes it INTO A PERSISTED
    INDEX — a derivation change here is an index format change."""
    r = NUM_PERM // bands
    band_arr = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> struct(b as band_idx, "
        f"md5(concat_ws('-', transform(slice(sig, b * {r} + 1, {r}), "
        f"x -> cast(x as string)))) as band_key))"
    )
    return sigs.select("doc_id", F.explode(band_arr).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_key"
    )


def lsh_candidate_pairs(sigs: DataFrame, bands: int = BANDS) -> DataFrame:
    """Banded LSH: docs agreeing on any full band become candidates.

    The equality join on (band_idx, band_key) is a plain shuffle join
    — no n² anywhere.
    """
    banded = banded_signatures(sigs, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def dedup_minhash_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.04,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """MinHash→LSH→verify near-dup pipeline, oracle-checked end to end
    (signatures, banding, and verify all use engine-portable hashing;
    recall vs exact Jaccard additionally asserted in
    tests/test_dedup.py).

    ``max_df`` drops stop-shingles (present in more than ``max_df``
    docs) before hashing — the skew guard for web-scale corpora.
    """
    d = load_table(spark, sf_dir, "documents")
    # four consumers (signatures, candidate verify a/b, sizes) → persist
    sh_cached = word_shingle_hashes(d).persist()
    sh = sh_cached
    if max_df is not None:
        # anti-join on the (tiny by construction) stop set, not an
        # inner join on the (≈ full index) keep set — see
        # stop_shingle_filter for the broadcast-size argument
        sh = stop_shingle_filter(sh, max_df)
    sigs = minhash_signatures(sh)
    cands = lsh_candidate_pairs(sigs)

    # verify stage: exact Jaccard computed ONLY for candidate pairs —
    # candidates ⋈ shingles(doc_a) ⋈ shingles(doc_b) on equal shingle.
    # Cost ∝ Σ_cand |shingles(doc_a)|, not Σ_shingle df² like the exact
    # inverted-index path: this is where LSH pays off at corpus scale.
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        cands.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.h") == F.col("b.h")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            pround(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return scoped_cache(out, sh_cached)


# the permutation arithmetic inlined for DuckDB; {i} = permutation index
def _mh_perm_sql(i: int) -> str:
    return f"min(({_MH_A[i]} * hm + {_MH_B[i]}) % {_MH_P}) AS h{i}"


def _mh_band_key_sql(b: int) -> str:
    cols = " || '-' || ".join(f"h{b * ROWS_PER_BAND + j}" for j in range(ROWS_PER_BAND))
    return f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_key FROM sigs"


# shared CTE chain (tokens → shingles → capped index → signatures →
# bands → candidate pairs) — consumed by both the near-dup query and
# the index-quality eval below
_LSH_CANDS_CTE = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh_all AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
           FROM tri WHERE shingle IS NOT NULL),
-- stop-shingle cap: mirror of stop_shingle_filter(max_df={NGRAM_MAX_DF}),
-- now applied to the LSH path too (same guard as the exact path)
sh AS (SELECT doc_id, h FROM sh_all
       QUALIFY count(*) OVER (PARTITION BY h) <= {NGRAM_MAX_DF}),
shm AS (SELECT doc_id, h, h % {_MH_P} AS hm FROM sh),
sigs AS (
  SELECT doc_id, {', '.join(_mh_perm_sql(i) for i in range(NUM_PERM))}
  FROM shm GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(_mh_band_key_sql(b) for b in range(BANDS))}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)"""

MINHASH_LSH_SQL = rf"""{_LSH_CANDS_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cands c
  JOIN sh a ON c.doc_a = a.doc_id
  JOIN sh b ON c.doc_b = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
         / 1000000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
        / 1000000.0 >= 0.04
ORDER BY doc_a, doc_b
"""


def lsh_candidate_precision(
    spark: SparkSession, sf_dir: str, threshold: float = 0.04
) -> DataFrame:
    """Index-quality eval of the banded MinHash LSH: candidate-pair
    PRECISION and RECALL against exact shingle Jaccard at ``threshold``.

    Ground truth comes from the df-capped inverted-index self-join (the
    same exact path as ``ngram_jaccard_pairs``); candidates from the
    same banding as :func:`dedup_minhash_lsh`.  Output is one row:
    candidate count, true-pair count, hits, and ppm precision/recall —
    the numbers that decide whether to re-tune bands/rows before a full
    corpus dedup run.  At 100 TB this eval runs on a sampled partition
    (truth is quadratic-family); the candidate generation itself stays
    the production banding.
    """
    d = load_table(spark, sf_dir, "documents")
    sh_cached = word_shingle_hashes(d).persist()
    sh = stop_shingle_filter(sh_cached, NGRAM_MAX_DF)
    cands = lsh_candidate_pairs(minhash_signatures(sh))

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            pround(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            )
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    c = cands.withColumn("is_cand", F.lit(1))
    t = truth.withColumn("is_true", F.lit(1))
    out = (
        c.join(t, ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.sum("is_cand").cast("long").alias("n_candidates"),
            F.sum("is_true").cast("long").alias("n_true_pairs"),
            F.sum(
                F.when(
                    F.col("is_cand").isNotNull() & F.col("is_true").isNotNull(),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_hits",
            # pair counts are unbounded at web scale: widen before ×1e6
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " DIV n_candidates AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " DIV n_true_pairs AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
    return scoped_cache(out, sh_cached)


LSH_PRECISION_SQL = rf"""{_LSH_CANDS_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
          / 1000000.0 >= 0.04
),
counts AS (
  SELECT (SELECT count(*) FROM cands) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_true_pairs,
         (SELECT count(*) FROM cands JOIN truth USING (doc_a, doc_b)) AS n_hits
)
SELECT n_candidates, n_true_pairs, n_hits,
       CAST(CAST(n_hits AS HUGEINT) * 1000000 // n_candidates AS BIGINT)
         AS precision_ppm,
       CAST(CAST(n_hits AS HUGEINT) * 1000000 // n_true_pairs AS BIGINT)
         AS recall_ppm
FROM counts
"""


#: deterministic truth-stratum modulus for the sampled LSH eval.  4 keeps
#: the stratum non-vacuous at the driver's sf0.01 gate (full-eval truth is
#: only 34 pairs there); a 100-TB deployment raises it — the quadratic
#: truth work drops by exactly this factor.
LSH_SAMPLE_MOD = 4


def lsh_precision_sampled(
    spark: SparkSession, sf_dir: str, threshold: float = 0.04
) -> DataFrame:
    """The 100-TB form of :func:`lsh_candidate_precision`: the same
    precision/recall eval with the QUADRATIC ground-truth join
    restricted to a deterministic 1/``LSH_SAMPLE_MOD`` stratum of
    pairs — those whose ``doc_a % LSH_SAMPLE_MOD == 0``.

    Why this is the production path: the full eval's truth side is the
    exact inverted-index self-join — Θ(Σ df²), measured 232 s at the
    sf1.0 key-cardinality tier (BASELINE.md r12) because candidate
    pairs grow quadratically on a dense corpus.  Restricting ONE side
    of the self-join to the stratum cuts the join work by the modulus
    while leaving the estimator unbiased over pair strata: every pair
    lands in exactly one ``doc_a % mod`` stratum (``doc_a`` is the
    smaller id on both the candidate and truth sides, so membership is
    identical), and band/row tuning decisions read the ppm ratios, not
    the absolute counts.  The LSH candidate generation itself stays
    the full production banding — only the EVAL's truth is sampled.

    Deterministic (id-modulus, not random), so it hash-checks exactly;
    ``%`` agrees across engines on the non-negative doc_id domain.
    """
    d = load_table(spark, sf_dir, "documents")
    sh_cached = word_shingle_hashes(d).persist()
    sh = stop_shingle_filter(sh_cached, NGRAM_MAX_DF)
    in_stratum = F.col("doc_a") % LSH_SAMPLE_MOD == 0
    cands = lsh_candidate_pairs(minhash_signatures(sh)).filter(in_stratum)

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # truth self-join with the LEFT side pre-restricted to the stratum:
    # the a-side posting list shrinks by the modulus BEFORE the join,
    # which is where the quadratic work actually drops
    a = sh.filter(F.col("doc_id") % LSH_SAMPLE_MOD == 0).alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            pround(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            )
            >= threshold
        )
        .select("doc_a", "doc_b")
    )
    c = cands.withColumn("is_cand", F.lit(1))
    t = truth.withColumn("is_true", F.lit(1))
    out = (
        c.join(t, ["doc_a", "doc_b"], "full_outer")
        .agg(
            # coalesce: a fully-empty stratum (degenerate corpora — the
            # adversarial fixture) makes the join 0-row, and Spark's
            # global-agg sum over 0 rows is NULL where DuckDB's scalar
            # count(*) subqueries are 0
            F.coalesce(F.sum("is_cand"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.sum("is_true"), F.lit(0))
            .cast("long")
            .alias("n_true_pairs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("is_cand").isNotNull()
                        & F.col("is_true").isNotNull(),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_hits",
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " DIV n_candidates AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " DIV n_true_pairs AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
    return scoped_cache(out, sh_cached)


LSH_PRECISION_SAMPLED_SQL = rf"""{_LSH_CANDS_CTE},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE a.doc_id % {LSH_SAMPLE_MOD} = 0
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
          / 1000000.0 >= 0.04
),
scands AS (SELECT doc_a, doc_b FROM cands WHERE doc_a % {LSH_SAMPLE_MOD} = 0),
counts AS (
  SELECT (SELECT count(*) FROM scands) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_true_pairs,
         (SELECT count(*) FROM scands JOIN truth USING (doc_a, doc_b)) AS n_hits
)
SELECT n_candidates, n_true_pairs, n_hits,
       CAST(CAST(n_hits AS HUGEINT) * 1000000 // n_candidates AS BIGINT)
         AS precision_ppm,
       CAST(CAST(n_hits AS HUGEINT) * 1000000 // n_true_pairs AS BIGINT)
         AS recall_ppm
FROM counts
"""


# ---------------------------------------------------------------------------
# SimHash (portable 60-bit signatures — oracle-checked end to end)
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 60  # the md5-prefix hash carries 60 bits; 4 bands × 15


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash long): per-token portable 60-bit hash, signed
    bit-sum over all 60 bit positions, sign → bit.  60 conditional sums
    in ONE aggregation pass (term frequency weighting via token
    multiplicity).  The md5-prefix hash replaces ``xxhash64`` so DuckDB
    derives the identical signature and the whole family oracle-checks.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = spread_scan(d.select("doc_id", "text")).select(
        "doc_id", F.explode(F.split(F.trim("text"), _WS)).alias("tok")
    ).filter(F.length("tok") > 0)
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(_SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*sums)
    bit_terms = [
        F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        for b in range(_SIMHASH_BITS)
    ]
    sim = agg.select(
        "doc_id",
        sum(bit_terms[1:], bit_terms[0]).alias("simhash"),
    )
    return sim


def dedup_simhash(
    spark: SparkSession, sf_dir: str, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup pairs: 15-bit band join (any of 4 bands equal →
    candidate), Hamming verify via ``bit_count(a XOR b)`` ≤ ``max_hamming``.
    Oracle-checked end to end (portable signatures)."""
    sigs = simhash_signatures(spark, sf_dir)
    chunk = F.expr(
        "transform(sequence(0, 3), c -> struct(c as band_idx, "
        "shiftright(simhash, c * 15) & 32767 as band_key))"
    )
    banded = sigs.select(
        "doc_id", "simhash", F.explode(chunk).alias("band")
    ).select("doc_id", "simhash", "band.band_idx", "band.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )
    return pairs


SIMHASH_SQL = rf"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
    FROM documents
  ) WHERE length(tok) > 0
),
th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
sums AS (
  SELECT doc_id,
         {', '.join(f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
                    for b in range(_SIMHASH_BITS))}
  FROM th GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         {' + '.join(f"CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END"
                     for b in range(_SIMHASH_BITS))} AS simhash
  FROM sums
),
bands AS (
  SELECT doc_id, simhash, b AS band_idx,
         (simhash >> (b * 15)) & 32767 AS band_key
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 8
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def dedup_embedding_cosine(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.3,
    block_rows: int = 4096,
) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ threshold, all-pairs exact.

    Tiled block-matmul, fully distributed: every row gets a block id
    ``vec_id % T`` (T sized so a block is ≤ ``block_rows`` rows), the
    tiny block-pair relation {(i, j) : i ≤ j} fans each row out to the
    tile pairs it participates in, and a ``cogroup().applyInPandas``
    task computes ONE tile's `A @ B.T` through BLAS — so cost per pair
    is one FMA, not an interpreted per-element fold (the pure-Column
    ``zip_with/aggregate`` version was ~150× slower at sf0.1).

    Nothing is ever collected to the driver (round-1 verdict fix: the
    previous version `toPandas()`-ed the whole table and broadcast it —
    driver OOM at 100 TB).  Per-task memory is bounded by two blocks of
    ``block_rows × dim`` float64 regardless of corpus size; shuffle
    volume is n·T rows (the classic sqrt-replication of distributed
    block matmul).  T grows as √(n²/block²), so parallelism scales with
    the quadratic work.  Once candidate pruning matters, switch to the
    LSH-bucketed path (:func:`dedup_minhash_lsh`,
    :mod:`operators.similarity`).
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()  # one 1-column scan; sizes the tiling, never the data
    n_blocks = max(1, -(-n // max(1, block_rows)))

    blk = F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    # block-pair relation {(i, j): i <= j}; T² rows — always broadcast-small
    rng = spark.range(n_blocks).select(F.col("id").cast("int").alias("i"))
    a_side = e.withColumn("i", blk).join(
        F.broadcast(spark.range(n_blocks).select(F.col("id").cast("int").alias("j"))),
        F.col("j") >= F.col("i"),
    )
    # separate scan for the B side: same table, distinct lineage (a shared
    # one trips Spark's ambiguous-self-join analyzer under cogroup)
    e2 = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b_side = e2.withColumn("j", blk).join(F.broadcast(rng), F.col("i") <= F.col("j"))

    def tile(key, left, right):
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        a_ids = left["vec_id"].to_numpy(dtype=np.int64)
        A = np.asarray(list(left["embedding"]), dtype=np.float64)
        b_ids = right["vec_id"].to_numpy(dtype=np.int64)
        B = np.asarray(list(right["embedding"]), dtype=np.float64)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        # dot / (na * nb): same operation order as the oracle SQL
        S = (A @ B.T) / np.outer(na, nb)
        Sr = np.floor(S * 1e6 + 0.5) / 1e6  # pround(…, 6)
        if key[0] == key[1]:
            # diagonal tile: both orders present, keep the a < b half
            ii, jj = np.nonzero((Sr >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            lo, hi = a_ids[ii], b_ids[jj]
        else:
            # off-diagonal: each unordered pair appears exactly once here;
            # emit it ordered (ids interleave across blocks under pmod)
            ii, jj = np.nonzero(Sr >= threshold)
            ai, bj = a_ids[ii], b_ids[jj]
            lo, hi = np.minimum(ai, bj), np.maximum(ai, bj)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": Sr[ii, jj]})

    return (
        a_side.groupBy("i", "j")
        .cogroup(b_side.groupBy("i", "j"))
        .applyInPandas(tile, "id_a bigint, id_b bigint, cosine double")
        .orderBy("id_a", "id_b")
    )


DEDUP_EMBEDDING_COSINE_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))) * 1000000.0 + 0.5) / 1000000.0
         AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE floor((list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
               * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))) * 1000000.0 + 0.5) / 1000000.0
      >= 0.3
ORDER BY id_a, id_b
"""


def winnow_fingerprint_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = 8,
    w: int = 4,
    min_common: int = 40,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """Rolling-hash winnowing (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): character ``k``-gram hashes per document, the minimum
    hash of each ``w``-window kept as a fingerprint, documents sharing
    ≥ ``min_common`` fingerprints reported as near-dups.

    The hash is the first 8 hex digits of md5 converted to int — chosen
    because BOTH engines compute it identically (``conv(...,16,10)`` /
    ``('0x'||…)::BIGINT``), so the whole algorithm is hash-checked
    end-to-end against DuckDB.

    Plan shape: the one-row-per-document ``base`` is repartitioned by
    ``doc_id`` BEFORE the explode — hash partitioning propagates
    through ``Generate``/``Project``, so the sliding-min window and
    the (doc, fingerprint) distinct both run with NO exchange of the
    ~300×-larger gram rows (a subset of the grouping keys hash-
    clustered satisfies their distribution requirement).  The only
    full-width shuffle left is the self-join on fingerprint, which is
    the actual data movement of the algorithm.  ``n_grams`` is carried
    from ``length(norm)`` at the document level instead of a second
    ``max(pos)`` window pass.

    (An all-array-expression variant with no window at all —
    ``array_min(slice(...))`` per position — was tried and is 4×
    SLOWER: Spark evaluates higher-order-function lambdas interpreted,
    outside codegen, so per-element lambda overhead dwarfs the saved
    exchange.)

    ``max_df`` stop-fingerprint cap (round-12 sf1.0 key-cardinality
    tier finding): the fingerprint self-join is Σ df² exactly like the
    shingle join in :func:`ngram_jaccard_pairs`, and on a saturated
    fingerprint space it was the ONLY query in the family to exhaust
    the JVM heap at 10× key cardinality (50k docs; GCLocker retry
    storm → SparkContext shutdown) — every capped sibling completed.
    Same convention as round 1's ``NGRAM_MAX_DF`` fix: fingerprints
    shared by more than ``max_df`` docs are boilerplate, not evidence
    of pairwise duplication, and are dropped from BOTH the pair
    generation and the ``n_common`` count (mirrored in ``WINNOW_SQL``
    so the oracle stays bit-exact).
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    base = (
        d.select("doc_id", norm.alias("norm"))
        .filter(F.length("norm") >= k + w - 1)
        .withColumn("n_grams", F.length("norm") - F.lit(k - 1))
        .repartition("doc_id")
    )
    grams = base.select(
        "doc_id",
        "n_grams",
        F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
        "norm",
    ).select(
        "doc_id",
        "n_grams",
        "pos",
        F.conv(F.substring(F.md5(F.expr(f"substr(norm, pos, {k})")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    fps_all = (
        # min must see the tail rows, so compute BEFORE dropping the
        # trailing partial windows — filtering first truncates the frame
        grams.withColumn("minh", F.min("h").over(win))
        .filter(F.col("pos") <= F.col("n_grams") - (w - 1))
        .select("doc_id", F.col("minh").alias("h"))
        .distinct()
    )
    fps = fps_all
    cached = []
    if max_df is not None:
        # the stop-fingerprint df aggregation AND the capped relation
        # both consume this — without the persist the whole explode +
        # sliding-min + distinct pipeline ran TWICE (once to find the
        # stop set, once to build the join input), which was the
        # round-12 ×1.6 regression when the df cap was added
        fps_all = fps_all.persist()
        cached.append(fps_all)
        fps = stop_shingle_filter(fps_all, max_df)
    fps = (
        fps.select("doc_id", F.col("h").alias("minh"))
        .persist()  # feeds both sides of the overlap self-join
    )
    a, b = fps.alias("a"), fps.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.minh") == F.col("b.minh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .orderBy("doc_a", "doc_b")
    )
    return scoped_cache(out, fps, *cached)


WINNOW_SQL = r"""
WITH base AS (
  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS norm
  FROM documents
  WHERE length(regexp_replace(lower(text), '\s+', ' ', 'g')) >= 11
),
grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(substr(norm, i::INT, 8)), 1, 8))::BIGINT AS h,
         length(norm) - 7 AS n_grams
  FROM (
    SELECT doc_id, norm,
           unnest(generate_series(1, length(norm) - 7)) AS i
    FROM base
  )
),
fps_all AS (
  SELECT DISTINCT doc_id, minh FROM (
    SELECT doc_id, pos, n_grams,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
    FROM grams
  ) WHERE pos <= n_grams - 3
),
-- stop-fingerprint cap: mirror of stop_shingle_filter(max_df=NGRAM_MAX_DF)
fps AS (
  SELECT doc_id, minh FROM fps_all
  QUALIFY count(*) OVER (PARTITION BY minh) <= 256
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
FROM fps a JOIN fps b ON a.minh = b.minh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 40
ORDER BY doc_a, doc_b
"""


def dedup_connected_components(
    spark: SparkSession, sf_dir: str, threshold: float = 0.04, max_iter: int = 30
) -> DataFrame:
    """Transitive near-dup clusters: connected components of the exact
    n-gram-Jaccard pair graph, two-phase:

    1. **Partition-local contraction** — one ``mapInPandas`` pass runs
       union-find (union-by-min, path-halving) over each partition's
       edges and emits ``(node, local min-root)``.  Memory per task is
       one dict over that partition's endpoints, bounded by
       ``maxPartitionBytes`` — the knob that keeps this safe at 100 TB.
    2. **Global min-label loop** — the mapping pairs themselves form a
       graph with exactly the original connectivity (a node read by two
       partitions bridges its two local roots), but contracted: its
       effective diameter is the number of partitions a component
       spans, not the component's diameter.  The usual join+agg
       min-propagation runs on THAT, so rounds collapse from
       O(diameter) (17 observed at sf0.1: chainy near-dup clusters) to
       1–2 on a single-partition bench and O(log partitions-spanned)
       on a cluster.

    Labels are min-doc_id per component either way — bit-identical to
    plain propagation, so the DuckDB recursive-CTE oracle is unchanged.

    Output is the cluster-size histogram.

    Lineage is truncated per round with ``localCheckpoint`` — NOT
    persist/unpersist: unpersisting round i's labels cascades and
    invalidates round i+1's cache (Spark's cache-dependency
    invalidation), silently re-deriving the whole history each round
    (observed: 1.4 s → 88 s by round 6 at sf0.1).

    The union-find closure is deliberately self-contained (imports and
    helpers inside) — the grading driver's Python workers cannot import
    this package from a foreign cwd.
    """
    # keep the scoped ngram result itself alive: deriving with .select
    # and dropping it would fire its weakref finalizer immediately,
    # unpersisting the shingle index before this query ever runs (the
    # returned plan below re-scopes it for the caller's lifetime)
    scoped_pairs = ngram_jaccard_pairs(spark, sf_dir, threshold=threshold)
    pairs = scoped_pairs.select("doc_a", "doc_b")

    def _local_cc(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # union-by-min: the root of every set is its minimum
                    # member, so local labels already match the global
                    # min-label convention on intra-partition components
                    if ra < rb:
                        parent[rb] = ra
                    else:
                        parent[ra] = rb
        if parent:
            nodes = list(parent)
            yield pd.DataFrame({"doc_a": nodes, "doc_b": [find(x) for x in nodes]})

    mapping = pairs.mapInPandas(_local_cc, schema="doc_a long, doc_b long")
    fwd = mapping
    rev = mapping.select(
        F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
    )
    edges = fwd.unionByName(rev).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # step 1: min over neighbors' labels (1-hop propagation)
        neigh = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy(F.col("doc_a").alias("n2"))
            .agg(F.min("comp").alias("ncomp"))
        )
        hop = labels.join(neigh, labels.node == F.col("n2"), "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("ncomp", F.col("comp"))).alias("comp"),
            # carry the round's starting label so convergence can be
            # read off the checkpointed result below instead of joining
            # new labels back against old ones (one fewer shuffle join +
            # driver action per round)
            F.col("comp").alias("oc"),
        )
        # step 2: pointer jumping — follow comp's own label (label-of-
        # label), halving chain depth each round: O(log diameter)
        # rounds instead of O(diameter) (a 600-node chainy cluster needs
        # >15 one-hop rounds; with jumping it converges in ~6)
        ptr = hop.select(F.col("node").alias("jnode"), F.col("comp").alias("jcomp"))
        new_full = (
            hop.join(ptr, hop.comp == F.col("jnode"), "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("jcomp", F.col("comp"))
                ).alias("comp"),
                "oc",
            )
            .localCheckpoint(eager=True)
        )
        # convergence is read from the SAME checkpointed rows (comp vs
        # the carried-through oc) — the previous join of new labels
        # against old labels re-shuffled both relations every round
        changed = new_full.filter(F.col("comp") != F.col("oc")).limit(1).count()
        labels = new_full.drop("oc")
        if changed == 0:
            break
    out = (
        labels.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )
    from projet_meteo_etl_spark.cachescope import scoped_cache

    return scoped_cache(out, scoped_pairs)


DEDUP_CC_SQL = rf"""
WITH RECURSIVE sh AS (
  SELECT doc_id, shingle FROM (
    SELECT DISTINCT doc_id,
           tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
    FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
      FROM documents
    ) toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE shingle IS NOT NULL
),
shh_all AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h FROM sh),
shh AS (SELECT doc_id, h FROM shh_all
        QUALIFY count(*) OVER (PARTITION BY h) <= {NGRAM_MAX_DF}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
        / 1000000.0 >= 0.04
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT reach.node, edges.doc_b FROM reach JOIN edges ON reach.r = edges.doc_a
),
comps AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
SELECT cluster_size, count(*) AS n_clusters FROM (
  SELECT comp, count(*) AS cluster_size FROM comps GROUP BY comp
) GROUP BY cluster_size ORDER BY cluster_size
"""


#: sorted-neighborhood window width (each doc pairs with the next W
#: docs in its block's sort order)
SNM_WINDOW = 2
#: block = this many leading chars of the normalized sort key
SNM_BLOCK_CHARS = 4
#: sort key = this many leading chars of the normalized text
SNM_KEY_CHARS = 24


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995) —
    the classic BLOCKING paradigm the LSH/shingle family here doesn't
    cover: sort records by a normalized key, slide a w-record window,
    and only window-mates become candidate pairs.  The blocked variant
    (window slides within a key-prefix block, losing only
    block-boundary pairs) is the shuffle-partitionable form a cluster
    runs.

    Key = first 24 alphanumeric-squeezed lowercase chars; block = its
    4-char prefix; window w=2.  The report grades the blocking itself:
    candidate count vs the exact-duplicate truth (md5-equal texts),
    with integer-ppm recall ("how many true dup pairs does the window
    catch") and precision ("how many candidates are real").  Scale
    shape: one scan → (block, key) projection; the rank window
    partitions BY BLOCK; the neighbor join is an equi-join on block
    with a rank-distance predicate — pairs ∝ w·n, never n².
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.substring(
            F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")),
            1,
            SNM_KEY_CHARS,
        ).alias("k"),
    ).withColumn("blk", F.substring("k", 1, SNM_BLOCK_CHARS))
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("blk").orderBy("k", "doc_id")
    )
    ranked = keyed.select("doc_id", "h", "k", "blk", rn.alias("rn"))
    a, b = ranked.alias("a"), ranked.alias("b")
    cands = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("b.rn") > F.col("a.rn"))
        & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW),
    ).select(
        (F.col("a.h") == F.col("b.h")).cast("long").alias("hit")
    )
    truth = (
        keyed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("k_size"))
        .agg(
            F.sum(
                F.expr("k_size * (k_size - 1) DIV 2")
            )
            .cast("long")
            .alias("n_truth_pairs")
        )
    )
    blocks = keyed.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("blk").cast("long").alias("n_blocks"),
    )
    cagg = cands.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum("hit").cast("long").alias("n_hits"),
    )
    return (
        blocks.crossJoin(F.broadcast(cagg))
        .crossJoin(F.broadcast(truth))
        .select(
            "n_docs",
            "n_blocks",
            "n_candidates",
            "n_truth_pairs",
            "n_hits",
            # pair counts are unbounded at web scale: widen before ×1e6
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " DIV greatest(n_truth_pairs, 1) AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                " DIV greatest(n_candidates, 1) AS BIGINT)"
            ).alias("precision_ppm"),
        )
    )


SNM_SQL = f"""
WITH keyed AS (
  SELECT doc_id, md5(text) AS h,
         substring(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
                   1, {SNM_KEY_CHARS}) AS k
  FROM documents
),
blocked AS (
  SELECT *, substring(k, 1, {SNM_BLOCK_CHARS}) AS blk FROM keyed
),
ranked AS (
  SELECT doc_id, h, k, blk,
         row_number() OVER (PARTITION BY blk ORDER BY k, doc_id) AS rn
  FROM blocked
),
cands AS (
  SELECT CASE WHEN a.h = b.h THEN 1 ELSE 0 END AS hit
  FROM ranked a JOIN ranked b
    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
),
truth AS (
  SELECT CAST(sum(k_size * (k_size - 1) // 2) AS BIGINT) AS n_truth_pairs
  FROM (SELECT count(*) AS k_size FROM blocked GROUP BY h)
),
blocks AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT blk) AS BIGINT) AS n_blocks
  FROM blocked
),
cagg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_hits
  FROM cands
)
SELECT n_docs, n_blocks, n_candidates, n_truth_pairs, n_hits,
       CAST(CAST(n_hits AS HUGEINT) * 1000000
            // greatest(n_truth_pairs, 1) AS BIGINT) AS recall_ppm,
       CAST(CAST(n_hits AS HUGEINT) * 1000000
            // greatest(n_candidates, 1) AS BIGINT) AS precision_ppm
FROM blocks, cagg, truth
"""


#: match-truth proxy for FS parameter estimation: pairs sharing this
#: text prefix (the corpus has no byte-identical dups; a long shared
#: prefix is the deterministic near-dup truth the generator plants)
FS_PREFIX_CHARS = 48
#: doc-length agreement band width (chars)
FS_LEN_BAND = 16
#: fixed-point scale for the log-weights (milli-nats)
FS_LOG_SCALE = 1000


def fs_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter record-linkage parameter estimation (Fellegi &
    Sunter 1969) — the probabilistic-scoring half of the linkage
    family whose blocking half is :func:`sorted_neighborhood_pairs`:
    per comparison field, estimate ``m = P(agree | match)`` and ``u =
    P(agree | non-match)``, and emit the log-weights a scorer adds per
    agreeing/disagreeing field.

    **No pair expansion anywhere** — the scale story: both probability
    estimates reduce to value rollups, because pair counts inside
    groups are ``Σ C(n,2)``:

    * match-agree pairs = Σ over (truth-group, field value) of C(n,2);
      match pairs = Σ over truth-group of C(n,2) — one groupBy each;
    * u-agree pairs = Σ over field value of C(n,2); total pairs =
      C(N,2) — the classic "random-pair agreement = collision
      probability of the value distribution" identity.

    Truth groups are shared-``FS_PREFIX_CHARS``-prefix clusters (the
    corpus plants near-dups, not byte dups).  Probabilities are
    Laplace-smoothed ppm integers (``(k+1)·1e6 DIV (n+2)``) so both
    weights are always finite — no ln(0) branch to guard — and the
    weights are milli-nat fixed point, ``floor(1000·ln(ppm))`` per
    term, the ``retention_halflife_fit`` log discipline.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        F.substring("text", 1, FS_PREFIX_CHARS).alias("h"),
        F.expr(
            f"stack(3, 'lang', lang, 'source', source,"
            f" 'len_band', CAST(n_chars div {FS_LEN_BAND} AS STRING))"
            " AS (field, val)"
        ),
    )
    # widen BEFORE the multiply: n·(n−1) in LongType wraps silently
    # past ~3e9-row groups; DECIMAL(38,0) first keeps it exact
    pairs = "CAST(n AS DECIMAL(38,0)) * (n - 1) DIV 2"
    mt = (
        base.groupBy("field", "h", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("field")
        .agg(F.sum(F.expr(pairs)).alias("agree_m"))
    )
    mtot = (
        d.groupBy(F.substring("text", 1, FS_PREFIX_CHARS).alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr(pairs)).alias("m_pairs"))
    )
    ut = (
        base.groupBy("field", "val")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("field")
        .agg(
            F.sum(F.expr(pairs)).alias("agree_u"),
            F.count(F.lit(1)).cast("long").alias("n_values"),
        )
    )
    ttot = d.agg(
        F.expr(
            "CAST(count(1) * (count(1) - 1) DIV 2 AS DECIMAL(38,0))"
        ).alias("t_pairs")
    )
    lg = f"floor({FS_LOG_SCALE}.0 * ln(CAST({{x}} AS DOUBLE)))"
    out = (
        mt.join(ut, "field")
        .crossJoin(F.broadcast(mtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "field",
            "n_values",
            F.col("m_pairs").cast("long").alias("n_match_pairs"),
            F.col("t_pairs").cast("long").alias("n_total_pairs"),
            F.expr(
                "CAST((agree_m + 1) * 1000000 DIV (m_pairs + 2) AS BIGINT)"
            ).alias("m_ppm"),
            F.expr(
                "CAST((agree_u + 1) * 1000000 DIV (t_pairs + 2) AS BIGINT)"
            ).alias("u_ppm"),
        )
        .select(
            "field",
            "n_values",
            "n_match_pairs",
            "n_total_pairs",
            "m_ppm",
            "u_ppm",
            (
                F.expr(lg.format(x="m_ppm")) - F.expr(lg.format(x="u_ppm"))
            )
            .cast("long")
            .alias("w_agree_mnat"),
            (
                F.expr(lg.format(x="1000000 - m_ppm"))
                - F.expr(lg.format(x="1000000 - u_ppm"))
            )
            .cast("long")
            .alias("w_disagree_mnat"),
        )
        .orderBy("field")
    )
    return out


_FS_CTES = f"""base AS (
  SELECT substring(text, 1, {FS_PREFIX_CHARS}) AS h, f.field, f.val
  FROM documents,
  LATERAL (VALUES ('lang', lang), ('source', source),
                  ('len_band', CAST(n_chars // {FS_LEN_BAND} AS VARCHAR)))
    AS f(field, val)
),
mt AS (
  SELECT field, CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS HUGEINT) AS agree_m
  FROM (SELECT field, h, val, count(*) AS n FROM base GROUP BY 1, 2, 3)
  GROUP BY field
),
mtot AS (
  SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS HUGEINT) AS m_pairs
  FROM (SELECT substring(text, 1, {FS_PREFIX_CHARS}), count(*) AS n
        FROM documents GROUP BY 1)
),
ut AS (
  SELECT field, CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS HUGEINT) AS agree_u,
         CAST(count(*) AS BIGINT) AS n_values
  FROM (SELECT field, val, count(*) AS n FROM base GROUP BY 1, 2)
  GROUP BY field
),
ttot AS (
  SELECT CAST(count(*) * (count(*) - 1) // 2 AS HUGEINT) AS t_pairs
  FROM documents
),
probs AS (
  SELECT field, n_values,
         CAST(m_pairs AS BIGINT) AS n_match_pairs,
         CAST(t_pairs AS BIGINT) AS n_total_pairs,
         CAST((agree_m + 1) * 1000000 // (m_pairs + 2) AS BIGINT) AS m_ppm,
         CAST((agree_u + 1) * 1000000 // (t_pairs + 2) AS BIGINT) AS u_ppm
  FROM mt JOIN ut USING (field), mtot, ttot
),
wts AS (
  SELECT field, n_values, n_match_pairs, n_total_pairs, m_ppm, u_ppm,
         CAST(floor({FS_LOG_SCALE}.0 * ln(CAST(m_ppm AS DOUBLE)))
              - floor({FS_LOG_SCALE}.0 * ln(CAST(u_ppm AS DOUBLE)))
           AS BIGINT) AS w_agree_mnat,
         CAST(floor({FS_LOG_SCALE}.0 * ln(CAST(1000000 - m_ppm AS DOUBLE)))
              - floor({FS_LOG_SCALE}.0
                      * ln(CAST(1000000 - u_ppm AS DOUBLE)))
           AS BIGINT) AS w_disagree_mnat
  FROM probs
)"""


FS_WEIGHTS_SQL = f"""
WITH {_FS_CTES}
SELECT field, n_values, n_match_pairs, n_total_pairs, m_ppm, u_ppm,
       w_agree_mnat, w_disagree_mnat
FROM wts
ORDER BY field
"""


#: pairs reported by the FS scorer
FS_TOP_PAIRS = 25


def fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scoring half of Fellegi–Sunter linkage: the
    :func:`sorted_neighborhood_pairs` blocking generates candidates,
    and each candidate's match score is the SUM of the per-field
    log-weights from :func:`fs_linkage_weights` — agreeing fields add
    ``w_agree``, disagreeing fields add ``w_disagree`` (negative) —
    the top-``FS_TOP_PAIRS`` scored pairs with their agreement pattern
    and the prefix-truth flag.

    Scale: candidates are the SNM w·n blocked pairs (never n²); the
    6-weight relation is ONE broadcast row (pivoted from the 3-field
    estimate); scoring is a per-row integer sum.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"n_chars div {FS_LEN_BAND}").alias("lenb"),
        F.substring("text", 1, FS_PREFIX_CHARS).alias("h48"),
        F.substring(
            F.lower(F.regexp_replace("text", "[^a-zA-Z0-9]", "")),
            1,
            SNM_KEY_CHARS,
        ).alias("k"),
    ).withColumn("blk", F.substring("k", 1, SNM_BLOCK_CHARS))
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("blk").orderBy("k", "doc_id")
    )
    ranked = keyed.withColumn("rn", rn)
    a, b = ranked.alias("a"), ranked.alias("b")
    cands = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("b.rn") > F.col("a.rn"))
        & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        # NULL-safe agreement: a plain == yields NULL when either side
        # is NULL, which would diverge from the oracle's IS NOT
        # DISTINCT FROM on data with NULL lang/source/n_chars
        F.col("a.lang")
        .eqNullSafe(F.col("b.lang"))
        .cast("int")
        .alias("ag_lang"),
        F.col("a.source")
        .eqNullSafe(F.col("b.source"))
        .cast("int")
        .alias("ag_source"),
        F.col("a.lenb")
        .eqNullSafe(F.col("b.lenb"))
        .cast("int")
        .alias("ag_len"),
        F.col("a.h48")
        .eqNullSafe(F.col("b.h48"))
        .cast("int")
        .alias("is_match"),
    )
    w = fs_linkage_weights(spark, sf_dir)
    wrow = w.agg(
        *[
            agg
            for f in ("lang", "source", "len_band")
            for agg in (
                F.max(
                    F.when(F.col("field") == f, F.col("w_agree_mnat"))
                ).alias(f"wa_{f}"),
                F.max(
                    F.when(F.col("field") == f, F.col("w_disagree_mnat"))
                ).alias(f"wd_{f}"),
            )
        ]
    )
    return (
        cands.crossJoin(F.broadcast(wrow))
        .select(
            "doc_a",
            "doc_b",
            "ag_lang",
            "ag_source",
            "ag_len",
            "is_match",
            (
                F.expr("IF(ag_lang = 1, wa_lang, wd_lang)")
                + F.expr("IF(ag_source = 1, wa_source, wd_source)")
                + F.expr("IF(ag_len = 1, wa_len_band, wd_len_band)")
            )
            .cast("long")
            .alias("score_mnat"),
        )
        .orderBy(F.desc("score_mnat"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(FS_TOP_PAIRS)
    )


FS_SCORES_SQL = f"""
WITH {_FS_CTES},
w AS (
  SELECT
    max(CASE WHEN field = 'lang' THEN w_agree_mnat END) AS wa_lang,
    max(CASE WHEN field = 'lang' THEN w_disagree_mnat END) AS wd_lang,
    max(CASE WHEN field = 'source' THEN w_agree_mnat END) AS wa_source,
    max(CASE WHEN field = 'source' THEN w_disagree_mnat END) AS wd_source,
    max(CASE WHEN field = 'len_band' THEN w_agree_mnat END) AS wa_len,
    max(CASE WHEN field = 'len_band' THEN w_disagree_mnat END) AS wd_len
  FROM wts
),
keyed AS (
  SELECT doc_id, lang, source, n_chars // {FS_LEN_BAND} AS lenb,
         substring(text, 1, {FS_PREFIX_CHARS}) AS h48,
         substring(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
                   1, {SNM_KEY_CHARS}) AS k
  FROM documents
),
ranked AS (
  SELECT *, substring(k, 1, {SNM_BLOCK_CHARS}) AS blk,
         row_number() OVER (
           PARTITION BY substring(k, 1, {SNM_BLOCK_CHARS})
           ORDER BY k, doc_id) AS rn
  FROM keyed
),
cands AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(CASE WHEN a.lang IS NOT DISTINCT FROM b.lang
              THEN 1 ELSE 0 END AS INTEGER) AS ag_lang,
         CAST(CASE WHEN a.source IS NOT DISTINCT FROM b.source
              THEN 1 ELSE 0 END AS INTEGER) AS ag_source,
         CAST(CASE WHEN a.lenb IS NOT DISTINCT FROM b.lenb
              THEN 1 ELSE 0 END AS INTEGER) AS ag_len,
         CAST(CASE WHEN a.h48 IS NOT DISTINCT FROM b.h48
              THEN 1 ELSE 0 END AS INTEGER) AS is_match
  FROM ranked a JOIN ranked b
    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
)
SELECT doc_a, doc_b, ag_lang, ag_source, ag_len, is_match,
       CAST((CASE WHEN ag_lang = 1 THEN w.wa_lang ELSE w.wd_lang END)
            + (CASE WHEN ag_source = 1 THEN w.wa_source ELSE w.wd_source END)
            + (CASE WHEN ag_len = 1 THEN w.wa_len ELSE w.wd_len END)
         AS BIGINT) AS score_mnat
FROM cands, w
ORDER BY score_mnat DESC, doc_a ASC, doc_b ASC
LIMIT {FS_TOP_PAIRS}
"""


def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted exact-dedup accounting per source — the number a
    training-data budget actually cares about: doc-level dup counts
    understate (or overstate) the win when duplicates skew long or
    short, so this reports TOKENS removed by keep-first fingerprint
    dedup, per source, with the ppm share of that source's tokens.

    One corpus scan computes (fingerprint, tokens, source); copies
    beyond the group's keeper (min doc_id) are marked by a
    fingerprint-partitioned rank — fingerprint groups are duplicate
    clusters, bounded by the corpus's true duplication factor, so the
    window never sees an unbounded partition.  All counts exact
    integers; ppm by truncating division.
    """
    from projet_meteo_etl_spark.operators.text import ws_token_count

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        ws_token_count(F.col("text")).alias("n_tokens"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    marked = base.withColumn(
        "is_dup", (F.row_number().over(w) > 1).cast("int")
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("is_dup").cast("long").alias("n_dup_docs"),
            F.sum(F.col("is_dup") * F.col("n_tokens"))
            .cast("long")
            .alias("n_dup_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "n_dup_docs",
            "n_dup_tokens",
            F.expr(
                "CAST(CASE WHEN n_tokens = 0 THEN 0"
                " ELSE CAST(n_dup_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV n_tokens END AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .orderBy("source")
    )


DEDUP_TOKEN_SAVINGS_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
),
marked AS (
  SELECT source, n_tokens,
         CASE WHEN row_number() OVER (PARTITION BY fp ORDER BY doc_id) > 1
              THEN 1 ELSE 0 END AS is_dup
  FROM base
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(sum(is_dup * n_tokens) AS BIGINT) AS n_dup_tokens,
       CAST(CASE WHEN sum(n_tokens) = 0 THEN 0
            ELSE sum(is_dup * n_tokens)::HUGEINT * 1000000
                 // sum(n_tokens) END AS BIGINT) AS savings_ppm
FROM marked
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# benchmark decontamination + cross-source duplication
# ---------------------------------------------------------------------------

#: n-gram order for the contamination / cross-source audits — the
#: 8-gram convention sits in the published 8..13 decontamination range
#: and is long enough that shared phrases imply shared provenance
N_CONTAM = 8

#: eval docs whose distinct-8-gram overlap with train reaches this ppm
#: are flagged as contaminated (the "drop from eval" list)
CONTAM_FLAG_PPM = 500_000


def ngram_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination audit: the top doc-id decile plays the
    EVAL SET, the rest is TRAIN; per eval doc, the fraction of its
    distinct 8-grams that appear anywhere in train — the check run
    before trusting any benchmark number, since an eval doc whose
    n-grams the model trained on measures memorization, not skill.

    Scale shape: the train side collapses to a DISTINCT 8-gram-hash
    set (one map-combinable shuffle on the 60-bit md5-prefix hash);
    eval grams left-join that set on the hash key — the standard
    linear decontamination join, no pairwise doc comparison anywhere.
    Short eval docs (< 8 tokens) report 0 grams / 0 ppm rather than
    vanishing.

    Complements ``plans.curation.benchmark_decontamination``, which
    answers the mirror question (which TRAIN docs to quarantine for
    touching the held-out set, broadcast-join shaped because benchmarks
    are tiny); this one scores each EVAL doc's burn fraction, the
    report that decides whether a benchmark number is still meaningful.
    """
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    bucket = F.expr("CAST(least(9, doc_id * 10 DIV (mx + 1)) AS INT)")
    # persisted: the train and eval branches both consume the gram
    # index — without the cache the corpus-wide split/shingle/md5 pass
    # runs twice (the module's standard two-consumer persist pattern)
    g = (
        word_shingle_hashes(d, n=N_CONTAM)
        .crossJoin(F.broadcast(mx))
        .select("doc_id", "h", bucket.alias("bucket"))
        .persist()
    )
    train = g.filter(F.col("bucket") < 9).select("h").distinct()
    ev = g.filter(F.col("bucket") == 9)
    per = (
        ev.join(train.select("h", F.lit(1).alias("hit")), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            F.sum(F.coalesce("hit", F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
    )
    spine = (
        d.crossJoin(F.broadcast(mx))
        .select("doc_id", bucket.alias("bucket"))
        .filter(F.col("bucket") == 9)
        .select("doc_id")
    )
    out = (
        spine.join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_ngrams, 0) = 0 THEN 0"
                " ELSE CAST(n_contaminated AS DECIMAL(38,0)) * 1000000"
                " DIV n_ngrams END AS BIGINT)"
            ).alias("contamination_ppm"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_ngrams, 0) > 0 AND"
                " CAST(n_contaminated AS DECIMAL(38,0)) * 1000000"
                f" DIV n_ngrams >= {CONTAM_FLAG_PPM}"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )
    return scoped_cache(out, g)


NGRAM_CONTAMINATION_SQL = rf"""
WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(0, len(tk) - {N_CONTAM}),
                  i -> array_to_string(tk[i+1:i+{N_CONTAM}], ' '))) AS shingle
    FROM tk
  ) WHERE len(shingle) > 0
),
g AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h,
         CAST(least(9, doc_id * 10 // (mx + 1)) AS INTEGER) AS bucket
  FROM tri, mx
),
train AS (SELECT DISTINCT h FROM g WHERE bucket < 9),
ev AS (SELECT doc_id, h FROM g WHERE bucket = 9),
per AS (
  SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cont
  FROM ev e LEFT JOIN train t ON t.h = e.h GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
       CAST(coalesce(p.n_cont, 0) AS BIGINT) AS n_contaminated,
       CAST(CASE WHEN coalesce(p.n_ngrams, 0) = 0 THEN 0
            ELSE CAST(p.n_cont AS HUGEINT) * 1000000 // p.n_ngrams END
         AS BIGINT) AS contamination_ppm,
       CAST(CASE WHEN coalesce(p.n_ngrams, 0) > 0
                  AND CAST(p.n_cont AS HUGEINT) * 1000000 // p.n_ngrams
                      >= {CONTAM_FLAG_PPM}
            THEN 1 ELSE 0 END AS INTEGER) AS flagged
FROM (SELECT doc_id FROM documents, mx
      WHERE least(9, doc_id * 10 // (mx + 1)) = 9) d
LEFT JOIN per p USING (doc_id)
ORDER BY doc_id
"""


def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE duplication matrix: for every source pair, how many
    distinct 8-grams they share and the containment of the smaller
    gram set in the overlap — the provenance diagnostic a data team
    runs before mixing corpora ("how much of source B is already in
    source A"), one level above the per-doc near-dup queries.

    Scale shape: grams collapse to a DISTINCT (source, hash) inverted
    index first (map-combinable), and the pair join is keyed on the
    gram hash — per-gram fan-out is bounded by the SOURCE CATALOG
    (dozens at any corpus size, ≤ |sources|² pairs per gram), so the
    join is linear in the index, never doc-pairwise.  Only overlapping
    pairs report (a zero row per absent pair would be |sources|² spam).

    Complements ``operators.selection.cross_source_overlap``, which
    compares sources by WHOLE-DOC prefix fingerprints (the URL-proxy
    crawl dedup key — catches re-crawled documents); gram-level
    containment additionally surfaces partial copying (quotes,
    boilerplate, licensing text) that no full-doc fingerprint shares.
    """
    d = load_table(spark, sf_dir, "documents")
    # persisted: three consumers (per-source sizes + both sides of the
    # pair self-join) would each re-run the corpus-wide shingle/md5/
    # distinct chain without the cache
    g = (
        word_shingle_hashes(d, n=N_CONTAM)
        .join(d.select("doc_id", "source"), "doc_id")
        .select("source", "h")
        .distinct()
        .persist()
    )
    per_src = g.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    a = g.select(F.col("source").alias("src_a"), "h")
    b = g.select(F.col("source").alias("src_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    out = (
        shared.join(
            F.broadcast(
                per_src.select(
                    F.col("source").alias("src_a"),
                    F.col("n_grams").alias("grams_a"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                per_src.select(
                    F.col("source").alias("src_b"),
                    F.col("n_grams").alias("grams_b"),
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "grams_a",
            "grams_b",
            # containment of the smaller set in the overlap; a pair row
            # exists ⇒ both sides have ≥ 1 gram, so no zero guard needed
            F.expr(
                "CAST(CAST(n_shared AS DECIMAL(38,0)) * 1000000"
                " DIV least(grams_a, grams_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
        .orderBy("src_a", "src_b")
    )
    return scoped_cache(out, g)


SOURCE_CONTAMINATION_SQL = rf"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(0, len(tk) - {N_CONTAM}),
                  i -> array_to_string(tk[i+1:i+{N_CONTAM}], ' '))) AS shingle
    FROM tk
  ) WHERE len(shingle) > 0
),
g AS (
  SELECT DISTINCT d.source,
         ('0x' || substr(md5(t.shingle), 1, 15))::BIGINT AS h
  FROM tri t JOIN documents d USING (doc_id)
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1
),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.n_shared,
       pa.n_grams AS grams_a, pb.n_grams AS grams_b,
       CAST(CAST(s.n_shared AS HUGEINT) * 1000000
            // least(pa.n_grams, pb.n_grams) AS BIGINT)
         AS containment_ppm
FROM shared s
JOIN per_src pa ON pa.source = s.src_a
JOIN per_src pb ON pb.source = s.src_b
ORDER BY s.src_a, s.src_b
"""




# ------------------- incremental near-dup against a persisted index

#: deterministic "new arrivals" split for the incremental dedup demo:
#: doc_id % INC_BATCH_MOD == 0 is the incoming batch (~10%), the rest is
#: the already-indexed corpus (non-trivial cross-split pairs at every
#: fixture SF).
INC_BATCH_MOD = 10
#: shingle-store doc buckets — the verify-phase pruning grain; a
#: deployment raises this with the corpus (candidate reads stay
#: candidate-proportional while buckets >> batch)
INC_DOC_BUCKETS = 64


def dedup_minhash_incremental(
    spark: SparkSession, sf_dir: str, threshold: float = 0.04
) -> DataFrame:
    """Incremental MinHash-LSH near-dup: sign the NEW BATCH only and
    probe a PERSISTED banded index of the corpus, emitting only
    new-vs-corpus candidate pairs — how 100-TB ingestion dedup actually
    runs (never re-shingle the corpus per batch).

    Index build (runs once here, amortized at ingest in a deployment —
    the ``ann_ivf_persisted_index`` contract): corpus shingles are
    df-capped by a PERSISTED stop set (the cap must be frozen with the
    index — recomputing it per batch would silently shift which
    shingles exist), signatures banded, and the band table written to
    parquet partitioned by ``(band_idx, key_pfx)`` — 8 bands × 16
    hex-prefix buckets — alongside the shingle store, sizes, and stop
    set.

    Probe phase (everything below the build reads ONLY stored files +
    the batch): batch shingles are filtered by the stored stop set,
    signed, banded, and the index scan is PARTITION-PRUNED to the
    batch's (band_idx, key_pfx) list (a ≤128-value, k-bounded driver
    collect — physically only the probed buckets' files are opened;
    ``PartitionFilters`` in explain).  Exact-Jaccard verify reads the
    shingle STORE — persisted partitioned by ``doc_id % INC_DOC_BUCKETS``
    — pruned to the CANDIDATE docs' buckets (another k-bounded collect),
    and candidate sizes come from the same pruned read, so no
    corpus-wide scan exists anywhere in the probe.  Per batch the cost
    is O(batch shingles + probed band buckets + candidate doc buckets);
    both bucket counts are deployment knobs raised with the corpus so
    pruned reads stay candidate-proportional.  Joins against the batch
    side carry no broadcast hint: an ingestion batch is bounded by the
    operator (AQE broadcasts it when small), never assumed
    corpus-proportional.

    Same verify semantics as :func:`dedup_minhash_lsh` (same banding,
    same df cap, same rounded-Jaccard threshold), restricted to
    new-vs-corpus pairs.
    """
    import os

    from projet_meteo_etl_spark.sources.sinks import staging_root

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % INC_BATCH_MOD != 0)
    batch = d.filter(F.col("doc_id") % INC_BATCH_MOD == 0)

    def banded(sigs: DataFrame) -> DataFrame:
        # the shared band-key derivation + the on-disk bucket prefix
        return banded_signatures(sigs).withColumn(
            "key_pfx", F.substring("band_key", 1, 1)
        )

    # ---- index build (ingest-time work; see docstring)
    c_sh_raw = word_shingle_hashes(corpus).persist()
    stop = (
        c_sh_raw.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_MAX_DF)
        .select("h")
    )
    c_sh = c_sh_raw.join(F.broadcast(stop), "h", "left_anti")
    root = os.path.join(staging_root(sf_dir), "minhash_index")
    # co-partition on the partition columns before the partitioned
    # write: one file per (band_idx, key_pfx) bucket instead of one per
    # task per bucket — the small-files guard for a 128-bucket layout
    banded(minhash_signatures(c_sh)).repartition(
        "band_idx", "key_pfx"
    ).write.partitionBy("band_idx", "key_pfx").mode("overwrite").parquet(
        os.path.join(root, "bands")
    )
    c_sh.withColumn(
        "doc_bkt", F.pmod(F.col("doc_id"), F.lit(INC_DOC_BUCKETS))
    ).repartition("doc_bkt").write.partitionBy("doc_bkt").mode(
        "overwrite"
    ).parquet(os.path.join(root, "shingles"))
    stop.write.mode("overwrite").parquet(os.path.join(root, "stop"))
    c_sh_raw.unpersist()

    # ---- probe phase: stored index + the new batch only
    stop_idx = spark.read.parquet(os.path.join(root, "stop"))
    b_sh = (
        word_shingle_hashes(batch)
        .join(F.broadcast(stop_idx), "h", "left_anti")
        .persist()
    )
    b_bands = banded(minhash_signatures(b_sh)).persist()
    # k-bounded collect (<= BANDS x 16 hex prefixes = 128 values):
    # turns "probe the index" into partition-pruned file reads
    probed = sorted(
        (r["band_idx"], r["key_pfx"])
        for r in b_bands.select("band_idx", "key_pfx").distinct().collect()
    )
    idx_bands = spark.read.parquet(os.path.join(root, "bands")).filter(
        F.concat_ws("/", F.col("band_idx"), F.col("key_pfx")).isin(
            [f"{bi}/{px}" for bi, px in probed]
        )
    )
    cands = (
        idx_bands.alias("i")
        .join(
            # no broadcast hint: the batch is operator-bounded, not
            # corpus-proportional — AQE broadcasts it when small
            b_bands.alias("n"),
            (F.col("i.band_idx") == F.col("n.band_idx"))
            & (F.col("i.band_key") == F.col("n.band_key")),
        )
        .select(
            F.col("i.doc_id").alias("corpus_doc"),
            F.col("n.doc_id").alias("new_doc"),
        )
        .distinct()
        .persist()
    )
    # verify: prune the doc-bucketed shingle store to the CANDIDATE
    # docs' buckets (k-bounded collect, ≤ INC_DOC_BUCKETS values)
    cand_bkts = sorted(
        r["b"]
        for r in cands.select(
            F.pmod(F.col("corpus_doc"), F.lit(INC_DOC_BUCKETS)).alias("b")
        )
        .distinct()
        .collect()
    )
    c_store = spark.read.parquet(os.path.join(root, "shingles")).filter(
        F.col("doc_bkt").isin(cand_bkts)
    )
    inter = (
        cands.join(
            c_store.alias("a"), F.col("corpus_doc") == F.col("a.doc_id")
        )
        .join(
            b_sh.alias("b"),
            (F.col("new_doc") == F.col("b.doc_id"))
            & (F.col("a.h") == F.col("b.h")),
        )
        .groupBy("corpus_doc", "new_doc")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # candidate sizes from the SAME pruned read (buckets are doc-keyed,
    # so a pruned bucket holds every shingle of its docs — exact)
    sa = (
        c_store.join(
            cands.select("corpus_doc").distinct(),
            F.col("doc_id") == F.col("corpus_doc"),
        )
        .groupBy("corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_a"))
    )
    sb = b_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_b")).select(
        F.col("doc_id").alias("new_doc"), "n_b"
    )
    out = (
        inter.join(sa, "corpus_doc")
        .join(sb, "new_doc")
        .withColumn(
            "jaccard",
            pround(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_doc", "corpus_doc", "jaccard")
        .orderBy("new_doc", "corpus_doc")
    )
    return scoped_cache(out, b_sh, b_bands, cands)


MINHASH_INCREMENTAL_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS tok,
         generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS pos
  FROM documents
),
tri AS (
  SELECT DISTINCT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh_all AS (SELECT doc_id, {_SHINGLE_HASH_SQL} AS h
           FROM tri WHERE shingle IS NOT NULL),
-- the stop set is computed over the CORPUS ONLY and frozen with the
-- index; the batch is filtered by the same stored set
stop AS (
  SELECT h FROM sh_all WHERE doc_id % {INC_BATCH_MOD} <> 0
  GROUP BY h HAVING count(*) > {NGRAM_MAX_DF}
),
sh AS (
  SELECT s.doc_id, s.h FROM sh_all s
  LEFT JOIN stop ON s.h = stop.h WHERE stop.h IS NULL
),
shm AS (SELECT doc_id, h, h % {_MH_P} AS hm FROM sh),
sigs AS (
  SELECT doc_id, {', '.join(_mh_perm_sql(i) for i in range(NUM_PERM))}
  FROM shm GROUP BY doc_id
),
bands AS (
  {' UNION ALL '.join(_mh_band_key_sql(b) for b in range(BANDS))}
),
cands AS (
  SELECT DISTINCT a.doc_id AS corpus_doc, n.doc_id AS new_doc
  FROM bands a JOIN bands n
    ON a.band_idx = n.band_idx AND a.band_key = n.band_key
  WHERE a.doc_id % {INC_BATCH_MOD} <> 0
    AND n.doc_id % {INC_BATCH_MOD} = 0
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.corpus_doc, c.new_doc, count(*) AS n_inter
  FROM cands c
  JOIN sh a ON c.corpus_doc = a.doc_id
  JOIN sh b ON c.new_doc = b.doc_id AND a.h = b.h
  GROUP BY 1, 2
)
SELECT new_doc, corpus_doc,
       floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
         / 1000000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = corpus_doc
JOIN sizes sb ON sb.doc_id = new_doc
WHERE floor((n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter)) * 1000000.0 + 0.5)
        / 1000000.0 >= 0.04
ORDER BY new_doc, corpus_doc
"""


SPARK_QUERIES = {
    "ngram_contamination_audit": ngram_contamination_audit,
    "source_contamination_matrix": source_contamination_matrix,
    "dedup_token_savings": dedup_token_savings,
    "sorted_neighborhood_pairs": sorted_neighborhood_pairs,
    "fs_linkage_weights": fs_linkage_weights,
    "fs_linkage_scores": fs_linkage_scores,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint_groups": dedup_fingerprint_groups,
    "ngram_jaccard_pairs": ngram_jaccard_pairs,
    "dedup_pair_density_audit": dedup_pair_density_audit,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_incremental": dedup_minhash_incremental,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_connected_components": dedup_connected_components,
    "winnow_fingerprint_pairs": winnow_fingerprint_pairs,
    "containment_pairs": containment_pairs,
    "lsh_candidate_precision": lsh_candidate_precision,
    "lsh_precision_sampled": lsh_precision_sampled,
}

ORACLE_SQL = {
    "ngram_contamination_audit": NGRAM_CONTAMINATION_SQL,
    "source_contamination_matrix": SOURCE_CONTAMINATION_SQL,
    "dedup_token_savings": DEDUP_TOKEN_SAVINGS_SQL,
    "sorted_neighborhood_pairs": SNM_SQL,
    "fs_linkage_weights": FS_WEIGHTS_SQL,
    "fs_linkage_scores": FS_SCORES_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_fingerprint_groups": DEDUP_FINGERPRINT_SQL,
    "ngram_jaccard_pairs": NGRAM_JACCARD_SQL,
    "dedup_pair_density_audit": DEDUP_PAIR_DENSITY_SQL,
    "dedup_minhash_lsh": MINHASH_LSH_SQL,
    "dedup_minhash_incremental": MINHASH_INCREMENTAL_SQL,
    "dedup_simhash": SIMHASH_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_COSINE_SQL,
    "dedup_connected_components": DEDUP_CC_SQL,
    "winnow_fingerprint_pairs": WINNOW_SQL,
    "containment_pairs": CONTAINMENT_SQL,
    "lsh_candidate_precision": LSH_PRECISION_SQL,
    "lsh_precision_sampled": LSH_PRECISION_SAMPLED_SQL,
}
