"""Deduplication operators over the ``documents`` corpus — the north-star
extensions (task brief + SURVEY.md §7.4). No reference analog; designed
for the 100 TB training-data-pipeline case.

Four tiers, cheapest first:
- exact:        one hash-groupBy on md5(normalized text) — narrow 16-byte
                shuffle key regardless of document size.
- ngram-jaccard: EXACT set-similarity self-join with PPJoin-style prefix
                filtering (rarest-shingle prefixes generate candidates;
                hot shingles never enter the candidate join) + length
                filter + array_intersect verify. Ground truth for the
                fuzzy tiers, still O(candidates), not O(n^2).
- minhash-LSH:  V-SMART-Join-style banded MinHash (shingle -> k minhashes
                -> band buckets -> bucket equi-join -> exact verify).
                Candidate generation cost is O(sum bucket^2), not O(n^2).
- simhash:      64-bit simhash + 16-bit band join for hamming<=3 pairs.

All shuffles key on small fixed-width values (hashes/bands), never on
document text: shingles travel as 8-byte longs from the moment they are
formed (vs ~20-byte strings). Two hash families are used: xxhash64
(fastest, Spark-only) for the exact tiers whose OUTPUT doesn't depend
on hash values (ngram-jaccard verifies exactly, so the family is
invisible), and the portable md5-60-bit family
(functions.hashing.h60) for the approximate tiers (minhash, simhash)
whose output IS a function of the hashes — portability makes even the
approximate answers exactly replayable by the DuckDB oracles.
Collision probability over a 100 TB corpus of ~2^40 distinct shingles
is ~2^-44 (xxhash64) / ~2^-41 (h60) per pair — far below any
oracle-observable rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.functions.hashing import h60 as _h60
from tinymapreduce_spark.functions.text import normalized_text, tokens
from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import documents_for_cpu, load_table

SHINGLE_K = 3  # token 3-gram shingles


def _shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, h) — distinct token 3-grams per document, as xxhash64 longs.

    All codegen: tokenize once into a bound column (so the regexp split
    runs once per document, never per element inside the lambda), then a
    sequence-driven transform hashes each (tok[i], tok[i+1], tok[i+2])
    tuple directly — no intermediate shingle strings are ever built, so
    nothing downstream shuffles or allocates shingle text.
    """
    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    t = F.col("toks")
    n = F.size(t)
    idx = F.when(n >= SHINGLE_K, F.sequence(F.lit(1), n - (SHINGLE_K - 1))).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.xxhash64(*[F.element_at(t, i + k) for k in range(SHINGLE_K)]),
    )
    return base.select("doc_id", F.explode(F.array_distinct(sh)).alias("h"))


def _doc_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, sh_set array<bigint>, n_sh) — one row per doc; the whole
    shingle set rides in a single array column so pair verification is a
    codegen ``array_intersect``, not another explode + shuffle."""
    return sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("h")).alias("sh_set"),
        F.count(F.lit(1)).alias("n_sh"),
    )


def _verify_pairs(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard on candidate (doc_a, doc_b) pairs: two equi-joins
    against the per-doc set arrays, intersection in codegen."""
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("set_a"), F.col("n_sh").alias("sz_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("set_b"), F.col("n_sh").alias("sz_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_shared", F.size(F.array_intersect("set_a", "set_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: per content group, the kept
    (minimum) doc_id and the copy count. Only the 16-byte md5 travels
    through the shuffle."""
    docs = documents_for_cpu(spark, sf_dir)
    return (
        docs.select(F.md5(normalized_text("text")).alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (PPJoin prefix filter — see
    ``ngram_jaccard_pairs`` for the algorithm and its 100 TB posture).

    At the default threshold this reads the once-per-(session, sf)
    materialized pair graph (`_ensure_pair_graph`) instead of re-running
    the prefix join: the pair graph is the shared upstream of clusters
    and survivors too, and a real pipeline detects once and reuses
    everywhere. The read is schema-pinned so an empty corpus (zero-file
    parquet dir) stays total. Non-default thresholds compute directly.
    """
    if threshold == NGRAM_THRESHOLD:
        return spark.read.schema(PAIR_GRAPH_SCHEMA).parquet(
            _ensure_pair_graph(spark, sf_dir)
        )
    return ngram_jaccard_pairs(spark, sf_dir, threshold)


# Default-on hot-shingle cap (VERDICT r8 #2 — the same treatment
# winnow_neardup_pairs got in r4, textstats.WINNOW_HOT_FP_CAP): a
# shingle present in >= this many documents is corpus boilerplate and
# is removed from the shingle UNIVERSE before sizes, prefixes and
# verification — i.e. the registered semantics are "exact Jaccard over
# non-boilerplate shingles". Why the cap exists: prefix-filter
# candidate generation grows ~clone^2 per shared shingle, so a
# duplicate-saturated corpus (the x100 probe's 100-clone inflation:
# every shingle at df~100) turns the candidate join quadratic — the r8
# probe killed the uncapped form after 35 min. With the cap the clone
# groups' shingles are boilerplate by definition and the exact tier
# stays candidate-bounded; exact/minhash tiers own clone detection.
# The measured base corpora never reach it (max shingle df: 7 at
# sf0.01, 25 at sf0.1), so every registered output is byte-identical
# to the uncapped form there; hot_df_cap=None is the ground-truth knob.
DEDUP_HOT_SHINGLE_DF = 64


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    hot_df_cap: int | None = DEDUP_HOT_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via prefix filtering (the
    PPJoin family, Xiao et al., WWW'08): a pair with J >= t MUST share a
    shingle within each doc's prefix of its |d| - ceil(t*|d|) + 1 rarest
    shingles (global document frequency ascending). Candidates come from
    a prefix-only self-join + symmetric length filter, then exact verify.

    Shingles with document frequency >= ``hot_df_cap`` are dropped from
    the universe first (see DEDUP_HOT_SHINGLE_DF above): Jaccard is
    computed over non-boilerplate shingles only, in BOTH engines — the
    SQL oracle applies the identical filter. ``hot_df_cap=None``
    restores the uncapped exact form (ground truth for the planted-
    boilerplate test).

    Scale: the candidate join never touches frequent shingles (they sort
    to the suffix), which is exactly the hot-key blowup that kills a
    naive shared-shingle self-join at 100 TB; the df cap additionally
    bounds the per-shingle posting list itself, so candidate fan-out is
    O(sum over shingles of min(df, cap)^2) even on clone-saturated
    input. Within the capped universe there is no recall loss — output
    is identical to the naive capped form and to the SQL oracle.
    """
    docs = documents_for_cpu(spark, sf_dir)
    raw = _shingles(docs)
    dfreq = raw.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    if hot_df_cap is not None:
        dfreq = dfreq.where(F.col("df") < hot_df_cap)
    # one inner join applies the cap AND attaches df for prefix ranking
    sh = materialize(raw.join(dfreq, "h"))
    sets = _doc_sets(sh.select("doc_id", "h"))
    w = Window.partitionBy("doc_id").orderBy("df", "h")
    prefix = (
        sh.withColumn("r", F.row_number().over(w))
        .join(sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")), "doc_id")
        .where(F.col("r") <= F.col("n_sh") - F.ceil(F.col("n_sh") * threshold) + 1)
        .select("doc_id", "h", "n_sh")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "h")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                >= threshold * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
            )
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_pairs(cand, sets, threshold)


DEDUP_NGRAM_SQL_TMPL = """
WITH toks AS (
  SELECT doc_id, t.tok, t.i
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok,
                       generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
), sh0 AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
              JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
), sh AS (
  -- the hot-shingle df cap (DEDUP_HOT_SHINGLE_DF): boilerplate
  -- shingles leave the universe before sizes and pairs, same as Spark
  SELECT s.doc_id, s.shingle
  FROM sh0 s JOIN (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) < {hot_df_cap}
  ) ok USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {threshold}
"""

NGRAM_THRESHOLD = 0.5
DEDUP_NGRAM_SQL = DEDUP_NGRAM_SQL_TMPL.format(
    threshold=NGRAM_THRESHOLD, hot_df_cap=DEDUP_HOT_SHINGLE_DF
)


BOILERPLATE_DF = 5  # a span in >= this many docs is boilerplate


def boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document repeated-span detection (the RefinedWeb/Dolma-style
    companion to whole-doc dedup): a token 3-gram span occurring in >=
    BOILERPLATE_DF distinct documents is template boilerplate (headers,
    footers, navigation); per document, report its span count, the
    boilerplate span count, and the boilerplate fraction — the signal a
    curation pipeline thresholds on or uses to excise spans.

    Scale shape: spans travel as xxhash64 longs; document frequency is
    one hash-groupBy on the span hash; the hot-span set then semi-joins
    back on the same key (no broadcast assumption — at 100 TB the
    boilerplate set itself can be huge). Two shuffles total, both on
    8-byte keys."""
    docs = documents_for_cpu(spark, sf_dir)
    # Both the df-count branch and the semi-join branch consume the
    # shingle relation — materialize it so the corpus scans + explode
    # run once. materialize, not cache(): checkpoint blocks
    # are released by the context cleaner when the frame is GC'd,
    # whereas cache() pins blocks in the CacheManager until an explicit
    # clear — in a long-lived multi-query session (the bench lap, any
    # real analytics service) the dedup tier's pinned frames otherwise
    # accumulate and later CPU-heavy queries absorb the GC pressure
    # (r8's 24 s hybrid_rrf_ndcg walls; same convention as
    # semdedup_drops' cells frame).
    # Known tradeoff (ADVICE r10 #2, applies to every lineage cut in
    # this tier): the default localCheckpoint TRUNCATES lineage with no
    # recompute path — on a real cluster, losing an executor that
    # holds checkpoint blocks fails the consuming query where cache()
    # would recompute. Acceptable here (single-process local mode; on
    # a cluster these are seconds-long intra-query intermediates whose
    # retry is the query itself); a deployment that needs
    # executor-loss tolerance sets SPARK_GRAFT_RELIABLE_CHECKPOINT=1,
    # which turns every ``materialize`` into a reliable checkpoint.
    sh = materialize(_shingles(docs))
    hot = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= BOILERPLATE_DF)
        .select("h")
    )
    per_doc = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_spans"))
    boiler = (
        sh.join(hot, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    return (
        per_doc.join(boiler, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_boilerplate", F.lit(0)).alias("n_boilerplate"),
            F.round(
                F.coalesce("n_boilerplate", F.lit(0)) / F.col("n_spans"), 6
            ).alias("boilerplate_frac"),
        )
    )


BOILERPLATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.i
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok,
                       generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
), sh AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
              JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
), span_df AS (
  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
), per AS (
  SELECT doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN df >= {BOILERPLATE_DF} THEN 1 ELSE 0 END) AS n_boiler
  FROM sh JOIN span_df USING (shingle)
  GROUP BY doc_id
)
SELECT doc_id, n_spans,
       CAST(n_boiler AS BIGINT) AS n_boilerplate,
       ROUND(CAST(n_boiler AS DOUBLE) / n_spans, 6) AS boilerplate_frac
FROM per
"""


PAIR_GRAPH_SCHEMA = "doc_a long, doc_b long, n_shared long, jaccard double"


def _ensure_pair_graph(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the exact Jaccard pair graph ONCE per session and
    corpus as parquet; every consumer (the pairs query itself, clusters,
    survivors — and any real pipeline stage) reads the materialization
    instead of re-running the prefix-filter join. This is the pipeline
    shape VERDICT r01's plan audit called for: detect once, reuse
    everywhere. First caller pays; steady state is a tiny narrow scan."""
    from tinymapreduce_spark.sources.textfiles import build_once, corpus_dir

    out = corpus_dir("pair_graph", sf_dir, "documents")
    return build_once(
        spark,
        out,
        lambda: ngram_jaccard_pairs(spark, sf_dir).write.mode("overwrite").parquet(out),
    )


NUM_MINHASH = 32  # k permutations
LSH_BANDS = 8  # 8 bands x 4 rows: catches j>=0.5 pairs w.p. ~0.97




def _shingles_portable(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, h) — distinct token 3-grams per doc under the PORTABLE
    md5-60-bit family (shingle string 'tok1 tok2 tok3' -> _h60). Same
    shape as _shingles but cross-engine deterministic; the shingle
    string exists only inside the codegen projection — only the 8-byte
    hash ever shuffles."""
    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    t = F.col("toks")
    n = F.size(t)
    idx = F.when(n >= SHINGLE_K, F.sequence(F.lit(1), n - (SHINGLE_K - 1))).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: _h60(
            F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(SHINGLE_K)])
        ),
    )
    return base.select("doc_id", F.explode(F.array_distinct(sh)).alias("h"))


_MH_PRIME = 2**31 - 1  # Mersenne prime: affine family modulus


def _minhash_signature(sh: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>) — k min-hashes per doc.

    Permutation i is the affine family h_i = (ha + (i+1)*hb) mod
    (2^31-1) over the two 30-bit halves of the portable shingle hash —
    ONE md5 per shingle total (the permutations are pure integer
    arithmetic, exactly replayed by the DuckDB oracle; (i+1)*hb <=
    32*2^30 never overflows a long). One groupBy computes all k mins as
    k aggregates — a single shuffle whose rows are (doc_id, k x 8
    bytes), independent of doc size.
    """
    ha = F.shiftright("h", 30)
    hb = F.col("h").bitwiseAND(F.lit((1 << 30) - 1).cast("long"))
    hashed = sh.select(
        "doc_id",
        *[((ha + F.lit(i + 1) * hb) % F.lit(_MH_PRIME)).alias(f"h{i}") for i in range(NUM_MINHASH)],
    )
    agg = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(NUM_MINHASH)]
    )
    return agg.select("doc_id", F.array(*[f"m{i}" for i in range(NUM_MINHASH)]).alias("sig"))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str, threshold: float = NGRAM_THRESHOLD) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-verified.

    shingle -> 32 minhashes -> 8 bands of 4 -> band-bucket equi-join for
    candidates -> exact Jaccard verify on the candidates only. Output
    schema matches dedup_ngram_jaccard (it's the high-recall
    approximation of it: same verify, LSH-pruned candidates).

    The whole chain runs on the portable md5-60-bit hash family (_h60),
    so although LSH recall < 1 is inherent, WHICH pairs surface is a
    pure function of the data — DEDUP_MINHASH_SQL replays the identical
    signatures/bands/buckets in DuckDB and the driver hash-compares the
    output exactly. (Recall vs the exact ngram tier is separately pinned
    in tests/test_invariants.py.) Swap _h60 for xxhash64 when oracle
    portability is not needed and hashing throughput matters more.
    """
    docs = documents_for_cpu(spark, sf_dir)
    sh = materialize(_shingles_portable(docs))
    bands = _lsh_bands(_minhash_signature(sh))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Exact verify on the candidates only (shared with the ngram tier).
    return _verify_pairs(cand, _doc_sets(sh), threshold)


def _lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash) — the signature split into LSH_BANDS
    bucket keys. Each key is a base-31 fold of the band's mins (each <
    2^31, so the fold stays < 2^46): a portable 8-byte bucket key. Fold
    collisions can only ADD candidates, and the exact verify removes
    them — output is still a pure function of the data."""
    rows_per_band = NUM_MINHASH // LSH_BANDS

    def _band_key(b: int):
        k = F.col("sig")[b * rows_per_band].cast("long")
        for r in range(1, rows_per_band):
            k = k * F.lit(31) + F.col("sig")[b * rows_per_band + r]
        return k

    return sig.select(
        "doc_id",
        F.posexplode(F.array(*[_band_key(b) for b in range(LSH_BANDS)])).alias(
            "band", "band_hash"
        ),
    )


# Portable-hash shingle relation, shared by the minhash and simhash
# oracles. h = first 15 md5 hex chars of the shingle string as BIGINT —
# the exact DuckDB spelling of _h60/_shingles_portable.
_SH60_CTE = """
toks AS (
  SELECT doc_id, t.tok, t.i
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok,
                       generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
), sh AS (
  SELECT DISTINCT a.doc_id,
         ('0x' || substr(md5(a.tok || ' ' || b.tok || ' ' || c.tok), 1, 15))::BIGINT AS h
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
              JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
)
"""

DEDUP_MINHASH_SQL = f"""
WITH {_SH60_CTE},
mh AS (
  SELECT doc_id, i,
         MIN(((h >> 30) + (i + 1) * (h & {(1 << 30) - 1})) % {_MH_PRIME}) AS m
  FROM sh CROSS JOIN range({NUM_MINHASH}) t(i)
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, band,
         ((l[1] * 31 + l[2]) * 31 + l[3]) * 31 + l[4] AS band_hash
  FROM (
    SELECT doc_id, CAST(i // {NUM_MINHASH // LSH_BANDS} AS INT) AS band,
           list(m ORDER BY i) AS l
    FROM mh GROUP BY doc_id, i // {NUM_MINHASH // LSH_BANDS}
  )
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {NGRAM_THRESHOLD}
"""


SIMHASH_BITS = 60  # width of the portable md5-derived hash (_h60)
SIMHASH_BANDS = 4  # 4 x 15-bit bands -> finds all pairs with hamming <= 3
_SIMHASH_BAND_W = SIMHASH_BITS // SIMHASH_BANDS


def _simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash bigint) — classic Charikar simhash, pure codegen:
    explode tokens -> portable 60-bit hash -> per bit position sum(±1)
    -> sign bits.

    The per-bit tally uses one groupBy with 60 conditional-sum aggregates
    (not a 60x row explode) — constant shuffle width per doc. On the
    _h60 family the whole fingerprint is integer-exact and
    engine-portable, so DEDUP_SIMHASH_SQL recomputes identical values.
    """
    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("tok"))
    h = tok.select("doc_id", _h60(F.col("tok")).alias("h"))
    bit_sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", b).bitwiseAND(F.lit(1).cast("long")) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bit_sums.select("doc_id", sim.alias("simhash"))


def dedup_simhash(spark: SparkSession, sf_dir: str, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band join on 15-bit quarters (any pair
    within hamming<=3 shares at least one of 4 bands, pigeonhole), then
    exact hamming verify via bit_count(xor). Deterministic end-to-end on
    the portable hash family — the driver hash-compares against
    DEDUP_SIMHASH_SQL exactly."""
    docs = documents_for_cpu(spark, sf_dir)
    sim = materialize(_simhash(docs))
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * _SIMHASH_BAND_W).bitwiseAND(
                        F.lit((1 << _SIMHASH_BAND_W) - 1).cast("long")
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "band_val"),
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _simhash_sql() -> str:
    """DuckDB replay of dedup_simhash, generated over the 60 bit
    positions (the SQL text is built by the same loops that build the
    Spark aggregates, so the two can't drift)."""
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    sim_terms = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), bit_sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
), simh AS (
  SELECT doc_id, {sim_terms} AS simhash FROM bit_sums
), bands AS (
  SELECT doc_id, simhash, band,
         (simhash >> (CAST(band AS INT) * {_SIMHASH_BAND_W})) & {(1 << _SIMHASH_BAND_W) - 1} AS band_val
  FROM simh CROSS JOIN range({SIMHASH_BANDS}) t(band)
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.simhash AS sim_a, b.simhash AS sim_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs
WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


DEDUP_SIMHASH_SQL = _simhash_sql()


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the steady-state form at 100 TB: a NEW batch
    arrives and must be deduplicated against the existing BASE corpus
    without rescanning base content (only its content-key index).

    Here base/new is a deterministic hash split of ``documents`` (first
    md5(doc_id) byte: ~25% "new"). The join is md5-key vs md5-key — at
    scale the base side is a pre-computed key index (16 bytes/doc), so
    cost is |new| + |base_index|, never |base_text|. left_anti = the
    genuinely novel docs; the returned summary counts both classes per
    source.
    """
    docs = documents_for_cpu(spark, sf_dir)
    batch_byte = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    keyed = docs.select(
        "doc_id", "source", F.md5(normalized_text("text")).alias("content_key"),
        (batch_byte < 64).alias("is_new"),
    )
    base_index = keyed.where(~F.col("is_new")).select("content_key").distinct()
    new_batch = keyed.where(F.col("is_new"))
    novel = new_batch.join(base_index, "content_key", "left_anti")
    dup = new_batch.join(base_index, "content_key", "left_semi")
    return (
        novel.groupBy("source").agg(F.count(F.lit(1)).alias("n_novel"))
        .join(
            dup.groupBy("source").agg(F.count(F.lit(1)).alias("n_dup_of_base")),
            "source",
            "full_outer",
        )
        .select(
            "source",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.coalesce("n_dup_of_base", F.lit(0)).alias("n_dup_of_base"),
        )
    )


BLOOM_M_BITS = 1 << 20  # 1M-bit filter: ~128 KB, FP ~3e-4 at 40k base keys
BLOOM_K = 4


def _bloom_positions(key: F.Column) -> list[F.Column]:
    """k=4 double-hashed bit positions over the portable h60 family:
    pos_j = (h1 + j * h2) mod m with h2 forced odd — deterministic,
    engine-replayable, one md5 pair per key."""
    h1 = _h60(key)
    h2 = _h60(F.concat(key, F.lit("#"))).bitwiseOR(F.lit(1).cast("long"))
    return [
        F.pmod(h1 + F.lit(j).cast("long") * h2, F.lit(BLOOM_M_BITS).cast("long"))
        for j in range(BLOOM_K)
    ]


def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated incremental dedup — same base/new split and
    the SAME exact output as ``dedup_incremental`` (shared oracle), but
    the new batch first probes a Bloom filter built over the base key
    index: a few BITS per base doc vs its 16-byte key. The filter is a
    DataFrame — (word_idx -> 64-bit mask), <= 16k rows for 2^20 bits —
    built with one map-side-combined ``bit_or`` aggregate and BROADCAST
    onto the probe side; the k=4 probes are plain broadcast equi-joins,
    so Bloom misses (guaranteed novel) are decided with ZERO shuffle of
    anything data-sized. Only maybe-hits (true dups + false positives,
    ~3e-4 at this sizing) reach the exact semi/anti-join verify — the
    sketch-then-verify shape of the LSH tiers: false negatives are
    impossible, so exactness is preserved by construction. At 100 TB
    the per-batch exact join shrinks from |new| to |hits| while the
    128 KB filter rides the broadcast."""
    docs = documents_for_cpu(spark, sf_dir)
    batch_byte = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5(normalized_text("text")).alias("content_key"),
        (batch_byte < 64).alias("is_new"),
    )
    # materialize over persist: blocks are GC-released, so repeated
    # bench invocations don't accumulate storage
    base_index = materialize(
        keyed.where(~F.col("is_new")).select("content_key").distinct()
    )

    pos = _bloom_positions(F.col("content_key"))
    bitmap = (
        base_index.select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            F.shiftright("pos", 6).alias("word_idx"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(m)").alias("mask"))
    )

    new_batch = keyed.where(F.col("is_new"))
    # All probe columns in TWO selects instead of 3k chained
    # withColumns: every withColumn call re-analyzes the accumulated
    # plan, and this chain cost ~1.0 s of pure driver-side Catalyst
    # work per run (round 11, phase_profile: the jobs-25->26 gap).
    # Same columns, same physical plan — construction cost only.
    pos_list = _bloom_positions(F.col("content_key"))
    probed = new_batch.select(
        "*",
        *[F.shiftright(p, 6).alias(f"w{j}") for j, p in enumerate(pos_list)],
        *[
            F.pmod(p, F.lit(64).cast("long")).cast("int").alias(f"b{j}")
            for j, p in enumerate(pos_list)
        ],
    ).selectExpr("*", *[f"shiftleft(1L, b{j}) AS pm{j}" for j in range(BLOOM_K)])
    maybe = F.lit(True)
    # k broadcast joins against the tiny bitmap; absent word -> 0 mask
    for j in range(BLOOM_K):
        bm = bitmap.select(
            F.col("word_idx").alias(f"bw{j}"), F.col("mask").alias(f"bm{j}")
        )
        probed = probed.join(
            F.broadcast(bm), F.col(f"w{j}") == F.col(f"bw{j}"), "left"
        )
        maybe = maybe & (
            F.coalesce(F.col(f"bm{j}"), F.lit(0).cast("long")).bitwiseAND(
                F.col(f"pm{j}")
            )
            != 0
        )
    flagged = probed.withColumn("maybe", maybe)
    sure_novel = flagged.where(~F.col("maybe")).select("doc_id", "source", "content_key")
    candidates = flagged.where(F.col("maybe")).select("doc_id", "source", "content_key")
    fp_novel = candidates.join(base_index, "content_key", "left_anti")
    dup = candidates.join(base_index, "content_key", "left_semi")
    novel = sure_novel.unionByName(fp_novel)
    return (
        novel.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_novel"))
        .join(
            dup.groupBy("source").agg(F.count(F.lit(1)).alias("n_dup_of_base")),
            "source",
            "full_outer",
        )
        .select(
            "source",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.coalesce("n_dup_of_base", F.lit(0)).alias("n_dup_of_base"),
        )
    )


DEDUP_INCREMENTAL_SQL = """
WITH keyed AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_key,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS INT) < 64 AS is_new
  FROM documents
), base_index AS (
  SELECT DISTINCT content_key FROM keyed WHERE NOT is_new
), new_batch AS (
  SELECT * FROM keyed WHERE is_new
), novel AS (
  SELECT source, COUNT(*) AS n_novel FROM new_batch
  WHERE content_key NOT IN (SELECT content_key FROM base_index)
  GROUP BY source
), dup AS (
  SELECT source, COUNT(*) AS n_dup_of_base FROM new_batch
  WHERE content_key IN (SELECT content_key FROM base_index)
  GROUP BY source
)
SELECT COALESCE(novel.source, dup.source) AS source,
       COALESCE(n_novel, 0) AS n_novel,
       COALESCE(n_dup_of_base, 0) AS n_dup_of_base
FROM novel FULL OUTER JOIN dup ON novel.source = dup.source
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from exact near-dup pairs: connected
    components over the n-gram Jaccard pair graph (`dedup_ngram_jaccard`
    edges), each doc labeled with its component root (smallest doc_id
    reachable) and the cluster size.

    This is what a curation pipeline deletes from — pairs alone can't
    answer "keep one per group" when dup relations chain (A~B, B~C but
    A!~C). Components use the two-phase star contraction in
    operators/graph.py (O(log^2 n) rounds, two shuffles per round) —
    see that module for the 100 TB posture. Only docs that appear in
    some pair are emitted (singletons are trivially their own cluster).
    """
    from tinymapreduce_spark.operators.graph import cluster_stats, connected_components

    pairs = spark.read.parquet(_ensure_pair_graph(spark, sf_dir))
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(edges)
    return cluster_stats(comp).select(
        F.col("node").alias("doc_id"), "component", "cluster_size"
    )


# Shared recursive-CTE closure (shingle -> pair -> edge -> reachability ->
# component); DEDUP_CLUSTERS_SQL and DEDUP_SURVIVORS_SQL compose their
# final projections onto it (named constant instead of string surgery —
# ADVICE r01: an rsplit on projection text broke silently if reworded).
_DEDUP_CLUSTERS_CTE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, t.tok, t.i
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok,
                       generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
), sh0 AS (
  SELECT DISTINCT a.doc_id, a.tok || ' ' || b.tok || ' ' || c.tok AS shingle
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
              JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
), sh AS (
  -- hot-shingle df cap, identical to the pair-graph oracle above
  SELECT s.doc_id, s.shingle
  FROM sh0 s JOIN (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) < {DEDUP_HOT_SHINGLE_DF}
  ) ok USING (shingle)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), good AS (
  SELECT doc_a, doc_b
  FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= 0.5
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM good
  UNION
  SELECT doc_b, doc_a FROM good
), reach (u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)
"""

DEDUP_CLUSTERS_SQL = _DEDUP_CLUSTERS_CTE + """
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM comp
"""


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the last step of entity/document dedup: within
    each duplicate cluster elect ONE canonical record (longest document,
    ties to the smallest doc_id) and map every member to its survivor.
    Downstream consumers keep `is_survivor` rows and use the mapping to
    re-point references — the detect -> cluster -> elect pipeline every
    MDM / corpus-dedup system runs.

    The election is a per-component row_number window over the cluster
    frame joined to the (broadcast-size) doc lengths — one shuffle on
    component, after connected components has already bounded the frame
    to docs that appear in some duplicate pair."""
    from tinymapreduce_spark.operators.graph import connected_components
    from tinymapreduce_spark.sources.loaders import load_table

    pairs = spark.read.parquet(_ensure_pair_graph(spark, sf_dir))
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(edges).select(
        F.col("node").alias("doc_id"), "component"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    survivors = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("component", F.col("doc_id").alias("survivor_id"))
    )
    return comp.join(survivors, "component").select(
        "doc_id",
        "survivor_id",
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
    )


DEDUP_SURVIVORS_SQL = _DEDUP_CLUSTERS_CTE + """
SELECT c.doc_id, s.survivor_id, c.doc_id = s.survivor_id AS is_survivor
FROM comp c JOIN (
  SELECT component, doc_id AS survivor_id
  FROM (
    SELECT c2.component, c2.doc_id,
           ROW_NUMBER() OVER (PARTITION BY c2.component
                              ORDER BY d.n_chars DESC, c2.doc_id ASC) AS rk
    FROM comp c2 JOIN documents d ON c2.doc_id = d.doc_id
  )
  WHERE rk = 1
) s ON c.component = s.component
"""


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the MINHASH pair graph — the scale path
    of `dedup_clusters`: same connected-components contraction, but the
    edges come from the banded LSH join instead of the exact PPJoin
    tier, whose prefix-filter candidates grow quadratically in
    clone-count on duplicate-saturated corpora (the round-8 x100 probe:
    exact-tier pair graph DNF after 35 min on a 100-clone corpus;
    components over the 27.3M-edge minhash graph finished in 69.9 s —
    4.1x the base wall at 100x the docs, BASELINE.md round-8 notes).

    Because band collisions only ADD candidates and the exact Jaccard
    verify removes them, minhash edges are a SUBSET of the exact
    tier's — so every cluster here is contained in exactly one
    `dedup_clusters` cluster (pinned in tests/test_invariants.py), and
    components never merge docs the exact tier would keep apart."""
    from tinymapreduce_spark.operators.graph import cluster_stats, connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    comp = connected_components(edges)
    return cluster_stats(comp).select(
        F.col("node").alias("doc_id"), "component", "cluster_size"
    )


# Full-pipeline oracle: the minhash replay (signatures -> bands ->
# candidates -> exact verify, identical to DEDUP_MINHASH_SQL) feeding
# the same recursive reachability closure the exact-tier clusters use.
DEDUP_CLUSTERS_MINHASH_SQL = f"""
WITH RECURSIVE {_SH60_CTE},
mh AS (
  SELECT doc_id, i,
         MIN(((h >> 30) + (i + 1) * (h & {(1 << 30) - 1})) % {_MH_PRIME}) AS m
  FROM sh CROSS JOIN range({NUM_MINHASH}) t(i)
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, band,
         ((l[1] * 31 + l[2]) * 31 + l[3]) * 31 + l[4] AS band_hash
  FROM (
    SELECT doc_id, CAST(i // {NUM_MINHASH // LSH_BANDS} AS INT) AS band,
           list(m ORDER BY i) AS l
    FROM mh GROUP BY doc_id, i // {NUM_MINHASH // LSH_BANDS}
  )
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), prs AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
), good AS (
  SELECT doc_a, doc_b
  FROM prs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {NGRAM_THRESHOLD}
), edges AS (
  SELECT doc_a AS u, doc_b AS v FROM good
  UNION
  SELECT doc_b, doc_a FROM good
), reach (u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
), comp AS (
  SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
)
SELECT doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS cluster_size
FROM comp
"""


TF_COSINE_THRESHOLD = 0.8
TF_COSINE_DF_CAP = 50  # terms in more docs than this are too common to discriminate


def tf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse bag-of-words cosine pairs — the term-vector sibling of the
    embedding tier: documents as integer term-frequency vectors, paired
    when cosine >= threshold over a df-capped vocabulary (terms in >
    TF_COSINE_DF_CAP docs carry no signal and would also be the hot
    keys of the term join — the same discriminativeness-equals-
    join-safety coincidence PPJoin exploits).

    Determinism: numerator and both norms are EXACT integer sums
    (tf_a*tf_b and tf^2); the single final division+sqrt is the only
    float op, rounded at the edge — so unlike a float TF-IDF fold,
    engines agree bit-for-bit. Scale shape: narrow (doc, term-hash, tf)
    relation self-joined on the 8-byte term hash, df-capped."""
    return tf_cosine_pairs_df(documents_for_cpu(spark, sf_dir))


def tf_cosine_pairs_df(docs: DataFrame) -> DataFrame:
    """Body over any ``(doc_id, text)`` frame — split out so tests can
    certify identity (duplicates -> cosine 1.0) and disjoint-vocabulary
    guarantees on constructed docs."""
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", F.xxhash64("tok").alias("h"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rare = tf.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= TF_COSINE_DF_CAP
    )
    tf = tf.join(rare.select("h"), "h", "left_semi")
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("norm2"))
    a = tf.select(F.col("doc_id").alias("doc_a"), "h", F.col("tf").alias("tf_a"))
    b = tf.select(F.col("doc_id").alias("doc_b"), "h", F.col("tf").alias("tf_b"))
    num = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("num"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb"))
    return (
        num.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("num") / F.sqrt((F.col("na") * F.col("nb")).cast("double")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= TF_COSINE_THRESHOLD)
    )


TF_COSINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok
  FROM documents
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), rare AS (
  SELECT tok FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok)
  WHERE df <= {TF_COSINE_DF_CAP}
), tfr AS (
  SELECT tf.* FROM tf JOIN rare USING (tok)
), norms AS (
  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS norm2 FROM tfr GROUP BY doc_id
), num AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(SUM(a.tf * b.tf) AS BIGINT) AS num
  FROM tfr a JOIN tfr b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(num / sqrt(CAST(na.norm2 * nb.norm2 AS DOUBLE)), 6) AS cosine
FROM num
JOIN norms na ON num.doc_a = na.doc_id
JOIN norms nb ON num.doc_b = nb.doc_id
WHERE ROUND(num / sqrt(CAST(na.norm2 * nb.norm2 AS DOUBLE)), 6) >= {TF_COSINE_THRESHOLD}
"""


PASSAGE_K = 8  # token window width for substring-level dup detection


def dup_passage_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication signal (the window-hash approximation
    of suffix-array substring dedup, Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL'22): for each document, the
    fraction of its TOKEN POSITIONS covered by some PASSAGE_K-token
    window that also occurs verbatim in another document. Whole-doc
    tiers (exact/minhash) miss a unique page with one long quoted
    passage — this is the operator that catches it, and the coverage
    fraction is what a curation pipeline thresholds on (or uses to cut
    the duplicated spans).

    Shape: windows travel as portable 60-bit hashes (one md5 per
    window); cross-doc document frequency is one groupBy on the hash;
    duplicated window STARTS come back via a semi join on the same key;
    per-doc coverage is an interval-union (windows overlap!) computed
    with two window functions over the starts — O(dup windows), never
    O(n_tokens), and exactly replayed by DUP_PASSAGE_SQL.
    """
    return dup_passage_coverage_df(documents_for_cpu(spark, sf_dir))


def dup_passage_coverage_df(docs: DataFrame) -> DataFrame:
    """Body over any ``(doc_id, text)`` frame — split out so tests can
    assert hand-computed coverage on constructed shared-passage docs."""
    base = docs.select("doc_id", tokens("text").alias("toks"))
    t = F.col("toks")
    n = F.size(t)
    idx = F.when(n >= PASSAGE_K, F.sequence(F.lit(1), n - (PASSAGE_K - 1))).otherwise(
        F.array().cast("array<int>")
    )
    win = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("s"),
            _h60(
                F.concat_ws(" ", *[F.element_at(t, i + k) for k in range(PASSAGE_K)])
            ).alias("h"),
        ),
    )
    wins = base.select(
        "doc_id", n.alias("n_tokens"), F.explode(win).alias("w")
    ).select("doc_id", "n_tokens", F.col("w.s").alias("s"), F.col("w.h").alias("h"))
    # document frequency per window hash (distinct docs — a window
    # repeated inside ONE doc is self-repetition, not duplication)
    dfreq = (
        wins.select("doc_id", "h").distinct()
        .groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )
    dup = wins.join(dfreq, "h", "left_semi")
    # interval union of [s, s+K-1] per doc: an island starts where s
    # exceeds every previous window's end; covered = sum of island spans
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_ord = Window.partitionBy("doc_id").orderBy("s")
    islands = (
        dup.select("doc_id", "s", (F.col("s") + PASSAGE_K - 1).alias("e"))
        .withColumn("prev_max_e", F.max("e").over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_ord))
    )
    covered = (
        islands.groupBy("doc_id", "island")
        .agg((F.max("e") - F.min("s") + 1).alias("span"))
        .groupBy("doc_id")
        .agg(F.sum("span").alias("n_covered"))
    )
    # a letterless doc yields zero tokens: no rows in the oracle's
    # UNNEST-based token CTE, and 0/0 here — drop it on both sides
    per_doc = base.select("doc_id", n.alias("n_tokens")).where(F.col("n_tokens") > 0)
    return per_doc.join(covered, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_covered", F.lit(0)).cast("long").alias("n_covered"),
        F.round(F.coalesce("n_covered", F.lit(0)) / F.col("n_tokens"), 6).alias(
            "dup_coverage"
        ),
    )


DUP_PASSAGE_SQL = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, t.tok, t.i
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok,
                       generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
), nt AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS n_tokens FROM toks GROUP BY doc_id
), wins AS MATERIALIZED (
  SELECT w0.doc_id, w0.i AS s,
         ('0x' || substr(md5(string_agg(w.tok, ' ' ORDER BY w.i)), 1, 15))::BIGINT AS h
  FROM toks w0 JOIN toks w
    ON w.doc_id = w0.doc_id AND w.i BETWEEN w0.i AND w0.i + {PASSAGE_K - 1}
  GROUP BY w0.doc_id, w0.i
  HAVING COUNT(*) = {PASSAGE_K}
), dup AS (
  SELECT wins.* FROM wins
  JOIN (
    SELECT h FROM (SELECT DISTINCT doc_id, h FROM wins)
    GROUP BY h HAVING COUNT(*) >= 2
  ) hot USING (h)
), islands AS (
  SELECT doc_id, s, s + {PASSAGE_K - 1} AS e,
         SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY s) AS island
  FROM (
    SELECT doc_id, s, s + {PASSAGE_K - 1} AS e2,
           MAX(s + {PASSAGE_K - 1}) OVER (
             PARTITION BY doc_id ORDER BY s
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
    FROM dup
  )
), covered AS (
  SELECT doc_id, CAST(SUM(span) AS BIGINT) AS n_covered
  FROM (
    SELECT doc_id, island, MAX(e) - MIN(s) + 1 AS span
    FROM islands GROUP BY doc_id, island
  )
  GROUP BY doc_id
)
SELECT nt.doc_id, nt.n_tokens,
       COALESCE(c.n_covered, 0) AS n_covered,
       ROUND(CAST(COALESCE(c.n_covered, 0) AS DOUBLE) / nt.n_tokens, 6) AS dup_coverage
FROM nt LEFT JOIN covered c ON nt.doc_id = c.doc_id
"""


def dedup_incremental_minhash(
    spark: SparkSession, sf_dir: str, threshold: float = NGRAM_THRESHOLD
) -> DataFrame:
    """Incremental NEAR-dup detection — the fuzzy sibling of
    dedup_incremental and the true steady-state shape at 100 TB: a NEW
    batch arrives and must be checked for near-duplicates against the
    existing BASE corpus. The base side participates ONLY through its
    banded minhash signature index ((doc, band, band_hash) rows — a few
    bytes per base doc, persisted by a real pipeline and appended per
    batch) plus the shingle sets of the handful of candidate-hit docs;
    base x base pairs are never formed, so per-batch cost is
    O(|new| + bucket collisions), independent of |base|^2.

    Same base/new split convention as dedup_incremental (first md5 byte
    of doc_id < 64 => ~25% "new"). Output: (new_doc, base_doc,
    n_shared, jaccard) for exact-verified J >= threshold. Portable hash
    family end-to-end => exact DuckDB oracle
    (DEDUP_INCREMENTAL_MINHASH_SQL)."""
    docs = documents_for_cpu(spark, sf_dir)
    batch_byte = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    flagged = docs.withColumn("is_new", batch_byte < 64)
    sh = materialize(_shingles_portable(flagged))
    flags = flagged.select("doc_id", "is_new")
    bands = _lsh_bands(_minhash_signature(sh)).join(flags, "doc_id")
    new_b = bands.where(F.col("is_new")).select("doc_id", "band", "band_hash")
    base_b = bands.where(~F.col("is_new")).select("doc_id", "band", "band_hash")
    cand = (
        new_b.alias("n")
        .join(base_b.alias("b"), ["band", "band_hash"])
        .select(
            F.col("n.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_pairs(cand, _doc_sets(sh), threshold).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("base_doc"),
        "n_shared",
        "jaccard",
    )


DEDUP_INCREMENTAL_MINHASH_SQL = f"""
WITH {_SH60_CTE},
flags AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT AS INT) < 64 AS is_new
  FROM documents
), mh AS (
  SELECT doc_id, i,
         MIN(((h >> 30) + (i + 1) * (h & {(1 << 30) - 1})) % {_MH_PRIME}) AS m
  FROM sh CROSS JOIN range({NUM_MINHASH}) t(i)
  GROUP BY doc_id, i
), bands AS (
  SELECT doc_id, band,
         ((l[1] * 31 + l[2]) * 31 + l[3]) * 31 + l[4] AS band_hash
  FROM (
    SELECT doc_id, CAST(i // {NUM_MINHASH // LSH_BANDS} AS INT) AS band,
           list(m ORDER BY i) AS l
    FROM mh GROUP BY doc_id, i // {NUM_MINHASH // LSH_BANDS}
  )
), cand AS (
  SELECT DISTINCT n.doc_id AS doc_a, b.doc_id AS doc_b
  FROM (SELECT bands.* FROM bands JOIN flags USING (doc_id) WHERE is_new) n
  JOIN (SELECT bands.* FROM bands JOIN flags USING (doc_id) WHERE NOT is_new) b
    ON n.band = b.band AND n.band_hash = b.band_hash
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pairs AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT doc_a AS new_doc, doc_b AS base_doc, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {NGRAM_THRESHOLD}
"""


# --- Content-defined chunking dedup (gear/Rabin-CDC family) ------------
#
# Storage-style dedup: chunk boundaries are picked by CONTENT (a rolling
# hash hitting a divisor), not by offset, so an insertion early in a
# document only re-chunks the window it touches — every downstream chunk
# re-aligns and still dedups. This is the boundary-shifting-proof
# complement to fixed-offset passage dedup (dup_passage_coverage) and to
# set-similarity dedup (minhash/simhash): FDC/LBFS lineage, the scheme
# behind chunk stores and CAS blob caches. Simplified contract (no
# min/max chunk clamps — a pure divisor rule keeps both engines exact).

CHUNK_K = 8  # rolling-hash window (chars) — shares the winnow hash family
CHUNK_D = 64  # boundary divisor: expected chunk length ~= D chars


def content_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source content-defined-chunking dedup accounting: every
    document is split at positions whose char-8-gram polynomial rolling
    hash is divisible by CHUNK_D (plus the forced start-of-doc
    boundary); chunks are identified by md5 and the per-source rollup
    reports chunk counts, unique-chunk counts, character volumes and
    the dedup ratio (unique chars / total chars — the fraction a
    chunk store would actually have to hold).

    All integer hash math ((acc*B + code) % M per k-gram, divisor
    test), md5 over the chunk text, and exact BIGINT character sums —
    both engines agree bit-for-bit, so the oracle replays boundary
    selection, chunking, and the rollup (CONTENT_CHUNK_SQL).

    Scale shape: boundary hashing is one codegen projection over the
    pre-split char-code array (no Python); the per-doc LEAD window
    shuffles on doc_id (parallel across docs); chunk identity
    aggregates shuffle (source, md5) rows — never text. At 100 TB the
    chunk-hash aggregate is the classic storage-dedup shape: the
    shuffle carries 16-byte digests, and hot chunks (boilerplate)
    concentrate into single reducers only as single (hash, count)
    rows, not as payload."""
    docs = documents_for_cpu(spark, sf_dir).where(F.length("text") > 0)
    chunks = content_chunks_df(docs)
    per_hash = (
        chunks.select(
            "source", F.md5("chunk").alias("h"), F.length("chunk").alias("clen")
        )
        .groupBy("source", "h", "clen")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        per_hash.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_unique_chunks"),
            F.sum(F.col("cnt") * F.col("clen")).alias("chars_total"),
            F.sum("clen").alias("chars_unique"),
        )
        .withColumn(
            "dedup_ratio", F.round(F.col("chars_unique") / F.col("chars_total"), 6)
        )
    )


def content_chunks_df(docs: DataFrame) -> DataFrame:
    """(doc_id, source, chunk) — the content-defined chunk rows, split
    out so tests can assert the boundary-shift property directly: a
    document with text INSERTED near its start shares all chunks with
    the original beyond the insertion's hash window, where fixed-offset
    chunking would share none."""
    codes_col = F.transform(
        F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit("")), F.ascii
    )
    # Keyed repartition at the session's parallelism: the exchange both
    # spreads the rolling-hash projection below across the cluster
    # (otherwise it fuses onto a possibly single-task scan — and the
    # shuffled bytes are small relative to the per-row CPU, so an
    # AQE-coalescible keyless form would collapse it back to one task)
    # and pre-satisfies the per-doc window's distribution. The explicit
    # count tracks the cluster's cores instead of the previous hard 64,
    # a local-mode constant that micro-batch plans paid in full.
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par, "doc_id").select(
        "doc_id", "source", "text", codes_col.alias("codes")
    )
    codes = F.col("codes")
    n = F.size(codes)
    # candidate boundary positions: 2 .. n-K+1 (start of doc is forced)
    positions = F.when(
        n - CHUNK_K + 1 >= 2, F.sequence(F.lit(2), n - CHUNK_K + 1)
    ).otherwise(F.array().cast("array<int>"))
    kgram_hash = lambda p: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(CHUNK_K - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: (acc * 257 + F.element_at(codes, p + j)) % ((1 << 31) - 1),
    )
    bounds = F.concat(
        F.array(F.lit(1)),
        F.filter(positions, lambda p: kgram_hash(p) % CHUNK_D == 0),
    )
    starts = base.select(
        "doc_id", "source", "text", F.posexplode(bounds).alias("i", "start")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    return (
        starts.withColumn("nxt", F.lead("start").over(w))
        .withColumn("len_t", F.length("text"))
        .select(
            "doc_id",
            "source",
            F.expr(
                "substring(text, start, coalesce(nxt, len_t + 1) - start)"
            ).alias("chunk"),
        )
    )


CONTENT_CHUNK_SQL = f"""
WITH d AS MATERIALIZED (
  SELECT doc_id, source, text FROM documents WHERE length(text) > 0
), b AS (
  SELECT doc_id, t.p
  FROM d,
       LATERAL (SELECT UNNEST(range(2, length(text) - {CHUNK_K} + 2)) AS p) t
  WHERE list_reduce(
          list_transform(range(0, {CHUNK_K}),
                         j -> CAST(ascii(substr(text, t.p + j, 1)) AS BIGINT)),
          (acc, x) -> (acc * 257 + x) % {(1 << 31) - 1}
        ) % {CHUNK_D} = 0
), s AS (
  SELECT doc_id, 1 AS start FROM d
  UNION ALL
  SELECT doc_id, p AS start FROM b
), c AS MATERIALIZED (
  SELECT d.source,
         substr(d.text, s.start,
                COALESCE(LEAD(s.start) OVER (PARTITION BY s.doc_id ORDER BY s.start),
                         length(d.text) + 1) - s.start) AS chunk
  FROM s JOIN d USING (doc_id)
), g AS (
  SELECT source, md5(chunk) AS h, length(chunk) AS clen, COUNT(*) AS cnt
  FROM c GROUP BY 1, 2, 3
)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS n_chunks,
       COUNT(*) AS n_unique_chunks,
       CAST(SUM(cnt * clen) AS BIGINT) AS chars_total,
       CAST(SUM(clen) AS BIGINT) AS chars_unique,
       ROUND(CAST(SUM(clen) AS DOUBLE) / SUM(cnt * clen), 6) AS dedup_ratio
FROM g GROUP BY source
"""


# --- segment-level dedup TRANSFORM (CCNet/FineWeb line dedup shape) --------
SEG_WORDS = 10  # fixed word-window "paragraphs" (the corpus has no newlines)


def segment_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup as a TRANSFORM, not a measure (CCNet drops
    duplicate paragraphs corpus-wide keeping first occurrence; FineWeb
    repeats the recipe at line level): the text splits into fixed
    10-word segments, every segment occurrence beyond the corpus-wide
    FIRST (ordered by (doc_id, idx)) is dropped, and each document's
    surviving segments reassemble — in order — into the cleaned text.
    Emits per doc: total segments, kept segments, md5 of the cleaned
    text, so the oracle checks the actual output corpus byte-for-byte,
    not just counts. Complements the measure-side rungs
    (``boilerplate_spans``, ``dup_passage_coverage``): this is the
    operator that WRITES the deduplicated corpus.

    Scale shape: two shuffles, both hash-partitioned and skew-benign —
    one by segment text for the first-occurrence window (segments are
    short strings; a hot segment's window only needs its min, but
    row_number keeps it exact and the group is bounded by corpus dup
    count), one by doc_id for reassembly. Tokenize/slice/join are all
    Catalyst expressions — nothing leaves the JVM."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select("doc_id", tokens("text").alias("toks"))
    t = F.col("toks")
    n = F.size(t)
    nseg = F.floor((n + (SEG_WORDS - 1)) / SEG_WORDS).cast("int")
    idx = F.when(n > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    seg = F.transform(
        idx, lambda i: F.array_join(F.slice(t, i * SEG_WORDS + 1, SEG_WORDS), " ")
    )
    segs = base.select("doc_id", F.posexplode(seg).alias("idx", "segment"))
    first = Window.partitionBy("segment").orderBy("doc_id", "idx")
    kept = (
        segs.withColumn("rn", F.row_number().over(first))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    kept_agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "segment"))),
                    lambda s: s["segment"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segments"))
    return totals.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        F.col("n_segments").cast("long").alias("n_segments"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
    )


SEGMENT_DEDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS t
  FROM documents
), segs AS (
  SELECT doc_id, i.i AS idx,
         array_to_string(
           list_slice(t, i.i * {SEG_WORDS} + 1, i.i * {SEG_WORDS} + {SEG_WORDS}),
           ' ') AS segment
  FROM toks,
       LATERAL (SELECT UNNEST(range(0,
                  CAST(ceil(len(t) / {SEG_WORDS}.0) AS INT))) AS i) i
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY segment ORDER BY doc_id, idx) AS rn
  FROM segs
), kept AS (
  SELECT doc_id, idx, segment FROM ranked WHERE rn = 1
), tot AS (
  SELECT doc_id, COUNT(*) AS n_segments FROM segs GROUP BY doc_id
), agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         md5(string_agg(segment, ' ' ORDER BY idx)) AS clean_md5
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n_segments AS BIGINT) AS n_segments,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(a.clean_md5, md5('')) AS clean_md5
FROM tot t LEFT JOIN agg a USING (doc_id)
"""


# --- Sorted-neighborhood dedup (round 7) -------------------------------------
# The classic entity-resolution blocking method (Hernandez & Stolfo,
# SIGMOD'95): sort the corpus by a normalized key, slide a fixed
# window, verify only pairs that fall inside it — O(n·w) candidates
# instead of O(n^2). Complements the hash-bucket family (LSH/simhash/
# phash): SNM catches near-dups whose PREFIXES agree even when no
# band collides.
SNM_WINDOW = 4
SNM_KEY_LEN = 12
SNM_THRESHOLD = 0.5  # token-set Jaccard


def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate generation + exact token-set
    Jaccard verification: sort by the first SNM_KEY_LEN chars of the
    whitespace-normalized lowercased text, pair each doc with its
    SNM_WINDOW successors, keep pairs with Jaccard >= SNM_THRESHOLD
    (ids canonicalized doc_a < doc_b).

    Scale shape: candidates are O(n*w); verification joins token sets
    only for candidate pairs. The global row_number here is the
    single-node stand-in for SNM's real deployment form — range
    partition by key with w-row overlap margins between partitions
    (same results, no global window)."""
    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    key = F.substring(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
        1,
        SNM_KEY_LEN,
    )
    from pyspark.sql.window import Window

    ranked = docs.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(key.alias("k"), F.col("doc_id")))
        .alias("rn"),
    )
    cand = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + SNM_WINDOW),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.col("text"), "[^A-Za-z]+"), lambda t: t != ""
                )
            )
        ).alias("tok"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    shared = (
        cand.join(toks.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            toks.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        shared.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .where(
            F.col("n_shared")
            >= SNM_THRESHOLD
            * (F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("n_shared"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("sa.n_tok") + F.col("sb.n_tok") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )


DEDUP_SNM_SQL = f"""
WITH ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                           1, {SNM_KEY_LEN}), doc_id) AS rn
  FROM documents
), cand AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
         GREATEST(a.doc_id, b.doc_id) AS doc_b
  FROM ranked a JOIN ranked b
    ON b.rn > a.rn AND b.rn <= a.rn + {SNM_WINDOW}
), toks AS (
  SELECT DISTINCT doc_id, t.tok
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text,
                        '[^A-Za-z]+'), x -> x <> '')) AS tok) t
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
), shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.doc_a
  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
       ROUND(CAST(n_shared AS DOUBLE)
             / (sa.n_tok + sb.n_tok - n_shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared >= {SNM_THRESHOLD} * (sa.n_tok + sb.n_tok - n_shared)
"""
