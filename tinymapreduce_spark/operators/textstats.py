"""Text-analysis operators over ``documents`` — language ID, quality
scoring, token statistics, fingerprinting. All pure Catalyst expressions
(no UDFs): at 100 TB these run inside WholeStageCodegen on the scan.

Determinism: ratios are exact-integer-count divisions rounded to 6 dp —
bit-identical across engines; fingerprints are md5 (same algorithm both
sides).
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.functions.text import normalized_text, tokens
from tinymapreduce_spark.pyworker import prime_worker, row_stage
from tinymapreduce_spark.sources.loaders import documents_for_cpu, load_table

# html_extract_stats ships an Arrow kernel; executors that can't import
# the package (driver loads the repo via sys.path) need this module
# pickled BY VALUE — and it must be Spark's vendored cloudpickle
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# n-gram-heuristic language markers: deterministic marker-token votes.
# (The synthetic corpus is English-ish for every lang label; the point is
# the operator shape — marker-list lookup + argmax vote — not model
# quality. Same lists are inlined in the oracle SQL.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def _count_tokens_in(tok_col: Column, wordlist: list[str]) -> Column:
    return F.size(F.filter(tok_col, lambda t: t.isin(wordlist)))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vote language ID: count marker hits per language, argmax
    with deterministic tie-break (marker count desc, language name asc,
    'und' when zero hits everywhere)."""
    docs = documents_for_cpu(spark, sf_dir)
    toks = F.transform(tokens("text"), lambda t: F.lower(t))
    scored = docs.select(
        "doc_id",
        "lang",
        *[_count_tokens_in(toks, ws).alias(f"hits_{lg}") for lg, ws in LANG_MARKERS.items()],
    )
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("und")
    # argmax with name-asc tie-break: walk langs in reverse-sorted order so
    # the earliest name wins the final when-chain.
    for lg in sorted(langs, reverse=True):
        pred = F.when((best > 0) & (F.col(f"hits_{lg}") == best), F.lit(lg)).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        best.alias("marker_hits"),
    )


_LANG_HIT_SQL = ", ".join(
    "len(list_filter(toks, t -> t IN ({words}))) AS hits_{lg}".format(
        words=", ".join(f"'{w}'" for w in ws), lg=lg
    )
    for lg, ws in LANG_MARKERS.items()
)
_LANG_CASE_SQL = (
    "CASE WHEN greatest(hits_en, hits_de, hits_fr, hits_es) = 0 THEN 'und' "
    + " ".join(
        f"WHEN hits_{lg} = greatest(hits_en, hits_de, hits_fr, hits_es) THEN '{lg}'"
        for lg in sorted(LANG_MARKERS)
    )
    + " END"
)
LANG_ID_SQL = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_transform(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), t -> lower(t)) AS toks
  FROM documents
), scored AS (
  SELECT doc_id, lang, {_LANG_HIT_SQL} FROM t
)
SELECT doc_id, lang, {_LANG_CASE_SQL} AS pred_lang,
       CAST(greatest(hits_en, hits_de, hits_fr, hits_es) AS INT) AS marker_hits
FROM scored
"""


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality features + composite score per document:
    token count, mean token length, stopword ratio, non-alpha char ratio.
    Score = clamped linear blend, rounded at the edge."""
    docs = documents_for_cpu(spark, sf_dir)
    toks = tokens("text")
    n_tok = F.size(toks)
    n_chars = F.length("text")
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    stop_hits = _count_tokens_in(F.transform(toks, lambda t: F.lower(t)), STOPWORDS)
    mean_tok_len = F.when(n_tok > 0, alpha_chars.cast("double") / n_tok).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha_chars.cast("double") / n_chars).otherwise(F.lit(0.0))
    score = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            0.4 * alpha_ratio + 0.3 * F.least(F.lit(1.0), n_tok.cast("double") / 100)
            + 0.3 * (1 - stop_ratio),
        ),
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(score, 6).alias("quality"),
    )


_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)
QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN CAST(alpha_chars AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len,
         CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(list_transform(toks, x -> lower(x)), t -> t IN ({_STOPS}))) AS DOUBLE) / len(toks) ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       ROUND(mean_token_len, 6) AS mean_token_len,
       ROUND(stop_ratio, 6) AS stopword_ratio,
       ROUND(alpha_ratio, 6) AS alpha_ratio,
       ROUND(least(1.0, greatest(0.0,
         0.4 * alpha_ratio + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100) + 0.3 * (1 - stop_ratio)
       )), 6) AS quality
FROM m
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document: whitespace tokens, letter-run tokens
    (the BPE-ish regex form), distinct tokens, longest token."""
    docs = documents_for_cpu(spark, sf_dir)
    ws_toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.size(ws_toks).alias("n_ws_tokens"),
        F.size(toks).alias("n_alpha_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_max(F.transform(toks, lambda t: F.length(t))).alias("max_token_len"),
    )


TOKEN_STATS_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws_toks,
         list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(ws_toks) AS INT) AS n_ws_tokens,
       CAST(len(toks) AS INT) AS n_alpha_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(list_max(list_transform(toks, t -> length(t))) AS INT) AS max_token_len
FROM t
"""


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of normalized text (exact-dup key) and
    md5 of the sorted distinct token set (bag-of-words key — catches
    reorderings). Both algorithms exist verbatim in DuckDB."""
    docs = documents_for_cpu(spark, sf_dir)
    toks = tokens("text")
    return docs.select(
        "doc_id",
        F.md5(normalized_text("text")).alias("content_md5"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("vocab_md5"),
    )


FINGERPRINT_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_md5,
       md5(array_to_string(list_sort(list_distinct(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''))), ' ')) AS vocab_md5
FROM documents
"""


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (the Gopher-style quality
    filter): fraction of duplicated word bigrams per document. High
    ratios flag boilerplate/spam for removal before training.

    Whole computation is one Catalyst expression per row — bigrams are
    built with transform-over-slice (no explode), so nothing shuffles
    and a 100 TB scan stays embarrassingly parallel."""
    docs = documents_for_cpu(spark, sf_dir)
    d = docs.select("doc_id", tokens("text").alias("toks"))
    bigrams = F.expr(
        "transform(slice(toks, 1, greatest(size(toks)-1, 0)),"
        " (t, i) -> concat(t, ' ', toks[i+1]))"
    )
    d = d.select("doc_id", bigrams.alias("bigrams"))
    n = F.size("bigrams")
    nd = F.size(F.array_distinct("bigrams"))
    ratio = F.when(n > 0, F.round(F.lit(1.0) - nd.cast("double") / n, 6)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.alias("n_bigrams"),
        nd.alias("n_distinct_bigrams"),
        ratio.alias("dup_bigram_ratio"),
    )


REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS toks
  FROM documents
), b AS (
  SELECT doc_id, [toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))] AS bigrams
  FROM t
)
SELECT doc_id,
       CAST(len(bigrams) AS INT) AS n_bigrams,
       CAST(len(list_distinct(bigrams)) AS INT) AS n_distinct_bigrams,
       CASE WHEN len(bigrams) > 0
            THEN ROUND(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 6)
            ELSE 0.0 END AS dup_bigram_ratio
FROM b
"""


# PII masking patterns — pinned to syntax RE2 (DuckDB) and java.util.regex
# (Spark) interpret identically. Masking order is URL -> email -> digits
# so each count is taken on text with the broader patterns already gone.
URL_RE = "https?://[^ ]+"
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
NUM_RE = "[0-9]+"


def pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL redaction: replace URLs, emails, and digit runs with
    typed placeholder tokens, reporting per-doc match counts and the md5
    of the fully masked text (so the byte-exact masked output is
    oracle-verified, not just the counts).

    The fixture corpus contains no PII, so the query first injects a
    deterministic per-doc footer (email + URL + numeric ref derived from
    doc_id) — the masking operator itself is generic. Pure regexp
    expressions: JVM-side, no UDF, no shuffle."""
    docs = documents_for_cpu(spark, sf_dir)
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" ref "),
        F.col("doc_id").cast("string"),
    )
    d = docs.select("doc_id", footer.alias("t0"))
    t1 = F.regexp_replace(F.col("t0"), URL_RE, "<URL>")
    d = d.select("doc_id", "t0", t1.alias("t1"))
    t2 = F.regexp_replace(F.col("t1"), EMAIL_RE, "<EMAIL>")
    d = d.select("doc_id", "t0", "t1", t2.alias("t2"))
    t3 = F.regexp_replace(F.col("t2"), NUM_RE, "<NUM>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t0"), F.lit(URL_RE), F.lit(0))).alias("n_urls"),
        F.size(F.regexp_extract_all(F.col("t1"), F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("t2"), F.lit(NUM_RE), F.lit(0))).alias("n_nums"),
        F.md5(t3).alias("masked_md5"),
    )


PII_MASK_SQL = f"""
WITH t0 AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com via https://ex.com/d/' || CAST(doc_id AS VARCHAR)
              || ' ref ' || CAST(doc_id AS VARCHAR) AS t0
  FROM documents
), s AS (
  SELECT doc_id, t0,
         regexp_replace(t0, '{URL_RE}', '<URL>', 'g') AS t1
  FROM t0
), s2 AS (
  SELECT doc_id, t0, t1,
         regexp_replace(t1, '{EMAIL_RE}', '<EMAIL>', 'g') AS t2
  FROM s
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t0, '{URL_RE}')) AS INT) AS n_urls,
       CAST(len(regexp_extract_all(t1, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(t2, '{NUM_RE}')) AS INT) AS n_nums,
       md5(regexp_replace(t2, '{NUM_RE}', '<NUM>', 'g')) AS masked_md5
FROM s2
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (tie-break: term asc) — the
    classic corpus-statistics join: per-doc term frequencies x corpus
    document frequencies.

    Shape at scale: tf is one narrow (doc_id, term, tf) relation; df is a
    term-keyed aggregate of it (shuffle on term, the small side after
    aggregation); idf join shuffles on term; ranking shuffles on doc_id.
    Every shuffle key is a single token or id — no document text moves
    after tokenization. Determinism: ln() both engines, round 6dp at the
    edge, rank ties broken on term.
    """
    from pyspark.sql import Window

    docs = documents_for_cpu(spark, sf_dir)
    n_docs = docs.count()  # scalar corpus constant (one tiny job)
    terms = docs.select(
        "doc_id",
        F.explode(F.transform(tokens("text"), lambda t: F.lower(t))).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id, UNNEST(list_transform(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), t -> lower(t))) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, tf.term, tf,
         ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP_K}
"""


BIGRAM_TOPK = 30


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics — the count table behind an n-gram
    language model: top-30 (w1, w2) pairs with their count and the
    conditional probability P(w2 | w1) = c(w1,w2) / c(w1).

    Token positions come from posexplode of the tokenized array (the
    same Catalyst `tokens` expression as every text operator), bigrams
    from a length-2 slide over (doc_id, pos) — an equi-join on
    (doc_id, pos+1), which Spark co-partitions with the exploded scan.
    Probabilities are one exactly-rounded integer division. At 100 TB
    the (w1, w2) groupBy is the only big shuffle; partial aggregation
    collapses each partition's pairs first."""
    docs = documents_for_cpu(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    )
    a = tok.select("doc_id", "pos", F.col("w").alias("w1"))
    b = tok.select("doc_id", (F.col("pos") - 1).alias("pos"), F.col("w").alias("w2"))
    bigrams = a.join(b, ["doc_id", "pos"]).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n")
    )
    # last token of each doc starts no bigram: condition on bigram starts
    starts = bigrams.groupBy("w1").agg(F.sum("n").alias("n_starts"))
    return (
        bigrams.join(starts, "w1")
        .select(
            "w1",
            "w2",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_starts"), 6).alias("p_cond"),
        )
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(BIGRAM_TOPK)
    )


BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.i AS pos, t.tok AS w
  FROM documents,
       LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok,
                       generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
), bigrams AS (
  SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
), starts AS (
  SELECT w1, SUM(n) AS n_starts FROM bigrams GROUP BY 1
)
SELECT w1, w2, n, ROUND(CAST(n AS DOUBLE) / n_starts, 6) AS p_cond
FROM bigrams JOIN starts USING (w1)
ORDER BY n DESC, w1 ASC, w2 ASC
LIMIT {BIGRAM_TOPK}
"""


# The synthetic corpus draws from a small template vocabulary (~900
# distinct bigrams at every SF), so the "common" list is capped well
# below that to keep the score discriminative; production corpora
# would run 10^5-10^6 here — same broadcast shape either way.
NOVELTY_TOPK = 300


def bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram NOVELTY — the integer-exact surprisal proxy a
    quality filter runs instead of a float perplexity: the fraction of a
    document's bigram occurrences that fall outside the corpus's
    top-``NOVELTY_TOPK`` bigram list. High novelty = text whose local
    word transitions the corpus LM has barely seen (gibberish, boiler-
    plate mutations, OCR noise); the float-free formulation keeps the
    score a pure function of the data (SURVEY.md §8 — a perplexity's
    ``sum(ln ...)`` is summation-order-specific, a count ratio is not).

    Scale shape: doc bigrams come from a ``transform(sequence(...))``
    zip inside codegen — no posexplode self-join — into ONE
    (doc_id, w1, w2) hash aggregate; the corpus top-K reduces via
    TakeOrderedAndProject (never a global sort) and returns as a
    BROADCAST anti-join probe, so the second corpus pass streams.
    Only rounded-at-the-edge division reaches the output."""
    docs = documents_for_cpu(spark, sf_dir)
    toks = docs.select("doc_id", tokens("text").alias("l")).where(
        F.size("l") >= 2
    )
    bg = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> struct(l[i-1] AS w1, l[i] AS w2))"
                )
            ).alias("p"),
        )
        .groupBy("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    corpus_top = (
        bg.groupBy("w1", "w2")
        .agg(F.sum("n").alias("cn"))
        .orderBy(F.desc("cn"), F.asc("w1"), F.asc("w2"))
        .limit(NOVELTY_TOPK)
        .select("w1", "w2")
    )
    novel = (
        bg.join(F.broadcast(corpus_top), ["w1", "w2"], "left_anti")
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_novel"))
    )
    totals = bg.groupBy("doc_id").agg(F.sum("n").alias("n_bigrams"))
    return (
        docs.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.coalesce("n_novel", F.lit(0).cast("bigint")).alias("n_novel"),
            F.when(
                F.col("n_bigrams").isNotNull(),
                F.round(
                    F.coalesce("n_novel", F.lit(0).cast("bigint")).cast("double")
                    / F.col("n_bigrams"),
                    6,
                ),
            ).alias("novelty_rate"),
        )
    )


BIGRAM_NOVELTY_SQL = f"""
WITH toklists AS MATERIALIZED (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS l
  FROM documents
), bg AS MATERIALIZED (
  SELECT doc_id, w1, w2, COUNT(*) AS n
  FROM (
    SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
    FROM (SELECT doc_id, l, UNNEST(range(1, len(l))) AS i
          FROM toklists WHERE len(l) >= 2)
  )
  GROUP BY 1, 2, 3
), corpus_top AS MATERIALIZED (
  SELECT w1, w2
  FROM (SELECT w1, w2, SUM(n) AS cn FROM bg GROUP BY 1, 2)
  ORDER BY cn DESC, w1 ASC, w2 ASC
  LIMIT {NOVELTY_TOPK}
), novel AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_novel
  FROM bg ANTI JOIN corpus_top USING (w1, w2)
  GROUP BY 1
), totals AS (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_bigrams FROM bg GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(t.n_bigrams, 0) AS n_bigrams,
       COALESCE(v.n_novel, 0) AS n_novel,
       CASE WHEN t.n_bigrams IS NOT NULL
            THEN ROUND(COALESCE(v.n_novel, 0)::DOUBLE / t.n_bigrams, 6)
       END AS novelty_rate
FROM documents d
LEFT JOIN totals t USING (doc_id)
LEFT JOIN novel v USING (doc_id)
"""


def extract_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-extraction TABLE — the inverse shape of ``pii_mask``:
    instead of redacting matches in place, emit one row per (doc_id,
    entity_type, entity) with its occurrence index. This is the
    structured side-output an enrichment pipeline joins on (link graphs
    from URLs, contact resolution from emails).

    Same pinned regexes as pii_mask (syntax common to java.util.regex
    and RE2), same deterministic footer injection since the corpus holds
    no real entities. regexp_extract_all -> posexplode stays entirely in
    codegen; output size is match-proportional, never text-proportional."""
    docs = documents_for_cpu(spark, sf_dir)
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via https://ex.com/d/"),
        F.col("doc_id").cast("string"),
        F.lit(" ref "),
        F.col("doc_id").cast("string"),
    )
    d = docs.select("doc_id", footer.alias("t"))
    parts = []
    for ent_type, pattern in (("url", URL_RE), ("email", EMAIL_RE)):
        parts.append(
            d.select(
                "doc_id",
                F.lit(ent_type).alias("entity_type"),
                F.posexplode(F.regexp_extract_all(F.col("t"), F.lit(pattern), F.lit(0))).alias(
                    "idx", "entity"
                ),
            ).select("doc_id", "entity_type", F.col("idx").cast("long").alias("idx"), "entity")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


EXTRACT_ENTITIES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com via https://ex.com/d/' || CAST(doc_id AS VARCHAR)
              || ' ref ' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
), u AS (
  SELECT doc_id, 'url' AS entity_type,
         generate_subscripts(regexp_extract_all(t, '{URL_RE}'), 1) - 1 AS idx,
         UNNEST(regexp_extract_all(t, '{URL_RE}')) AS entity
  FROM t
), e AS (
  SELECT doc_id, 'email' AS entity_type,
         generate_subscripts(regexp_extract_all(t, '{EMAIL_RE}'), 1) - 1 AS idx,
         UNNEST(regexp_extract_all(t, '{EMAIL_RE}')) AS entity
  FROM t
)
SELECT doc_id, entity_type, CAST(idx AS BIGINT) AS idx, entity FROM u
UNION ALL
SELECT doc_id, entity_type, CAST(idx AS BIGINT) AS idx, entity FROM e
"""


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document (bits/char) — the classic
    gibberish/low-diversity curation signal (near-0 = one repeated char,
    ~4.1 = typical English prose; threshold both tails when filtering).

    Computed as H = log2(n) - (1/n) * sum(c * log2(c)) over per-char
    counts c, so only one float fold happens per doc; everything before
    it is exact integer counting. One explode + two hash aggregates, all
    codegen — no Python. Shares the two-step shuffle shape of word
    count (char keys instead of words)."""
    docs = documents_for_cpu(spark, sf_dir)
    chars = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("c")
    ).where(F.col("c") != "")
    counts = chars.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_chars"),
            F.sum(F.col("cnt") * F.log2("cnt")).alias("clog"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_distinct_chars",
            F.round(F.log2("n_chars") - F.col("clog") / F.col("n_chars"), 6).alias(
                "entropy_bits"
            ),
        )
    )


CHAR_ENTROPY_SQL = """
WITH chars AS (
  SELECT doc_id, UNNEST(string_split(text, '')) AS c FROM documents
), counts AS (
  SELECT doc_id, c, COUNT(*) AS cnt FROM chars WHERE c <> '' GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_chars,
       COUNT(*) AS n_distinct_chars,
       ROUND(log2(CAST(SUM(cnt) AS DOUBLE)) - SUM(cnt * log2(cnt)) / SUM(cnt), 6) AS entropy_bits
FROM counts
GROUP BY doc_id
"""


# Tiny sentiment lexicon over the synthetic corpus vocabulary (the
# SURVEY §7.4 "sentiment-lexicon join" pattern: lexicon = broadcast dim,
# tokens = fact). Real pipelines swap in VADER/AFINN rows — same plan.
SENTIMENT_LEXICON: dict[str, int] = {
    "fast": 1,
    "big": 1,
    "value": 1,
    "fresh": 1,
    "slow": -1,
    "small": -1,
    "dup": -1,
    "stale": -1,
}


def sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-join sentiment per document: tokens equi-join a broadcast
    polarity lexicon; score = (sum of matched polarities) / token count.

    Scale shape: the lexicon (thousands of rows at most, here 8) is a
    broadcast dim, so the token fact never shuffles for the join — one
    scan, one broadcast-hash join, one doc_id hash aggregate. Docs with
    zero lexicon hits still report a row (left join, zero score)."""
    docs = documents_for_cpu(spark, sf_dir)
    lex = F.broadcast(
        spark.createDataFrame(
            sorted(SENTIMENT_LEXICON.items()), "tok string, polarity int"
        )
    )
    toks = docs.select(
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.explode(tokens("text")).alias("tok"),
    )
    return (
        toks.join(lex, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.sum(F.coalesce("polarity", F.lit(0))).alias("polarity_sum"),
            F.count("polarity").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_hits",
            "polarity_sum",
            F.round(F.col("polarity_sum") / F.col("n_tokens"), 6).alias("sentiment"),
        )
    )


_LEX_VALUES = ", ".join(f"('{t}', {p})" for t, p in sorted(SENTIMENT_LEXICON.items()))

SENTIMENT_SQL = f"""
WITH lex(tok, polarity) AS (VALUES {_LEX_VALUES}),
toks AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS n_tokens,
         UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok
  FROM documents
)
SELECT doc_id,
       MAX(n_tokens) AS n_tokens,
       COUNT(l.polarity) AS n_hits,
       CAST(COALESCE(SUM(l.polarity), 0) AS BIGINT) AS polarity_sum,
       ROUND(CAST(COALESCE(SUM(l.polarity), 0) AS DOUBLE) / MAX(n_tokens), 6) AS sentiment
FROM toks LEFT JOIN lex l USING (tok)
GROUP BY doc_id
"""


# Winnowing parameters (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): k-gram rolling hashes, one fingerprint per w-window minimum.
WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars shares a fingerprint)
WINNOW_B = 257  # polynomial base
WINNOW_M = (1 << 31) - 1  # modulus


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints — the rolling-hash selection
    scheme behind MOSS-style near-copy detection: hash every char
    8-gram with a polynomial rolling hash, keep the minimum of each
    4-hash window, and summarize the per-doc fingerprint set (count +
    exact integer checksum + extrema). Guarantees every shared
    substring of >= k+w-1 chars contributes a shared fingerprint.

    All integer math (fold (acc*B + code) % M per k-gram), so both
    engines agree exactly. Scale shape: the k-gram hash array builds in
    one codegen projection; the only shuffle is the per-doc explode's
    window (partitioned by doc_id — parallel across docs)."""
    fps = winnow_fps_df(documents_for_cpu(spark, sf_dir))
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.sum("fp").alias("fp_checksum"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


def winnow_fps_df(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — the selected fingerprint set per document, split
    out so tests can assert the winnowing guarantee directly (any two
    docs sharing a substring of >= WINNOW_K + WINNOW_W - 1 chars share
    at least one fingerprint).

    Perf: char codes pre-split ONCE per doc into an array — element_at
    is O(1) where substr(text, p+j, 1) re-seeks the UTF8 string per
    call (k seeks/position = O(n*k) string scanning per doc); and the
    single-file corpus is explicitly repartitioned so the hash
    projection parallelizes instead of running in the lone scan task
    (3x at bench scale)."""
    codes_col = F.transform(
        F.filter(F.split(F.col("text"), ""), lambda c: c != F.lit("")), F.ascii
    )
    # explicit count (not AQE-coalescible: small bytes, heavy per-row
    # rolling-hash CPU) that tracks cluster cores instead of a hard 64
    base = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id", codes_col.alias("codes"))
    codes = F.col("codes")
    n = F.size(codes)
    positions = F.when(
        n >= WINNOW_K, F.sequence(F.lit(1), n - WINNOW_K + 1)
    ).otherwise(F.array().cast("array<int>"))
    kgram_hash = lambda p: F.aggregate(  # noqa: E731
        F.sequence(F.lit(0), F.lit(WINNOW_K - 1)),
        F.lit(0).cast("long"),
        lambda acc, j: (acc * WINNOW_B + F.element_at(codes, p + j)) % WINNOW_M,
    )
    hashed = base.select(
        "doc_id", F.posexplode(F.transform(positions, kgram_hash)).alias("p", "h")
    )
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, WINNOW_W - 1)
    wn = Window.partitionBy("doc_id")
    fps = (
        hashed.withColumn("win_min", F.min("h").over(w))
        .withColumn("max_p", F.max("p").over(wn))
        .where(F.col("p") <= F.col("max_p") - (WINNOW_W - 1))
        .select("doc_id", F.col("win_min").alias("fp"))
        .distinct()
    )
    return fps


# Shared winnowing closure (k-gram rolling hashes -> window minima ->
# selected fingerprint set) — WINNOW_SQL and WINNOW_NEARDUP_SQL compose
# their final projections onto it (named constant, not string surgery).
_WINNOW_CTE_SQL = f"""
WITH h AS (
  SELECT doc_id, t.p,
         list_reduce(
           list_transform(range(0, {WINNOW_K}), j -> CAST(ascii(substr(text, t.p + j, 1)) AS BIGINT)),
           (acc, x) -> (acc * {WINNOW_B} + x) % {WINNOW_M}
         ) AS hash
  FROM documents,
       LATERAL (SELECT UNNEST(range(1, length(text) - {WINNOW_K} + 2)) AS p) t
  WHERE length(text) >= {WINNOW_K}
), wins AS (
  SELECT doc_id, p,
         MIN(hash) OVER (PARTITION BY doc_id ORDER BY p
                         ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS win_min,
         MAX(p) OVER (PARTITION BY doc_id) AS max_p
  FROM h
), fps AS MATERIALIZED (
  SELECT DISTINCT doc_id, win_min AS fp
  FROM wins WHERE p <= max_p - {WINNOW_W - 1}
)
"""

WINNOW_SQL = _WINNOW_CTE_SQL + """
SELECT doc_id, COUNT(*) AS n_fingerprints,
       CAST(SUM(fp) AS BIGINT) AS fp_checksum,
       MIN(fp) AS min_fp, MAX(fp) AS max_fp
FROM fps GROUP BY doc_id
"""


def compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document deflate compressibility — oracle-backed since r7
    (VERDICT r6 #1): both legs run the FROM-SCRATCH RFC 1951 compressors
    in ``functions/inflate.py`` (no zlib, so byte counts are pure
    functions of the data, identical on every machine).

    - ``rle_bytes``: the dist-1-restricted ``deflate_rle`` stream. Its
      exact size is a closed-form function of the run-length
      decomposition, so the oracle REPLAYS it in SQL
      (``COMPRESSIBILITY_SQL`` explodes chars, groups runs with
      gaps-and-islands, and applies the fixed-Huffman bit ladder) —
      a full hash check on a real compressed-stream size.
    - ``lz_le_rle`` / ``lz_le_raw``: audit booleans driven by the live
      greedy-LZ77 ``deflate_fixed`` leg (the actual quality signal,
      exposed per-doc by ``compressibility_raw``): LZ77 must never lose
      to its own dist-1 restriction, and never exceed raw+2 (one
      fixed-Huffman block of 8-bit ASCII literals + 10 header/EOB bits).
      A regression in either compressor flips a hashed value.

    Python is unavoidable (no JVM-side deflate expression), so this runs
    as an Arrow-batched per-row stage — bytes in, ints/bools out.
    NOTE: the SQL replay decomposes runs over CHARACTERS, which equals
    the kernel's byte runs only for ASCII corpora (the driver tables
    are; multi-byte parity for the kernel itself is pinned in pytest)."""
    return compressibility_audit_df(
        documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    )


def compressibility_audit_df(docs: DataFrame) -> DataFrame:
    """Kernel body over any ``(doc_id, text)`` frame — split out so
    tests can certify the formula and booleans on constructed docs."""
    import zlib as _zlib

    from tinymapreduce_spark.functions.inflate import (
        deflate_dynamic,
        deflate_fixed,
        deflate_rle,
        inflate,
    )

    def _dyn_ok(b: bytes) -> bool:
        """Dynamic-Huffman leg (r7): the emitted BTYPE=10 stream must
        decode to the input through BOTH this engine's inflate and
        stdlib zlib — two independent decoders agreeing on a
        from-scratch encoder's output."""
        blob = deflate_dynamic(b)
        return inflate(blob)[0] == b and _zlib.decompress(blob, -15) == b

    def audit(doc_id, text):
        b = text.encode("utf-8")
        raw, rle, lz = len(b), len(deflate_rle(b)), len(deflate_fixed(b))
        yield doc_id, raw, rle, lz <= rle, lz <= raw + 2, _dyn_ok(b)

    out = row_stage(
        docs,
        "doc_id long, raw_bytes long, rle_bytes long, "
        "lz_le_rle boolean, lz_le_raw boolean, dyn_ok boolean",
        audit,
    )
    # ratio on the JVM side (long/long division + round, same ops as the
    # oracle's ROUND(CAST(..)/.., 6) — not pandas' half-even rounding)
    return out.withColumn(
        "rle_ratio", F.round(F.col("rle_bytes") / F.col("raw_bytes"), 6)
    )


def compressibility_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing quality heuristic proper (unregistered scale
    path, same convention as ``approx_aggregates_raw``): per-doc greedy
    LZ77 deflate ratio — near 0 for template spam, near/above 1 for
    random noise. Deterministic (from-scratch ``deflate_fixed``, not
    zlib), audited by the registered ``compressibility`` booleans."""
    return compressibility_df(
        documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    )


def compressibility_df(docs: DataFrame) -> DataFrame:
    """Kernel body of the raw LZ77 leg over any ``(doc_id, text)``
    frame — tests certify the signal direction on constructed docs."""
    from tinymapreduce_spark.functions.inflate import deflate_fixed

    def ratio(doc_id, text):
        b = text.encode("utf-8")
        raw, comp = len(b), len(deflate_fixed(b))
        yield doc_id, raw, comp, round(comp / raw, 6) if raw else float("inf")

    return row_stage(
        docs, "doc_id long, raw_bytes long, deflate_bytes long, compress_ratio double", ratio
    )


# SQL replay of deflate_rle's exact byte count (see rle_deflate_size in
# functions/inflate.py): explode characters, group maximal runs with
# gaps-and-islands, apply the fixed-Huffman bit ladder per run, then
# 3 header bits + 7 EOB bits and padding. ASCII corpus => char runs ==
# byte runs and every literal costs 8 bits.
COMPRESSIBILITY_SQL = """
WITH chars AS (
  SELECT doc_id,
         UNNEST(string_split(text, '')) AS ch,
         UNNEST(generate_series(1, length(text))) AS i
  FROM documents
),
flagged AS (
  SELECT doc_id, i, ch,
         CASE WHEN ch = lag(ch) OVER (PARTITION BY doc_id ORDER BY i)
              THEN 0 ELSE 1 END AS brk
  FROM chars
),
grouped AS (
  SELECT doc_id, i, ch,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
  FROM flagged
),
runs AS (
  SELECT doc_id, run_id, COUNT(*) AS run_len FROM grouped
  GROUP BY doc_id, run_id
),
run_bits AS (
  SELECT doc_id,
         8 + ((run_len - 1) // 258) * 13 +
         CASE
           WHEN (run_len - 1) % 258 >= 131 THEN 18
           WHEN (run_len - 1) % 258 >= 115 THEN 17
           WHEN (run_len - 1) % 258 >=  67 THEN 16
           WHEN (run_len - 1) % 258 >=  35 THEN 15
           WHEN (run_len - 1) % 258 >=  19 THEN 14
           WHEN (run_len - 1) % 258 >=  11 THEN 13
           WHEN (run_len - 1) % 258 >=   3 THEN 12
           ELSE ((run_len - 1) % 258) * 8
         END AS bits
  FROM runs
),
per_doc AS (
  SELECT doc_id, SUM(bits) AS body_bits FROM run_bits GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(strlen(d.text) AS BIGINT) AS raw_bytes,
       CAST((3 + COALESCE(p.body_bits, 0) + 7 + 7) // 8 AS BIGINT) AS rle_bytes,
       TRUE AS lz_le_rle,
       TRUE AS lz_le_raw,
       TRUE AS dyn_ok,
       ROUND(CAST((3 + COALESCE(p.body_bits, 0) + 7 + 7) // 8 AS DOUBLE)
             / strlen(d.text), 6) AS rle_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# Pair threshold: on this small-vocab corpus background pairs share a
# median of ~7 selected fingerprints by chance while true near-dups
# score 16-182, so >= 40 keeps strong partial-copy overlap only (at
# real-corpus vocab sizes chance collisions vanish and the threshold
# can drop toward the MOSS-style 2-5).
WINNOW_SHARED_MIN = 40


WINNOW_HOT_FP_CAP = 512  # stop-fingerprints: buckets past this are boilerplate


def winnow_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-copy pairs via shared winnowing fingerprints — the MOSS
    use case proper: two documents that share >= WINNOW_SHARED_MIN
    selected fingerprints contain common substrings of >= k+w-1 chars,
    catching quotation/template overlap that whole-document Jaccard
    misses when the rest of the docs differ.

    Scale shape: identical to the other pair generators — a narrow
    (doc_id, fp) index self-joined on the 8-byte fingerprint, so only
    docs colliding on a selected hash ever pair; no all-pairs stage.

    The quadratic term is Σ_fp bucket²: on real text, fingerprint
    entropy grows with the corpus and buckets stay near clone-family
    size, but template boilerplate (and real 100 TB corpora ARE
    boilerplate-heavy) can produce a bucket of 10⁶ docs whose pair
    expansion alone is 10¹² rows. So the REGISTERED query applies the
    stop-fingerprint filter BY DEFAULT: a fingerprint shared by more
    than WINNOW_HOT_FP_CAP documents is treated as boilerplate, not
    pair evidence (MOSS applies the same treatment to common code
    idioms), which bounds the join at O(index × cap) rows. The filter
    is in-plan — a groupBy doc-frequency + broadcast anti-join — so the
    DuckDB oracle replays it exactly. The uncapped exact form remains
    as the ``hot_fp_cap=None`` knob on ``winnow_neardup_pairs_df`` for
    corpora where every collision is wanted evidence."""
    return winnow_neardup_pairs_df(documents_for_cpu(spark, sf_dir))


def winnow_neardup_pairs_df(
    docs: DataFrame, hot_fp_cap: int | None = WINNOW_HOT_FP_CAP
) -> DataFrame:
    """Pair-join body over any ``(doc_id, text)`` frame. The default
    drops stop-fingerprints shared by more than ``hot_fp_cap``
    documents (bounding the self-join at O(index × cap) rows);
    ``hot_fp_cap=None`` is the exact uncapped knob."""
    fps = winnow_fps_df(docs)
    if hot_fp_cap is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > hot_fp_cap)
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .where(F.col("n_shared_fps") >= WINNOW_SHARED_MIN)
    )


# The oracle replays the stop-fingerprint filter in-plan: hot = the
# doc-frequency groupBy, kept = fps ANTI JOIN hot — identical semantics
# to the broadcast left_anti in winnow_neardup_pairs_df.
WINNOW_NEARDUP_SQL = (
    _WINNOW_CTE_SQL
    + f""", hot AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) > {WINNOW_HOT_FP_CAP}
), kept AS (
  SELECT f.doc_id, f.fp FROM fps f ANTI JOIN hot h ON f.fp = h.fp
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_fps
FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {WINNOW_SHARED_MIN}
"""
)


def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene — the first stage of every multilingual corpus
    pipeline: NFC-normalize (fold combining sequences into precomposed
    code points so visually-identical strings hash identically) and
    strip C0/C1 control characters (except tab/newline). Emits the md5
    of the cleaned text plus change counters, so dedup keys computed
    downstream are representation-independent.

    No JVM NFC expression exists, so this is an Arrow-batched
    per-row stage (unicodedata is C-accelerated); the oracle uses
    DuckDB's native nfc_normalize — two INDEPENDENT NFC
    implementations agreeing on the md5 is the point of the parity
    check (certified on combining-character docs in tests; the ASCII
    corpus passes through unchanged)."""
    return text_normalize_df(
        documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    )


def text_normalize_df(docs: DataFrame) -> DataFrame:
    """Kernel body over any ``(doc_id, text)`` frame."""
    import hashlib
    import unicodedata

    _CONTROL = {c: None for c in range(32) if c not in (9, 10)}
    _CONTROL.update({c: None for c in range(127, 160)})

    def normalize(doc_id, t):
        # strip BEFORE normalizing: controls never join combining
        # sequences, and DuckDB's nfc_normalize truncates at NUL —
        # stripping first keeps the two oracles on the same input.
        stripped = t.translate(_CONTROL)
        clean = unicodedata.normalize("NFC", stripped)
        md5 = hashlib.md5(clean.encode("utf-8")).hexdigest()
        yield doc_id, md5, clean != t, len(t) - len(stripped)

    return row_stage(
        docs, "doc_id long, clean_md5 string, changed boolean, n_control_stripped long", normalize
    )


TEXT_NORMALIZE_SQL = """
WITH s AS (
  SELECT doc_id, text,
         regexp_replace(text, '[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]', '', 'g') AS stripped
  FROM documents
), cleaned AS (
  SELECT doc_id, text, stripped, nfc_normalize(stripped) AS clean FROM s
)
SELECT doc_id,
       md5(clean) AS clean_md5,
       clean <> text AS changed,
       CAST(length(text) - length(stripped) AS BIGINT) AS n_control_stripped
FROM cleaned
"""


def arrow_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE batch UDF surface (``mapInArrow``): per-document
    byte/space/uppercase counts computed with vectorized
    ``pyarrow.compute`` kernels directly on the RecordBatch buffers —
    no pandas materialization, no per-row Python. This is the third and
    lowest-overhead rung of the Python UDF ladder the repo covers
    (row UDF < pandas UDF < Arrow batch), the shape to use when the
    transformation is expressible as Arrow kernels over a decoded
    column but not as Catalyst expressions. Counts are byte-exact on
    any UTF-8 input (binary_length counts BYTES; the DuckDB oracle's
    STRLEN is also byte length), so parity does not rest on the
    fixtures' ASCII-ness."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        prime_worker()
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in it:
            t = b.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0),
                    pc.cast(pc.binary_length(t), pa.int64()),
                    pc.cast(pc.count_substring(t, " "), pa.int64()),
                    pc.cast(pc.count_substring_regex(t, "[A-Z]"), pa.int64()),
                ],
                ["doc_id", "n_bytes", "n_spaces", "n_upper"],
            )

    return docs.mapInArrow(
        batches, "doc_id long, n_bytes long, n_spaces long, n_upper long"
    ).orderBy("doc_id")


ARROW_TEXT_STATS_SQL = """
SELECT doc_id, STRLEN(text) AS n_bytes,
       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_spaces,
       CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper
FROM documents
ORDER BY doc_id
"""


# Gopher rule battery (Rae et al. 2021, "Scaling Language Models", App. A:
# the document-level quality heuristics of the MassiveText pipeline).
# Thresholds are the paper's; the stopword list is the paper's required-word
# list (distinct from the generic STOPWORDS scoring list above).
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document-filter rule battery as one codegen
    pass: word-count bounds, mean-word-length bounds, symbol-to-word
    ratio ('#' / '...'), fraction of words containing a letter, and the
    >=2-distinct-required-stopwords rule. Emits every intermediate
    signal plus per-rule verdicts plus the conjunction, so downstream
    curation can re-weigh rules without a second scan. Pure Catalyst
    expressions over whitespace tokens — no UDFs, scan-local at 100 TB
    (one projection, zero shuffles).

    Ratio determinism: integer-count divisions rounded to 6 dp, the
    repo-wide convention; rule compares happen on the UNrounded exact
    ratios in both engines.
    """
    return gopher_rules_df(documents_for_cpu(spark, sf_dir))


def gopher_rules_df(docs: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Frame-level rule battery over (doc_id, text [, passthrough...]) —
    shared by the batch query above and the streaming filter sink
    (streaming/sinks.py::stream_quality_filter), so both paths evaluate
    the byte-identical rule expressions."""
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    d = docs.select("doc_id", *passthrough, ws.alias("ws"))
    n_words = F.size("ws")
    sum_len = F.aggregate("ws", F.lit(0), lambda acc, t: acc + F.length(t))
    alpha_words = F.size(F.filter("ws", lambda t: t.rlike("[A-Za-z]")))
    symbol_words = F.size(
        F.filter("ws", lambda t: t.contains("#") | t.contains("..."))
    )
    stop_hits = F.size(
        F.array_distinct(
            F.filter(F.transform("ws", lambda t: F.lower(t)), lambda t: t.isin(GOPHER_STOPS))
        )
    )
    d = d.select(
        "doc_id",
        *passthrough,
        n_words.alias("n_words"),
        sum_len.alias("sum_len"),
        alpha_words.alias("alpha_words"),
        symbol_words.alias("symbol_words"),
        stop_hits.alias("n_stop_hits"),
    )
    nz = F.col("n_words") > 0
    mean_len = F.when(nz, F.col("sum_len").cast("double") / F.col("n_words")).otherwise(F.lit(0.0))
    alpha_frac = F.when(nz, F.col("alpha_words").cast("double") / F.col("n_words")).otherwise(
        F.lit(0.0)
    )
    sym_ratio = F.when(nz, F.col("symbol_words").cast("double") / F.col("n_words")).otherwise(
        F.lit(0.0)
    )
    ok_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (F.col("n_words") <= GOPHER_MAX_WORDS)
    ok_mean = (mean_len >= GOPHER_MIN_MEAN_LEN) & (mean_len <= GOPHER_MAX_MEAN_LEN)
    ok_sym = sym_ratio <= GOPHER_MAX_SYMBOL_RATIO
    ok_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    ok_stops = F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS
    return d.select(
        "doc_id",
        *passthrough,
        "n_words",
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("frac_alpha_words"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        "n_stop_hits",
        ok_words.alias("ok_word_count"),
        ok_mean.alias("ok_mean_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stops.alias("ok_stopwords"),
        (ok_words & ok_mean & ok_sym & ok_alpha & ok_stops).alias("passes"),
    )


_GOPHER_STOPS_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPS)
GOPHER_RULES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
  FROM documents
), m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         COALESCE(list_sum(list_transform(ws, t -> length(t))), 0) AS sum_len,
         len(list_filter(ws, t -> regexp_matches(t, '[A-Za-z]'))) AS alpha_words,
         len(list_filter(ws, t -> contains(t, '#') OR contains(t, '...'))) AS symbol_words,
         len(list_distinct(list_filter(list_transform(ws, t -> lower(t)),
                                       t -> t IN ({_GOPHER_STOPS_SQL})))) AS n_stop_hits
  FROM t
), r AS (
  SELECT doc_id, n_words, n_stop_hits,
         CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END AS mean_len,
         CASE WHEN n_words > 0 THEN CAST(alpha_words AS DOUBLE) / n_words ELSE 0.0 END AS alpha_frac,
         CASE WHEN n_words > 0 THEN CAST(symbol_words AS DOUBLE) / n_words ELSE 0.0 END AS sym_ratio
  FROM m
)
SELECT doc_id,
       CAST(n_words AS INT) AS n_words,
       ROUND(mean_len, 6) AS mean_word_len,
       ROUND(alpha_frac, 6) AS frac_alpha_words,
       ROUND(sym_ratio, 6) AS symbol_ratio,
       CAST(n_stop_hits AS INT) AS n_stop_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}) AS ok_word_count,
       (mean_len >= {GOPHER_MIN_MEAN_LEN} AND mean_len <= {GOPHER_MAX_MEAN_LEN}) AS ok_mean_len,
       (sym_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbol_ratio,
       (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS ok_alpha_words,
       (n_stop_hits >= {GOPHER_MIN_STOP_HITS}) AS ok_stopwords,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_len >= {GOPHER_MIN_MEAN_LEN} AND mean_len <= {GOPHER_MAX_MEAN_LEN}
        AND sym_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
        AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
        AND n_stop_hits >= {GOPHER_MIN_STOP_HITS}) AS passes
FROM r
"""


def grouped_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Arrow-native UDF surface (``applyInArrow``): per-SOURCE
    aggregates computed by a pyarrow function receiving each group as a
    whole Arrow table — the grouped sibling of ``arrow_text_stats``'s
    mapInArrow and the fourth rung of the Python UDF ladder (row UDF <
    pandas UDF < Arrow batch map < Arrow grouped). The per-group
    computation (byte totals, longest doc, docs-over-300-bytes) uses
    only vectorized pyarrow.compute kernels; Spark shuffles once on the
    group key and hands each group over zero-copy. Use this shape when
    per-group logic needs whole-group visibility but stays columnar —
    the caveat (one group must fit one Arrow table) is the same
    skew-awareness contract as applyInPandas, documented in SURVEY
    §7.5."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")

    def per_group(tbl):
        prime_worker()
        import pyarrow as pa
        import pyarrow.compute as pc

        n_bytes = pc.cast(pc.binary_length(tbl.column("text")), pa.int64())
        return pa.Table.from_pydict(
            {
                "source": [tbl.column("source")[0].as_py()],
                "n_docs": [tbl.num_rows],
                "total_bytes": [pc.sum(n_bytes).as_py()],
                "max_bytes": [pc.max(n_bytes).as_py()],
                "n_long_docs": [
                    pc.sum(
                        pc.cast(pc.greater(n_bytes, pa.scalar(300)), pa.int64())
                    ).as_py()
                ],
            }
        )

    return docs.groupBy("source").applyInArrow(
        per_group,
        "source string, n_docs long, total_bytes long, max_bytes long, n_long_docs long",
    )


GROUPED_ARROW_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(STRLEN(text)) AS BIGINT) AS total_bytes,
       CAST(MAX(STRLEN(text)) AS BIGINT) AS max_bytes,
       CAST(SUM(CASE WHEN STRLEN(text) > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_long_docs
FROM documents GROUP BY source
"""


# CCNet buckets by LM perplexity terciles calibrated on a sample
# (Wenzek et al., LREC 2020 §4.3 — head/middle/tail per language).
# SAMPLE_MOD sets the deterministic calibration-sample rate: a doc is
# in the sample iff h60(doc_id) % SAMPLE_MOD == 0. At test SF the rate
# is 1/4 so every lang gets a meaningful sample; a 100 TB deployment
# raises SAMPLE_MOD so the per-lang sample lands ~10^4 docs — the
# tercile window then runs over a bounded frame. Rate-scaling changes
# the constant, never the plan.
PPLX_SAMPLE_MOD = 4


def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality bucketing: score every document by its
    average bigram surprisal under the corpus's own bigram LM, then
    label it head / middle / tail by per-LANGUAGE tercile cutpoints
    calibrated on a deterministic hash sample — the exact methodology
    of CCNet (Wenzek et al. 2020), whose KenLM perplexity terciles
    decide which web text enters the pretraining mix.

    Float-free surprisal (SURVEY.md §8 determinism convention): the
    per-bigram score is the DIGIT COUNT of the integer conditional
    odds floor(c(w1) / c(w1,w2)) — a base-10 ``floor(log10)+1`` bucket
    computed with integer division + string length, exact in both
    engines, summed as bigints; only the final per-doc mean is one
    rounded-at-the-edge division. Every doc bigram was counted into
    the LM, so c >= 1 and no smoothing branch is needed.

    Scale shape: ONE (w1,w2) hash-aggregate builds the LM (map-side
    combined), the start-count conditioning reuses it (bigram_lm's
    shape), the doc re-score joins doc-bigram types to the vocab^2-
    bounded LM table, and the cutpoint window runs only over the
    hash-sample per language before returning as a BROADCAST O(|lang|)
    cut table. No global sort, no all-doc window — the two things a
    naive NTILE-over-everything bucketing would hit at 100 TB.
    """
    docs = documents_for_cpu(spark, sf_dir)
    bg = pplx_bigrams_df(docs)
    lm, starts = pplx_model_df(bg)
    scored = pplx_score_df(bg, lm, starts)
    cuts = pplx_cuts_df(scored)
    return pplx_label_df(scored, cuts)


def pplx_bigrams_df(docs: DataFrame) -> DataFrame:
    """Per-doc bigram-type counts over (doc_id, lang, text) — the
    codegen zip shape shared with ``bigram_novelty``."""
    toks = docs.select("doc_id", "lang", tokens("text").alias("l")).where(
        F.size("l") >= 2
    )
    return (
        toks.select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> struct(l[i-1] AS w1, l[i] AS w2))"
                )
            ).alias("p"),
        )
        .groupBy("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def pplx_model_df(bg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The corpus bigram LM: (w1,w2) counts and per-w1 start counts."""
    lm = bg.groupBy("w1", "w2").agg(F.sum("n").alias("cn"))
    starts = lm.groupBy("w1").agg(F.sum("cn").alias("c1"))
    return lm, starts


def pplx_score_df(bg: DataFrame, lm: DataFrame, starts: DataFrame) -> DataFrame:
    """Per-doc mean digit-bucket surprisal under a (possibly frozen) LM.
    Unseen bigrams cannot occur when the LM was trained on a superset
    of the scored docs — the batch query trains on the full corpus, and
    the streaming twin freezes that same full-corpus model."""
    return (
        bg.join(lm, ["w1", "w2"])
        .join(starts, "w1")
        .withColumn("surp", F.length(F.expr("CAST(c1 DIV cn AS STRING)")).cast("long"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("n") * F.col("surp")).alias("surp_sum"),
            F.sum("n").alias("n_bigrams"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.round(
                F.col("surp_sum").cast("double") / F.col("n_bigrams"), 6
            ).alias("score"),
        )
    )


def pplx_cuts_df(scored: DataFrame) -> DataFrame:
    """Per-language tercile cutpoints from the deterministic hash
    sample — the bounded calibration window."""
    from tinymapreduce_spark.functions.hashing import h60

    sample = scored.where(
        F.pmod(h60(F.col("doc_id").cast("string")), F.lit(PPLX_SAMPLE_MOD)) == 0
    )
    w = Window.partitionBy("lang").orderBy(F.asc("score"), F.asc("doc_id"))
    tiles = sample.withColumn("tile", F.ntile(3).over(w))
    return tiles.groupBy("lang").agg(
        F.max(F.when(F.col("tile") == 1, F.col("score"))).alias("cut1"),
        F.max(F.when(F.col("tile") == 2, F.col("score"))).alias("cut2"),
    )


def pplx_label_df(scored: DataFrame, cuts: DataFrame) -> DataFrame:
    """Label every scored doc head/middle/tail by the broadcast cuts."""
    return scored.join(F.broadcast(cuts), "lang", "left").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "score",
        F.when(F.col("cut1").isNotNull() & (F.col("score") <= F.col("cut1")), "head")
        .when(F.col("cut2").isNotNull() & (F.col("score") <= F.col("cut2")), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


from tinymapreduce_spark.functions.hashing import H60_SQL_TMPL as _H60_TMPL

_PPLX_H60 = _H60_TMPL.format(expr="CAST(doc_id AS VARCHAR)")
PERPLEXITY_BUCKETS_SQL = f"""
WITH toklists AS MATERIALIZED (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS l
  FROM documents
), bg AS MATERIALIZED (
  SELECT doc_id, lang, w1, w2, COUNT(*) AS n
  FROM (
    SELECT doc_id, lang, l[i] AS w1, l[i + 1] AS w2
    FROM (SELECT doc_id, lang, l, UNNEST(range(1, len(l))) AS i
          FROM toklists WHERE len(l) >= 2)
  )
  GROUP BY 1, 2, 3, 4
), lm AS MATERIALIZED (
  SELECT w1, w2, SUM(n) AS cn FROM bg GROUP BY 1, 2
), starts AS MATERIALIZED (
  SELECT w1, SUM(cn) AS c1 FROM lm GROUP BY 1
), scored AS MATERIALIZED (
  SELECT doc_id, lang,
         CAST(SUM(n) AS BIGINT) AS n_bigrams,
         ROUND(CAST(SUM(n * length(CAST(c1 // cn AS VARCHAR))) AS DOUBLE)
               / SUM(n), 6) AS score
  FROM bg JOIN lm USING (w1, w2) JOIN starts USING (w1)
  GROUP BY 1, 2
), tiles AS (
  SELECT lang, score,
         NTILE(3) OVER (PARTITION BY lang ORDER BY score ASC, doc_id ASC) AS tile
  FROM scored
  WHERE {_PPLX_H60} % {PPLX_SAMPLE_MOD} = 0
), cuts AS (
  SELECT lang,
         MAX(CASE WHEN tile = 1 THEN score END) AS cut1,
         MAX(CASE WHEN tile = 2 THEN score END) AS cut2
  FROM tiles GROUP BY 1
)
SELECT s.doc_id, s.lang, s.n_bigrams, s.score,
       CASE WHEN cut1 IS NOT NULL AND s.score <= cut1 THEN 'head'
            WHEN cut2 IS NOT NULL AND s.score <= cut2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored s LEFT JOIN cuts USING (lang)
"""


# --- URL analytics (round 6): crawl-dedup's canonicalization prerequisite --


def url_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host URL analytics over a formula-generated crawl frontier —
    ENTIRELY JVM-side (`parse_url` + string expressions inside
    whole-stage codegen; no Python touches a row). Each doc contributes
    one messy URL: mixed-case hosts, a www. prefix on two thirds, an
    explicit :8080 port on every fifth, utm_ tracking params on every
    fourth. The Spark side must parse + canonicalize (parse_url HOST
    excludes the port and preserves case; lowercase + strip www.),
    detect tracking params and extract the q= value via the
    three-argument parse_url — the oracle re-derives every column from
    the generation formula, so a parse or canonicalization bug flips
    the hash. This is the canonical-URL step crawl dedup runs before
    exact-hash dedup at 100 TB — pure Catalyst, one hash aggregation."""
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("http")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("Site"), (d % 50).cast("string"), F.lit(".Example.COM")),
        ).otherwise(
            F.concat(F.lit("www.site"), (d % 50).cast("string"), F.lit(".example.com"))
        ),
        F.when(d % 5 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.concat(
            F.lit("/cat"), (d % 7).cast("string"),
            F.lit("/item"), (d % 13).cast("string"),
        ),
        F.when(
            d % 4 == 0,
            F.concat(F.lit("?utm_source=x&q="), (d % 11).cast("string")),
        )
        .when(d % 4 == 1, F.concat(F.lit("?q="), (d % 11).cast("string")))
        .otherwise(F.lit("")),
    )
    urls = load_table(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )
    parsed = urls.select(
        F.regexp_replace(
            F.lower(F.parse_url("url", F.lit("HOST"))), r"^www\.", ""
        ).alias("host"),
        (F.parse_url("url", F.lit("PROTOCOL")) == "https").alias("secure"),
        F.parse_url("url", F.lit("QUERY"), F.lit("utm_source")).isNotNull().alias("has_utm"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("q")).cast("long").alias("qv"),
    )
    return parsed.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum(F.col("secure").cast("long")).alias("n_secure"),
        F.sum(F.col("has_utm").cast("long")).alias("n_utm"),
        F.countDistinct("path").alias("n_paths"),
        F.max("qv").alias("max_q"),
    )


URL_HOST_STATS_SQL = """
WITH u AS (
  SELECT doc_id,
         'site' || (doc_id % 50) || '.example.com' AS host,
         doc_id % 2 = 1 AS secure,
         doc_id % 4 = 0 AS has_utm,
         '/cat' || (doc_id % 7) || '/item' || (doc_id % 13) AS path,
         CASE WHEN doc_id % 4 IN (0, 1) THEN doc_id % 11 END AS qv
  FROM documents
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(CASE WHEN secure THEN 1 ELSE 0 END) AS BIGINT) AS n_secure,
       CAST(SUM(CASE WHEN has_utm THEN 1 ELSE 0 END) AS BIGINT) AS n_utm,
       CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
       CAST(MAX(qv) AS BIGINT) AS max_q
FROM u
GROUP BY host
"""


# --- HTML text extraction (round 6): WARC -> text, the crawl step ---------
# between container parsing and dedup/quality. A REAL HTML walk via the
# stdlib event parser (html.parser.HTMLParser — tag attributes, entity
# and charref decoding handled by the library per the WHATWG rules),
# with the extraction policy every boilerplate pipeline starts from:
# script/style/comment content dropped, <title> captured separately,
# visible body text concatenated, links counted. Markup is generated
# from formulas, so the ORACLE knows the visible text exactly.


def _extract_html(doc: str):
    """(title, visible_text, n_links) via an event-driven parse.

    Defined SELF-CONTAINED (stdlib imports inside, no module globals)
    so the Arrow kernel closure pickles by value to executors that
    cannot import this package (driver loads the repo via sys.path —
    the foreign-cwd trap the verify skill documents)."""
    from html.parser import HTMLParser

    class _X(HTMLParser):
        def __init__(self) -> None:
            super().__init__(convert_charrefs=True)
            self.skip_depth = 0
            self.in_title = False
            self.title: list[str] = []
            self.text: list[str] = []
            self.n_links = 0

        def handle_starttag(self, tag, attrs):
            if tag in ("script", "style"):
                self.skip_depth += 1
            elif tag == "title":
                self.in_title = True
            elif tag == "a":
                self.n_links += 1

        def handle_endtag(self, tag):
            if tag in ("script", "style") and self.skip_depth:
                self.skip_depth -= 1
            elif tag == "title":
                self.in_title = False

        def handle_data(self, data):
            if self.skip_depth:
                return
            if self.in_title:
                self.title.append(data)
            else:
                self.text.append(data)

    x = _X()
    x.feed(doc)
    x.close()
    return "".join(x.title), "".join(x.text), x.n_links


def html_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL HTML→text extraction over formula-generated pages: nested
    markup with attributes, a <script> block and an HTML comment that
    MUST NOT leak into the text, &amp; entities and &#<n>; charrefs
    that MUST decode, a <title> captured separately, and links counted.
    The oracle re-derives title length, visible-character count (the
    formula-known concatenation), the decoded-ampersand count and the
    link count — a parser that leaks script text, drops entity
    decoding, or miscounts nesting flips the hash.

    Scale shape: per-row event parse in one Arrow kernel over
    (doc_id, html) — the same row-local contract as the codec rungs;
    at 100 TB this runs right after the WARC walker."""
    d = F.col("doc_id")
    para = lambda i: F.concat(  # noqa: E731
        F.lit("<p class='c"), F.lit(str(i)), F.lit("'>para "),
        d.cast("string"), F.lit(f" {i} &amp; more</p><a href='/l{i}'>link{i}</a>"),
    )
    html_col = F.concat(
        F.lit("<html><head><title>T"), d.cast("string"),
        F.lit("</title><script>var x = "), d.cast("string"),
        F.lit(";</script><style>.c{color:red}</style></head><body><!-- hidden "),
        d.cast("string"), F.lit(" --><h1>Head&#33; "), d.cast("string"),
        F.lit("</h1>"),
        F.concat_ws(
            "",
            F.array(*[
                F.when(d % 4 >= i, para(i)).otherwise(F.lit(""))
                for i in range(4)
            ]),
        ),
        F.lit("</body></html>"),
    )
    pages = load_table(spark, sf_dir, "documents").select(
        "doc_id", html_col.alias("html")
    )

    _extract = _extract_html  # bind for by-value closure capture

    def extract(doc_id, doc):
        title, text, n_links = _extract(doc)
        yield doc_id, len(title), len(text), n_links, text.count("&")

    return row_stage(
        pages,
        "doc_id long, title_len long, visible_chars long, n_links long, n_amps long",
        extract,
    )


# visible text = "Head! {d}" + per-paragraph "para {d} {i} & more" +
# "link{i}" for i in 0..(d % 4); &amp; decodes to one char, &#33; to
# "!". Title = "T{d}".
HTML_EXTRACT_SQL = """
WITH paras AS (
  SELECT doc_id,
         LENGTH('para ' || doc_id || ' ' || i.i || ' & more') +
         LENGTH('link' || i.i) AS plen
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 1 + doc_id % 4)) AS i) i
)
SELECT d.doc_id,
       CAST(LENGTH('T' || d.doc_id) AS BIGINT) AS title_len,
       CAST(LENGTH('Head! ' || d.doc_id) + COALESCE(SUM(p.plen), 0) AS BIGINT)
         AS visible_chars,
       CAST(1 + d.doc_id % 4 AS BIGINT) AS n_links,
       CAST(1 + d.doc_id % 4 AS BIGINT) AS n_amps
FROM documents d LEFT JOIN paras p USING (doc_id)
GROUP BY d.doc_id
"""


# --- mojibake detection + repair (round 6 continuation) ---------------------
# Web corpora are full of DOUBLE-ENCODED text (UTF-8 bytes mis-read as
# Latin-1 somewhere in a pipeline: 'café' -> 'cafÃ©'). The repair is
# the exact inverse — re-encode as Latin-1, decode as UTF-8 — and the
# trial is self-certifying: clean text containing any char outside
# Latin-1 (here '№') cannot even encode, and genuine mojibake decodes
# strictly. The corpus plants the corruption on odd docs by applying
# the forward corruption to a deterministic non-ASCII suffix, so the
# oracle is the md5 of the CLEAN text — the repair must invert the
# corruption byte-for-byte or the hash flips.
MOJIBAKE_SUFFIX = " café naïve №"


def _try_repair_mojibake(s: str) -> tuple[str, bool]:
    """One repair pass: returns (text, was_mojibake)."""
    try:
        raw = s.encode("latin-1")
    except UnicodeEncodeError:
        return s, False  # chars outside Latin-1: cannot be double-encoded
    try:
        return raw.decode("utf-8"), True
    except UnicodeDecodeError:
        return s, False  # Latin-1-able but not valid UTF-8: already clean


def mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake screening + repair over the corpus: every document
    carries a non-ASCII suffix; odd documents arrive DOUBLE-ENCODED
    (the utf-8-read-as-latin-1 accident). The kernel trial-repairs each
    row — strict Latin-1 re-encode then strict UTF-8 decode, accepted
    only if both succeed — and emits the repaired text's md5 plus the
    detection flag. The oracle hashes the clean text directly, so a
    missed repair, a false positive on a clean doc, or a lossy inverse
    all flip the hash. Row-local Arrow kernel, no shuffle; detection is
    O(bytes) — the hygiene pass a web corpus runs before tokenization
    (the ftfy problem, solved for its dominant case)."""
    import hashlib

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text")

    def repair(d, text):
        clean = text + MOJIBAKE_SUFFIX
        wire = clean.encode("utf-8").decode("latin-1") if d % 2 else clean
        repaired, was = _try_repair_mojibake(wire)
        yield d, int(was), hashlib.md5(repaired.encode("utf-8")).hexdigest()

    return row_stage(docs, "doc_id long, was_mojibake long, repaired_md5 string", repair)


MOJIBAKE_SQL = f"""
SELECT doc_id,
       CAST(doc_id % 2 AS BIGINT) AS was_mojibake,
       md5(text || '{MOJIBAKE_SUFFIX}') AS repaired_md5
FROM documents
"""


# --- robots.txt URL filtering (round 6 continuation) ------------------------
# The crawl-curation gate: per-host robots.txt parsed (group selection:
# exact agent match beats '*'; comments/blank lines/case variance
# handled), then every URL judged by LONGEST-MATCH precedence (the
# Google/RFC 9309 rule: the matching pattern with the greatest length
# wins; Allow wins length ties). Hosts and URLs are pure functions of
# doc_id; the oracle replays the RULES TABLE and the precedence fold in
# SQL, so a group-selection, prefix-match or tie-break bug flips
# per-host verdict counts.
ROBOTS_AGENT = "tmsbot"


def _robots_text(h: int) -> str:
    """Per-host robots.txt: a decoy group for another agent (must be
    ignored), then the '*' group with a disallow + a longer allow
    carve-out; noise lines exercise the parser."""
    return "\n".join(
        [
            "# crawl policy",
            "User-agent: evilbot",
            "Disallow: /",
            "",
            "user-AGENT: *",
            "  Disallow: /private",
            f"Disallow: /p{h % 4}",
            f"Allow: /p{h % 4}/ok",
            "Crawl-delay: 2",  # non-rule directive: skipped
        ]
    )


def parse_robots(text: str, agent: str) -> list[tuple[str, bool]]:
    """RFC 9309-shaped group selection + rule extraction: groups are
    runs of User-agent lines followed by rules; the group whose agent
    token equals ``agent`` (case-insensitive) wins, else the '*' group;
    returns [(pattern, is_allow)] with empty patterns dropped."""
    groups: list[tuple[list[str], list[tuple[str, bool]]]] = []
    agents: list[str] = []
    rules: list[tuple[str, bool]] = []
    in_agents = True
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents:
                groups.append((agents, rules))
                agents, rules = [], []
            in_agents = True
            agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agents = False
            if val:
                rules.append((val, key == "allow"))
        else:
            in_agents = False  # other directives end the agent run
    if agents or rules:
        groups.append((agents, rules))
    chosen = [g for g in groups if agent.lower() in g[0]]
    if not chosen:
        chosen = [g for g in groups if "*" in g[0]]
    return chosen[0][1] if chosen else []


def robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-gated crawl filtering end to end: one robots.txt per host
    is parsed by the real grammar walker inside an Arrow kernel, the
    resulting (host, pattern, is_allow) RULES TABLE joins the URL set
    on host + prefix match, and longest-match precedence (Allow wins
    ties) yields each URL's verdict; per-host-bucket verdict counts
    come back. The oracle rebuilds the same rules from the formulas and
    replays the precedence fold as a window.

    Scale shape: the rules table is O(hosts x rules) — broadcast-sized
    by nature (robots.txt is per-host metadata); the URL side never
    shuffles until the final bucket aggregate. Exactly the crawl
    front-door gate: at 100 TB the URL set is the big side and policy
    is the broadcast side."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id",
        (F.col("doc_id") % 50).alias("host"),
        F.concat(
            F.lit("/p"),
            (F.col("doc_id") % 6).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/ok")).otherwise(
                F.concat(F.lit("/page"), (F.col("doc_id") % 3).cast("string"))
            ),
        ).alias("path"),
    )

    hosts = spark.range(50).select(F.col("id").cast("int").alias("host"))

    def host_rules(h):
        for pattern, is_allow in parse_robots(_robots_text(h), ROBOTS_AGENT):
            yield h, pattern, int(is_allow)

    rules = row_stage(hosts, "host int, pattern string, is_allow long", host_rules)
    matched = urls.join(
        F.broadcast(rules),
        (urls["host"] == rules["host"])
        & urls["path"].startswith(rules["pattern"]),
        "left",
    ).select(
        urls["doc_id"],
        urls["host"],
        rules["pattern"],
        rules["is_allow"],
        F.length(rules["pattern"]).alias("plen"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("plen").desc_nulls_last(), F.col("is_allow").desc_nulls_last()
    )
    verdicts = (
        matched.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "host",
            F.coalesce(F.col("is_allow"), F.lit(1)).alias("allowed"),
        )
    )
    return verdicts.groupBy(
        (F.col("host") % 10).cast("long").alias("host_bucket"),
        F.col("allowed").cast("long").alias("allowed"),
    ).agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("doc_id").cast("long").alias("doc_id_sum"),
    )


ROBOTS_SQL = """
WITH urls AS (
  SELECT doc_id, doc_id % 50 AS host,
         '/p' || (doc_id % 6) ||
         CASE WHEN doc_id % 5 = 0 THEN '/ok'
              ELSE '/page' || (doc_id % 3) END AS path
  FROM documents
), rules AS (
  SELECT h.h AS host, r.pattern, r.is_allow
  FROM (SELECT UNNEST(range(0, 50)) AS h) h,
       LATERAL (
         SELECT * FROM (VALUES
           ('/private', 0),
           ('/p' || (h.h % 4), 0),
           ('/p' || (h.h % 4) || '/ok', 1)
         ) AS v(pattern, is_allow)
       ) r
), matched AS (
  SELECT u.doc_id, u.host, r.is_allow, LENGTH(r.pattern) AS plen
  FROM urls u LEFT JOIN rules r
    ON r.host = u.host AND u.path LIKE r.pattern || '%'
), best AS (
  SELECT doc_id, host, is_allow,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY plen DESC NULLS LAST,
                                     is_allow DESC NULLS LAST) AS rn
  FROM matched
)
SELECT CAST(host % 10 AS BIGINT) AS host_bucket,
       CAST(COALESCE(is_allow, 1) AS BIGINT) AS allowed,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
FROM best
WHERE rn = 1
GROUP BY host % 10, COALESCE(is_allow, 1)
"""


def crawl_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl tier end to end in ONE plan — Common Crawl bytes to
    training-ready text: per document a real WARC (warcinfo + response
    whose payload is the formula HTML page; odd docs as per-record-gzip
    .warc.gz) is walked by the record parser, the response HTML runs
    through the event-parser extractor (script/style/comment excluded,
    entities decoded), the visible text is tokenized and quality-gated
    (>= 5 letter tokens), and each doc emits its verdict plus the md5
    of the extracted text — so the oracle certifies the ACTUAL text the
    pipeline would hand to tokenization, not just counts. A framing,
    gzip, extraction, entity or gate bug flips the hash.

    Scale shape: one fan-out exchange, one Arrow kernel (WARC walk +
    HTML parse + gate, all row-local), zero shuffles after — the
    curation front door as a single declarative stage."""
    import hashlib
    import re as _re

    from tinymapreduce_spark.sources.warcfiles import (
        WARC_DATE,
        parse_warc,
        write_warc,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id")
    _extract = _extract_html

    def curate(d):
        paras = "".join(
            f"<p class='c{i}'>para {d} {i} &amp; more</p>"
            f"<a href='/l{i}'>link{i}</a>"
            for i in range(1 + d % 4)
        )
        html = (
            f"<html><head><title>T{d}</title><script>var x = {d};"
            f"</script><style>.c{{color:red}}</style></head><body>"
            f"<!-- hidden {d} --><h1>Head&#33; {d}</h1>{paras}"
            f"</body></html>"
        )
        warc = write_warc(
            [
                ("warcinfo", b"software: tinymapreduce-spark\r\n", {"WARC-Date": WARC_DATE}),
                (
                    "response",
                    html.encode(),
                    {"WARC-Date": WARC_DATE, "WARC-Target-URI": f"http://site{d % 50}.example/"},
                ),
            ],
            gzip_members=bool(d % 2),
        )
        responses = [body for t, _, body in parse_warc(warc) if t == "response"]
        _, text, _ = _extract(responses[0].decode())
        toks = [t for t in _re.split("[^A-Za-z]+", text) if t]
        yield d, d % 2, len(toks), int(len(toks) >= 5), hashlib.md5(text.encode()).hexdigest()

    return row_stage(
        docs,
        "doc_id long, gzipped long, n_tokens long, kept long, visible_md5 string",
        curate,
    )


# visible text = 'Head! {d}' + concat_i('para {d} {i} & more' || 'link{i}');
# letter tokens = 1 (Head) + 2 per paragraph ('para' and the MERGED
# 'morelink' run — '& more' concatenates straight into 'link{i}')
CRAWL_CURATION_SQL = """
WITH paras AS (
  SELECT doc_id,
         string_agg('para ' || doc_id || ' ' || i.i || ' & more'
                    || 'link' || i.i, '' ORDER BY i.i) AS body,
         COUNT(*) AS np
  FROM documents,
       LATERAL (SELECT UNNEST(range(0, 1 + doc_id % 4)) AS i) i
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.doc_id % 2 AS BIGINT) AS gzipped,
       CAST(1 + 2 * p.np AS BIGINT) AS n_tokens,
       CAST(CASE WHEN 1 + 2 * p.np >= 5 THEN 1 ELSE 0 END AS BIGINT) AS kept,
       md5('Head! ' || d.doc_id || p.body) AS visible_md5
FROM documents d JOIN paras p USING (doc_id)
"""


# --- Burrows-Wheeler transform rung (round 7) -------------------------------


def bwt_transform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-sorting transform over the documents table: per doc the
    deterministic sorted-rotations BWT (ties broken on rotation start),
    hashed, with the primary index and a roundtrip audit (LF-mapping
    inversion must reproduce the text; the full MTF + RUNA/RUNB
    pipeline is additionally asserted in-kernel — a defect raises and
    fails the driver run). The oracle REBUILDS every rotation in SQL
    (substr concatenation), sorts them under binary collation (UTF-8
    byte order == code-point order, so Python agrees), and hashes the
    last column — the transform itself is verified, not just its
    inverse. Row-local Arrow kernel; rotations never leave the row."""
    import hashlib

    from tinymapreduce_spark.functions.bwt import (
        bwt_forward,
        bwt_inverse,
        mtf_decode,
        mtf_encode,
        rle0_decode,
        rle0_encode,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text")

    def transform(d, t):
        if not t:
            # The SQL oracle builds rotations via range(0, n), so an n=0
            # doc yields no rows there; skip it here too to keep
            # Spark/DuckDB parity on empty texts.
            return
        last, p = bwt_forward(t)
        ok = bwt_inverse(last, p) == t
        alpha = sorted(set(last))
        codes = mtf_encode(last, alpha)
        ok = ok and mtf_decode(rle0_decode(rle0_encode(codes)), alpha) == last
        if not ok:
            raise ValueError(f"BWT pipeline defect on doc {d}")
        yield d, len(t), p, hashlib.md5(last.encode("utf-8")).hexdigest(), True

    return row_stage(
        docs,
        "doc_id long, n long, primary_index long, bwt_md5 string, roundtrip_ok boolean",
        transform,
    )


BWT_TRANSFORM_SQL = """
WITH d AS (
  SELECT doc_id, text AS s, length(text) AS n FROM documents
), rot AS (
  SELECT doc_id, n, i.i,
         substr(s, i.i + 1) || substr(s, 1, i.i) AS r
  FROM d, LATERAL (SELECT UNNEST(range(0, n)) AS i) i
), ranked AS (
  SELECT doc_id, n, i, r,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY r, i) AS rk
  FROM rot
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n,
       CAST(MAX(CASE WHEN i = 0 THEN rk - 1 END) AS BIGINT) AS primary_index,
       md5(string_agg(substr(r, n, 1), '' ORDER BY rk)) AS bwt_md5,
       TRUE AS roundtrip_ok
FROM ranked
GROUP BY doc_id, n
"""


# --- Kneser-Ney bigram language model (round 7) -----------------------------
# The training-data -> LM step itself: interpolated Kneser-Ney with
# absolute discount D = 3/4 over corpus bigrams. Probabilities are
# emitted as EXACT RATIONALS on the common denominator 4*c(ctx)*B
# (B = distinct bigram count):
#   p_num = max(4c - 3, 0) * B + 3 * N1+(ctx,.) * N1+(.,w)
#   p_den = 4 * c(ctx) * B
# so the whole model is integer-exact and hash-checkable. Every stage
# is a JVM-side groupBy/window: tokens -> LEAD bigrams -> three count
# aggregations -> joins; the only scalar (B) broadcasts.
KN_MIN_COUNT = 3  # report bigrams seen at least this often


def ngram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train an interpolated Kneser-Ney bigram LM over the documents
    table and emit the model rows for bigrams with count >=
    KN_MIN_COUNT: (w1, w2, bigram count, exact p_num/p_den). The
    continuation probability uses distinct-predecessor counts and the
    backoff weight distinct-successor counts — the full KN recipe, not
    the Katz shortcut. Scale shape: word-keyed shuffles with partial
    aggregation; per-context state never materializes on the driver."""
    from pyspark.sql.window import Window

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda t: t != "",
            )
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .where(F.col("nxt").isNotNull())
        .select(F.col("tok").alias("w1"), F.col("nxt").alias("w2"))
    )
    counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    ctx = counts.groupBy("w1").agg(
        F.sum("c").alias("cctx"), F.count("*").alias("n1_succ")
    )
    pred = counts.groupBy("w2").agg(F.count("*").alias("n1_pred"))
    total = counts.agg(F.count("*").alias("btot"))
    model = (
        counts.join(ctx, "w1")
        .join(pred, "w2")
        .crossJoin(F.broadcast(total))
        .where(F.col("c") >= KN_MIN_COUNT)
        .select(
            "w1",
            "w2",
            F.col("c").alias("bigram_count"),
            (
                F.greatest(4 * F.col("c") - 3, F.lit(0)) * F.col("btot")
                + 3 * F.col("n1_succ") * F.col("n1_pred")
            ).alias("p_num"),
            (4 * F.col("cctx") * F.col("btot")).alias("p_den"),
        )
    )
    return model


KN_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM documents,
       LATERAL (
         SELECT UNNEST(list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z]+'), x -> x <> '')) AS tok,
                UNNEST(range(1, 1 + length(list_filter(
                    regexp_split_to_array(lower(text), '[^a-z]+'),
                    x -> x <> '')))) AS pos
       ) t
), bigrams AS (
  SELECT doc_id, tok AS w1,
         LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
), bg AS (
  SELECT w1, w2 FROM bigrams WHERE w2 IS NOT NULL
), counts AS (
  SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2
), ctx AS (
  SELECT w1, SUM(c) AS cctx, COUNT(*) AS n1_succ FROM counts GROUP BY w1
), pred AS (
  SELECT w2, COUNT(*) AS n1_pred FROM counts GROUP BY w2
), total AS (
  SELECT COUNT(*) AS btot FROM counts
)
SELECT counts.w1, counts.w2,
       CAST(c AS BIGINT) AS bigram_count,
       CAST(GREATEST(4 * c - 3, 0) * btot
            + 3 * n1_succ * n1_pred AS BIGINT) AS p_num,
       CAST(4 * cctx * btot AS BIGINT) AS p_den
FROM counts
JOIN ctx USING (w1)
JOIN pred USING (w2)
CROSS JOIN total
WHERE c >= {KN_MIN_COUNT}
"""


# --- Recursive trigram Kneser-Ney (round 7) ---------------------------------
# The full recursive smoothing: the trigram layer discounts into the
# BIGRAM KN model (which itself discounts into continuation counts).
# With D = 3/4 throughout, on the common denominator 4*c(uv)*d2 where
# (n2, d2) is the bigram layer's exact rational for P(w|v):
#   P3(w|uv) = max(4*c(uvw) - 3, 0) / (4*c(uv))
#            + (3 * N1+(uv,.) / (4*c(uv))) * P2(w|v)
#   p3_num = max(4*c(uvw) - 3, 0) * d2 + 3 * N1+(uv,.) * n2
#   p3_den = 4 * c(uv) * d2
# Every term is an integer, so the trained trigram model hash-checks
# like the bigram one. Trigram context counts c(uv) are summed over
# TRIGRAM continuations (the model's event space), not reused from the
# bigram table — the standard formulation for the highest order.


def ngram_lm_kn_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the recursive interpolated Kneser-Ney TRIGRAM model and
    emit rows for trigrams with count >= KN_MIN_COUNT: (w1, w2, w3,
    count, exact p3_num/p3_den). The bigram layer inside the recursion
    is the same model `ngram_lm_kneser_ney` exports — its (n2, d2)
    rational is recomputed here for ALL bigrams (no min-count gate:
    backoff needs every continuation). Word-keyed shuffles with partial
    aggregation throughout; the two scalars (bigram/trigram distinct
    totals) broadcast."""
    from pyspark.sql.window import Window

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda t: t != "",
            )
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn("w2", F.lead("tok", 1).over(w))
        .withColumn("w3", F.lead("tok", 2).over(w))
        .withColumnRenamed("tok", "w1")
    )
    bigrams = grams.where(F.col("w2").isNotNull()).select("w1", "w2")
    trigrams = (
        grams.where(F.col("w3").isNotNull()).select("w1", "w2", "w3")
    )
    # bigram KN layer (ungated): P2(w|v) = n2/d2 keyed by (v, w)
    bc = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ctx2 = bc.groupBy("w1").agg(
        F.sum("c2").alias("cctx2"), F.count("*").alias("n1s2")
    )
    pred2 = bc.groupBy("w2").agg(F.count("*").alias("n1p2"))
    btot = bc.agg(F.count("*").alias("btot"))
    p2 = (
        bc.join(ctx2, "w1")
        .join(pred2, "w2")
        .crossJoin(F.broadcast(btot))
        .select(
            F.col("w1").alias("v"),
            F.col("w2").alias("w"),
            (
                F.greatest(4 * F.col("c2") - 3, F.lit(0)) * F.col("btot")
                + 3 * F.col("n1s2") * F.col("n1p2")
            ).alias("n2"),
            (4 * F.col("cctx2") * F.col("btot")).alias("d2"),
        )
    )
    tc = trigrams.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    ctx3 = tc.groupBy("w1", "w2").agg(
        F.sum("c3").alias("cctx3"), F.count("*").alias("n1s3")
    )
    model = (
        tc.join(ctx3, ["w1", "w2"])
        .join(
            p2,
            (F.col("w2") == F.col("v")) & (F.col("w3") == F.col("w")),
        )
        .where(F.col("c3") >= KN_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "w3",
            F.col("c3").alias("trigram_count"),
            (
                F.greatest(4 * F.col("c3") - 3, F.lit(0)) * F.col("d2")
                + 3 * F.col("n1s3") * F.col("n2")
            ).alias("p3_num"),
            (4 * F.col("cctx3") * F.col("d2")).alias("p3_den"),
        )
    )
    return model


KN_TRIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM documents,
       LATERAL (
         SELECT UNNEST(list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z]+'), x -> x <> '')) AS tok,
                UNNEST(range(1, 1 + length(list_filter(
                    regexp_split_to_array(lower(text), '[^a-z]+'),
                    x -> x <> '')))) AS pos
       ) t
), grams AS (
  SELECT doc_id, tok AS w1,
         LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
         LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
  FROM toks
), bc AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM grams WHERE w2 IS NOT NULL
  GROUP BY w1, w2
), ctx2 AS (
  SELECT w1, SUM(c2) AS cctx2, COUNT(*) AS n1s2 FROM bc GROUP BY w1
), pred2 AS (
  SELECT w2, COUNT(*) AS n1p2 FROM bc GROUP BY w2
), btot AS (
  SELECT COUNT(*) AS btot FROM bc
), p2 AS (
  SELECT bc.w1 AS v, bc.w2 AS w,
         GREATEST(4 * c2 - 3, 0) * btot + 3 * n1s2 * n1p2 AS n2,
         4 * cctx2 * btot AS d2
  FROM bc JOIN ctx2 USING (w1) JOIN pred2 USING (w2) CROSS JOIN btot
), tc AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM grams WHERE w3 IS NOT NULL
  GROUP BY w1, w2, w3
), ctx3 AS (
  SELECT w1, w2, SUM(c3) AS cctx3, COUNT(*) AS n1s3 FROM tc
  GROUP BY w1, w2
)
SELECT tc.w1, tc.w2, tc.w3,
       CAST(c3 AS BIGINT) AS trigram_count,
       CAST(GREATEST(4 * c3 - 3, 0) * d2 + 3 * n1s3 * n2 AS BIGINT)
         AS p3_num,
       CAST(4 * cctx3 * d2 AS BIGINT) AS p3_den
FROM tc
JOIN ctx3 USING (w1, w2)
JOIN p2 ON p2.v = tc.w2 AND p2.w = tc.w3
WHERE c3 >= {KN_MIN_COUNT}
"""


# --- Vocabulary growth curve (round 7) ---------------------------------------


def vocab_growth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth over the corpus in (doc_id, pos)
    order: per decile of the global token stream, the token count, the
    number of FIRST-SEEN types, and the cumulative vocabulary. The
    scalable formulation: global token indexes come from per-document
    offsets (a one-row-per-doc cumulative sum, broadcastable) rather
    than a global single-partition window; first occurrence is
    min(global index) per type — one token-keyed shuffle with partial
    aggregation. Decile boundaries use exact integer math
    (floor(10 * (idx - 1) / N)).

    Scale note: the offsets window is serial over #DOCS rows (not
    tokens) — fine to ~10^8 docs; past that, replace it with the
    standard two-level prefix sum (per-partition subtotals, then a
    driver-side scan over #partitions)."""
    from pyspark.sql.window import Window

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda t: t != "",
            )
        ).alias("pos", "tok"),
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("n_toks"))
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_doc.select(
        "doc_id",
        F.coalesce(F.sum("n_toks").over(w), F.lit(0)).alias("offset"),
    )
    total = per_doc.agg(F.sum("n_toks").alias("n_total"))
    indexed = (
        toks.join(F.broadcast(offsets), "doc_id")
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            (F.col("offset") + F.col("pos") + 1).alias("idx"),
            "n_total",
        )
    )
    # integral division on both engines (Spark `div`, DuckDB `//`):
    # float division + cast would truncate here but ROUND in DuckDB
    deciled = indexed.withColumn(
        "decile", F.expr("(10 * (idx - 1)) div n_total")
    )
    token_counts = deciled.groupBy("decile").agg(
        F.count("*").alias("token_count")
    )
    firsts = (
        deciled.groupBy("tok")
        .agg(F.min("decile").alias("first_decile"))
        .groupBy("first_decile")
        .agg(F.count("*").alias("new_types"))
        .withColumnRenamed("first_decile", "decile")
    )
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        token_counts.join(firsts, "decile", "left")
        .na.fill(0, ["new_types"])
        .select(
            "decile",
            "token_count",
            "new_types",
            F.sum("new_types").over(wd).alias("vocab_cum"),
        )
    )


VOCAB_GROWTH_SQL = """
WITH toks AS (
  SELECT doc_id, t.tok, t.pos
  FROM documents,
       LATERAL (
         SELECT UNNEST(list_filter(regexp_split_to_array(lower(text),
                                   '[^a-z]+'), x -> x <> '')) AS tok,
                UNNEST(range(0, length(list_filter(
                    regexp_split_to_array(lower(text), '[^a-z]+'),
                    x -> x <> '')))) AS pos
       ) t
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id
), offsets AS (
  SELECT doc_id,
         COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM per_doc
), total AS (
  SELECT SUM(n_toks) AS n_total FROM per_doc
), indexed AS (
  SELECT t.tok, o.off + t.pos + 1 AS idx, n_total,
         CAST((10 * (o.off + t.pos)) // n_total AS BIGINT) AS decile
  FROM toks t JOIN offsets o USING (doc_id) CROSS JOIN total
), token_counts AS (
  SELECT decile, COUNT(*) AS token_count FROM indexed GROUP BY decile
), firsts AS (
  SELECT first_decile AS decile, COUNT(*) AS new_types
  FROM (SELECT tok, MIN(decile) AS first_decile FROM indexed GROUP BY tok)
  GROUP BY first_decile
)
SELECT tc.decile,
       CAST(tc.token_count AS BIGINT) AS token_count,
       CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types,
       CAST(SUM(COALESCE(f.new_types, 0)) OVER (ORDER BY tc.decile
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS vocab_cum
FROM token_counts tc LEFT JOIN firsts f USING (decile)
"""
