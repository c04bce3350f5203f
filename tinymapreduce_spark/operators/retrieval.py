"""Full-text retrieval scoring over the ``documents`` corpus — BM25
top-k, the IR-side sibling of the similarity/ANN tier (north-star
surface; the reference's closest analog is the inverted-index MR app,
``/root/reference/src/mrapps/indexer.go``, which builds the index this
operator would query).

Scale shape: the corpus-side statistics (tf, df, doclen) are one
tokenize + two narrow groupBys — the same partial+final aggregation
shape as word count; the query side is a literal handful of terms that
BROADCASTS to the tf relation, so scoring touches only the posting rows
of the query terms (|docs matching| rows, never the corpus). Top-k per
query is a window rank over the scored postings — at 100 TB you'd feed
this from a materialized (term, doc, tf) posting table, which is
exactly the ``tf`` relation here.

Determinism (cross-engine exactness): every BM25 component is kept as
exact integers for as long as possible — k1 = 6/5 and b = 3/4 are
rational, so the per-term fraction reduces to
``22*tf*L / (10*L*tf + 3*L + 9*dl*N)`` over exact counts (L = total
corpus tokens, N = docs, dl = doc length). The only floats are: one
``ln`` for idf (rounded to 9 dp immediately — both engines' libm agree
far beyond that), one division of exact integers, one multiply, and a
left-fold sum in sorted-term order (``F.aggregate`` / DuckDB
``list_reduce`` over ``list(... ORDER BY term)`` — identical fold
order, identical IEEE result). BM25_SQL replays all of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.functions.text import tokens
from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import documents_for_cpu

# (query_id, terms) — vocabulary drawn from the synthetic corpus
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["hash", "join"]),
    (2, ["window", "agg", "stream"]),
    (3, ["slow", "scan", "filter"]),
]
BM25_TOPK = 10
# k1 = _K1_NUM/_K1_DEN = 1.2, b = 3/4 — kept rational so the score
# denominator stays integer (see module docstring)
_K1_NUM, _K1_DEN = 6, 5


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``BM25_TOPK`` documents per query under BM25 (Robertson/
    Sparck Jones; Lucene's +1-inside-the-log idf variant, which stays
    positive even for terms in over half the corpus — this synthetic
    vocabulary is small, so every term is that common).

    Output: (query_id, doc_id, score) — score rounded to 6 dp, ranking
    done on (rounded score desc, doc_id asc) so the k-cut is exact in
    both engines.
    """
    docs = documents_for_cpu(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    # ONE corpus pass: per-doc length AND the tf of every query term (a
    # handful of literal conditional sums) come out of a single groupBy —
    # the plan tokenizes the corpus exactly once, and everything after
    # runs on n_docs-sized rows.
    all_terms = sorted({t for _, terms in BM25_QUERIES for t in terms})
    per_doc = materialize(
        tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{i}")
                for i, t in enumerate(all_terms)
            ],
        )
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )

    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "query_id int, term string",
    )
    tf = (
        per_doc.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"), F.col(f"tf_{i}").alias("tf")
                        )
                        for i, t in enumerate(all_terms)
                    ]
                )
            ).alias("e"),
        )
        .select("doc_id", "e.term", "e.tf")
        .where(F.col("tf") > 0)
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    dl = per_doc.select("doc_id", "dl")

    # idf = ln(1 + (N - df + 1/2)/(df + 1/2)) = ln(1 + (2N-2df+1)/(2df+1)),
    # rounded at once — the only transcendental in the whole score
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (2 * F.col("n_docs") - 2 * F.col("df") + 1)
                    / (2 * F.col("df") + 1)
                ),
                9,
            ).alias("idf"),
        )
    )

    scored = (
        F.broadcast(qterms)
        .join(tf, "term")
        .join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            "term",
            (
                F.col("idf")
                * (
                    (22 * F.col("tf") * F.col("total_len"))
                    / (
                        10 * F.col("total_len") * F.col("tf")
                        + 3 * F.col("total_len")
                        + 9 * F.col("dl") * F.col("n_docs")
                    )
                )
            ).alias("s"),
        )
    )
    per_doc = (
        scored.groupBy("query_id", "doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term", "s"))).alias("ts"))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.aggregate("ts", F.lit(0.0), lambda acc, x: acc + x["s"]), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BM25_TOPK)
        .select("query_id", "doc_id", "score")
    )


def _bm25_sql() -> str:
    qvals = ", ".join(
        f"({qid}, '{t}')" for qid, terms in BM25_QUERIES for t in terms
    )
    return f"""
WITH qterms(query_id, term) AS (VALUES {qvals}),
tok AS MATERIALIZED (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS term
  FROM documents
), dl AS MATERIALIZED (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
), stats AS MATERIALIZED (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len FROM dl
), tf AS MATERIALIZED (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, term
), df_t AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), idf AS (
  SELECT term,
         ROUND(ln(1.0 + CAST(2 * s.n_docs - 2 * df + 1 AS DOUBLE) / (2 * df + 1)), 9) AS idf
  FROM df_t CROSS JOIN stats s
), scored AS (
  SELECT q.query_id, tf.doc_id, tf.term,
         idf.idf * ((22 * tf.tf * s.total_len)
                    / CAST(10 * s.total_len * tf.tf + 3 * s.total_len
                           + 9 * dl.dl * s.n_docs AS DOUBLE)) AS s
  FROM qterms q
  JOIN tf ON q.term = tf.term
  JOIN idf ON q.term = idf.term
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats s
), per_doc AS (
  SELECT query_id, doc_id,
         ROUND(list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a, b) -> a + b), 6) AS score
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score
FROM (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rk
  FROM per_doc
)
WHERE rk <= {BM25_TOPK}
"""


BM25_SQL = _bm25_sql()


# --- hybrid retrieval: dense + lexical rankers fused by reciprocal rank ----
#
# The standard two-tower curation/retrieval shape: a dense ranker (cosine
# over the signed-feature-hash embeddings of similarity.py — the
# deterministic stand-in for a neural embedder) and a lexical ranker
# (token-set Jaccard against the query document's posting lists), fused by
# Reciprocal Rank Fusion (Cormack/Clarke/Buettcher, SIGIR'09):
# rrf(d) = Σ_rankers 1/(K + rank_r(d)), K = 60.
RRF_K = 60
RRF_POOL = 20  # per-ranker candidate depth feeding the fusion
RRF_TOP_K = 10
NDCG_K = 10  # fusion-audit depth: graded relevance from bigram overlap


def _hybrid_parts(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(dense_rank, lex_rank, fused) — the two pool-cut ranker frames and
    the RRF-fused frame carrying its final ``rank`` column (pre-top-k
    cut). Shared by the retrieval query and the nDCG audit row."""
    from tinymapreduce_spark.operators.similarity import (
        FH_QUERIES,
        _doc_hash_embedding_wide,
    )

    # dense ranker: exact cosine over integer hash-embeddings. The norm
    # is a row-local fold over the embedding array — computed with
    # withColumn, NOT a corpus×corpus self-join (which would add a
    # full-table shuffle at 100 TB for a value derivable in place).
    wide = _doc_hash_embedding_wide(docs)
    emb = wide.withColumn(
        "n2",
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    ).where(F.col("n2") > 0)
    q_emb = emb.where(F.col("doc_id") < FH_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    dense_scored = (
        emb.crossJoin(F.broadcast(q_emb))
        .where(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.aggregate(
                    F.zip_with("qe", "e", lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                / F.sqrt((F.col("qn2") * F.col("n2")).cast("double")),
                6,
            ).alias("score"),
        )
    )
    wd = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    dense_rank = (
        dense_scored.withColumn("r_dense", F.row_number().over(wd).cast("long"))
        .where(F.col("r_dense") <= RRF_POOL)
        .select("query_id", "doc_id", "r_dense")
    )

    # lexical ranker: token-set Jaccard vs the query document
    tokset = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    sizes = tokset.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    q_tok = tokset.where(F.col("doc_id") < FH_QUERIES).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    q_sz = sizes.where(F.col("doc_id") < FH_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("sz").alias("qsz")
    )
    inter = (
        tokset.join(F.broadcast(q_tok), "tok")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    lex_scored = (
        inter.join(sizes, "doc_id")
        .join(F.broadcast(q_sz), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.col("inter")
                / (F.col("sz") + F.col("qsz") - F.col("inter")).cast("double"),
                6,
            ).alias("score"),
        )
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    lex_rank = (
        lex_scored.withColumn("r_lex", F.row_number().over(wl).cast("long"))
        .where(F.col("r_lex") <= RRF_POOL)
        .select("query_id", "doc_id", "r_lex")
    )

    return dense_rank, lex_rank, _fuse(dense_rank, lex_rank)


def _fuse(dense_rank: DataFrame, lex_rank: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, doc_id, r_*) pool frames:
    a missing ranker contributes 0; final ``rank`` cut on (rrf desc,
    doc_id asc). Split out so tests can fuse a deliberately degraded
    ranker and watch the nDCG audit row drop."""
    fused = dense_rank.join(lex_rank, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "r_dense",
        "r_lex",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_dense")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0)),
            9,
        ).alias("rrf"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return fused.withColumn("rank", F.row_number().over(wf).cast("long"))


def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``RRF_TOP_K`` documents per query document under RRF fusion of
    the dense and lexical rankers. Queries = the first ``FH_QUERIES``
    documents, as in ``doc_ann_topk``.

    Output: (query_id, doc_id, r_dense, r_lex, rrf, rank) — the per-ranker
    ranks ride along (NULL when a doc reached the fusion through only one
    ranker), rrf rounded to 9 dp, final rank cut on (rrf desc, doc_id asc).

    Scale shape: two corpus passes (one tokenize+hash-project for the
    dense side, one tokenize for the posting lists), each reduced by ONE
    groupBy before anything joins; the 10 query rows broadcast to both
    sides, so no corpus-sized shuffle keys on the query id. The fusion
    itself joins two RRF_POOL×|queries| frames — trivially small at any
    corpus size. Every score is exact-integer arithmetic plus one rounded
    division, so the whole pipeline (both rankers AND the fusion) replays
    bit-exactly in the SQL oracle.
    """
    _, _, fused = _hybrid_parts(documents_for_cpu(spark, sf_dir))
    return fused.where(F.col("rank") <= RRF_TOP_K).select(
        "query_id", "doc_id", "r_dense", "r_lex", "rrf", "rank"
    )


def _bigram_grades(docs: DataFrame) -> DataFrame:
    """Graded relevance for the nDCG audit, derived INDEPENDENTLY of
    both rankers: the judge signal is distinct token-BIGRAM overlap
    with the query document — a feature space neither ranker consumes
    (dense = unigram hash-embedding cosine, lexical = unigram token-set
    Jaccard). Per query, the ``NDCG_K`` docs with the most shared
    bigrams (ties broken doc_id asc, zero-overlap docs ungraded) get
    gains ``NDCG_K``..1. Output: (query_id, doc_id, gain).

    Scale shape: one tokenize pass builds the per-doc distinct-bigram
    relation; only the |queries| query docs' bigrams broadcast to it,
    so grading touches |matching postings| rows, never corpus²."""
    from tinymapreduce_spark.operators.similarity import FH_QUERIES

    ts = docs.select("doc_id", tokens("text").alias("ts"))
    n = F.size("ts")
    bg = ts.select(
        "doc_id",
        F.explode(
            F.when(
                n >= 2,
                F.array_distinct(
                    F.zip_with(
                        F.slice("ts", F.lit(1), n - 1),
                        F.slice("ts", F.lit(2), n - 1),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    )
                ),
            )
        ).alias("bg"),
    )
    q_bg = bg.where(F.col("doc_id") < FH_QUERIES).select(
        F.col("doc_id").alias("query_id"), "bg"
    )
    overlap = (
        bg.join(F.broadcast(q_bg), "bg")
        .where(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    wg = Window.partitionBy("query_id").orderBy(F.desc("ov"), F.asc("doc_id"))
    return (
        overlap.withColumn("rg", F.row_number().over(wg))
        .where(F.col("rg") <= NDCG_K)
        .select(
            "query_id", "doc_id", (F.lit(NDCG_K + 1) - F.col("rg")).alias("gain")
        )
    )


def hybrid_rrf_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@``NDCG_K`` of the fused ranking per query — the retrieval
    tier's quality-audit row (the pattern of ``ann_*_recall``): graded
    relevance comes from ``_bigram_grades`` — a bigram-overlap judge
    INDEPENDENT of both fused rankers, so a bad dense ranker (or a
    fusion that loses its signal) genuinely lowers the metric instead
    of grading itself (test_degraded_dense_lowers_ndcg proves the
    drop). DCG = Σ gain(d_i)/log2(i+1) over the fused top-10 in rank
    order, normalized by the ideal DCG of gains 10..1.

    Determinism: gains are exact integers, each DCG term is one
    integer/log2 division rounded to 9 dp, summed in rank order
    (array_sort fold ↔ list ORDER BY), ndcg rounded to 6 dp — the
    oracle replays both rankers, the fusion, the bigram judge AND the
    metric."""
    docs = documents_for_cpu(spark, sf_dir)
    _, _, fused = _hybrid_parts(docs)
    return _ndcg_of(fused, _bigram_grades(docs))


def _ndcg_of(fused: DataFrame, grades: DataFrame) -> DataFrame:
    """nDCG@``NDCG_K`` of a fused (query_id, doc_id, rank) frame against
    a (query_id, doc_id, gain) judge. Split out so tests can score a
    degraded fusion against the same judge."""
    terms = (
        fused.where(F.col("rank") <= NDCG_K)
        .join(grades, ["query_id", "doc_id"], "left")
        .select(
            "query_id",
            "rank",
            F.round(
                F.coalesce(F.col("gain"), F.lit(0)) / F.log2(F.col("rank") + 1), 9
            ).alias("term"),
        )
    )
    dcg = (
        terms.groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("rank", "term"))).alias("ts"))
        .select(
            "query_id",
            F.round(
                F.aggregate("ts", F.lit(0.0), lambda acc, x: acc + x["term"]), 6
            ).alias("dcg"),
        )
    )
    spark_sess = dcg.sparkSession
    ideal = (
        spark_sess.range(1, NDCG_K + 1)
        .select(
            "id",
            F.round(
                (F.lit(NDCG_K + 1) - F.col("id")) / F.log2(F.col("id") + 1), 9
            ).alias("t"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("id", "t"))).alias("ts"))
        .select(
            F.round(
                F.aggregate("ts", F.lit(0.0), lambda acc, x: acc + x["t"]), 6
            ).alias("idcg")
        )
    )
    return dcg.crossJoin(F.broadcast(ideal)).select(
        "query_id", "dcg", F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg")
    )


def _hybrid_cte_body() -> str:
    """The WITH-body shared by HYBRID_RRF_SQL and HYBRID_NDCG_SQL —
    both rankers, the pool cuts, and the RRF fusion."""
    from tinymapreduce_spark.operators.similarity import _FH_SUMS_CTE, FH_QUERIES

    return f"""{_FH_SUMS_CTE},
norms AS (
  SELECT doc_id, CAST(SUM(val * val) AS BIGINT) AS n2 FROM sums GROUP BY doc_id
), q AS (
  SELECT s.doc_id AS query_id, s.dim, s.val, n.n2 AS qn2
  FROM sums s JOIN norms n ON s.doc_id = n.doc_id
  WHERE s.doc_id < {FH_QUERIES} AND n.n2 > 0
), dots AS (
  SELECT q.query_id, s.doc_id, CAST(SUM(q.val * s.val) AS BIGINT) AS dot,
         ANY_VALUE(q.qn2) AS qn2
  FROM q JOIN sums s ON q.dim = s.dim AND s.doc_id <> q.query_id
  GROUP BY q.query_id, s.doc_id
), dense_scored AS (
  SELECT d.query_id, d.doc_id,
         ROUND(d.dot / sqrt(CAST(d.qn2 * n.n2 AS DOUBLE)), 6) AS score
  FROM dots d JOIN norms n ON d.doc_id = n.doc_id
  WHERE n.n2 > 0
), dense_rank AS (
  SELECT query_id, doc_id, r_dense FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r_dense
    FROM dense_scored
  ) WHERE r_dense <= {RRF_POOL}
), tokset AS (
  SELECT DISTINCT doc_id, tok FROM tok
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM tokset GROUP BY doc_id
), inter AS (
  SELECT qt.doc_id AS query_id, t.doc_id, COUNT(*) AS inter
  FROM tokset t
  JOIN tokset qt ON t.tok = qt.tok AND qt.doc_id < {FH_QUERIES}
                AND t.doc_id <> qt.doc_id
  GROUP BY qt.doc_id, t.doc_id
), lex_scored AS (
  SELECT i.query_id, i.doc_id,
         ROUND(i.inter / CAST(s.sz + qs.sz - i.inter AS DOUBLE), 6) AS score
  FROM inter i
  JOIN sizes s ON i.doc_id = s.doc_id
  JOIN sizes qs ON i.query_id = qs.doc_id
), lex_rank AS (
  SELECT query_id, doc_id, r_lex FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS r_lex
    FROM lex_scored
  ) WHERE r_lex <= {RRF_POOL}
), fused AS (
  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
         COALESCE(d.doc_id, l.doc_id) AS doc_id,
         d.r_dense, l.r_lex,
         ROUND(COALESCE(1.0 / ({RRF_K} + d.r_dense), 0.0)
               + COALESCE(1.0 / ({RRF_K} + l.r_lex), 0.0), 9) AS rrf
  FROM dense_rank d
  FULL OUTER JOIN lex_rank l ON d.query_id = l.query_id AND d.doc_id = l.doc_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rank
  FROM fused
)"""


HYBRID_RRF_SQL = f"""
WITH {_hybrid_cte_body()}
SELECT query_id, doc_id, r_dense, r_lex, rrf, rank
FROM ranked WHERE rank <= {RRF_TOP_K}
"""

def _ndcg_grades_cte() -> str:
    """The bigram-overlap judge in SQL — replays ``_bigram_grades``
    exactly (distinct bigrams, overlap counts, rank cut, integer
    gains); independent of both ranker CTEs by construction."""
    from tinymapreduce_spark.operators.similarity import FH_QUERIES

    return f"""tarr AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS ts
  FROM documents
), bg AS MATERIALIZED (
  SELECT DISTINCT doc_id,
         UNNEST(list_transform(generate_series(1, len(ts) - 1),
                               i -> ts[i] || ' ' || ts[i + 1])) AS bg
  FROM tarr WHERE len(ts) >= 2
), ov AS (
  SELECT q.doc_id AS query_id, b.doc_id, COUNT(*) AS ov
  FROM bg b
  JOIN bg q ON b.bg = q.bg AND q.doc_id < {FH_QUERIES} AND b.doc_id <> q.doc_id
  GROUP BY q.doc_id, b.doc_id
), grades AS (
  SELECT query_id, doc_id, {NDCG_K + 1} - rg AS gain FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ov DESC, doc_id ASC) AS rg
    FROM ov
  ) WHERE rg <= {NDCG_K}
)"""


HYBRID_NDCG_SQL = f"""
WITH {_hybrid_cte_body()},
{_ndcg_grades_cte()}, terms AS (
  SELECT r.query_id, r.rank,
         ROUND(COALESCE(g.gain, 0) / log2(r.rank + 1), 9) AS term
  FROM ranked r
  LEFT JOIN grades g ON r.query_id = g.query_id AND r.doc_id = g.doc_id
  WHERE r.rank <= {NDCG_K}
), dcg AS (
  SELECT query_id,
         ROUND(list_reduce(list_prepend(0.0, list(term ORDER BY rank)), (a, b) -> a + b), 6) AS dcg
  FROM terms GROUP BY query_id
), ideal AS (
  SELECT ROUND(list_reduce(list_prepend(0.0, list(t ORDER BY i)), (a, b) -> a + b), 6) AS idcg
  FROM (SELECT i, ROUND(({NDCG_K + 1} - i) / log2(i + 1), 9) AS t
        FROM range(1, {NDCG_K + 1}) r(i))
)
SELECT query_id, dcg, ROUND(dcg / idcg, 6) AS ndcg
FROM dcg CROSS JOIN ideal
"""
