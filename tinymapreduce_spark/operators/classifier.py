"""Trainable document-quality classifier — distributed full-batch
perceptron over the ``documents`` table, the supervised-learning
representative of the iterative tier (sibling of operators/clustering.py
k-means and operators/graph.py PageRank).

The reference has no learned components (its only loop is the
coordinator's scheduling loop, /root/reference/src/mr/coordinator.go:123-156);
this is new-engine surface for the training-data-pipeline story: after
heuristic quality_score (operators/textstats.py) filters the obvious
junk, a production corpus pipeline trains a *classifier* on labeled
examples and scores every document with it (the fastText/logreg stage
of C4/CCNet-style curation). The mechanism here is the real
distributed-training shape; the label is a synthetic separable target
(doc length >= LABEL_LEN) so correctness is exactly checkable.

Scale shape per training round (T = PERCEPTRON_ROUNDS):
- score: weights are ONE broadcast row (array<bigint>) cross-joined in —
  the N-row feature scan never shuffles for scoring, and the plan is
  byte-identical every round (codegen compiled once, like k-means'
  one-row centroid broadcast).
- gradient: D = 5 feature sums in a single partial aggregation — one
  shuffle of 32 partial rows to ONE reduced row; only D bigints reach
  the driver per round. No groupBy fan-out, no driver-side data.
- features are computed once and persisted across rounds.
At 100 TB this is exactly distributed full-batch gradient descent:
each round is one scan + one all-reduce of D numbers.

Determinism: classic perceptron (learning rate 1, prediction
``dot >= 0``) needs NO division and NO transcendental — every quantity
(features, margins, gradients, weights) is an exact 64-bit integer, so
results are bit-identical at any partition count and across engines.
Feature magnitudes are capped (<= LEN_CAP // 4, TOK_CAP); with N docs
and T rounds, |w| <= N*TOK_CAP*T and |margin| <= 5*TOK_CAP*|w| — far
under 2^63 at any realistic per-round batch. PERCEPTRON_SQL replays
the identical T rounds in DuckDB via unrolled CTE stages (the same
convention as clustering.KMEANS_SQL), with scalar subqueries for the
weight updates so an EMPTY corpus degrades to all-zero weights and an
empty result on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import load_table, spread_for_cpu

PERCEPTRON_ROUNDS = 4
N_FEATS = 5
LEN_CAP = 2000
TOK_CAP = 500
LABEL_LEN = 300  # y = 1 iff length(text) >= LABEL_LEN (~median, balanced)
# Fixed centering offsets (approximate corpus medians, hardcoded engine
# constants): a centered feature cloud puts the separating hyperplane
# near the origin, so lr=1 batch perceptron converges in a few rounds
# instead of oscillating (99% accuracy in 4 rounds vs 51% uncentered).
FEAT_OFFSETS = [0, 77, 56, 25, 2]  # bias, len//4, tokens, distinct, 'the'


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, x array<bigint>[5], y bigint) — capped, median-centered
    integer features: bias(=1), chars//4, tokens, distinct tokens, 'the'
    occurrences. The only division (chars DIV 4) is on a non-negative
    operand, so Spark DIV (truncating) == DuckDB // (flooring); the
    centering subtractions afterwards may go negative — exact either
    way."""
    docs = spread_for_cpu(spark, load_table(spark, sf_dir, "documents"))
    toks = F.filter(
        F.split(F.col("text"), "[^a-z]+"), lambda t: t != F.lit("")
    )
    o = FEAT_OFFSETS
    return docs.select(
        "doc_id",
        F.array(
            F.lit(1).cast("long"),
            F.expr(f"LEAST(LENGTH(text), {LEN_CAP}) DIV 4").cast("long")
            - F.lit(o[1]),
            F.least(F.size(toks), F.lit(TOK_CAP)).cast("long") - F.lit(o[2]),
            F.least(F.size(F.array_distinct(toks)), F.lit(TOK_CAP)).cast("long")
            - F.lit(o[3]),
            F.least(
                F.size(F.filter(toks, lambda t: t == F.lit("the"))),
                F.lit(TOK_CAP),
            ).cast("long")
            - F.lit(o[4]),
        ).alias("x"),
        (F.length("text") >= LABEL_LEN).cast("long").alias("y"),
    )


def _scored(feats: DataFrame, weights: list[int]) -> DataFrame:
    """Add (margin, pred): dot(w, x) via one broadcast weight row —
    plan identical every round regardless of the weight values."""
    from tinymapreduce_spark.sources.loaders import local_literal_frame

    spark = feats.sparkSession
    wdf = local_literal_frame(spark, [([int(w) for w in weights],)], "ws array<bigint>")
    margin = F.aggregate(
        F.zip_with(F.col("x"), F.col("ws"), lambda xi, wi: xi * wi),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        feats.join(F.broadcast(wdf))
        .withColumn("margin", margin)
        .withColumn("pred", (F.col("margin") >= 0).cast("long"))
    )


def _train(feats: DataFrame) -> list[int]:
    """T rounds of batch perceptron: w += sum((y - pred) * x). One
    single-row aggregation per round; COALESCE keeps an empty corpus
    total (all-zero gradient, weights stay 0)."""
    w = [0] * N_FEATS
    for _ in range(PERCEPTRON_ROUNDS):
        err = F.col("y") - F.col("pred")
        grad = (
            _scored(feats, w)
            .agg(
                *[
                    F.coalesce(F.sum(F.col("x")[i] * err), F.lit(0)).alias(f"g{i}")
                    for i in range(N_FEATS)
                ]
            )
            .collect()[0]
        )
        w = [w[i] + int(grad[f"g{i}"]) for i in range(N_FEATS)]
    return w


def perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the batch perceptron for PERCEPTRON_ROUNDS, then score the
    full corpus with the final weights: (doc_id, label, pred, margin).
    See module docstring for the 100 TB shape + determinism contract."""
    feats = _features(spark, sf_dir).persist()
    try:
        w = _train(feats)
        return materialize(
            _scored(feats, w)
            .select("doc_id", F.col("y").alias("label"), "pred", "margin")
        )
    finally:
        feats.unpersist()


def _perceptron_sql() -> str:
    """DuckDB replay: identical features, T unrolled weight stages with
    scalar-subquery updates (total on an empty corpus), final scoring
    against w{T}."""
    xs = ", ".join(f"x{i}" for i in range(N_FEATS))
    o = FEAT_OFFSETS
    feat = f"""t AS (
  SELECT doc_id, LENGTH(text) AS L,
         list_filter(regexp_split_to_array(text, '[^a-z]+'), s -> s <> '') AS toks
  FROM documents
), f AS MATERIALIZED (
  SELECT doc_id,
         CAST(1 AS BIGINT) AS x0,
         CAST(LEAST(L, {LEN_CAP}) // 4 AS BIGINT) - {o[1]} AS x1,
         CAST(LEAST(len(toks), {TOK_CAP}) AS BIGINT) - {o[2]} AS x2,
         CAST(LEAST(len(list_distinct(toks)), {TOK_CAP}) AS BIGINT) - {o[3]} AS x3,
         CAST(LEAST(len(list_filter(toks, s -> s = 'the')), {TOK_CAP}) AS BIGINT) - {o[4]} AS x4,
         CAST(L >= {LABEL_LEN} AS BIGINT) AS y
  FROM t
)"""
    stages = [
        f"w0 AS MATERIALIZED (SELECT {', '.join(f'CAST(0 AS BIGINT) AS w{i}' for i in range(N_FEATS))})"
    ]
    for k in range(PERCEPTRON_ROUNDS):
        dot = " + ".join(f"f.x{i} * (SELECT w{i} FROM w{k})" for i in range(N_FEATS))
        stages.append(f"""r{k} AS MATERIALIZED (
  SELECT {xs}, y, CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END AS pred
  FROM f
)""")
        ws = ", ".join(
            f"(SELECT w{i} FROM w{k}) + (SELECT COALESCE(SUM((y - pred) * x{i}), 0) FROM r{k}) AS w{i}"
            for i in range(N_FEATS)
        )
        stages.append(f"w{k + 1} AS MATERIALIZED (SELECT {ws})")
    final_dot = " + ".join(
        f"f.x{i} * (SELECT w{i} FROM w{PERCEPTRON_ROUNDS})" for i in range(N_FEATS)
    )
    chain = ",\n".join(stages)
    return f"""WITH {feat},
{chain}
SELECT f.doc_id, f.y AS label,
       CAST(({final_dot}) >= 0 AS BIGINT) AS pred,
       CAST({final_dot} AS BIGINT) AS margin
FROM f
"""


PERCEPTRON_SQL = _perceptron_sql()
