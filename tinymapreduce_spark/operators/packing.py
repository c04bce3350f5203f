"""Training-sequence packing and length-curriculum batching.

Completes the sequence-prep tier of ``operators/curation.py``: that
module packs GPT-style (``sequence_pack``: concatenate-then-chunk, a doc
may straddle a boundary) and chunks with overlap (``doc_chunk_overlap``).
The two operators here cover the OTHER two loader disciplines used in
production pretraining:

- ``pack_nextfit_bins``: whole-document next-fit packing — no document
  is ever split across context windows (the T5/instruction-tuning rule);
  bins report fill so the wasted-capacity tradeoff vs concatenate-then-
  chunk is measurable.
- ``length_curriculum``: length-grouped batching with per-batch padding
  waste — what a pad-to-longest collator burns, the quantity length
  bucketing exists to minimize.

Both follow the repo's determinism contract (content-stable ordering,
never rand(); the same idempotent-re-execution argument as the
reference's retried map tasks, ``/root/reference/src/mr/coordinator.go:
158-186``) so results are bit-reproducible and DuckDB-oracle-checked —
the packer's recursive next-fit state is replayed in the oracle as a
recursive CTE.

Scale posture: greedy next-fit is inherently a sequential scan, so it is
sharded first (``pmod(doc_id, PACK_SHARDS)``) and each shard packs
independently inside one Arrow-batched task — exactly how production
packers parallelize. PACK_SHARDS scales with the corpus so a shard
always fits an executor; only (doc_id, token_count) pairs shuffle, never
text. The curriculum batcher is one shuffle + a per-shard window.
"""

from __future__ import annotations

import sys

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.functions.text import tokens
from tinymapreduce_spark.pyworker import prime_worker
from tinymapreduce_spark.sources.loaders import documents_for_cpu

# The packer kernel ships to executors by VALUE: when the driver loads
# this repo via sys.path (the round driver does), workers have no
# importable module to resolve it from.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

PACK_CAP = 256  # context-window token capacity
PACK_SHARDS = 8  # parallel packing streams (scale knob: O(corpus/shards) per task)

BATCH_SIZE = 32  # docs per curriculum batch
CURRICULUM_SHARDS = 4


def _pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    """Next-fit pack one shard (runs inside one task). Sequential by
    contract: deterministic packing is a scan in doc_id order. A doc
    longer than PACK_CAP gets a bin of its own (overflow bin) rather
    than being dropped — truncation is the trainer's call, not the
    packer's."""
    prime_worker()
    pdf = pdf.sort_values("doc_id")
    bins: list[list] = []  # [bin_id, n_docs, bin_tokens, first_doc, last_doc]
    fill = None
    for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
        t = int(t)
        if fill is not None and fill + t <= PACK_CAP:
            fill += t
            b = bins[-1]
            b[1] += 1
            b[2] += t
            b[4] = doc_id
        else:
            fill = t
            bins.append([len(bins) + 1, 1, t, doc_id, doc_id])
    shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
    return pd.DataFrame(
        [(shard, b[0], b[1], b[2], b[3], b[4]) for b in bins],
        columns=["shard", "bin_id", "n_docs", "bin_tokens", "first_doc", "last_doc"],
    )


def pack_nextfit_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit packing of whole documents into PACK_CAP-token
    context windows, PACK_SHARDS independent packing streams. Per
    (shard, bin): doc count, used tokens, first/last doc. Unlike
    ``curation.sequence_pack`` (concatenate-then-chunk), a document is
    never split across windows; `PACK_CAP - bin_tokens` is the price
    paid for that. The per-shard scan runs as one Arrow-batched task
    (`applyInPandas`); at 100 TB you raise PACK_SHARDS so each shard
    fits one executor — the algorithm itself is O(shard) time / O(1)
    state and never shuffles the text, only (doc_id, token_count)."""
    docs = documents_for_cpu(spark, sf_dir).select(
        "doc_id",
        F.pmod("doc_id", F.lit(PACK_SHARDS)).cast("int").alias("shard"),
        F.size(tokens("text")).alias("t"),
    )
    out = docs.groupBy("shard").applyInPandas(
        _pack_shard,
        schema="shard int, bin_id int, n_docs int, bin_tokens int, first_doc bigint, last_doc bigint",
    )
    return out.orderBy("shard", "bin_id")


PACK_NEXTFIT_BINS_SQL = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, CAST(doc_id % {PACK_SHARDS} AS INT) AS shard,
         len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok
  FROM documents
),
numbered AS (
  SELECT doc_id, shard, tok,
         row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM t
),
pack AS (
  SELECT shard, rn, doc_id, tok, 1 AS bin_id, tok AS fill
  FROM numbered WHERE rn = 1
  UNION ALL
  SELECT n.shard, n.rn, n.doc_id, n.tok,
         CASE WHEN p.fill + n.tok <= {PACK_CAP} THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + n.tok <= {PACK_CAP} THEN p.fill + n.tok ELSE n.tok END
  FROM pack p JOIN numbered n ON n.shard = p.shard AND n.rn = p.rn + 1
)
SELECT CAST(shard AS INT) AS shard,
       CAST(bin_id AS INT) AS bin_id,
       CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(tok) AS INT) AS bin_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM pack
GROUP BY shard, bin_id
ORDER BY shard, bin_id
"""


def length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching: within each shard, order docs by token
    count and cut BATCH_SIZE-doc batches, reporting per-batch padding
    waste (`max_tok*n - sum_tok` — the tokens a pad-to-longest collator
    would burn). Sharded window (PARTITION BY shard), so the sort never
    funnels the corpus through one partition."""
    docs = documents_for_cpu(spark, sf_dir).select(
        "doc_id",
        F.pmod("doc_id", F.lit(CURRICULUM_SHARDS)).cast("int").alias("shard"),
        F.size(tokens("text")).cast("long").alias("t"),
    )
    w = Window.partitionBy("shard").orderBy("t", "doc_id")
    batched = docs.withColumn(
        "batch", ((F.row_number().over(w) - 1) / BATCH_SIZE).cast("int")
    )
    return (
        batched.groupBy("shard", "batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("t").alias("min_tok"),
            F.max("t").alias("max_tok"),
            F.sum("t").alias("sum_tok"),
            (F.max("t") * F.count(F.lit(1)) - F.sum("t")).alias("padding_waste"),
        )
        .orderBy("shard", "batch")
    )


LENGTH_CURRICULUM_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST(doc_id % {CURRICULUM_SHARDS} AS INT) AS shard,
         CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS BIGINT) AS t
  FROM documents
),
b AS (
  SELECT shard, t,
         CAST((row_number() OVER (PARTITION BY shard ORDER BY t, doc_id) - 1) // {BATCH_SIZE} AS INT) AS batch
  FROM t
)
SELECT shard, batch,
       COUNT(*) AS n_docs,
       MIN(t) AS min_tok,
       MAX(t) AS max_tok,
       CAST(SUM(t) AS BIGINT) AS sum_tok,
       CAST(MAX(t) * COUNT(*) - SUM(t) AS BIGINT) AS padding_waste
FROM b
GROUP BY shard, batch
ORDER BY shard, batch
"""
