"""User-defined aggregate surface (D5 generalization) — Arrow-batched
pandas GROUPED_AGG UDAFs, the Spark-native answer to the reference's
``reducef: (key, []values) -> string`` contract
(``/root/reference/src/mr/worker.go:47-48``) when the reduction is
numeric rather than string-fold.

The demo aggregate (quantity-weighted mean price) is intentionally
SQL-expressible so the UDAF path itself gets a value-level oracle check —
the point is certifying the surface, not the arithmetic.
"""

from __future__ import annotations

import sys
from typing import Iterator  # noqa: UP035 — resolvable for pandas_udf hint parsing

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from tinymapreduce_spark.pyworker import prime_worker

# Workers may not be able to import this package (driver loads the repo
# via sys.path) — serialize by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


# DoubleType() (not the DDL string "double"): string schemas are parsed at
# decoration time and require an active SparkContext, breaking import.
@F.pandas_udf(DoubleType())
def weighted_mean_price(price: pd.Series, qty: pd.Series) -> float:
    """GROUPED_AGG pandas UDF: sum(price*qty)/sum(qty).

    Decimal-free but still cross-engine deterministic: pandas sums run
    over int64-exact quantities and 2-dp prices scaled to integer cents.
    """
    prime_worker()
    cents = (price * 100).round().astype("int64")
    num = int((cents * qty.astype("int64")).sum())
    den = int(qty.astype("int64").sum())
    return (num / 100) / den if den else float("nan")


def grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tinymapreduce_spark.sources.loaders import load_table

    li = load_table(spark, sf_dir, "lineitem")
    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg(); the plain count comes from a second agg joined back
    # (both reuse the same shuffle partitioning on l_returnflag).
    udaf_part = li.groupBy("l_returnflag").agg(
        weighted_mean_price(F.col("l_extendedprice"), F.col("l_quantity")).alias(
            "weighted_mean_price"
        )
    )
    counts = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_rows"))
    return udaf_part.join(counts, "l_returnflag")


GROUPED_AGG_SQL = """
SELECT l_returnflag,
       (CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 100)
         / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS weighted_mean_price,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


UDTF_MAX_POS = 5


def python_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF API (Spark 3.5+/@udtf): a table function lateral-
    joined per input row — the modern form of the reference's Map-emits-
    many contract (`/root/reference/src/mr/worker.go:47-48` — one input
    record, 0..n output records).

    This is API-surface coverage: Python UDTFs run row-at-a-time in the
    Python worker, so the HOT path for tokenization stays
    explode(split()) in codegen (reference_queries.word_count); use a
    UDTF only when per-row logic genuinely needs Python. Output bounded
    to the first UDTF_MAX_POS tokens per doc."""
    import re as _re

    from pyspark.sql.functions import udtf

    from tinymapreduce_spark.sources.loaders import load_table

    @udtf(returnType="word string, pos int")
    class SplitWords:
        def __init__(self) -> None:
            prime_worker()

        def eval(self, text: str, max_pos: int):
            toks = [w for w in _re.split(r"[^A-Za-z]+", text or "") if w]
            for i, w in enumerate(toks[:max_pos]):
                yield (w, i)

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        f"""
        SELECT doc_id, t.word, t.pos
        FROM docs_udtf, LATERAL split_words(text, {UDTF_MAX_POS}) t
        """
    )


PYTHON_UDTF_SQL = f"""
SELECT doc_id, t.word, CAST(t.i - 1 AS INT) AS pos
FROM documents,
     LATERAL (SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS word,
                     generate_subscripts(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> ''), 1) AS i) t
WHERE t.i <= {UDTF_MAX_POS}
"""


def python_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with a TABLE argument (Spark 4 polymorphic table function):
    the function consumes whole partitions — ``PARTITION BY source
    ORDER BY doc_id`` hands each source's rows to one UDTF instance in
    doc_id order, and ``terminate()`` emits the per-partition summary.
    This is the API for per-group streaming-style logic that outgrows
    aggregate expressions (sessionization with carry-over rules, order-
    sensitive folds) while still letting Spark own the partitioning
    shuffle. Here the logic is deliberately aggregate-expressible so
    the DuckDB oracle checks the machinery exactly."""
    from pyspark.sql.functions import udtf

    from tinymapreduce_spark.sources.loaders import load_table

    @udtf(returnType="source string, n_docs bigint, total_chars bigint, first_doc bigint, last_doc bigint")
    class SourceStats:
        def __init__(self) -> None:
            prime_worker()
            self._src = None
            self._n = 0
            self._chars = 0
            self._first = None
            self._last = None

        def eval(self, row):
            self._src = row["source"]
            self._n += 1
            self._chars += row["n_chars"]
            if self._first is None:
                self._first = row["doc_id"]
            self._last = row["doc_id"]

        def terminate(self):
            if self._src is not None:
                yield (self._src, self._n, self._chars, self._first, self._last)

    spark.udtf.register("source_stats", SourceStats)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_udtf_t")
    return spark.sql(
        """
        SELECT * FROM source_stats(
          TABLE(SELECT doc_id, source, n_chars FROM docs_udtf_t)
          PARTITION BY source ORDER BY doc_id
        )
        """
    )


PYTHON_UDTF_TABLE_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM documents
GROUP BY source
"""


def iterator_udf_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator pandas UDF (``Iterator[pd.Series] -> Iterator[pd.Series]``)
    — the PER-WORKER-INIT rung of the Python UDF ladder: expensive state
    (a model, a tokenizer, a lexicon) loads ONCE per executor task and
    is reused across every Arrow batch that task processes, instead of
    once per batch (plain pandas UDF) or once per row (row UDF). Here
    the "model" is the sentiment lexicon compiled into a regex scorer
    inside the iterator prologue; at 100 TB swap that line for loading
    the real ONNX/torch weights. Output is integer-exact (polarity sum
    + hit count per document) so the scored values hash-check against
    the lexicon-join oracle."""
    import re

    from pyspark.sql.types import LongType

    from tinymapreduce_spark.operators.textstats import SENTIMENT_LEXICON
    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    lex_items = tuple(sorted(SENTIMENT_LEXICON.items()))

    @F.pandas_udf(LongType())
    def polarity_sum(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # -- once per task: "load the model" --
        prime_worker()
        token_re = re.compile(r"[A-Za-z]+")
        model = dict(lex_items)
        for texts in batches:
            yield texts.map(
                lambda t: sum(model.get(w, 0) for w in token_re.findall(t))
            ).astype("int64")

    @F.pandas_udf(LongType())
    def hit_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        prime_worker()
        token_re = re.compile(r"[A-Za-z]+")
        model = dict(lex_items)
        for texts in batches:
            yield texts.map(
                lambda t: sum(1 for w in token_re.findall(t) if w in model)
            ).astype("int64")

    docs = documents_for_cpu(spark, sf_dir)
    return docs.select(
        "doc_id",
        polarity_sum(F.col("text")).alias("polarity_sum"),
        hit_count(F.col("text")).alias("n_hits"),
    )


def _iterator_scoring_sql() -> str:
    from tinymapreduce_spark.operators.textstats import SENTIMENT_LEXICON

    vals = ", ".join(f"('{t}', {p})" for t, p in sorted(SENTIMENT_LEXICON.items()))
    return f"""
WITH lex(tok, polarity) AS (VALUES {vals}),
toks AS (
  SELECT doc_id,
         UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok
  FROM documents
),
per_doc AS (
  SELECT t.doc_id,
         CAST(COALESCE(SUM(l.polarity), 0) AS BIGINT) AS polarity_sum,
         CAST(COUNT(l.polarity) AS BIGINT) AS n_hits
  FROM toks t LEFT JOIN lex l USING (tok)
  GROUP BY t.doc_id
)
-- left join back onto documents: a letterless doc UNNESTs to zero token
-- rows and would otherwise vanish, while the Spark UDF scores it (0, 0)
SELECT d.doc_id,
       CAST(COALESCE(p.polarity_sum, 0) AS BIGINT) AS polarity_sum,
       CAST(COALESCE(p.n_hits, 0) AS BIGINT) AS n_hits
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


ITERATOR_SCORING_SQL = _iterator_scoring_sql()


def python_udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF with ``analyze()`` (Spark 4 dynamic output schema): the
    function's column list is computed at PLAN time from a literal
    argument — ``ngram_cols(text, k)`` emits one row per consecutive
    k-gram with k columns ``tok_0..tok_{k-1}``, and the schema Spark
    binds comes from the static ``analyze`` hook, not a declared
    returnType. This is the last rung of the UDTF ladder (declared
    schema -> table argument -> analyzed schema); non-constant ``k``
    is rejected at analysis, pinned in tests. Row-at-a-time Python by
    design — extension surface, not a hot path (the hot n-gram paths
    are the Catalyst shingle expressions in operators/dedup.py)."""
    import re as _re

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    from tinymapreduce_spark.sources.loaders import load_table

    class NGramCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            if k.value is None or not isinstance(k.value, int):
                raise ValueError("k must be a constant integer literal")
            schema = StructType()
            for i in range(k.value):
                schema = schema.add(f"tok_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def __init__(self) -> None:
            prime_worker()

        def eval(self, text: str, k: int):
            toks = [t for t in _re.split("[^A-Za-z]+", text or "") if t]
            for i in range(len(toks) - k + 1):
                yield tuple(toks[i : i + k])

    spark.udtf.register("ngram_cols", udtf(NGramCols))
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_ngram_t")
    return spark.sql(
        """
        SELECT tok_0, COUNT(*) AS cnt, COUNT(DISTINCT tok_1) AS n_next
        FROM docs_ngram_t, LATERAL ngram_cols(text, 2)
        GROUP BY tok_0
        """
    )


PYTHON_UDTF_DYNAMIC_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '') AS t
  FROM documents
), grams AS (
  SELECT t[i.i] AS tok_0, t[i.i + 1] AS tok_1
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t))) AS i) i
)
SELECT tok_0, COUNT(*) AS cnt, COUNT(DISTINCT tok_1) AS n_next
FROM grams GROUP BY tok_0
"""
