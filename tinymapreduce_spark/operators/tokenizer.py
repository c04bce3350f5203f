"""Distributed tokenizer-vocabulary training (BPE merge learning).

The one tokenizer workload the LLM-pipeline tier was still missing:
*training* the subword vocabulary itself (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") —
iteratively merging the corpus-wide most frequent adjacent symbol
pair.  Tokenizer training is a canonical 100 TB batch job: the pair
count is a full-corpus aggregation per round, while the learned state
(the merge table) is O(#merges).

Determinism contract (SURVEY.md §8): every step is integer counts,
binary-collation string ordering, and literal leftmost
non-overlapping string replacement — semantics Spark (Java
``String.replace`` via ``F.replace``) and DuckDB (``REPLACE``) share
exactly, so the DuckDB oracle replays the whole training run
bit-identically via unrolled ``AS MATERIALIZED`` CTE rounds.

Merge-application semantics, pinned identically in both engines: a
word is a single-space-delimited symbol string wrapped in sentinel
spaces; one merge round applies ``replace(' x y ' -> ' xy ')``
``_FIX_PASSES`` times.  One literal replace pass is leftmost
non-overlapping, so boundary-space consumption can leave a chained
occurrence for the next pass; replacement can never *create* a new
(x, y) adjacency (the merged token equals neither x nor y), so
occurrences only shrink and ``_FIX_PASSES`` >= ceil(log2(max
occurrences per word)) + 1 reaches the fixpoint.  Both engines apply
the same pass count, so parity holds even off-fixpoint.

Tokens are the reference word definition (letter runs,
``/root/reference/src/mrapps/wc.go:23``), lowercased — the standard
tokenizer-training normalization.

Scale shape: per round, ONE corpus-wide pair aggregation (partial
agg collapses each partition's pairs before the (x, y) shuffle), the
argmax via TakeOrderedAndProject (never a global sort), and the merge
applied through a broadcast of the 1-row winner — no driver-side data
beyond O(1).  ``materialize`` truncates lineage per round (same
convention as operators/graph.py).  The working vocabulary is capped
at the top ``BPE_VOCAB`` word types — at 100 TB the word-type table
is Zipf-bounded and the cap is the standard training practice
(frequency-floor pruning), keeping per-round cost independent of
corpus row count after the first aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.functions.text import tokens
from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import documents_for_cpu

BPE_MERGES = 8
BPE_VOCAB = 1500
WORD_END = "</w>"
# >= ceil(log2(max pair occurrences per word)) + 1; words here are
# <= ~30 symbols, so 6 literal-replace passes reach the fixpoint.
_FIX_PASSES = 6

_RULE_SCHEMA = (
    "merge_rank bigint, x string, y string, merged string, pair_n bigint"
)


def _initial_vocab(
    spark: SparkSession, sf_dir: str, limit: int | None = BPE_VOCAB
) -> DataFrame:
    """Word types with frequency and the initial character-level symbol
    sequence ``'c a t </w>'`` — top-``limit`` for training, the full
    (Zipf-bounded) table for encode when ``limit`` is None."""
    docs = documents_for_cpu(spark, sf_dir)
    freq = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if limit is not None:
        freq = freq.orderBy(F.desc("freq"), F.asc("word")).limit(limit)
    # one space between adjacent characters, then the word-end marker
    seq = F.concat(
        F.regexp_replace(F.col("word"), "(.)", "$1 "), F.lit(WORD_END)
    )
    return freq.select("word", "freq", seq.alias("seq"))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts, zero-join: the pair list
    is built per word by a ``transform(sequence(...))`` zip inside
    codegen, then exploded straight into the (x, y) hash aggregate.
    Fully-merged single-symbol words are filtered FIRST — without the
    guard, ``sequence(1, 0)`` is a *descending* [1, 0] in Spark and
    ``s[i]`` indexes out of bounds."""
    return (
        vocab.select("freq", F.split("seq", " ").alias("s"))
        .where(F.size("s") >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> struct(s[i-1] AS x, s[i] AS y))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.sum("freq").alias("n"))
    )


def _apply_merge(vocab: DataFrame, best: DataFrame) -> DataFrame:
    """Rewrite every seq under the winning pair via the pinned
    sentinel-space replace, ``_FIX_PASSES`` times.  LEFT join on the
    broadcast 1-row winner keeps the operator total: an empty winner
    (no pairs left / empty corpus) leaves the vocabulary unchanged."""
    s = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
    pat = F.concat(F.lit(" "), F.col("x"), F.lit(" "), F.col("y"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("x"), F.col("y"), F.lit(" "))
    for _ in range(_FIX_PASSES):
        s = F.replace(s, pat, rep)
    return vocab.join(F.broadcast(best), F.lit(True), "left").select(
        "word",
        "freq",
        F.when(F.col("x").isNull(), F.col("seq"))
        .otherwise(F.trim(s))
        .alias("seq"),
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``BPE_MERGES`` BPE merge rules over the
    ``documents`` corpus; returns one row per learned rule:
    ``(merge_rank, x, y, merged, pair_n)`` in training order.

    Ties in pair frequency break on (x ASC, y ASC) — a total order,
    so the entire training trajectory is a pure function of the data
    and the DuckDB oracle (``BPE_TRAIN_SQL``) replays it exactly."""
    vocab = materialize(_initial_vocab(spark, sf_dir))
    rules: list[DataFrame] = []
    for r in range(1, BPE_MERGES + 1):
        best = materialize(
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("x"), F.asc("y"))
            .limit(1)
        )
        rules.append(
            best.select(
                F.lit(r).cast("bigint").alias("merge_rank"),
                "x",
                "y",
                F.concat("x", "y").alias("merged"),
                F.col("n").alias("pair_n"),
            )
        )
        vocab = materialize(_apply_merge(vocab, best))
    out = rules[0]
    for extra in rules[1:]:
        out = out.unionAll(extra)
    return out.orderBy("merge_rank")


def bpe_encode_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the TRAINED vocabulary — the encode half
    of the tokenizer lifecycle: learn the ``BPE_MERGES`` rules, then
    apply them in rank order to EVERY word type (the full Zipf-bounded
    word-type table, not just the training cap) and return the subword
    frequency table ``(token, n)``.

    Scale shape: the merge table is O(#merges) — collected (8 rows) and
    inlined as literal chained ``replace`` expressions, so the whole
    encode pass is ONE word-count aggregation plus a zero-join,
    zero-shuffle codegen projection over the word-type table.  Same
    sentinel-space leftmost-replace fixpoint semantics as training
    (module docstring), so ``BPE_ENCODE_SQL`` replays it exactly."""
    merges = [
        (r["x"], r["y"])
        for r in bpe_train_merges(spark, sf_dir).orderBy("merge_rank").collect()
    ]
    words = _initial_vocab(spark, sf_dir, limit=None)
    s = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
    for x, y in merges:
        pat, rep = F.lit(f" {x} {y} "), F.lit(f" {x}{y} ")
        for _ in range(_FIX_PASSES):
            s = F.replace(s, pat, rep)
    return (
        words.select("freq", F.explode(F.split(F.trim(s), " ")).alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("n"))
    )


def _sql_replace_fixpoint() -> str:
    s = "' ' || w.seq || ' '"
    for _ in range(_FIX_PASSES):
        s = (
            f"REPLACE({s}, ' ' || b.x || ' ' || b.y || ' ', "
            "' ' || b.x || b.y || ' ')"
        )
    return f"trim({s})"


_TOK_SQL = "list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')"


def _word_seq_sql(limit: str) -> str:
    """The (word, freq, seq) init used by both training (capped) and
    encode (uncapped) — one definition, composed not string-spliced."""
    return f"""(
  SELECT word, freq, regexp_replace(word, '(.)', '\\1 ', 'g') || '{WORD_END}' AS seq
  FROM (
    SELECT lower(t) AS word, COUNT(*) AS freq
    FROM (SELECT UNNEST({_TOK_SQL}) AS t FROM documents)
    GROUP BY 1
    ORDER BY freq DESC, word ASC
    {limit}
  )
)"""


def _training_cte_parts() -> list[str]:
    """The shared unrolled training chain w0..w{N}, p{r}, b{r} — used by
    BOTH the training oracle and the encode oracle."""
    parts = [
        f"WITH w0 AS MATERIALIZED (SELECT * FROM {_word_seq_sql(f'LIMIT {BPE_VOCAB}')})"
    ]
    for r in range(1, BPE_MERGES + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT x, y, CAST(SUM(freq) AS BIGINT) AS n
  FROM (
    SELECT freq, l[i] AS x, l[i + 1] AS y
    FROM (SELECT freq, l, UNNEST(range(1, len(l))) AS i
          FROM (SELECT freq, string_split(seq, ' ') AS l FROM {prev}))
  )
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (
  SELECT x, y, n FROM p{r} ORDER BY n DESC, x ASC, y ASC LIMIT 1
),
w{r} AS MATERIALIZED (
  SELECT w.word, w.freq,
         CASE WHEN b.x IS NULL THEN w.seq ELSE {_sql_replace_fixpoint()} END AS seq
  FROM {prev} w LEFT JOIN b{r} b ON TRUE
)"""
        )
    return parts


def _bpe_sql() -> str:
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, x, y, x || y AS merged, "
        f"n AS pair_n FROM b{r}"
        for r in range(1, BPE_MERGES + 1)
    )
    return ",\n".join(_training_cte_parts()) + "\n" + unions + "\nORDER BY merge_rank"


def _bpe_encode_sql() -> str:
    """Replay of ``bpe_encode_vocab``: the full training chain, then the
    rank-ordered merges applied to the UNCAPPED word-type table
    (av0..av{N}) and folded into the subword frequency table."""
    parts = _training_cte_parts()
    parts.append(f"av0 AS MATERIALIZED (SELECT * FROM {_word_seq_sql('')})")
    for r in range(1, BPE_MERGES + 1):
        parts.append(
            f"""av{r} AS MATERIALIZED (
  SELECT w.word, w.freq,
         CASE WHEN b.x IS NULL THEN w.seq ELSE {_sql_replace_fixpoint()} END AS seq
  FROM av{r - 1} w LEFT JOIN b{r} b ON TRUE
)"""
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT token, CAST(SUM(freq) AS BIGINT) AS n
FROM (SELECT freq, UNNEST(string_split(seq, ' ')) AS token FROM av{BPE_MERGES})
GROUP BY token
"""
    )


BPE_TRAIN_SQL = _bpe_sql()
BPE_ENCODE_SQL = _bpe_encode_sql()


# -- Unigram-LM (SentencePiece-style) Viterbi segmentation ------------------
#
# The second of the two real-world subword-tokenizer families (Kudo 2018,
# "Subword Regularization"): score candidate pieces by corpus likelihood
# and segment each word with Viterbi to the max-likelihood piece sequence.
# Everything is integer-exact so the whole pipeline — piece weights,
# quantized log-likelihoods, DP, tie-breaks — replays bit-identically in
# the DuckDB oracle:
#
#   - piece weight  = summed word-type frequency over every occurrence
#   - log2-quantized likelihood: intlog2(x) := length(bin(x)) - 1, an
#     EXACT integer in both engines (no float log)
#   - piece score   = intlog2(weight) - intlog2(total weight)  (<= 0,
#     the quantized log-prob; the per-piece "-LOGTOT" term is what makes
#     fewer/longer pieces win, exactly as in the real unigram objective)
#   - combined DP objective = score * _UNI_BASE - 1 per piece, so among
#     equal-likelihood segmentations the one with FEWER pieces wins and
#     the piece count decodes from the result (n = BASE - sc % BASE)
#
# Scale shape: the corpus-wide pass is ONE word-frequency aggregation
# (partial agg before the shuffle); everything after runs on the
# Zipf-capped word-type table (UNI_WORDS rows). The vocabulary is a
# bounded collect (<= UNI_VOCAB + alphabet rows, same contract as the
# BPE vocab collect above), and the Viterbi DP itself is a JVM-side
# F.aggregate fold over character positions — zero Python, zero extra
# shuffles, parallel across word types.

UNI_WORDS = 1500  # word types considered (Zipf-cap, as BPE_VOCAB)
UNI_MAX_WORD = 16  # DP unroll bound; longer word types dropped in BOTH engines
UNI_MAX_PIECE = 4  # max piece length
UNI_VOCAB = 512  # pieces kept by weight (all single chars always kept)
UNI_OUT = 200  # output rows: top word types by (freq DESC, word ASC)
_UNI_BASE = 64  # piece-count base in the combined objective (> UNI_MAX_WORD)
_UNI_OFFSET = 4096  # positivity shift so DP values stay nonneg for % decode


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents_for_cpu(spark, sf_dir)
    return (
        docs.select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("word"))
        .where(F.length("word") <= UNI_MAX_WORD)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(UNI_WORDS)
    )


def _uni_vocab(spark: SparkSession, sf_dir: str) -> list[tuple[str, int]]:
    """(piece, combined-objective score) pairs — a BOUNDED collect
    (<= UNI_VOCAB + alphabet rows; computed from the substring table of
    the capped word-type frame, never corpus rows).
    """
    words = _uni_words(spark, sf_dir)
    pieces = (
        words.select(
            "freq",
            "word",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
        )
        .select(
            "freq",
            "word",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(UNI_MAX_PIECE), F.length("word") - F.col("i") + 1
                    ),
                )
            ).alias("l"),
        )
        .select(F.col("word").substr(F.col("i"), F.col("l")).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("wfreq"))
    )
    total = pieces.agg(F.sum("wfreq").alias("tw"))
    # kept set = top-UNI_VOCAB by weight UNION all single chars — the
    # top-k is a TakeOrdered (never a single-partition rank window)
    top = pieces.orderBy(F.desc("wfreq"), F.asc("piece")).limit(UNI_VOCAB)
    kept = (
        top.unionByName(pieces.where(F.length("piece") == 1))
        .dropDuplicates(["piece"])
        .crossJoin(F.broadcast(total))
        .select(
            "piece",
            (
                (
                    (F.length(F.bin("wfreq")) - 1)
                    - (F.length(F.bin("tw")) - 1)
                )
                * _UNI_BASE
                - 1
            ).cast("long").alias("cscore"),
        )
    )
    return [(r.piece, r.cscore) for r in kept.collect()]


def unigram_viterbi_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-likelihood Viterbi segmentation of the top word types under
    the quantized unigram piece LM. Output per word: the piece count and
    the combined quantized log-likelihood of its best segmentation —
    both uniquely determined (the DP objective is totally ordered), so
    the oracle's unrolled-CTE DP reproduces them exactly."""
    vocab = _uni_vocab(spark, sf_dir)
    entries: list = []
    for piece, cs in sorted(vocab):
        entries.append(F.lit(piece))
        entries.append(F.lit(int(cs)))
    cmap = F.create_map(*entries)
    word = F.col("word")
    init = F.array(
        F.lit(None).cast("long"),
        F.lit(None).cast("long"),
        F.lit(None).cast("long"),
        F.lit(_UNI_OFFSET * _UNI_BASE).cast("long"),
    )

    def step(acc, i):
        # best[i] = max over piece length l of best[i-l] + cscore(piece);
        # acc holds [best[i-4], best[i-3], best[i-2], best[i-1]] and
        # try_element_at yields NULL for out-of-vocab pieces, which
        # when/greatest then skip. All-null can't happen: every single
        # char of a considered word is in the vocabulary.
        cands = [
            F.when(
                i >= F.lit(l),
                F.element_at(acc, 5 - l)
                + F.try_element_at(cmap, word.substr(i - F.lit(l - 1), F.lit(l))),
            )
            for l in range(1, UNI_MAX_PIECE + 1)
        ]
        return F.array(
            F.element_at(acc, 2),
            F.element_at(acc, 3),
            F.element_at(acc, 4),
            F.greatest(*cands),
        )

    words = _uni_words(spark, sf_dir)
    sc = F.element_at(
        F.aggregate(F.sequence(F.lit(1), F.length(word)), init, step), 4
    )
    n_pieces = (F.lit(_UNI_BASE) - F.col("sc") % _UNI_BASE).cast("long")
    return (
        words.withColumn("sc", sc)
        .select(
            "word",
            "freq",
            n_pieces.alias("n_pieces"),
            (
                F.floor((F.col("sc") + (F.lit(_UNI_BASE) - F.col("sc") % _UNI_BASE)) / _UNI_BASE)
                - _UNI_OFFSET
            ).cast("long").alias("ll_score"),
        )
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(UNI_OUT)
    )


def _unigram_sql() -> str:
    P, B, OFF = UNI_MAX_PIECE, _UNI_BASE, _UNI_OFFSET
    parts = [
        f"""WITH uw AS MATERIALIZED (
  SELECT word, freq FROM (
    SELECT lower(t) AS word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT UNNEST({_TOK_SQL}) AS t FROM documents)
    GROUP BY 1)
  WHERE len(word) <= {UNI_MAX_WORD}
  ORDER BY freq DESC, word ASC LIMIT {UNI_WORDS}
),
pieces AS MATERIALIZED (
  SELECT piece, CAST(SUM(freq) AS BIGINT) AS wfreq FROM (
    SELECT substr(word, i, l) AS piece, freq
    FROM (SELECT word, freq, i,
                 UNNEST(range(1, least({P}, len(word) - i + 1) + 1)) AS l
          FROM (SELECT word, freq, UNNEST(range(1, len(word) + 1)) AS i
                FROM uw)))
  GROUP BY 1
),
vocab AS MATERIALIZED (
  SELECT piece,
         ((length(bin(wfreq)) - 1)
          - (SELECT length(bin(CAST(SUM(wfreq) AS BIGINT))) - 1 FROM pieces))
         * {B} - 1 AS cscore
  FROM (SELECT piece, wfreq,
               ROW_NUMBER() OVER (ORDER BY wfreq DESC, piece ASC) AS rk
        FROM pieces)
  WHERE rk <= {UNI_VOCAB} OR len(piece) = 1
),
dp0 AS MATERIALIZED (
  SELECT word, 0 AS pos, CAST({OFF * B} AS BIGINT) AS best FROM uw
)"""
    ]
    for i in range(1, UNI_MAX_WORD + 1):
        prevs = " UNION ALL ".join(
            f"SELECT word, pos, best FROM dp{j}"
            for j in range(max(0, i - P), i)
        )
        parts.append(
            f"""dp{i} AS MATERIALIZED (
  SELECT p.word, {i} AS pos, MAX(p.best + v.cscore) AS best
  FROM ({prevs}) p
  JOIN uw w ON w.word = p.word
  JOIN vocab v ON v.piece = substr(w.word, p.pos + 1, {i} - p.pos)
  WHERE len(w.word) >= {i}
  GROUP BY 1
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT word, pos, best FROM dp{i}" for i in range(1, UNI_MAX_WORD + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT w.word, w.freq,
       CAST({B} - d.best % {B} AS BIGINT) AS n_pieces,
       CAST((d.best + ({B} - d.best % {B})) // {B} - {OFF} AS BIGINT) AS ll_score
FROM uw w JOIN ({finals}) d ON d.word = w.word AND d.pos = len(w.word)
ORDER BY w.freq DESC, w.word ASC LIMIT {UNI_OUT}
"""
    )


UNIGRAM_SQL = _unigram_sql()
