"""Similarity search over the ``embeddings`` table (array<float> vectors).

- ``ann_topk_cosine``: exact brute-force top-k — the correctness baseline,
  fully SQL-oracle-able (DuckDB list_dot_product on DOUBLE[]).
- ``ann_ivf_topk``: IVF-style scale path — vectors bucketed by nearest
  centroid (the ``label`` clusters bootstrap the codebook), queries probe
  only the closest ``nprobe`` buckets. Search cost drops from O(N) to
  O(N * nprobe / nlist) per query; the bucket join is an equi-join on
  centroid id, so at 100 TB it's a partition-pruned shuffle instead of a
  broadcast cross product.

Determinism: scores fold left-to-right in double (functions/vectors.dot),
rounded to 6 dp at the output edge; ranking tie-breaks on vec_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.functions.vectors import cosine_similarity
from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import load_table

N_QUERIES = 10  # vec_id < 10 are the demo query vectors

# Trained structures are deterministic functions of the corpus, so they
# cache per corpus dir for the session (a real pipeline trains once on a
# sample and serves many queries; retraining per query was the dominant
# bench cost for the PQ family). Driver memory: O(K x dim) ints each —
# the caches themselves live next to the integer trainers below.

# Codebooks/centroids train on a bounded deterministic sample (vec_id
# cap) — at 100 TB you never train k-means on the full corpus; the
# sample bounds iteration cost while assignment still covers everything.
TRAIN_SAMPLE_CAP = 2048
TOP_K = 5


def _ranked_topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "score", "rank")
    )


def ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 10,
    self excluded). The query side is broadcast, so the corpus scan is a
    single narrow pass — the right brute-force shape at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("q_emb"), F.col("embedding")), 6).alias("score"),
        )
    )
    return _ranked_topk(scored)


ANN_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(
           list_dot_product(q.q_emb, e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.q_emb, q.q_emb))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
           6) AS score
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""

NLIST = 16  # k-means cells
NPROBE = 4  # cells probed per query (~25% of corpus scanned, ~0.9 recall)
KMEANS_ITERS = 5


TRAIN_COLLECT_CAP = 8192  # hard ceiling on rows a trainer may collect


# --- integer-exact IVF / PQ / SemDeDup training ----------------------------
# The coarse quantizer and the PQ codebooks train on coordinates
# quantized ONCE to the 1e-6 integer grid (the operators/clustering.py
# convention: q = floor(x * 10^6) + 2^20 — floor of an IEEE double
# multiply is engine-identical, the offset keeps q positive so integer
# division floors identically in numpy //, Spark DIV and DuckDB //).
# Every training decision (squared distances, argmin with ties to the
# lowest cid, floor-mean updates) is then exact integer arithmetic, so
# DuckDB replays the IDENTICAL codebooks and the whole IVF/PQ pipeline
# carries a full SQL oracle — the same bar ann_lsh_topk's integer
# planes set (no float boundary anywhere before the final rounded
# cosine re-rank).
from tinymapreduce_spark.operators.clustering import QUANT_OFFSET, QUANT_SCALE

_CENTROID_INT_CACHE: dict[str, list[list[int]]] = {}
_PQ_CB_INT_CACHE: dict[str, list[tuple[int, int, list[int]]]] = {}
_SEMDEDUP_CENT_CACHE: dict[tuple[str, int], list[list[int]]] = {}


def _quantize(col: F.Column) -> F.Column:
    """array<float> -> array<bigint> on the 1e-6 grid, positive."""
    return F.transform(
        col,
        lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("long")
        + F.lit(QUANT_OFFSET),
    )


def _collect_quantized_sample(emb: DataFrame):
    """The bounded deterministic training sample as an int64 numpy
    matrix (TRAIN_SAMPLE_CAP vec_id window, TRAIN_COLLECT_CAP row cap —
    never a data-sized collect; faiss trains on a ~100k reservoir the
    same way)."""
    import numpy as np

    rows = (
        emb.where(F.col("vec_id") < TRAIN_SAMPLE_CAP)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(TRAIN_COLLECT_CAP)
        .collect()
    )
    if not rows:
        return None
    x = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    return np.floor(x * QUANT_SCALE).astype(np.int64) + QUANT_OFFSET


def _lloyds_int(x, k: int, iters: int):
    """Integer Lloyd's: init = first k sample rows, argmin ties to the
    lowest cid (numpy argmin is first-min), floor-mean updates, empty
    cells keep their previous centroid. Pure int64 — exactly the update
    rule the SQL oracles unroll."""
    c = x[:k].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=-1)
        a = d.argmin(axis=1)
        for cid in range(k):
            members = x[a == cid]
            if len(members):
                c[cid] = members.sum(axis=0) // len(members)
    return c


def _cached_centroids_int(spark: SparkSession, sf_dir: str, emb: DataFrame) -> list[list[int]]:
    if sf_dir not in _CENTROID_INT_CACHE:
        x = _collect_quantized_sample(emb)
        _CENTROID_INT_CACHE[sf_dir] = (
            [] if x is None else [[int(v) for v in row] for row in _lloyds_int(x, NLIST, KMEANS_ITERS)]
        )
    return _CENTROID_INT_CACHE[sf_dir]


_EMPTY_TOPK_DDL = "query_id long, vec_id long, score double, rank long"


def _with_cell_dists(df: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, embedding, ds): squared integer-grid L2 distance to
    every centroid — one broadcast array-of-arrays centroid row joined
    onto the vector frame, so assignment is a narrow map over the
    corpus with no shuffle. Shared by the batch IVF index and the
    streaming ingest path (streaming/sinks.stream_ann_ingest)."""
    from tinymapreduce_spark.sources.loaders import local_literal_frame

    cdf = local_literal_frame(df.sparkSession, [(cents,)], "cs array<array<bigint>>")
    dists = F.transform(
        "cs",
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    return (
        df.select("vec_id", "embedding", _quantize(F.col("embedding")).alias("qv"))
        .join(F.broadcast(cdf))
        .select("vec_id", "embedding", dists.alias("ds"))
    )


def _nearest_cid(ds_col: str = "ds") -> F.Column:
    """argmin over the ds distance array, first-min (lowest-cid) ties —
    exactly the ROW_NUMBER (dist ASC, cid ASC) rule the SQL oracles
    unroll."""
    return (F.array_position(ds_col, F.array_min(ds_col)) - 1).cast("int")


def _ivf_cells_probes(
    spark: SparkSession, sf_dir: str, emb: DataFrame
) -> tuple[DataFrame, DataFrame] | None:
    """Shared IVF structure: (cells, probes). cells = every corpus
    vector's nearest integer centroid (argmin sqdist, ties to lowest
    cid); probes = each query's NPROBE nearest cells (sorted
    (dist, cid) structs — no window, one broadcast of a single
    array-of-arrays centroid row, identical plan every call)."""
    cents = _cached_centroids_int(spark, sf_dir, emb)
    if not cents:
        return None
    assigned = _with_cell_dists(emb, cents)
    cells = assigned.select("vec_id", "embedding", _nearest_cid().alias("cid"))
    probe_structs = F.slice(
        F.array_sort(
            F.transform(
                "ds", lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("cid"))
            )
        ),
        1,
        NPROBE,
    )
    probes = (
        assigned.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(probe_structs).alias("p"),
        )
        .select("query_id", "q_emb", F.col("p.cid").alias("cid"))
    )
    return cells, probes


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: integer-Lloyd's coarse quantizer (L2 on
    the 1e-6 grid — the faiss IVF-Flat shape); each vector lives in its
    nearest-centroid cell; each query probes its NPROBE nearest cells
    and exact-cosine-scores only those members.

    Scan cost per query drops from O(N) to ~NPROBE/NLIST of the corpus,
    and the cell join is an equi-join on cid — at 100 TB that's a
    partition-pruned shuffle, not a broadcast cross product. The
    training is integer-exact, so ANN_IVF_TOPK_SQL replays codebook,
    cells, probes and scores — a FULL-pipeline oracle;
    tests/test_invariants.py additionally asserts recall >= 0.7 vs
    ann_topk_cosine."""
    from tinymapreduce_spark.sources.loaders import spread_for_cpu

    # spread_for_cpu: assignment (k x dim distance fold per row) and the
    # within-cell scoring join otherwise run on the single-file scan's
    # ONE task (guide §2.5 input skew); no-op on multi-file corpora.
    emb = spread_for_cpu(spark, load_table(spark, sf_dir, "embeddings"))
    cp = _ivf_cells_probes(spark, sf_dir, emb)
    if cp is None:
        return spark.createDataFrame([], _EMPTY_TOPK_DDL)
    cells, probes = cp
    scored = (
        cells.join(F.broadcast(probes), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("q_emb"), F.col("embedding")), 6).alias("score"),
        )
    )
    return _ranked_topk(scored)


# Random-hyperplane (SimHash) LSH: L signature tables of B bits each,
# multi-probe (query probes its bucket plus every 1-bit-flip neighbor).
# On this corpus true neighbors sit at cosine ~0.26-0.49 (theta ~70deg,
# per-bit agreement ~0.6), so single-probe recall would be ~0.25; multi-
# probe at L=12 lifts it to ~0.8 while still scanning well under half
# the corpus per query (asserted in tests/test_invariants.py).
LSH_TABLES = 12
LSH_BITS = 8


LSH_SCALE = 1_000_000  # embedding quantization for sign-exact dot products
LSH_PLANE_M = 1 << 20  # plane components are exact ints in [-M, M]


def _portable_planes(emb: DataFrame, emb_col: str) -> DataFrame:
    """ALL L×B hyperplanes as ONE nested broadcast row, components drawn
    from the portable md5 h60 family (``functions/hashing.py``) so the
    DuckDB oracle derives bit-identical planes: component (t, b, j) =
    h60("lshp-t-b-j") mod (2M+1) − M, an exact integer. Plan size stays
    O(1) in the embedding dimension (components come from a lambda over
    ``sequence(0, dim-1)``; dim is read from the DATA via a 1-row
    broadcast, never inlined as literals — the r01 codegen-size fix,
    now without the engine-private xxhash64)."""
    from tinymapreduce_spark.functions.hashing import h60

    spark = emb.sparkSession
    dim_row = emb.select(F.size(emb_col).alias("_d")).limit(1)
    tb = spark.range(LSH_TABLES * LSH_BITS).select(
        (F.col("id") / LSH_BITS).cast("int").alias("t"),
        (F.col("id") % LSH_BITS).cast("int").alias("b"),
    )
    comp = lambda j: (  # noqa: E731
        F.pmod(
            h60(
                F.concat_ws(
                    "-",
                    F.lit("lshp"),
                    F.col("t").cast("string"),
                    F.col("b").cast("string"),
                    j.cast("string"),
                )
            ),
            F.lit(2 * LSH_PLANE_M + 1),
        )
        - F.lit(LSH_PLANE_M)
    )
    planes = tb.crossJoin(F.broadcast(dim_row)).select(
        "t",
        "b",
        F.transform(F.sequence(F.lit(0), F.col("_d") - 1), comp).alias("p"),
    )
    return planes.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("t", "b", "p"))).alias("_P")
    )


def _signatures_index(df: DataFrame, emb_col: str, id_col: str) -> DataFrame:
    """The narrow (id, t, bucket) signature index: bit b of table t is
    sign(⟨quantized embedding, integer plane(t, b)⟩). Both sides of the
    dot product are exact integers (floor(x·1e6) vs the h60-derived
    plane), so every SIGN — hence every bucket, candidate set, and
    output row — is an exact function of the data that the SQL oracle
    replays bit-for-bit; no float summation order anywhere near a
    decision boundary. One narrow pass over the scan plus a 1-row plane
    broadcast; signatures explode to L rows per vector, embeddings are
    never replicated per table."""
    planes = _portable_planes(df, emb_col)
    qe = F.transform(
        F.col(emb_col), lambda x: F.floor(x.cast("double") * LSH_SCALE).cast("long")
    )
    with_q = df.select(F.col(id_col), qe.alias("_qe")).crossJoin(F.broadcast(planes))
    zero = F.lit(0).cast("long")

    def dot(plane):
        return F.aggregate(
            F.zip_with(F.col("_qe"), plane, lambda x, y: x * y),
            zero,
            lambda acc, x: acc + x,
        )

    def bucket_t(t):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(LSH_BITS - 1)),
            zero,
            lambda acc, b: acc
            + F.when(
                dot(
                    F.element_at(
                        F.col("_P"), (t * LSH_BITS + b + 1).cast("int")
                    )["p"]
                )
                > 0,
                # 2^b as exact integer (shiftleft needs a literal shift)
                F.pow(F.lit(2.0), b.cast("double")).cast("long"),
            ).otherwise(zero),
        )

    buckets = F.transform(F.sequence(F.lit(0), F.lit(LSH_TABLES - 1)), bucket_t)
    return with_q.select(
        F.col(id_col), F.posexplode(buckets).alias("t", "bucket")
    ).select(id_col, F.col("t").cast("int").alias("t"), "bucket")


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: corpus vectors index into L=12
    8-bit sign-hash buckets; each query probes its own bucket and the 8
    one-bit-flip neighbors per table; only bucket-colliding vectors are
    exactly scored.

    Scale shape: the signature index is a NARROW (vec_id, table, bucket)
    relation — embeddings themselves are never replicated per table.
    Probes (queries x tables x 9) broadcast; the candidate join therefore
    shuffles nothing but the slim index, and full vectors are fetched
    once per distinct candidate for exact scoring. Per-query scan
    fraction is the bucket collision rate (<~40% here, ~2^-B per random
    pair per probe in high-similarity regimes) instead of 100% for brute
    force.

    Exactness: signatures are integer-exact over the portable md5 plane
    family (``_signatures_index``), so bucket membership — and with it
    the candidate sets and the final top-k — is a pure function of the
    data, and the DuckDB oracle (ANN_LSH_TOPK_SQL) replays the ENTIRE
    index→probe→candidate→exact-score pipeline; the driver hash-checks
    it like any exact query. Recall >= 0.6 vs the exact baseline is
    additionally asserted in tests/test_invariants.py."""
    return ann_lsh_topk_df(load_table(spark, sf_dir, "embeddings"))


def ann_lsh_topk_df(emb: DataFrame, n_queries: int = N_QUERIES) -> DataFrame:
    """LSH top-k body over any ``(vec_id, embedding)`` frame — split out
    so tests can certify recall on synthetic high-dim (>= 256) corpora,
    where the hashed-plane formulation must stay O(1) in plan size."""
    index = _signatures_index(
        emb.select("vec_id", "embedding"), "embedding", "vec_id"
    )

    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    q_index = _signatures_index(
        queries.select(F.col("query_id").alias("qid"), "q_emb"), "q_emb", "qid"
    )
    probes = q_index.select(
        "qid",
        "t",
        F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(LSH_BITS)],
            )
        ).alias("bucket"),
    )

    cand = (
        index.join(F.broadcast(probes), ["t", "bucket"])
        .where(F.col("vec_id") != F.col("qid"))
        .select(F.col("qid").alias("query_id"), "vec_id")
        .distinct()
    )
    scored = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("q_emb"), F.col("embedding")), 6).alias("score"),
        )
    )
    return _ranked_topk(scored)


# The synthetic embeddings top out near cosine ~0.47 within a label, so a
# classic 0.95 bar would be VACUOUS on this corpus (always-empty output
# proves nothing); the bar sits where real neighbor structure exists,
# same rationale as SEMDEDUP_THRESHOLD below.
EMB_NEARDUP_THRESHOLD = 0.35


def embedding_neardup_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = EMB_NEARDUP_THRESHOLD
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the embedding tier of the
    dedup ladder): bucket by label (IVF cell), compare only within a
    bucket — the blocked all-pairs pattern that keeps 100 TB dedup from
    being O(N^2). SQL-oracle-able because the blocking is deterministic.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"), "label")
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"), "label")
    return (
        a.join(b, "label")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("emb_a"), F.col("emb_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


EMB_NEARDUP_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(
         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
         6) AS cosine
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(
        list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
        6) >= {EMB_NEARDUP_THRESHOLD}
"""


# The synthetic embeddings have no 0.95-cosine near-dups (max within-label
# cosine ~0.47), so the semantic-dedup bar is set where real neighbor
# structure exists in this corpus.
SEMDEDUP_THRESHOLD = 0.35
SEMDEDUP_K = 8  # codebook size FLOOR (the occupancy rule never goes below it)
SEMDEDUP_NASSIGN = 2  # soft assignment: each vector lives in its 2 nearest cells
SEMDEDUP_SALT = 8  # pair-join fan-out per cell (see pair stage below)
# Occupancy rule (VERDICT r8 #1): the registered k is derived from the
# corpus size — k = max(SEMDEDUP_K, min(TRAIN_SAMPLE_CAP, n // 250)) —
# so cells stay ~250*nassign vectors at ANY scale instead of growing
# linearly with N (fixed k=8 put ~50k vectors per cell at the x100
# probe: ~1e9 within-cell pairs, killed after 25 min; the same corpus
# at the derived k=800 completes in ~250 s). The TRAIN_SAMPLE_CAP
# clamp is the honest boundary: init centroids come from the bounded
# sample, so past n = TRAIN_SAMPLE_CAP * 250 (~512k vectors) the cells
# grow again until the sample cap is raised with the fleet size.
SEMDEDUP_TARGET_CELL = 250

_EMB_COUNT_CACHE: dict[str, int] = {}


def _semdedup_k(sf_dir: str, emb: DataFrame) -> int:
    """Occupancy-scaled codebook size (see SEMDEDUP_TARGET_CELL above).
    Pure integer arithmetic on COUNT(*) — the SQL oracle derives the
    identical k with GREATEST/LEAST/// over the same count."""
    if sf_dir not in _EMB_COUNT_CACHE:
        _EMB_COUNT_CACHE[sf_dir] = emb.count()
    n = _EMB_COUNT_CACHE[sf_dir]
    return max(SEMDEDUP_K, min(TRAIN_SAMPLE_CAP, n // SEMDEDUP_TARGET_CELL))


def semdedup_drops(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int | None = None,
    nassign: int = SEMDEDUP_NASSIGN,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    embeddings with spherical k-means, compare pairs ONLY within a cell,
    and for every vector whose within-cell cosine to a lower-id vector
    clears the threshold, emit a drop decision ``(vec_id, kept_by,
    cosine)`` — keep-lowest-id, matching the exact dedup ladder's
    convention. Soft assignment (each vector in its ``nassign`` nearest
    cells) recovers pairs that straddle a cell boundary — measured drop
    recall vs the exact all-pairs ground truth is ~0.85 here vs ~0.5
    single-assigned.

    Scale shape: the codebook pass is a broadcast join (k x dim matrix on
    the driver only), cell assignment is one narrow pass, and the
    pairwise stage is an equi-join on cid — cost O(N^2 * nassign^2 / k)
    instead of O(N^2), with each cell's pairs co-located in one shuffle
    partition. Since round 9 the REGISTERED default derives k from the
    corpus size (`_semdedup_k`: occupancy ~SEMDEDUP_TARGET_CELL *
    nassign vectors per cell), so the within-cell pair cost is
    O(N * TARGET_CELL * nassign^2) — linear in N — up to the
    training-sample clamp documented at SEMDEDUP_TARGET_CELL. At 100 TB
    the remaining moves are raising the sample cap with the fleet and
    recursing into oversized cells.

    Still approximate by construction (a near-dup pair outside any
    shared cell is missed) — but since round 4 the cell index trains
    with the same integer Lloyd's as the IVF tier (1e-6-grid
    quantization, floor-mean updates, argmin ties to the lowest cid),
    so every blocking decision is an exact-integer function of the data
    and SEMDEDUP_DROPS_SQL replays the WHOLE pipeline: training rounds,
    soft assignment, within-cell pairs, rounded cosines, keeper
    selection. tests/test_invariants.py additionally asserts drop
    recall >= 0.75 against the exact all-pairs form and that every
    emitted cosine really clears the threshold (precision = 1).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    if k is None:
        k = _semdedup_k(sf_dir, emb)
    # spread_for_cpu for the assignment/pair chain below: the k x dim
    # distance fold per row and the norm pass otherwise run on the
    # single-file scan's ONE task (guide §2.5 input skew); the count()
    # and training sample above stay on the raw scan (partition-count
    # independent). No-op on multi-file corpora.
    from tinymapreduce_spark.sources.loaders import spread_for_cpu

    emb_s = spread_for_cpu(spark, emb)
    cache_key = (sf_dir, k)
    if cache_key not in _SEMDEDUP_CENT_CACHE:
        x = _collect_quantized_sample(emb)
        _SEMDEDUP_CENT_CACHE[cache_key] = (
            []
            if x is None
            else [[int(v) for v in row] for row in _lloyds_int(x, k, KMEANS_ITERS)]
        )
    cents = _SEMDEDUP_CENT_CACHE[cache_key]
    if not cents:
        return spark.createDataFrame([], "vec_id long, kept_by long, cosine double")
    from tinymapreduce_spark.sources.loaders import local_literal_frame

    cdf = local_literal_frame(spark, [(cents,)], "cs array<array<bigint>>")
    dists = F.transform(
        "cs",
        lambda c: F.aggregate(
            F.zip_with(F.col("qv"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    cell_structs = F.slice(
        F.array_sort(
            F.transform(
                "ds", lambda d, i: F.struct(d.alias("d"), i.cast("int").alias("cid"))
            )
        ),
        1,
        nassign,
    )
    cells = (
        emb_s.select("vec_id", "embedding", _quantize(F.col("embedding")).alias("qv"))
        .join(F.broadcast(cdf))
        .select("vec_id", "embedding", dists.alias("ds"))
        .select("vec_id", "embedding", F.explode(cell_structs).alias("p"))
        .select("vec_id", "embedding", F.col("p.cid").alias("cid"))
    )
    # Pair stage tuned for the two things the plan audit flagged:
    # (1) each row's L2 norm is computed ONCE here (sqrt of the same
    # ordered fold -> bit-identical cosine), so the per-pair work is a
    # single dot product instead of dot + two norms; (2) the cid
    # equi-join alone has only k distinct keys, so it is salted
    # (b-side bucketed by vec_id, a-side replicated) to spread the
    # within-cell pair work over k * SEMDEDUP_SALT shuffle partitions —
    # the same skew treatment as plans/layout.py::salted_skew_join.
    # cells is O(N * nassign) narrow rows; materialized so the
    # self-join's two sides share one computation of the assignment
    # window — unlike persist(), its blocks are released by the context
    # cleaner when the frame is GC'd, so repeated invocations in a
    # long-lived bench session don't accumulate storage.
    from tinymapreduce_spark.functions.vectors import dot, l2_norm

    cells = materialize(cells.withColumn("nrm", l2_norm(F.col("embedding"))))
    a = cells.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
        "cid",
    ).withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SEMDEDUP_SALT)])))
    b = cells.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
        "cid",
        F.pmod(F.col("vec_id"), F.lit(SEMDEDUP_SALT)).cast("int").alias("salt"),
    )
    # Pin the pair-join exchanges to an EXPLICIT partition count. The
    # join shuffles both sides on (cid, salt) anyway, but left implicit
    # the exchanges are AQE-coalescible — and this is the textbook
    # small-bytes/heavy-CPU shuffle AQE coalescing ruins: a few MB of
    # embedding rows fan out into O(cell^2) dot products, so the
    # byte-sized target collapsed the pair stage to 1-6 tasks (and the
    # runtime build-side flip made it bimodal: measured 2.5 s vs
    # 6.7-10.9 s for identical runs in one session). An explicit count
    # is exempt from coalescing; it tracks cluster cores at scale.
    par = spark.sparkContext.defaultParallelism
    pairs = (
        a.repartition(par, "cid", "salt")
        .join(b.repartition(par, "cid", "salt"), ["cid", "salt"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        # soft assignment can surface the same pair from two shared cells
        .dropDuplicates(["id_a", "id_b"])
    )
    # A doc may clear the bar against several keepers; keep the best
    # (highest cosine, then lowest keeper id) so output is deterministic.
    w = Window.partitionBy("id_b").orderBy(F.desc("cosine"), F.asc("id_a"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("id_b").alias("vec_id"),
            F.col("id_a").alias("kept_by"),
            "cosine",
        )
    )


LEV_MAX = 2


def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance self-join — the entity-resolution primitive
    (near-identical product names, misspelled titles): distinct part
    names paired when they share a blocking key AND levenshtein <= 2.

    The blocking key (the name's last token — the product family) is
    what makes this scale: candidate pairs are generated per block by an
    equi-join, so the quadratic levenshtein only runs within blocks, not
    across the full cross product (the standard blocking/filtering
    decomposition every record-linkage system uses; at 100 TB the
    blocks themselves are the partition keys). levenshtein and the
    a < b orientation are bit-identical in Spark and DuckDB, so the
    pair set oracle-checks exactly."""
    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct().withColumn(
        "blk", F.element_at(F.split("name", " "), -1)
    )
    a = names.select(F.col("name").alias("name_a"), "blk")
    b = names.select(F.col("name").alias("name_b"), "blk")
    return (
        a.join(b, "blk")
        .where(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
        .where(F.col("dist") <= LEV_MAX)
    )


FUZZY_LEV_SQL = f"""
WITH names AS (SELECT DISTINCT p_name AS name FROM part)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS dist
FROM names a JOIN names b
  ON split_part(a.name, ' ', -1) = split_part(b.name, ' ', -1)
 AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= {LEV_MAX}
"""


QUANT_LEVELS = 255


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization of the embedding column — the
    4x storage/bandwidth reduction every 100 TB vector corpus applies
    before ANN indexing: each float maps to floor((x-min)*255/(max-min))
    in [0,255], with (min, max) kept per vector for dequantization.

    Everything is a Catalyst higher-order-function expression (transform
    / array_min / array_max) — no UDF, no shuffle at all: the operator is
    embarrassingly parallel, one narrow stage over the scan, which is the
    whole point at scale. Codes are emitted as an md5 fingerprint plus
    their exact integer sum (order-insensitive checksums the oracle can
    reproduce); IEEE double arithmetic makes the code assignment
    bit-identical in DuckDB. tests/test_invariants.py bounds the
    reconstruction error at one quantization step."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select("vec_id", a.alias("a")).select(
        "vec_id", "a", F.array_min("a").alias("mn"), F.array_max("a").alias("mx")
    )
    rng = F.col("mx") - F.col("mn")
    code = lambda x: F.least(  # noqa: E731
        F.lit(QUANT_LEVELS),
        F.greatest(F.lit(0), F.floor((x - F.col("mn")) * QUANT_LEVELS / rng)),
    ).cast("int")
    qv = F.when(rng == 0, F.transform(F.col("a"), lambda x: F.lit(0))).otherwise(
        F.transform(F.col("a"), code)
    )
    # rounding happens in a SEPARATE select: an `... AS mn` alias in the
    # same projection would lateral-alias-resolve the code lambda's
    # F.col("mn") to the ROUNDED value and shift codes by one step
    return d.select(
        "vec_id",
        "mn",
        "mx",
        F.md5(F.array_join(F.transform(qv, lambda q: q.cast("string")), ",")).alias("codes_md5"),
        F.aggregate(qv, F.lit(0).cast("long"), lambda acc, q: acc + q).alias("codes_sum"),
    ).select(
        "vec_id",
        F.round("mn", 6).alias("mn"),
        F.round("mx", 6).alias("mx"),
        "codes_md5",
        "codes_sum",
    )


EMBEDDING_QUANTIZE_SQL = f"""
WITH d AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
  FROM embeddings
), s AS (
  SELECT vec_id, a, list_min(a) AS mn, list_max(a) AS mx FROM d
), q AS (
  SELECT vec_id, mn, mx,
         CASE WHEN mx = mn THEN list_transform(a, x -> 0)
              ELSE list_transform(a, x -> CAST(LEAST({QUANT_LEVELS},
                     GREATEST(0, FLOOR((x - mn) * {QUANT_LEVELS} / (mx - mn)))) AS INT))
         END AS qv
  FROM s
)
SELECT vec_id, ROUND(mn, 6) AS mn, ROUND(mx, 6) AS mx,
       md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')) AS codes_md5,
       CAST(list_sum(qv) AS BIGINT) AS codes_sum
FROM q
"""


NEG_K = 5
NEG_QUERIES = 10  # same demo query set as ann_topk_cosine


def negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    for each query vector, pick ``NEG_K`` candidates of a DIFFERENT
    label (guaranteed negatives), chosen by hash priority
    md5(query:candidate) — reproducible across runs and engines, no RNG
    state to ship. The (anchor, negative) table is what a contrastive
    loss consumes next to the ann_topk_cosine positives.

    The candidate relation is queries x different-label vectors — a
    broadcast nested-loop on the tiny query side with a theta predicate,
    then a per-query hash-priority top-k (one shuffle on query_id).
    At corpus scale you'd pre-bucket candidates by label and sample
    within buckets; the hash-priority trick is identical."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    queries = emb.where(F.col("vec_id") < NEG_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    cand = emb.select(F.col("vec_id").alias("neg_id"), F.col("label").alias("n_label"))
    pri = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("query_id"), F.col("neg_id"))), 1, 6
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy("pri", "neg_id")
    return (
        F.broadcast(queries)
        .join(cand, F.col("q_label") != F.col("n_label"))
        .select("query_id", "neg_id", "n_label", pri.alias("pri"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= NEG_K)
        .select("query_id", "neg_id", F.col("n_label").alias("neg_label"), F.col("rk").cast("long").alias("rk"))
    )


NEGATIVE_SAMPLING_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS q_label FROM embeddings WHERE vec_id < {NEG_QUERIES}
), cand AS (
  SELECT vec_id AS neg_id, label AS n_label FROM embeddings
), scored AS (
  SELECT query_id, neg_id, n_label,
         CAST(('0x' || substr(md5(CAST(query_id AS VARCHAR) || ':' || CAST(neg_id AS VARCHAR)), 1, 6))::BIGINT AS BIGINT) AS pri
  FROM q JOIN cand ON q_label <> n_label
), ranked AS (
  SELECT query_id, neg_id, n_label,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pri, neg_id) AS rk
  FROM scored
)
SELECT query_id, neg_id, n_label AS neg_label, rk
FROM ranked WHERE rk <= {NEG_K}
"""


# --- Product Quantization ANN (Jegou/Douze/Schmid, TPAMI 2011) --------
# The memory-scale path: vectors compress to PQ_M one-byte codes (here
# 16 one-byte codes vs 64 float64s = 32x smaller), and query scoring becomes
# table lookups (ADC) instead of full-dim arithmetic. IVF prunes WHICH
# vectors to score; PQ shrinks WHAT is stored and scored — at 100 TB
# they compose (IVF-PQ).
PQ_M = 16  # subspaces (dim 64 -> 4-dim subvectors)
PQ_K = 32  # centroids per subspace codebook
PQ_ITERS = 3  # pool re-rank masks codebook residual error; 3 Lloyd rounds suffice
PQ_RERANK_POOL = 8 * TOP_K  # ADC candidates per query that get exact re-rank


def _subvectors(df: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """(id, m, sub) — each vector split into PQ_M contiguous subvectors.
    Slice bounds are Column arithmetic over size(), so the plan is O(1)
    in dim."""
    e = F.col(emb_col)
    sub_len = (F.size(e) / PQ_M).cast("int")
    arr = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(e, F.lit(m) * sub_len + 1, sub_len).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(F.col(id_col).alias("id"), F.explode(arr).alias("s")).select(
        "id", "s.m", "s.sub"
    )


def _sqdist_int(a, b):
    """Exact integer squared distance between two array<bigint>s."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_assign(subs: DataFrame, cb: DataFrame) -> DataFrame:
    """(id, m, cid): nearest centroid per subvector. One broadcast join
    + one hash aggregate — the deterministic argmin rides a struct MIN
    (lexicographic (dist, cid) — exact BIGINTs, so ties break to the
    lowest cid with no float boundary), no window, no shuffle beyond
    the agg."""
    scored = subs.join(F.broadcast(cb), "m").select(
        "id", "m", F.struct(_sqdist_int("sub", "centroid").alias("d"), F.col("cid")).alias("dc")
    )
    return scored.groupBy("id", "m").agg(F.min("dc").getField("cid").alias("cid"))


def _cached_pq_codebook(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """Per-subspace integer Lloyd's over the bounded sample (same
    justification as _cached_centroids_int: quantizer training is
    sample-bounded by design — faiss-style — so the collect is
    O(TRAIN_COLLECT_CAP), never data-sized; corpus ENCODING stays
    distributed via _pq_assign). Init = subvectors of the first PQ_K
    sample vectors by vec_id; assignment ties to the lowest cid;
    floor-mean updates — exactly the rounds the SQL oracles unroll."""
    if sf_dir not in _PQ_CB_INT_CACHE:
        x = _collect_quantized_sample(emb)
        codebook: list[tuple[int, int, list[int]]] = []
        if x is not None:
            sub_len = x.shape[1] // PQ_M
            for m in range(PQ_M):
                c = _lloyds_int(x[:, m * sub_len : (m + 1) * sub_len], PQ_K, PQ_ITERS)
                codebook.extend(
                    (m, cid, [int(v) for v in c[cid]]) for cid in range(min(PQ_K, len(c)))
                )
        _PQ_CB_INT_CACHE[sf_dir] = codebook
    from tinymapreduce_spark.sources.loaders import local_literal_frame

    return local_literal_frame(
        spark, _PQ_CB_INT_CACHE[sf_dir], "m int, cid int, centroid array<bigint>"
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization approximate top-k via asymmetric distance
    computation (ADC): the corpus lives as PQ_M one-byte codes; each
    query builds a (m, cid) -> squared-distance table against the
    codebook, and an approximate distance is the SUM of PQ_M table
    lookups — no full-dim arithmetic per candidate.

    Scale shape: the codes index is a narrow (vec_id, m, code) relation
    (PQ_M bytes/vector of payload); the per-query distance table
    (queries x PQ_M x PQ_K rows) broadcasts; scoring is one equi-join on
    (m, code) + one hash aggregate. Compose with IVF cells for the full
    IVF-PQ at 100 TB. Training, codes and ADC distances are all exact
    integers on the 1e-6 grid, so ANN_PQ_TOPK_SQL replays the ENTIRE
    pipeline (codebooks, codes, distance tables, pool, re-rank); recall
    vs the exact baseline additionally asserted in
    tests/test_invariants.py."""
    emb = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    cb = _cached_pq_codebook(spark, sf_dir, emb)

    qemb = emb.select("vec_id", "embedding", _quantize(F.col("embedding")).alias("qv"))
    codes = _pq_assign(_subvectors(qemb, "vec_id", "qv"), cb).select(
        F.col("id").alias("vec_id"), "m", F.col("cid").alias("code")
    )

    queries = qemb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding", "qv"
    )
    dt = (
        _subvectors(queries, "query_id", "qv")
        .join(F.broadcast(cb), "m")
        .select(
            F.col("id").alias("query_id"),
            "m",
            F.col("cid").alias("code"),
            _sqdist_int("sub", "centroid").alias("d"),
        )
    )
    scored = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("approx_dist"))
    )
    # Retrieve-then-rerank (the standard PQ deployment): ADC selects a
    # candidate pool, exact cosine re-ranks it. Only POOL vectors per
    # query ever see full-dim arithmetic.
    pool = PQ_RERANK_POOL
    wa = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    cand = (
        scored.withColumn("prank", F.row_number().over(wa))
        .where(F.col("prank") <= pool)
        .select("query_id", "vec_id")
    )
    exact = (
        cand.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(
            F.broadcast(queries.select("query_id", F.col("embedding").alias("q_emb"))),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("q_emb"), F.col("embedding")), 6).alias("score"),
        )
    )
    return _ranked_topk(exact)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition that actually runs at 100 TB: IVF cells
    decide WHICH vectors to consider (probe NPROBE of NLIST cells per
    query), PQ codes decide HOW they are scored (ADC table lookups on a
    16-byte-per-vector index), and a final exact re-rank polishes the
    top pool. Per-query cost: (NPROBE/NLIST) of the corpus, scored with
    no full-dim arithmetic until the last POOL candidates.

    Both structures train driver-side on the bounded sample in exact
    integer arithmetic (see _cached_centroids_int /
    _cached_pq_codebook), so ANN_IVFPQ_TOPK_SQL replays the composed
    pipeline end to end; recall vs the exact baseline additionally
    asserted in tests/test_invariants.py."""
    # One materialization serves all four consumers (cell assignment,
    # PQ code build, query projection, exact re-rank join). Relying on
    # AQE exchange reuse here proved NONDETERMINISTIC: when the reuse
    # missed, the scan + repartition + quantize subtree re-executed per
    # consumer (event-log: 10 heavy stages instead of 5, 2.0 s vs
    # 4.5 s for identical runs). The explicit count tracks cluster
    # cores instead of the previous hard 32.
    emb = materialize(
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )

    # IVF: cell assignment + query probes (shared with ann_ivf_topk)
    cp = _ivf_cells_probes(spark, sf_dir, emb)
    if cp is None:
        return spark.createDataFrame([], _EMPTY_TOPK_DDL)
    cells, probes = cp

    # PQ: codes index + per-query ADC distance tables
    cb = _cached_pq_codebook(spark, sf_dir, emb)
    qemb = emb.select("vec_id", "embedding", _quantize(F.col("embedding")).alias("qv"))
    codes = _pq_assign(_subvectors(qemb, "vec_id", "qv"), cb).select(
        F.col("id").alias("vec_id"), "m", F.col("cid").alias("code")
    )
    queries = qemb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding", "qv"
    )
    dt = (
        _subvectors(queries, "query_id", "qv")
        .join(F.broadcast(cb), "m")
        .select(
            F.col("id").alias("query_id"),
            "m",
            F.col("cid").alias("code"),
            _sqdist_int("sub", "centroid").alias("d"),
        )
    )

    # candidates = members of probed cells; scored by ADC lookups only
    cand = (
        cells.select("vec_id", "cid")
        .join(F.broadcast(probes.select("query_id", "cid")), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(dt), ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("approx_dist"))
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("vec_id"))
    pool = (
        scored.withColumn("prank", F.row_number().over(wa))
        .where(F.col("prank") <= PQ_RERANK_POOL)
        .select("query_id", "vec_id")
    )
    exact = (
        pool.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(
            F.broadcast(queries.select("query_id", F.col("embedding").alias("q_emb"))),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("q_emb"), F.col("embedding")), 6).alias("score"),
        )
    )
    return _ranked_topk(exact)


# --- doc -> dense vector without a model: signed feature hashing ------------
FH_DIMS = 60  # one dim per bit of the portable 60-bit hash
FH_QUERIES = 10
FH_TOP_K = 5


def _doc_hash_embedding_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, e array<bigint>) — signed feature-hashing projection
    (the hash kernel of Weinberger et al., ICML'09): dimension d of a
    document is the sum over token OCCURRENCES of +/-1 by bit d of the
    token's portable 60-bit hash. One groupBy with FH_DIMS conditional
    sums — a single corpus pass, constant shuffle width per doc."""
    from tinymapreduce_spark.functions.hashing import h60
    from tinymapreduce_spark.functions.text import tokens

    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    h = tok.select("doc_id", h60(F.col("tok")).alias("h"))
    sums = h.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", d).bitwiseAND(F.lit(1).cast("long")) == 1, 1).otherwise(-1)
            ).alias(f"e{d}")
            for d in range(FH_DIMS)
        ]
    )
    return sums.select(
        "doc_id", F.array(*[f"e{d}" for d in range(FH_DIMS)]).alias("e")
    )


def doc_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The projection as a queryable table: (doc_id, dim, val), exact
    integers — the deterministic stand-in for a neural embedder that
    completes the doc -> vector -> ANN pipeline INSIDE the engine (the
    ``embeddings`` testdata table has no doc linkage). Exploded rows
    rather than arrays so the driver's value-hash sees scalars."""
    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    wide = _doc_hash_embedding_wide(documents_for_cpu(spark, sf_dir))
    return wide.select("doc_id", F.posexplode("e").alias("dim", "val"))


def doc_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors per query DOCUMENT over the hashed
    embeddings — the composed pipeline stage. Because the vectors are
    exact integers, the dot product and both norms are exact longs
    (|e_d| <= n_tokens, so norm products stay << 2^53 and the one
    float division + sqrt is engine-identical) — unlike the float
    ``embeddings`` table, the ANN answer itself carries an exact
    oracle. Query side broadcast; corpus scanned once."""
    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    wide = _doc_hash_embedding_wide(documents_for_cpu(spark, sf_dir))
    # row-local norm via withColumn — NOT a corpus×corpus self-join
    # (that shape would shuffle the whole table to re-attach a value
    # derivable in place)
    emb = wide.withColumn(
        "n2",
        F.aggregate(
            F.zip_with("e", "e", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    ).where(F.col("n2") > 0)
    queries = emb.where(F.col("doc_id") < FH_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("n2").alias("qn2"),
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
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
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= FH_TOP_K)
        .select("query_id", "doc_id", "score", "rank")
    )


_FH_SUMS_CTE = f"""
tok AS (
  SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok
), sums AS (
  SELECT doc_id, CAST(d AS INT) AS dim,
         CAST(SUM(CASE WHEN (h >> CAST(d AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS val
  FROM h CROSS JOIN range({FH_DIMS}) t(d)
  GROUP BY doc_id, d
)
"""

DOC_HASH_EMBEDDING_SQL = f"""
WITH {_FH_SUMS_CTE}
SELECT doc_id, dim, val FROM sums
"""

DOC_ANN_TOPK_SQL = f"""
WITH {_FH_SUMS_CTE},
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
), scored AS (
  SELECT d.query_id, d.doc_id,
         ROUND(d.dot / sqrt(CAST(d.qn2 * n.n2 AS DOUBLE)), 6) AS score
  FROM dots d JOIN norms n ON d.doc_id = n.doc_id
  WHERE n.n2 > 0
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {FH_TOP_K}
"""


# -- driver-checkable ANN quality rows -------------------------------
#
# The approximate tiers (IVF / LSH / PQ / IVF-PQ) are rows-only by
# construction as top-k outputs (float k-means training makes exact
# membership run-sensitive at boundaries). Their QUALITY is still
# hash-checkable: compute recall@k against the exact baseline entirely
# in-plan and emit one aggregate row whose values the oracle can derive
# (query count, k, exact-pair count) plus the recall invariant as a
# boolean with wide margin (measured recalls sit 0.15-0.25 above the
# thresholds, so codebook-boundary jitter of a pair or two cannot flip
# the bit). A broken index (empty probes, wrong banding, dead cells)
# flips recall_ok and the driver hash catches it.

ANN_RECALL_MIN_PCT = {"ivf": 70, "lsh": 60, "pq": 70, "ivfpq": 60}


def _recall_metric(
    spark: SparkSession, sf_dir: str, approx: DataFrame, min_recall_pct: int
) -> DataFrame:
    """Recall@k row vs the exact baseline. Every ANN index is now
    integer-exact (LSH planes, integer-Lloyd's IVF centroids, integer
    PQ codebooks), so the HIT COUNT itself is value-checked: the
    paired oracle recomputes both the exact and the approximate top-k
    in SQL and derives n_hit independently — no pinned booleans."""
    exact = ann_topk_cosine(spark, sf_dir).select("query_id", "vec_id")
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    return (
        exact.agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_exact"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_queries",
            F.lit(TOP_K).cast("long").alias("k"),
            "n_exact",
            "n_hit",
            (F.col("n_hit") * 100 >= F.col("n_exact") * min_recall_pct).alias(
                "recall_ok"
            ),
            F.lit(min_recall_pct).cast("long").alias("min_recall_pct"),
        )
    )


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF tier vs the exact baseline, in-plan."""
    return _recall_metric(
        spark, sf_dir, ann_ivf_topk(spark, sf_dir), ANN_RECALL_MIN_PCT["ivf"]
    )


def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the multi-probe LSH tier vs the exact baseline."""
    return _recall_metric(
        spark, sf_dir, ann_lsh_topk(spark, sf_dir), ANN_RECALL_MIN_PCT["lsh"]
    )


def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ retrieve+rerank tier vs the exact baseline."""
    return _recall_metric(
        spark, sf_dir, ann_pq_topk(spark, sf_dir), ANN_RECALL_MIN_PCT["pq"]
    )


def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the composed IVF-PQ tier vs the exact baseline."""
    return _recall_metric(
        spark, sf_dir, ann_ivfpq_topk(spark, sf_dir), ANN_RECALL_MIN_PCT["ivfpq"]
    )


def _ann_recall_value_sql(approx_sql: str, min_pct: int) -> str:
    """Oracle for a recall row: recomputes the exact AND the
    approximate top-k in SQL (the approximate index replays its full
    integer-exact pipeline) and derives n_hit from their join — the
    ann_lsh_recall pattern, now shared by every ANN tier."""
    return f"""
WITH m AS (
  SELECT
    CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < {N_QUERIES}) AS BIGINT)
      AS n_queries,
    CAST((SELECT SUM(LEAST({TOP_K}, (SELECT COUNT(*) FROM embeddings) - 1))
          FROM embeddings WHERE vec_id < {N_QUERIES}) AS BIGINT) AS n_exact,
    CAST((SELECT COUNT(*)
          FROM ({ANN_TOPK_SQL}) e
          JOIN ({approx_sql}) l
            ON e.query_id = l.query_id AND e.vec_id = l.vec_id) AS BIGINT)
      AS n_hit
)
SELECT n_queries,
       CAST({TOP_K} AS BIGINT) AS k,
       n_exact,
       n_hit,
       n_hit * 100 >= n_exact * {min_pct} AS recall_ok,
       CAST({min_pct} AS BIGINT) AS min_recall_pct
FROM m
"""


# The four ANN_*_RECALL_SQL bindings live AFTER the ANN_*_TOPK_SQL
# definitions below (each composes its tier's full-pipeline oracle).


def _ann_lsh_sql() -> str:
    """DuckDB replay of the ENTIRE LSH pipeline — portable planes,
    integer-exact signatures, multi-probe bit flips, candidate join,
    exact re-scoring — so the approximate index itself is hash-checked,
    not just its recall. Every decision (bucket bits) is a comparison of
    exact integers, so there is no float boundary anywhere before the
    final (rounded) cosine scores."""
    from tinymapreduce_spark.functions.hashing import H60_SQL_TMPL

    h = H60_SQL_TMPL.format(
        expr="'lshp-' || t.t || '-' || b.b || '-' || j"
    )
    return f"""
WITH dim AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
planes AS MATERIALIZED (
  SELECT t.t, b.b,
         list_transform(range(0, (SELECT d FROM dim)),
                        j -> ({h}) % {2 * LSH_PLANE_M + 1} - {LSH_PLANE_M}) AS p
  FROM range(0, {LSH_TABLES}) t(t), range(0, {LSH_BITS}) b(b)
),
qe AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {LSH_SCALE}) AS BIGINT)) AS q
  FROM embeddings
),
sigs AS MATERIALIZED (
  SELECT e.vec_id, p.t,
         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.q) + 1),
                                                    i -> e.q[i] * p.p[i])) > 0
                       THEN (CAST(1 AS BIGINT) << p.b) ELSE 0 END) AS BIGINT) AS bucket
  FROM qe e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
),
probes AS MATERIALIZED (
  SELECT s.vec_id AS qid, s.t,
         CASE WHEN f.j < 0 THEN s.bucket
              ELSE xor(s.bucket, CAST(1 AS BIGINT) << f.j) END AS bucket
  FROM sigs s, range(-1, {LSH_BITS}) f(j)
  WHERE s.vec_id < {N_QUERIES}
),
cand AS MATERIALIZED (
  SELECT DISTINCT p.qid AS query_id, s.vec_id
  FROM sigs s JOIN probes p ON s.t = p.t AND s.bucket = p.bucket
  WHERE s.vec_id <> p.qid
),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(
           list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
           6) AS score
  FROM cand c
  JOIN embeddings e ON c.vec_id = e.vec_id
  JOIN embeddings q ON c.query_id = q.vec_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


ANN_LSH_TOPK_SQL = _ann_lsh_sql()


# --- full-pipeline IVF / PQ / IVF-PQ oracles --------------------------------
# DuckDB replays the ENTIRE pipelines: the integer quantization, the
# unrolled Lloyd's training rounds (MATERIALIZED — every stage is
# referenced twice, the KMEANS_SQL lesson), cell/code assignment,
# probes, ADC distance tables, candidate pools and the exact rounded
# cosine re-rank. Every decision before the final rounded score is a
# comparison of exact BIGINTs, so the approximate indexes themselves
# are hash-checked — the ann_lsh_topk bar applied to the trained tier.

_COSINE_QE_SQL = (
    "ROUND(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6)"
)

_TRAIN_IDS_SQL = f"""SELECT vec_id FROM embeddings WHERE vec_id < {TRAIN_SAMPLE_CAP}
    ORDER BY vec_id LIMIT {TRAIN_COLLECT_CAP}"""


def _quant_cte() -> str:
    """v: every corpus vector in long format on the integer grid."""
    return f"""v AS MATERIALIZED (
  SELECT e.vec_id, g.i AS dim,
         CAST(FLOOR(CAST(e.embedding[g.i] AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)
           + {QUANT_OFFSET} AS q
  FROM embeddings e,
       LATERAL (SELECT UNNEST(generate_series(1, len(e.embedding))) AS i) g
)"""


def _train_ctes(k: int, iters: int, k_sql: str | None = None) -> str:
    """tv (bounded training sample) + c0..c{iters} integer-Lloyd's
    rounds for a k-centroid codebook — shared by the IVF oracle
    (k=NLIST) and the SemDeDup oracle, whose k is corpus-derived, so it
    passes ``k_sql`` (a scalar subquery over a kp CTE) for the LIMIT."""
    k_lim = k_sql if k_sql is not None else str(k)
    parts = [f"""tv AS MATERIALIZED (
  SELECT * FROM v WHERE vec_id IN ({_TRAIN_IDS_SQL})
), c0 AS MATERIALIZED (
  SELECT CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, dim, q AS c
  FROM tv WHERE vec_id IN (SELECT DISTINCT vec_id FROM tv ORDER BY vec_id LIMIT {k_lim})
)"""]
    for i in range(iters):
        parts.append(f"""ca{i} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
                              ORDER BY CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) ASC,
                                       c.cid ASC) AS rk
    FROM tv t JOIN c{i} c ON t.dim = c.dim
    GROUP BY t.vec_id, c.cid
  ) WHERE rk = 1
), c{i + 1} AS MATERIALIZED (
  SELECT p.cid, p.dim, COALESCE(u.c, p.c) AS c
  FROM c{i} p LEFT JOIN (
    SELECT a.cid, t.dim, CAST(SUM(t.q) AS BIGINT) // COUNT(*) AS c
    FROM ca{i} a JOIN tv t ON a.vec_id = t.vec_id
    GROUP BY a.cid, t.dim
  ) u ON p.cid = u.cid AND p.dim = u.dim
)""")
    return ",\n".join(parts)


def _ivf_train_ctes() -> str:
    """tv (bounded training sample) + c0..cN coarse-centroid rounds."""
    return _train_ctes(NLIST, KMEANS_ITERS)


def _ivf_search_ctes() -> str:
    """cells (full-corpus assignment) + probes (NPROBE per query)
    against the trained c{KMEANS_ITERS}."""
    cn = f"c{KMEANS_ITERS}"
    assign = f"""SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) ASC,
                                       c.cid ASC) AS rk
    FROM v JOIN {cn} c ON v.dim = c.dim"""
    return f"""cells AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    {assign}
    GROUP BY v.vec_id, c.cid
  ) WHERE rk = 1
), probes AS MATERIALIZED (
  SELECT vec_id AS query_id, cid FROM (
    {assign}
    WHERE v.vec_id < {N_QUERIES}
    GROUP BY v.vec_id, c.cid
  ) WHERE rk <= {NPROBE}
)"""


def _pq_train_ctes() -> str:
    """sv (subvector long format) + p0..pN per-subspace codebook rounds."""
    parts = [f"""sl AS (SELECT MAX(dim) // {PQ_M} AS sub_len FROM v),
sv AS MATERIALIZED (
  SELECT v.vec_id, CAST((v.dim - 1) // s.sub_len AS INT) AS m,
         CAST((v.dim - 1) % s.sub_len AS INT) AS ld, v.q
  FROM v, sl s
), tsv AS MATERIALIZED (
  SELECT * FROM sv WHERE vec_id IN ({_TRAIN_IDS_SQL})
), p0 AS MATERIALIZED (
  SELECT m, CAST(DENSE_RANK() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INT) AS cid,
         ld, q AS c
  FROM tsv WHERE vec_id IN (SELECT DISTINCT vec_id FROM tsv ORDER BY vec_id LIMIT {PQ_K})
)"""]
    for k in range(PQ_ITERS):
        parts.append(f"""pa{k} AS MATERIALIZED (
  SELECT vec_id, m, cid FROM (
    SELECT t.vec_id, t.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.m
                              ORDER BY CAST(SUM((t.q - c.c) * (t.q - c.c)) AS BIGINT) ASC,
                                       c.cid ASC) AS rk
    FROM tsv t JOIN p{k} c ON t.m = c.m AND t.ld = c.ld
    GROUP BY t.vec_id, t.m, c.cid
  ) WHERE rk = 1
), p{k + 1} AS MATERIALIZED (
  SELECT pc.m, pc.cid, pc.ld, COALESCE(u.c, pc.c) AS c
  FROM p{k} pc LEFT JOIN (
    SELECT a.m, a.cid, t.ld, CAST(SUM(t.q) AS BIGINT) // COUNT(*) AS c
    FROM pa{k} a JOIN tsv t ON a.vec_id = t.vec_id AND a.m = t.m
    GROUP BY a.m, a.cid, t.ld
  ) u ON pc.m = u.m AND pc.cid = u.cid AND pc.ld = u.ld
)""")
    return ",\n".join(parts)


def _pq_index_ctes() -> str:
    """codes (full-corpus PQ assignment) + qd (per-query ADC distance
    table) against the trained p{PQ_ITERS}."""
    pn = f"p{PQ_ITERS}"
    return f"""codes AS MATERIALIZED (
  SELECT vec_id, m, cid AS code FROM (
    SELECT s.vec_id, s.m, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY CAST(SUM((s.q - c.c) * (s.q - c.c)) AS BIGINT) ASC,
                                       c.cid ASC) AS rk
    FROM sv s JOIN {pn} c ON s.m = c.m AND s.ld = c.ld
    GROUP BY s.vec_id, s.m, c.cid
  ) WHERE rk = 1
), qd AS MATERIALIZED (
  SELECT s.vec_id AS query_id, s.m, c.cid AS code,
         CAST(SUM((s.q - c.c) * (s.q - c.c)) AS BIGINT) AS d
  FROM sv s JOIN {pn} c ON s.m = c.m AND s.ld = c.ld
  WHERE s.vec_id < {N_QUERIES}
  GROUP BY s.vec_id, s.m, c.cid
)"""


def _rerank_tail(pool_cte: str) -> str:
    """Exact rounded-cosine re-rank + final top-k projection over any
    (query_id, vec_id) candidate CTE."""
    return f"""scored AS (
  SELECT p.query_id, p.vec_id, {_COSINE_QE_SQL} AS score
  FROM {pool_cte} p
  JOIN embeddings e ON p.vec_id = e.vec_id
  JOIN embeddings q ON p.query_id = q.vec_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}"""


def _ann_ivf_sql() -> str:
    return f"""
WITH {_quant_cte()},
{_ivf_train_ctes()},
{_ivf_search_ctes()},
cand AS MATERIALIZED (
  SELECT p.query_id, s.vec_id
  FROM probes p JOIN cells s ON p.cid = s.cid
  WHERE s.vec_id <> p.query_id
),
{_rerank_tail("cand")}
"""


def _ann_pq_sql() -> str:
    return f"""
WITH {_quant_cte()},
{_pq_train_ctes()},
{_pq_index_ctes()},
adc AS MATERIALIZED (
  SELECT q.query_id, c.vec_id, CAST(SUM(q.d) AS BIGINT) AS approx_dist
  FROM codes c JOIN qd q ON c.m = q.m AND c.code = q.code
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id
),
pool AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_dist ASC, vec_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {PQ_RERANK_POOL}
),
{_rerank_tail("pool")}
"""


def _ann_ivfpq_sql() -> str:
    return f"""
WITH {_quant_cte()},
{_ivf_train_ctes()},
{_ivf_search_ctes()},
{_pq_train_ctes()},
{_pq_index_ctes()},
cand AS MATERIALIZED (
  SELECT p.query_id, s.vec_id
  FROM probes p JOIN cells s ON p.cid = s.cid
  WHERE s.vec_id <> p.query_id
),
adc AS MATERIALIZED (
  SELECT n.query_id, n.vec_id, CAST(SUM(q.d) AS BIGINT) AS approx_dist
  FROM cand n
  JOIN codes c ON n.vec_id = c.vec_id
  JOIN qd q ON q.query_id = n.query_id AND q.m = c.m AND q.code = c.code
  GROUP BY n.query_id, n.vec_id
),
pool AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_dist ASC, vec_id ASC) AS rk
    FROM adc
  ) WHERE rk <= {PQ_RERANK_POOL}
),
{_rerank_tail("pool")}
"""


ANN_IVF_TOPK_SQL = _ann_ivf_sql()
ANN_PQ_TOPK_SQL = _ann_pq_sql()
ANN_IVFPQ_TOPK_SQL = _ann_ivfpq_sql()


# bound here: each composes its tier's full-pipeline top-k oracle
# (defined above) into the shared hit-count-deriving recall template
ANN_IVF_RECALL_SQL = _ann_recall_value_sql(ANN_IVF_TOPK_SQL, ANN_RECALL_MIN_PCT["ivf"])
ANN_LSH_RECALL_VALUE_SQL = _ann_recall_value_sql(
    ANN_LSH_TOPK_SQL, ANN_RECALL_MIN_PCT["lsh"]
)
ANN_PQ_RECALL_SQL = _ann_recall_value_sql(ANN_PQ_TOPK_SQL, ANN_RECALL_MIN_PCT["pq"])
ANN_IVFPQ_RECALL_SQL = _ann_recall_value_sql(
    ANN_IVFPQ_TOPK_SQL, ANN_RECALL_MIN_PCT["ivfpq"]
)


def _semdedup_drops_sql() -> str:
    """DuckDB replay of the ENTIRE SemDeDup pipeline — integer-Lloyd's
    codebook training (the shared _train_ctes rounds), top-NASSIGN soft
    cell assignment, within-cell candidate pairs, exact rounded
    cosines, best-keeper selection. Every blocking decision is a
    comparison of exact BIGINTs; the only floats are the final rounded
    cosines, same as every other pair oracle."""
    cos6 = (
        "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
    )
    return f"""
WITH {_quant_cte()},
kp AS MATERIALIZED (
  -- the occupancy-scaled codebook size, same integer rule as
  -- _semdedup_k: max(floor k, min(sample cap, n // target cell))
  SELECT GREATEST({SEMDEDUP_K},
                  LEAST({TRAIN_SAMPLE_CAP},
                        COUNT(*) // {SEMDEDUP_TARGET_CELL})) AS k
  FROM embeddings
),
{_train_ctes(SEMDEDUP_K, KMEANS_ITERS, k_sql="(SELECT k FROM kp)")},
cells AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) ASC,
                                       c.cid ASC) AS rk
    FROM v JOIN c{KMEANS_ITERS} c ON v.dim = c.dim
    GROUP BY v.vec_id, c.cid
  ) WHERE rk <= {SEMDEDUP_NASSIGN}
),
cand AS MATERIALIZED (
  SELECT DISTINCT ca.vec_id AS id_a, cb.vec_id AS id_b
  FROM cells ca JOIN cells cb ON ca.cid = cb.cid AND ca.vec_id < cb.vec_id
),
scored AS MATERIALIZED (
  SELECT p.id_a, p.id_b, {cos6} AS cosine
  FROM cand p JOIN embeddings a ON p.id_a = a.vec_id
              JOIN embeddings b ON p.id_b = b.vec_id
)
SELECT id_b AS vec_id, id_a AS kept_by, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id_b
                               ORDER BY cosine DESC, id_a ASC) AS rn
  FROM scored WHERE cosine >= {SEMDEDUP_THRESHOLD}
) WHERE rn = 1
"""


SEMDEDUP_DROPS_SQL = _semdedup_drops_sql()


# Fixed sample cap for the recall metric: the ground truth is an exact
# all-pairs pass, so it runs over the first SEM_RECALL_SAMPLE vec_ids
# only — a CONSTANT (not data-proportional) bound, which keeps the
# metric O(1) at any corpus scale while the index under test still runs
# over the full corpus. At sf0.01 the sample covers the whole table.
SEM_RECALL_SAMPLE = 1000
SEMDEDUP_RECALL_MIN_PCT = 75


def semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-recall of the SemDeDup cell-blocked index vs the exact
    all-pairs ground truth, computed in-plan as a driver-checkable
    metric row (same pattern as the ann_*_recall rows): the oracle
    independently derives the sample size and the exact droppable count
    from the embeddings table and pins the recall invariant; the Spark
    side must REACH those numbers from its real all-pairs frame and its
    real k-means-blocked index. Promotes `semdedup_drops` from rows-only
    evidence to a hash-checked quality row.

    The exact side broadcasts the bounded sample (<= SEM_RECALL_SAMPLE
    rows) into a nested-loop pair join — constant-size by construction,
    never data-proportional."""
    from tinymapreduce_spark.functions.vectors import dot, l2_norm

    from tinymapreduce_spark.sources.loaders import spread_for_cpu

    emb = load_table(spark, sf_dir, "embeddings")
    # carry each row's norm once so the pair pass is one dot product
    # (sqrt of the same ordered fold -> bit-identical cosine values).
    # spread_for_cpu: the single-file testdata otherwise leaves the
    # |sample|^2 nested-loop pair pass on ONE task (measured: two
    # concurrent ~5 s single-task jobs at sf0.1 — guide §2.5 input
    # skew); the gate makes this a no-op on multi-file corpora.
    sample = spread_for_cpu(spark, emb.where(F.col("vec_id") < SEM_RECALL_SAMPLE)).withColumn(
        "nrm", l2_norm(F.col("embedding"))
    )
    a = sample.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = sample.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    # truth feeds BOTH the semi-join and its own count below —
    # materialize the (tiny, <= sample-sized) id set once instead of
    # running the |sample|^2 pair pass twice (guide §5 caching: reused
    # AND expensive to recompute; materialized blocks release with the
    # frame, not the CacheManager)
    truth = materialize(
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(
                dot(F.col("emb_a"), F.col("emb_b"))
                / (F.col("nrm_a") * F.col("nrm_b")),
                6,
            )
            >= SEMDEDUP_THRESHOLD
        )
        .select("id_b")
        .distinct()
    )
    drops = (
        semdedup_drops(spark, sf_dir)
        .where(F.col("vec_id") < SEM_RECALL_SAMPLE)
        .select(F.col("vec_id").alias("id_b"))
    )
    caught = truth.join(drops, "id_b", "left_semi")
    return (
        sample.agg(F.count(F.lit(1)).alias("n_sample"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_droppable")))
        .crossJoin(caught.agg(F.count(F.lit(1)).alias("n_caught")))
        .select(
            "n_sample",
            "n_droppable",
            "n_caught",
            (
                F.col("n_caught") * 100
                >= F.col("n_droppable") * SEMDEDUP_RECALL_MIN_PCT
            ).alias("recall_ok"),
            F.lit(SEMDEDUP_RECALL_MIN_PCT).cast("long").alias("min_recall_pct"),
        )
    )


def _semdedup_recall_sql() -> str:
    """Since round 4 the index itself is SQL-replayable, so the CAUGHT
    count is derived too (truth semi-joined with the replayed drop set)
    — no pinned booleans left anywhere in the recall tier."""
    cos = (
        "ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6)"
    )
    return f"""
WITH s AS (SELECT vec_id, embedding FROM embeddings
           WHERE vec_id < {SEM_RECALL_SAMPLE}),
p AS MATERIALIZED (SELECT DISTINCT b.vec_id AS id_b
      FROM s a JOIN s b ON a.vec_id < b.vec_id
      WHERE {cos} >= {SEMDEDUP_THRESHOLD}),
m AS (
  SELECT CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_sample,
         CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_droppable,
         CAST((SELECT COUNT(*) FROM p
               JOIN ({SEMDEDUP_DROPS_SQL}) d ON p.id_b = d.vec_id
               WHERE d.vec_id < {SEM_RECALL_SAMPLE}) AS BIGINT) AS n_caught
)
SELECT n_sample, n_droppable, n_caught,
       n_caught * 100 >= n_droppable * {SEMDEDUP_RECALL_MIN_PCT} AS recall_ok,
       CAST({SEMDEDUP_RECALL_MIN_PCT} AS BIGINT) AS min_recall_pct
FROM m
"""


SEMDEDUP_RECALL_SQL = _semdedup_recall_sql()


# --- Distributed PCA power iteration (round 7) -------------------------------
# Dominant principal direction of the embedding cloud, integer-exact:
# coordinates quantize to the 1e-3 grid, the CENTERED scatter matrix
# S_ij = N*Sum(q_i q_j) - Sum(q_i)*Sum(q_j) comes from one distributed
# outer-product aggregation (offset-invariant, so the grid's sign
# handling is free), and PCA_ITERS (96) power iterations run on the
# collected 64x64 integer matrix with truncating-division rescales — the SAME
# arithmetic DuckDB's `//` implements, so the oracle unrolls the
# iterations verbatim (MATERIALIZED per step; a plain CTE chain
# re-inlines exponentially). Deterministic sign (all-ones start);
# iteration count sized for the synthetic cloud's ~1.07 spectral gap
# (cosine > 0.999 vs the float eigensolver, pinned in pytest).
PCA_SCALE = 1000
PCA_ITERS = 96  # the synthetic cloud's spectral gap is ~1.07
PCA_SDIV_BITS = 20  # scatter rescaled to ~2^20
PCA_VDIV_BITS = 16  # iterate rescaled to ~2^16


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (matches DuckDB's `//`)."""
    return a // b if a >= 0 else -((-a) // b)


def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return (dim, component) for the dominant principal direction
    after PCA_ITERS integer power iterations. The heavy step — the
    d^2 outer-product scatter — is a single groupBy aggregation over
    exploded (i, j) coordinate pairs (map-side partials; at extreme N
    use hierarchical re-aggregation to keep int64 headroom, noted in
    DEPLOYMENT.md). The iteration itself touches only the collected
    64x64 matrix: bounded driver state, same class as the trained-ANN
    codebooks."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * PCA_SCALE).cast("long"),
            )
        ).alias("i", "qi"),
    )
    sums = q.groupBy("i").agg(F.sum("qi").alias("si"))
    prods = (
        q.alias("a")
        .join(q.alias("b"), F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.qi") * F.col("b.qi")).alias("sxy"))
    )
    n = emb.count()
    srows = (
        prods.alias("p")
        .join(sums.alias("sa"), F.col("p.i") == F.col("sa.i"))
        .join(sums.alias("sb"), F.col("p.j") == F.col("sb.i"))
        .select(
            F.col("p.i").alias("i"),
            F.col("p.j").alias("j"),
            (n * F.col("p.sxy") - F.col("sa.si") * F.col("sb.si")).alias("s"),
        )
        .collect()
    )
    d = 64
    S = [[0] * d for _ in range(d)]
    for r in srows:
        S[r.i][r.j] = r.s
    smax = max((abs(v) for row in S for v in row), default=1)
    sdiv = max(1, smax >> PCA_SDIV_BITS)
    Sp = [[_tdiv(v, sdiv) for v in row] for row in S]
    v = [1] * d
    for _ in range(PCA_ITERS):
        u = [sum(Sp[i][j] * v[j] for j in range(d)) for i in range(d)]
        umax = max((abs(x) for x in u), default=1)
        udiv = max(1, umax >> PCA_VDIV_BITS)
        v = [_tdiv(x, udiv) for x in u]
    return spark.createDataFrame(
        [(i, int(v[i])) for i in range(d)], "dim long, component long"
    )


def _pca_sql() -> str:
    steps = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        steps.append(f""",
u{k} AS MATERIALIZED (
  SELECT s.i, SUM(s.sp * v.val) AS val
  FROM sprime s JOIN {prev} v ON v.i = s.j
  GROUP BY s.i
), v{k} AS MATERIALIZED (
  SELECT i, val // GREATEST(1, (SELECT MAX(ABS(val)) FROM u{k})
                            // {1 << PCA_VDIV_BITS}) AS val
  FROM u{k}
)""")
        prev = f"v{k}"
    return f"""
WITH q AS (
  SELECT vec_id, t.i - 1 AS i,
         CAST(floor(t.x * {PCA_SCALE}) AS BIGINT) AS qi
  FROM embeddings,
       LATERAL (SELECT UNNEST(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) t
), sums AS (
  SELECT i, SUM(qi) AS si FROM q GROUP BY i
), prods AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, SUM(a.qi * b.qi) AS sxy
  FROM q a JOIN q b USING (vec_id)
  GROUP BY a.i, b.i
), n AS (
  SELECT COUNT(*) AS n FROM embeddings
), scatter AS MATERIALIZED (
  SELECT p.i, p.j, n.n * p.sxy - sa.si * sb.si AS s
  FROM prods p
  JOIN sums sa ON sa.i = p.i
  JOIN sums sb ON sb.i = p.j
  CROSS JOIN n
), sprime AS MATERIALIZED (
  SELECT i, j, s // GREATEST(1, (SELECT MAX(ABS(s)) FROM scatter)
                             // {1 << PCA_SDIV_BITS}) AS sp
  FROM scatter
), v0 AS (
  SELECT DISTINCT i, CAST(1 AS BIGINT) AS val FROM scatter
){"".join(steps)}
SELECT CAST(i AS BIGINT) AS dim, CAST(val AS BIGINT) AS component
FROM {prev}
"""


EMBEDDING_PCA_SQL = _pca_sql()


# --- Deterministic random projection (round 7) -------------------------------
# Johnson-Lindenstrauss sketching with a CONTENT-DERIVED sign matrix:
# R[i][k] = +1 if bit k of md5(i) else -1 (Achlioptas-style ±1
# projection, no RNG — both engines derive the same matrix from md5),
# applied to the 1e-3-grid quantized embeddings. One explode + join +
# groupBy matmul: the scale shape of every distributed projection.
RP_OUT_DIMS = 16


def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project each embedding to RP_OUT_DIMS dimensions with the
    md5-derived ±1 matrix and emit per-vector projected coordinates
    (integer-exact). Verifiable JL sketch: downstream distance
    computations can run on 16 ints instead of 64 floats."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * PCA_SCALE).cast("long"),
            )
        ).alias("i", "qi"),
    )
    dims = spark.range(64).select(F.col("id").alias("i"))
    ks = spark.range(RP_OUT_DIMS).select(F.col("id").alias("k"))
    # sign bit k of md5(i): hex digit k/4, bit k%4 (SQL expr — the
    # Python shiftleft wrapper takes only literal shift counts)
    r = dims.crossJoin(ks).select(
        "i",
        "k",
        F.expr(
            "CASE WHEN (cast(conv(substring(md5(cast(i AS string)),"
            " cast(k div 4 AS int) + 1, 1), 16, 10) AS int)"
            " & shiftleft(1, cast(k % 4 AS int))) > 0"
            " THEN 1 ELSE -1 END"
        ).alias("sign"),
    )
    return (
        q.join(F.broadcast(r), "i")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("qi") * F.col("sign")).alias("coord"))
        .select("vec_id", "k", "coord")
    )


EMBEDDING_RP_SQL = f"""
WITH q AS (
  SELECT vec_id, t.i - 1 AS i,
         CAST(floor(t.x * {PCA_SCALE}) AS BIGINT) AS qi
  FROM embeddings,
       LATERAL (SELECT UNNEST(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) t
), r AS (
  SELECT d.i, k.k,
         CASE WHEN (CAST(('0x' || substr(md5(CAST(d.i AS VARCHAR)),
                                          k.k // 4 + 1, 1)) AS INTEGER)
                    & (1 << (k.k % 4))) > 0
              THEN 1 ELSE -1 END AS sign
  FROM (SELECT UNNEST(range(0, 64)) AS i) d,
       (SELECT UNNEST(range(0, {RP_OUT_DIMS})) AS k) k
)
SELECT q.vec_id, r.k AS k,
       CAST(SUM(q.qi * r.sign) AS BIGINT) AS coord
FROM q JOIN r USING (i)
GROUP BY q.vec_id, r.k
"""
