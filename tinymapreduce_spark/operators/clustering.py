"""K-means clustering over the ``embeddings`` table — the iterative-ML
representative (the same driver-loop + bounded-shuffle shape as
operators/graph.py's PageRank / connected components).

The reference has no iterative dataflow at all (its only loop is the
coordinator's scheduling loop, /root/reference/src/mr/coordinator.go:123-156);
this is pure new-engine surface, required by every embedding-pipeline
stage that buckets vectors (IVF coarse quantizers, semantic dedup
sharding, topic assignment).

Scale shape per iteration:
- assignment: centroids are K rows — ALWAYS broadcast; the scan of N
  vectors never shuffles for assignment.
- update: element-wise centroid means via posexplode -> groupBy
  (cluster, dim) — one bounded shuffle of N*D skinny rows with map-side
  partial aggregation; never a collect of vectors to the driver. The
  K*D result is collected (tiny) to seed the next round's broadcast.
- lineage: each round's centroids are plain Python literals, so the plan
  does not grow with iterations (no checkpoint needed, unlike the
  edge-relabeling loops in graph.py).

Determinism: the float coordinates are quantized ONCE at ingest to
integers — q = floor(x * 10^6) + 2^20 (floor of an IEEE multiply is
engine-identical; the offset keeps q positive so integer division
floors the same way in Spark ``DIV`` and DuckDB ``//``) — and every
subsequent step (squared distances, argmin with ties to the lowest
cluster id, floor-mean centroid updates) is exact integer arithmetic.
Lloyd's on the quantized vectors is therefore a pure function of the
data, and KMEANS_SQL replays the identical 5 rounds in DuckDB (the
driver hash-compares the output exactly). Init = the K lowest vec_ids.

The only semantic cost: centroid updates floor to the 1e-6 grid, so
inertia is "monotone up to quantization slack" rather than exactly
monotone — tests/test_invariants.py bounds the slack explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import load_table

K_CLUSTERS = 8
KMEANS_ITERS = 5
QUANT_SCALE = 10**6  # 1e-6 grid: far below embedding noise, exact in ints
QUANT_OFFSET = 1 << 20  # shifts all coords positive (|x| < 1 in the data)


def _quantized_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, a array<long>) — coordinates on the integer grid,
    fanned out to the session's parallelism (the single-file testdata
    otherwise leaves every per-round distance pass on ONE task)."""
    from tinymapreduce_spark.sources.loaders import spread_for_cpu

    emb = spread_for_cpu(spark, load_table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("long")
            + F.lit(QUANT_OFFSET),
        ).alias("a"),
    )


def _assign(vecs: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Add (cluster, sq_dist): argmin over the K centroids, shipped as
    ONE broadcast row holding an array-of-arrays — no shuffle, and the
    plan (hence the generated code) is IDENTICAL every round and at any
    K x D, so iteration 2..N reuse iteration 1's compiled codegen
    instead of recompiling a K*D-literal expression tree. Distances are
    exact integers (diff^2 <= ~2^42, 64 dims -> < 2^48, no overflow);
    argmin ties break to the lowest cluster id via array_position's
    first-match semantics."""
    from tinymapreduce_spark.sources.loaders import local_literal_frame

    spark = vecs.sparkSession
    cdf = local_literal_frame(
        spark, [([[int(v) for v in c] for c in centroids],)], "cs array<array<bigint>>"
    )
    dists = F.transform(
        "cs",
        lambda c: F.aggregate(
            F.zip_with(F.col("a"), c, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    return (
        vecs.join(F.broadcast(cdf))
        .select("vec_id", "a", dists.alias("ds"))
        .select(
            "vec_id",
            "a",
            (F.array_position("ds", F.array_min("ds")) - 1).cast("int").alias("cluster"),
            F.array_min("ds").alias("sq_dist"),
        )
    )


def _update_centroids(
    assigned: DataFrame, centroids: list[list[int]]
) -> list[list[int]]:
    """Floor-mean per (cluster, dim) — ONE grouped aggregate of D
    per-dimension sums + a count (guide §2.3 shuffle fewer bytes: the
    former posexplode shape shuffled N*D (cluster, dim, v) rows through
    TWO groupBys; this shuffles K partial-agg rows of D sums, map-side
    combined, and needs no second exchange or collect_list). The
    floor-means are computed driver-side from the exact integer sums —
    SUM(v) DIV COUNT(1) per dim, the identical update rule — and empty
    clusters keep their previous centroid. Only K*(D+1) ints reach the
    driver."""
    dims = len(centroids[0])
    new_rows = (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("a", d + 1)).alias(f"s{d}")
                for d in range(dims)
            ],
        )
        .collect()
    )
    by_id = {
        r["cluster"]: [int(r[f"s{d}"]) // int(r["n"]) for d in range(dims)]
        for r in new_rows
    }
    return [by_id.get(i, centroids[i]) for i in range(K_CLUSTERS)]


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=8 Lloyd's iterations (fixed 5 rounds) over the quantized
    embedding vectors; returns per-cluster population and mean squared
    distance (reported back in ORIGINAL units: quantized distances
    divided by QUANT_SCALE^2 once, at the edge). See module docstring
    for the 100 TB shape and the exact-integer determinism contract."""
    vecs = _quantized_vecs(spark, sf_dir).persist()
    try:
        init = vecs.orderBy("vec_id").limit(K_CLUSTERS).collect()
        if not init:  # empty corpus -> no clusters (schema-stable)
            return spark.createDataFrame(
                [], "cluster int, n_vecs bigint, mean_sq_dist double"
            )
        centroids = [[int(v) for v in r["a"]] for r in init]
        for _ in range(KMEANS_ITERS):
            centroids = _update_centroids(_assign(vecs, centroids), centroids)
        final = _assign(vecs, centroids)
        return materialize(
            final.groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.round(
                    F.sum("sq_dist")
                    / (F.count(F.lit(1)) * F.lit(float(QUANT_SCALE) ** 2)),
                    6,
                ).alias("mean_sq_dist"),
            )
            .orderBy("cluster")
        )
    finally:
        vecs.unpersist()


def kmeans_inertia_per_round(spark: SparkSession, sf_dir: str) -> list[int]:
    """Total (quantized-unit) inertia after each update round — test
    hook for the monotone-up-to-quantization-slack invariant."""
    vecs = _quantized_vecs(spark, sf_dir).persist()
    try:
        init = vecs.orderBy("vec_id").limit(K_CLUSTERS).collect()
        centroids = [[int(v) for v in r["a"]] for r in init]
        inertias: list[int] = []
        for _ in range(KMEANS_ITERS):
            assigned = _assign(vecs, centroids)
            inertias.append(int(assigned.agg(F.sum("sq_dist")).collect()[0][0]))
            centroids = _update_centroids(assigned, centroids)
        return inertias
    finally:
        vecs.unpersist()


def _kmeans_sql() -> str:
    """DuckDB replay of kmeans_clusters: quantize, init from the K
    lowest vec_ids, 5 unrolled assignment/update rounds (MATERIALIZED —
    each stage is referenced twice), identical integer arithmetic."""
    def assign_stage(k: int) -> str:
        # exact mirror of _assign against centroid set c{k}
        return f"""a{k} AS MATERIALIZED (
  SELECT vec_id, cluster, d AS sq_dist FROM (
    SELECT v.vec_id, c.cluster,
           CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) AS d,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY CAST(SUM((v.q - c.c) * (v.q - c.c)) AS BIGINT) ASC,
                                       c.cluster ASC) AS rk
    FROM v JOIN c{k} c ON v.dim = c.dim
    GROUP BY v.vec_id, c.cluster
  ) WHERE rk = 1
)"""

    stages = []
    for k in range(KMEANS_ITERS):
        stages.append(f"""{assign_stage(k)}, c{k + 1} AS MATERIALIZED (
  SELECT p.cluster, p.dim, COALESCE(m.c, p.c) AS c
  FROM c{k} p LEFT JOIN (
    SELECT a.cluster, v.dim, CAST(SUM(v.q) AS BIGINT) // COUNT(*) AS c
    FROM a{k} a JOIN v ON a.vec_id = v.vec_id
    GROUP BY a.cluster, v.dim
  ) m ON p.cluster = m.cluster AND p.dim = m.dim
)""")
    # the FINAL assignment runs against the post-loop centroids c{ITERS}
    stages.append(assign_stage(KMEANS_ITERS))
    chain = ",\n".join(stages)
    return f"""
WITH v AS MATERIALIZED (
  SELECT e.vec_id, g.i AS dim,
         CAST(FLOOR(CAST(e.embedding[g.i] AS DOUBLE) * {QUANT_SCALE}) AS BIGINT) + {QUANT_OFFSET} AS q
  FROM embeddings e,
       LATERAL (SELECT UNNEST(generate_series(1, len(e.embedding))) AS i) g
), c0 AS MATERIALIZED (
  SELECT CAST(DENSE_RANK() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, dim, q AS c
  FROM v WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {K_CLUSTERS})
),
{chain}
SELECT cluster,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(sq_dist) AS DOUBLE) / (COUNT(*) * {float(QUANT_SCALE) ** 2}), 6) AS mean_sq_dist
FROM a{KMEANS_ITERS}
GROUP BY cluster
"""


KMEANS_SQL = _kmeans_sql()
