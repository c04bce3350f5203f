"""Dump .explain('formatted') evidence for one round's touched queries.

Run: python tools/dump_r11_plans.py <round|out_dir> <before|after> [key ...]

Writes <out_dir>/<key>_<tag>.txt, where a bare round name (``r10``,
``r11``, ...) means plans/<round>. Default keys: that round's touched
set in ROUND_KEYS (a new round adds its list there). Two things a
returned frame's plan does not show are recorded as well:

- Work that happens INSIDE an operator's driver loop ends either at
  an eager ``localCheckpoint`` (the graph tier's lazily chained
  iteration, every ``session.materialize`` cut) or at a ``collect``
  (kmeans' centroid update). The tool intercepts both methods of
  ``DataFrame`` (the classic class — the abstract base's methods are
  never called) and records, in call order, the formatted plan of
  every frame at the moment it is checkpointed or collected.
- A one-partition literal frame is invisible in a formatted plan (an
  ExistingRDD leaf prints identically at any partition count), so each
  file's header also records the LIVE partition count of the
  operator's literal frame (centroids / weights / PQ codebook): 32
  before round 11, 1 after.

Set SPARK_GRAFT_PLANS_SRC to a checkout to dump `before` plans from the
pre-round code while writing into this repo's plans/.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_PLANS_SRC", REPO)
sys.path.insert(0, SRC)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

ROUND_KEYS = {
    "r10": [
        "kmeans_clusters",
        "ann_ivf_topk",
        "semdedup_drops",
        "semdedup_recall",
        "stream_pack_nextfit",
        "stream_cdc_upsert",
        "stream_cdc_apply_changes",
        "stream_dv_erasure",
    ],
    "r11": [
        "pagerank_trade",
        "label_propagation",
        "kmeans_clusters",
        "perceptron_quality",
        "ann_ivf_topk",
        "ann_pq_topk",
        "ann_ivfpq_topk",
        "semdedup_drops",
        "manifest_metadata_agg",
        "set_ops",
        "stream_ann_ingest",
        "dedup_incremental_bloom",
    ],
}

_ANN_KEYS = (
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "semdedup_drops",
    "stream_ann_ingest",
)


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    where, tag = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:] or ROUND_KEYS[where]
    import __spark_entry__ as mod
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    from tinymapreduce_spark.session import get_spark

    spark = get_spark()
    q = mod.queries()
    outdir = where if os.sep in where else os.path.join(REPO, "plans", where)
    os.makedirs(outdir, exist_ok=True)

    captured: list[str] = []
    real_ckpt, real_collect = CDF.localCheckpoint, CDF.collect

    def capture(kind: str, df) -> None:
        try:
            plan = fmt(df)
        except Exception as e:  # capture must never break the query
            plan = f"(explain failed: {e})\n"
        captured.append(f"## {kind} plan {len(captured)}\n{plan}")

    def capturing_ckpt(self, eager=True):
        capture("checkpointed", self)
        return real_ckpt(self, eager=eager)

    def capturing_collect(self):
        capture("collected", self)
        return real_collect(self)

    def literal_partitions(rows, ddl) -> str:
        try:
            from tinymapreduce_spark.sources.loaders import local_literal_frame
        except ImportError:  # code before round 11
            lit = spark.createDataFrame(rows, ddl)
        else:
            lit = local_literal_frame(spark, rows, ddl)
        return str(lit.rdd.getNumPartitions())

    def literal_frame_partitions(key: str) -> str:
        """Live partition count of the operator's literal frame, rebuilt
        the way the operator builds it."""
        try:
            if key == "kmeans_clusters":
                from tinymapreduce_spark.operators import clustering as cl

                vecs = cl._quantized_vecs(spark, SF)
                init = vecs.orderBy("vec_id").limit(cl.K_CLUSTERS).collect()
                cents = [[int(v) for v in r["a"]] for r in init]
                return literal_partitions([(cents,)], "cs array<array<bigint>>")
            if key == "perceptron_quality":
                return literal_partitions([([0] * 5,)], "ws array<bigint>")
            if key in _ANN_KEYS:
                from tinymapreduce_spark.operators import similarity as sim
                from tinymapreduce_spark.sources.loaders import load_table

                emb = load_table(spark, SF, "embeddings")
                cents = sim._cached_centroids_int(spark, SF, emb)
                return literal_partitions([(cents,)], "cs array<array<bigint>>")
            if key in ("manifest_metadata_agg", "set_ops"):
                return str(q[key](spark, SF).rdd.getNumPartitions())
        except Exception as e:
            return f"(unavailable: {e})"
        return "(n/a)"

    for key in keys:
        parts: list[str] = [f"# {key} — {tag} (sf={SF})\n"]
        lfp = literal_frame_partitions(key)
        if lfp != "(n/a)":
            parts.append(f"## literal-frame partitions: {lfp}\n")
        captured.clear()
        CDF.localCheckpoint, CDF.collect = capturing_ckpt, capturing_collect
        try:
            df = q[key](spark, SF)
        finally:
            CDF.localCheckpoint, CDF.collect = real_ckpt, real_collect
        parts.extend(captured)
        if key.startswith("stream_"):
            parts.append(
                "## note: streaming key — the returned frame reads the"
                " materialized sink; per-batch runtime evidence (job/"
                "task counts, files per version) is in the round's"
                " OPTIMIZATION_<round>.md\n"
            )
        parts.append("## returned frame\n" + fmt(df))
        path = os.path.join(outdir, f"{key}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(parts))
        print("wrote", path)


if __name__ == "__main__":
    main()
