"""Compaction must reduce file counts to the byte-target and preserve
content exactly (row count + content hash)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tinymapreduce_spark.plans import layout


def test_compaction_reduces_files_and_preserves_rows(spark, sf_dir):
    out = layout.compact_small_files(spark, sf_dir)
    frag = layout.corpus_dir("docs_fragmented", sf_dir, "documents")
    comp = layout.corpus_dir("docs_compacted", sf_dir, "documents")
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    n_comp = len([f for f in os.listdir(comp) if f.endswith(".parquet")])
    assert n_frag == 64
    assert n_comp < n_frag  # at testdata scale: 1-2 files

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    compacted = spark.read.parquet(comp)
    def digest(df):
        return df.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("doc_id", "text")).alias("h"),
        ).collect()[0]
    b, c = digest(base), digest(compacted)
    assert (b["n"], b["h"]) == (c["n"], c["h"])
    assert out.count() > 0


def test_zorder_skips_both_dims(spark, sf_dir):
    """Z-order (Morton) layout: for a 10% slice on EITHER key, at most
    half the files' min/max ranges overlap — and for the 2-D box at most
    a quarter. A single-column sort would ace one dim and fail the other
    (every file overlaps); unsorted fails both."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.plans.layout import _zorder_dir

    zdir = _zorder_dir(spark, sf_dir)
    li = spark.read.parquet(zdir).withColumn("f", F.input_file_name())
    stats = li.groupBy("f").agg(
        F.min("l_partkey").alias("plo"), F.max("l_partkey").alias("phi"),
        F.min("l_suppkey").alias("slo"), F.max("l_suppkey").alias("shi"),
    ).collect()
    n = len(stats)
    assert n >= 16
    g = li.agg(F.max("l_partkey"), F.max("l_suppkey")).collect()[0]
    pa, pb = int(g[0] * 0.45), int(g[0] * 0.55)
    sa, sb = int(g[1] * 0.45), int(g[1] * 0.55)

    def ov(lo, hi, a, b):
        return not (hi < a or lo > b)

    pk = sum(ov(r.plo, r.phi, pa, pb) for r in stats)
    sk = sum(ov(r.slo, r.shi, sa, sb) for r in stats)
    box = sum(ov(r.plo, r.phi, pa, pb) and ov(r.slo, r.shi, sa, sb) for r in stats)
    assert pk <= n // 2, f"partkey slice touches {pk}/{n} files"
    assert sk <= n // 2, f"suppkey slice touches {sk}/{n} files"
    assert box <= n // 4, f"2-D box touches {box}/{n} files"
