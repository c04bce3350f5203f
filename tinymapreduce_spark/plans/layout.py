"""Physical-layout operators: bucketing, partitioned sinks, skew salting.

The reference's entire physical layout is "hash(key) % R files on a
shared disk" (``/root/reference/src/mr/worker.go:98-117`` — SURVEY.md §2.2
D2). These operators are the cluster-scale generalizations a 100 TB
deployment actually uses:

- **Bucketed co-located join** — persist both sides pre-hashed on the
  join key (``bucketBy``), so the fact-fact join runs with ZERO
  exchanges: the reference's "intermediate runs are already partitioned"
  trick, made durable across jobs.
- **Partitioned sink + pruned scan** — ``partitionBy`` on a low-card
  column; a predicate on it prunes whole directories at planning time
  (the 100 TB analog of "only read the mr-*-r files for your task",
  ``/root/reference/src/mr/worker.go:125-137``).
- **Salted skew join** — explicit hot-key mitigation: spread each big-side
  key over S salt buckets, replicate the small side S×. AQE's skew-join
  handles most cases at runtime; salting is the deterministic form for
  catastrophic single-key skew.

Everything writes under the repo-local scratch dir (never outside the
repo); all outputs are oracle-checked against DuckDB on the same logical
query, proving layout changes never change results.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import load_table
from tinymapreduce_spark.sources.textfiles import build_once, corpus_dir

N_BUCKETS = 8
SALT_BUCKETS = 16


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Persist orders+lineitem bucketed AND sorted on the join key.

    Idempotent per (session, source identity): a table is named by its
    source's ``corpus_dir`` name, made a SQL identifier. At 100 TB this
    is the one-off layout job whose cost every subsequent join amortizes.
    """
    t_orders, t_lineitem = (
        os.path.basename(corpus_dir(f"{src}_b", sf_dir, src)).replace(".", "_").replace("-", "_")
        for src in ("orders", "lineitem")
    )
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for table, src, key in ((t_orders, "orders", "o_orderkey"), (t_lineitem, "lineitem", "l_orderkey")):
        if spark.catalog.tableExists(table):
            continue
        # The in-memory catalog forgets tables between sessions but their
        # managed locations persist; clear stale ones before re-creating.
        loc = os.path.join(warehouse, table)
        if os.path.exists(loc):
            import shutil

            shutil.rmtree(loc)
        load_table(spark, sf_dir, src).write.bucketBy(N_BUCKETS, key).sortBy(key).mode(
            "overwrite"
        ).format("parquet").saveAsTable(table)
    return t_orders, t_lineitem


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join (lineitem ⨝ orders) over co-bucketed tables:
    both sides arrive pre-hashed into the same N buckets, so the
    sort-merge join plans with no Exchange on either side (asserted in
    tests/test_plans.py). The merge hint pins SMJ so the zero-shuffle
    property is visible even at scale factors where broadcast would win.
    """
    t_orders, t_lineitem = _ensure_bucketed_tables(spark, sf_dir)
    orders = spark.table(t_orders).hint("merge")
    lineitem = spark.table(t_lineitem)
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


BUCKETED_JOIN_SQL = """
SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def _ensure_partitioned_docs(spark: SparkSession, sf_dir: str) -> str:
    """documents re-written partitioned by ``lang`` (hive-style dirs).
    Built once per session."""
    path = corpus_dir("docs_by_lang", sf_dir, "documents")
    return build_once(
        spark,
        path,
        lambda: load_table(spark, sf_dir, "documents")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(path),
    )


def partitioned_sink_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents partitioned by ``lang``, then aggregate one
    language from the partitioned copy. The ``lang = 'en'`` predicate
    becomes a PartitionFilter: non-matching directories are never opened
    (asserted in tests/test_plans.py).
    """
    path = _ensure_partitioned_docs(spark, sf_dir)
    # explicit schema: no inference job, and an all-empty write (zero
    # partition dirs) still reads as a valid 0-row frame
    return (
        spark.read.schema(load_table(spark, sf_dir, "documents").schema)
        .parquet(path)
        .where(F.col("lang") == "en")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg(F.length("text")).alias("avg_len"))
    )


PARTITIONED_SINK_SQL = """
SELECT source, COUNT(*) AS n_docs, AVG(LENGTH(text)) AS avg_len
FROM documents WHERE lang = 'en' GROUP BY source
"""


def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof big⨝small join: events.event_type has a handful of hot
    values (every row is one of ~6 types). Salting spreads each hot key
    over SALT_BUCKETS deterministic sub-keys (hash of event_id, not
    rand(), so retried tasks recompute identically) and replicates the
    dim side once per salt; the merge hint keeps the join a shuffle join
    so the salting is actually exercised (broadcast would hide it).
    Results are salt-invariant — same oracle as the unsalted join.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("type_avg"))
    )
    salted_big = ev.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(SALT_BUCKETS)).cast("int"))
    salted_dim = dim.select(
        "event_type", "type_avg", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("salt")
    ).hint("merge")
    joined = salted_big.join(salted_dim, ["event_type", "salt"])
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.first("type_avg"), 6).alias("type_avg"),
        F.count(F.when(F.col("value") > F.col("type_avg"), 1)).alias("n_above_avg"),
    )


SALTED_SKEW_SQL = """
WITH dim AS (SELECT event_type, AVG(value) AS type_avg FROM events GROUP BY event_type)
SELECT e.event_type,
       COUNT(*) AS n_events,
       ROUND(ANY_VALUE(d.type_avg), 6) AS type_avg,
       COUNT(*) FILTER (WHERE e.value > d.type_avg) AS n_above_avg
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
"""


TARGET_FILE_BYTES = 8 * 1024 * 1024  # compaction target (scaled for testdata)


def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance job every 100 TB
    lake needs: a fragmented table (here: documents deliberately shattered
    into 64 shards) is rewritten into ceil(total_bytes / target) files.

    The file count comes from the SOURCE's actual byte size (one metadata
    pass, no data read), so the same code yields ~128 MB files on a real
    table. Returns a per-source aggregate computed FROM the compacted
    copy — equality with the straight oracle proves compaction is
    content-preserving; tests/test_layout_compact.py asserts the file
    counts.
    """
    frag_dir = corpus_dir("docs_fragmented", sf_dir, "documents")
    compact_dir = corpus_dir("docs_compacted", sf_dir, "documents")

    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag_dir)

    frag_bytes = sum(
        os.path.getsize(os.path.join(frag_dir, f))
        for f in os.listdir(frag_dir)
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-frag_bytes // TARGET_FILE_BYTES))  # ceil
    spark.read.parquet(frag_dir).repartition(n_files).write.mode("overwrite").parquet(compact_dir)

    return (
        spark.read.parquet(compact_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(F.length("text")).alias("total_chars"))
    )


COMPACT_SQL = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY source
"""


ZORDER_FILES = 64


def _morton16(x, y):
    """Interleave the low 16 bits of two long columns into a Z-value —
    pure codegen bit arithmetic (shift/and/or), no UDF."""
    z = F.lit(0).cast("long")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def _zorder_dir(spark: SparkSession, sf_dir: str) -> str:
    """Rewrite lineitem Z-ordered on (l_partkey, l_suppkey): range
    partition + sort by the Morton code, so every output file covers a
    small square-ish region of the 2-D key space. Built once per
    session."""
    out = corpus_dir("zorder_lineitem", sf_dir, "lineitem")

    def build() -> None:
        li = load_table(spark, sf_dir, "lineitem")
        # Quantize BOTH dims to the full 16-bit domain before
        # interleaving — with raw values, the wider-ranged key's high
        # bits dominate every z split and the narrow key gets no
        # clustering at all (measured: suppkey slices touched 16/16
        # files unquantized, 6/16 quantized).
        b = li.agg(
            F.min("l_partkey").alias("plo"), F.max("l_partkey").alias("phi"),
            F.min("l_suppkey").alias("slo"), F.max("l_suppkey").alias("shi"),
        ).collect()[0]
        if b.plo is None:  # empty table: degenerate bounds, empty rewrite
            b = type(b)(plo=0, phi=0, slo=0, shi=0)

        def q16(col, lo, hi):
            span = max(1, hi - lo)
            return ((col - F.lit(lo)) * 65535 / F.lit(span)).cast("long")

        z = _morton16(
            q16(F.col("l_partkey"), b.plo, b.phi),
            q16(F.col("l_suppkey"), b.slo, b.shi),
        ).alias("zval")
        (
            li.withColumn("zval", z)
            .repartitionByRange(ZORDER_FILES, "zval")
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.mode("overwrite")
            .parquet(out)
        )

    return build_once(spark, out, build)


def zorder_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a small 2-D box (partkey range x suppkey range)
    against the Z-ordered lineitem copy.

    Why Z-order: a single-column sort gives perfect file skipping on
    ONE dimension and none on the other; the Morton curve gives
    ~sqrt-law skipping on BOTH — parquet min/max footer stats then prune
    most files for any 2-D box (asserted in
    tests/test_layout_compact.py::test_zorder_skips_both_dims). Layout
    never changes results: same filter+agg oracle runs on the original
    table."""
    zdir = _zorder_dir(spark, sf_dir)
    # explicit schema: an empty rewrite leaves no part files to infer from
    li = spark.read.schema(load_table(spark, sf_dir, "lineitem").schema).parquet(zdir)
    return (
        li.where(
            F.col("l_partkey").between(100, 299) & F.col("l_suppkey").between(10, 29)
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias(
                "total_price"
            ),
        )
    )


ZORDER_SQL = """
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 299 AND l_suppkey BETWEEN 10 AND 29
"""


def dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: join the lang-partitioned documents
    copy to a dimension FILTERED ON A NON-JOIN COLUMN (language family).
    No static predicate mentions `lang`, so directory pruning can only
    happen at RUNTIME — Catalyst injects a dynamicpruningexpression into
    the fact scan's PartitionFilters, fed by the broadcast dim (asserted
    in tests/test_plans.py).

    At 100 TB this is the difference between scanning 2 of 5 partitions
    and scanning all of them whenever the selective predicate lives on
    the dimension, which is the normal star-schema case."""
    path = _ensure_partitioned_docs(spark, sf_dir)
    # explicit schema: see partitioned_sink_pruned_scan
    fact = spark.read.schema(load_table(spark, sf_dir, "documents").schema).parquet(path)
    # external literal mapping (NOT derived from the fact's lang column:
    # a CASE over lang would let Catalyst fold the family predicate into
    # a static `lang IN (...)` filter, and the demo would no longer
    # exercise runtime pruning). Langs are the fixture's fixed domain.
    dim = spark.createDataFrame(
        [
            ("en", "germanic"),
            ("de", "germanic"),
            ("es", "romance"),
            ("fr", "romance"),
            ("zh", "sinitic"),
        ],
        "lang string, family string",
    )
    return (
        fact.join(F.broadcast(dim.where(F.col("family") == "germanic")), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


DPP_SQL = """
WITH dim(lang, family) AS (
  VALUES ('en','germanic'), ('de','germanic'), ('es','romance'),
         ('fr','romance'), ('zh','sinitic')
)
SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents d JOIN dim ON d.lang = dim.lang
WHERE dim.family = 'germanic'
GROUP BY d.lang
"""


from contextlib import contextmanager


@contextmanager
def _temp_confs(spark: SparkSession, confs: dict):
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # local testdata is MBs; at 100 TB the real default (10 GB
    # application-side scan) holds and nothing needs overriding
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    # the creation side must NOT be broadcastable or Catalyst rightly
    # prefers a broadcast join; -1 simulates the 100 TB regime where the
    # filtered dim exceeds the broadcast threshold
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning: when the selective side of a
    SHUFFLE join is too big to broadcast, Catalyst builds a bloom filter
    from its join keys (bloom_filter_agg) and injects might_contain()
    into the big side's scan filter — most non-matching fact rows die
    before the shuffle instead of after it.

    This is the shuffle-join sibling of dynamic partition pruning and
    the key mitigation when BOTH join sides are fact-sized at 100 TB.

    Conf scoping vs laziness: the bloom-injection rule reads session
    confs at OPTIMIZATION time (= first action), so the confs (broadcast
    disabled to simulate the at-scale regime) must be live exactly when
    the plan first materializes. The operator therefore eagerly
    materializes the frame inside the conf scope — no driver-side
    ``collect()``; the result stays a distributed frame whose
    materialized blocks hold the bloom-pruned execution (and are
    GC-released after use), so caller re-execution reads those,
    never a literal scan. The injected ``might_contain`` is asserted in
    tests/test_plans.py; results are filter-invariant — plain-SQL
    oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    with _temp_confs(spark, BLOOM_CONFS):
        # materialize, not persist: it runs under the scoped confs, and
        # its blocks are GC-released (no leak across bench invocations)
        out = materialize(
            li.join(
                orders.where(F.col("o_orderpriority") == "1-URGENT"),
                li.l_orderkey == orders.o_orderkey,
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("total_price"),
            )
        )
    return out


BLOOM_JOIN_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
"""
