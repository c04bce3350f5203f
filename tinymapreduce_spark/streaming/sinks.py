"""Streaming sinks with exactly-once-visible output.

Structured Streaming's contract for custom sinks is at-least-once
delivery of micro-batches to ``foreachBatch`` — after a failure the same
(batchId, data) pair can be re-delivered. Exactly-once VISIBILITY is the
sink's job, via idempotent commits keyed by batchId (the published
pattern behind every transactional Spark sink). The WAP manifest table
(sources/manifest_sink.py) gives exactly that: ``publish(snapshot_id=
f"batch-{batch_id}")`` is a no-op when that id already committed, so a
replayed batch can never double-publish. This is the streaming analog
of the reference MapReduce worker's exactly-once output story
(temp-file + rename per reduce task), lifted to a versioned multi-file
table.

Every foreachBatch sink runs on one skeleton, ``run_batch_sink``:

- It owns the run: a fresh run id and one run-scoped dir under SCRATCH
  holding the ``ManifestTable`` and the feed. The table is fresh per
  run because micro-batch ids restart at 0 per query — a reused table
  would no-op on stale snapshots.
- A batch ``feed`` is written as parquet (one file per partition, so
  the caller picks the split) and streamed back ``per_trigger`` files
  per trigger, so the per-batch path really runs several times. A
  streaming ``feed`` runs as-is, in the caller's output mode: complete
  for wap's aggregate, update for ``state.stream_kv_dedup``'s dedup
  state.
- ``start`` → ``processAllAvailable`` → ``stop``; the table's current
  version then goes through the caller's ``finish`` step and is
  materialized (``session.materialize``), because the run dir is
  deleted next — in a ``finally``, so a failed batch or finish step
  leaves nothing behind either.

The counter sinks (cms, ann, chunk, quality, perplexity, decontaminate)
fold each batch's partial counters into the current version with
``merge_counters`` (read current + union + re-sum) and publish under
the batch id: a replayed batch recomputes the merge against whatever is
current, then hits the idempotent no-op publish, so counts never
double-add. Counter addition is exact and associative, so the final
table equals the one-shot batch aggregate — the shared DuckDB oracle
each key is hash-checked against. The keyed-change sinks (cdc_upsert,
cdc_apply_changes, dv_erasure) seed the table with the orders base
version and apply each batch as one commit under its batch id.

Every file-ingest stream runs on a second, smaller skeleton,
``run_available_now``: drain the backlog under
``Trigger.AvailableNow`` into an append-only parquet sink whose
checkpoint dir is named by the input's identity, then read the sink
back. ``stream_available_now`` feeds it the events file; the four
binary-corpus streams (.bmp here, .wav, .tar.gz and .warc.gz in their
modules) feed it ``binary_file_stream`` over a corpus that
``sources/textfiles.write_doc_files`` built once per session.
"""

from __future__ import annotations

import decimal
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.operators.multimodal import BINFILE_CAP as _BINFILE_CAP
from tinymapreduce_spark.pyworker import row_stage
from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import (
    documents_for_cpu,
    events_stream_source,
    load_table,
    normalize_event_ts,
)
from tinymapreduce_spark.sources.manifest_sink import ManifestTable, cdc_change_feed
from tinymapreduce_spark.sources.textfiles import SCRATCH, corpus_dir


def run_batch_sink(
    prefix: str,
    feed: DataFrame,
    per_batch: Callable[[ManifestTable, DataFrame, int], object],
    finish: Callable[[DataFrame], DataFrame] | None = None,
    per_trigger: int = 2,
    seed: Callable[[ManifestTable], object] | None = None,
    mode: str = "append",
) -> DataFrame:
    """Run one foreachBatch sink (module docstring) and return its
    materialized result: ``seed(table)`` before the stream starts,
    ``per_batch(table, batch_df, batch_id)`` per micro-batch in output
    ``mode``, then ``finish`` (default: none) over the table's current
    version."""
    spark = feed.sparkSession
    run_dir = os.path.join(SCRATCH, f"{prefix}_{uuid.uuid4().hex[:8]}")
    try:
        table = ManifestTable(os.path.join(run_dir, "table"))
        if seed is not None:
            seed(table)
        stream = feed
        if not feed.isStreaming:
            src = os.path.join(run_dir, "feed")
            feed.write.parquet(src)
            stream = (
                spark.readStream.schema(spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", str(per_trigger))
                .parquet(src)
            )
        q = (
            stream.writeStream.outputMode(mode)
            .foreachBatch(lambda df, i: per_batch(table, df, i))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        out = table.read(spark)
        return materialize(finish(out) if finish else out)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def merge_counters(
    table: ManifestTable, part: DataFrame, keys: list[str], sums: list[str]
) -> DataFrame:
    """The frame to publish for a batch's partial counters ``part``:
    ``part`` itself on the first batch, else the table's current
    version plus ``part``, re-summed per ``keys`` (``sums`` as long)."""
    if table.current_version() is None:
        return part
    return (
        table.read(part.sparkSession)
        .unionByName(part)
        .groupBy(*keys)
        .agg(*[F.sum(c).cast("long").alias(c) for c in sums])
    )


def _orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def _seed_orders(orders: DataFrame) -> Callable[[ManifestTable], object]:
    """Seed step of the keyed-change sinks: the orders table as the base
    version, range-split on the key with per-file key stats, so each
    batch's stats semi-join prunes to the files of its key slice."""
    return lambda table: table.publish(
        orders.repartitionByRange(8, "o_orderkey"),
        snapshot_id="base",
        stats_cols=["o_orderkey"],
    )


def _status_totals(final: DataFrame) -> DataFrame:
    """Finish step of the keyed-change sinks: per-status row count and
    addition-order-exact price total."""
    return final.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


def stream_wap_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type totals streamed into a WAP manifest table: each
    micro-batch publishes the complete-mode aggregate as one snapshot
    (snapshot_id = batch id), and the query returns the table's CURRENT
    version — which, for bounded input, equals the batch aggregate over
    all events (shared SQL oracle). Batch replays hit the idempotent
    no-op path, so recovery never double-counts."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_event_ts(events_stream_source(spark, sf_dir, schema))
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return run_batch_sink(
        "wap_stream",
        agg,
        lambda table, batch_df, batch_id: table.publish(
            batch_df, snapshot_id=f"batch-{batch_id}"
        ),
        mode="complete",
    )


STREAM_WAP_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


def stream_cms_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance — the incremental form of
    ``operators/sketches.cms_heavy_hitters``: the corpus arrives as
    micro-batches (8 feed files, 2 per trigger), each batch's
    (row, bucket) cell counts are ADDED into the versioned sketch
    table, and the final table is queried batch-side for the top-k
    heavy hitters. The final cell table equals the one-shot batch
    sketch bit-for-bit, so the query output shares CMS_SQL with the
    batch operator.

    At 100 TB this is the production sketch story: per-batch partial
    cell tables are a few KB regardless of batch size; history gives
    time-travel over sketch states; rollups union cell tables.
    """
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.operators.sketches import (
        CMS_TOPK,
        _cms_cells,
    )

    # RAW table for the feed write (the tokenize + sketch fold runs on
    # the BATCH reads): the spread-for-CPU view would just move the
    # text through a second exchange before the repartition(8) one.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def merge_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> None:
        cells = (
            batch_df.select(F.explode(tokens("text")).alias("token"))
            .select(F.explode(_cms_cells(F.col("token"))).alias("c"))
            .groupBy(F.col("c.r").alias("r"), F.col("c.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("cell_n"))
        )
        table.publish(
            merge_counters(table, cells, ["r", "b"], ["cell_n"]),
            snapshot_id=f"batch-{batch_id}",
        )

    def top_k(cells: DataFrame) -> DataFrame:
        cand = docs.select(F.explode(tokens("text")).alias("token")).distinct()
        est = (
            cand.select("token", F.explode(_cms_cells(F.col("token"))).alias("c"))
            .select("token", F.col("c.r").alias("r"), F.col("c.b").alias("b"))
            .join(F.broadcast(cells), ["r", "b"])
            .groupBy("token")
            .agg(F.min("cell_n").alias("est_count"))
        )
        return est.orderBy(F.desc("est_count"), F.asc("token")).limit(CMS_TOPK)

    return run_batch_sink("cms_stream", docs.repartition(8), merge_batch, top_k)


def stream_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OBSERVABILITY: ``df.observe`` rides the event stream so
    per-micro-batch counters (rows seen, value total, late-ish nulls)
    arrive in each progress report WITHOUT a second scan or a separate
    monitoring query — the streaming twin of
    ``plans/maintenance.py::observed_metrics``. The query aggregates the
    per-batch observations from the progress log and returns corpus
    totals; the value total folds through DECIMAL(18,2) so the result is
    addition-order-exact and oracle-checkable. At scale this is how a
    production pipeline exports throughput/quality counters to its
    metrics bus for free."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = normalize_event_ts(events_stream_source(spark, sf_dir, schema))
    observed = stream.observe(
        "ingest_counters",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        F.count(F.when(F.col("props").isNull(), 1)).alias("n_null_props"),
    )
    # a real (tiny) downstream computation so the observe node has a consumer
    agg = observed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = f"stream_obs_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        rows = []
        for p in q.recentProgress:
            m = p.observedMetrics.get("ingest_counters")
            if m is not None:
                rows.append((int(m["n_rows"]), m["total_value"], int(m["n_null_props"])))
    finally:
        q.stop()
    n_rows = sum(r[0] for r in rows)
    # per-batch totals may arrive as float through the progress JSON;
    # str() recovers the exact decimal(18,2) value, and the cross-batch
    # fold stays in Decimal so it is addition-order-exact
    total = sum(
        (decimal.Decimal(str(r[1])) for r in rows if r[1] is not None),
        decimal.Decimal(0),
    )
    n_null = sum(r[2] for r in rows)
    return spark.createDataFrame(
        [(n_rows, float(total), n_null)],
        "n_rows long, total_value double, n_null_props long",
    )


STREAM_OBSERVE_SQL = """
SELECT COUNT(*) AS n_rows,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_value,
       CAST(COUNT(CASE WHEN props IS NULL THEN 1 END) AS BIGINT) AS n_null_props
FROM events
"""


def run_available_now(stream: DataFrame, base: str, schema) -> DataFrame:
    """Drain ``stream`` under ``Trigger.AvailableNow`` into an
    append-only parquet sink (``base/sink``, checkpoint ``base/ckpt``)
    and return the sink read back with ``schema`` — an empty frame when
    nothing ever landed. The one lifecycle of every file-ingest stream:
    the query processes exactly the backlog present at start, then
    terminates. The file-stream checkpoint tracks input files by path,
    so a re-run against the same ``base`` ingests nothing new and the
    sink stays stable: the exactly-once ingest certificate. ``base``
    must therefore be named by the input's identity (``corpus_dir``),
    or a regenerated input would be silently skipped."""
    spark = stream.sparkSession
    sink = os.path.join(base, "sink")
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("availableNow drain did not self-terminate")
    if os.path.isdir(sink) and any(f.endswith(".parquet") for f in os.listdir(sink)):
        return spark.read.schema(schema).parquet(sink)
    return spark.createDataFrame([], schema)


def binary_file_stream(spark: SparkSession, src: str, glob: str) -> DataFrame:
    """Streaming ``binaryFile`` read of the files under ``src`` matching
    ``glob`` — the landing-bucket autoloader shape: new files are picked
    up by the checkpointed file index, the listing is pruned by the
    glob, and each row carries one whole file's bytes. Streaming reads
    need the source's fixed schema spelled out."""
    return (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .load(src)
    )


def stream_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``Trigger.AvailableNow`` as a driver query — the scheduled-
    incremental execution mode every production ingest uses: process
    exactly the backlog present at start (checkpoint-tracked,
    rate-limitable), write an append-only parquet sink, then terminate
    (``run_available_now``). Re-running the query against the same
    checkpoint ingests NOTHING new, so the aggregate over the sink
    equals the batch aggregate over the source no matter how many
    times the query ran."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    back = normalize_event_ts(
        run_available_now(
            events_stream_source(spark, sf_dir, schema),
            corpus_dir("avail_now", sf_dir, "events"),
            schema,
        )
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )


STREAM_AVAILABLE_NOW_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


def stream_binary_files_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MULTIMODAL ingest — the autoloader shape every image
    pipeline schedules: a streaming ``binaryFile`` read over the .bmp
    corpus directory, the real BMP decode running INSIDE the stream as
    an Arrow-batched per-row stage, and an append-only parquet sink under
    Trigger.AvailableNow (``run_available_now``; idempotent on re-run).
    The checkpoint is named by the .bmp dir's own name, which
    ``_ensure_bmp_files`` keys by corpus identity, so the file index
    and the directory it indexes never disagree. Shares
    binary_files_decode's generation-formula oracle (aggregated)."""
    from tinymapreduce_spark.operators.multimodal import (
        _ensure_bmp_files,
        decode_image,
    )

    src = _ensure_bmp_files(spark, sf_dir)
    blobs = binary_file_stream(spark, src, "*.bmp").select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.bmp$", 1).cast("long").alias("doc_id"),
        "content",
    )

    def decode(d, p):
        w, h, px = decode_image(bytes(p))
        yield d, sum(v for row in px for bgr in row for v in bgr), w * h

    out = "doc_id long, pixel_sum long, n_px long"
    back = run_available_now(
        row_stage(blobs, out, decode),
        os.path.join(SCRATCH, f"stream_{os.path.basename(src)}"),
        out,
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum("pixel_sum").alias("pixel_sum_total"),
        F.sum("n_px").alias("n_px_total"),
    )


STREAM_BINARY_FILES_SQL = f"""
WITH dims AS (
  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + (doc_id * 3) % 5 AS h
  FROM documents WHERE doc_id < {_BINFILE_CAP}
), px AS (
  SELECT d.doc_id, d.w, d.h,
         (d.doc_id + 7 * x.x + 13 * y.y + 31 * c.c) % 256 AS v
  FROM dims d,
       LATERAL (SELECT UNNEST(range(0, d.w)) AS x) x,
       LATERAL (SELECT UNNEST(range(0, d.h)) AS y) y,
       LATERAL (SELECT UNNEST(range(0, 3)) AS c) c
)
SELECT CAST((SELECT COUNT(*) FROM dims) AS BIGINT) AS n_images,
       CAST(SUM(v) AS BIGINT) AS pixel_sum_total,
       CAST((SELECT SUM(w * h) FROM dims) AS BIGINT) AS n_px_total
FROM px
"""


def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — a change feed MERGEd into the versioned
    table one micro-batch at a time through ``foreachBatch`` +
    ``upsert_matching`` (the join-based copy-on-write core, so each
    batch's key set stays a DataFrame: stats semi-join file pruning +
    LEFT ANTI row match, no driver-side key list even under streaming).

    Feed construction (deterministic): orders of custkeys divisible by 7
    arrive as UPDATES (price doubled — exact for doubles), custkeys
    divisible by 11 as INSERTS (negated orderkey), RANGE-split on the
    key into 4 files and streamed one file per trigger, so the MERGE
    really runs 4 times against an evolving table. The range split
    matters at scale: each micro-batch carries a CONTIGUOUS key slice,
    so the stats semi-join prunes to ~1/4 of the table's files per
    batch instead of rewriting every file every batch (a hash split
    makes every batch touch everything — measured ~20% slower end to
    end at sf0.1, and the gap is the table-rewrite volume, so it widens
    with table size). Keys are disjoint across batches, so the final
    state is order-independent.

    Each batch commits under ``snapshot_id=cdc-{batch_id}``. Oracle:
    CASE + UNION ALL reconstruction of the final state (shared shape
    with ``manifest_upsert``, different key classes)."""
    orders = _orders(spark, sf_dir)
    updates = orders.where("o_custkey % 7 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    inserts = orders.where("o_custkey % 11 = 0").select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
    )
    return run_batch_sink(
        "cdc",
        updates.unionByName(inserts).repartitionByRange(4, "o_orderkey"),
        lambda table, batch_df, batch_id: table.upsert_matching(
            batch_df.sparkSession, "o_orderkey", batch_df, snapshot_id=f"cdc-{batch_id}"
        ),
        _status_totals,
        per_trigger=1,
        seed=_seed_orders(orders),
    )


STREAM_CDC_UPSERT_SQL = """
WITH final AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_custkey % 7 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_custkey % 11 = 0
)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM final GROUP BY o_orderstatus
"""


def stream_cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply with DELETES — the full change-feed shape
    (op column carrying D/U/I) MERGEd into the versioned table one
    micro-batch at a time through ``ManifestTable.apply_changes``: each
    batch's deletes and upserts land in ONE atomic commit (Delta's
    ``WHEN MATCHED AND op='D' THEN DELETE`` applied per epoch).

    Feed construction (deterministic, disjoint op classes so the final
    state is order-independent): custkeys divisible by 13 arrive as
    DELETE rows, else divisible by 7 as UPDATEs (price doubled — exact
    for doubles), else divisible by 11 as INSERTs (negated orderkey).
    RANGE-split on the key into 4 files streamed one per trigger, so
    the stats semi-join prunes each batch to its key slice of the
    table (the ``stream_cdc_upsert`` pruning story, now with erasure
    in the same commit — GDPR deletion riding a CDC feed). Each batch
    commits under ``snapshot_id=cdca-{batch_id}``."""
    orders = _orders(spark, sf_dir)
    return run_batch_sink(
        "cdca",
        # op-class predicates shared with the batch twin so driver query
        # and streaming twin can never drift off their common oracle
        cdc_change_feed(orders).repartitionByRange(4, "o_orderkey"),
        lambda table, batch_df, batch_id: table.apply_changes(
            batch_df.sparkSession, "o_orderkey", batch_df, snapshot_id=f"cdca-{batch_id}"
        ),
        _status_totals,
        per_trigger=1,
        seed=_seed_orders(orders),
    )


def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance — the incremental form of
    ``operators/similarity.ann_ivf_topk``'s cell index: the coarse
    quantizer is trained ONCE on the bounded base sample (the
    train-once / ingest-forever posture of every production vector
    store), then vectors arrive as micro-batches (8 feed files, 2 per
    trigger) and each batch's nearest-centroid assignments are ADDED
    into a versioned per-cell postings-stats table. The query returns
    the final per-cell row counts and vec_id checksums. Because the
    codebook is frozen and per-cell addition is exact and associative,
    the final table equals the one-shot batch assignment bit-for-bit:
    the oracle replays the integer-Lloyd's training and full-corpus
    assignment in SQL (STREAM_ANN_INGEST_SQL shares the IVF oracle's
    CTEs).

    At 100 TB this is how a vector index actually grows: assignment is
    a narrow map per batch (one broadcast centroid row, no shuffle),
    the stats table stays O(NLIST) regardless of corpus size, and the
    full postings lists would ride the same foreachBatch as an
    append-only (cid)-partitioned sink."""
    from tinymapreduce_spark.operators.similarity import (
        _cached_centroids_int,
        _nearest_cid,
        _with_cell_dists,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _cached_centroids_int(spark, sf_dir, emb)
    if not cents:
        return spark.createDataFrame([], "cid int, n_vecs long, id_sum long")

    def merge_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> None:
        part = (
            _with_cell_dists(batch_df, cents)
            .select("vec_id", _nearest_cid().alias("cid"))
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("vec_id").alias("id_sum"),
            )
        )
        # The stats table is O(NLIST) rows BY CONSTRUCTION (cid is the
        # grouping key of a bounded codebook), yet the aggregate leaves
        # it spread over every shuffle partition — each version was
        # published as 32 near-empty parquet files, and every later
        # batch's read-modify-write paid a 32-task scan + 32-file
        # footer pass for <= NLIST rows (phase_profile r11: one 32-task
        # 0.26 s job per micro-batch was exactly this write). coalesce
        # narrows only this final O(NLIST) write; the assignment scan
        # and the aggregation stay parallel (guide §6 small files).
        merged = merge_counters(table, part, ["cid"], ["n_vecs", "id_sum"])
        table.publish(merged.coalesce(1), snapshot_id=f"batch-{batch_id}")

    return run_batch_sink(
        "ann_stream",
        emb.repartition(8),
        merge_batch,
        lambda final: final.select("cid", "n_vecs", "id_sum"),
    )


def _stream_ann_ingest_sql() -> str:
    """Batch-equality oracle: replay quantization, integer-Lloyd's
    training and full-corpus cell assignment (the IVF oracle's own
    CTEs), then fold per-cell counts/checksums."""
    from tinymapreduce_spark.operators.similarity import (
        _ivf_search_ctes,
        _ivf_train_ctes,
        _quant_cte,
    )

    return f"""
WITH {_quant_cte()},
{_ivf_train_ctes()},
{_ivf_search_ctes()}
SELECT cid, COUNT(*) AS n_vecs, CAST(SUM(vec_id) AS BIGINT) AS id_sum
FROM cells
GROUP BY cid
"""


STREAM_ANN_INGEST_SQL = _stream_ann_ingest_sql()


def stream_chunk_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming chunk-store ingestion — the incremental form of
    ``operators/dedup.content_chunk_dedup``: documents arrive as
    micro-batches (8 feed files, 2 per trigger), each batch is
    content-defined-chunked and its (source, chunk-md5, length) counts
    are ADDED into a versioned chunk-identity table. The query folds
    the final table into the same per-source dedup-ratio rollup as the
    batch operator — and because chunk boundaries depend only on
    document CONTENT (never on batch composition) and count addition is
    exact and associative, the end state equals the one-shot batch
    chunking bit-for-bit: the oracle is CONTENT_CHUNK_SQL, shared
    verbatim.

    This is the storage-dedup ingest loop at 100 TB: the chunk-identity
    table grows with UNIQUE content only (16-byte digests + counts,
    never text), each batch's delta is a narrow map + digest-width
    shuffle, and a re-delivered batch can never double-count a chunk."""
    from tinymapreduce_spark.operators.dedup import content_chunks_df

    # RAW table for the feed write: the only consumer of `docs` is the
    # 8-file feed, whose repartition is already an exchange — routing
    # it through the spread-for-CPU view would move the full text
    # payload through a second, useless exchange (the CPU-heavy
    # chunking runs on the BATCH reads, not here).
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.length("text") > 0)
        .select("doc_id", "source", "text")
    )

    def merge_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> None:
        part = (
            content_chunks_df(batch_df)
            .select(
                "source", F.md5("chunk").alias("h"), F.length("chunk").alias("clen")
            )
            .groupBy("source", "h", "clen")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        table.publish(
            merge_counters(table, part, ["source", "h", "clen"], ["cnt"]),
            snapshot_id=f"batch-{batch_id}",
        )

    def rollup(final: DataFrame) -> DataFrame:
        return (
            final.groupBy("source")
            .agg(
                F.sum("cnt").alias("n_chunks"),
                F.count(F.lit(1)).alias("n_unique_chunks"),
                F.sum(F.col("cnt") * F.col("clen")).alias("chars_total"),
                F.sum("clen").alias("chars_unique"),
            )
            .withColumn(
                "dedup_ratio", F.round(F.col("chars_unique") / F.col("chars_total"), 6)
            )
        )

    return run_batch_sink("chunk_stream", docs.repartition(8), merge_batch, rollup)


def stream_dv_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR-style erasure through deletion vectors — the
    merge-on-read counterpart of ``stream_cdc_upsert``'s copy-on-write
    MERGE: erase requests (order keys of customers divisible by 13)
    arrive as micro-batches, RANGE-split on the key into 4 files and
    streamed one per trigger, and each batch commits a deletion-vector
    sidecar via ``delete_matching_mor`` — O(matched positions) written
    per batch, ZERO data files rewritten across the whole feed (the
    base files stay byte-identical; the pytest companion on the batch
    path pins that). The query aggregates the DV-read final state.

    Each batch commits under ``snapshot_id=dv-{batch_id}``; a replayed
    batch re-derives its positions against the current version —
    already-deleted positions are skipped by the never-record-twice
    rule — and hits the idempotent no-op publish. Erase keys are
    disjoint across batches (range split), so the final state is
    order-independent and equals the one-shot batch delete: the oracle
    replays the erase predicate over the raw table.

    At 100 TB this is how continuous right-to-be-forgotten actually
    ships: the erasure stream writes KBs of positions per batch while
    compaction (``optimize``) materializes on its own schedule."""
    orders = _orders(spark, sf_dir)
    return run_batch_sink(
        "dverase",
        orders.where("o_custkey % 13 = 0")
        .select("o_orderkey")
        .repartitionByRange(4, "o_orderkey"),
        lambda table, batch_df, batch_id: table.delete_matching_mor(
            batch_df.sparkSession, "o_orderkey", batch_df, snapshot_id=f"dv-{batch_id}"
        ),
        _status_totals,
        per_trigger=1,
        seed=_seed_orders(orders),
    )


STREAM_DV_ERASURE_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_custkey % 13 <> 0
GROUP BY o_orderstatus
"""


def stream_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming document-quality filtering — the incremental form of
    ``operators/textstats.gopher_rules``: the corpus arrives as
    micro-batches (8 feed files, 2 per trigger), each batch runs the
    SAME Catalyst rule battery (shared ``gopher_rules_df`` expressions)
    and its per-(lang, verdict) accept/reject counters are ADDED into
    the versioned table. The final table equals the one-shot batch
    aggregate — the shared-SQL oracle the driver hash-checks.

    At 100 TB this is the live curation dashboard: per-batch verdict
    partials are O(|langs| x 2) rows regardless of batch size, and
    table history time-travels the acceptance rate."""
    from tinymapreduce_spark.operators.textstats import gopher_rules_df

    # RAW table for the feed write (not the spread-for-CPU view): the
    # rule battery runs on the BATCH reads inside foreachBatch; here
    # the text would just pay a second full exchange before the
    # repartition(8) one.
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def merge_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> None:
        part = (
            gopher_rules_df(batch_df, passthrough=("lang",))
            .groupBy("lang", "passes")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_words").cast("long").alias("n_words"),
            )
        )
        table.publish(
            merge_counters(table, part, ["lang", "passes"], ["n_docs", "n_words"]),
            snapshot_id=f"batch-{batch_id}",
        )

    return run_batch_sink("quality_stream", docs.repartition(8), merge_batch)


def _stream_quality_sql() -> str:
    from tinymapreduce_spark.operators.textstats import GOPHER_RULES_SQL

    return f"""
SELECT d.lang, r.passes, COUNT(*) AS n_docs,
       CAST(SUM(r.n_words) AS BIGINT) AS n_words
FROM ({GOPHER_RULES_SQL}) r JOIN documents d USING (doc_id)
GROUP BY 1, 2
"""


STREAM_QUALITY_SQL = _stream_quality_sql()


def stream_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LM-quality scoring against a FROZEN model — the
    continuous-ingestion form of ``textstats.perplexity_buckets``: the
    bigram LM and the per-language tercile cutpoints are trained ONCE
    batch-side over the full corpus (CCNet trains offline, scores the
    crawl as it arrives), frozen via ``materialize``, and every
    micro-batch (8 feed files, 2 per trigger) scores its documents
    against the static model (stream-static joins inside
    foreachBatch), labels them head/middle/tail, and ADDs its
    per-(lang, bucket) counters into the versioned table. Because the
    frozen model is exactly the batch query's model, the final counter
    table equals the batch bucketing aggregated — the shared-SQL oracle
    the driver hash-checks.

    At 100 TB: the LM is vocab^2-bounded and broadcast once; per-batch
    partials are O(|lang| x 3) rows regardless of batch bytes; table
    history time-travels the corpus quality mix as the crawl grows."""
    from tinymapreduce_spark.operators.textstats import (
        pplx_bigrams_df,
        pplx_cuts_df,
        pplx_label_df,
        pplx_model_df,
        pplx_score_df,
    )

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "text", "lang")
    # Materialize the bigram pass ONCE: both the LM build and the
    # calibration scoring below consume bg_full, and since each is
    # frozen by its own eager materialization they would otherwise run
    # the doc-scan + explode + groupBy twice (separate jobs see no
    # ReuseExchange). One checkpoint halves the model-training setup.
    bg_full = materialize(pplx_bigrams_df(docs))
    lm, starts = pplx_model_df(bg_full)
    lm = materialize(lm)
    starts = materialize(starts)
    cuts = materialize(pplx_cuts_df(pplx_score_df(bg_full, lm, starts)))

    def merge_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> None:
        labeled = pplx_label_df(
            pplx_score_df(pplx_bigrams_df(batch_df), lm, starts), cuts
        )
        part = labeled.groupBy("lang", "bucket").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").cast("long").alias("n_bigrams"),
        )
        table.publish(
            merge_counters(table, part, ["lang", "bucket"], ["n_docs", "n_bigrams"]),
            snapshot_id=f"batch-{batch_id}",
        )

    # Feed write from the RAW table: `docs` (the spread view) is the
    # right input for the CPU-heavy model training above, but routing
    # the feed write through it would pay the spread exchange a second
    # time just to re-exchange into 8 files.
    feed = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return run_batch_sink("pplx_stream", feed.repartition(8), merge_batch)


def _stream_pplx_sql() -> str:
    from tinymapreduce_spark.operators.textstats import PERPLEXITY_BUCKETS_SQL

    return f"""
SELECT lang, bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
FROM ({PERPLEXITY_BUCKETS_SQL}) GROUP BY 1, 2
"""


STREAM_PPLX_SQL = _stream_pplx_sql()


def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination — the incremental form of
    ``operators/curation.contamination_check``: the eval slice's
    distinct 3-gram set is computed ONCE up front (tiny — ~1/97th of
    the corpus — and broadcast into every micro-batch), then the
    training corpus arrives as micro-batches (8 feed files, 2 per
    trigger); each batch left-semi joins its grams against the static
    eval set and ADDS its per-source (n_train_docs, n_contaminated)
    partials into the versioned table. Because every training doc
    arrives in exactly one batch and contamination is a per-doc
    predicate against a STATIC set, per-batch partials sum to exactly
    the one-shot batch aggregate — the shared oracle the driver
    hash-checks.

    At 100 TB this is live leak monitoring for a training-data intake:
    the eval-gram set stays a broadcast-sized invariant, each batch's
    cost is one tokenize + one semi-join, and table history
    time-travels the contamination rate as the crawl streams in."""
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.operators.curation import EVAL_MOD, _grams

    docs = documents_for_cpu(spark, sf_dir).select("doc_id", "source", "text")
    tokked = docs.select("doc_id", "source", tokens("text").alias("toks"))
    eval_grams = materialize(
        _grams(tokked.where(F.col("doc_id") % EVAL_MOD == 0))
        .select("gram")
        .distinct()
    )

    def merge_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.select("doc_id", "source", tokens("text").alias("toks"))
        contaminated = (
            _grams(b)
            .join(F.broadcast(eval_grams), "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
        part = (
            b.select("doc_id", "source")
            .join(contaminated, "doc_id", "left")
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_train_docs"),
                F.count("hit").alias("n_contaminated"),
            )
        )
        table.publish(
            merge_counters(
                table, part, ["source"], ["n_train_docs", "n_contaminated"]
            ),
            snapshot_id=f"batch-{batch_id}",
        )

    # Feed write from the RAW table: `docs` (the spread view) is the
    # right input for the eval-gram tokenize above, but the feed write
    # needs no CPU spread — only the 8-file exchange.
    feed = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).where(F.col("doc_id") % EVAL_MOD != 0)
    return run_batch_sink("decontam_stream", feed.repartition(8), merge_batch)
