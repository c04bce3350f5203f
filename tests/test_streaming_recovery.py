"""Streaming checkpoint recovery: a query stopped mid-input and restarted
from its checkpoint must process every input exactly once — no lost and
no duplicated rows in the file sink. This is the streaming analog of the
reference's crash test (workers die, output must equal the no-crash
golden, /root/reference/src/main/test-mr.sh:275-322): there the
coordinator requeues tasks; here the checkpoint + file-sink commit log
replay the unfinished batch idempotently.
"""

from __future__ import annotations

import gc
import importlib
import os
import shutil
import time

import pyspark.sql.functions as F
import pytest


def _write_file(spark, src: str, name: str, ids: range) -> None:
    df = spark.createDataFrame([(i, i * 10) for i in ids], "id long, v long")
    staging = src + f".stage_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
    shutil.rmtree(staging)


def test_restart_from_checkpoint_is_exactly_once(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ckpt_recovery"))
    src, ckpt, sink = (os.path.join(base, d) for d in ("src", "ckpt", "sink"))
    os.makedirs(src)

    _write_file(spark, src, "f1", range(0, 100))
    _write_file(spark, src, "f2", range(100, 200))

    def start():
        return (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withColumn("doubled", F.col("v") * 2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # first incarnation: let it drain f1+f2, then stop
    q = start()
    q.processAllAvailable()
    q.stop()

    # new input arrives while the query is DOWN
    _write_file(spark, src, "f3", range(200, 250))

    # second incarnation resumes from the checkpoint
    q = start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(sink)
    assert out.count() == 250  # no loss, no duplication
    agg = out.agg(
        F.count_distinct("id").alias("d"),
        F.sum("doubled").alias("s"),
    ).collect()[0]
    assert agg["d"] == 250
    assert agg["s"] == sum(i * 20 for i in range(250))


def test_foreach_batch_idempotent_sink(spark, tmp_path_factory):
    """foreachBatch exactly-once pattern: the sink writes one directory
    per epoch with overwrite semantics, so a RE-EXECUTED epoch (Spark
    replays the last uncommitted batch after a crash) lands on the same
    path and changes nothing. Restarting with new input appends new
    epochs and never touches committed ones."""
    import glob

    base = str(tmp_path_factory.mktemp("feb_sink"))
    src, ckpt, sink = (os.path.join(base, d) for d in ("src", "ckpt", "sink"))
    os.makedirs(src)
    os.makedirs(sink)

    _write_file(spark, src, "f1", range(0, 50))
    _write_file(spark, src, "f2", range(50, 100))

    def write_batch(bdf, epoch_id):
        bdf.withColumn("doubled", F.col("v") * 2).write.mode("overwrite").parquet(
            os.path.join(sink, f"epoch={epoch_id}")
        )

    def start():
        return (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()

    def read_all():
        df = spark.read.option("basePath", sink).parquet(os.path.join(sink, "epoch=*"))
        return sorted((r.id, r.v, r.doubled) for r in df.collect())

    first = read_all()
    assert first == [(i, i * 10, i * 20) for i in range(100)]

    # simulated epoch re-execution (crash between sink write and commit):
    # rerun the latest epoch's data through the same writer — idempotent
    epochs = sorted(int(p.split("=")[-1]) for p in glob.glob(os.path.join(sink, "epoch=*")))
    replay = spark.createDataFrame([(i, i * 10) for i in range(50, 100)], "id long, v long")
    write_batch(replay, epochs[-1])
    assert read_all() == first

    # restart with new input: a new epoch appears, old ones untouched
    _write_file(spark, src, "f3", range(100, 150))
    q = start()
    q.processAllAvailable()
    q.stop()
    assert read_all() == [(i, i * 10, i * 20) for i in range(150)]


def test_wap_stream_sink_replay_is_exactly_once(spark, tmp_path_factory):
    """The WAP manifest table as a streaming sink: micro-batches publish
    snapshots keyed by batch id, so a replayed batch (at-least-once
    foreachBatch delivery after a crash) hits the idempotent no-op path
    — version count and readable data are unchanged."""
    from tinymapreduce_spark.sources.manifest_sink import ManifestTable

    base = str(tmp_path_factory.mktemp("wap_stream"))
    src = os.path.join(base, "src")
    os.makedirs(src)
    _write_file(spark, src, "f1", range(0, 40))
    _write_file(spark, src, "f2", range(40, 90))

    table = ManifestTable(os.path.join(base, "table"))
    seen: list[tuple[int, int]] = []

    def publish_batch(bdf, batch_id):
        seen.append((batch_id, bdf.count()))
        table.publish(bdf, snapshot_id=f"batch-{batch_id}")

    q = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .groupBy((F.col("id") % 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .foreachBatch(publish_batch)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    versions_before = table.current_version()
    data_before = sorted((r.bucket, r.n) for r in table.read(spark).collect())
    assert data_before == [(b, 9) for b in range(10)]  # 90 ids over 10 buckets

    # crash-replay the last delivered batch verbatim: no new version
    last_id, _ = seen[-1]
    replay = table.read(spark, version=versions_before)
    table.publish(replay, snapshot_id=f"batch-{last_id}")
    assert table.current_version() == versions_before
    assert sorted((r.bucket, r.n) for r in table.read(spark).collect()) == data_before


def test_available_now_processes_backlog_then_stops(spark, tmp_path_factory):
    """Trigger.AvailableNow — the batch-over-stream execution mode every
    incremental pipeline schedules: process exactly the files present at
    start (respecting maxFilesPerTrigger batching and the checkpoint),
    then terminate on its own; a later run picks up only NEW files."""
    base = str(tmp_path_factory.mktemp("avail_now"))
    src, ckpt, sink = (os.path.join(base, d) for d in ("src", "ckpt", "sink"))
    os.makedirs(src)

    _write_file(spark, src, "f1", range(0, 50))
    _write_file(spark, src, "f2", range(50, 80))

    def run_once():
        q = (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "availableNow query did not self-terminate"

    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 80
    assert first.agg(F.count_distinct("id")).collect()[0][0] == 80

    # second incarnation sees only the new file — incremental, not a rescan
    _write_file(spark, src, "f3", range(80, 100))
    run_once()
    final = spark.read.parquet(sink)
    assert final.count() == 100
    assert final.agg(F.count_distinct("id")).collect()[0][0] == 100


def test_custom_stream_reader_offsets_cover_exactly_once(spark, sf_dir):
    """The connector's DataSourceStreamReader contract, unit-level:
    ratcheted latestOffset() walks the sorted file list to the end in
    <=MAX_FILES_PER_BATCH steps; partitions(start, end) is a pure
    function of the offsets (same call -> same files); and the batch
    ranges tile the directory exactly once with no overlap."""
    from tinymapreduce_spark.sources.mr_runs_source import MrRunsStreamReader
    from tinymapreduce_spark.sources.textfiles import _ensure_json_runs

    runs_dir = _ensure_json_runs(spark, sf_dir)
    rdr = MrRunsStreamReader({"path": runs_dir})
    all_files = rdr._all_files()
    assert all_files, "runs dir unexpectedly empty"

    offsets = [rdr.initialOffset()]
    while True:
        nxt = rdr.latestOffset()
        if nxt == offsets[-1]:
            break
        offsets.append(nxt)
    assert offsets[-1]["idx"] == len(all_files)

    seen: list[str] = []
    for start, end in zip(offsets, offsets[1:]):
        batch = [p.value for p in rdr.partitions(start, end)]
        assert 0 < len(batch) <= MrRunsStreamReader.MAX_FILES_PER_BATCH
        # purity: re-resolving the same offset range yields the same files
        assert batch == [p.value for p in rdr.partitions(start, end)]
        seen.extend(batch)
    assert seen == all_files  # exactly-once tiling, in order

    # rows from a replayed partition equal the first read (no state)
    first = list(rdr.read(rdr.partitions(offsets[0], offsets[1])[0]))
    again = list(rdr.read(rdr.partitions(offsets[0], offsets[1])[0]))
    assert first == again and first


def test_cdc_upsert_restart_from_checkpoint_matches_batch_merge(
    spark, tmp_path_factory
):
    """The CDC MERGE sink under the reference's crash-test posture
    (/root/reference/src/main/test-mr.sh:275-322 applied to the one
    stateful sink that mutates a table): kill the streaming query
    mid-feed, crash-replay the last delivered batch verbatim (the
    at-least-once foreachBatch contract), restart from the checkpoint,
    and the manifest table must equal the one-shot batch MERGE result
    exactly — no lost changes, no double-applied ones, no extra
    versions from the replay."""
    import os

    from tinymapreduce_spark.sources.manifest_sink import ManifestTable

    base = str(tmp_path_factory.mktemp("cdc_restart"))
    src, ckpt = os.path.join(base, "feed"), os.path.join(base, "ckpt")
    os.makedirs(src)

    table = ManifestTable(os.path.join(base, "table"))
    base_rows = [(i, i * 10) for i in range(200)]
    table.publish(
        spark.createDataFrame(base_rows, "id long, v long").repartitionByRange(4, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )

    # change feed: 4 disjoint key slices, each one file = one micro-batch
    # (updates to existing keys + inserts under fresh negative keys)
    def slice_rows(ids):
        return [(i, i * 10 + 1) for i in ids] + [(-i - 1, i) for i in ids]

    def write_feed(name, ids):
        df = spark.createDataFrame(slice_rows(ids), "id long, v long")
        staging = src + f".stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(staging)

    write_feed("f1", range(0, 50))
    write_feed("f2", range(50, 100))

    def apply_batch(bdf, batch_id):
        table.upsert_matching(
            bdf.sparkSession, "id", bdf, snapshot_id=f"cdc-{batch_id}"
        )

    def start():
        return (
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # incarnation 1: drain f1+f2, then the query dies mid-feed
    q = start()
    q.processAllAvailable()
    q.stop()
    v_after_kill = table.current_version()

    # crash-replay: Spark re-delivers the last (batch_id, data) pair after
    # a failure between MERGE commit and checkpoint commit — the
    # idempotent snapshot_id must no-op, leaving version and data alone
    last_batch = spark.read.parquet(os.path.join(src, "f2.parquet"))
    apply_batch(last_batch, 1)
    assert table.current_version() == v_after_kill, "replayed batch must not commit"

    # rest of the feed arrives while the query is DOWN
    write_feed("f3", range(100, 150))
    write_feed("f4", range(150, 200))

    # incarnation 2 resumes from the checkpoint and applies only f3/f4
    q = start()
    q.processAllAvailable()
    q.stop()

    got = {r.id: r.v for r in table.read(spark).collect()}
    expected = {i: i * 10 + 1 for i in range(200)}
    expected.update({-i - 1: i for i in range(200)})
    assert got == expected, "restarted CDC stream must equal the batch MERGE result"
    # exactly 4 CDC commits ever happened: base + cdc-0..cdc-3
    sids = [s.snapshot_id for s in table.history()]
    assert sorted(sids) == ["base", "cdc-0", "cdc-1", "cdc-2", "cdc-3"]


def test_cdc_apply_changes_restart_covers_deletes(spark, tmp_path_factory):
    """The delete-bearing CDC path under the same crash posture: kill
    the stream mid-feed between delete-carrying batches, crash-replay
    the last batch (no-op), restart from checkpoint — the final table
    must equal the one-shot application of the whole change feed, with
    deleted keys gone and exactly one commit per batch."""
    import os

    from tinymapreduce_spark.sources.manifest_sink import ManifestTable

    base = str(tmp_path_factory.mktemp("cdca_restart"))
    src, ckpt = os.path.join(base, "feed"), os.path.join(base, "ckpt")
    os.makedirs(src)

    table = ManifestTable(os.path.join(base, "table"))
    table.publish(
        spark.createDataFrame(
            [(i, i * 10) for i in range(200)], "id long, v long"
        ).repartitionByRange(4, "id"),
        snapshot_id="base",
        stats_cols=["id"],
    )

    # per slice: delete ids % 3 == 0, update the rest, insert one new key
    def slice_rows(ids):
        rows = [(i, 0, "D") if i % 3 == 0 else (i, i + 1, "U") for i in ids]
        rows.append((-min(ids) - 1, 77, "I"))
        return rows

    def write_feed(name, ids):
        df = spark.createDataFrame(slice_rows(ids), "id long, v long, op string")
        staging = src + f".stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(staging)

    write_feed("f1", range(0, 50))
    write_feed("f2", range(50, 100))

    def apply_batch(bdf, batch_id):
        table.apply_changes(spark, "id", bdf, snapshot_id=f"cdca-{batch_id}")

    def start():
        return (
            spark.readStream.schema("id long, v long, op string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    v_after_kill = table.current_version()

    # crash-replay the last delivered batch — idempotent no-op
    apply_batch(spark.read.parquet(os.path.join(src, "f2.parquet")), 1)
    assert table.current_version() == v_after_kill

    write_feed("f3", range(100, 150))
    write_feed("f4", range(150, 200))
    q = start()
    q.processAllAvailable()
    q.stop()

    got = {r.id: r.v for r in table.read(spark).collect()}
    expected = {i: i + 1 for i in range(200) if i % 3 != 0}
    expected.update({-lo - 1: 77 for lo in (0, 50, 100, 150)})
    assert got == expected, "restarted delete-bearing CDC must equal one-shot apply"
    sids = [s.snapshot_id for s in table.history()]
    assert sorted(sids) == ["base", "cdca-0", "cdca-1", "cdca-2", "cdca-3"]


def test_stream_cms_merge_equals_batch_sketch(spark, sf_dir):
    """The incremental cell-table merges across micro-batches must
    reconstruct the one-shot batch sketch EXACTLY (cell addition is
    exact and associative), so the streamed heavy-hitter estimates
    equal cms_heavy_hitters' bit-for-bit. (Idempotent replay of a
    committed batch is covered by the manifest no-op publish tests —
    the merge recomputes against current state and its publish is
    discarded.)"""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.operators.sketches import cms_heavy_hitters
    from tinymapreduce_spark.streaming.sinks import stream_cms_sink

    streamed = {(r.token, r.est_count) for r in stream_cms_sink(spark, sf_dir).collect()}
    batch = {(r.token, r.est_count) for r in cms_heavy_hitters(spark, sf_dir).collect()}
    assert streamed == batch


def test_stream_ann_ingest_equals_batch_assignment(spark, sf_dir):
    """The per-micro-batch cell-stats merges must reconstruct the
    one-shot batch IVF assignment EXACTLY (the codebook is frozen and
    per-cell addition is exact and associative). Idempotent replay of a
    committed batch is covered by the manifest no-op publish tests."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.operators.similarity import (
        _cached_centroids_int,
        _nearest_cid,
        _with_cell_dists,
    )
    from tinymapreduce_spark.streaming.sinks import stream_ann_ingest

    streamed = {
        (r.cid, r.n_vecs, r.id_sum)
        for r in stream_ann_ingest(spark, sf_dir).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _cached_centroids_int(spark, sf_dir, emb)
    batch = {
        (r.cid, r.n_vecs, r.id_sum)
        for r in (
            _with_cell_dists(emb, cents)
            .select("vec_id", _nearest_cid().alias("cid"))
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("vec_id").alias("id_sum"),
            )
            .collect()
        )
    }
    assert streamed == batch


def test_stream_chunk_ingest_equals_batch_chunking(spark, sf_dir):
    """The per-micro-batch chunk-count merges must reconstruct the
    one-shot batch CDC chunking EXACTLY: boundaries depend only on
    document content (never on batch composition), so the streamed
    chunk-identity table folds to the same per-source rollup."""
    from tinymapreduce_spark.operators.dedup import content_chunk_dedup
    from tinymapreduce_spark.streaming.sinks import stream_chunk_ingest

    streamed = {tuple(r) for r in stream_chunk_ingest(spark, sf_dir).collect()}
    batch = {tuple(r) for r in content_chunk_dedup(spark, sf_dir).collect()}
    assert streamed == batch


def test_stream_packer_restart_resumes_open_bin(spark, tmp_path_factory):
    """Kill-and-restart for the incremental packer: stop the query after
    the first feed files, deliver more documents (and the sentinel
    flush) while it is DOWN, restart from the checkpoint — the file
    sink must hold exactly the batch packing's bins, with the open bin
    carried across the restart by the state store (no bin lost, none
    emitted twice, no bin split at the crash boundary)."""
    import pandas as pd

    from tinymapreduce_spark.operators import packing
    from tinymapreduce_spark.streaming.state import (
        PACK_OUTPUT_SCHEMA,
        PACK_SENTINEL_BASE,
        PACK_STATE_SCHEMA,
        _pack_apply,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout

    base = str(tmp_path_factory.mktemp("pack_recovery"))
    src, ckpt, sink = (os.path.join(base, d) for d in ("src", "ckpt", "sink"))
    os.makedirs(src)

    def tok(i: int) -> int:
        return (i * 37) % 150 + 1  # deterministic, crosses bin boundaries

    def write_docs(name: str, ids: range) -> None:
        df = spark.createDataFrame(
            [(i, i % packing.PACK_SHARDS, tok(i)) for i in ids],
            "doc_id long, shard int, t long",
        )
        staging = src + f".stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(staging)

    def start():
        stream = (
            spark.readStream.schema("doc_id long, shard int, t long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        bins = stream.groupBy("shard").applyInPandasWithState(
            _pack_apply,
            outputStructType=PACK_OUTPUT_SCHEMA,
            stateStructType=PACK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return (
            bins.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    write_docs("f1", range(0, 100))
    write_docs("f2", range(100, 200))
    q = start()
    q.processAllAvailable()
    q.stop()

    # docs arrive while the query is DOWN — including the flush sentinels
    write_docs("f3", range(200, 300))
    sent = spark.createDataFrame(
        [(PACK_SENTINEL_BASE + s, s, packing.PACK_CAP + 1) for s in range(packing.PACK_SHARDS)],
        "doc_id long, shard int, t long",
    )
    staging = src + ".stage_sent"
    sent.coalesce(1).write.mode("overwrite").parquet(staging)
    part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
    shutil.move(os.path.join(staging, part), os.path.join(src, "f4_sentinel.parquet"))
    shutil.rmtree(staging)

    q = start()
    q.processAllAvailable()
    q.stop()

    got = (
        spark.read.parquet(sink)
        .orderBy("shard", "bin_id")
        .toPandas()
        .reset_index(drop=True)
    )
    all_docs = pd.DataFrame(
        {
            "shard": [i % packing.PACK_SHARDS for i in range(300)],
            "doc_id": list(range(300)),
            "t": [tok(i) for i in range(300)],
        }
    )
    expect = (
        pd.concat(
            [packing._pack_shard(g) for _, g in all_docs.groupby("shard")],
            ignore_index=True,
        )
        .sort_values(["shard", "bin_id"])
        .reset_index(drop=True)
    )
    assert got.astype("int64").equals(expect.astype("int64"))


def test_quality_filter_restart_never_double_counts(spark, tmp_path_factory):
    """The streaming gopher-filter sink under the same crash posture as
    the CDC tests: kill the query mid-feed, crash-replay the last
    delivered batch (must no-op via the idempotent snapshot id — a
    double-ADD of verdict counters would be silent data corruption),
    restart from the checkpoint, and the final counter table must equal
    the one-shot batch aggregate over the whole corpus."""
    from pyspark.sql import functions as SF

    from tinymapreduce_spark.operators.textstats import gopher_rules_df
    from tinymapreduce_spark.sources.manifest_sink import ManifestTable

    base = str(tmp_path_factory.mktemp("qf_restart"))
    src, ckpt = os.path.join(base, "feed"), os.path.join(base, "ckpt")
    os.makedirs(src)

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "lang")
    )

    def write_feed(name, mod):
        df = docs.where(SF.pmod("doc_id", SF.lit(4)) == mod)
        staging = src + f".stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(staging)

    table = ManifestTable(os.path.join(base, "table"))

    def merge_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        part = (
            gopher_rules_df(batch_df, passthrough=("lang",))
            .groupBy("lang", "passes")
            .agg(
                SF.count(SF.lit(1)).alias("n_docs"),
                SF.sum("n_words").cast("long").alias("n_words"),
            )
        )
        if table.current_version() is not None:
            part = (
                table.read(s)
                .unionByName(part)
                .groupBy("lang", "passes")
                .agg(
                    SF.sum("n_docs").alias("n_docs"),
                    SF.sum("n_words").cast("long").alias("n_words"),
                )
            )
        table.publish(part, snapshot_id=f"batch-{batch_id}")

    def start():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_feed("f1", 0)
    write_feed("f2", 1)
    q = start()
    q.processAllAvailable()
    q.stop()
    v_after_kill = table.current_version()

    # crash-replay of the last delivered batch: counters must NOT re-add
    last_batch = spark.read.parquet(os.path.join(src, "f2.parquet"))
    merge_batch(last_batch, 1)
    assert table.current_version() == v_after_kill, "replay must no-op"

    write_feed("f3", 2)
    write_feed("f4", 3)
    q = start()
    q.processAllAvailable()
    q.stop()

    got = {
        (r.lang, r.passes): (r.n_docs, r.n_words)
        for r in table.read(spark).collect()
    }
    expected = {
        (r.lang, r.passes): (r.n_docs, r.n_words)
        for r in gopher_rules_df(docs, passthrough=("lang",))
        .groupBy("lang", "passes")
        .agg(
            SF.count(SF.lit(1)).alias("n_docs"),
            SF.sum("n_words").cast("long").alias("n_words"),
        )
        .collect()
    }
    assert got == expected, "restarted filter stream must equal the batch aggregate"
    sids = [s.snapshot_id for s in table.history()]
    assert sorted(sids) == ["batch-0", "batch-1", "batch-2", "batch-3"]


def test_decontaminate_restart_never_double_counts(spark, tmp_path_factory):
    """stream_decontaminate's sink under the standard crash posture:
    kill mid-feed, crash-replay the last delivered batch (idempotent
    snapshot id must no-op — a double-ADD would inflate contamination
    counts), restart, and the final table must equal the one-shot batch
    contamination aggregate."""
    from pyspark.sql import functions as SF

    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.operators.curation import (
        EVAL_MOD,
        _grams,
        contamination_check,
    )
    from tinymapreduce_spark.sources.manifest_sink import ManifestTable

    base = str(tmp_path_factory.mktemp("decon_restart"))
    src, ckpt = os.path.join(base, "feed"), os.path.join(base, "ckpt")
    os.makedirs(src)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    tokked = docs.select("doc_id", "source", tokens("text").alias("toks"))
    eval_grams = (
        _grams(tokked.where(SF.col("doc_id") % EVAL_MOD == 0))
        .select("gram")
        .distinct()
        .localCheckpoint(eager=True)
    )
    train = docs.where(SF.col("doc_id") % EVAL_MOD != 0)

    def write_feed(name, mod):
        df = train.where(SF.pmod("doc_id", SF.lit(4)) == mod)
        staging = src + f".stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        shutil.move(os.path.join(staging, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(staging)

    table = ManifestTable(os.path.join(base, "table"))

    def merge_batch(batch_df, batch_id):
        s = batch_df.sparkSession
        b = batch_df.select("doc_id", "source", tokens("text").alias("toks"))
        contaminated = (
            _grams(b)
            .join(SF.broadcast(eval_grams), "gram", "left_semi")
            .select("doc_id")
            .distinct()
            .withColumn("hit", SF.lit(1))
        )
        part = (
            b.select("doc_id", "source")
            .join(contaminated, "doc_id", "left")
            .groupBy("source")
            .agg(
                SF.count(SF.lit(1)).alias("n_train_docs"),
                SF.count("hit").alias("n_contaminated"),
            )
        )
        if table.current_version() is not None:
            part = (
                table.read(s)
                .unionByName(part)
                .groupBy("source")
                .agg(
                    SF.sum("n_train_docs").alias("n_train_docs"),
                    SF.sum("n_contaminated").alias("n_contaminated"),
                )
            )
        table.publish(part, snapshot_id=f"batch-{batch_id}")

    def start():
        return (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_feed("f1", 0)
    write_feed("f2", 1)
    q = start()
    q.processAllAvailable()
    q.stop()
    v_after_kill = table.current_version()

    last_batch = spark.read.parquet(os.path.join(src, "f2.parquet"))
    merge_batch(last_batch, 1)
    assert table.current_version() == v_after_kill, "replay must no-op"

    write_feed("f3", 2)
    write_feed("f4", 3)
    q = start()
    q.processAllAvailable()
    q.stop()

    got = {
        r.source: (r.n_train_docs, r.n_contaminated)
        for r in table.read(spark).collect()
    }
    expected = {
        r.source: (r.n_train_docs, r.n_contaminated)
        for r in contamination_check(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == expected, "restarted decontam stream must equal the batch check"
    sids = [s.snapshot_id for s in table.history()]
    assert sorted(sids) == ["batch-0", "batch-1", "batch-2", "batch-3"]


def test_reliable_checkpoint_materialization(spark, sf_dir, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT=1 switches every lineage cut
    (``session.materialize``: sink results and batch operators' cuts)
    from localCheckpoint (single-JVM) to a RELIABLE
    checkpoint in the session checkpoint dir — the cluster-safe posture:
    the returned frame must survive the deletion of its backing table
    and equal the default-path result, and the checkpoint dir must
    actually hold the blocks until the frame is dropped."""
    from tinymapreduce_spark.sources.textfiles import SCRATCH
    from tinymapreduce_spark.streaming.sinks import stream_wap_sink

    default = {
        (r.event_type): (r.n, r.total_value)
        for r in stream_wap_sink(spark, sf_dir).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    out = stream_wap_sink(spark, sf_dir)
    # Spark appends a per-context UUID under the configured dir
    ckpt = spark.sparkContext.getCheckpointDir()
    assert ckpt is not None and "reliable_ckpt" in ckpt
    local = ckpt[len("file:"):] if ckpt.startswith("file:") else ckpt
    assert any(files for _, _, files in os.walk(local)), (
        "reliable checkpoint dir holds no blocks"
    )
    reliable = {(r.event_type): (r.n, r.total_value) for r in out.collect()}
    assert reliable == default

    # A batch operator's lineage cut honours the knob too: its blocks
    # land in the checkpoint dir, and its result equals the default's.
    from tinymapreduce_spark.operators.sketches import digit_bucket_quantiles

    def rdd_dirs() -> set[str]:
        return {d for _, ds, _ in os.walk(local) for d in ds if d.startswith("rdd-")}

    before = rdd_dirs()
    reliable_q = sorted(digit_bucket_quantiles(spark, sf_dir).collect())
    cut = rdd_dirs() - before
    assert cut, "sketch table was not reliably checkpointed"
    # The frame is gone: the context cleaner deletes its checkpoint
    # files (cleaning runs after a JVM GC, asynchronously).
    deadline = time.monotonic() + 60
    while cut & rdd_dirs() and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    assert not cut & rdd_dirs(), "reliable checkpoint files outlived their frame"
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    assert reliable_q == sorted(digit_bucket_quantiles(spark, sf_dir).collect())


@pytest.mark.parametrize(
    "module, sink, prefix, fail",
    [
        ("streaming.sinks", "stream_quality_filter", "quality_stream", "publish"),
        ("streaming.sinks", "stream_wap_sink", "wap_stream", "read"),
        ("streaming.state", "stream_kv_dedup", "kv_dedup_stream", "read"),
        (
            "sources.textfiles",
            "custom_stream_sink",
            "custom_stream_sink_",
            "processAllAvailable",
        ),
    ],
)
def test_failed_sink_run_leaves_no_scratch(
    spark, sf_dir, monkeypatch, module, sink, prefix, fail
):
    """A streaming sink whose per-batch step (``publish``), stream run
    (``processAllAvailable``) or finish step (``read``) raises must
    still delete its run-scoped table, feed and output dirs under
    SCRATCH."""
    from pyspark.sql.streaming.query import StreamingQuery

    from tinymapreduce_spark.sources.manifest_sink import ManifestTable
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    def runs() -> set[str]:
        return {d for d in os.listdir(SCRATCH) if d.startswith(prefix)}

    os.makedirs(SCRATCH, exist_ok=True)

    def boom(*args, **kwargs):
        raise RuntimeError(f"injected {fail} failure")

    before = runs()
    target = StreamingQuery if fail == "processAllAvailable" else ManifestTable
    monkeypatch.setattr(target, fail, boom)
    mod = importlib.import_module(f"tinymapreduce_spark.{module}")
    with pytest.raises(Exception, match="injected"):
        getattr(mod, sink)(spark, sf_dir)
    assert runs() == before


def test_decontaminate_eval_grams_built_once_per_run(spark, monkeypatch):
    """VERDICT r7 #2: the eval 3-gram set is a run-scoped invariant —
    computed and lineage-truncated ONCE before the stream starts, then
    broadcast into every micro-batch. Pins two behaviors: (a) the gram
    generator runs exactly once for the eval slice plus once per
    micro-batch for the arriving training slice (n_batches + 1 total —
    a per-batch eval rebuild would double it), and (b) a checkpoint
    materializes the eval set BETWEEN the first and second gram builds,
    so batch-side broadcasts replay materialized partitions instead of
    re-tokenizing the corpus every trigger."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    from tinymapreduce_spark.operators import curation
    from tinymapreduce_spark.streaming.sinks import stream_decontaminate

    events: list[str] = []
    real_grams = curation._grams
    real_ckpt = ClassicDF.localCheckpoint

    def spy_grams(df):
        events.append("grams")
        return real_grams(df)

    def spy_ckpt(self, eager=True):
        events.append("ckpt")
        return real_ckpt(self, eager=eager)

    monkeypatch.setattr(curation, "_grams", spy_grams)
    monkeypatch.setattr(ClassicDF, "localCheckpoint", spy_ckpt)

    out = stream_decontaminate(spark, "/root/testdata/sf0.001")
    assert out.count() > 0

    # 8 source files at 2 per trigger = 4 micro-batches
    gram_calls = events.count("grams")
    assert gram_calls == 5, (
        f"expected 1 eval + 4 batch gram builds, saw {gram_calls}: {events}"
    )
    second = [i for i, e in enumerate(events) if e == "grams"][1]
    assert "ckpt" in events[:second], (
        "eval gram set must be materialized before the first micro-batch"
    )
