"""Stateful Structured Streaming — the online form of the KV semantics
(SURVEY.md §2.4, §3.3): the reference *specifies* a replicated keyed
store applying Get/Put/Append in log order; Spark's equivalent of that
ordered apply-stream is per-key state in ``applyInPandasWithState``.

The batch form (operators/kv.py::kv_replay) is the oracle: replaying the
whole log through the streaming operator must produce the same final
state, so this query shares kv_replay's SQL oracle.
"""

from __future__ import annotations

import sys
import uuid
from collections.abc import Iterator


import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.operators.packing import PACK_CAP, PACK_SHARDS
from tinymapreduce_spark.pyworker import prime_worker
from tinymapreduce_spark.sources.loaders import events_stream_source, normalize_event_ts
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

cloudpickle.register_pickle_by_value(sys.modules[__name__])

OUTPUT_SCHEMA = StructType(
    [StructField("key", StringType()), StructField("value", StringType())]
)
STATE_SCHEMA = StructType([StructField("value", StringType())])


def _apply_ops(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's ops (in seq order) into the key's state.

    Put replaces, Append concatenates onto current state (missing key
    reads as "" — /root/reference/src/kvraft/client.go:28-31); Get is a
    no-op for state. Emits the post-batch value.
    """
    prime_worker()
    cur = state.get[0] if state.exists else None
    # a large micro-batch reaches the kernel as multiple Arrow chunks in
    # partition order — the seq sort must span ALL of them (put/append
    # application is order-sensitive), so concat before the one sort
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("seq")
        for op, value in zip(pdf["op"], pdf["value"]):
            if op == "put":
                cur = value
            elif op == "append":
                cur = (cur or "") + value
    if cur is not None:
        state.update((cur,))
        yield pd.DataFrame({"key": [key[0]], "value": [cur]})


def stream_kv_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the derived ops log through per-key streaming state and
    return the final value per key. With the bounded input this equals
    kv_replay — that's the correctness contract (same SQL oracle)."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    stream = normalize_event_ts(stream)
    ops = stream.select(
        F.col("event_id").alias("seq"),
        F.concat(
            F.substring(F.lit("abcdefghijklmnopqrst"), (F.col("user_id") % 20).cast("int") + 1, 1),
            (F.col("user_id") % 20).cast("string"),
        ).alias("key"),
        F.when(F.col("event_type") == "signup", F.lit("put"))
        .when(F.col("event_type") == "error", F.lit("get"))
        .otherwise(F.lit("append"))
        .alias("op"),
        F.concat_ws(
            " ", F.lit("x"), F.col("user_id").cast("string"), F.col("event_id").cast("string"), F.lit("y")
        ).alias("value"),
    ).where(F.col("op") != "get")

    result = ops.groupBy("key").applyInPandasWithState(
        _apply_ops,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"stream_kv_{uuid.uuid4().hex[:8]}"
    q = result.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT key, value FROM {name}")


DEDUP_OUT_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("key", StringType()),
        StructField("op", StringType()),
        StructField("value", StringType()),
    ]
)
# Per-client state: the LAST executed op id. Clients are SEQUENTIAL
# (the kvraft contract — a client retries op k until acked before
# issuing k+1), so an incoming op is a duplicate iff op_id <= last;
# state is O(1) per client regardless of ops-per-client (ADVICE r5:
# the earlier comma-joined seen-set was O(ops) state with an
# O(n log n) rewrite per batch).
DEDUP_STATE_SCHEMA = StructType([StructField("last_op_id", LongType())])


def _dedup_client(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-client duplicate-request suppression as STREAMING state
    (the online form of operators/kv.py::dedup_client_ops): an op is
    executed at its first delivery — in seq order — and every later
    re-delivery of the same (client_id, op_id) is dropped. Sequential
    clients issue op ids in order, so "already executed" ≡
    ``op_id <= last_op_id`` (reference `src/kvraft/server.go` keeps the
    same last-applied map). Emits only the ops accepted this
    micro-batch."""
    prime_worker()
    last = int(state.get[0]) if state.exists else -1
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    out = []
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("seq")
        for row in pdf.itertuples(index=False):
            op_id = int(row.op_id)
            if op_id <= last:
                continue
            last = op_id
            out.append((int(row.seq), row.key, row.op, row.value))
    if last >= 0:
        state.update((last,))
    if out:
        yield pd.DataFrame(out, columns=["seq", "key", "op", "value"])


def stream_kv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``kv_replay_dedup`` — exactly-once state from
    an AT-LEAST-ONCE delivery stream: the ops log streams in with
    planted retries (op_id ≡ 0 mod 7 re-delivered at seq + 2^40, the
    same plant as the batch form), flows through per-client streaming
    dedup state, each micro-batch's ACCEPTED ops are appended to a
    versioned table under idempotent batch-id commits (a replayed
    batch can neither double-add nor re-accept — state and commit are
    both keyed; a batch writes only its own ops, never the log so far),
    and the accumulated log batch-folds to final KV state.
    Shares KV_REPLAY_DEDUP_SQL with the batch rung: the retries must be
    invisible end to end.

    Scale shape: dedup state is per-client (the natural shard key of a
    client-request feed) and O(1) — just the last executed op id, the
    kvraft sequential-client contract. Both deliveries of a retried op
    are exploded from the one source row, so first-delivery-wins holds
    within every micro-batch by construction."""
    from tinymapreduce_spark.operators.kv import RETRY_SEQ_OFFSET, replay_ops
    from tinymapreduce_spark.streaming.sinks import run_batch_sink

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def ops_stream() -> DataFrame:
        stream = (
            events_stream_source(spark, sf_dir, schema)
        )
        stream = normalize_event_ts(stream)
        return stream.select(
            F.col("event_id").alias("seq"),
            F.concat(
                F.substring(
                    F.lit("abcdefghijklmnopqrst"),
                    (F.col("user_id") % 20).cast("int") + 1,
                    1,
                ),
                (F.col("user_id") % 20).cast("string"),
            ).alias("key"),
            F.when(F.col("event_type") == "signup", F.lit("put"))
            .when(F.col("event_type") == "error", F.lit("get"))
            .otherwise(F.lit("append"))
            .alias("op"),
            F.concat_ws(
                " ",
                F.lit("x"),
                F.col("user_id").cast("string"),
                F.col("event_id").cast("string"),
                F.lit("y"),
            ).alias("value"),
            F.col("user_id").alias("client_id"),
            F.col("event_id").alias("op_id"),
        ).where(F.col("op") != "get")

    # at-least-once twin: each op_id ≡ 0 mod 7 row is delivered twice
    # (original, plus a retry at seq + 2^40). Both deliveries are
    # EXPLODED from the one source row, so they land in the same
    # micro-batch by construction — no reliance on two independent
    # readStream sources listing files in the same trigger (ADVICE r5:
    # Spark guarantees nothing about cross-source batch alignment).
    delivered = (
        ops_stream()
        .withColumn(
            "seq",
            F.explode(
                F.when(
                    F.col("op_id") % 7 == 0,
                    F.array(F.col("seq"), F.col("seq") + F.lit(RETRY_SEQ_OFFSET)),
                ).otherwise(F.array(F.col("seq")))
            ),
        )
    )

    accepted = delivered.groupBy("client_id").applyInPandasWithState(
        _dedup_client,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def accumulate(table, batch_df: DataFrame, batch_id: int) -> None:
        table.append(batch_df, snapshot_id=f"batch-{batch_id}")

    return run_batch_sink(
        "kv_dedup_stream", accepted, accumulate, finish=replay_ops, mode="update"
    )


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows: per user, sessions closed by a
    30-minute inactivity gap (the streaming twin of plans/events.py::
    sessionize — same gap, so the per-session rows match its
    ``per_session`` CTE).

    Complete output mode: bounded input never advances the watermark far
    enough to finalize appends.
    """
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    stream = normalize_event_ts(stream)
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes"), F.col("user_id")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"""
        SELECT user_id,
               unix_micros(session_window.start) AS session_start_us,
               n_events
        FROM {name}
        """
    )


# Session-window semantics note: the window *end* extends 30min past the
# last event, but start == first event's ts, and n_events matches the
# gap-based batch sessionization exactly.
STREAM_SESSION_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
), flagged AS (
  -- >= : Spark session_window starts a NEW session when the gap equals
  -- the timeout exactly (merge condition is strict next < last + gap)
  SELECT user_id, ts_us,
    CASE WHEN LAG(ts_us) OVER w IS NULL
           OR ts_us - LAG(ts_us) OVER w >= 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, ts_us,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events
FROM sess GROUP BY user_id, session_id
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` keyed state over the
    event stream (first occurrence wins, later duplicates dropped
    mid-stream), then per-type distinct-user counts. The streaming twin
    of the batch dedup tier — on an unbounded feed this is how exact
    dedup runs at all; bounded input makes it oracle-checkable
    (== COUNT(DISTINCT user_id) per event_type).
    """
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    deduped = stream.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT event_type, n_users FROM {name}")


STREAM_DEDUP_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def _tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for its
    state-server protocol; this container doesn't ship it. Gate the
    modern API behind an import-try per the no-install constraint."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)
TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _totals_apply(key, pdf_iter, state):
    """applyInPandasWithState twin of the TWS processor below — same
    per-key fold, same integer-cents determinism."""
    prime_worker()
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        cents += int(pdf["value"].mul(100).round().astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
    )


def stream_tws_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event count + value total in a typed per-key
    state cell, emitted per micro-batch update.

    Primary path: the Spark 4 ``transformWithStateInPandas`` API (the
    applyInPandasWithState successor — explicit state variables, TTL,
    timers) on the RocksDB state store (the API refuses the HDFS
    provider; at 100 TB RocksDB is what you run anyway for state larger
    than executor heap). This container lacks google.protobuf (required
    by TWS's state-server protocol; installs are off-limits), so the
    same fold runs through applyInPandasWithState — identical output,
    same SQL oracle, and the TWS path stays exercised wherever protobuf
    exists. Money folds in integer cents: float accumulation order
    would diverge from the oracle."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    stream = normalize_event_ts(stream)

    if _tws_available():
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningTotals(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                prime_worker()
                self._state = handle.getValueState("totals", TOTALS_STATE)

            def handleInputRows(self, key, rows, timerValues):
                row = self._state.get()
                n, cents = (row[0], row[1]) if row else (0, 0)
                for pdf in rows:
                    n += len(pdf)
                    cents += int(pdf["value"].mul(100).round().astype("int64").sum())
                self._state.update((n, cents))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_value": [cents / 100.0],
                    }
                )

            def close(self) -> None:
                pass

        out = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=TOTALS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
        provider_key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(provider_key, None)
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    else:
        out = stream.groupBy("user_id").applyInPandasWithState(
            _totals_apply,
            outputStructType=TOTALS_OUTPUT,
            stateStructType=TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        provider_key = old = None

    name = f"stream_tws_{uuid.uuid4().hex[:8]}"
    try:
        q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if provider_key is not None:
            if old is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, old)
    return spark.sql(f"SELECT user_id, n_events, total_value FROM {name}")


STREAM_TWS_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
GROUP BY user_id
"""


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the BOUNDED-state sibling of
    ``stream_dedup``. Plain streaming dropDuplicates keeps every key
    forever (state grows with distinct keys — unusable on an unbounded
    feed); the within-watermark form evicts a key once the watermark
    passes its last sighting plus the delay, trading global uniqueness
    for "no duplicates closer than the delay" with O(active keys)
    state. With the delay set past the bounded corpus's whole span the
    two semantics coincide, so the same exact-distinct oracle applies —
    while the STATE CONTRACT exercised is the one a 100 TB pipeline
    actually deploys."""
    from tinymapreduce_spark.sources.loaders import normalize_event_ts

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    stream = normalize_event_ts(stream)
    deduped = (
        stream.select("user_id", "event_type", "ts")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    name = f"stream_ddww_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT event_type, n_users FROM {name}")


def state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-state OBSERVABILITY — the Spark 4 State Data Source:
    run a checkpointed per-event-type aggregate, then open the
    checkpoint's STATE STORE itself (``format("statestore")``) and
    return the aggregation buffers it holds — (key.event_type,
    value.count, value.sum) straight from the HDFS-backed store, per
    partition, no output sink involved. The oracle is the plain batch
    aggregate, so the check certifies that the persisted state equals
    the query's semantics exactly — at 100 TB this is how a production
    stateful pipeline is debugged (inspect/repair state offline)
    without replaying its input. ``state-metadata`` is asserted
    in-plan: exactly one stateful operator must own the store.

    The checkpoint is keyed by the source file's identity (the
    stream_available_now convention) and survives re-runs: restarting
    the query against it finds no new files, batches nothing, and the
    state read stays byte-stable."""
    import os

    from tinymapreduce_spark.sources.textfiles import corpus_dir

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ckpt = os.path.join(corpus_dir("state_read", sf_dir, "events"), "ckpt")

    stream = normalize_event_ts(
        events_stream_source(spark, sf_dir, schema)
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
    )
    name = f"state_read_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    meta = spark.read.format("state-metadata").load(ckpt)
    n_ops = meta.where(F.col("operatorName") == "stateStoreSave").count()
    assert n_ops == 1, f"expected one stateful operator, saw {n_ops}"

    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.col("value.sum").cast("double").alias("total_value"),
    )


STATE_STORE_READ_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Incremental sequence packing: the streaming twin of
# operators/packing.py::pack_nextfit_bins.

PACK_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("bin_id", IntegerType()),
        StructField("n_docs", IntegerType()),
        StructField("bin_tokens", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
    ]
)
# the OPEN bin of each shard: (bin_id, n_docs, bin_tokens, first_doc, last_doc)
PACK_STATE_SCHEMA = StructType(
    [
        StructField("bin_id", LongType()),
        StructField("n_docs", LongType()),
        StructField("bin_tokens", LongType()),
        StructField("first_doc", LongType()),
        StructField("last_doc", LongType()),
    ]
)
# Sentinel doc ids start here; divisible by PACK_SHARDS so sentinel s
# routes to shard s. A sentinel is PACK_CAP+1 tokens, so it can never
# join an open bin — it force-closes the shard's final real bin and
# parks itself in state, unemitted.
PACK_SENTINEL_BASE = 1 << 40


def _pack_apply(
    key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's (doc_id, t) rows into the shard's open
    bin; emit every bin the batch CLOSES. O(1) state per shard — the
    open bin tuple — regardless of stream length."""
    prime_worker()
    open_bin = list(state.get) if state.exists else None
    closed: list[list[int]] = []
    # A big micro-batch arrives as MULTIPLE Arrow chunks whose relative
    # order is partition order, not doc_id order — concatenate before
    # the one sort (bounded by the micro-batch, not the stream).
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
            doc_id, t = int(doc_id), int(t)
            if open_bin is not None and open_bin[2] + t <= PACK_CAP:
                open_bin[1] += 1
                open_bin[2] += t
                open_bin[4] = doc_id
            else:
                if open_bin is not None:
                    closed.append(open_bin)
                nxt = open_bin[0] + 1 if open_bin is not None else 1
                open_bin = [nxt, 1, t, doc_id, doc_id]
    if open_bin is not None:
        state.update(tuple(int(v) for v in open_bin))
    if closed:
        shard = int(key[0])
        yield pd.DataFrame(
            [(shard, b[0], b[1], b[2], b[3], b[4]) for b in closed],
            columns=["shard", "bin_id", "n_docs", "bin_tokens", "first_doc", "last_doc"],
        )


def stream_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental next-fit sequence packing: documents arrive in doc_id
    order across micro-batches (mtime-ordered feed files,
    maxFilesPerTrigger=1) and each shard's open bin lives in per-key
    state (`applyInPandasWithState`) — bins are emitted the moment they
    close, which is how a packer runs on an unbounded ingest feed. A
    final sentinel micro-batch (one PACK_CAP+1-token doc per shard)
    force-closes every real bin, so the appended output equals
    ``pack_nextfit_bins`` on the same corpus exactly — the two share
    one recursive-CTE SQL oracle. State is one 5-long tuple per shard,
    constant in stream length."""
    import os
    import shutil
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tinymapreduce_spark.sources.textfiles import corpus_dir

    src_path = os.path.join(sf_dir, "documents.parquet")
    feed_dir = corpus_dir("packfeed", sf_dir, "documents")
    marker = os.path.join(feed_dir, "_ready")
    if not os.path.exists(marker):
        shutil.rmtree(feed_dir, ignore_errors=True)
        os.makedirs(feed_dir, exist_ok=True)
        table = pq.read_table(src_path).sort_by("doc_id")
        n = table.num_rows
        n_files = 4
        step = max(1, -(-n // n_files)) if n else 1
        now = time.time()
        wrote = 0
        for i in range(0, max(n, 1), step):
            if n == 0:
                break
            part = table.slice(i, step)
            path = os.path.join(feed_dir, f"part-{wrote:03d}.parquet")
            pq.write_table(part, path)
            os.utime(path, (now - 600 + wrote * 10, now - 600 + wrote * 10))
            wrote += 1
        sent_text = "a " * (PACK_CAP + 1)
        defaults = {
            "text": sent_text,
            "lang": "__sentinel__",
            "source": "__sentinel__",
            "n_chars": len(sent_text),
        }
        sent_ids = [PACK_SENTINEL_BASE + s for s in range(PACK_SHARDS)]
        cols = []
        for f in table.schema:
            if f.name == "doc_id":
                cols.append(pa.array(sent_ids, type=f.type))
            else:
                cols.append(pa.array([defaults.get(f.name)] * len(sent_ids), type=f.type))
        sent_path = os.path.join(feed_dir, f"part-{wrote:03d}-sentinel.parquet")
        pq.write_table(pa.table(cols, schema=table.schema), sent_path)
        os.utime(sent_path, (now, now))
        with open(marker, "w", encoding="utf-8"):
            pass

    from tinymapreduce_spark.functions.text import tokens

    schema = spark.read.parquet(src_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(feed_dir)
    )
    d = stream.select(
        "doc_id",
        F.pmod("doc_id", F.lit(PACK_SHARDS)).cast("int").alias("shard"),
        F.size(tokens("text")).alias("t"),
    )
    bins = d.groupBy("shard").applyInPandasWithState(
        _pack_apply,
        outputStructType=PACK_OUTPUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"stream_pack_{uuid.uuid4().hex[:8]}"
    # The grouping-key domain is exactly PACK_SHARDS by construction
    # (shard = doc_id % PACK_SHARDS), so state partitions beyond that
    # are permanently empty — cap them for this query's lifetime
    # (session.bounded_state_partitions: 10.7 s -> 4.2 s warm at sf0.1).
    from tinymapreduce_spark.session import bounded_state_partitions

    with bounded_state_partitions(spark, PACK_SHARDS):
        q = (
            bins.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.sql(f"SELECT * FROM {name}").orderBy("shard", "bin_id")
