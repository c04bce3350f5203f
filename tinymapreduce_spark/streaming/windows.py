"""Structured Streaming forms of the event analytics.

The reference's only stream-like object is the ordered Raft apply channel
(SURVEY.md §1.4); event-time windowing/watermarks are new capability. The
batch twins (plans/events.py) are the SQL-oracle-able forms; these run the
same logic through the streaming engine (micro-batch over the parquet
files, memory sink) to certify the streaming path end-to-end.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.sources.loaders import events_stream_source, normalize_event_ts


def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts per event_type via readStream +
    watermark, drained synchronously into a memory sink.

    Complete output mode so every window is emitted even though the
    bounded input never advances the watermark past the last window —
    batch-equivalent results, checkable against the same SQL oracle as
    the batch form (window start == date_trunc('hour') for aligned
    windows).
    """
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # File-stream sources need a directory basePath; glob-filter down to
    # the events table within the sf dir.
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    # ts arrives as long nanos (see sources/loaders.py) — convert before
    # event-time operations.
    stream = normalize_event_ts(stream)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    name = f"stream_tumbling_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        f"""
        SELECT unix_micros(window.start) AS window_start_us, event_type, n, total_value
        FROM {name}
        """
    )
    # Materialize before the memory sink table is dropped by session reuse.
    return out


STREAM_TUMBLING_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h / 30 min slide) per event_type through the
    streaming engine — the overlapping-window twin of
    stream_tumbling_window, sharing the batch form's SQL oracle
    (plans/events.py::SLIDING_SQL). Complete mode: bounded input never
    closes the final windows."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    stream = normalize_event_ts(stream)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    name = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(
        f"""
        SELECT unix_micros(window.start) AS window_start_us, event_type, n, total_value
        FROM {name}
        """
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: each 'error' event joined to
    the same user's 'purchase' events in the following 10 minutes. Both
    sides carry watermarks and the join has a bounded time range, so
    state for either side is dropped once the other side's watermark
    passes — the only shape under which an unbounded x unbounded join
    holds finite state. Bounded input makes it equal to the batch range
    join (same derivation as plans/subqueries.py::range_join_bucketed's
    oracle family).
    """
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def src():
        s = (
            events_stream_source(spark, sf_dir, schema)
        )
        s = normalize_event_ts(s)
        return s

    errors = (
        src()
        .where(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("err_user"),
            F.col("event_id").alias("err_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    purchases = (
        src()
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("err_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("err_ts"))
        & (F.col("p_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select(
        "err_user",
        "err_id",
        "p_id",
        (F.unix_micros("p_ts") - F.unix_micros("err_ts")).alias("lag_us"),
    )
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT err_user, err_id, p_id, lag_us FROM {name}")


STREAM_STREAM_JOIN_SQL = """
SELECT e.user_id AS err_user,
       e.event_id AS err_id,
       p.event_id AS p_id,
       epoch_us(p.ts) - epoch_us(e.ts) AS lag_us
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND p.ts > e.ts
 AND p.ts <= e.ts + INTERVAL 10 MINUTE
WHERE e.event_type = 'error' AND p.event_type = 'purchase'
"""


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to a STATIC
    dimension (customer -> nation) built once on the batch side, then
    aggregated per nation.

    This is the workhorse pattern at scale — the static side broadcasts
    into every micro-batch with NO streaming state (unlike the
    stream-stream join, which must buffer both sides under watermarks).
    Stateless enrichment keeps the checkpoint tiny regardless of
    dimension size churn."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        events_stream_source(spark, sf_dir, schema)
    )
    stream = normalize_event_ts(stream)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    dim = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "n_name")
    agg = (
        stream.join(F.broadcast(dim), stream.user_id == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    name = f"stream_static_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


STREAM_STATIC_SQL = """
SELECT n_name, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
JOIN customer ON user_id = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the append-mode shape
    whose unmatched rows can only be emitted once the watermark proves
    no match can still arrive (state eviction == null-emission time).
    Each 'error' event joins the same user's 'purchase' events in the
    following 10 minutes; errors with no such purchase surface with a
    NULL purchase id — the alerting query ("errors NOT followed by a
    recovery/purchase") that inner joins cannot express on streams.

    Flush protocol: bounded inputs leave the last join windows open
    (the watermark trails the data), so the source appends a SENTINEL
    event one day past the corpus maximum in a LATER micro-batch
    (maxFilesPerTrigger=1 + mtime ordering). The sentinel passes
    through ``withWatermark`` (advancing the watermark past every real
    window) and is filtered out AFTER — so with the trailing no-data
    micro-batch every unmatched error is emitted and the result equals
    the batch LEFT JOIN exactly. At scale the same trick is unnecessary
    (real streams keep advancing) but the state-size story is identical:
    both sides' state is bounded by watermark + 10-minute range."""
    import os
    import shutil
    import time

    from tinymapreduce_spark.sources.textfiles import corpus_dir

    # fingerprint-keyed: regenerated testdata gets a fresh copy+sentinel
    src_dir = corpus_dir("ssoj", sf_dir, "events")
    marker = os.path.join(src_dir, "_ready_v2")  # holds the flush-instant epoch-us
    if not os.path.exists(marker):
        shutil.rmtree(src_dir, ignore_errors=True)
        os.makedirs(src_dir, exist_ok=True)
        shutil.copy(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(src_dir, "part-0-events.parquet"),
        )
        # Build the sentinel file purely in pyarrow against the SOURCE
        # file's arrow schema, so both files in the stream directory are
        # physically identical in type (TIMESTAMP(NANOS) vs long nanos
        # varies by testdata generation; normalize_event_ts canonicalizes
        # either on read).
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        src_path = os.path.join(sf_dir, "events.parquet")
        src_schema = pq.read_schema(src_path)
        ts_type = src_schema.field("ts").type
        raw_max = pc.max(pq.read_table(src_path, columns=["ts"]).column("ts")).as_py()
        flush_us = 0
        if raw_max is not None:  # empty corpus needs no flush
            if pa.types.is_timestamp(ts_type):
                flush_dt = raw_max + _dt.timedelta(days=1)
                flush_val = pa.array([flush_dt], type=ts_type)
                aware = (
                    flush_dt
                    if flush_dt.tzinfo is not None
                    else flush_dt.replace(tzinfo=_dt.timezone.utc)
                )
                flush_us = int(aware.timestamp() * 1_000_000)
            else:  # long nanos
                flush_ns = raw_max + 86400 * 10**9
                flush_val = pa.array([flush_ns], type=ts_type)
                flush_us = flush_ns // 1000
            defaults = {
                "event_id": -1,
                "user_id": -1,
                "event_type": "__sentinel__",
                "value": 0.0,
            }
            cols = [
                flush_val
                if f.name == "ts"
                else pa.array([defaults.get(f.name)], type=f.type)
                for f in src_schema
            ]
            pq.write_table(
                pa.table(cols, schema=src_schema),
                os.path.join(src_dir, "part-1-sentinel.parquet"),
            )
        now = time.time()
        os.utime(os.path.join(src_dir, "part-0-events.parquet"), (now - 60, now - 60))
        sentinel = os.path.join(src_dir, "part-1-sentinel.parquet")
        if os.path.exists(sentinel):
            os.utime(sentinel, (now, now))
        with open(marker, "w", encoding="utf-8") as f:
            f.write(str(flush_us))

    with open(marker, encoding="utf-8") as f:
        flush_target_us = int(f.read().strip() or "0")

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema

    def side(alias_user, alias_id, alias_ts, etype):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        s = normalize_event_ts(s)
        # The sentinel must REACH the event-time collector: a plain
        # type filter gets pushed below the watermark node (into the
        # parquet scan itself), which would silently strip the flush
        # row. So both sides keep the sentinel through the join input —
        # with user_id = -1 it can never match, its own null-row sits
        # forever behind the watermark, and the output select drops it.
        s = s.withWatermark("ts", "0 seconds").where(
            (F.col("event_type") == etype)
            | (F.col("event_type") == "__sentinel__")
        )
        return s.select(
            F.col("user_id").alias(alias_user),
            F.col("event_id").alias(alias_id),
            F.col("ts").alias(alias_ts),
        )

    errors = side("err_user", "err_id", "err_ts", "error")
    purchases = side("p_user", "p_id", "p_ts", "purchase")
    joined = errors.join(
        purchases,
        (F.col("err_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("err_ts"))
        & (F.col("p_ts") <= F.col("err_ts") + F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    ).select(
        "err_user",
        "err_id",
        "p_id",
        (F.unix_micros("p_ts") - F.unix_micros("err_ts")).alias("lag_us"),
    )
    name = f"stream_ssoj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # The null-emissions ride the trailing NO-DATA micro-batch that
        # runs after the sentinel batch advanced the watermark
        # (processAllAvailable returns before it). A zero-input batch
        # alone is NOT the signal — one can also fire between the two
        # file batches — so wait for a zero-input batch whose reported
        # watermark has actually reached the sentinel instant. Bounded.
        import datetime as _dt
        import time as _time

        def _wm_us(p) -> int:
            wm = (p.eventTime or {}).get("watermark")
            if not wm:
                return -1
            return int(
                _dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp()
                * 1_000_000
            )

        for _ in range(150):
            done = any(
                p.numInputRows == 0 and _wm_us(p) >= flush_target_us - 1_000_000
                for p in q.recentProgress
            )
            if done or flush_target_us == 0:
                break
            _time.sleep(0.2)
    finally:
        q.stop()
    return spark.sql(
        f"SELECT err_user, err_id, p_id, lag_us FROM {name} WHERE err_user <> -1"
    )


STREAM_STREAM_OUTER_SQL = """
SELECT e.user_id AS err_user,
       e.event_id AS err_id,
       p.event_id AS p_id,
       epoch_us(p.ts) - epoch_us(e.ts) AS lag_us
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND p.ts > e.ts
 AND p.ts <= e.ts + INTERVAL 10 MINUTE
"""
