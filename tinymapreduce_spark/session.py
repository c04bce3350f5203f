"""SparkSession factory tuned for local[N] testing but configured the way a
large cluster run would be (AQE, Arrow, UTC, sane shuffle parallelism).

At 100 TB on a real cluster the only things that change are master/memory
sizing and ``spark.sql.shuffle.partitions`` (set ~2-3x total cores there);
every query in this package is written to be partition-count agnostic.
"""

from __future__ import annotations

import os
import shutil
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and truncate its lineage — the one
    lineage cut in the engine (iterative rounds, reused intermediates,
    results read after their run-scoped backing dirs are deleted).

    Default: ``localCheckpoint`` — fast, unreplicated, correct where
    executor == driver (this local deployment). With
    ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``: a RELIABLE ``checkpoint``
    into the session checkpoint dir, which on a real cluster lives on
    fault-tolerant storage — a lost executor can no longer strand a
    checkpointed frame (localCheckpoint blocks have no recompute path).
    On both paths the context cleaner releases the data when the frame
    is GC'd (``get_spark`` sets ``cleanCheckpoints`` for the reliable
    files)."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            explicit = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            if explicit:
                sc.setCheckpointDir(explicit)
            else:
                # A local-scratch default is NOT fault-tolerant storage —
                # the executor-loss safety this knob claims only holds
                # when the dir is shared (HDFS/S3/NFS). Warn loudly
                # instead of silently defaulting, and purge checkpoint
                # data stranded by previous processes (the cleaner only
                # deletes the files of frames GC'd while the process
                # lived).
                from tinymapreduce_spark.sources.textfiles import SCRATCH

                default_dir = os.path.join(SCRATCH, "reliable_ckpt")
                warnings.warn(
                    "SPARK_GRAFT_RELIABLE_CHECKPOINT=1 with no checkpoint"
                    " dir configured: defaulting to local scratch"
                    f" ({default_dir}), which is only fault-tolerant when"
                    " executor == driver. On a multi-executor cluster set"
                    " SPARK_GRAFT_CHECKPOINT_DIR to shared storage.",
                    stacklevel=2,
                )
                shutil.rmtree(default_dir, ignore_errors=True)  # stale runs
                sc.setCheckpointDir(default_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


@contextmanager
def bounded_state_partitions(spark: "SparkSession", key_domain: int):
    """Cap ``spark.sql.shuffle.partitions`` for ONE streaming query's
    lifetime to its stateful operator's key-domain size.

    Structured Streaming pins a stateful query's state-store partition
    count to ``spark.sql.shuffle.partitions`` at query start; AQE never
    coalesces those exchanges. For a query whose grouping-key domain is
    a small CONSTANT by construction (e.g. ``PACK_SHARDS`` packing
    shards), every partition beyond the domain size is permanently
    empty yet still pays a task launch, a Python worker round trip and
    a state-store load/commit per micro-batch — at ANY scale factor and
    any cluster size, because the key domain does not grow with the
    data. Guide §2: make the partitioning match the problem; measured
    at sf0.1 this is 2.5x on the packing stream (10.7 s -> 4.2 s warm).

    Scale posture: the cap is ``min(session setting, key_domain)`` — it
    can only REDUCE partitions to the number of distinct keys that can
    ever exist, never below the session's configured parallelism for
    unbounded-key queries (which don't use this helper).
    """
    cur = spark.conf.get("spark.sql.shuffle.partitions")
    n = min(int(cur), max(1, int(key_domain)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", cur)


@contextmanager
def static_plan(spark: "SparkSession"):
    """Disable AQE for the duration of one query's CONSTRUCTION +
    EAGER EXECUTION, for plans whose physical shape is fully determined
    in advance (explicit ``F.broadcast`` hints on provably-bounded
    sides, fixed iteration counts).

    Why: AQE executes a multi-shuffle plan as a cascade of query
    stages, each with a driver-side re-plan + job submission between
    them. For the iterative graph/ML loops the per-stage data is tiny
    but the number of sequential stages is O(iterations), so the AQE
    driver round-trips dominate wall clock (measured: pagerank_trade
    spends ~0.3 s/round in 1-task broadcast-build jobs + replan gaps —
    tools/phase_profile.py, round 11). With a statically planned query
    the whole chain is ONE job whose broadcast/shuffle stages pipeline
    without driver re-planning. Join strategy is not delegated to AQE:
    callers attach explicit broadcast hints that are correct by a
    node-count bound (guide §3.1), and the big-graph paths keep AQE on.

    Contract (same as ``bounded_state_partitions``): the runtime conf
    is session-global, so the caller must drain every action that
    depends on the static plan INSIDE the context (eager
    localCheckpoint / collect), and query construction must be
    single-threaded. The returned DataFrame must read only
    materialized leaves."""
    cur = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", cur)


def get_spark(
    app_name: str = "tinymapreduce_spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    - AQE on: runtime coalescing of small shuffle partitions + skew-join
      splitting — the 100 TB answer to static partition-count tuning.
    - Arrow on: every pandas-UDF operator in this package moves data in
      Arrow batches, not pickled rows.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle (naive-UTC) exactly.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # SPARK_GRAFT_STATE_STORE=rocksdb flips every stateful streaming
    # operator onto the RocksDB state store — the backend a real cluster
    # runs (bounded executor heap: state lives off-heap/on-disk with
    # changelog checkpointing instead of in-memory HashMaps). The full
    # stream tier is oracle-verified under both providers (BASELINE.md
    # round-7 notes; tests/test_streaming_rocksdb.py pins a
    # representative subset in-suite).
    state_store = os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower()
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        if state_store == "rocksdb"
        else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.streaming.stateStore.providerClass", provider)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16g: local[32] packs 32 concurrent tasks (sorts + partial-agg
        # maps) into ONE JVM heap — 8g left ~250 MB/task and OOMed the
        # x16 winnowing pair probe; a real cluster sizes per-executor
        # memory instead (this knob maps to spark.executor.memory there).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Reliable checkpoints (``materialize`` under
        # SPARK_GRAFT_RELIABLE_CHECKPOINT=1) are deleted by the context
        # cleaner once their frame is GC'd, as localCheckpoint blocks
        # are; Spark's default keeps every iterative round's files on
        # disk until someone removes the dir.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Generated-class cache sized to the WORKLOAD, not the 100-entry
        # default: this application runs a 320-query registry (242 in
        # the bench) through one session, and whole-stage-codegen
        # classes are cached by source text with LRU eviction — at 100
        # entries every query's classes are evicted long before its
        # next execution, so steady-state laps silently re-pay Janino
        # compilation (measured: ann_ivfpq_topk 2.7 s warm -> 5.0 s
        # after 40 intervening queries, pure recompile). ~10-15 codegen
        # units per query x 320 queries -> 4096 keeps every unit
        # resident for ~200 MB of metaspace; any multi-query production
        # session sizes this the same way (static conf: set at launch).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert in the loader (lossless:
        # the testdata has no sub-microsecond components).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # saveAsTable targets (bucketed layouts) must land inside the repo
        # regardless of the driver's cwd.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp", "warehouse"),
        )
    )
    # Measurement aid (tools/phase_profile.py): with the UI disabled in
    # this container, the event log is the only per-job/stage timeline.
    evdir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if evdir:
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{evdir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
