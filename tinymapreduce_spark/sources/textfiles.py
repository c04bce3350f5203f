"""Whole-file text ingestion + the reference's text sink (SURVEY.md §2.1).

S1 — the reference's only scan: one record per whole file,
``(filename, contents)`` (``/root/reference/src/mr/worker.go:78-89``).
Spark-native: ``sc.wholeTextFiles`` (binaryFiles-style grouped splits;
each file read once, small files coalesced per partition).

S5 — atomic text sink: ``"%v %v\n"`` lines, temp-file + rename
(``/root/reference/src/mr/worker.go:160-184``). Spark-native:
``df.write.text`` — the FileOutputCommitter task-attempt protocol IS the
temp+rename idempotency trick, at cluster scale.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymapreduce_spark.pyworker import prime_worker

# Scratch dir inside the repo (the environment forbids writing elsewhere).
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")

_BUILD_LOCK = threading.RLock()


def corpus_dir(prefix: str, sf_dir: str, table: str) -> str:
    """``SCRATCH/<prefix>_<tag>_<size>_<int mtime>``: the path of a
    scratch artifact derived from ``sf_dir``'s ``table``, named by the
    sf dir's name AND the source file's (size, mtime) identity. Two
    corpora whose dirs share a name get different artifacts, and a
    corpus regenerated in place gets a fresh one: file-stream
    checkpoints track files by path and manifest snapshot ids no-op on
    replay, so a reused path would silently serve the old bytes."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return os.path.join(SCRATCH, f"{prefix}_{tag}_{st.st_size}_{int(st.st_mtime)}")


def build_once(spark: SparkSession, path: str, build: Callable[[], object]) -> str:
    """Return ``path`` after running ``build()`` (which writes the
    artifact there) unless this session already built it. The memo is a
    session conf marker, so a new session rebuilds; one lock serializes
    the check-then-build, so concurrent first callers on a shared
    session build once. ``path`` should come from ``corpus_dir`` so the
    memo is keyed by the source's identity."""
    marker = f"spark.tinymr.built.{path}"
    with _BUILD_LOCK:
        if not spark.conf.get(marker, None):
            build()
            spark.conf.set(marker, "1")
    return path


def write_doc_files(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    cap: int,
    per_file: int,
    name: Callable[[int], str],
    encode: Callable[[list[int]], bytes],
) -> str:
    """Build once a directory of real files over the documents below
    ``cap``: doc ids ``[s * per_file, (s + 1) * per_file)`` go to one
    file ``name(s)`` holding ``encode(sorted ids)``. Returns the dir,
    ``corpus_dir(prefix, sf_dir, "documents")``. Written distributed
    (``foreachPartition``, ids hash-partitioned by file so each file is
    one task's), each file by temp + rename: a landing bucket only ever
    lists whole files, and a re-executed task rewrites the same names."""
    from tinymapreduce_spark.sources.loaders import load_table

    out_dir = corpus_dir(prefix, sf_dir, "documents")

    def write_part(rows) -> None:
        prime_worker()
        from collections import defaultdict

        files = defaultdict(list)
        for row in rows:
            files[int(row.seg)].append(int(row.doc_id))
        for seg, ids in files.items():
            fname = name(seg)
            tmp = os.path.join(out_dir, f".{fname}.tmp")
            with open(tmp, "wb") as f:
                f.write(encode(sorted(ids)))
            os.replace(tmp, os.path.join(out_dir, fname))

    def build() -> None:
        os.makedirs(out_dir, exist_ok=True)
        (
            load_table(spark, sf_dir, "documents")
            .select("doc_id")
            .where(F.col("doc_id") < cap)
            .withColumn("seg", (F.col("doc_id") / per_file).cast("int"))
            .repartition(spark.sparkContext.defaultParallelism, "seg")
            .foreachPartition(write_part)
        )

    return build_once(spark, out_dir, build)


def read_whole_text_files(spark: SparkSession, path_glob: str, min_partitions: int = 8) -> DataFrame:
    """(filename, contents) DataFrame over a file glob — the Map-task
    input contract. RDD ingest edge only; everything downstream is
    DataFrame (SURVEY.md §7.0)."""
    import glob as _pyglob

    # Hadoop raises on a glob matching zero files; an empty corpus is a
    # valid input (local-FS check — this reader is the local ingest edge)
    if not _pyglob.glob(path_glob):
        return spark.createDataFrame([], "filename string, contents string")
    rdd = spark.sparkContext.wholeTextFiles(path_glob, min_partitions)
    return spark.createDataFrame(rdd, "filename string, contents string").select(
        F.element_at(F.split("filename", "/"), -1).alias("filename"), "contents"
    )


def write_mr_text(df: DataFrame, path: str, key_col: str = "key", value_col: str = "value") -> None:
    """Write ``"key value"`` lines, reference output format
    (``/root/reference/src/mr/worker.go:180``), atomically committed."""
    df.select(
        F.concat_ws(" ", F.col(key_col).cast("string"), F.col(value_col).cast("string")).alias("value")
    ).write.mode("overwrite").text(path)


def text_roundtrip_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end S1+S5 certification: materialize the corpus as real
    text files, re-ingest with wholeTextFiles, word-count, and ALSO
    round-trip the result through the text sink + line scan. Equals the
    parquet-based word count (same oracle)."""
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.sources.loaders import text_documents

    text_dir = corpus_dir("corpus", sf_dir, "documents")
    out_dir = corpus_dir("wc_out", sf_dir, "documents")

    docs = text_documents(spark, sf_dir)
    # one text file per document partition-batch is wasteful at tiny sf;
    # a real corpus would already be files. Write one file per doc via
    # partitionBy on filename (exercises the committer's rename path).
    docs.write.mode("overwrite").partitionBy("filename").text(text_dir)

    ingested = read_whole_text_files(spark, os.path.join(text_dir, "*", "*.txt"))
    # filename arrives as the part-file name; recover doc identity from
    # the directory not needed for word_count (corpus-global counts).
    counts = (
        ingested.select(F.explode(tokens("contents")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    write_mr_text(counts, out_dir, "word", "cnt")

    lines = spark.read.text(out_dir)
    return lines.select(
        F.split_part(F.col("value"), F.lit(" "), F.lit(1)).alias("word"),
        F.split_part(F.col("value"), F.lit(" "), F.lit(2)).cast("bigint").alias("cnt"),
    )


def _ensure_json_runs(spark: SparkSession, sf_dir: str) -> str:
    """Materialize word-count KV pairs as R hash-partitioned JSON runs —
    exactly the reference's intermediate layout (ihash(key) % R, one
    JSON-lines file per reduce bucket). Built once per session."""
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.sources.loaders import text_documents

    runs_dir = corpus_dir("json_runs", sf_dir, "documents")

    def build() -> None:
        kv = text_documents(spark, sf_dir).select(
            F.explode(tokens("contents")).alias("key"), F.lit("1").alias("value")
        )
        kv.repartition(10, "key").write.mode("overwrite").json(runs_dir)

    return build_once(spark, runs_dir, build)


def json_runs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4 parity at the user level: materialize word-count KV pairs as
    hash-partitioned JSON run files (the reference's ``mr-<map>-<reduce>``
    intermediate format, ``/root/reference/src/mr/worker.go:102-117``),
    re-ingest them with an explicit 2-column schema
    (``/root/reference/src/mr/worker.go:140-156``), and finish the
    aggregation from the runs. Result equals the straight word count.
    """
    runs_dir = _ensure_json_runs(spark, sf_dir)
    runs = spark.read.schema("key string, value string").json(runs_dir)
    return runs.groupBy(F.col("key").alias("word")).agg(F.count(F.lit(1)).alias("cnt"))


def custom_source_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same runs directory read back through the CUSTOM connector
    (sources/mr_runs_source.py, Spark 4 Python DataSource API) instead of
    the native JSON reader — one InputPartition per run file, executors
    open only their own files. Finishing the count from the connector's
    rows must equal the straight word count (same oracle)."""
    from tinymapreduce_spark.sources import mr_runs_source

    runs_dir = _ensure_json_runs(spark, sf_dir)
    mr_runs_source.register(spark)
    runs = spark.read.format("mr_runs").option("path", runs_dir).load()
    return runs.groupBy(F.col("key").alias("word")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def custom_source_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown through the custom connector (Spark 4.1 Python
    DataSource ``pushFilters``): the ``key > 'm'`` predicate is handed
    to the source, which filters rows BEFORE they cross the Arrow
    boundary — Catalyst drops its post-scan Filter entirely. Partition
    pruning via ``run_file`` predicates is certified separately in
    tests/test_partitioning.py (run-file names are committer-generated,
    so a name-pinned query would not be deterministic). Result equals
    the word count restricted to words after 'm' (same-oracle family as
    custom_source_runs)."""
    from tinymapreduce_spark.sources import mr_runs_source

    runs_dir = _ensure_json_runs(spark, sf_dir)
    mr_runs_source.register(spark)
    runs = spark.read.format("mr_runs").option("path", runs_dir).load()
    return (
        runs.where(F.col("key") > "m")
        .groupBy(F.col("key").alias("word"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


LINEITEM_SLIM_SCHEMA = (
    "l_returnflag string, l_linestatus string, l_quantity double, "
    "l_extendedprice double, l_discount double"
)


def _roundtrip_agg(spark: SparkSession, sf_dir: str, fmt: str, compression: str | None = None) -> DataFrame:
    """Shared body for the CSV/ORC sink+source parity queries: write the
    slim lineitem projection in ``fmt``, read it back, and finish a
    revenue aggregate from the round-tripped files. Must equal the same
    aggregate over the original parquet (shared oracle).

    Scale notes: the write is column-pruned at the parquet scan (5 of 11
    columns read); the read-back supplies an EXPLICIT schema so CSV never
    pays an inference scan; doubles survive the text round-trip because
    the writer emits shortest-round-trip representations.
    """
    from tinymapreduce_spark.sources.loaders import load_table

    from tinymapreduce_spark.sources.loaders import spread_for_cpu

    fam = f"{fmt}_{compression}" if compression else fmt
    out = corpus_dir(f"{fam}_lineitem", sf_dir, "lineitem")

    def build() -> None:
        # Spread the single-file scan before the write so the
        # round-tripped layout has >= cores files: the READ-BACK side
        # pays a per-record text parse (XML worst: ~600k StaxXmlParser
        # records at sf0.1 ran as ONE task, 3.5 s of the 3.6 s wall),
        # and these text formats split at file granularity only. At
        # scale the source scan already has >= cores files and the
        # gate is a no-op; the aggregate is order-independent (exact
        # decimal sums), so layout cannot change the result.
        li = spread_for_cpu(
            spark,
            load_table(spark, sf_dir, "lineitem").select(
                "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
            ),
        )
        writer = li.write.mode("overwrite")
        if fmt == "csv":
            writer = writer.option("header", True)
        if fmt == "xml":
            writer = writer.option("rootTag", "lineitems").option("rowTag", "li")
        if compression:
            writer = writer.option("compression", compression)
        writer.format(fmt).save(out)

    build_once(spark, out, build)
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.schema(LINEITEM_SLIM_SCHEMA).option("header", True)
    if fmt == "xml":
        # explicit schema: no inference scan; rowTag selects the records
        reader = reader.schema(LINEITEM_SLIM_SCHEMA).option("rowTag", "li")
    back = reader.load(out)

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-ful CSV scan parity (a source format the
    reference lacks entirely; its only format is whole text files,
    ``/root/reference/src/mr/worker.go:78-89``)."""
    return _roundtrip_agg(spark, sf_dir, "csv")


def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan parity — the second columnar format besides
    parquet; footer-borne schema, no inference."""
    return _roundtrip_agg(spark, sf_dir, "orc")


def xml_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan parity through Spark 4's NATIVE xml source
    (rowTag records, explicit schema so the read never pays an
    inference pass). The wire format a surprising number of enterprise
    feeds still arrive in; doubles survive because the writer emits
    shortest-round-trip representations, same as CSV."""
    return _roundtrip_agg(spark, sf_dir, "xml")


ROUNDTRIP_AGG_SQL = """
SELECT l_returnflag, l_linestatus,
  SUM(l_quantity) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 through the MODERN extension API in both directions: word
    count KV pairs go out through the custom Python DataSource WRITER
    (task-attempt temp files + driver commit rename — the reference's
    exactly-once output protocol expressed via write/commit/abort), come
    back through the custom reader, and the finished count must equal
    the straight word count (same oracle). Overwrite mode re-runs
    idempotently: commit drops the previous generation atomically."""
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.sources import mr_runs_source
    from tinymapreduce_spark.sources.loaders import text_documents

    mr_runs_source.register(spark)
    out = corpus_dir("custom_sink", sf_dir, "documents")

    kv = text_documents(spark, sf_dir).select(
        F.explode(tokens("contents")).alias("key"), F.lit("1").alias("value")
    )
    kv.write.format("mr_runs").mode("overwrite").option("path", out).save()

    back = spark.read.format("mr_runs").option("path", out).load()
    return back.groupBy(F.col("key").alias("word")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def custom_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runs directory consumed through the connector's STREAMING
    reader (DataSourceStreamReader, the Python-DataSource streaming API):
    offsets index the sorted file list, each trigger admits at most 3
    files, and the running complete-mode word count lands in a memory
    sink. For bounded input the final table must equal the straight word
    count (same oracle as the batch connector read)."""
    import uuid

    from tinymapreduce_spark.sources import mr_runs_source

    runs_dir = _ensure_json_runs(spark, sf_dir)
    mr_runs_source.register(spark)
    stream = spark.readStream.format("mr_runs").option("path", runs_dir).load()
    agg = stream.groupBy(F.col("key").alias("word")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    name = f"custom_stream_wc_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def parquet_zstd_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with the zstd codec + scan parity — the
    storage-efficiency setting a 100 TB warehouse actually runs with
    (zstd ~30-40% smaller than snappy at similar scan cost); the
    aggregate over the re-read files must equal the original (shared
    oracle with the CSV/ORC roundtrips)."""
    return _roundtrip_agg(spark, sf_dir, "parquet", compression="zstd")


def custom_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector on BOTH ENDS of one streaming query — the full
    Python DataSource API surface in a single plan: the runs directory
    streams in through ``MrRunsStreamReader`` (3 files per trigger, so
    the run takes several micro-batches), flows out through
    ``MrRunsStreamWriter`` whose per-epoch commits are batch-id-keyed
    and idempotent (the reference's temp+rename exactly-once output
    protocol, ``worker.go:160-184``, lifted to streaming epochs), and
    the sink directory batch-reads back to a word count that must equal
    the straight word count — multi-epoch output reassembles exactly or
    the shared oracle flips."""
    import shutil
    import uuid

    from tinymapreduce_spark.session import materialize
    from tinymapreduce_spark.sources import mr_runs_source

    runs_dir = _ensure_json_runs(spark, sf_dir)
    mr_runs_source.register(spark)
    base = os.path.join(SCRATCH, f"custom_stream_sink_{uuid.uuid4().hex[:8]}")
    sink, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    try:
        stream = spark.readStream.format("mr_runs").option("path", runs_dir).load()
        q = (
            stream.select("key", "value")
            .writeStream.format("mr_runs")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.format("mr_runs").option("path", sink).load()
        return materialize(
            back.groupBy(F.col("key").alias("word")).agg(F.count(F.lit(1)).alias("cnt"))
        )
    finally:
        # run-scoped: removed on every exit, a failed run included
        shutil.rmtree(base, ignore_errors=True)
