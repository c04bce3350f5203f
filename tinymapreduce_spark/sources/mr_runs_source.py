"""Custom connector (Spark 4 Python DataSource API) for the reference's
``mr-<map>-<reduce>`` intermediate-run layout.

The reference persists shuffle data as a directory of JSON run files,
one per (map task, reduce bucket), each a stream of ``{"key","value"}``
records (`/root/reference/src/mr/worker.go:102-117`), and a reduce task
re-reads the files of its bucket (`worker.go:125-156`). This module
exposes that layout as a first-class Spark source:

    spark.read.format("mr_runs").option("path", runs_dir).load()
    -> DataFrame[key string, value string, run_file string]

Partitioning mirrors the reference's reduce fan-out: ONE InputPartition
per run file, so reader parallelism scales with the layout and each
executor opens only its own files — no driver-side data movement (the
driver only lists the directory).

This is the extension-API surface (what a user writes for a system Spark
has no native reader for); the high-volume path for JSON stays the
native reader (sources/textfiles.py::json_runs_roundtrip) which is
vectorized and supports pushdown.
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from dataclasses import dataclass

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    In,
    InputPartition,
    WriterCommitMessage,
)

from tinymapreduce_spark.pyworker import prime_worker


def _arrow_read_run_file(path: str, fname: str, key_filters: list):
    """Parse one JSON-lines run file natively (pyarrow.json) into a
    ``(key, value, run_file)`` RecordBatch — the vectorized form of the
    row loop below (guide §4.2: hand whole batches to native code and
    cross the Python boundary as Arrow, not per-row pickles).

    Returns None when the file does not fit the fast path's assumptions
    (empty file, or a field whose JSON type is not string — pyarrow
    raises where the row loop would coerce), in which case the caller
    falls back to the per-line loop, preserving exact legacy semantics.
    Where the fast path succeeds it is row-for-row identical: blank
    lines are skipped, a missing field is null, extra fields are
    dropped, and string comparison (key filters) is code-point order in
    both engines.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.json as paj

    try:
        tbl = paj.read_json(
            os.path.join(path, fname),
            parse_options=paj.ParseOptions(
                explicit_schema=pa.schema(
                    [("key", pa.string()), ("value", pa.string())]
                ),
                unexpected_field_behavior="ignore",
            ),
        )
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, OSError):
        return None
    try:
        keys = tbl.column("key")
        mask = None
        for f in key_filters:
            if isinstance(f, EqualTo):
                m = pc.equal(keys, f.value)
            elif isinstance(f, GreaterThan):
                m = pc.greater(keys, f.value)
            else:  # In
                # Drop None from the value set: pc.is_in matches null
                # keys to a null IN the set, where the row loop's
                # _match(None) == False always drops null keys — and a
                # pushed filter is never re-evaluated by Spark, so the
                # extra rows would reach the result (ADVICE r10 #1).
                m = pc.is_in(
                    keys,
                    value_set=pa.array(
                        [v for v in f.value if v is not None], pa.string()
                    ),
                )
            mask = m if mask is None else pc.and_(mask, m)
        if mask is not None:
            # comparisons yield null for null keys; filter drops nulls —
            # same as the row loop's _match(None) == False
            tbl = tbl.filter(mask)
    except (pa.lib.ArrowException, TypeError):
        # e.g. a non-string filter value the kernels reject — fall back
        # to the row loop, which compares via Python semantics
        return None
    out = pa.table(
        {
            "key": tbl.column("key"),
            "value": tbl.column("value"),
            "run_file": pa.array([fname] * tbl.num_rows, pa.string()),
        }
    )
    return out.to_batches()


class MrRunsDataSource(DataSource):
    """``format("mr_runs")``: directory of JSON-lines run files.

    Both directions of the extension API: the reader (one InputPartition
    per run file) and the writer (task-attempt temp files promoted by a
    driver-side commit — the SAME temp+rename exactly-once trick the
    reference's reduce output uses, ``worker.go:160-184``, expressed
    through ``DataSourceWriter.write/commit/abort``)."""

    @classmethod
    def name(cls) -> str:
        return "mr_runs"

    def schema(self) -> str:
        return "key string, value string, run_file string"

    def reader(self, schema) -> "MrRunsReader":
        return MrRunsReader(self.options)

    def writer(self, schema, overwrite: bool) -> "MrRunsWriter":
        return MrRunsWriter(self.options, overwrite)

    def streamReader(self, schema) -> "MrRunsStreamReader":
        return MrRunsStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "MrRunsStreamWriter":
        return MrRunsStreamWriter(self.options)


class MrRunsReader(DataSourceReader):
    """Reader with Spark 4.1 filter pushdown (``pushFilters``):

    - predicates on ``run_file`` prune PARTITIONS — non-matching run
      files are never opened (the Python-source form of partition
      pruning; at scale this is the difference between listing metadata
      and reading every run);
    - predicates on ``key`` filter ROWS inside ``read()`` before they
      cross the Arrow boundary into Spark.

    Both kinds are fully handled here, so they are NOT re-yielded and
    Catalyst drops the post-scan Filter. Python ``str`` comparison is
    code-point order == UTF-8 byte order, matching Spark's binary
    string comparison. Anything else (other columns, other operators,
    the implicit IsNotNull Spark adds next to a comparison) is yielded
    back for Spark to evaluate.

    CALLER CONTRACT — one ``load()`` per query: Spark 4.1 memoizes the
    planned scan inside the relation, so planning a FILTERED child of a
    shared frame replaces the cached plan and later actions on the
    parent silently reuse the pruned scan (measured:
    ``df.count(); df.where(file==f).count(); df.count()`` returns the
    pruned count the second time — upstream behavior for any Python
    source implementing pushFilters). Every registry query builds its
    frame from a fresh ``load()``."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_runs source requires option 'path'")
        self.file_filters: list = []
        self.key_filters: list = []

    def pushFilters(self, filters):
        # Spark 4.1 caches THIS reader instance inside the
        # DataSourceV2Relation, so a second query planned over the same
        # load() frame re-enters pushFilters on the same object: reset
        # accumulated state or filters from the previous plan would
        # keep pruning every later query (measured: df.count() after a
        # filtered child's plan returned the pruned count).
        self.file_filters = []
        self.key_filters = []
        for f in filters:
            if isinstance(f, (EqualTo, GreaterThan, In)) and f.attribute == ("run_file",):
                self.file_filters.append(f)
            elif isinstance(f, (EqualTo, GreaterThan, In)) and f.attribute == ("key",):
                self.key_filters.append(f)
            else:
                yield f  # unsupported -> Spark evaluates post-scan

    @staticmethod
    def _match(f, v) -> bool:
        if v is None:
            return False
        if isinstance(f, EqualTo):
            return v == f.value
        if isinstance(f, GreaterThan):
            return v > f.value
        return v in f.value  # In

    def partitions(self):
        # one partition per run file = the reference's per-bucket reduce
        # fan-out; listing is driver-side metadata only. run_file
        # predicates prune here: a file that can't match is not a task.
        files = sorted(
            f
            for f in os.listdir(self.path)
            if not f.startswith((".", "_")) and not f.endswith(".crc")
        )
        files = [
            f for f in files if all(self._match(ff, f) for ff in self.file_filters)
        ]
        return [InputPartition(f) for f in files]

    def read(self, partition):
        prime_worker()
        fname = partition.value
        batches = _arrow_read_run_file(self.path, fname, self.key_filters)
        if batches is not None:  # vectorized: Arrow record batches
            yield from batches
            return
        with open(os.path.join(self.path, fname)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    rec = json.loads(line)
                    key = rec.get("key")
                    if all(self._match(kf, key) for kf in self.key_filters):
                        yield (key, rec.get("value"), fname)


@dataclass
class RunCommit(WriterCommitMessage):
    tmp_file: str
    n_rows: int


class MrRunsWriter(DataSourceWriter):
    """Per-task JSON-lines runs with a two-phase commit: executors write
    task-attempt temp files (crash-safe: an uncommitted attempt leaves
    only a dot-prefixed temp the reader ignores); the driver's commit()
    promotes every attempt with one rename each and drops the previous
    generation on overwrite. abort() removes the orphans."""

    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_runs sink requires option 'path'")
        self.overwrite = overwrite
        os.makedirs(self.path, exist_ok=True)

    def write(self, rows) -> RunCommit:
        prime_worker()
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        tmp = os.path.join(self.path, f".tmp-run-{pid}-{uuid.uuid4().hex[:8]}")
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps({"key": row[0], "value": row[1]}) + "\n")
                n += 1
        return RunCommit(tmp_file=tmp, n_rows=n)

    def commit(self, messages) -> None:
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("mr-run-"):
                    os.remove(os.path.join(self.path, f))
        for i, m in enumerate(messages):
            os.replace(
                m.tmp_file, os.path.join(self.path, f"mr-run-{i:05d}.json")
            )

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(m.tmp_file)
            except (FileNotFoundError, TypeError):
                pass


class MrRunsStreamWriter(DataSourceStreamArrowWriter):
    """Streaming side of the sink (DataSourceStreamArrowWriter — the
    fourth and last rung of the Python DataSource API after reader /
    writer / streamReader): executors write task-attempt temp files
    exactly like the batch writer; the driver's per-micro-batch
    ``commit(messages, batchId)`` promotes them under BATCH-ID-KEYED
    names (``mr-stream-b{batch:05d}-{task:05d}.json``) and is
    IDEMPOTENT — a replayed batch (checkpoint recovery re-runs the last
    uncommitted epoch, and a committed epoch can be re-delivered after
    a crash between sink commit and offset-log write) finds its
    generation already present and discards the new temps instead of
    double-writing. That per-epoch transactionality is exactly the
    contract foreachBatch sinks implement by hand elsewhere in this
    repo (streaming/sinks.py) — here it lives INSIDE the connector, so
    any streaming query can write this layout exactly-once.

    The Arrow form (4.1's ``DataSourceStreamArrowWriter``) receives
    whole RecordBatches instead of per-row Spark Rows — the write-side
    counterpart of the reader's Arrow fast path (guide §4.2): no
    per-row pickling across the boundary, one ``to_pylist`` per column
    per batch, identical JSON-lines bytes out."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_runs stream sink requires option 'path'")
        os.makedirs(self.path, exist_ok=True)

    def write(self, batches) -> RunCommit:
        prime_worker()
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        tmp = os.path.join(self.path, f".tmp-stream-{pid}-{uuid.uuid4().hex[:8]}")
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for batch in batches:
                keys = batch.column(0).to_pylist()
                vals = batch.column(1).to_pylist()
                for k, v in zip(keys, vals):
                    fh.write(json.dumps({"key": k, "value": v}) + "\n")
                n += len(keys)
        return RunCommit(tmp_file=tmp, n_rows=n)

    def _drop_temps(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            try:
                os.remove(m.tmp_file)
            except FileNotFoundError:
                pass

    def commit(self, messages, batchId: int) -> None:
        prefix = f"mr-stream-b{batchId:05d}-"
        if any(f.startswith(prefix) for f in os.listdir(self.path)):
            self._drop_temps(messages)  # replayed epoch: already committed
            return
        for i, m in enumerate(messages):
            if m is None:
                continue
            os.replace(
                m.tmp_file, os.path.join(self.path, f"{prefix}{i:05d}.json")
            )

    def abort(self, messages, batchId: int) -> None:
        self._drop_temps(messages)


# The datasource class is shipped to executors by value: the repo is on
# the driver's sys.path only, so without pickle-by-value the executor-side
# Python worker fails with ModuleNotFoundError when it unpickles the reader
# (only reproducible when the driver process runs from a foreign cwd).
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def register(spark) -> None:
    # a reader that implements pushFilters REQUIRES the conf (Spark
    # refuses to silently ignore an implemented pushdown)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MrRunsDataSource)


class MrRunsStreamReader(DataSourceStreamReader):
    """Streaming side of the connector (DataSourceStreamReader): the
    runs directory is treated as an append-only log of run files;
    offsets are indexes into the sorted file list, and ``latestOffset``
    ratchets forward by at most MAX_FILES_PER_BATCH per trigger — the
    connector-level form of maxFilesPerTrigger rate limiting, so a
    bounded directory still exercises multi-micro-batch progress.
    Replay semantics: partitions(start, end) is a pure function of the
    two offsets (same sorted listing), so a recovered query re-reads
    exactly the files of the uncommitted range."""

    MAX_FILES_PER_BATCH = 3

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("mr_runs stream source requires option 'path'")
        self._acked = 0

    def _all_files(self) -> list[str]:
        return sorted(
            f
            for f in os.listdir(self.path)
            if not f.startswith((".", "_")) and not f.endswith(".crc")
        )

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def latestOffset(self) -> dict:
        n = len(self._all_files())
        self._acked = min(n, self._acked + self.MAX_FILES_PER_BATCH)
        return {"idx": self._acked}

    def partitions(self, start: dict, end: dict):
        files = self._all_files()[start["idx"] : end["idx"]]
        return [InputPartition(f) for f in files]

    def read(self, partition):
        prime_worker()
        fname = partition.value
        batches = _arrow_read_run_file(self.path, fname, [])
        if batches is not None:  # vectorized: Arrow record batches
            yield from batches
            return
        with open(os.path.join(self.path, fname)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    rec = json.loads(line)
                    yield (rec.get("key"), rec.get("value"), fname)

    def commit(self, end: dict) -> None:
        pass
