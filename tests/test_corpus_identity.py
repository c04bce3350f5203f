"""Scratch artifacts derived from a corpus are named by the corpus's
identity (``textfiles.corpus_dir``), built once per session
(``textfiles.build_once``), and the AvailableNow ingest skeleton
(``sinks.run_available_now``) is idempotent on re-run."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from tinymapreduce_spark.sources.loaders import TABLES

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

AVAILABLE_NOW_KEYS = (
    "stream_available_now",
    "stream_binary_files_decode",
    "stream_adpcm_ingest",
    "stream_tar_ingest",
    "stream_warc_ingest",
)


def _rows(pdf) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(pdf.itertuples(index=False, name=None))


def _oracle_rows(sf_dir: str, name: str) -> list[tuple]:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return _rows(con.execute(ORACLES[name]).df())


def _truncated_twin(sf_dir: str, parent: str, tables: tuple[str, ...]) -> str:
    """A copy of ``sf_dir`` under ``parent`` with the SAME dir name, in
    which each of ``tables`` keeps only its first half of rows."""
    twin = os.path.join(parent, os.path.basename(os.path.normpath(sf_dir)))
    os.makedirs(twin)
    for t in TABLES:
        src, dst = os.path.join(sf_dir, f"{t}.parquet"), os.path.join(twin, f"{t}.parquet")
        if t in tables:
            table = pq.read_table(src)
            pq.write_table(table.slice(0, table.num_rows // 2), dst)
        else:
            shutil.copyfile(src, dst)
    return twin


def _sink_files(sink: str) -> set[str]:
    return {f for f in os.listdir(sink) if f.endswith(".parquet")}


@pytest.mark.parametrize(
    "name", ["csv_roundtrip_agg", "json_runs_roundtrip", "stream_available_now"]
)
def test_same_named_corpus_gets_its_own_artifacts(spark, sf_dir, tmp_path, name):
    """Two corpora whose dirs share a name, one session: each key must
    answer from its own corpus. A memo or scratch path keyed by the dir
    name alone serves the second corpus the first one's artifact."""
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    twin = _truncated_twin(sf_dir, str(tmp_path), ("lineitem", "documents", "events"))
    try:
        for d in (sf_dir, twin):
            got = _rows(QUERIES[name](spark, d).toPandas())
            assert got == _oracle_rows(d, name), (name, d)
    finally:
        # the twin's artifacts are named by its tables' identities,
        # which no other corpus shares: drop them with the twin
        tag = os.path.basename(twin)
        for t in ("lineitem", "documents", "events"):
            st = os.stat(os.path.join(twin, f"{t}.parquet"))
            suffix = f"_{tag}_{st.st_size}_{int(st.st_mtime)}"
            for entry in os.listdir(SCRATCH):
                if entry.endswith(suffix):
                    shutil.rmtree(os.path.join(SCRATCH, entry), ignore_errors=True)


@pytest.mark.parametrize("name", AVAILABLE_NOW_KEYS)
def test_available_now_rerun_ingests_nothing(spark, sf_dir, name):
    """The exactly-once ingest certificate: a second run of an
    AvailableNow key in the same session returns the same rows and adds
    no file to its sink."""
    from tinymapreduce_spark.operators import multimodal
    from tinymapreduce_spark.sources import tarfiles, warcfiles
    from tinymapreduce_spark.sources.textfiles import SCRATCH, corpus_dir

    first = _rows(QUERIES[name](spark, sf_dir).toPandas())
    if name == "stream_available_now":
        base = corpus_dir("avail_now", sf_dir, "events")
    else:
        ensure = {
            "stream_binary_files_decode": multimodal._ensure_bmp_files,
            "stream_adpcm_ingest": multimodal._ensure_wav_files,
            "stream_tar_ingest": tarfiles._ensure_tar_files,
            "stream_warc_ingest": warcfiles._ensure_warc_files,
        }[name]
        base = os.path.join(SCRATCH, f"stream_{os.path.basename(ensure(spark, sf_dir))}")
    sink = os.path.join(base, "sink")
    files = _sink_files(sink)
    assert files, f"{name}: nothing landed in {sink}"

    second = _rows(QUERIES[name](spark, sf_dir).toPandas())
    assert second == first
    assert first == _oracle_rows(sf_dir, name)
    assert _sink_files(sink) == files


def test_kv_dedup_writes_each_accepted_op_once(spark, sf_dir, tmp_path, monkeypatch, duck):
    """``stream_kv_dedup`` hands the table only each micro-batch's own
    accepted ops: summed over the batches, the rows written equal the
    final log. Re-publishing the log so far every batch writes the sum
    of its growing prefixes instead (quadratic in the batch count)."""
    from tinymapreduce_spark.sources.manifest_sink import ManifestTable
    from tinymapreduce_spark.streaming import state

    # the events split into four files, streamed one per trigger, so the
    # sink sees several micro-batches
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    feed = tmp_path / "events.parquet"
    feed.mkdir()
    step = -(-events.num_rows // 4)
    for i in range(4):
        pq.write_table(events.slice(i * step, step), feed / f"part-{i}.parquet")

    def events_stream_source(spark, sf_dir, schema=None):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(feed))

    monkeypatch.setattr(state, "events_stream_source", events_stream_source)

    written: list[int] = []
    read: list[int] = []
    real_publish, real_append, real_read = (
        ManifestTable.publish, ManifestTable.append, ManifestTable.read,
    )

    def publish(self, df, *args, **kwargs):
        written.append(df.count())
        return real_publish(self, df, *args, **kwargs)

    def append(self, df, *args, **kwargs):
        written.append(df.count())
        return real_append(self, df, *args, **kwargs)

    def spy_read(self, *args, **kwargs):
        out = real_read(self, *args, **kwargs)
        read.append(out.count())
        return out

    monkeypatch.setattr(ManifestTable, "publish", publish)
    monkeypatch.setattr(ManifestTable, "append", append)
    monkeypatch.setattr(ManifestTable, "read", spy_read)

    got = _rows(state.stream_kv_dedup(spark, str(tmp_path)).toPandas())

    assert sum(1 for n in written if n) >= 2, written
    assert sum(written) == read[-1], (written, read)
    assert got == _rows(duck.execute(ORACLES["stream_kv_dedup"]).df())
