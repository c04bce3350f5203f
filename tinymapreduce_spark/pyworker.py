"""Set-up that every Python stage runs before its user code.

Spark 4.1's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task it serves (``setup_spark_files`` in
``pyspark/worker_util.py``). On CPython 3.10-3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-parse its whole
archive's central directory. A worker holds one such importer per
``pyspark`` sub-package it imported from ``pyspark.zip`` (14-16 of them,
each over the archive's 1,328 entries), so each task paid ~16 full
directory reads before any user code ran: most of a small stage's
Python-worker CPU. CPython 3.13 made the re-read lazy, and there
``prime_worker`` does nothing.

``prime_worker`` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads an archive only when its ``(mtime_ns, size,
inode)`` changed since the last read, and otherwise re-points the
importer at the shared directory cache. A rewritten or newly added zip
is still re-read, so import semantics are unchanged. The patch is
per worker process (Spark reuses workers across tasks), so the task
that installs it still pays the old cost once; every later task on that
worker does not.

Every function this engine hands to a Python stage (``mapInPandas``,
``mapInArrow``, ``applyIn*``, ``pandas_udf``, ``foreachPartition``,
UDTF ``__init__``, Python data-source readers and writers) calls
``prime_worker()`` first; ``tests/test_pyworker.py`` scans the package
for entry points that do not. Row-at-a-time UDFs are left out: they run
once per row. This module is registered pickle-by-value, so the helper
ships inside those closures even when the worker cannot import this
package.

A per-row stage (each input row gives 0..n output rows, as a MapReduce
``map`` does) is written as ``row_stage(df, schema, row_fn)``: the
module's one ``mapInPandas`` kernel owns the batch loop, primes the
worker and builds each output frame, so the caller writes only the
per-row function. Whole-batch kernels (vectorized over a frame, Arrow
batches, grouped stages) stay direct stage functions.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

cloudpickle.register_pickle_by_value(sys.modules[__name__])

# The (doc_id, payload) shape every encode -> decode stage passes between
# its two hops.
PAYLOAD = "doc_id long, payload binary"


def prime_worker() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-keyed in this process.

    Idempotent and cheap after the first call; a no-op on Python >= 3.13,
    whose ``zipimport`` already defers the re-read."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    cls = zipimport.zipimporter
    reread = getattr(cls, "invalidate_caches", None)
    if reread is None or getattr(reread, "stat_keyed", False):
        return
    directories = zipimport._zip_directory_cache
    read_at: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        files = directories.get(self.archive)
        if sig is not None and files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        # stat before the read: a write racing the read leaves an old
        # signature beside new contents, which only costs one more read
        reread(self)
        if sig is not None and self.archive in directories:
            read_at[self.archive] = sig
        else:
            read_at.pop(self.archive, None)

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches


def row_stage(df: DataFrame, schema: str, row_fn: Callable[..., Iterable[tuple]]) -> DataFrame:
    """One ``mapInPandas`` hop that calls ``row_fn(*row)`` on each input
    row, with the values of ``df``'s columns in column order, and emits
    the 0..n tuples it yields as rows of the DDL ``schema``. Tuples are
    matched to the schema's fields by position and the output frame is
    labelled with the field names, so Spark assigns columns by name."""
    names = StructType.fromDDL(schema).names

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        for pdf in batches:
            rows = zip(*(pdf[c].tolist() for c in pdf.columns))
            yield pd.DataFrame([out for row in rows for out in row_fn(*row)], columns=names)

    return df.mapInPandas(kernel, schema)
