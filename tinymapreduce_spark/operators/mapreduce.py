"""Generic MapReduce compatibility surface — the reference's whole engine
is one UDTF (Map) + one UDAF (Reduce) over (key, value) string pairs
(``/root/reference/src/mr/worker.go:47-48``; SURVEY.md §2.2 D1-D5).

``run_mapreduce`` reproduces that contract on Spark:

  map stage    -> ``mapInPandas``   (Arrow-batched UDTF: 0..n KV pairs out;
                  with ``merge`` the same task also folds them to partials,
                  at most one Arrow batch of pairs per fold)
  shuffle      -> ``repartition(R, "key")``   (D2; Murmur3 replaces FNV-1a —
                  output-equivalent, see functions/hashing.py)
  sort+group   -> ``applyInPandas`` grouped map (D3+D4; Spark sorts/groups
                  shuffle-side, the pandas group IS the (key, [values]) unit)
  reduce stage -> user ``reducef(key, values) -> str`` (D5)

The phase barrier (D6, ``/root/reference/src/mr/coordinator.go:88-95``) is
the shuffle stage boundary; straggler re-execution and exactly-once output
(D7) are Spark's speculation + task-commit protocol.

Scale notes: ``collect_list``-free — values for one key materialize only
inside the Arrow batch of that group, same memory shape as the reference's
reduce call. Skewed keys are the known limit (documented in SURVEY.md
§7.5 item 1); built-in aggregations (operators/reference_queries.py) are
the fast path and this shim exists for UDF parity.
"""

from __future__ import annotations

import sys
from collections.abc import Callable, Iterable, Iterator
from itertools import islice

import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame

from tinymapreduce_spark.pyworker import prime_worker

# UDFs defined here must work even when the executor Python can't import
# this package (the driver may run us via sys.path, which workers don't
# inherit) — serialize this module's functions by value, not reference.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

MapF = Callable[[str, str], Iterable[tuple[str, str]]]
ReduceF = Callable[[str, list[str]], str]
# An associative+commutative fold on the VALUE domain: merge(k, vs) must
# equal merge(k, [merge(k, any_partition_of(vs))...]) — the contract that
# makes map-side combining legal (Hadoop's Combiner, Spark's partial agg).
MergeF = Callable[[str, list[str]], str]

KV_SCHEMA = "key string, value string"


def run_mapreduce(
    df: DataFrame,
    mapf: MapF,
    reducef: ReduceF | None = None,
    num_partitions: int | None = None,
    key_col: str = "filename",
    value_col: str = "contents",
    merge: MergeF | None = None,
) -> DataFrame:
    """Run a classic (mapf, reducef) job over a 2-column DataFrame.

    ``df`` rows play the role of input splits: ``mapf(key, value)`` is
    called once per row and may emit any number of (key, value) pairs,
    exactly like ``Map(filename, contents)``
    (``/root/reference/src/mrapps/wc.go:21``).

    Skew posture: with plain ``reducef`` every value of one key
    materializes in one Arrow batch (the reference has the same shape —
    one reduce call sees all values). When the reduce is an associative
    fold, pass ``merge`` instead: the map task itself pre-folds what it
    emits to ONE partial per key before the shuffle, so a hot key ships
    ~one value per slice rather than one per occurrence, and the final
    fold sees a bounded list. ``merge`` replaces ``reducef`` at both
    levels (a combiner must be merge-compatible with itself, which the
    raw reference signature — e.g. wc's len(values) — is not).

    Batch bound: a map-side fold sees at most one Arrow batch of emitted
    pairs (``spark.sql.execution.arrow.maxRecordsPerBatch``, read from the
    session when the job is built); a task whose map output is longer
    folds it in slices of that many pairs (without ``merge``, the map
    ships its pairs in batches of the same size). The fold runs inside
    the map's ``mapInPandas``, so a task starts one Python runner, not
    one for the map and one for a chained combine.
    """
    if (reducef is None) == (merge is None):
        raise ValueError("exactly one of reducef / merge is required")

    # One Arrow batch of emitted pairs: the most a map-side fold may see
    # (<= 0 means Spark's Arrow batches are unbounded, and so is a fold).
    batch_cap = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    cap = batch_cap if batch_cap > 0 else None

    def emitted(batches: Iterator[pd.DataFrame]) -> Iterator[tuple[str, str]]:
        for pdf in batches:
            for k, v in zip(pdf[key_col], pdf[value_col]):
                yield from mapf(k, v)

    def map_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prime_worker()
        pairs = emitted(batches)
        while chunk := list(islice(pairs, cap)):
            yield pd.DataFrame(chunk, columns=["key", "value"])

    def map_combine_stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One row per (slice, distinct key) reaches the shuffle instead
        # of one per emit: the partial-aggregation shape Catalyst gives
        # built-in aggregates, for arbitrary Python folds.
        prime_worker()
        pairs = emitted(batches)
        while True:
            groups: dict[str, list[str]] = {}
            for ok, ov in islice(pairs, cap):
                groups.setdefault(ok, []).append(ov)
            if not groups:
                return
            keys = list(groups)
            yield pd.DataFrame(
                {"key": keys, "value": [merge(k, sorted(groups[k])) for k in keys]}
            )

    kv = df.select(key_col, value_col).mapInPandas(
        map_stage if merge is None else map_combine_stage, schema=KV_SCHEMA
    )

    if num_partitions:
        # Explicit R, mirroring nReduce (/root/reference/src/main/mrcoordinator.go:23).
        # Left unset, AQE sizes the shuffle — the right default at scale.
        kv = kv.repartition(num_partitions, "key")

    final = merge if merge is not None else reducef

    def reduce_stage(pdf: pd.DataFrame) -> pd.DataFrame:
        prime_worker()
        key = pdf["key"].iloc[0]
        # Reference sorts the whole partition then scans groups
        # (worker.go:158-183); sorting values here gives reducef the same
        # deterministic value order the sequential oracle sees.
        values = sorted(pdf["value"].tolist())
        return pd.DataFrame({"key": [key], "value": [final(key, values)]})

    return kv.groupBy("key").applyInPandas(reduce_stage, schema=KV_SCHEMA)


# --- The reference's bundled MR applications, as (mapf, reducef) pairs ----


def wc_map(_filename: str, contents: str) -> Iterable[tuple[str, str]]:
    """Tokenize on non-letter runs (``/root/reference/src/mrapps/wc.go:21-34``)."""
    import re

    for w in re.split(r"[^A-Za-z]+", contents):
        if w:
            yield (w, "1")


def wc_reduce(_key: str, values: list[str]) -> str:
    """Count occurrences (``/root/reference/src/mrapps/wc.go:41-44``)."""
    return str(len(values))


def wc_merge(_key: str, values: list[str]) -> str:
    """wc as an associative fold: values are decimal partial counts
    (map emits "1"s), merging = integer sum. Unlike ``wc_reduce``
    (len(values)), this is merge-compatible with itself, so it can run
    as a map-side combiner AND the final fold."""
    return str(sum(int(v) for v in values))
