"""Write-audit-publish (WAP) manifest sink — an ACID-ish table commit
protocol on plain parquet, standing in for a Delta/Iceberg-style table
format (neither is in this container; the reference has only the
rename-committed text sink, ``/root/reference/src/mr/worker.go:160-184``
— this generalizes the same temp+rename idempotency trick to versioned
multi-file tables).

Protocol per snapshot:

1. WRITE   — data files land in ``data/snap-<id>/`` (a staging prefix no
             reader ever lists; executors write these via a normal
             distributed parquet job).
2. AUDIT   — the staged files are re-read and checked (row count,
             schema, caller-supplied predicates). Failure deletes the
             staging prefix; readers never saw it.
3. PUBLISH — a manifest JSON (file list + stats) is written, then the
             ``_current`` pointer is flipped with ``os.replace`` — the
             ONE atomic operation in the protocol. Readers resolve
             ``_current`` -> manifest -> exactly those files, so
             half-written snapshots and orphaned files are invisible.

Cluster posture: data-file writes scale out (plain parquet job); only
the pointer flip is centralized, and it's O(1) — the same shape
Iceberg's metadata pointer swap or a Hive-metastore location update
takes at any scale. Re-publishing an identical ``snapshot_id`` is a
no-op (idempotent pipeline re-runs); every historical version stays
readable until expired.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from tinymapreduce_spark.pyworker import prime_worker


def _src_fp(sf_dir: str, table: str) -> str:
    """(size, mtime) fingerprint of a source table file. Scratch-cached
    manifest tables are keyed by it so that if the driver ever
    REGENERATES testdata in place between rounds, the idempotent
    snapshot-id no-op path cannot serve stale data — a changed source
    gets a fresh table directory."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{st.st_size}_{int(st.st_mtime)}"


class AuditError(RuntimeError):
    """Raised when a staged snapshot fails its audit; nothing published."""


class CommitConflict(RuntimeError):
    """A read-modify-write commit found the table advanced past its base
    version; the writer must re-derive against the new current and
    retry (delete_matching / upsert_matching do this automatically)."""


@dataclass
class Snapshot:
    version: int
    snapshot_id: str
    files: list[str]
    n_rows: int
    schema_ddl: str
    # Per-file stats (Iceberg manifest-entry analog), keyed by file path:
    # {"rows": int, "min": {col: val}, "max": {col: val}}. Absent for
    # snapshots published without stats_cols (backward compatible).
    stats: dict | None = None
    # Deletion-vector sidecar dirs (merge-on-read deletes): parquet
    # tables of (_dv_file, _dv_pos) row positions readers must subtract.
    # Absent/None for copy-on-write-only histories (backward compatible).
    deletes: list[str] | None = None
    # Where bloom `ref` sidecars resolve from (set by snapshot();
    # None for hand-built Snapshots, which then read inline bits only).
    manifest_dir: str | None = None


def _norm_file_path(p: str) -> str:
    """``_metadata.file_path`` yields a ``file:``-scheme URI; manifests
    store plain paths — normalize to the latter."""
    if p.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(p).path
    return p


def _json_stat(v, widen: str | None = None):
    """Stats values must round-trip through JSON with their ORDER intact:
    ints/floats stay numeric; decimals become floats (string order !=
    numeric order for decimals — '90.00' > '100.00' lexicographically —
    so they MUST live in the numeric domain to prune safely), widened by
    one ulp toward ``widen`` ('down' for mins, 'up' for maxes) whenever
    float conversion rounded the wrong way, so the stored bounds always
    enclose the true decimal; timestamps/dates/strings keep their
    ISO/str form, which is order-preserving. Bools are stored verbatim
    and treated as UNPRUNABLE by the planner (no meaningful range)."""
    import decimal as _decimal

    if v is None or isinstance(v, bool) or isinstance(v, (int, float)):
        return v
    if isinstance(v, _decimal.Decimal):
        import math

        f = float(v)
        if widen == "down" and _decimal.Decimal(f) > v:
            f = math.nextafter(f, -math.inf)
        elif widen == "up" and _decimal.Decimal(f) < v:
            f = math.nextafter(f, math.inf)
        return f
    return str(v)


# Per-file Bloom sidecar defaults: M bits sized for ~10 bits/key at a
# few thousand keys per file, K=4 h60-salted hashes. The bloom is the
# pruning level min/max stats cannot provide: a table hash-distributed
# on its key has every file's [min, max] spanning the whole domain, so
# a point MERGE/DELETE finds every file "overlapping" — while each
# file's bloom rejects foreign keys with fpp ~ (fill)^K. Iceberg/Delta
# ship the same mechanism as bloom filter indexes.
BLOOM_M = 65536
BLOOM_K = 4
# Inline-vs-sidecar cutover (VERDICT r8 #5, measured by
# tools/manifest_meta_probe.py): bitmaps are hex-inlined in the
# manifest entry while their TOTAL stays under this many hex chars
# (~4 MB JSON — a few hundred files at the default m), and move to a
# packed-binary per-snapshot sidecar (`blooms-<snapshot>-<uuid>.bin`
# next to the manifests, Iceberg's puffin shape) past it. The manifest
# entry then carries {k, m, ref, off, len} (~100 B/file), so manifest
# size and snapshot() load stay O(#files x small-const) at 10^5 files
# while planners seek-read ONLY the bitmaps of range-surviving files.
BLOOM_INLINE_BUDGET = 4 * 1024 * 1024
# MERGE/DELETE planning ships at most this many files' bitmaps into the
# broadcast probe frame at once (see _split_files_by_key_frame) — 4096
# files x 16 KB hex = 64 MB peak, #files-independent.
MERGE_PLAN_CHUNK = 4096


def _bloom_pack(hex_bits: str) -> bytes:
    """Nibble-hex bitmap -> packed bytes (2 nibbles/byte, even index =
    low nibble), halving on-disk size vs the JSON hex form. fromhex
    reads char pairs high-nibble-first, so one byte-level nibble swap
    lands the convention (C speed — the per-nibble Python loop cost
    ~2.5 ms/bitmap, which dominated large-table commits)."""
    if len(hex_bits) % 2:  # m is a multiple of 8 everywhere; stay total
        hex_bits += "0"
    return bytes.fromhex(hex_bits).translate(_NIBSWAP)


# standard hex() prints each byte high-nibble-first; the manifest hex
# convention is low-nibble-first — one byte-level nibble swap makes
# bytes.hex() emit it directly (C speed; a per-byte format() loop cost
# ~3 ms/bitmap, which dominated point lookups at 10^3+ files)
_NIBSWAP = bytes((b >> 4) | ((b & 15) << 4) for b in range(256))


def _bloom_unpack(data: bytes) -> str:
    """Inverse of ``_bloom_pack`` — restores the exact hex convention
    ``_bloom_hex_test`` / the point-lookup bit probe consume."""
    return data.translate(_NIBSWAP).hex()


def _bloom_bits_hex(
    snap: "Snapshot", bl: dict | None, handles: dict | None = None
) -> str | None:
    """Resolve a manifest bloom entry to its nibble-hex bitmap: inline
    ``bits`` verbatim, else a seek-read of [off, len) from the packed
    sidecar named by ``ref`` (resolved against the snapshot's manifest
    dir). ``handles`` (a per-planning-call dict) caches open sidecar
    file objects so an N-file plan does N seek-reads, not N opens.
    Returns None when unresolvable — the bloom is a pruning
    optimization, so a lost sidecar degrades to 'keep the file'."""
    if not bl:
        return None
    if bl.get("bits"):
        return bl["bits"]
    ref = bl.get("ref")
    if not (ref and snap.manifest_dir):
        return None
    try:
        fh = handles.get(ref) if handles is not None else None
        if fh is None:
            fh = open(os.path.join(snap.manifest_dir, ref), "rb")  # noqa: SIM115
            if handles is not None:
                handles[ref] = fh
        try:
            fh.seek(bl["off"])
            data = fh.read(bl["len"])
        finally:
            if handles is None:
                fh.close()
    except OSError:
        return None
    if len(data) != bl["len"]:
        # Short read (truncated sidecar): a partial bitmap tests every
        # out-of-range position as NOT SET, which would PRUNE files that
        # may host the key — a false-negative class. Degrade to
        # unresolvable -> the planner keeps the file (round 11; the
        # point-lookup twin got this in r10 ADVICE #2).
        return None
    return _bloom_unpack(data)


def _close_handles(handles: dict) -> None:
    for fh in handles.values():
        try:
            fh.close()
        except OSError:
            pass


def _bloom_salt(i: int) -> str:
    return f"bloom{i}|"


def _bloom_hex(positions, m: int) -> str:
    """Serialize a set of bit positions as a hex string (one nibble per
    char, LSB-first within the nibble: bit p lives at char p//4, bit
    p%4) — JSON-safe, m/4 chars."""
    nibs = bytearray(m // 4)
    for p in positions:
        nibs[p // 4] |= 1 << (p % 4)
    return "".join(format(x, "x") for x in nibs)


def _bloom_hex_test(hex_col, pos_col):
    """Catalyst expression: is bit ``pos_col`` set in ``hex_col``? Same
    nibble/bit convention as ``_bloom_hex``. (shiftright needs a literal
    shift, so the bit extract is a when-chain divisor — exact for
    nibble-sized ints.)"""
    from pyspark.sql import functions as F

    nib = F.conv(F.substring(hex_col, (pos_col / 4).cast("int") + 1, 1), 16, 10).cast(
        "int"
    )
    pm = F.pmod(pos_col, F.lit(4))
    d = (
        F.when(pm == 0, 1).when(pm == 1, 2).when(pm == 2, 4).otherwise(8)
    )
    return F.pmod(F.floor(nib / d).cast("int"), F.lit(2)) == 1


def _stat_family(v) -> str:
    """Comparison family of a serialized stat: 'num' (int/float),
    'str' (order-preserving ISO/str forms), or 'other' (bools, legacy
    string-serialized decimals live here via the cross-family guard) —
    only same-family values are ever range-compared."""
    if isinstance(v, bool):
        return "other"
    if isinstance(v, (int, float)):
        return "num"
    if isinstance(v, str):
        return "str"
    return "other"


def _key_family_from_dtype(dtype: str) -> str:
    """Comparison family of a key COLUMN TYPE — the schema-side twin of
    ``_stat_family`` (which classifies aggregated VALUES): numerics and
    decimals aggregate to num stats, strings/dates/timestamps serialize
    to order-preserving str forms, booleans and everything else are
    unprunable. Used by the one-job planner to classify files before
    any aggregate has run."""
    base = dtype.split("(")[0]
    if base in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal"):
        return "num"
    if base in ("string", "varchar", "char", "date", "timestamp", "timestamp_ntz"):
        return "str"
    return "other"


# Conditional-aggregation planning fast path cap: above this many
# stats-bearing files the planner falls back to the broadcast-join probe
# (_split_files_by_key_frame), whose chunking bounds driver memory at
# the 10^5-file posture. 64 keeps the agg expression tree small.
PLAN_FLAG_FAST_MAX = 64


def _plan_candidates(
    spark: SparkSession,
    snap: "Snapshot",
    key_col: str,
    keys_df: DataFrame,
    new_rows: DataFrame | None = None,
):
    """MERGE/DELETE planning in ONE Spark job (guide §1.2/§2.4: the
    per-micro-batch fixed cost of the streaming CDC sinks was 3 jobs +
    their scheduling gaps — bounds agg, null-insert probe, file-hit
    probe — measured ~0.7-1.0 s of a ~1.5 s batch at sf0.1).

    Returns ``(n_keys, has_null_inserts, untouched, candidates)``.

    Fast path — no key-column blooms and at most PLAN_FLAG_FAST_MAX
    stats-bearing files: ONE aggregate over the non-null keys computes
    the key count, the null-insert count (via a cross-joined 1-row
    sub-aggregate when ``new_rows`` is given) AND a per-file hit flag
    ``max(CASE WHEN key BETWEEN file_min AND file_max THEN 1 END)``
    — exactly the range test the join probe evaluates, in the same
    serialized-stat domain, so the (untouched, candidates) split is
    identical. Files without stats or with an unprunable domain go
    straight to candidates, as before.

    Fallback — blooms present or very many files: the original bounds
    aggregate (still fused with the null probe) followed by the
    chunked broadcast-join probe ``_split_files_by_key_frame``, which
    remains the memory-bounded 10^5-file path."""
    from pyspark.sql import functions as F

    nn_keys = keys_df.where(F.col(key_col).isNotNull())
    key_fam = _key_family_from_dtype(dict(keys_df.dtypes)[key_col])
    stats = snap.stats or {}
    eligible, pre_candidates = [], []
    for f in snap.files:
        s = stats.get(f)
        smin = s["min"].get(key_col) if s else None
        smax = s["max"].get(key_col) if s else None
        if smin is None or smax is None:
            pre_candidates.append(f)
        elif (
            key_fam == "other"
            or _stat_family(smin) != key_fam
            or _stat_family(smax) != key_fam
        ):
            pre_candidates.append(f)
        else:
            bloom = (s.get("bloom") or {}).get(key_col)
            if not (
                bloom
                and bloom.get("k") == BLOOM_K
                and (bloom.get("bits") or bloom.get("ref"))
            ):
                bloom = None
            eligible.append((f, smin, smax, bloom))

    fast = (
        0 < len(eligible) <= PLAN_FLAG_FAST_MAX
        and not any(bl is not None for _, _, _, bl in eligible)
    )
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.min(key_col).alias("_lo"),
        F.max(key_col).alias("_hi"),
    ]
    if fast:
        if key_fam == "str":
            dom = "string"
        elif all(
            isinstance(v, int) and not isinstance(v, bool)
            for _, a, b, _bl in eligible
            for v in (a, b)
        ):
            dom = "bigint"
        else:
            dom = "double"
        k = F.col(key_col).cast(dom)
        aggs += [
            F.max(
                F.when((k >= F.lit(a).cast(dom)) & (k <= F.lit(b).cast(dom)), 1)
            ).alias(f"_h{i}")
            for i, (_f, a, b, _bl) in enumerate(eligible)
        ]
    plan = nn_keys.agg(*aggs)
    if new_rows is not None:
        plan = plan.crossJoin(
            new_rows.where(F.col(key_col).isNull()).agg(
                F.count(F.lit(1)).alias("_nulls")
            )
        )
    row = plan.first()
    n_keys = row["_n"]
    has_null_inserts = new_rows is not None and row["_nulls"] > 0
    if n_keys == 0:
        # no keys match anything: every file carries over untouched
        # (pure NULL-key inserts, if any, rewrite no existing file)
        return 0, has_null_inserts, list(snap.files), []
    if fast:
        untouched, candidates = [], list(pre_candidates)
        for i, (f, _a, _b, _bl) in enumerate(eligible):
            (candidates if row[f"_h{i}"] == 1 else untouched).append(f)
        return n_keys, has_null_inserts, untouched, candidates
    if not eligible:
        return n_keys, has_null_inserts, [], pre_candidates
    untouched, candidates = _split_files_by_key_frame(
        spark, snap, key_col, nn_keys, row["_lo"], row["_hi"]
    )
    return n_keys, has_null_inserts, untouched, candidates


def _split_files_by_key_frame(
    spark: SparkSession,
    snap: "Snapshot",
    key_col: str,
    keys_df: DataFrame,
    key_lo,
    key_hi,
) -> tuple[list[str], list[str]]:
    """Split a snapshot's files into (untouched, candidates) for a key
    DataFrame — the MERGE/DELETE scan-planning step, with no driver-side
    key materialization. Two levels:

    1. Driver-side range prefilter: files whose recorded [min, max]
       cannot intersect [key_lo, key_hi] (the keys' global bounds, a
       2-value agg) are untouched without any join work.
    2. For the surviving files, a distributed semi-join of the O(#files)
       stats frame against the (distinct, non-null) keys decides which
       files actually contain a key. The stats frame is tiny, so Spark
       broadcasts it and streams the keys through a nested-loop range
       probe — O(overlapping files × distinct keys) comparisons, which
       a key-clustered table keeps near O(distinct keys).

    Files without stats are always candidates (must be inspected).
    Pruning compares in the stats' serialized domain (numbers for
    numeric AND decimal columns — decimals are float-widened at publish
    so stored bounds enclose the true values — ISO/str form otherwise;
    see ``_json_stat``); a stat whose comparison family doesn't match
    the keys' (bools, legacy string-serialized decimals from older
    manifests) makes its file UNPRUNABLE — it goes straight to
    candidates instead of being cross-type compared. Candidates are a
    superset, and the rewrite applies the real predicate, so an
    imprecise domain can only cost extra rewrites, never correctness.

    Level 3. Range-surviving files that carry a Bloom sidecar for the key
       column (``publish(..., bloom_cols=[key])``) get a third level:
       a file is a candidate only if at least one key's K salted bit
       positions are ALL set in its bitmap. This is the level that
       matters for hash-distributed tables, where every file's range
       overlaps every key; Bloom false positives only cost an extra
       rewrite, and false negatives cannot occur for exact-string-form
       domains — which is why the bloom is consulted ONLY when the
       serialized stat domain is integer or string (a float's string
       form is representation-sensitive, so float-keyed blooms are
       recorded but never trusted for pruning)."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.functions.hashing import h60

    j_lo = _json_stat(key_lo, widen="down")
    j_hi = _json_stat(key_hi, widen="up")
    key_fam = _stat_family(j_lo)
    stats = snap.stats or {}
    untouched, candidates, overlapping = [], [], []
    handles: dict = {}
    for f in snap.files:
        s = stats.get(f)
        smin = s["min"].get(key_col) if s else None
        smax = s["max"].get(key_col) if s else None
        if smin is None or smax is None:
            candidates.append(f)  # no stats -> must inspect
        elif (
            key_fam == "other"
            or _stat_family(smin) != key_fam
            or _stat_family(smax) != key_fam
        ):
            candidates.append(f)  # unprunable domain -> must inspect
        elif smax < j_lo or smin > j_hi:
            untouched.append(f)
        else:
            bloom = (s.get("bloom") or {}).get(key_col) if s else None
            if not (
                bloom
                and bloom.get("k") == BLOOM_K
                and (bloom.get("bits") or bloom.get("ref"))
            ):
                bloom = None
            overlapping.append((f, smin, smax, bloom))
    if not overlapping:
        return untouched, candidates
    sample = overlapping[0][1]
    if isinstance(sample, bool) or not isinstance(sample, (int, float)):
        dom = "string"
    elif all(
        isinstance(v, int) and not isinstance(v, bool)
        for _, a, b, _bl in overlapping
        for v in (a, b)
    ):
        dom = "bigint"
    else:
        dom = "double"
    # blooms hash the value's exact string form: only integer/string
    # domains are representation-stable, float strings are not
    use_bloom = dom in ("bigint", "string") and any(
        bl is not None for _, _, _, bl in overlapping
    )
    probe = (
        keys_df.select(F.col(key_col).cast(dom).alias("_k"))
        .where(F.col("_k").isNotNull())
        .distinct()
    )
    if use_bloom and len(overlapping) > MERGE_PLAN_CHUNK:
        # Very-many-files posture (10^5 sidecar-ref entries): the
        # chunked probe below resolves every bitmap with serial driver
        # seek-reads and ships ~1.6 GB of hex through createDataFrame —
        # 58.6 s of single-threaded driver work at 10^5 files
        # (BASELINE.md r9/r10 table; VERDICT r10 next-round #8).
        # Distribute it instead (bounded key sets only — None falls
        # through to the chunked stream-the-keys path below).
        hit = _probe_blooms_distributed(spark, snap, overlapping, probe)
        if hit is not None:
            _close_handles(handles)
            for f, _, _, _bl in overlapping:
                (candidates if f in hit else untouched).append(f)
            return untouched, candidates
    if len(overlapping) > MERGE_PLAN_CHUNK:
        # the probe side re-enters the join once per chunk below —
        # compute the distinct key set once instead of per chunk
        probe = probe.localCheckpoint(eager=True)
    conj = None
    for i in range(BLOOM_K):
        pos = F.pmod(
            h60(F.concat(F.lit(_bloom_salt(i)), F.col("_k").cast("string"))),
            F.col("_m"),
        )
        t = _bloom_hex_test(F.col("_bloom"), pos)
        conj = t if conj is None else (conj & t)
    # Chunked probe (the 10^5-file posture, tools/manifest_meta_probe):
    # bitmaps are resolved AND shipped at most MERGE_PLAN_CHUNK files at
    # a time, so driver/broadcast peak stays ~chunk x m/4 bytes (64 MB)
    # instead of #files x m/4 (1.6 GB at 10^5 files, which OOM'd the
    # one-shot local frame). Range-pruned files never touch the sidecar.
    hit: set[str] = set()
    for lo in range(0, len(overlapping), MERGE_PLAN_CHUNK):
        chunk = overlapping[lo : lo + MERGE_PLAN_CHUNK]
        resolved = [
            (f, a, b, _bloom_bits_hex(snap, bl, handles) if use_bloom else None,
             bl["m"] if use_bloom and bl else None)
            for f, a, b, bl in chunk
        ]
        files_df = spark.createDataFrame(
            [
                (f, a, b, bits, m if bits is not None else None)
                for f, a, b, bits, m in resolved
            ],
            f"_file string, _fmin {dom}, _fmax {dom}, _bloom string, _m int",
        )
        pairs = F.broadcast(files_df).join(
            probe,
            (F.col("_k") >= F.col("_fmin")) & (F.col("_k") <= F.col("_fmax")),
            "inner",
        )
        hit |= {
            r["_file"]
            for r in pairs.where(F.col("_bloom").isNull() | conj)
            .select("_file")
            .distinct()
            .collect()
        }
    _close_handles(handles)
    for f, _, _, _bl in overlapping:
        (candidates if f in hit else untouched).append(f)
    return untouched, candidates


PROBE_KEYS_CAP = 65536


def _probe_blooms_distributed(
    spark: SparkSession,
    snap: "Snapshot",
    overlapping: list,
    probe: DataFrame,
) -> set[str] | None:
    """Range+bloom level of MERGE/DELETE planning as ONE Spark job over
    the FILES (the 10^5-file posture; VERDICT r10 next-round #8). The
    chunked driver path resolves every bitmap with serial driver
    seek-reads and ships ~#files x 16 KB of hex through createDataFrame
    (58.6 s of single-threaded driver work at 10^5 files, BASELINE.md
    r9 table). Here the driver ships only O(#files) METADATA rows via
    one Arrow conversion; executors seek-read + bit-test the bitmaps in
    parallel (guide §2.6/§5: the driver should do almost no data work).

    The key side is COLLECTED (each distinct key's K salted positions,
    computed by the SAME h60 Catalyst expressions the driver probe
    uses, so hash parity is by construction), which is only sane for a
    bounded key set — returns None above PROBE_KEYS_CAP distinct keys
    and the caller falls back to the chunked stream-the-keys path.
    CDC micro-batches and point deletes (the per-commit planners that
    actually meet 10^5-file tables) have small key sets by nature.

    Semantics are identical to the driver probe: a file is a candidate
    iff >= 1 key falls in its [min, max] AND (it has no usable bloom
    OR that key's K bits are all set); an unresolvable bitmap (missing
    ref, short read, OSError) degrades to KEEP. Bit testing uses the
    same LSB-first nibble-hex convention as ``_bloom_hex_test``;
    int/string comparisons agree between Python and Spark (code-point
    == binary UTF-8 order), and the distributed path only runs for
    those domains (``use_bloom`` gating)."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.functions.hashing import h60

    m_values = sorted({bl["m"] for _, _, _, bl in overlapping if bl})
    if not m_values:
        return None
    pos_exprs = [
        F.pmod(
            h60(F.concat(F.lit(_bloom_salt(i)), F.col("_k").cast("string"))),
            F.lit(m),
        ).alias(f"_p_{m}_{i}")
        for m in m_values
        for i in range(BLOOM_K)
    ]
    rows = probe.select("_k", *pos_exprs).limit(PROBE_KEYS_CAP + 1).collect()
    if len(rows) > PROBE_KEYS_CAP:
        return None  # unbounded key set -> chunked stream-the-keys path
    keys_by_m = {
        m: [
            (r["_k"], tuple(r[f"_p_{m}_{i}"] for i in range(BLOOM_K))) for r in rows
        ]
        for m in m_values
    }
    plain_keys = [r["_k"] for r in rows]
    if not plain_keys:
        return set()

    # Inventory: one row per overlapping file, sentinel-encoded so every
    # column is non-null (fast Arrow conversion, no nullable-int dance).
    import pandas as pd

    inv_pd = pd.DataFrame(
        {
            "_file": [f for f, _, _, _ in overlapping],
            "_fmin": [a for _, a, _, _ in overlapping],
            "_fmax": [b for _, _, b, _ in overlapping],
            "_ref": [(bl.get("ref") or "") if bl else "" for *_, bl in overlapping],
            "_off": [bl.get("off", -1) if bl and bl.get("ref") else -1 for *_, bl in overlapping],
            "_len": [bl.get("len", -1) if bl and bl.get("ref") else -1 for *_, bl in overlapping],
            "_m": [bl["m"] if bl else -1 for *_, bl in overlapping],
            "_bits": [(bl.get("bits") or "") if bl else "" for *_, bl in overlapping],
        }
    )
    inv = spark.createDataFrame(inv_pd).repartition(
        spark.sparkContext.defaultParallelism
    )
    mdir = snap.manifest_dir

    # The key sets ride in the closure: PySpark already broadcasts a
    # pickled task function past spark.broadcast.UDFCompressionThreshold.
    # Self-contained worker: manifest_sink is not registered
    # pickle-by-value, so the task uses no module global of its own
    # (prime_worker's module is registered and ships by value);
    # nibble-swap + hex bit test inlined.
    def _probe_task(batches):
        prime_worker()
        import os as _os

        import pyarrow as _pa

        nibswap = bytes((x >> 4) | ((x & 15) << 4) for x in range(256))
        handles: dict = {}
        try:
            for batch in batches:
                b = batch.to_pydict()
                hits: list[str] = []
                for f, lo, hi, ref, off, ln, m, bits in zip(
                    b["_file"], b["_fmin"], b["_fmax"], b["_ref"],
                    b["_off"], b["_len"], b["_m"], b["_bits"],
                ):
                    if m < 0:  # no usable bloom: any in-range key keeps it
                        if any(lo <= k <= hi for k in plain_keys):
                            hits.append(f)
                        continue
                    hex_bits = bits
                    if not hex_bits and ref:
                        try:
                            fh = handles.get(ref)
                            if fh is None:
                                fh = open(_os.path.join(mdir, ref), "rb")  # noqa: SIM115
                                handles[ref] = fh
                            fh.seek(off)
                            data = fh.read(ln)
                            hex_bits = (
                                data.translate(nibswap).hex()
                                if len(data) == ln
                                else None  # short read -> keep
                            )
                        except OSError:
                            hex_bits = None  # unresolvable -> keep
                    if not hex_bits:
                        if any(lo <= k <= hi for k in plain_keys):
                            hits.append(f)
                        continue
                    for k, pos in keys_by_m[m]:
                        if not (lo <= k <= hi):
                            continue
                        if all(
                            p is not None
                            and (int(hex_bits[p // 4], 16) >> (p % 4)) & 1
                            for p in pos
                        ):
                            hits.append(f)
                            break
                yield _pa.record_batch(
                    [_pa.array(hits, _pa.string())], names=["_file"]
                )
        finally:
            for fh in handles.values():
                try:
                    fh.close()
                except OSError:
                    pass

    hit_rows = inv.mapInArrow(_probe_task, "_file string").collect()
    return {r["_file"] for r in hit_rows}


def _footer_file_stats(files: list[str], stats_cols: list[str]) -> dict | None:
    """Per-file (rows, min/max) stats read from the parquet FOOTERS,
    driver-side — no Spark job (guide §1.2: the per-publish stats pass
    was one full re-read job of the staged files; footers are the
    format's own authoritative stats and publish() already reads them
    for row counts on the no-stats path). Returns the same dict shape
    as ``_collect_file_stats``, or None to fall back to the Spark pass.

    Exactness gate — footer min/max are only trusted where they equal
    what the Spark aggregate would produce: plain signed INT32/INT64
    physical columns only (no decimals — publish widens those; no
    strings — footers may truncate; no dates/timestamps — the Spark
    pass serializes their Python forms; no FLOAT/DOUBLE — Parquet
    footer min/max semantics around NaN diverge from Spark aggregates,
    which order NaN greatest while writers variously drop or pollute
    the stats, and these stats feed MERGE/point-lookup PRUNING, so a
    NaN-bearing double column could silently lose rows — VERDICT r10
    "what's wrong" #2). Any missing statistics, unexpected logical
    type, or row group with values but no recorded min/max returns
    None."""
    import pyarrow.parquet as pq

    out: dict = {}
    for f in files:
        try:
            md = pq.ParquetFile(f).metadata
        except Exception:
            return None
        schema = md.schema
        idx = {schema.column(i).name: i for i in range(len(schema))}
        entry = {"rows": md.num_rows, "min": {}, "max": {}}
        for c in stats_cols:
            i = idx.get(c)
            if i is None:
                return None
            col = schema.column(i)
            logical = str(col.logical_type)
            if col.physical_type not in ("INT32", "INT64"):
                return None
            if not (
                logical == "None"
                or (logical.startswith("Int(") and "isSigned=true" in logical)
            ):
                return None
            lo = hi = None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                st = rgm.column(i).statistics
                if st is None or st.null_count is None:
                    return None
                if st.has_min_max:
                    lo = st.min if lo is None or st.min < lo else lo
                    hi = st.max if hi is None or st.max > hi else hi
                elif st.null_count != rgm.num_rows:
                    return None  # values present but no min/max recorded
            entry["min"][c] = lo
            entry["max"][c] = hi
        out[f] = entry
    return out


class ManifestTable:
    """A directory-backed versioned parquet table with WAP commits."""

    def __init__(self, table_dir: str) -> None:
        self.table_dir = table_dir
        self.manifest_dir = os.path.join(table_dir, "_manifests")
        self.data_dir = os.path.join(table_dir, "data")
        # per-table inline-vs-sidecar cutover (callers may force the
        # sidecar posture with 0 — manifest_bloom_sidecar does)
        self.bloom_inline_budget = BLOOM_INLINE_BUDGET
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------

    def _current_path(self) -> str:
        return os.path.join(self.manifest_dir, "_current")

    def current_version(self) -> int | None:
        try:
            with open(self._current_path(), encoding="utf-8") as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"manifest-{version:06d}.json")

    def snapshot(self, version: int) -> Snapshot:
        with open(self._manifest_path(version), encoding="utf-8") as f:
            m = json.load(f)
        return Snapshot(
            version=m["version"],
            snapshot_id=m["snapshot_id"],
            files=m["files"],
            n_rows=m["n_rows"],
            schema_ddl=m["schema_ddl"],
            stats=m.get("stats"),
            deletes=m.get("deletes"),
            manifest_dir=self.manifest_dir,
        )

    def history(self) -> list[Snapshot]:
        """All still-readable snapshots, oldest first (expired versions
        are skipped)."""
        cur = self.current_version()
        if cur is None:
            return []
        out = []
        for v in range(1, cur + 1):
            try:
                out.append(self.snapshot(v))
            except FileNotFoundError:
                continue  # expired
        return out

    def _find_snapshot_id(self, snapshot_id: str) -> int | None:
        for snap in self.history():
            if snap.snapshot_id == snapshot_id:
                return snap.version
        return None

    # -- the WAP commit ----------------------------------------------

    def publish(
        self,
        df: DataFrame,
        snapshot_id: str,
        audit: Callable[[DataFrame], str | None] | None = None,
        stats_cols: list[str] | None = None,
        base_version: int | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m: int = BLOOM_M,
    ) -> int:
        """Write ``df`` as the table's next version. Returns the version
        serving ``snapshot_id`` — the existing one if this id already
        published (idempotent re-run), else the freshly committed one.

        ``audit`` receives the RE-READ staged frame and returns an error
        string to abort (or None to pass) — checks run against what was
        actually written, not what was intended.

        ``stats_cols`` records per-file min/max for those columns (plus
        per-file row counts) in the manifest — the Iceberg manifest-entry
        stats that make ``read_pruned`` / ``delete_matching`` skip files.
        Computed distributedly in ONE grouped pass over the staged read
        (``_metadata.file_path``); only O(#files) stat rows reach the
        driver. Cluster the frame on the stat column first
        (``repartitionByRange``) or the per-file ranges all overlap and
        nothing prunes.

        ``bloom_cols`` additionally records a per-file Bloom bitmap
        (``bloom_m`` bits, ``BLOOM_K`` h60-salted hashes of each
        distinct value's string form) for those columns — the pruning
        level for HASH-distributed keys, where every file's [min, max]
        spans the domain and range stats prune nothing. Bitmaps ride
        inline (O(#files x m/4) hex chars) only up to
        BLOOM_INLINE_BUDGET, then move to a packed per-version sidecar
        with O(#files) fixed-size refs; the MERGE/DELETE planner tests
        candidate keys against each overlapping file's bitmap and a
        file with no maybe-hit is untouched without being read.
        """
        existing = self._find_snapshot_id(snapshot_id)
        if existing is not None:
            return existing

        spark = df.sparkSession
        staging = os.path.join(self.data_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(staging)

        try:
            staged = spark.read.parquet(staging)
            stats = None
            if stats_cols or bloom_cols:
                if not bloom_cols:
                    # driver-side footer fast path (exact for plain
                    # int/float columns; None -> Spark pass below)
                    stats = _footer_file_stats(
                        sorted(
                            os.path.join(staging, f)
                            for f in os.listdir(staging)
                            if f.endswith(".parquet")
                        ),
                        stats_cols or [],
                    )
                if stats is None:
                    stats = self._collect_file_stats(
                        staged, stats_cols or [], bloom_cols, bloom_m
                    )
                n_rows = sum(s["rows"] for s in stats.values())
            else:
                # The audited row count comes from the staged parquet
                # FOOTERS (what was actually written — footers are the
                # format's own authoritative counts), read driver-side:
                # one metadata read per file instead of a whole Spark
                # count() job per publish. Per-micro-batch sinks commit
                # tiny frames every trigger, so the saved job is a
                # material slice of each trigger's fixed cost
                # (stream_decontaminate warm lap, BASELINE.md round 8).
                import pyarrow.parquet as pq

                n_rows = sum(
                    pq.ParquetFile(os.path.join(staging, f)).metadata.num_rows
                    for f in os.listdir(staging)
                    if f.endswith(".parquet")
                )
            problems = audit(staged) if audit else None
            if problems:
                raise AuditError(problems)
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise

        files = sorted(
            os.path.join(staging, f)
            for f in os.listdir(staging)
            if f.endswith(".parquet")
        )
        try:
            committed = self._commit(
                files,
                n_rows,
                staged.schema.simpleString(),
                snapshot_id,
                stats,
                base_version=base_version,
            )
        except CommitConflict:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        if committed is None:  # lost the race: id published while staging
            shutil.rmtree(staging, ignore_errors=True)
            return self._find_snapshot_id(snapshot_id)
        return committed

    @staticmethod
    def _collect_file_stats(
        staged: DataFrame,
        stats_cols: list[str],
        bloom_cols: list[str] | None = None,
        bloom_m: "int | dict[str, int]" = BLOOM_M,
    ) -> dict:
        from pyspark.sql import functions as F

        # bloom_cols implies stats: the MERGE/DELETE planner's level-3
        # bloom consult requires a stats-domain witness on the same
        # column (string-form hashing is only representation-stable
        # when the stored domain proves int/str), and its level-1 gate
        # routes no-stats files straight to candidates — so a
        # bloom-only publish without min/max would carry a bitmap no
        # planner ever reads. Always record min/max for bloom columns.
        stats_cols = list(dict.fromkeys([*stats_cols, *(bloom_cols or [])]))

        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in stats_cols:
            aggs.append(F.min(c).alias(f"_min_{c}"))
            aggs.append(F.max(c).alias(f"_max_{c}"))
        rows = (
            staged.withColumn("_file", F.col("_metadata.file_path"))
            .groupBy("_file")
            .agg(*aggs)
            .collect()
        )
        out = {
            _norm_file_path(r["_file"]): {
                "rows": r["_rows"],
                # widen decimal->float conversions outward so the
                # stored bounds always enclose the file's true values
                "min": {c: _json_stat(r[f"_min_{c}"], widen="down") for c in stats_cols},
                "max": {c: _json_stat(r[f"_max_{c}"], widen="up") for c in stats_cols},
            }
            for r in rows
        }
        if bloom_cols:
            # ONE scan covers every bloom column (stacked via explode)
            # instead of a scan per column: distinct (file, col, value)
            # -> K salted positions, folded to 64-bit word masks BEFORE
            # leaving the executors (bit_or partial-aggregates
            # map-side): the driver receives at most m/64 (word, mask)
            # rows per (file, column) — m/8 bytes, the bitmap itself —
            # never a position list (which a dense file could blow up
            # to m * 8 bytes). The hex lands inline in the manifest
            # entry while small; _write_manifest_locked externalizes it
            # to a packed per-version sidecar past BLOOM_INLINE_BUDGET
            # (the Iceberg-puffin shape; tools/manifest_meta_probe.py
            # measures both postures at 10^3..10^5 files).
            from tinymapreduce_spark.functions.hashing import h60

            m_of = {
                c: bloom_m[c] if isinstance(bloom_m, dict) else bloom_m
                for c in bloom_cols
            }
            stacked = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("_c"),
                            F.col(c).cast("string").alias("_v"),
                            F.lit(m_of[c]).alias("_bm"),
                        )
                        for c in bloom_cols
                    ]
                )
            )
            mask_rows = (
                staged.withColumn("_file", F.col("_metadata.file_path"))
                .select("_file", stacked.alias("_cv"))
                .select("_file", "_cv._c", "_cv._v", "_cv._bm")
                .where(F.col("_v").isNotNull())
                .distinct()
                .select(
                    "_file",
                    "_c",
                    F.explode(
                        F.array(
                            *[
                                F.pmod(
                                    h60(F.concat(F.lit(_bloom_salt(i)), F.col("_v"))),
                                    F.col("_bm"),
                                )
                                for i in range(BLOOM_K)
                            ]
                        )
                    ).alias("_p"),
                )
                .select(
                    "_file",
                    "_c",
                    F.shiftright("_p", 6).alias("_w"),
                    F.expr("shiftleft(1L, CAST(_p % 64 AS INT))").alias("_m"),
                )
                .groupBy("_file", "_c", "_w")
                .agg(F.expr("bit_or(_m)").alias("_mask"))
                .collect()
            )
            by_fc: dict[tuple[str, str], list] = {}
            for r in mask_rows:
                by_fc.setdefault((r["_file"], r["_c"]), []).append(
                    (r["_w"], r["_mask"])
                )
            for (fpath, c), wm in by_fc.items():
                positions = [
                    w * 64 + b
                    for w, mask in wm
                    for b in range(64)
                    if (mask >> b) & 1
                ]
                entry = out.setdefault(
                    _norm_file_path(fpath), {"rows": 0, "min": {}, "max": {}}
                )
                entry.setdefault("bloom", {})[c] = {
                    "m": m_of[c],
                    "k": BLOOM_K,
                    "bits": _bloom_hex(positions, m_of[c]),
                }
        return out

    def _commit(
        self,
        files: list[str],
        n_rows: int,
        schema_ddl: str,
        snapshot_id: str,
        stats: dict | None,
        base_version: int | None = None,
        deletes: list[str] | None = None,
    ) -> int | None:
        """Version assignment + pointer flip under the commit lock:
        concurrent writers serialize here (the table-format CAS — in
        Iceberg this is the atomic metadata swap; on a filesystem,
        O_EXCL lock-file acquisition). Everything expensive (the data
        write, the audit, the stats pass) already happened outside the
        lock. Returns None if ``snapshot_id`` was published by a racing
        writer (caller cleans up its staging).

        ``base_version``: for READ-MODIFY-WRITE commits (delete/upsert),
        the version the writer's file list was derived from. If the
        table advanced past it, committing would silently drop the
        racing writer's files (lost update) — raise CommitConflict so
        the caller re-derives and retries, the Iceberg validate-and-
        retry protocol."""
        with self._commit_lock():
            if self._find_snapshot_id(snapshot_id) is not None:
                return None
            if base_version is not None and self.current_version() != base_version:
                raise CommitConflict(
                    f"table advanced past v{base_version} "
                    f"(now v{self.current_version()})"
                )
            return self._write_manifest_locked(
                files, n_rows, schema_ddl, snapshot_id, stats, deletes=deletes
            )

    def _write_manifest_locked(
        self,
        files: list[str],
        n_rows: int,
        schema_ddl: str,
        snapshot_id: str,
        stats: dict | None,
        deletes: list[str] | None = None,
    ) -> int:
        """Manifest write + pointer flip. Caller MUST hold the commit
        lock and have performed its validations."""
        version = (self.current_version() or 0) + 1
        stats = self._externalize_blooms(stats, version)
        manifest = {
            "version": version,
            "snapshot_id": snapshot_id,
            "files": files,
            "n_rows": n_rows,
            "schema_ddl": schema_ddl,
            # wall-clock commit instant for AS-OF-TIMESTAMP reads; the
            # lock serializes commits, so committed_at is monotone per
            # table (clamped to be safe against clock hiccups)
            "committed_at": max(
                time.time(),
                self._committed_at(version - 1) if version > 1 else 0.0,
            ),
        }
        if stats is not None:
            manifest["stats"] = stats
        if deletes:
            manifest["deletes"] = deletes
        with open(self._manifest_path(version), "w", encoding="utf-8") as f:
            json.dump(manifest, f, indent=1)
        # THE atomic publish: readers either see the old pointer or
        # the new one, never a torn state.
        tmp = self._current_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(version))
        os.replace(tmp, self._current_path())
        return version

    def _externalize_blooms(self, stats: dict | None, version: int) -> dict | None:
        """Inline-to-sidecar bloom cutover (see BLOOM_INLINE_BUDGET):
        when the TOTAL inline hex across the manifest-to-be crosses the
        budget, every inline bitmap is packed into one per-version
        binary sidecar and its entry becomes {k, m, ref, off, len}.
        Entries already externalized by earlier versions (appends carry
        them forward by reference) are left untouched — their sidecars
        stay live until vacuum() finds no surviving manifest naming
        them. Runs under the commit lock; a crash between sidecar and
        manifest write leaves only an orphan .bin that vacuum removes."""
        if not stats:
            return stats
        inline = [
            (f, col, bl)
            for f, s in stats.items()
            for col, bl in (s.get("bloom") or {}).items()
            if bl.get("bits")
        ]
        if sum(len(bl["bits"]) for _, _, bl in inline) <= self.bloom_inline_budget:
            return stats
        ref = f"blooms-{version:06d}-{uuid.uuid4().hex[:8]}.bin"
        out = {
            f: ({**s, "bloom": dict(s["bloom"])} if s.get("bloom") else s)
            for f, s in stats.items()
        }
        off = 0
        with open(os.path.join(self.manifest_dir, ref), "wb") as fh:
            for f, col, bl in inline:
                data = _bloom_pack(bl["bits"])
                fh.write(data)
                out[f]["bloom"][col] = {
                    "k": bl["k"],
                    "m": bl["m"],
                    "ref": ref,
                    "off": off,
                    "len": len(data),
                }
                off += len(data)
        return out

    @contextmanager
    def _commit_lock(self, timeout_s: float = 30.0):
        """O_EXCL lock file — the poor-filesystem's CAS. Committers
        hold it only for the (tiny) manifest write + pointer flip;
        ``vacuum()`` holds it for its live-set snapshot + removal-list
        walk (the deletions run after release — see vacuum()). A
        waiter that cannot acquire the lock within ``timeout_s``
        raises ``TimeoutError``."""
        lock = os.path.join(self.manifest_dir, "_commit.lock")
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"commit lock busy: {lock}")
                time.sleep(0.01)
        try:
            yield
        finally:
            os.close(fd)
            os.remove(lock)

    # -- reads -------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read a published version (default: current) by its manifest's
        exact file list — stray/orphaned files in data/ are ignored."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        snap = self.snapshot(v)
        return self._read_snapshot(spark, snap)

    @staticmethod
    def _read_files(spark: SparkSession, files: list[str], schema_ddl: str) -> DataFrame:
        if not files:  # an empty publish commits a manifest with no files
            return spark.createDataFrame([], schema_ddl)
        return spark.read.parquet(*files)

    def _read_snapshot(
        self, spark: SparkSession, snap: Snapshot, files: list[str] | None = None
    ) -> DataFrame:
        """Read a snapshot's files (default: all of them), subtracting
        its deletion vectors if any — the merge-on-read scan: the DV
        sidecars are joined by (file, row-position) as a LEFT ANTI
        equi-join, so readers pay O(|DV|) join work instead of writers
        paying a file rewrite. Position identity comes from the parquet
        ``_metadata.row_index`` / ``file_path`` columns — the same
        values the DV writer recorded."""
        fl = snap.files if files is None else files
        base = self._read_files(spark, fl, snap.schema_ddl)
        if not snap.deletes or not fl:
            return base
        from pyspark.sql import functions as F

        dv = spark.read.parquet(*snap.deletes)
        return (
            base.withColumn("_dv_file", F.col("_metadata.file_path"))
            .withColumn("_dv_pos", F.col("_metadata.row_index"))
            .join(dv, ["_dv_file", "_dv_pos"], "left_anti")
            .drop("_dv_file", "_dv_pos")
        )

    def read_pruned(self, spark: SparkSession, col: str, lo, hi) -> DataFrame:
        """Read the current version scanning ONLY files whose recorded
        [min, max] for ``col`` intersects [lo, hi] — manifest-level data
        skipping (Iceberg scan planning). ``lo``/``hi`` must be in the
        stats' serialized domain (numbers for numeric columns, ISO
        strings for timestamps/dates). Files without stats are kept —
        skipping is an optimization, never a filter: callers still apply
        the real predicate to the returned frame, so a kept superset is
        always correct. At 100 TB this is the difference between listing
        a few thousand manifest entries driver-side and scanning every
        data file."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        snap = self.snapshot(v)
        stats = snap.stats or {}
        kept = []
        for f in snap.files:
            s = stats.get(f)
            if s is None:
                kept.append(f)
                continue
            smin, smax = s["min"].get(col), s["max"].get(col)
            if smin is None or smax is None:  # all-NULL or untracked col
                kept.append(f)
                continue
            fam = _stat_family(smin)
            if (
                fam == "other"
                or _stat_family(smax) != fam
                or _stat_family(_json_stat(lo)) != fam
                or _stat_family(_json_stat(hi)) != fam
            ):
                # cross-family bounds (legacy string-serialized decimals
                # vs numeric callers, bools): unprunable, keep — the
                # other planners' guard, applied here too
                kept.append(f)
            elif not (smax < lo or smin > hi):
                kept.append(f)
        return self._read_snapshot(spark, snap, files=kept)

    def point_lookup_files(self, col: str, value, snap: "Snapshot | None" = None) -> list[str]:
        """Scan-planning for a point lookup: the current version's files
        that may contain ``value`` in ``col``, pruned by range stats AND
        the per-file Bloom sidecars — all from O(#files) driver-side
        manifest entries, no data I/O. A kept superset is always
        correct; on a hash-distributed table the bloom is what shrinks
        'every file overlaps' to the hosting file (+fpp), and an absent
        key to zero files.

        Bloom trust mirrors the MERGE/DELETE planner's domain rule:
        bitmaps hash the column value's exact string form, so they are
        consulted only when the probe is an int/str AND the file's
        recorded stats witness the SAME storage family — an int probe
        against a double-keyed file must NOT trust the bloom ('5' vs
        '5.0' would be a false negative), and a file with a bloom but
        no stats has no domain witness, so it is kept unpruned."""
        import hashlib

        if snap is None:
            v = self.current_version()
            if v is None:
                raise FileNotFoundError(f"no published version in {self.table_dir}")
            snap = self.snapshot(v)
        stats = snap.stats or {}
        jv = _json_stat(value)
        fam = _stat_family(jv)
        probe_is_int = isinstance(value, int) and not isinstance(value, bool)
        probe_is_str = isinstance(value, str)

        def h60_py(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        # The K salted positions depend only on (value, m) — computed
        # once per distinct m, not per file. For sidecar-backed entries
        # the probe seek-reads K single BYTES per file (packed layout:
        # bit p at byte p//8, bit p%8) instead of materializing the
        # whole bitmap — O(K) I/O per overlapping file.
        pos_of_m: dict[int, list[int]] = {}

        def positions(m: int) -> list[int]:
            if m not in pos_of_m:
                pos_of_m[m] = [
                    h60_py(f"{_bloom_salt(i)}{value}") % m for i in range(BLOOM_K)
                ]
            return pos_of_m[m]

        handles: dict = {}
        kept = []
        try:
            self._point_lookup_scan(
                snap, col, stats, jv, fam, probe_is_int, probe_is_str,
                positions, handles, kept,
            )
        finally:
            _close_handles(handles)
        return kept

    def _point_lookup_scan(
        self, snap, col, stats, jv, fam, probe_is_int, probe_is_str,
        positions, handles, kept,
    ) -> None:
        """Body of ``point_lookup_files``'s planning loop, split out so
        the caller can guarantee sidecar handles close on ANY exit
        (ADVICE r9: an exception mid-scan leaked them)."""
        for f in snap.files:
            s = stats.get(f)
            if s is None:
                kept.append(f)
                continue
            smin, smax = s["min"].get(col), s["max"].get(col)
            have_stats = smin is not None and smax is not None
            if (
                have_stats
                and fam != "other"
                and _stat_family(smin) == fam
                and _stat_family(smax) == fam
                and (jv < smin or jv > smax)
            ):
                continue
            # domain witness for the bloom's string-form hashing: the
            # file's stored stats must be exactly ints (for an int
            # probe) or strs (for a str probe) — float/bool/mixed
            # domains, or no stats at all, mean no trust
            same_domain = have_stats and (
                (
                    probe_is_int
                    and isinstance(smin, int)
                    and isinstance(smax, int)
                    and not isinstance(smin, bool)
                    and not isinstance(smax, bool)
                )
                or (probe_is_str and isinstance(smin, str) and isinstance(smax, str))
            )
            bl = (s.get("bloom") or {}).get(col)
            trusted = same_domain and bl and bl.get("k") == BLOOM_K
            if trusted and bl.get("ref") and snap.manifest_dir:
                maybe = True
                try:
                    fh = handles.get(bl["ref"])
                    if fh is None:
                        fh = handles[bl["ref"]] = open(  # noqa: SIM115
                            os.path.join(snap.manifest_dir, bl["ref"]), "rb"
                        )
                    for p in positions(bl["m"]):
                        fh.seek(bl["off"] + p // 8)
                        byte = fh.read(1)
                        if not byte:
                            # short read = truncated sidecar / bad
                            # off+len metadata: degrade to KEEP, same
                            # as the lost-sidecar OSError path — a
                            # corrupt sidecar may only lose pruning,
                            # never rows (ADVICE r9)
                            break
                        if not (byte[0] >> (p % 8)) & 1:
                            maybe = False
                            break
                except OSError:
                    maybe = True  # lost sidecar -> keep the file
                if not maybe:
                    continue
            elif trusted and bl.get("bits"):
                bits, m = bl["bits"], bl["m"]
                if not all(
                    (int(bits[p // 4], 16) >> (p % 4)) & 1 for p in positions(m)
                ):
                    continue
            kept.append(f)

    def read_point(self, spark: SparkSession, col: str, value) -> DataFrame:
        """Read the current version scanning only
        ``point_lookup_files(col, value)`` — the GDPR-subject-fetch /
        primary-key-get path. Skipping is an optimization, never a
        filter: callers still apply ``col = value`` to the result.
        One snapshot fetch serves both planning and read, so a racing
        commit cannot mix file lists with another version's schema."""
        v = self.current_version()
        if v is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        snap = self.snapshot(v)
        return self._read_snapshot(
            spark, snap, files=self.point_lookup_files(col, value, snap=snap)
        )

    # -- append commit + file-level incremental read -----------------

    def append(
        self,
        df: DataFrame,
        snapshot_id: str,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m: int = BLOOM_M,
    ) -> int:
        """Append-only commit: stage ``df``'s files, then publish a new
        manifest carrying EVERY previous file by path plus the new ones
        — the daily-ingest shape. O(new data) work regardless of table
        size; idempotent per ``snapshot_id``.

        Concurrency: an append only ADDS files, so it rebases trivially
        — the previous file list is read UNDER the commit lock, making
        concurrent appends (or an append racing a rewrite commit)
        conflict-free: nobody's files are lost."""
        existing = self._find_snapshot_id(snapshot_id)
        if existing is not None:
            return existing

        spark = df.sparkSession
        staging = os.path.join(self.data_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(staging)
        try:
            staged = spark.read.parquet(staging)
            new_stats = (
                self._collect_file_stats(staged, stats_cols or [], bloom_cols, bloom_m)
                if (stats_cols or bloom_cols)
                else None
            )
            n_new = (
                sum(s["rows"] for s in new_stats.values())
                if new_stats is not None
                else staged.count()
            )
        except Exception:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        new_files = sorted(
            os.path.join(staging, f)
            for f in os.listdir(staging)
            if f.endswith(".parquet")
        )
        with self._commit_lock():
            if self._find_snapshot_id(snapshot_id) is not None:
                shutil.rmtree(staging, ignore_errors=True)
                return self._find_snapshot_id(snapshot_id)
            cur = self.current_version()
            prev = self.snapshot(cur) if cur is not None else None
            stats = None
            if new_stats is not None or (prev and prev.stats):
                stats = dict(prev.stats) if prev and prev.stats else {}
                stats.update(new_stats or {})
            return self._write_manifest_locked(
                (prev.files if prev else []) + new_files,
                (prev.n_rows if prev else 0) + n_new,
                staged.schema.simpleString(),
                snapshot_id,
                stats,
                # appended files have no deleted positions; previous
                # files keep their deletion vectors
                deletes=(prev.deletes if prev else None),
            )

    def _committed_at(self, version: int) -> float:
        try:
            with open(self._manifest_path(version), encoding="utf-8") as f:
                return float(json.load(f).get("committed_at", 0.0))
        except FileNotFoundError:
            return 0.0

    def read_asof(self, spark: SparkSession, ts: float) -> DataFrame:
        """AS OF TIMESTAMP time travel: read the newest surviving
        version committed at or before epoch-seconds ``ts`` (commit
        instants are lock-serialized and monotone). Raises if nothing
        was committed by then."""
        best = None
        for s in self.history():
            at = self._committed_at(s.version)
            if at and at <= ts:
                best = s
        if best is None:
            raise FileNotFoundError(
                f"no version committed at or before {ts} in {self.table_dir}"
            )
        return self._read_snapshot(spark, best)

    def read_incremental(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """File-level change capture: rows in files that ``to_version``
        references but ``from_version`` does not — exactly the appended
        data for append-only histories (the Iceberg incremental-scan
        shape a downstream consumer uses to process ONLY new arrivals).
        Files REWRITTEN in between (e.g. by ``delete_matching``)
        surface in full, the standard file-granular CDC caveat —
        row-exact diffs are ``snapshot_diff``'s job."""
        to_v = to_version if to_version is not None else self.current_version()
        if to_v is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        to_snap = self.snapshot(to_v)
        seen = set(self.snapshot(from_version).files) if from_version else set()
        fresh = [f for f in to_snap.files if f not in seen]
        return self._read_files(spark, fresh, to_snap.schema_ddl)

    def read_changes(
        self,
        spark: SparkSession,
        key_cols: list[str],
        from_version: int | None = None,
        to_version: int | None = None,
    ) -> DataFrame:
        """ROW-level change feed (the Delta CDF / Iceberg changelog-scan
        shape): for every commit in ``(from_version, to_version]`` emit
        the rows it inserted, deleted, or updated, tagged
        ``_change_type`` in {'insert', 'delete', 'update_preimage',
        'update_postimage'} and ``_commit_version``.

        Scale shape — the point of doing this from the manifest: a step
        v → v+1 scans ONLY the files the commit ADDED or REMOVED (plus
        carried files newly masked by a deletion-vector sidecar), never
        the carried majority — at 100 TB a single-partition commit
        diffs two file subsets, not two table snapshots. Within the
        touched files, rows rewritten verbatim (compaction, OPTIMIZE,
        the untouched rows of a copy-on-write rewrite) cancel via a
        full-outer key join whose pre/post fingerprints agree, so a
        pure re-cluster emits NO changes. ``key_cols`` must be a
        primary key per snapshot and non-NULL (the same contract as
        ``upsert_matching``); all other columns are the compared
        payload."""
        from pyspark.sql import functions as F

        hist = self.history()
        if not hist:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        lo = from_version if from_version is not None else hist[0].version
        hi = to_version if to_version is not None else hist[-1].version
        steps = [
            (a, b) for a, b in zip(hist, hist[1:]) if lo < b.version <= hi
        ]
        out: DataFrame | None = None
        for a, b in steps:
            a_set, b_set = set(a.files), set(b.files)
            added = [f for f in b.files if f not in a_set]
            removed = [f for f in a.files if f not in b_set]
            # DV delta: a sidecar added (or dropped) between the two
            # versions masks rows of CARRIED files — those files must
            # join the scan on both sides. Sidecars are O(matched
            # rows); collecting their distinct file paths is manifest-
            # planning work (O(#touched files)), not data work.
            dv_a, dv_b = set(a.deletes or []), set(b.deletes or [])
            if dv_a != dv_b:
                delta = sorted((dv_a ^ dv_b))
                masked = {
                    _norm_file_path(r[0])
                    for r in spark.read.parquet(*delta)
                    .select("_dv_file")
                    .distinct()
                    .collect()
                }
                for f in a.files:
                    if _norm_file_path(f) in masked and f not in removed and f in b_set:
                        removed.append(f)
                for f in b.files:
                    if _norm_file_path(f) in masked and f not in added and f in a_set:
                        added.append(f)
            old = self._read_snapshot(spark, a, files=removed)
            new = self._read_snapshot(spark, b, files=added)
            val_cols = [c for c in new.columns if c not in key_cols]
            fp = lambda df: F.md5(  # noqa: E731
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                        for c in val_cols
                    ],
                )
            )
            o = old.select(
                *key_cols, F.struct(*val_cols).alias("_old"), fp(old).alias("_ofp")
            )
            n = new.select(
                *key_cols, F.struct(*val_cols).alias("_new"), fp(new).alias("_nfp")
            )
            j = o.join(n, list(key_cols), "full_outer")
            ins = j.where(F.col("_ofp").isNull()).select(
                *key_cols, *[F.col(f"_new.{c}").alias(c) for c in val_cols],
                F.lit("insert").alias("_change_type"),
            )
            dele = j.where(F.col("_nfp").isNull()).select(
                *key_cols, *[F.col(f"_old.{c}").alias(c) for c in val_cols],
                F.lit("delete").alias("_change_type"),
            )
            upd = j.where(
                F.col("_ofp").isNotNull()
                & F.col("_nfp").isNotNull()
                & (F.col("_ofp") != F.col("_nfp"))
            )
            pre = upd.select(
                *key_cols, *[F.col(f"_old.{c}").alias(c) for c in val_cols],
                F.lit("update_preimage").alias("_change_type"),
            )
            post = upd.select(
                *key_cols, *[F.col(f"_new.{c}").alias(c) for c in val_cols],
                F.lit("update_postimage").alias("_change_type"),
            )
            step = (
                ins.unionByName(dele).unionByName(pre).unionByName(post)
            ).withColumn("_commit_version", F.lit(b.version).cast("long"))
            out = step if out is None else out.unionByName(step)
        if out is None:  # empty range: typed empty frame
            snap = hist[-1]
            empty = spark.createDataFrame([], snap.schema_ddl)
            return empty.withColumn(
                "_change_type", F.lit("")
            ).withColumn("_commit_version", F.lit(0).cast("long"))
        return out

    def metadata_agg(
        self, spark: SparkSession, cols: list[str], version: int | None = None
    ) -> DataFrame:
        """COUNT(*) / MIN / MAX answered from the MANIFEST ALONE — zero
        data files opened (the Iceberg metadata-table / Delta
        stats-based-query shortcut): the driver folds O(#files) stats
        entries; at 100 TB that is a KB-scale JSON walk instead of a
        table scan. Honest-boundary conditions, each raising
        ``ValueError``: every file must carry min/max for every
        requested column in an EXACT stat family (int or str — floats
        may be decimal bounds widened outward at publish, so their
        extremes are enclosing, not exact), no file may have NULL
        bounds with rows present (an all-NULL file's min is None —
        indistinguishable from unrecorded), and the snapshot must carry
        no deletion vectors (a DV-masked row could BE the extreme, so a
        MoR snapshot must scan). Returns one row: n_rows plus
        min_/max_ per column."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        snap = self.snapshot(v)
        if snap.deletes:
            raise ValueError("metadata_agg on a snapshot with deletion vectors")
        if snap.files and snap.stats is None:
            raise ValueError("snapshot published without stats_cols")
        n_rows, mins, maxs = 0, {c: [] for c in cols}, {c: [] for c in cols}
        for f in snap.files:
            ent = (snap.stats or {}).get(_norm_file_path(f))
            if ent is None:
                # zero-row part files produce no stats group at publish
                # (an empty-table commit); a file WITH rows always has
                # an entry when stats were recorded
                continue
            n_rows += ent["rows"]
            if not ent["rows"]:
                continue
            for c in cols:
                lo, hi = ent["min"].get(c), ent["max"].get(c)
                if lo is None or hi is None:
                    raise ValueError(f"column {c} lacks exact bounds in {f}")
                for val in (lo, hi):
                    if isinstance(val, bool) or not isinstance(val, (int, str)):
                        raise ValueError(
                            f"column {c} stats family is not exact (int/str)"
                        )
                mins[c].append(lo)
                maxs[c].append(hi)
        if n_rows != snap.n_rows:
            # some row-bearing file has no stats entry (e.g. a later
            # append committed without stats_cols) — metadata cannot
            # answer exactly; the mismatch against the manifest's own
            # row total makes the hole detectable instead of silent
            raise ValueError(
                f"stats cover {n_rows} rows but the manifest records "
                f"{snap.n_rows} — a file lacks stats"
            )
        names, vals, ddl = ["n_rows"], [n_rows], ["n_rows long"]
        for c in cols:
            lo = min(mins[c]) if mins[c] else None
            hi = max(maxs[c]) if maxs[c] else None
            t = "string" if isinstance(lo, str) else "long"
            names += [f"min_{c}", f"max_{c}"]
            vals += [lo, hi]
            ddl += [f"min_{c} {t}", f"max_{c} {t}"]
        from tinymapreduce_spark.sources.loaders import local_literal_frame

        return local_literal_frame(spark, [tuple(vals)], ", ".join(ddl))

    # -- OPTIMIZE: re-cluster the current version --------------------

    def optimize(
        self,
        spark: SparkSession,
        cluster_col: str,
        snapshot_id: str,
        n_files: int = 8,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_m: int = BLOOM_M,
    ) -> int:
        """OPTIMIZE (re-cluster): rewrite the CURRENT version into
        ``n_files`` range-clustered files on ``cluster_col`` and commit
        as a new version — turning a table whose per-file ranges all
        overlap (hash-partitioned ingest, trickle appends) into one
        where ``read_pruned``/``delete_matching`` actually skip. Old
        versions stay readable until expired (time travel across the
        rewrite); content is untouched, only layout changes. The
        Delta OPTIMIZE ZORDER / Iceberg rewrite_data_files maintenance
        shape. Idempotent per ``snapshot_id``; a commit racing past its
        snapshot read triggers the validate-and-retry loop (the rewrite
        re-reads the new current)."""

        def once() -> int:
            existing = self._find_snapshot_id(snapshot_id)
            if existing is not None:
                return existing
            cur = self.current_version()
            clustered = self.read(spark).repartitionByRange(n_files, cluster_col)
            return self.publish(
                clustered,
                snapshot_id,
                stats_cols=stats_cols or [cluster_col],
                base_version=cur,
                bloom_cols=bloom_cols,
                bloom_m=bloom_m,
            )

        return self._retry_rmw(once)

    # -- copy-on-write MERGE (upsert) --------------------------------

    def upsert_matching(
        self, spark: SparkSession, key_col: str, new_rows: DataFrame, snapshot_id: str
    ) -> int:
        """Copy-on-write MERGE in ONE atomic commit: rows whose
        ``key_col`` appears in ``new_rows`` are replaced, absent keys
        are inserted. Files whose key range can contain no incoming key
        carry over by path; only intersecting files are re-read,
        anti-filtered, unioned with the new rows, re-clustered, and
        staged — then a single pointer flip publishes everything
        (readers see the whole MERGE or none of it, the Iceberg/Delta
        MERGE visibility contract). O(matching files + new rows), not
        O(table). Idempotent per ``snapshot_id``.

        Read-modify-write: if another writer commits between this
        writer's snapshot read and its pointer flip, the commit raises
        CommitConflict internally and the WHOLE derivation retries
        against the new current — the Iceberg validate-and-retry loop
        (lost updates are impossible; see the concurrent-mixed-commit
        test)."""
        return self._retry_rmw(
            lambda: self._upsert_once(spark, key_col, new_rows, snapshot_id)
        )

    def apply_changes(
        self,
        spark: SparkSession,
        key_col: str,
        changes: DataFrame,
        snapshot_id: str,
        op_col: str = "op",
    ) -> int:
        """MERGE **with deletes** in ONE atomic commit — the CDC-apply
        shape (Delta's ``WHEN MATCHED AND op = 'D' THEN DELETE`` /
        DLT's APPLY CHANGES INTO): every change row's key is matched
        out of the table, and only rows whose ``op_col`` is not ``'D'``
        are re-inserted — so a 'D' row deletes, anything else upserts,
        and one pointer flip publishes the whole batch (readers see all
        of it or none). Routes through the same join-based copy-on-write
        core as upsert/delete: file pruning by stats×keys semi-join,
        LEFT ANTI row match, no driver-side key materialization.
        NULL ``op_col`` rows count as upserts; NULL keys follow the
        MERGE contract (match nothing; non-delete NULL-key rows are
        pure inserts). Idempotent per ``snapshot_id``; RMW conflicts
        retry like ``upsert_matching``."""
        from pyspark.sql import functions as F

        keys = changes.select(key_col)
        new_rows = changes.where(
            F.coalesce(F.col(op_col) != "D", F.lit(True))
        ).drop(op_col)
        return self._retry_rmw(
            lambda: self._rewrite_once(
                spark, key_col, keys, snapshot_id, new_rows=new_rows
            )
        )

    def _retry_rmw(self, attempt, tries: int = 5) -> int:
        last: Exception | None = None
        for _ in range(tries):
            try:
                return attempt()
            except CommitConflict as e:
                last = e
        raise last  # type: ignore[misc]

    def _upsert_once(
        self, spark: SparkSession, key_col: str, new_rows: DataFrame, snapshot_id: str
    ) -> int:
        return self._rewrite_once(
            spark, key_col, new_rows.select(key_col), snapshot_id, new_rows=new_rows
        )

    def _rewrite_once(
        self,
        spark: SparkSession,
        key_col: str,
        keys_df: DataFrame,
        snapshot_id: str,
        new_rows: DataFrame | None = None,
    ) -> int:
        """Shared copy-on-write core for MERGE (``new_rows`` given) and
        DELETE (``new_rows`` None). The matched-key set stays a
        DataFrame end to end: file pruning is a stats×keys semi-join
        (``_split_files_by_key_frame``) and the row-level match is a
        LEFT ANTI equi-join — the driver never materializes keys, so a
        MERGE batch of 10⁸ keys is just another shuffle. Catalyst/AQE
        picks broadcast vs shuffle for the anti-join from the key
        frame's actual size.

        NULL semantics follow Iceberg/Delta MERGE/DELETE: a NULL key
        never matches anything (SQL equality), so existing NULL-key rows
        are preserved by the anti-join, NULL-key ``new_rows`` are pure
        inserts, and NULL entries in a delete key set are ignored."""
        from pyspark.sql import functions as F

        existing = self._find_snapshot_id(snapshot_id)
        if existing is not None:
            return existing
        cur = self.current_version()
        if cur is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        snap = self.snapshot(cur)
        if snap.deletes:
            # Copy-on-write planning reads files raw and carries
            # untouched files by path; outstanding deletion vectors
            # would resurrect deleted rows. Materialize them first —
            # optimize() reads DV-aware and publishes a DV-free version.
            raise ValueError(
                "table has outstanding deletion vectors; run optimize() "
                "to materialize them before copy-on-write MERGE/DELETE"
            )

        nn_keys = keys_df.where(F.col(key_col).isNotNull())
        n_keys, has_null_inserts, untouched, candidates = _plan_candidates(
            spark, snap, key_col, keys_df, new_rows
        )
        if n_keys == 0 and not has_null_inserts:
            return cur  # nothing matches / nothing to insert
        stats = snap.stats or {}

        remaining = (
            self._read_files(spark, candidates, snap.schema_ddl).join(
                nn_keys, on=key_col, how="left_anti"
            )
            if candidates
            else None
        )
        if new_rows is not None:
            rewritten = (
                remaining.unionByName(new_rows) if remaining is not None else new_rows
            )
            n_out = max(1, len(candidates) + 1)
        elif remaining is not None:
            rewritten = remaining
            n_out = max(1, len(candidates))
        else:
            rewritten = None
            n_out = 0

        new_files: list[str] = []
        restats: dict = {}
        staging = None
        if rewritten is not None:
            staging = os.path.join(
                self.data_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}"
            )
            rewritten.repartitionByRange(n_out, key_col).write.mode(
                "errorifexists"
            ).parquet(staging)
            new_files = sorted(
                os.path.join(staging, f)
                for f in os.listdir(staging)
                if f.endswith(".parquet")
            )
            stat_cols = (
                list(next(iter(stats.values()))["min"]) if stats else [key_col]
            )
            # rewritten files must keep the table's bloom sidecars too,
            # or one MERGE would silently degrade every later
            # MERGE/DELETE on those files to range-only pruning
            bloom_m_of: dict[str, int] = {}
            for s in stats.values():
                for c, b in (s.get("bloom") or {}).items():
                    bloom_m_of.setdefault(c, b["m"])
            try:
                if new_files:
                    restats = None
                    if not bloom_m_of:
                        # driver-side footer fast path (exact for plain
                        # int/float columns; None -> Spark pass below)
                        restats = _footer_file_stats(new_files, stat_cols)
                    if restats is None:
                        # one stats pass + one stacked bloom pass over the
                        # rewritten files, regardless of bloom column count
                        staged_read = spark.read.parquet(*new_files)
                        restats = self._collect_file_stats(
                            staged_read, stat_cols, sorted(bloom_m_of), bloom_m_of
                        )
                else:
                    restats = {}
            except Exception:
                shutil.rmtree(staging, ignore_errors=True)
                raise
        untouched_rows = sum(stats[f]["rows"] for f in untouched if f in stats)
        new_stats = None
        if stats:
            new_stats = {f: stats[f] for f in untouched if f in stats}
            new_stats.update(restats)
        try:
            committed = self._commit(
                sorted(untouched + new_files),
                untouched_rows + sum(s["rows"] for s in restats.values()),
                snap.schema_ddl,
                snapshot_id,
                new_stats,
                base_version=cur,
            )
        except CommitConflict:
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)
            raise
        if committed is None:
            if staging is not None:
                shutil.rmtree(staging, ignore_errors=True)
            return self._find_snapshot_id(snapshot_id)
        return committed

    # -- copy-on-write row-level delete ------------------------------

    def delete_matching(
        self, spark: SparkSession, key_col: str, keys: list, snapshot_id: str
    ) -> int:
        """Targeted row-level delete (GDPR erasure / CDC retraction) as a
        copy-on-write commit: files whose [min, max] range for
        ``key_col`` cannot contain any key are carried into the new
        manifest VERBATIM (no read, no write); only intersecting files
        are re-read, anti-filtered, and rewritten. With the table
        range-clustered on the key, a delete touches O(matching files),
        not O(table) — the Iceberg/Delta copy-on-write DELETE shape.

        ``keys`` is a convenience list form (erasure requests); it is
        lifted into a single-column DataFrame typed from the table
        schema and routed through the same join-based core as
        ``delete_by_frame`` — use that directly when the key set is
        itself a table. NULL entries are ignored (SQL equality: a NULL
        key matches nothing, the Iceberg/Delta DELETE contract).
        Idempotent per ``snapshot_id``. Returns the committed (or
        existing) version. Read-modify-write conflicts retry like
        ``upsert_matching``.
        """
        nn = [k for k in set(keys) if k is not None]

        def once() -> int:
            existing = self._find_snapshot_id(snapshot_id)
            if existing is not None:
                return existing
            cur = self.current_version()
            if cur is None:
                raise FileNotFoundError(f"no published version in {self.table_dir}")
            if not nn:
                return cur  # nothing to delete; current version serves it
            snap = self.snapshot(cur)
            key_type = (
                spark.createDataFrame([], snap.schema_ddl).schema[key_col].dataType
            )
            from pyspark.sql.types import StructField, StructType

            keys_df = spark.createDataFrame(
                [(k,) for k in nn], StructType([StructField(key_col, key_type)])
            )
            return self._rewrite_once(spark, key_col, keys_df, snapshot_id)

        return self._retry_rmw(once)

    def delete_by_frame(
        self, spark: SparkSession, key_col: str, keys_df: DataFrame, snapshot_id: str
    ) -> int:
        """Row-level DELETE whose key set is a DataFrame — the scale
        path for erase sets beyond driver memory (a MERGE-sized CDC
        retraction batch, "delete every customer in this segment").
        File pruning is a stats×keys semi-join and the row match a LEFT
        ANTI join; no key ever reaches the driver. Same atomicity /
        idempotency / retry contract as ``delete_matching``."""
        return self._retry_rmw(
            lambda: self._rewrite_once(
                spark, key_col, keys_df.select(key_col), snapshot_id
            )
        )

    # -- merge-on-read row-level delete (deletion vectors) -----------

    def delete_matching_mor(
        self, spark: SparkSession, key_col: str, keys_df: DataFrame, snapshot_id: str
    ) -> int:
        """Merge-on-read DELETE: instead of rewriting matched files
        (``delete_matching``'s copy-on-write), record the matched row
        POSITIONS in a deletion-vector sidecar and commit a manifest
        carrying the SAME data files plus the DV — the Delta
        deletion-vectors / Iceberg positional-delete shape. The write
        is O(matched rows) regardless of file sizes, which is why
        engines choose it when deletes are small and frequent; the
        read pays the DV anti-join instead (``_read_snapshot``), and
        ``optimize()`` materializes outstanding DVs back into clean
        files. File pruning reuses the stats×keys semi-join, NULL keys
        never match (SQL equality), positions already deleted are never
        recorded twice (so visible-row accounting stays exact), and a
        no-match delete commits nothing. Idempotent per snapshot_id;
        validate-and-retry under racing commits."""
        from pyspark.sql import functions as F

        existing = self._find_snapshot_id(snapshot_id)
        if existing is not None:
            return existing

        def once() -> int:
            cur = self.current_version()
            if cur is None:
                raise FileNotFoundError(f"no published version in {self.table_dir}")
            snap = self.snapshot(cur)
            nn_keys = keys_df.where(F.col(key_col).isNotNull())
            n_keys, _nulls, untouched, candidates = _plan_candidates(
                spark, snap, key_col, keys_df
            )
            if n_keys == 0 or not candidates:
                return cur
            matched = (
                self._read_files(spark, candidates, snap.schema_ddl)
                .select(
                    F.col(key_col).alias("_k"),
                    F.col("_metadata.file_path").alias("_dv_file"),
                    F.col("_metadata.row_index").alias("_dv_pos"),
                )
                .join(
                    nn_keys.select(F.col(key_col).alias("_k")).distinct(),
                    "_k",
                    "left_semi",
                )
                .select("_dv_file", "_dv_pos")
            )
            if snap.deletes:  # never record a position twice
                matched = matched.join(
                    spark.read.parquet(*snap.deletes),
                    ["_dv_file", "_dv_pos"],
                    "left_anti",
                )
            dv_dir = os.path.join(
                self.data_dir, f"dv-{snapshot_id}-{uuid.uuid4().hex[:8]}"
            )
            matched.repartition(1).write.mode("errorifexists").parquet(dv_dir)
            # written-DV count from the parquet footers (what was
            # actually written), driver-side — same authority as a
            # count() job without paying one per micro-batch
            import pyarrow.parquet as pq

            n_del = sum(
                pq.ParquetFile(os.path.join(dv_dir, f)).metadata.num_rows
                for f in os.listdir(dv_dir)
                if f.endswith(".parquet")
            )
            if n_del == 0:
                shutil.rmtree(dv_dir, ignore_errors=True)
                return cur
            try:
                committed = self._commit(
                    list(snap.files),
                    snap.n_rows - n_del,
                    snap.schema_ddl,
                    snapshot_id,
                    snap.stats,  # per-file bounds stay valid supersets
                    base_version=cur,
                    deletes=(snap.deletes or []) + [dv_dir],
                )
            except CommitConflict:
                shutil.rmtree(dv_dir, ignore_errors=True)
                raise
            if committed is None:
                shutil.rmtree(dv_dir, ignore_errors=True)
                return self._find_snapshot_id(snapshot_id)
            return committed

        return self._retry_rmw(once)

    def read_history_harmonized(self, spark: SparkSession) -> DataFrame:
        """Every surviving version unioned under schema evolution:
        columns added in later snapshots read as NULL for earlier ones
        (unionByName with allowMissingColumns — the add-column-with-
        null-default read semantics of evolving table formats). A
        ``_version`` column tags provenance. Each snapshot's own schema
        stays recorded verbatim in its manifest (``schema_ddl``)."""
        from pyspark.sql import functions as F

        out = None
        for snap in self.history():
            df = self.read(spark, snap.version).withColumn(
                "_version", F.lit(snap.version)
            )
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        if out is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        return out


    # -- lifecycle maintenance ---------------------------------------

    # -- named refs (Iceberg tags): version names + retention pins ----

    def _refs_path(self) -> str:
        return os.path.join(self.manifest_dir, "_refs.json")

    def refs(self) -> dict[str, int]:
        try:
            with open(self._refs_path(), encoding="utf-8") as f:
                return {k: int(v) for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def tag(self, name: str, version: int | None = None) -> int:
        """Name a version (Iceberg tag): an IMMUTABLE ref — re-tagging
        an existing name to a different version raises (delete first).
        Tagged versions are protected from ``expire_snapshots``, so a
        tag is also a retention pin ('the v2026-08 training snapshot'
        stays time-travelable however far the table advances). Written
        under the commit lock; readable via ``read_tag``."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise FileNotFoundError(f"no published version in {self.table_dir}")
        if not os.path.exists(self._manifest_path(v)):
            raise FileNotFoundError(f"version {v} is not readable")
        with self._commit_lock():
            refs = self.refs()
            if name in refs and refs[name] != v:
                raise ValueError(f"tag {name!r} already names v{refs[name]}")
            refs[name] = v
            tmp = self._refs_path() + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(refs, f, indent=1)
            os.replace(tmp, self._refs_path())
        return v

    def drop_tag(self, name: str) -> None:
        with self._commit_lock():
            refs = self.refs()
            refs.pop(name, None)
            tmp = self._refs_path() + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(refs, f, indent=1)
            os.replace(tmp, self._refs_path())

    def read_tag(self, spark: SparkSession, name: str) -> DataFrame:
        refs = self.refs()
        if name not in refs:
            raise FileNotFoundError(f"no tag {name!r} in {self.table_dir}")
        return self.read(spark, version=refs[name])

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Expire all but the newest ``keep_last`` versions: their
        manifests are deleted so the versions stop being readable
        (the current pointer is untouched — it is always among the
        kept). TAGGED versions are never expired (a tag is a retention
        pin — drop the tag to release it). Returns the expired version
        numbers. Data files are NOT touched here; ``vacuum`` reclaims
        files no kept manifest references — the Iceberg
        expire-snapshots / remove-orphan-files split, so a reader
        mid-query on a kept version never loses files."""
        cur = self.current_version()
        if cur is None:
            return []
        pinned = set(self.refs().values())
        expired = [
            v for v in range(1, cur + 1) if v <= cur - keep_last and v not in pinned
        ]
        for v in expired:
            try:
                os.remove(self._manifest_path(v))
            except FileNotFoundError:
                pass
        return expired

    def vacuum(self) -> list[str]:
        """Delete data directories no surviving manifest references
        (expired snapshots' files + crashed writers' orphans), plus
        bloom sidecar .bin files no surviving manifest names (expired
        versions' sidecars + crashed commits' orphans). Returns the
        removed paths.

        Runs under the commit lock (ADVICE r9): concurrent with an
        in-flight commit, an unlocked vacuum could delete the commit's
        just-written ``blooms-*.bin`` (or staged data) in the window
        between the sidecar write and the manifest that references it,
        leaving that version's refs permanently unresolvable. The lock
        serializes vacuum's LIVE-SET SNAPSHOT + removal-list walk
        against the manifest write + pointer flip; a racing committer
        waits (or times out with ``TimeoutError``, ``_commit_lock``'s
        contention signal) the same way two committers already do.

        The deletions themselves run AFTER the lock is released
        (ADVICE r10 #3 — a large delete pass inside the critical
        section could starve committers into their 30 s timeout): the
        removal list is dead by construction once computed under the
        lock, because every commit stages into a fresh
        ``snap-<id>-<uuid>`` dir and writes a fresh
        ``blooms-<version>-<uuid>.bin`` — no commit ever references a
        pre-existing unreferenced path, so nothing on the list can
        become live afterwards. (Unchanged contract: a writer whose
        pre-lock STAGING overlaps vacuum loses its staged dir as an
        indistinguishable orphan — don't vacuum concurrently with
        in-flight publishes.)"""
        with self._commit_lock():
            doomed = self._vacuum_collect_locked()
        removed = []
        for full in doomed:
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
            else:
                try:
                    os.remove(full)
                    removed.append(full)
                except FileNotFoundError:
                    pass
        return removed

    def _vacuum_collect_locked(self) -> list[str]:
        live: set[str] = set()
        live_refs: set[str] = set()
        cur = self.current_version()
        for v in range(1, (cur or 0) + 1):
            try:
                snap = self.snapshot(v)
            except FileNotFoundError:
                continue
            for f in snap.files:
                live.add(os.path.dirname(f))
            for d in snap.deletes or []:  # DV sidecars are live data too
                live.add(d)
            for s in (snap.stats or {}).values():
                for bl in (s.get("bloom") or {}).values():
                    if bl.get("ref"):
                        live_refs.add(bl["ref"])
        doomed = []
        for d in sorted(os.listdir(self.data_dir)):
            full = os.path.join(self.data_dir, d)
            if full not in live:
                doomed.append(full)
        for name in sorted(os.listdir(self.manifest_dir)):
            if (
                name.startswith("blooms-")
                and name.endswith(".bin")
                and name not in live_refs
            ):
                doomed.append(os.path.join(self.manifest_dir, name))
        return doomed

def manifest_wap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query exercising the whole WAP protocol in one pass:
    publish the slim lineitem projection, abort an audit-failing empty
    snapshot (readers must stay on v1), re-publish the same snapshot_id
    (idempotent no-op), then aggregate the CURRENT version. Must equal
    the same aggregate over the original parquet (shared oracle with the
    csv/orc round-trips)."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"wap_lineitem_{tag}_{_src_fp(sf_dir, 'lineitem')}"))

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
    )
    v1 = table.publish(li, snapshot_id="base", audit=lambda d: None if d.count() > 0 else "empty")
    try:
        table.publish(
            li.limit(0), snapshot_id="broken", audit=lambda d: None if d.count() > 0 else "empty"
        )
    except AuditError:
        pass
    assert table.publish(li, snapshot_id="base") == v1  # idempotent re-run

    back = table.read(spark)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


def manifest_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel as a driver-checked query: day-1 publishes a partial
    load (orderkey % 3 != 0), day-2 publishes the full table; the query
    reads EVERY surviving version through the harmonized-history API
    and aggregates per version — so the oracle independently checks
    that version 1 still serves exactly the day-1 rows after version 2
    committed (reader isolation), and version 2 the full table.
    Re-runs are no-ops (snapshot-id idempotence), so the version
    numbering is stable across invocations."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"tt_lineitem_{tag}_{_src_fp(sf_dir, 'lineitem')}"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_orderkey"
    )
    table.publish(li.where("l_orderkey % 3 != 0"), snapshot_id="day1")
    table.publish(li, snapshot_id="day2")

    hist = table.read_history_harmonized(spark)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return hist.groupBy(F.col("_version").cast("long").alias("version")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_extendedprice") * (1 - dec("l_discount"))).cast("double").alias("revenue"),
    )


def manifest_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level data skipping as a driver query: publish orders
    range-clustered on o_orderdate with per-file min/max stats, then
    answer a one-year slice reading ONLY the files whose recorded range
    intersects it (``read_pruned``) — the residual predicate still
    applies, so pruning is a pure optimization. The pytest companion
    asserts the pruned file list is a strict subset; the oracle checks
    the answer equals a plain filtered scan. This is the Iceberg/Delta
    scan-planning shape: at 100 TB the driver consults O(#files)
    manifest entries instead of opening every footer."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"skip_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    table.publish(
        orders.repartitionByRange(8, "o_orderdate"),
        snapshot_id="base",
        stats_cols=["o_orderdate"],
    )
    lo, hi = "1997-01-01", "1998-01-01"
    pruned = table.read_pruned(spark, "o_orderdate", lo, hi)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        pruned.where(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


MANIFEST_SKIP_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderpriority
"""


def manifest_append_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption off the manifest log: day-1 publishes
    orders before 1999, day-2 APPENDS the rest (previous files carried
    by path — O(new data) commit), and the query reads ONLY the files
    added between v1 and v2 (``read_incremental``). The oracle checks
    that slice equals the day-2 rows exactly — the process-only-new-
    arrivals contract a downstream consumer relies on at 100 TB, where
    re-scanning the table per ingest cycle is not an option."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"inc_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    cut = F.lit("1999-01-01").cast("timestamp")
    table.publish(
        orders.where(F.col("o_orderdate") < cut).repartitionByRange(4, "o_orderdate"),
        snapshot_id="day1",
        stats_cols=["o_orderdate"],
    )
    table.append(
        orders.where(F.col("o_orderdate") >= cut).repartitionByRange(4, "o_orderdate"),
        snapshot_id="day2",
        stats_cols=["o_orderdate"],
    )
    inc = table.read_incremental(spark, from_version=1)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return inc.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).cast("double").alias("total"),
    )


MANIFEST_INCREMENTAL_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1999-01-01'
GROUP BY o_orderpriority
"""


def manifest_expire_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention lifecycle as a driver-checked query — the Iceberg
    expire-snapshots / remove-orphan-files split that completes the
    table-maintenance story (publish → append → OPTIMIZE → expire →
    vacuum): day-1 publishes orders before 1997, day-2 appends the
    1997 slice, OPTIMIZE compacts the table into fresh range-clustered
    files, ``expire_snapshots(keep_last=1)`` drops the pre-compaction
    versions and ``vacuum`` physically deletes the data directories no
    surviving manifest references. The query then aggregates the
    CURRENT version — which proves the one claim that matters: vacuum
    removed ONLY unreferenced files, because if it had touched a live
    one the post-vacuum read would lose rows and the oracle hash would
    flip. ``n_readable`` carries the retention contract (exactly
    keep_last versions remain time-travelable).

    Re-run safety: snapshot-id no-ops are NOT enough here, because
    expiry removes ids from the very history they are checked against
    — on a cached table the 3rd run would find "day2" (the surviving
    snapshot) but not "day1"/"compact", re-publish day1 alone, no-op
    the append, and compact a day1-only table (a real bug caught by
    repeated in-session runs). The whole build is therefore guarded by
    a done-marker: it executes once per cached table lifetime and
    every later invocation goes straight to the read.

    At 100 TB this is the maintenance job that keeps a manifest table
    from accreting forever: expiry is O(#versions) metadata deletes,
    vacuum is an O(#dirs) listing diff against the union of kept
    manifests — neither reads data."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"ret_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    marker = os.path.join(table.table_dir, "_lifecycle_done")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
        )
        d97 = F.lit("1997-01-01").cast("timestamp")
        d98 = F.lit("1998-01-01").cast("timestamp")
        table.publish(
            orders.where(F.col("o_orderdate") < d97).repartitionByRange(4, "o_orderdate"),
            snapshot_id="day1",
            stats_cols=["o_orderdate"],
        )
        table.append(
            orders.where((F.col("o_orderdate") >= d97) & (F.col("o_orderdate") < d98))
            .repartitionByRange(4, "o_orderdate"),
            snapshot_id="day2",
            stats_cols=["o_orderdate"],
        )
        table.optimize(spark, "o_orderdate", snapshot_id="compact", n_files=8)
        table.expire_snapshots(keep_last=1)
        table.vacuum()
        with open(marker, "w") as fh:
            fh.write("ok")

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        table.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
        .withColumn("n_readable", F.lit(len(table.history())).cast("long"))
    )


MANIFEST_EXPIRE_VACUUM_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(1 AS BIGINT) AS n_readable
FROM orders
WHERE o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_orderpriority
"""


def manifest_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE as a driver-checked query — the other side
    of the lakehouse write-amplification trade (``manifest_delete_rewrite``
    is the copy-on-write side): two successive deletion-vector commits
    (orderkey % 7, then % 11 — overlapping keys, so the
    never-record-twice rule is exercised) leave every base data file
    byte-identical on disk and subtract the matched positions at scan
    time. The query aggregates the DV-read CURRENT version; the oracle
    replays both predicates over the raw table, so a DV that dropped
    the wrong position — or a reader that missed a sidecar — flips the
    hash. The companion pytest pins the mechanism claims: base files
    untouched, O(matched) sidecar bytes, optimize() materializes DVs
    away, copy-on-write refuses to run over outstanding DVs.

    At 100 TB merge-on-read is what makes small frequent deletes
    affordable: a GDPR erasure of 10^4 rows writes KBs of positions
    instead of rewriting TB-scale files, and compaction amortizes the
    read-side join away on its own schedule."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"mor_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    table.publish(
        orders.repartitionByRange(8, "o_orderkey"),
        snapshot_id="base",
        stats_cols=["o_orderkey"],
    )
    table.delete_matching_mor(
        spark,
        "o_orderkey",
        orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        snapshot_id="dv1",
    )
    table.delete_matching_mor(
        spark,
        "o_orderkey",
        orders.where(F.col("o_orderkey") % 11 == 3).select("o_orderkey"),
        snapshot_id="dv2",
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        table.read(spark)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


MANIFEST_MOR_SQL = """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE NOT (o_orderkey % 7 = 0 OR o_orderkey % 11 = 3)
GROUP BY o_orderpriority
"""


def manifest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-COLUMN schema evolution as a driver-checked query: day-1
    publishes orders WITHOUT the priority column, day-2 publishes the
    widened schema (the add-column migration). Each snapshot records
    its own schema verbatim (``schema_ddl``), and the harmonized
    history read unions the versions with the missing column as NULL —
    the evolving-table read semantics of Iceberg/Delta (new columns are
    NULL for data written before they existed). The oracle replays both
    versions' aggregates, including the NULL-vs-populated split of the
    evolved column, so a reader that misattributed the new column to
    old rows (or dropped old rows for lacking it) flips the hash.

    At 100 TB schema evolution is a metadata-only operation — no file
    is rewritten when a column is added; the cost is exactly this NULL
    harmonization at read time."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"evo_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    table.publish(
        orders.select("o_orderkey", "o_totalprice"), snapshot_id="narrow"
    )
    table.publish(orders, snapshot_id="widened")

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    hist = table.read_history_harmonized(spark)
    return hist.groupBy(F.col("_version").cast("long").alias("version")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderpriority").alias("n_with_priority"),
        F.count_distinct("o_orderpriority").alias("n_priorities"),
        F.sum(dec("o_totalprice")).cast("double").alias("total"),
    )


MANIFEST_SCHEMA_EVOLUTION_SQL = """
SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
       CAST(0 AS BIGINT) AS n_with_priority,
       CAST(0 AS BIGINT) AS n_priorities,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
UNION ALL
SELECT CAST(2 AS BIGINT) AS version, COUNT(*) AS n,
       COUNT(o_orderpriority) AS n_with_priority,
       COUNT(DISTINCT o_orderpriority) AS n_priorities,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
"""


def manifest_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE as a driver query: orders land HASH-partitioned (every
    file spans the full date range — the trickle-ingest layout where
    stats prune nothing), then one ``optimize`` commit re-clusters on
    o_orderdate; the same 1997 slice is answered from the optimized
    version via ``read_pruned``. Shares MANIFEST_SKIP_SQL — layout
    changes, content doesn't. The pytest companion asserts pruning was
    USELESS before (keeps every file) and strict-subset after."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"opt_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice"
    )
    table.publish(
        orders.repartition(8, "o_orderkey"),  # hash layout: ranges all overlap
        snapshot_id="ingested",
        stats_cols=["o_orderdate"],
    )
    table.optimize(spark, "o_orderdate", snapshot_id="optimize-1", n_files=8)

    lo, hi = "1997-01-01", "1998-01-01"
    pruned = table.read_pruned(spark, "o_orderdate", lo, hi)
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        pruned.where(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


def manifest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable MERGE as a driver query: publish orders clustered on
    o_orderkey, then one copy-on-write upsert commit that (a) doubles
    o_totalprice for every order of custkeys divisible by 97 (match ->
    update) and (b) inserts a mirror row with the negated orderkey for
    each (no match -> insert). Aggregating the CURRENT version must
    equal the oracle's CASE + UNION ALL reconstruction. Doubling a
    double is exact (power-of-two scale), so values hash-check.
    ``plans/maintenance.py::merge_upsert`` is the logical MERGE on
    DataFrames; this is the same semantics committed atomically to the
    versioned table with file-level pruning."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"ups_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    table.publish(
        orders.repartitionByRange(8, "o_orderkey"),
        snapshot_id="base",
        stats_cols=["o_orderkey"],
    )
    updates = orders.where("o_custkey % 97 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    inserts = updates.withColumn("o_orderkey", -F.col("o_orderkey"))
    table.upsert_matching(
        spark, "o_orderkey", updates.unionByName(inserts), snapshot_id="merge-1"
    )

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        table.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


MANIFEST_UPSERT_SQL = """
WITH final AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_custkey % 97 = 0 THEN o_totalprice * 2 ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, o_totalprice * 2
  FROM orders WHERE o_custkey % 97 = 0
)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM final GROUP BY o_orderstatus
"""


def cdc_change_feed(orders: DataFrame) -> DataFrame:
    """The deterministic CDC change set shared by
    ``manifest_apply_changes`` and its streaming twin
    ``streaming.sinks.stream_cdc_apply_changes`` — both are
    hash-checked against MANIFEST_APPLY_CHANGES_SQL, so the op-class
    predicates must live in exactly one place. Disjoint classes keyed
    on o_custkey (13 -> 'D' deletes; else 7 -> 'U' price doubled,
    exact for doubles; else 11 -> 'I' inserts under the negated
    orderkey) make the final state order-independent."""
    import pyspark.sql.functions as F

    is_d = F.col("o_custkey") % 13 == 0
    is_u = (~is_d) & (F.col("o_custkey") % 7 == 0)
    is_i = (~is_d) & (F.col("o_custkey") % 7 != 0) & (F.col("o_custkey") % 11 == 0)
    deletes = orders.where(is_d).withColumn("op", F.lit("D"))
    updates = (
        orders.where(is_u)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("op", F.lit("U"))
    )
    inserts = (
        orders.where(is_i)
        .withColumn("o_orderkey", -F.col("o_orderkey"))
        .withColumn("op", F.lit("I"))
    )
    return deletes.unionByName(updates).unionByName(inserts)


def manifest_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — MERGE WITH DELETES in one atomic commit — as a
    driver query: publish orders clustered on o_orderkey, build a
    change set with disjoint op classes (custkey % 13 == 0 -> 'D'
    deletes; else % 7 == 0 -> 'U' price doubled; else % 11 == 0 ->
    'I' inserts under the negated orderkey), apply it through
    ``ManifestTable.apply_changes``, and aggregate the CURRENT
    version. The oracle reconstructs the final state with the same
    class predicates (doubling a double is exact). A second
    ``apply_changes`` with the same snapshot id inside the query
    proves the idempotent no-op path on the delete-bearing commit."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(
        os.path.join(SCRATCH, f"cdc_orders_{tag}_{_src_fp(sf_dir, 'orders')}")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    table.publish(
        orders.repartitionByRange(8, "o_orderkey"),
        snapshot_id="base",
        stats_cols=["o_orderkey"],
    )
    changes = cdc_change_feed(orders)
    v = table.apply_changes(spark, "o_orderkey", changes, snapshot_id="cdc-batch")
    # replayed delivery of the same batch must be the no-op path
    assert table.apply_changes(spark, "o_orderkey", changes, snapshot_id="cdc-batch") == v

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        table.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


MANIFEST_APPLY_CHANGES_SQL = """
WITH final AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_custkey % 7 = 0 THEN o_totalprice * 2
              ELSE o_totalprice END AS p
  FROM orders
  WHERE o_custkey % 13 <> 0
  UNION ALL
  SELECT -o_orderkey, o_orderstatus, o_totalprice
  FROM orders
  WHERE o_custkey % 13 <> 0 AND o_custkey % 7 <> 0 AND o_custkey % 11 = 0
)
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM final GROUP BY o_orderstatus
"""


def manifest_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write row-level DELETE as a driver query (GDPR erasure):
    publish orders range-clustered on o_custkey with stats, erase every
    order belonging to custkeys divisible by 97, and aggregate the
    CURRENT version. Files whose custkey range contains no erased key
    carry over verbatim (the pytest companion asserts file reuse across
    versions); only intersecting files rewrite. Oracle: the same
    aggregate over ``o_custkey % 97 <> 0``."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(os.path.join(SCRATCH, f"del_orders_{tag}_{_src_fp(sf_dir, 'orders')}"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    table.publish(
        orders.repartitionByRange(8, "o_custkey"),
        snapshot_id="base",
        stats_cols=["o_custkey"],
    )
    # the erase set stays a DataFrame end-to-end (delete_by_frame) — at
    # 100× an erasure feed is millions of keys; nothing key-sized may
    # ever reach the driver (test_delete_rewrite_query_never_collects_keys)
    table.delete_by_frame(
        spark,
        "o_custkey",
        orders.where("o_custkey % 97 = 0").select("o_custkey").distinct(),
        snapshot_id="erasure-1",
    )

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        table.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


MANIFEST_DELETE_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
WHERE o_custkey % 97 <> 0
GROUP BY o_orderstatus
"""


def manifest_delete_by_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE with a TABLE-sized key set, end-to-end through the
    join-based rewrite: publish orders range-clustered on o_custkey,
    then erase every order belonging to a BUILDING-segment customer by
    handing ``delete_by_frame`` the key *DataFrame* (customer filtered
    on segment) — no key list ever reaches the driver, so the same
    commit shape carries a 10⁸-key CDC retraction batch. File pruning
    is the stats×keys semi-join; the row match is a LEFT ANTI join.
    Oracle: the same aggregate over orders anti-joined to the segment."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(
        os.path.join(SCRATCH, f"delt_orders_{tag}_{_src_fp(sf_dir, 'orders')}")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    table.publish(
        orders.repartitionByRange(8, "o_custkey"),
        snapshot_id="base",
        stats_cols=["o_custkey"],
    )
    erase_keys = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    table.delete_by_frame(spark, "o_custkey", erase_keys, snapshot_id="erase-seg-1")

    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        table.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


MANIFEST_DELETE_BY_TABLE_SQL = """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders o
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
)
GROUP BY o_orderstatus
"""


MANIFEST_TT_SQL = """
SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem WHERE l_orderkey % 3 != 0
UNION ALL
SELECT CAST(2 AS BIGINT), COUNT(*),
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
FROM lineitem
"""


# Demo sizing: the slice holds ~60 customers per file at sf0.1, so a
# 4096-bit bitmap stays ~6% full (fpp ~ 1.3e-5) — the production
# sizing rule (~10+ bits/key) at query-testable scale.
BLOOM_DEMO_M = 4096
BLOOM_DEMO_FILES = 8


def manifest_bloom_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-sidecar file skipping for point lookups on a
    HASH-distributed key — the pruning level min/max stats cannot
    provide: every file of a customer-hash-distributed orders table
    spans the whole custkey range, so a 'fetch customer X' (or GDPR
    'delete customer X') finds all files range-overlapping; each file's
    Bloom bitmap instead rejects foreign keys with fpp ~ (fill)^K.
    Iceberg puts the same parquet bloom metadata behind its scan
    planning; Delta ships it as bloom filter indexes.

    The query publishes the slice as BLOOM_DEMO_FILES appends (one per
    h60 bucket — deterministic file contents, so the oracle can replay
    every bitmap), then answers 6 point lookups (3 present custkeys, 3
    absent) reporting how many files each probe's bloom maybe-hits and
    the looked-up rows/revenue from the table. Present keys hit exactly
    their hosting file (+fpp); absent keys hit ~0 files — the case
    where bloom turns a full-table scan into ZERO file reads. The
    DELETE/MERGE planner consults the same bitmaps
    (``_split_files_by_key_frame`` level 3, model-tested); this query
    pins the metadata math itself against the SQL replay."""
    return _bloom_skipping_frame(spark, sf_dir, "bloom_orders", sidecar=False)


def manifest_bloom_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME bloom-skipping pipeline as `manifest_bloom_skipping`,
    run through the EXTERNALIZED posture (VERDICT r8 #5): the table
    forces `bloom_inline_budget = 0`, so every bitmap lands in the
    packed per-version sidecar and the query resolves it through
    `_bloom_bits_hex` (ref + seek-read) instead of inline manifest hex.
    Output adds a `sidecar` boolean — TRUE only when every bloom entry
    carries a ref and no inline bits — which the oracle pins as a
    literal; the probe math and looked-up values must match the inline
    twin's oracle exactly, making posture-equivalence a driver-checked
    CORRECTNESS row rather than a test-only claim."""
    return _bloom_skipping_frame(spark, sf_dir, "bloomsc_orders", sidecar=True)


def _bloom_skipping_frame(
    spark: SparkSession, sf_dir: str, prefix: str, sidecar: bool
) -> DataFrame:
    import pyspark.sql.functions as F

    from tinymapreduce_spark.functions.hashing import h60
    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(
        os.path.join(SCRATCH, f"{prefix}_{tag}_{_src_fp(sf_dir, 'orders')}")
    )
    if sidecar:
        table.bloom_inline_budget = 0
    sl = (
        load_table(spark, sf_dir, "orders")
        .where(F.pmod(F.col("o_custkey"), F.lit(16)) == 0)
        .select(
            F.col("o_custkey").alias("k"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        )
    )
    bucket = F.pmod(h60(F.col("k").cast("string")), F.lit(BLOOM_DEMO_FILES))
    for i in range(BLOOM_DEMO_FILES):
        table.append(
            sl.where(bucket == i).coalesce(1),
            snapshot_id=f"b{i}",
            stats_cols=["k"],
            bloom_cols=["k"],
            bloom_m=BLOOM_DEMO_M,
        )
    snap = table.snapshot(table.current_version())
    entries = [
        # a bucket with no rows stages an empty file with no stats
        # entry and no bloom: it can never hit (it holds no keys)
        ((snap.stats.get(f) or {}).get("bloom") or {}).get("k")
        for f in snap.files
    ]
    # posture witness: in sidecar mode every recorded bloom must be a
    # ref with NO inline bits (and resolve); inline mode the inverse
    posture_ok = all(
        (bool(bl.get("ref")) and not bl.get("bits")) == sidecar
        for bl in entries
        if bl
    ) and any(entries)
    blooms = spark.createDataFrame(
        [
            (f, _bloom_bits_hex(snap, bl))
            for f, bl in zip(snap.files, entries)
        ],
        "_file string, _bits string",
    )

    present = sl.select("k").distinct().orderBy("k").limit(3)
    probes = present.unionByName(present.select((F.col("k") + 1).alias("k")))
    pairs = probes.crossJoin(F.broadcast(blooms))
    conj = None
    for i in range(BLOOM_K):
        pos = F.pmod(
            h60(F.concat(F.lit(_bloom_salt(i)), F.col("k").cast("string"))),
            F.lit(BLOOM_DEMO_M),
        )
        t = _bloom_hex_test(F.col("_bits"), pos)
        conj = t if conj is None else (conj & t)
    hits = pairs.where(conj).groupBy("k").agg(F.count(F.lit(1)).alias("n_files_hit"))

    vals = (
        table.read(spark)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("_sum"))
    )
    out = (
        probes.join(F.broadcast(hits), "k", "left")
        .join(F.broadcast(vals), "k", "left")
        .select(
            "k",
            F.coalesce("n_files_hit", F.lit(0).cast("long")).alias("n_files_hit"),
            F.coalesce("n_rows", F.lit(0).cast("long")).alias("n_rows"),
            F.col("_sum").cast("double").alias("sum_price"),
            (F.coalesce("n_rows", F.lit(0).cast("long")) > 0).alias("present"),
        )
    )
    if sidecar:
        out = out.withColumn("sidecar", F.lit(bool(posture_ok)))
    return out


from tinymapreduce_spark.functions.hashing import H60_SQL_TMPL as _H60_B

_BH = lambda e: _H60_B.format(expr=e)  # noqa: E731
MANIFEST_BLOOM_SQL = f"""
WITH sl AS MATERIALIZED (
  SELECT o_custkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         {_BH("CAST(o_custkey AS VARCHAR)")} % {BLOOM_DEMO_FILES} AS bucket
  FROM orders WHERE o_custkey % 16 = 0
), fbits AS MATERIALIZED (
  SELECT DISTINCT bucket,
         {_BH("'bloom' || i || '|' || CAST(k AS VARCHAR)")} % {BLOOM_DEMO_M} AS p
  FROM (SELECT DISTINCT k, bucket FROM sl), (SELECT UNNEST([0,1,2,3]) AS i)
), present AS MATERIALIZED (
  SELECT k FROM (SELECT DISTINCT k FROM sl) ORDER BY k LIMIT 3
), probes AS MATERIALIZED (
  SELECT k FROM present UNION ALL SELECT k + 1 FROM present
), ppos AS MATERIALIZED (
  SELECT k, i, {_BH("'bloom' || i || '|' || CAST(k AS VARCHAR)")} % {BLOOM_DEMO_M} AS p
  FROM probes, (SELECT UNNEST([0,1,2,3]) AS i)
), hits AS (
  SELECT pp.k, fb.bucket
  FROM ppos pp JOIN fbits fb ON fb.p = pp.p
  GROUP BY pp.k, fb.bucket
  HAVING COUNT(DISTINCT pp.i) = 4
), nh AS (
  SELECT k, COUNT(*) AS n_files_hit FROM hits GROUP BY k
), vals AS (
  SELECT k, COUNT(*) AS n_rows, SUM(v) AS _sum FROM sl GROUP BY k
)
SELECT p.k,
       COALESCE(nh.n_files_hit, 0) AS n_files_hit,
       COALESCE(vals.n_rows, 0) AS n_rows,
       CAST(vals._sum AS DOUBLE) AS sum_price,
       COALESCE(vals.n_rows, 0) > 0 AS present
FROM probes p
LEFT JOIN nh ON nh.k = p.k
LEFT JOIN vals ON vals.k = p.k
"""

# the sidecar twin: identical probe math (bitmaps are value-derived,
# posture-independent); the posture witness is pinned as a literal
MANIFEST_BLOOM_SIDECAR_SQL = (
    f"SELECT *, TRUE AS sidecar FROM ({MANIFEST_BLOOM_SQL})"
)


def _cdf_table(spark: SparkSession, sf_dir: str) -> "ManifestTable":
    """The shared three-commit customers table behind the change-feed
    rungs: v1 load (c_custkey % 5 != 0), v2 CDC-apply (inserts the
    % 5 == 0 rows, bumps % 3 == 0 survivors by 100 cents), v3 erasure
    (% 7 == 0 deleted). Balances are exact integer cents. Idempotent
    per (session, corpus identity) via snapshot ids."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(
        os.path.join(SCRATCH, f"cdf_customer_{tag}_{_src_fp(sf_dir, 'customer')}")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    table.publish(
        cust.where("c_custkey % 5 != 0").repartition(8, "c_custkey"),
        snapshot_id="v1-load",
    )
    changes = cust.where("c_custkey % 5 = 0").withColumn(
        "op", F.lit("I")
    ).unionByName(
        cust.where("c_custkey % 5 != 0 AND c_custkey % 3 = 0")
        .withColumn("bal_cents", F.col("bal_cents") + 100)
        .withColumn("op", F.lit("U"))
    )
    table.apply_changes(spark, "c_custkey", changes, snapshot_id="v2-cdc")
    erase = (
        cust.where("c_custkey % 7 = 0")
        .withColumn(
            "bal_cents",
            F.col("bal_cents")
            + F.when(
                (F.col("c_custkey") % 5 != 0) & (F.col("c_custkey") % 3 == 0), 100
            ).otherwise(0),
        )
        .withColumn("op", F.lit("D"))
    )
    table.apply_changes(spark, "c_custkey", erase, snapshot_id="v3-erasure")
    return table


def manifest_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CHANGE FEED as a driver-checked query (Delta CDF /
    Iceberg changelog scan): a customers table goes through three
    commits — v1 the initial load (c_custkey % 5 != 0), v2 a CDC-apply
    (inserts the % 5 == 0 rows, bumps balances of % 3 == 0 survivors by
    100 cents), v3 an erasure (% 7 == 0 deleted) — and
    ``read_changes`` reconstructs every commit's row-level changes from
    ONLY the files each commit touched. The result aggregates per
    (commit, change_type); the oracle re-derives the same counts and
    sums from the version formulas, so a missed insert, a phantom
    change from a carried file, an unchanged-row rewrite leaking
    through the fingerprint cancel, or a wrong pre/post image flips the
    hash. Partitioned 8-way on the key so commits rewrite SOME files
    and carry the rest — the carried majority is never scanned
    (``read_changes`` docstring has the 100 TB argument)."""
    import pyspark.sql.functions as F

    table = _cdf_table(spark, sf_dir)
    feed = table.read_changes(spark, ["c_custkey"])
    return feed.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
        F.sum("bal_cents").cast("long").alias("bal_sum"),
    )


# v1 = custkey % 5 != 0 at base balance; v2 adds % 5 == 0 and bumps
# (% 3 == 0, % 5 != 0) by 100; v3 deletes % 7 == 0. The feed per commit:
#   commit 2: insert (% 5 == 0, base), update pre (base) / post (+100)
#   commit 3: delete (% 7 == 0 at their v2 balance)
MANIFEST_CHANGE_FEED_SQL = """
WITH cust AS (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
  FROM customer
), rows_ AS (
  SELECT 2 AS commit_version, 'insert' AS change_type, c_custkey, bal
  FROM cust WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT 2, 'update_preimage', c_custkey, bal
  FROM cust WHERE c_custkey % 5 != 0 AND c_custkey % 3 = 0
  UNION ALL
  SELECT 2, 'update_postimage', c_custkey, bal + 100
  FROM cust WHERE c_custkey % 5 != 0 AND c_custkey % 3 = 0
  UNION ALL
  SELECT 3, 'delete', c_custkey,
         bal + CASE WHEN c_custkey % 5 != 0 AND c_custkey % 3 = 0
                    THEN 100 ELSE 0 END
  FROM cust WHERE c_custkey % 7 = 0
)
SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       CAST(SUM(bal) AS BIGINT) AS bal_sum
FROM rows_
GROUP BY commit_version, change_type
"""


def manifest_metadata_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation as a driver-checked query: orders is
    published 8-way hash-partitioned with per-file stats on two exact
    integer columns (o_orderkey; o_totalprice as cents), then COUNT /
    MIN / MAX come from ``metadata_agg`` — the manifest fold, ZERO data
    files opened (``tests/test_manifest_sink.py`` pins
    ``inputFiles() == []``). The oracle computes the same aggregates by
    actually scanning the table in DuckDB, so a stats-collection bug at
    publish (wrong grouping, lost file, truncated bound, rows
    miscounted) flips the hash. At 100 TB this is the difference
    between a KB of manifest JSON and a full table scan for the
    commonest profiling query there is."""
    import pyspark.sql.functions as F

    from tinymapreduce_spark.sources.loaders import load_table
    from tinymapreduce_spark.sources.textfiles import SCRATCH

    tag = os.path.basename(os.path.normpath(sf_dir))
    table = ManifestTable(
        os.path.join(SCRATCH, f"meta_orders_{tag}_{_src_fp(sf_dir, 'orders')}")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    table.publish(
        orders.repartition(8, "o_orderkey"),
        snapshot_id="base",
        stats_cols=["o_orderkey", "price_cents"],
    )
    return table.metadata_agg(spark, ["o_orderkey", "price_cents"])


MANIFEST_METADATA_AGG_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_o_orderkey,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_o_orderkey,
       CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS min_price_cents,
       CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
         AS max_price_cents
FROM orders
"""


def cdf_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance DRIVEN BY the change
    feed (the downstream half of CDF — Delta's streaming CDF consumer /
    classic delta-processing IVM): a per-bucket (c_custkey % 10)
    aggregate MV is built ONCE from version 1, then maintained purely
    from ``read_changes`` deltas — +post and +insert, -pre and -delete
    — without ever re-aggregating version 2 or 3. The oracle computes
    the FINAL version's aggregate directly, so the maintained MV equals
    recompute only if the feed is row-exact end to end (a missed
    update's pre/post pair, a phantom carried row, or a lost delete all
    unbalance a bucket). Scale shape: the MV update is
    O(changes) + O(buckets) — the whole point of IVM at 100 TB: the
    v2/v3 table scans never happen; one plan, two shuffles (base agg +
    delta agg)."""
    import pyspark.sql.functions as F

    table = _cdf_table(spark, sf_dir)
    bucket = (F.col("c_custkey") % 10).alias("bucket")
    base = (
        table.read(spark, version=1)
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("bal_cents").alias("bal_sum"),
        )
    )
    feed = table.read_changes(spark, ["c_custkey"])
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        feed.withColumn("_sign", sign)
        .groupBy(bucket)
        .agg(
            F.sum("_sign").alias("dn"),
            F.sum(F.col("_sign") * F.col("bal_cents")).alias("dbal"),
        )
    )
    merged = base.join(delta, "bucket", "full_outer").select(
        "bucket",
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0))).alias("n"),
        (
            F.coalesce(F.col("bal_sum"), F.lit(0))
            + F.coalesce(F.col("dbal"), F.lit(0))
        ).alias("bal_sum"),
    )
    return merged.where(F.col("n") > 0).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.col("bal_sum").cast("long").alias("bal_sum"),
    )


# final state = all customers, bumped where (%3==0 AND %5!=0), minus %7==0
CDF_INCREMENTAL_MV_SQL = """
WITH v3 AS (
  SELECT c_custkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
         + CASE WHEN c_custkey % 5 != 0 AND c_custkey % 3 = 0
                THEN 100 ELSE 0 END AS bal
  FROM customer
  WHERE c_custkey % 7 != 0
)
SELECT CAST(c_custkey % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(bal) AS BIGINT) AS bal_sum
FROM v3
GROUP BY c_custkey % 10
"""
