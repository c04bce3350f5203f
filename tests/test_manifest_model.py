"""Model-based fuzz of the manifest table — the reference checks its
stateful component (the KV service) against a sequential model with a
randomized operation stream (``/root/reference/src/models/kv.go:17-69``
driven by ``src/kvraft/test_test.go``); this is the same philosophy
applied to OUR stateful component. A seeded random sequence of
publish / append / upsert / delete / optimize / expire+vacuum commits
runs against both the real ``ManifestTable`` and a trivial in-memory
dict model; after every op the CURRENT read must equal the model
exactly, version history must stay readable, and the stats invariant
(every stats key is a live file; row counts sum to n_rows) must hold.
"""

from __future__ import annotations

import os
import random

import pytest

from tinymapreduce_spark.sources.manifest_sink import ManifestTable

KEYSPACE = 2_000


def _df_of(spark, model: dict[int | None, int]):
    if not model:
        return spark.createDataFrame([], "id long, v long")
    rows = sorted(model.items(), key=lambda kv: (kv[0] is None, kv[0] or 0))
    return spark.createDataFrame(rows, "id long, v long")


def _read_as_dict(spark, table) -> dict[int, int]:
    return {r.id: r.v for r in table.read(spark).collect()}


@pytest.mark.parametrize("seed", [7, 61])
def test_random_op_sequence_matches_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    table = ManifestTable(str(tmp_path / f"t{seed}"))
    model: dict[int, int] = {}

    # initial publish — includes one NULL-key row, which per the
    # Iceberg/Delta contract no upsert or delete may ever match
    model = {i: i * 3 for i in range(0, 600)}
    model[None] = 999
    # half the runs carry bloom sidecars from birth, so the whole op
    # sequence (rewrites, optimize, expiry) exercises bloom carry-over;
    # half of THOSE force the externalized posture (r9 sidecar cutover),
    # so random op chains also exercise ref carry-forward + vacuum of
    # superseded .bin sidecars
    with_bloom = rng.random() < 0.5
    if with_bloom and rng.random() < 0.5:
        table.bloom_inline_budget = 0
    table.publish(
        _df_of(spark, model).repartitionByRange(6, "id"),
        snapshot_id="init",
        stats_cols=["id"],
        bloom_cols=["id"] if with_bloom else None,
    )

    for step in range(12):
        op = rng.choice(
            ["append", "upsert", "delete", "optimize", "expire", "apply_changes"]
        )
        sid = f"{op}-{step}"
        if op == "append":
            lo = rng.randrange(0, KEYSPACE)
            new = {k: k * 7 for k in range(lo, lo + 80) if k not in model}
            table.append(
                _df_of(spark, new).repartitionByRange(2, "id"),
                snapshot_id=sid,
                stats_cols=["id"],
                bloom_cols=["id"] if with_bloom else None,
            )
            model.update(new)
        elif op == "upsert":
            keys = rng.sample(range(0, KEYSPACE), 40)
            ups = {k: step * 100_000 + k for k in keys}
            table.upsert_matching(spark, "id", _df_of(spark, ups), snapshot_id=sid)
            model.update(ups)
        elif op == "delete":
            live = sorted(k for k in model if k is not None)
            keys = rng.sample(live or [0], min(30, len(live) or 1))
            if rng.random() < 0.5:
                # list form, with a NULL entry the table must ignore
                table.delete_matching(spark, "id", [*keys, None], snapshot_id=sid)
            else:
                # table-sized form through the join-based core
                kdf = spark.createDataFrame([(k,) for k in keys], "id long")
                table.delete_by_frame(spark, "id", kdf, snapshot_id=sid)
            for k in keys:
                model.pop(k, None)
        elif op == "apply_changes":
            # one CDC batch mixing deletes, updates and inserts — with a
            # NULL-op row (counts as upsert) and a NULL-key delete (must
            # match nothing, per the MERGE NULL contract)
            live = sorted(k for k in model if k is not None)
            dels = rng.sample(live or [0], min(10, len(live) or 1))
            ups = rng.sample(range(0, KEYSPACE), 15)
            rows = [(k, 0, "D") for k in dels]
            rows += [(k, step * 1_000_000 + k, "U") for k in ups if k not in dels]
            null_op_key = KEYSPACE + step
            rows.append((null_op_key, 42, None))
            rows.append((None, 0, "D"))
            cdf = spark.createDataFrame(rows, "id long, v long, op string")
            table.apply_changes(spark, "id", cdf, snapshot_id=sid)
            for k in dels:
                model.pop(k, None)
            for k in ups:
                if k not in dels:
                    model[k] = step * 1_000_000 + k
            model[null_op_key] = 42
        elif op == "optimize":
            table.optimize(spark, "id", snapshot_id=sid, n_files=4)
        else:  # expire old snapshots + vacuum orphans
            table.expire_snapshots(keep_last=3)
            table.vacuum()

        got = _read_as_dict(spark, table)
        assert got == model, f"divergence after step {step} ({op})"

        if step % 3 == 0:
            # bloom-planned point lookups must agree with the model for
            # a live key AND an absent key, whatever sidecar state the
            # op sequence left behind (post-rewrite, post-optimize,
            # mixed bloom/bloomless files)
            live = sorted(k for k in model if k is not None)
            probe_live = rng.choice(live)
            probe_absent = KEYSPACE + 10_000 + step
            from pyspark.sql import functions as SF

            got_live = {
                r.id: r.v
                for r in table.read_point(spark, "id", probe_live)
                .where(SF.col("id") == probe_live)
                .collect()
            }
            assert got_live == {probe_live: model[probe_live]}, (step, op)
            assert (
                table.read_point(spark, "id", probe_absent)
                .where(SF.col("id") == probe_absent)
                .count()
                == 0
            ), (step, op)

        snap = table.snapshot(table.current_version())
        assert snap.n_rows == len(model), (step, op, snap.n_rows, len(model))
        if snap.stats:
            # stats keys are live files; per-file rows sum to the total
            assert set(snap.stats) <= set(snap.files)
            covered = sum(s["rows"] for s in snap.stats.values())
            uncovered = [f for f in snap.files if f not in snap.stats]
            assert covered <= len(model)
            if not uncovered:
                assert covered == len(model)

    # every surviving historical version still reads without error
    for s in table.history():
        table.read(spark, version=s.version).count()


def test_decimal_key_delete_upserts_numerically(spark, tmp_path):
    """DECIMAL stats must prune in the NUMERIC domain: lexicographic
    string order would classify a file with min '90.00' as untouched by
    key '100.00' and silently delete nothing. Stats are now stored as
    floats widened outward one ulp, so the [min, max] range always
    encloses the file's true decimals and the copy-on-write rewrite
    actually sees the matching file."""
    from decimal import Decimal

    table = ManifestTable(str(tmp_path / "dec"))
    rows = [(Decimal(f"{k}.00"), k) for k in range(80, 140)]
    df = spark.createDataFrame(rows, "price decimal(12,2), v long")
    table.publish(
        df.repartitionByRange(4, "price"), snapshot_id="init", stats_cols=["price"]
    )
    # the ADVICE repro: min stat '90.00' > '100.00' lexicographically
    table.delete_matching(spark, "price", [Decimal("100.00")], snapshot_id="del")
    got = {r.price for r in table.read(spark).collect()}
    assert Decimal("100.00") not in got, "decimal-keyed delete must remove the row"
    assert len(got) == 59

    ups = spark.createDataFrame(
        [(Decimal("101.00"), 777)], "price decimal(12,2), v long"
    )
    table.upsert_matching(spark, "price", ups, snapshot_id="ups")
    vals = {r.price: r.v for r in table.read(spark).collect()}
    assert vals[Decimal("101.00")] == 777
    assert len(vals) == 59  # matched update, not a duplicate insert

    # out-of-range delete is a no-op commit, not a row loss
    table.delete_matching(spark, "price", [Decimal("9999.00")], snapshot_id="miss")
    assert len(table.read(spark).collect()) == 59


def test_apply_changes_all_delete_batch_and_atomicity(spark, tmp_path):
    """A CDC batch of ONLY deletes must still commit atomically through
    apply_changes (empty re-insert side), and the whole batch (delete +
    update + insert) must be exactly ONE new version — the MERGE
    visibility contract."""
    table = ManifestTable(str(tmp_path / "cdc"))
    table.publish(
        spark.createDataFrame([(i, i) for i in range(40)], "id long, v long"),
        snapshot_id="init",
        stats_cols=["id"],
    )
    v0 = table.current_version()

    mixed = spark.createDataFrame(
        [(5, 0, "D"), (7, 700, "U"), (100, 1000, "I")], "id long, v long, op string"
    )
    table.apply_changes(spark, "id", mixed, snapshot_id="b1")
    assert table.current_version() == v0 + 1  # one commit for the whole batch
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert 5 not in got and got[7] == 700 and got[100] == 1000
    assert len(got) == 40  # 40 - 1 deleted + 1 inserted

    only_deletes = spark.createDataFrame(
        [(i, 0, "D") for i in range(0, 4)], "id long, v long, op string"
    )
    table.apply_changes(spark, "id", only_deletes, snapshot_id="b2")
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert not any(k in got for k in range(0, 4))
    assert len(got) == 36


def test_string_and_date_key_delete_prune_in_iso_order(spark, tmp_path):
    """The other stat families of the pruning matrix: plain strings and
    dates serialize to order-preserving forms, so range pruning is
    exact — deletes keyed on them must remove exactly the matching
    rows (and the untouched-file carry must not lose any)."""
    import datetime

    t1 = ManifestTable(str(tmp_path / "strkey"))
    rows = [(f"user-{i:04d}", i) for i in range(100)]
    t1.publish(
        spark.createDataFrame(rows, "uid string, v long").repartitionByRange(4, "uid"),
        snapshot_id="init",
        stats_cols=["uid"],
    )
    t1.delete_matching(spark, "uid", ["user-0007", "user-0093"], snapshot_id="del")
    got = {r.uid for r in t1.read(spark).collect()}
    assert "user-0007" not in got and "user-0093" not in got and len(got) == 98

    t2 = ManifestTable(str(tmp_path / "datekey"))
    base = datetime.date(2026, 1, 1)
    drows = [(base + datetime.timedelta(days=i), i) for i in range(60)]
    t2.publish(
        spark.createDataFrame(drows, "d date, v long").repartitionByRange(4, "d"),
        snapshot_id="init",
        stats_cols=["d"],
    )
    kill = base + datetime.timedelta(days=30)
    t2.delete_matching(spark, "d", [kill], snapshot_id="del")
    got_d = {r.d for r in t2.read(spark).collect()}
    assert kill not in got_d and len(got_d) == 59
    # upsert on the date key must match, not duplicate
    ups = spark.createDataFrame([(base, 777)], "d date, v long")
    t2.upsert_matching(spark, "d", ups, snapshot_id="ups")
    vals = {r.d: r.v for r in t2.read(spark).collect()}
    assert vals[base] == 777 and len(vals) == 59


def test_bool_stat_key_degrades_to_unpruned(spark, tmp_path):
    """Boolean min/max stats have no usable range: MERGE/DELETE keyed on
    a bool-stat column must degrade to unpruned (every stats file a
    candidate) instead of crashing in createDataFrame with a
    string-typed schema holding bools."""
    table = ManifestTable(str(tmp_path / "boolkey"))
    rows = [(i, i % 2 == 0) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, flag boolean")
    table.publish(df.repartition(2), snapshot_id="init", stats_cols=["flag"])
    table.delete_matching(spark, "flag", [True], snapshot_id="del")
    got = [r.flag for r in table.read(spark).collect()]
    assert len(got) == 10 and not any(got)


def _bloom_table(spark, path, n=4000, files=8):
    """Hash-distributed table: every file's [min, max] spans the whole
    key domain, so range stats prune nothing — bloom's home turf."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.functions.hashing import h60

    t = ManifestTable(str(path))
    rows = spark.range(0, n).select(
        F.col("id").alias("k"),
        (F.col("id") * 7).alias("v"),
        F.pmod(h60(F.col("id").cast("string")), F.lit(files)).alias("b"),
    )
    for i in range(files):
        t.append(
            rows.where(F.col("b") == i).drop("b").coalesce(1),
            snapshot_id=f"b{i}",
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    bucket_of = {
        r.k: r.b for r in rows.select("k", "b").collect()
    }
    file_of_bucket = {}
    snap = t.snapshot(t.current_version())
    for f in snap.files:
        # each append staged exactly one file; recover its bucket from
        # the snapshot id embedded in the staging dir name
        for i in range(files):
            if f"snap-b{i}-" in f:
                file_of_bucket[i] = f
    return t, snap, bucket_of, file_of_bucket


def test_bloom_prunes_hash_distributed_files_and_survivors_keep_paths(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    t, snap, bucket_of, file_of_bucket = _bloom_table(spark, tmp_path / "bt")
    del_keys = [3, 77, 1234, 2999, 3777]
    keys_df = spark.createDataFrame([(k,) for k in del_keys], "k long")
    unt, cand = _split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
    hosting = {file_of_bucket[bucket_of[k]] for k in del_keys}
    # no false negatives: every hosting file is a candidate
    assert hosting <= set(cand)
    # bloom actually pruned: candidates are the hosting files plus at
    # most a fp straggler, NOT all 8 range-overlapping files
    assert len(cand) <= len(hosting) + 1
    before_files = set(snap.files)
    t.delete_by_frame(spark, "k", keys_df, snapshot_id="del")
    after = t.snapshot(t.current_version())
    # untouched files survive BY PATH (no rewrite I/O for them)
    assert set(unt) <= set(after.files)
    # the rewrite replaced every candidate file
    assert not (set(cand) & set(after.files))
    # correctness: exactly the keyed rows are gone
    remaining = {r.k for r in t.read(spark).select("k").collect()}
    assert remaining == set(range(4000)) - set(del_keys)
    assert before_files - set(cand) == set(unt)


def test_bloom_never_false_negative_for_present_keys(spark, tmp_path):
    """Every present key must classify its hosting file as a candidate
    — the property that makes bloom pruning safe (false positives cost
    an extra rewrite; a false negative would silently skip a delete)."""
    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    t, snap, bucket_of, file_of_bucket = _bloom_table(spark, tmp_path / "fn")
    probe = list(range(0, 4000, 83))  # 49 present keys across buckets
    keys_df = spark.createDataFrame([(k,) for k in probe], "k long")
    unt, cand = _split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
    for k in probe:
        assert file_of_bucket[bucket_of[k]] in cand, f"key {k} hosting file pruned"


def test_bloom_untrusted_for_float_keys(spark, tmp_path):
    """Float string forms are representation-sensitive ('1' vs '1.0'),
    so a double-domain key column must NEVER be bloom-pruned — the file
    stays a candidate whenever its range overlaps, even though its
    bloom (hashed from the file's own string forms) would say miss."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    t = ManifestTable(str(tmp_path / "ft"))
    df = spark.createDataFrame([(1.0, 1), (2.0, 2)], "k double, v long")
    t.publish(df.coalesce(1), snapshot_id="s", stats_cols=["k"], bloom_cols=["k"])
    snap = t.snapshot(t.current_version())
    keys_df = spark.createDataFrame([(1.5,)], "k double")
    unt, cand = _split_files_by_key_frame(spark, snap, "k", keys_df, 1.0, 2.0)
    assert len(cand) == 1 and len(unt) == 0


def test_bloom_pack_roundtrip_exact():
    """Packed-binary sidecar form must restore the exact nibble-hex
    convention the planners' bit probes consume."""
    import random as _random

    from tinymapreduce_spark.sources.manifest_sink import (
        _bloom_hex,
        _bloom_pack,
        _bloom_unpack,
    )

    rng = _random.Random(7)
    for m in (64, 1024, 65536):
        positions = {rng.randrange(m) for _ in range(m // 11)}
        hexbits = _bloom_hex(positions, m)
        assert _bloom_unpack(_bloom_pack(hexbits)) == hexbits


def test_bloom_sidecar_externalization_preserves_planning(
    spark, tmp_path, monkeypatch
):
    """Past BLOOM_INLINE_BUDGET the bitmaps move to the packed
    per-version sidecar (VERDICT r8 #5): the manifest entry carries
    {ref, off, len} instead of bits, the sidecar file exists, and BOTH
    planners (MERGE split + point lookup) classify files identically
    to an inline twin of the same data — pruning is posture-invariant."""
    from tinymapreduce_spark.sources import manifest_sink as ms
    from tinymapreduce_spark.sources.manifest_sink import (
        _split_files_by_key_frame,
    )

    t_in, snap_in, bucket_of, file_of_bucket = _bloom_table(
        spark, tmp_path / "inline"
    )
    monkeypatch.setattr(ms, "BLOOM_INLINE_BUDGET", 0)
    t_sc, snap_sc, bucket_of2, file_of_bucket2 = _bloom_table(
        spark, tmp_path / "sidecar"
    )
    # externalized shape: refs everywhere, no inline bits, sidecar on disk
    import os as _os

    bls = [
        s["bloom"]["k"] for s in snap_sc.stats.values() if s.get("bloom")
    ]
    assert bls and all("bits" not in bl and bl.get("ref") for bl in bls)
    refs = {bl["ref"] for bl in bls}
    for ref in refs:
        assert _os.path.exists(_os.path.join(t_sc.manifest_dir, ref))
    # identical planning decisions, keyed by hosting bucket
    del_keys = [3, 77, 1234, 2999, 3777]
    keys_df = spark.createDataFrame([(k,) for k in del_keys], "k long")
    unt_i, cand_i = _split_files_by_key_frame(spark, snap_in, "k", keys_df, 0, 4000)
    unt_s, cand_s = _split_files_by_key_frame(spark, snap_sc, "k", keys_df, 0, 4000)
    to_bucket_i = {f: b for b, f in file_of_bucket.items()}
    to_bucket_s = {f: b for b, f in file_of_bucket2.items()}
    assert {to_bucket_i[f] for f in cand_i} == {to_bucket_s[f] for f in cand_s}
    # point lookup: sidecar table scans the hosting file only (+fp)
    for k in (5, 1000, 3999):
        kept = t_sc.point_lookup_files("k", k)
        assert file_of_bucket2[bucket_of2[k]] in kept
        assert len(kept) <= 2
    # absent key (in range, not in table domain? all 0..3999 present) —
    # probe a key past the domain: range stats alone prune everything
    assert t_sc.point_lookup_files("k", 10**9) == []


def test_bloom_sidecar_carry_forward_and_vacuum(spark, tmp_path, monkeypatch):
    """Appends carry externalized refs forward untouched and the
    planners keep resolving them; vacuum removes a sidecar only when no
    surviving manifest names it."""
    import os as _os

    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources import manifest_sink as ms

    monkeypatch.setattr(ms, "BLOOM_INLINE_BUDGET", 0)
    t = ManifestTable(str(tmp_path / "cf"))
    df1 = spark.range(0, 100).select(F.col("id").alias("k"))
    df2 = spark.range(100, 200).select(F.col("id").alias("k"))
    t.append(df1.coalesce(1), snapshot_id="a1", stats_cols=["k"], bloom_cols=["k"])
    t.append(df2.coalesce(1), snapshot_id="a2", stats_cols=["k"], bloom_cols=["k"])
    snap = t.snapshot(t.current_version())
    refs = {
        bl["ref"]
        for s in snap.stats.values()
        for bl in (s.get("bloom") or {}).values()
    }
    assert len(refs) == 2  # v1's sidecar carried forward + v2's own
    # both resolve: present keys keep their hosting file
    assert len(t.point_lookup_files("k", 5)) == 1
    assert len(t.point_lookup_files("k", 150)) == 1
    # expire v1 -> its manifest goes; v2 still names BOTH sidecars
    # (carry-forward), so vacuum must remove neither
    t.expire_snapshots(keep_last=1)
    removed = t.vacuum()
    assert not any(str(r).endswith(".bin") for r in removed)
    assert len(t.point_lookup_files("k", 5)) == 1
    # an orphan sidecar (crashed commit) IS removed
    orphan = _os.path.join(t.manifest_dir, "blooms-999999-deadbeef.bin")
    with open(orphan, "wb") as f:
        f.write(b"\x00" * 16)
    removed = t.vacuum()
    assert orphan in removed and not _os.path.exists(orphan)


def test_truncated_sidecar_degrades_to_keep(spark, tmp_path, monkeypatch):
    """A truncated bloom sidecar (short read inside the bit probe — bad
    off/len metadata or a half-written file) must KEEP the file, same
    as the lost-sidecar OSError path: a corrupt sidecar may only lose
    pruning, never rows (ADVICE r9 — the short read used to PRUNE)."""
    import os as _os

    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources import manifest_sink as ms

    monkeypatch.setattr(ms, "BLOOM_INLINE_BUDGET", 0)
    t = ManifestTable(str(tmp_path / "trunc"))
    t.append(
        spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1),
        snapshot_id="a1",
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    # healthy sidecar: an in-range key resolves to its hosting file
    assert len(t.point_lookup_files("k", 5)) == 1
    # truncate the sidecar to zero bytes: every seek-read comes back
    # empty -> the planner must degrade to keeping the file
    for name in _os.listdir(t.manifest_dir):
        if name.startswith("blooms-") and name.endswith(".bin"):
            with open(_os.path.join(t.manifest_dir, name), "wb"):
                pass
    assert len(t.point_lookup_files("k", 5)) == 1


def test_files_without_bloom_keep_range_behavior(spark, tmp_path):
    """A bloomless publish is classified exactly as before the sidecar
    existed: range-overlapping files are candidates."""
    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    t = ManifestTable(str(tmp_path / "nb"))
    df = spark.createDataFrame([(i, i) for i in range(100)], "k long, v long")
    t.publish(df.coalesce(1), snapshot_id="s", stats_cols=["k"])
    snap = t.snapshot(t.current_version())
    keys_df = spark.createDataFrame([(50,)], "k long")
    unt, cand = _split_files_by_key_frame(spark, snap, "k", keys_df, 50, 50)
    assert len(cand) == 1 and len(unt) == 0


def test_bloom_survives_copy_on_write_rewrite(spark, tmp_path):
    """A MERGE must not silently strip bloom sidecars from the files it
    rewrites — later point deletes on those files would degrade to
    range-only pruning. After an upsert, every data-bearing file (both
    carried-over and rewritten) must still offer a bloom, and a second
    delete must still prune."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    t, snap, bucket_of, file_of_bucket = _bloom_table(spark, tmp_path / "rw", n=2000)
    up = spark.createDataFrame([(5, 999), (1999, 998)], "k long, v long")
    t.upsert_matching(spark, "k", up, snapshot_id="up")
    snap2 = t.snapshot(t.current_version())
    for f in snap2.files:
        s = snap2.stats.get(f)
        if s and s.get("rows", 0) > 0:
            assert (s.get("bloom") or {}).get("k"), f"file lost its bloom: {f}"
    keys_df = spark.createDataFrame([(5,), (777,)], "k long")
    unt, cand = _split_files_by_key_frame(spark, snap2, "k", keys_df, 0, 2000)
    # still pruning: far fewer candidate files than the table holds
    assert len(cand) < len(snap2.files)
    t.delete_by_frame(spark, "k", keys_df, snapshot_id="d2")
    remaining = {r.k for r in t.read(spark).select("k").collect()}
    assert remaining == set(range(2000)) - {5, 777}
    assert {r.v for r in t.read(spark).where(F.col("k") == 1999).collect()} == {998}


def test_point_lookup_scans_hosting_file_only(spark, tmp_path):
    """read_point on a hash-distributed table: a present key's plan
    lists its hosting file (+fpp stragglers at most), an absent key's
    plan lists ~zero files, and the returned rows are exactly the
    key's rows in both cases."""
    from pyspark.sql import functions as F

    t, snap, bucket_of, file_of_bucket = _bloom_table(spark, tmp_path / "pl")
    k = 1234
    files = t.point_lookup_files("k", k)
    assert file_of_bucket[bucket_of[k]] in files
    assert len(files) <= 2
    got = t.read_point(spark, "k", k).where(F.col("k") == k).collect()
    assert [(r.k, r.v) for r in got] == [(k, k * 7)]
    # absent key: bloom turns the lookup into (near) zero file reads
    absent_files = t.point_lookup_files("k", 4001)
    assert len(absent_files) <= 1
    assert t.read_point(spark, "k", 4001).where(F.col("k") == 4001).count() == 0
    # a float probe never trusts the bloom (falls back to range rules)
    assert isinstance(t.point_lookup_files("k", 1234.5), list)


def test_bloom_only_publish_records_stats_and_prunes(spark, tmp_path):
    """bloom_cols implies stats: a publish with bloom_cols but no
    stats_cols must still record min/max for those columns, otherwise
    the MERGE/DELETE planner's no-stats gate routes every file to
    candidates and the bitmap is dead weight. The bloom needs the
    stats-domain witness anyway (string-form hashing is only trusted
    against a proven int/str domain)."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources.manifest_sink import _split_files_by_key_frame

    t = ManifestTable(str(tmp_path / "bo"))
    rows = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.publish(
        rows.repartitionByRange(4, "k"),
        snapshot_id="base",
        bloom_cols=["k"],  # deliberately no stats_cols
    )
    snap = t.snapshot(t.current_version())
    for f in snap.files:
        s = snap.stats[f]
        assert s["min"].get("k") is not None and s["max"].get("k") is not None
        assert (s.get("bloom") or {}).get("k")
    # range-clustered + implied stats => the key-frame planner prunes
    keys_df = spark.createDataFrame([(5,)], "k long")
    _, cand = _split_files_by_key_frame(spark, snap, "k", keys_df, 5, 5)
    assert len(cand) < len(snap.files)
    # and the point-lookup path trusts the bloom (int domain witnessed)
    assert len(t.point_lookup_files("k", 5)) < len(snap.files)
    t.delete_by_frame(spark, "k", keys_df, snapshot_id="d1")
    assert t.read(spark).where(F.col("k") == 5).count() == 0
    assert t.read(spark).count() == 999


def test_point_lookup_bloom_needs_domain_witness(spark, tmp_path):
    """An int probe against a DOUBLE-keyed bloom column must not trust
    the bitmap: bits were hashed from '5.0'-style strings, so hashing
    '5' would miss and prune the hosting file — a silent wrong answer.
    The stats domain is the witness; cross-domain probes degrade to
    range pruning only (kept superset, still correct)."""
    from pyspark.sql import functions as F

    t = ManifestTable(str(tmp_path / "dw"))
    rows = spark.range(0, 100).select(
        (F.col("id") + F.lit(0.0)).alias("p"), F.col("id").alias("v")
    )
    t.publish(
        rows.coalesce(2),
        snapshot_id="base",
        stats_cols=["p"],
        bloom_cols=["p"],
    )
    # present value probed as int: bloom untrusted, row still found
    got = t.read_point(spark, "p", 5).where(F.col("p") == 5.0).collect()
    assert [(r.p, r.v) for r in got] == [(5.0, 5)]
    # probed as the exact float the stats witness: same answer
    got_f = t.read_point(spark, "p", 5.0).where(F.col("p") == 5.0).collect()
    assert [(r.p, r.v) for r in got_f] == [(5.0, 5)]


def test_distributed_bloom_probe_matches_chunked_planner(
    spark, tmp_path, monkeypatch
):
    """The file-parallel distributed probe (round 11 — the 10^5-file
    MERGE-planning path) must classify files EXACTLY like the chunked
    driver probe, for both bitmap postures (inline bits and sidecar
    refs), and must fall back to the chunked path above PROBE_KEYS_CAP
    distinct keys."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources import manifest_sink as ms

    del_keys = [3, 77, 1234, 2999, 3777]
    keys_df = spark.createDataFrame([(k,) for k in del_keys], "k long")

    for posture, budget in (("inline", ms.BLOOM_INLINE_BUDGET), ("sidecar", 0)):
        t, snap, bucket_of, file_of_bucket = _bloom_table(
            spark, tmp_path / f"dp_{posture}"
        )
        t.bloom_inline_budget = budget
        if posture == "sidecar":
            # re-publish the same rows through the sidecar posture
            df = t.read(spark)
            t2 = ms.ManifestTable(str(tmp_path / "dp_sc2"))
            t2.bloom_inline_budget = 0
            for i in range(8):
                t2.append(
                    df.where(F.pmod(F.xxhash64("k"), F.lit(8)) == i).coalesce(1),
                    snapshot_id=f"b{i}",
                    stats_cols=["k"],
                    bloom_cols=["k"],
                )
            snap = t2.snapshot(t2.current_version())
            assert any(
                (s.get("bloom") or {}).get("k", {}).get("ref")
                for s in snap.stats.values()
            ), "sidecar posture not in effect"
        base = ms._split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
        # force the distributed branch: every file count now exceeds the
        # "chunk" threshold
        monkeypatch.setattr(ms, "MERGE_PLAN_CHUNK", 2)
        dist = ms._split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
        assert (sorted(base[0]), sorted(base[1])) == (
            sorted(dist[0]),
            sorted(dist[1]),
        ), f"distributed != chunked for {posture}"
        # cap fallback: a tiny key cap sends the same call down the
        # chunked path — results unchanged
        monkeypatch.setattr(ms, "PROBE_KEYS_CAP", 2)
        capped = ms._split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
        assert (sorted(capped[0]), sorted(capped[1])) == (
            sorted(base[0]),
            sorted(base[1]),
        )
        monkeypatch.undo()


def test_distributed_bloom_probe_string_keys_match_chunked(
    spark, tmp_path, monkeypatch
):
    """String keys in the distributed probe compare in Python (code-point
    order) where the chunked probe compares in Spark (binary UTF-8
    order). Multi-byte keys at, just inside and just outside each file's
    [min, max] must classify files identically on both paths — including
    a BMP character above the surrogate range (U+FF21) against a 4-byte
    one (U+1F600), whose order UTF-16 would reverse."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources import manifest_sink as ms

    stems = ["a", "z", "\u00e9", "\u00ff", "\u0100", "\u4e2d", "\uff21", "\U0001f600"]
    keys = [f"{s}{i:02d}" for s in stems for i in range(0, 40, 2)]
    t = ms.ManifestTable(str(tmp_path / "strbloom"))
    t.publish(
        spark.createDataFrame([(k, i) for i, k in enumerate(keys)], "k string, v long")
        .repartitionByRange(6, "k"),
        snapshot_id="init",
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    snap = t.snapshot(t.current_version())
    bounds = [(snap.stats[f]["min"]["k"], snap.stats[f]["max"]["k"]) for f in snap.files]
    assert len(bounds) == 6
    # present bounds of every other file; absent keys just outside and
    # just inside every file's bounds; absent keys deep inside ranges
    probes = {b for lo_hi in bounds[::2] for b in lo_hi}
    for lo, hi in bounds:
        probes |= {lo[:-1], lo[:-1] + "\U0001f600", hi + "\u00e9", hi[:-1] + "1"}
    probes |= {f"{s}05" for s in stems}
    keys_df = spark.createDataFrame([(k,) for k in sorted(probes)], "k string")
    key_lo, key_hi = min(probes), max(probes)

    chunked = ms._split_files_by_key_frame(spark, snap, "k", keys_df, key_lo, key_hi)
    monkeypatch.setattr(ms, "MERGE_PLAN_CHUNK", 2)
    real_probe, ran = ms._probe_blooms_distributed, []
    monkeypatch.setattr(
        ms,
        "_probe_blooms_distributed",
        lambda *a: ran.append(real_probe(*a)) or ran[-1],
    )
    dist = ms._split_files_by_key_frame(spark, snap, "k", keys_df, key_lo, key_hi)
    assert ran and ran[0] is not None, "the distributed probe did not run"
    assert (sorted(chunked[0]), sorted(chunked[1])) == (sorted(dist[0]), sorted(dist[1]))

    # never a false negative: every file hosting a probed key is a candidate
    hosting = {
        r["f"]
        for r in t.read(spark)
        .where(F.col("k").isin(sorted(probes)))
        .select(F.input_file_name().alias("f"))
        .collect()
    }
    cands = set(dist[1])
    assert all(any(h.endswith(os.path.basename(c)) for c in cands) for h in hosting)
    assert dist[0], "probe keys prune nothing: the test would not see a divergence"


def test_distributed_probe_short_sidecar_degrades_to_keep(
    spark, tmp_path, monkeypatch
):
    """A truncated sidecar in the DISTRIBUTED probe may only lose
    pruning, never rows: every range-overlapping file whose bitmap
    cannot be fully read must stay a candidate."""
    import os

    from pyspark.sql import functions as F

    from tinymapreduce_spark.sources import manifest_sink as ms

    t, snap, bucket_of, file_of_bucket = _bloom_table(spark, tmp_path / "dpt")
    df = t.read(spark)
    t2 = ms.ManifestTable(str(tmp_path / "dpt2"))
    t2.bloom_inline_budget = 0
    for i in range(8):
        t2.append(
            df.where(F.pmod(F.xxhash64("k"), F.lit(8)) == i).coalesce(1),
            snapshot_id=f"b{i}",
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    snap = t2.snapshot(t2.current_version())
    # truncate every sidecar to a few bytes
    for name in os.listdir(t2.manifest_dir):
        if name.startswith("blooms-") and name.endswith(".bin"):
            path = os.path.join(t2.manifest_dir, name)
            with open(path, "r+b") as fh:
                fh.truncate(3)
    keys_df = spark.createDataFrame([(3,)], "k long")
    # chunked path first: with every bitmap unreadable, any file whose
    # [min, max] hosts the key must stay a candidate (the r11
    # short-read guard in _bloom_bits_hex — a partial bitmap would
    # otherwise read as all-bits-clear and PRUNE the hosting file)
    unt_c, cand_c = ms._split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
    # the hosting file was re-bucketed into t2 — recover candidates by range
    in_range = [
        f
        for f in snap.files
        if snap.stats[f]["min"]["k"] <= 3 <= snap.stats[f]["max"]["k"]
    ]
    assert sorted(cand_c) == sorted(in_range)
    # distributed path classifies identically
    monkeypatch.setattr(ms, "MERGE_PLAN_CHUNK", 2)
    unt_d, cand_d = ms._split_files_by_key_frame(spark, snap, "k", keys_df, 0, 4000)
    assert (sorted(unt_c), sorted(cand_c)) == (sorted(unt_d), sorted(cand_d))


def test_footer_stats_reject_floats_and_match_spark_on_nan(spark, tmp_path):
    """VERDICT r10 #2: Parquet footer min/max for FLOAT/DOUBLE columns
    diverge from Spark aggregates when NaN is present (Spark orders NaN
    greatest; writers variously drop or pollute footer stats), and
    these stats feed MERGE/point-lookup PRUNING. The footer fast path
    must refuse float columns entirely — publish falls back to the
    Spark stats pass — and the recorded max for a NaN-bearing double
    column must be what the Spark aggregate says, not the footer."""
    import math

    from pyspark.sql import functions as F  # noqa: F401

    from tinymapreduce_spark.sources import manifest_sink as ms

    df = spark.createDataFrame(
        [(1, 1.5), (2, float("nan")), (3, 2.5)], "k long, v double"
    ).coalesce(1)
    t = ms.ManifestTable(str(tmp_path / "nan"))
    t.publish(df, snapshot_id="s1", stats_cols=["k", "v"])
    snap = t.snapshot(t.current_version())
    (f,) = snap.files
    # the footer fast path must have refused the double column
    assert ms._footer_file_stats([f], ["k", "v"]) is None
    # the Spark pass ran: integer bounds exact, double max reflects
    # Spark's NaN-greatest ordering (serialized as NaN or the JSON
    # fallback the writer uses — assert via the stats the planner sees)
    s = snap.stats[f]
    assert s["min"]["k"] == 1 and s["max"]["k"] == 3
    assert s["min"]["v"] == 1.5
    vmax = s["max"]["v"]
    assert (isinstance(vmax, float) and math.isnan(vmax)) or vmax == "NaN"
