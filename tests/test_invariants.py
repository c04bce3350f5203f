"""Invariant tests for operators without SQL oracles: the shard
controller's reference-specified invariants, recall of the approximate
dedup/similarity tiers against their exact counterparts, sketch error
bounds, and the MR-shim vs built-in equivalence."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from tinymapreduce_spark.operators import dedup, similarity
from tinymapreduce_spark.operators.multimodal import decode_image
from tinymapreduce_spark.operators.shards import NSHARDS, ShardController
from tinymapreduce_spark.plans.subqueries import approx_aggregates_raw
from tinymapreduce_spark.sources.loaders import load_table


class TestShardController:
    """Invariants from /root/reference/src/shardctrler/test_test.go:36-53:
    every shard owned, balance max-min <= 1, minimal movement."""

    def _check_balance(self, ctl: ShardController) -> None:
        cfg = ctl.query()
        gids = set(cfg.groups)
        assert all(g in gids for g in cfg.shards), "unowned shard"
        counts = Counter(cfg.shards)
        per_group = [counts.get(g, 0) for g in gids]
        assert max(per_group) - min(per_group) <= 1

    def test_join_leave_balance(self):
        ctl = ShardController()
        ctl.join({1: ["a"]})
        assert set(ctl.query().shards) == {1}
        ctl.join({2: ["b"], 3: ["c"]})
        self._check_balance(ctl)
        ctl.leave([1])
        self._check_balance(ctl)
        ctl.join({4: ["d"], 5: ["e"], 6: ["f"]})
        self._check_balance(ctl)

    def test_minimal_movement(self):
        ctl = ShardController()
        ctl.join({1: ["a"], 2: ["b"]})
        before = list(ctl.query().shards)
        ctl.join({3: ["c"]})
        after = ctl.query().shards
        moved = sum(1 for b, a in zip(before, after) if b != a)
        # 10 shards over 3 groups: exactly ceil terms move to the newcomer
        assert moved == NSHARDS // 3

    def test_move_then_rebalance_preserves(self):
        ctl = ShardController()
        ctl.join({1: ["a"], 2: ["b"]})
        ctl.move(0, 2)
        assert ctl.query().shards[0] == 2
        # configs are a chain: Query(n) returns historical configs
        assert ctl.query(0).shards == [0] * NSHARDS
        assert ctl.query(-1).num == len(ctl.configs) - 1

    def test_determinism(self):
        a, b = ShardController(), ShardController()
        for ctl in (a, b):
            ctl.join({5: ["x"], 9: ["y"]})
            ctl.leave([5])
            ctl.join({1: ["z"], 2: ["w"], 3: ["v"]})
        assert a.query().shards == b.query().shards

    def test_sql_oracle_matches_controller_on_random_logs(self):
        """The DuckDB oracle (driver-side K6 check) must derive the SAME
        config chain as the Python controller for arbitrary command logs,
        not just DEMO_COMMANDS — fuzzed over seeded random join/leave/move
        sequences."""
        import random

        import duckdb

        from tinymapreduce_spark.operators.shards import (
            _build_rebalance_oracle_sql,
        )

        for seed in range(8):
            rng = random.Random(seed)
            live: set[int] = set()
            commands: list[tuple[str, object]] = []
            next_gid = 1
            for _ in range(rng.randint(3, 9)):
                choice = rng.random()
                if not live or choice < 0.5:
                    n_new = rng.randint(1, 3)
                    joining = {next_gid + i: [f"s{next_gid + i}"] for i in range(n_new)}
                    next_gid += n_new
                    live |= set(joining)
                    commands.append(("join", joining))
                elif choice < 0.8 and len(live) > 1:
                    leaving = rng.sample(sorted(live), rng.randint(1, len(live) - 1))
                    live -= set(leaving)
                    commands.append(("leave", leaving))
                else:
                    commands.append(("move", (rng.randrange(NSHARDS), rng.choice(sorted(live)))))

            ctl = ShardController()
            for cmd, arg in commands:
                getattr(ctl, cmd)(*(arg if cmd == "move" else (arg,)))
            py = sorted(
                (c.num, s, g) for c in ctl.configs for s, g in enumerate(c.shards)
            )
            sql = sorted(
                map(
                    tuple,
                    duckdb.connect()
                    .execute(_build_rebalance_oracle_sql(commands))
                    .fetchall(),
                )
            )
            assert py == sql, f"seed {seed}: controller vs SQL oracle diverged"


class TestApproxRecall:
    def test_minhash_lsh_recall(self, spark, sf_dir):
        exact = {
            (r.doc_a, r.doc_b)
            for r in dedup.dedup_ngram_jaccard(spark, sf_dir).collect()
        }
        approx = {
            (r.doc_a, r.doc_b)
            for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
        }
        # verified candidates are a subset of the exact pairs...
        assert approx <= exact
        # ...and at j>=0.5 with 8x4 banding, recall should be high
        if exact:
            assert len(approx) / len(exact) >= 0.8

    def test_ivf_recall(self, spark, sf_dir):
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_topk_cosine(spark, sf_dir).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_ivf_topk(spark, sf_dir).collect()
        }
        assert len(approx & exact) / len(exact) >= 0.7

    def test_lsh_ann_recall(self, spark, sf_dir):
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_topk_cosine(spark, sf_dir).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_lsh_topk(spark, sf_dir).collect()
        }
        # deterministic planes -> deterministic recall; measured 0.8 at
        # this sf, pinned with margin (neighbors here sit at cosine
        # ~0.3, the hard regime for sign-hash LSH — see module docstring)
        assert len(approx & exact) / len(exact) >= 0.6

    def test_pq_ann_recall(self, spark, sf_dir):
        """PQ-ADC retrieve + exact re-rank: the candidate pool must
        carry enough of the true top-k through quantization. Measured
        0.94 at sf0.01 (16 subspaces x 32 centroids, pool=8k); pinned
        with margin — ADC alone scores ~0.46 in this corpus's
        near-tie regime, the re-rank stage is what makes PQ usable."""
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_topk_cosine(spark, sf_dir).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_pq_topk(spark, sf_dir).collect()
        }
        assert len(approx & exact) / len(exact) >= 0.7

    def test_ivfpq_ann_recall(self, spark, sf_dir):
        """The composed IVF-PQ path: probing NPROBE/NLIST cells AND
        scoring through quantized codes must still surface most true
        neighbors (0.88 measured at sf0.01; bounded below by the IVF
        probe recall since PQ+rerank is near-lossless on the pool)."""
        exact = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_topk_cosine(spark, sf_dir).collect()
        }
        approx = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_ivfpq_topk(spark, sf_dir).collect()
        }
        assert len(approx & exact) / len(exact) >= 0.6

    def test_lsh_ann_recall_dim256(self, spark):
        """The hashed-plane LSH must hold up at real embedding dims: a
        synthetic dim-256 corpus with planted near-neighbors (cosine
        ~0.95) per query. Plan size is O(1) in dim (planes derive from
        xxhash64 inside the zip_with lambda), so this also certifies the
        codegen-size fix from VERDICT r01."""
        import numpy as np

        rng = np.random.default_rng(7)
        dim, n_queries, n_noise = 256, 10, 300
        vecs: list[np.ndarray] = []
        for _ in range(n_queries):
            q = rng.standard_normal(dim)
            vecs.append(q)
        planted_owner: list[int] = []
        for qi in range(n_queries):
            for _ in range(5):
                v = vecs[qi] + 0.25 * rng.standard_normal(dim)
                vecs.append(v)
                planted_owner.append(qi)
        vecs.extend(rng.standard_normal(dim) for _ in range(n_noise))
        mat = np.stack([v / np.linalg.norm(v) for v in vecs])

        df = spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
            "vec_id long, embedding array<double>",
        )
        approx = {
            (r.query_id, r.vec_id)
            for r in similarity.ann_lsh_topk_df(df, n_queries=n_queries).collect()
        }

        sims = mat @ mat[:n_queries].T  # corpus x queries cosine
        exact = set()
        for qi in range(n_queries):
            order = [i for i in np.argsort(-sims[:, qi]) if i != qi][:5]
            exact |= {(qi, int(i)) for i in order}
        assert len(approx & exact) / len(exact) >= 0.6

    def test_simhash_pairs_are_similar(self, spark, sf_dir):
        pairs = dedup.dedup_simhash(spark, sf_dir).collect()
        for r in pairs:
            assert r.hamming <= 3

    def test_approx_count_distinct_error(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        exact = {
            r.l_returnflag: r.n
            for r in li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_orderkey").alias("n"))
            .collect()
        }
        approx = {r.l_returnflag: r.approx_orders for r in approx_aggregates_raw(spark, sf_dir).collect()}
        for k, exact_n in exact.items():
            assert abs(approx[k] - exact_n) / exact_n < 0.1  # HLL++ rsd default 0.05


class TestMrShim:
    def test_shim_equals_builtin(self, spark, sf_dir):
        from tinymapreduce_spark.operators.mapreduce import run_mapreduce, wc_map, wc_reduce
        from tinymapreduce_spark.operators.reference_queries import word_count
        from tinymapreduce_spark.sources.loaders import text_documents

        shim = {
            (r.key, int(r.value))
            for r in run_mapreduce(text_documents(spark, sf_dir), wc_map, wc_reduce).collect()
        }
        builtin = {(r.word, r.cnt) for r in word_count(spark, sf_dir).collect()}
        assert shim == builtin

    def test_explicit_partitions(self, spark, sf_dir):
        """nReduce analog: explicit R is respected (D2 surface)."""
        from tinymapreduce_spark.operators.mapreduce import run_mapreduce, wc_map, wc_reduce
        from tinymapreduce_spark.sources.loaders import text_documents

        out = run_mapreduce(
            text_documents(spark, sf_dir), wc_map, wc_reduce, num_partitions=10
        )
        assert out.count() > 0

    def test_combiner_path_equals_plain(self, spark, sf_dir):
        from tinymapreduce_spark.operators.mapreduce import (
            run_mapreduce,
            wc_map,
            wc_merge,
            wc_reduce,
        )
        from tinymapreduce_spark.sources.loaders import text_documents

        docs = text_documents(spark, sf_dir)
        plain = {(r.key, r.value) for r in run_mapreduce(docs, wc_map, wc_reduce).collect()}
        combined = {
            (r.key, r.value)
            for r in run_mapreduce(docs, wc_map, merge=wc_merge).collect()
        }
        assert combined == plain

    def test_combiner_bounds_hot_key_batch(self, spark):
        """VERDICT r01 item 7: one key holding 10^6 values must flow
        through the shim WITHOUT any single fold seeing all of them.
        The guard inside the merge asserts the bound at every level —
        map-side folds see at most one Arrow batch (~10k rows), the
        final fold sees one partial per upstream batch. The plain
        reducef path would materialize all 10^6 in one batch."""
        from tinymapreduce_spark.operators.mapreduce import run_mapreduce

        emits_per_row = 1000
        n_rows = 1000

        def hot_map(_k: str, _v: str):
            for _ in range(emits_per_row):
                yield ("hot", "1")

        def bounded_merge(_key: str, values: list[str]) -> str:
            assert len(values) <= 20_000, f"fold saw {len(values)} values"
            return str(sum(int(v) for v in values))

        df = spark.range(n_rows).selectExpr(
            "CAST(id AS STRING) AS filename", "'x' AS contents"
        ).repartition(8)
        rows = run_mapreduce(df, hot_map, merge=bounded_merge).collect()
        assert rows == [("hot", str(emits_per_row * n_rows))] or (
            len(rows) == 1
            and rows[0].key == "hot"
            and rows[0].value == str(emits_per_row * n_rows)
        )

    def test_combiner_runs_one_python_stage_per_map_task(self, spark, sf_dir):
        """The map-side fold runs inside the map's own mapInPandas: the
        executed plan holds exactly one MapInPandas, below the shuffle
        exchange, so each map task starts one Python runner."""
        import re

        from tinymapreduce_spark.operators.mapreduce import run_mapreduce, wc_map, wc_merge
        from tinymapreduce_spark.sources.loaders import text_documents

        out = run_mapreduce(text_documents(spark, sf_dir), wc_map, merge=wc_merge)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        maps = [m.start() for m in re.finditer(r"\bMapInPandas\b", final)]
        assert len(maps) == 1, final
        assert final.find("Exchange hashpartitioning") < maps[0], final

    def test_reducef_and_merge_are_exclusive(self, spark):
        from tinymapreduce_spark.operators.mapreduce import (
            run_mapreduce,
            wc_map,
            wc_merge,
            wc_reduce,
        )

        df = spark.range(1).selectExpr("'f' AS filename", "'a b' AS contents")
        with pytest.raises(ValueError):
            run_mapreduce(df, wc_map, wc_reduce, merge=wc_merge)
        with pytest.raises(ValueError):
            run_mapreduce(df, wc_map)


def test_decode_image_real_formats_and_compressed_rejection():
    """decode_image is REAL for the trivial formats: BMP survives a
    roundtrip including the bottom-up row order and 4-byte row padding
    (w=5 -> 1 pad byte), a top-down (negative height) BMP decodes to
    the same image orientation, and P6 PPM with header comments parses;
    compressed formats (PNG magic) are still rejected — codec libraries
    are absent by design."""
    import struct

    from tinymapreduce_spark.operators.multimodal import encode_bmp

    w, h = 5, 4
    px = [
        [((x + 3 * y) % 256, (7 * x) % 256, (11 * y) % 256) for x in range(w)]
        for y in range(h)
    ]
    bmp = encode_bmp(w, h, px)
    assert decode_image(bmp) == (w, h, px)

    # top-down variant: negate biHeight and reverse the stored rows
    top_down = bytearray(bmp)
    struct.pack_into("<i", top_down, 22, -h)
    stride = w * 3 + ((-w * 3) % 4)
    body = bmp[54:]
    rows = [body[i * stride : (i + 1) * stride] for i in range(h)]
    top_down[54:] = b"".join(reversed(rows))
    assert decode_image(bytes(top_down)) == (w, h, px)

    ppm = b"P6\n# a comment\n5 4\n255\n" + bytes(
        v for y in range(h) for x in range(w)
        for v in (px[y][x][2], px[y][x][1], px[y][x][0])
    )
    assert decode_image(ppm) == (w, h, px)

    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n")


def test_codec_roundtrips_hypothesis():
    """Property fuzz over the pure-Python codecs: ANY 24-bit image
    (width 1..17 exercises every row-padding class, arbitrary pixel
    bytes) must survive BMP encode→decode exactly, and ANY int16
    sample sequence must survive WAV encode→decode — the same
    model-fuzz posture the manifest/KV tests use."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tinymapreduce_spark.operators.multimodal import (
        decode_image,
        decode_wav,
        encode_bmp,
        encode_wav,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 17),
        h=st.integers(1, 9),
        seed=st.integers(0, 2**31 - 1),
    )
    def bmp_roundtrip(w, h, seed):
        import random

        rng = random.Random(seed)
        px = [
            [tuple(rng.randrange(256) for _ in range(3)) for _ in range(w)]
            for _ in range(h)
        ]
        assert decode_image(encode_bmp(w, h, px)) == (w, h, px)

    @settings(max_examples=50, deadline=None)
    @given(
        samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=300),
        rate=st.sampled_from([8000, 16000, 44100]),
    )
    def wav_roundtrip(samples, rate):
        got_rate, got = decode_wav(encode_wav(samples, rate))
        assert got_rate == rate and got == samples

    bmp_roundtrip()
    wav_roundtrip()


def test_decode_wav_walks_chunks_and_preserves_sign():
    """decode_wav must walk RIFF chunks by declared size (encode_wav
    plants a junk LIST chunk before 'data') and decode little-endian
    int16 with correct sign across the full range."""
    from tinymapreduce_spark.operators.multimodal import decode_wav, encode_wav

    samples = [-32768, -1, 0, 1, 32767, -12345, 12345]
    rate, got = decode_wav(encode_wav(samples, 16000))
    assert rate == 16000 and got == samples
    with pytest.raises(ValueError):
        decode_wav(b"RIFFxxxxNOPE")


def test_tf_cosine_identity_and_disjointness(spark):
    """Constructed guarantees for the sparse-cosine pair op: exact
    duplicate docs score cosine 1.0; docs with disjoint (rare)
    vocabularies never pair."""
    from tinymapreduce_spark.operators.dedup import tf_cosine_pairs_df

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta alpha beta"),
            (2, "alpha beta gamma delta alpha beta"),  # identical to 1
            (3, "epsilon zeta eta theta iota kappa"),  # disjoint vocab
        ],
        "doc_id long, text string",
    )
    rows = {(r.doc_a, r.doc_b): r.cosine for r in tf_cosine_pairs_df(docs).collect()}
    assert rows == {(1, 2): 1.0}


def test_winnowing_shared_substring_guarantee(spark):
    """The MOSS guarantee (Schleimer et al., SIGMOD'03 Thm.): any match
    of length >= k + w - 1 chars (= 11 here) between two documents
    contributes at least one SHARED selected fingerprint. Checked on
    constructed doc pairs embedding a common substring at different
    offsets inside different surrounding text; and a negative control
    with fully disjoint alphabets shares nothing."""
    from tinymapreduce_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fps_df,
    )

    shared = "xylophonequartz"  # 15 chars >= WINNOW_K + WINNOW_W - 1
    assert len(shared) >= WINNOW_K + WINNOW_W - 1
    docs = spark.createDataFrame(
        [
            (1, "aaa bbb ccc " + shared + " ddd eee fff"),
            (2, "zzz " + shared + " yyy www vvv uuu ttt"),
            (3, "qqq rrr sss qqq rrr sss qqq rrr sss"),  # disjoint control
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnow_fps_df(docs).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "docs sharing an 11+ char substring must share a fingerprint"
    assert not (fps[1] & fps[3])


def test_winnow_stop_fingerprints_drop_boilerplate_buckets(spark):
    """A fingerprint shared by more than the hot-fp cap is boilerplate,
    not pair evidence: without the cap a 100 TB template bucket emits
    O(bucket²) pair rows. Docs sharing ONLY the hot template must pair
    with nobody; a pair sharing a genuinely rare substring must survive
    the cap untouched."""
    from tinymapreduce_spark.operators.textstats import winnow_neardup_pairs_df

    template = "commonboilerplateheaderline"
    # long enough that the surviving pair clears WINNOW_SHARED_MIN
    rare = " ".join(f"xylophonequartz{j}" for j in range(40))
    rows = [(i, f"doc {i} unique{i} " + template) for i in range(40)]
    rows += [
        (100, "alpha " + rare + " beta " + template),
        (101, "gamma " + rare + " delta " + template),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnow_neardup_pairs_df(docs, hot_fp_cap=8).collect()
    }
    assert (100, 101) in pairs, "rare shared substring must still pair"
    assert all(p == (100, 101) for p in pairs), (
        f"boilerplate-only docs must not pair: {sorted(pairs)[:5]}"
    )


def test_ngram_default_path_is_hot_shingle_capped(spark, tmp_path):
    """The exact PPJoin tier's REGISTERED default must be the
    scale-safe path (VERDICT r8 #2, the winnow r4 treatment): a planted
    boilerplate template shared by >= DEDUP_HOT_SHINGLE_DF docs
    produces no pairs under the default (its shingles leave the
    universe), the rare-shingle near-dup pair survives, the uncapped
    knob (hot_df_cap=None) still surfaces the boilerplate cluster, and
    DuckDB replays the capped semantics identically on this corpus —
    the one place the cap actually fires (base corpora never reach it).
    """
    import duckdb

    from tinymapreduce_spark.operators.dedup import (
        DEDUP_HOT_SHINGLE_DF,
        DEDUP_NGRAM_SQL,
        ngram_jaccard_pairs,
    )

    letters = lambda i: "".join(chr(97 + int(d)) for d in str(i))  # noqa: E731
    template = " ".join("boiler" + letters(j) for j in range(40))
    rare = " ".join("xq" + letters(j) for j in range(40))
    n_hot = DEDUP_HOT_SHINGLE_DF + 8
    rows = [(i, f"uq{letters(i)} uq{letters(i)}tail " + template) for i in range(n_hot)]
    rows += [
        (9100, "alpha " + rare + " beta"),
        (9101, "gamma " + rare + " delta"),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(4).write.parquet(
        str(sf / "documents.parquet")
    )
    default_pairs = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(spark, str(sf)).collect()
    }
    assert default_pairs == {(9100, 9101)}, (
        "default must keep the rare pair and drop hot-template pairs: "
        f"{sorted(default_pairs)[:5]}"
    )
    # the oracle applies the identical cap on the same corpus
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf}/documents.parquet/*.parquet'"
    )
    oracle_pairs = {
        (a, b) for a, b, *_ in con.sql(DEDUP_NGRAM_SQL).fetchall()
    }
    assert oracle_pairs == default_pairs
    # ground-truth knob: uncapped still surfaces the boilerplate cluster
    exact_pairs = ngram_jaccard_pairs(spark, str(sf), hot_df_cap=None)
    sample = exact_pairs.where("doc_a < 9000 AND doc_b < 9000").limit(1).collect()
    assert sample, "hot_df_cap=None must still emit boilerplate pairs"


def test_winnow_default_path_is_stop_fingerprint_filtered(spark):
    """The REGISTERED query's default must be the scale-safe path: a
    planted boilerplate template shared by > WINNOW_HOT_FP_CAP docs
    produces no pairs under the default (hot buckets dropped in-plan),
    while the rare-substring pair survives; the exact uncapped knob
    (hot_fp_cap=None) still surfaces the boilerplate cluster."""
    from tinymapreduce_spark.operators.textstats import (
        WINNOW_HOT_FP_CAP,
        winnow_neardup_pairs_df,
    )

    template = " ".join(f"commonboilerplateheader{j}" for j in range(40))
    rare = " ".join(f"xylophonequartz{j}" for j in range(40))
    n_hot = WINNOW_HOT_FP_CAP + 8
    rows = [(i, f"doc {i} unique{i} " + template) for i in range(n_hot)]
    rows += [
        (9100, "alpha " + rare + " beta"),
        (9101, "gamma " + rare + " delta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").coalesce(8)
    default_pairs = {
        (r.doc_a, r.doc_b) for r in winnow_neardup_pairs_df(docs).collect()
    }
    assert (9100, 9101) in default_pairs, "rare pair must survive the default cap"
    assert all(p == (9100, 9101) for p in default_pairs), (
        "hot-template buckets must be dropped by default: "
        f"{sorted(default_pairs)[:5]}"
    )
    exact_sample = (
        winnow_neardup_pairs_df(
            spark.createDataFrame(rows[:64] + rows[-2:], "doc_id long, text string"),
            hot_fp_cap=None,
        )
        .where("doc_a < 9000 AND doc_b < 9000")
        .limit(1)
        .collect()
    )
    assert exact_sample, "exact knob must still emit boilerplate pairs"


def test_training_shuffle_positions_are_contiguous(spark, sf_dir):
    """Within every shard, positions must be exactly 1..n (a permutation
    a loader can stream without gaps), and the assignment must be
    reproducible across runs."""
    from tinymapreduce_spark.operators.curation import training_shuffle

    rows = training_shuffle(spark, sf_dir).collect()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), f"shard {shard} has gaps"
    again = {(r.doc_id, r.shard, r.pos) for r in training_shuffle(spark, sf_dir).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_compressibility_signal_direction(spark, sf_dir):
    """The deflate ratio must separate template redundancy from natural
    text: a doc made of one token repeated compresses far better than
    the corpus median, ratios stay in a sane band, and the distributed
    kernel agrees with the local from-scratch compressor on the same
    bytes (zlib-free since r7 — byte counts are pure functions of the
    data, which is what makes the registered form oracle-backed)."""
    from tinymapreduce_spark.functions.inflate import deflate_fixed
    from tinymapreduce_spark.operators.textstats import (
        compressibility_df,
        compressibility_raw,
    )

    rows = compressibility_raw(spark, sf_dir).collect()
    ratios = sorted(r.compress_ratio for r in rows)
    assert all(0.0 < r <= 1.5 for r in ratios)
    median = ratios[len(ratios) // 2]

    spam_text = "spam " * 2000
    spam = spark.createDataFrame([(0, spam_text)], "doc_id long, text string")
    [got] = compressibility_df(spam).collect()
    raw = spam_text.encode("utf-8")
    expected = round(len(deflate_fixed(raw)) / len(raw), 6)
    assert got.compress_ratio == expected
    assert got.compress_ratio < 0.05 < median


def test_compressibility_audit_form(spark, sf_dir):
    """Registered form: the dist-1 RLE leg must equal the closed-form
    size (the SQL oracle's formula) on every corpus doc AND on
    constructed non-ASCII/multibyte docs (where the ORACLE's char-run
    replay would not apply, but the kernel's byte-exactness must), and
    both LZ77 audit booleans must hold everywhere."""
    import zlib

    from tinymapreduce_spark.functions.inflate import deflate_rle, rle_deflate_size
    from tinymapreduce_spark.operators.textstats import (
        compressibility,
        compressibility_audit_df,
    )

    rows = compressibility(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.lz_le_rle and r.lz_le_raw for r in rows)
    assert all(r.rle_bytes >= 2 for r in rows)

    docs = [
        (1, "aaaa" * 300),  # long single-byte runs -> real RLE compression
        (2, "héllo wörld " * 40),  # multibyte: byte runs, 9-bit literals
        (3, "日本語テキスト"),
        (4, "xy" * 500),  # period-2: RLE leg can't compress, LZ77 can
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in compressibility_audit_df(df).collect()}
    for did, text in docs:
        b = text.encode("utf-8")
        assert got[did].rle_bytes == rle_deflate_size(b) == len(deflate_rle(b))
        assert zlib.decompressobj(-15).decompress(deflate_rle(b)) == b
        assert got[did].lz_le_rle
        if all(x < 144 for x in b):  # raw+2 bound is an 8-bit-literal fact
            assert got[did].lz_le_raw
    assert got[1].rle_bytes < got[1].raw_bytes // 10  # runs DO compress
    assert got[4].rle_bytes > got[4].raw_bytes  # period-2 defeats dist-1


def test_audio_energy_empty_and_nonascii_parity(spark):
    """ADVICE r01: (a) zero-length payloads must not crash the whole job
    — both engines emit no row for them; (b) energy is over UTF-8 BYTES,
    so multi-byte characters must agree between Spark (np.frombuffer of
    encode()) and the hex-expanded DuckDB oracle."""
    import duckdb

    from tinymapreduce_spark.operators.multimodal import (
        AUDIO_ENERGY_SQL,
        audio_energy_df,
    )

    rows = [
        (1, "", "s"),
        (2, "héllo wörld — ünïcode", "s"),
        (3, "plain ascii text " * 40, "s"),
        (4, "日本語テキスト", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.doc_id: (r.n_windows, r.total_energy, r.peak_window, r.peak_energy)
        for r in audio_energy_df(df).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = {r[0]: tuple(r[1:]) for r in con.execute(AUDIO_ENERGY_SQL).fetchall()}

    assert 1 not in got, "empty payload must emit no row"
    assert got == want


class TestConnectedComponents:
    def _cc(self, spark, edges):
        from tinymapreduce_spark.operators.graph import connected_components

        df = spark.createDataFrame(edges, "u long, v long")
        return {
            (r.node, r.component) for r in connected_components(df).collect()
        }

    def test_long_chain_converges_fast(self, spark):
        """A 200-node chain has diameter 199 — naive min-label
        propagation would need 199 rounds and trip max_rounds=50; the
        two-phase star contraction must finish in O(log^2 n)."""
        n = 200
        got = self._cc(spark, [(i, i + 1) for i in range(n)])
        assert got == {(i, 0) for i in range(n + 1)}

    def test_matches_union_find(self, spark):
        """Random graph vs a plain union-find reference."""
        import random

        rnd = random.Random(7)
        nodes = list(range(100))
        edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(60)]
        edges = [(u, v) for u, v in edges if u != v]

        parent = {i: i for i in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        in_graph = {u for e in edges for u in e}
        roots = {}
        for x in sorted(in_graph):
            roots.setdefault(find(x), x)
        expect = {(x, roots[find(x)]) for x in in_graph}
        assert self._cc(spark, edges) == expect

    def test_cluster_endpoints_share_component(self, spark, sf_dir):
        """Every near-dup pair's endpoints land in the same cluster, and
        the component label is a member of its own cluster."""
        from tinymapreduce_spark.operators.dedup import dedup_clusters, dedup_ngram_jaccard

        comp = {r.doc_id: r.component for r in dedup_clusters(spark, sf_dir).collect()}
        pairs = dedup_ngram_jaccard(spark, sf_dir).collect()
        assert pairs, "fixture produced no near-dup pairs"
        for r in pairs:
            assert comp[r.doc_a] == comp[r.doc_b]
        assert all(comp[c] == c for c in set(comp.values()))


def test_scd2_intervals_tile(spark, sf_dir):
    """SCD2 version chains: per key exactly one current row (the last),
    and every version's valid_to equals the next version's valid_from —
    no gaps, no overlaps."""
    import collections

    from tinymapreduce_spark.plans.maintenance import scd2_history

    by_cust = collections.defaultdict(list)
    for r in scd2_history(spark, sf_dir).collect():
        by_cust[r.o_custkey].append(r)
    assert by_cust
    for rs in by_cust.values():
        rs.sort(key=lambda r: r.version)
        assert [r.version for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r.is_current for r in rs) == 1 and rs[-1].is_current
        assert rs[-1].valid_to_us is None
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to_us == b.valid_from_us


def test_custom_source_partition_per_file(spark, sf_dir):
    """mr_runs connector: reader parallelism mirrors the run layout —
    exactly one InputPartition per run file, and every row carries the
    file it came from."""
    import os

    from tinymapreduce_spark.sources import mr_runs_source
    from tinymapreduce_spark.sources.textfiles import _ensure_json_runs

    runs_dir = _ensure_json_runs(spark, sf_dir)
    n_files = len(
        [
            f
            for f in os.listdir(runs_dir)
            if not f.startswith((".", "_")) and not f.endswith(".crc")
        ]
    )
    mr_runs_source.register(spark)
    df = spark.read.format("mr_runs").option("path", runs_dir).load()
    assert df.rdd.getNumPartitions() == n_files
    assert df.select("run_file").distinct().count() == n_files


def test_custom_source_filter_pushdown_prunes_partitions(spark, sf_dir):
    """pushFilters contract (Spark 4.1 Python DataSource): a run_file
    equality prunes the partition list to the one matching file and is
    consumed by the source (not re-yielded); unknown-column filters are
    yielded back for Spark. End-to-end, a run_file-filtered read plans
    exactly ONE task and a key-filtered read equals the Spark-side
    filter on the unfiltered read."""
    import os

    from pyspark.sql.datasource import EqualTo, GreaterThan

    from tinymapreduce_spark.sources import mr_runs_source
    from tinymapreduce_spark.sources.mr_runs_source import MrRunsReader
    from tinymapreduce_spark.sources.textfiles import _ensure_json_runs

    runs_dir = _ensure_json_runs(spark, sf_dir)
    files = sorted(
        f
        for f in os.listdir(runs_dir)
        if not f.startswith((".", "_")) and not f.endswith(".crc")
    )
    assert len(files) > 1

    # unit: partition pruning + leftover-filter contract
    reader = MrRunsReader({"path": runs_dir})
    f_file = EqualTo(("run_file",), files[0])
    f_other = GreaterThan(("value",), "0")  # value predicates not handled
    leftover = list(reader.pushFilters([f_file, f_other]))
    assert leftover == [f_other]
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].value == files[0]

    # end-to-end: one task for the pruned read; key pushdown = same rows.
    # NOTE each sub-case gets its OWN load(): Spark 4.1 memoizes the
    # planned scan per relation, so a filtered child's pushdown plan
    # REPLACES the cached plan of a shared parent frame (upstream
    # behavior, measured; see mr_runs_source.py docstring) — fresh
    # loads per query are the contract.
    mr_runs_source.register(spark)
    load = lambda: spark.read.format("mr_runs").option("path", runs_dir).load()  # noqa: E731
    expect_all = sorted((r.key, r.value, r.run_file) for r in load().collect())
    pruned = load().where(F.col("run_file") == files[0])
    assert pruned.rdd.getNumPartitions() == 1
    n0 = pruned.count()
    assert 0 < n0 < len(expect_all)
    pushed = load().where(F.col("key") > "m")
    expect = [t for t in expect_all if t[0] > "m"]
    assert sorted((r.key, r.value, r.run_file) for r in pushed.collect()) == expect


class TestSketches:
    """Mergeable DataSketches aggregates: estimates must stay within the
    configured error envelopes of the exact forms, and the merged ALL row
    must agree with a direct global aggregate (mergeability)."""

    def test_hll_estimates_and_union(self, spark, sf_dir):
        from tinymapreduce_spark.operators.sketches import hll_distinct_merge_raw

        got = {
            r.grp: r.approx_custkeys
            for r in hll_distinct_merge_raw(spark, sf_dir).collect()
        }
        orders = load_table(spark, sf_dir, "orders")
        exact = {
            r.o_orderpriority: r.n
            for r in orders.groupBy("o_orderpriority")
            .agg(F.count_distinct("o_custkey").alias("n"))
            .collect()
        }
        exact["ALL"] = orders.select("o_custkey").distinct().count()
        assert set(got) == set(exact)
        for grp, est in got.items():
            # lgConfigK=12 -> ~1.6% RSE; allow 5 sigma plus integer slack
            assert abs(est - exact[grp]) <= max(3, 0.08 * exact[grp]), (grp, est, exact[grp])

    def test_kll_quantiles_and_merge(self, spark, sf_dir):
        from tinymapreduce_spark.operators.sketches import (
            QUANTILES,
            kll_quantile_merge_raw,
        )

        rows = {r.grp: r for r in kll_quantile_merge_raw(spark, sf_dir).collect()}
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
        )
        for grp, row in rows.items():
            src = li if grp == "ALL" else li.where(F.col("l_returnflag") == grp)
            vals = sorted(r.price for r in src.collect())
            for q in QUANTILES:
                est = getattr(row, f"p{int(q * 100)}")
                # KLL k=200 -> ~1.3% rank error; check the estimate's RANK
                import bisect

                rank = bisect.bisect_right(vals, est) / len(vals)
                assert abs(rank - q) <= 0.03, (grp, q, est, rank)

    def test_cms_overestimates_within_bound(self, spark, sf_dir):
        from tinymapreduce_spark.functions.text import tokens
        from tinymapreduce_spark.operators.sketches import (
            CMS_WIDTH,
            cms_heavy_hitters,
        )

        est = {r.token: r.est_count for r in cms_heavy_hitters(spark, sf_dir).collect()}
        tok = load_table(spark, sf_dir, "documents").select(
            F.explode(tokens("text")).alias("token")
        )
        exact = {
            r.token: r.n
            for r in tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        total = sum(exact.values())
        # CMS guarantees: never under-estimates; over-estimate bounded by
        # eps*N per row with eps = e/width (min over depth rows only helps)
        eps_n = (2.718281828 / CMS_WIDTH) * total
        for token, e in est.items():
            assert e >= exact[token], (token, e, exact[token])
            assert e - exact[token] <= max(3, 3 * eps_n), (token, e, exact[token])
        # with ~30 distinct tokens the top-1 exact heavy hitter must surface
        top_exact = max(exact, key=lambda t: (exact[t], t))
        assert top_exact in est


class TestEmbeddingQuantize:
    def test_reconstruction_error_bounded(self, spark, sf_dir):
        """Dequantized values must sit within one quantization step of the
        original: |x - (q*scale + mn)| < scale = (mx-mn)/QUANT_LEVELS."""
        from pyspark.sql import functions as F

        from tinymapreduce_spark.operators.similarity import QUANT_LEVELS
        from tinymapreduce_spark.sources.loaders import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        a = F.transform(F.col("embedding"), lambda x: x.cast("double"))
        d = emb.select("vec_id", a.alias("a")).select(
            "vec_id", "a", F.array_min("a").alias("mn"), F.array_max("a").alias("mx")
        )
        rng = F.col("mx") - F.col("mn")
        scale = rng / QUANT_LEVELS
        code = F.transform(
            F.col("a"),
            lambda x: F.least(
                F.lit(QUANT_LEVELS),
                F.greatest(F.lit(0), F.floor((x - F.col("mn")) * QUANT_LEVELS / rng)),
            ).cast("int"),
        )
        err = F.array_max(
            F.zip_with(F.col("a"), code, lambda x, q: F.abs(x - (q * scale + F.col("mn"))))
        )
        bad = (
            d.where(rng > 0)
            .select((err <= scale * 1.0000001).alias("ok"))
            .where(~F.col("ok"))
            .count()
        )
        assert bad == 0


class TestSemDeDup:
    def test_recall_and_precision(self, spark, sf_dir):
        from tinymapreduce_spark.functions.vectors import cosine_similarity
        from tinymapreduce_spark.operators.similarity import (
            SEMDEDUP_THRESHOLD,
            semdedup_drops,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
        exact_pairs = (
            a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.round(cosine_similarity(F.col("emb_a"), F.col("emb_b")), 6).alias("cos"),
            )
            .where(F.col("cos") >= SEMDEDUP_THRESHOLD)
        )
        true_by_id = {}
        for r in exact_pairs.collect():
            true_by_id.setdefault(r.id_b, set()).add(r.id_a)
        drops = semdedup_drops(spark, sf_dir).collect()
        got_ids = {r.vec_id for r in drops}
        # recall vs the exact all-pairs ground truth
        recall = len(got_ids & set(true_by_id)) / max(len(true_by_id), 1)
        assert recall >= 0.75, recall
        # precision = 1: every emitted decision is a true near-dup pair
        # with the keeper below the dropped id
        for r in drops:
            assert r.kept_by < r.vec_id
            assert r.kept_by in true_by_id[r.vec_id]

    def test_occupancy_scaled_k_fires_and_oracle_replays_it(self, spark, tmp_path):
        """The REGISTERED shape's k derives from the corpus size
        (VERDICT r8 #1): on a planted 3000-vector corpus the rule fires
        (k = 3000 // 250 = 12 > the k=8 floor), the trained codebook
        really has 12 cells, and DuckDB's kp CTE derives the identical
        k — the full pipeline (training included) still hash-matches on
        a corpus where fixed-k and derived-k would diverge."""
        import duckdb

        from tinymapreduce_spark.operators.similarity import (
            _SEMDEDUP_CENT_CACHE,
            _semdedup_k,
            SEMDEDUP_DROPS_SQL,
            semdedup_drops,
        )

        n = 3000
        rows = [
            (i, [((i * 31 + d * 17) % 97) / 97.0 for d in range(16)], i % 5)
            for i in range(n)
        ]
        sf = tmp_path / "sf"
        sf.mkdir()
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).coalesce(4).write.parquet(str(sf / "embeddings.parquet"))

        got = {
            (r.vec_id, r.kept_by, r.cosine)
            for r in semdedup_drops(spark, str(sf)).collect()
        }
        emb = load_table(spark, str(sf), "embeddings")
        k = _semdedup_k(str(sf), emb)
        assert k == 12
        assert len(_SEMDEDUP_CENT_CACHE[(str(sf), 12)]) == 12

        con = duckdb.connect()
        con.sql(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{sf}/embeddings.parquet/*.parquet'"
        )
        want = {(v, kb, c) for v, kb, c in con.sql(SEMDEDUP_DROPS_SQL).fetchall()}
        assert got == want
        assert got, "planted corpus must produce at least one drop"


class TestPageRank:
    def _toy(self, spark):
        # A -> B -> C -> A plus dangling D fed by A
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], "src string, dst string"
        )
        nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "node string")
        return nodes, edges

    def test_matches_handwritten_power_iteration(self, spark):
        from tinymapreduce_spark.operators.graph import PR_DAMPING, PR_ITERS, pagerank

        nodes, edges = self._toy(spark)
        got = {r.node: r.rank for r in pagerank(nodes, edges).collect()}
        # same iteration, dangling-redistribution convention, in pure python
        adj = {"a": ["b", "d"], "b": ["c"], "c": ["a"]}
        ranks = {n: 0.25 for n in "abcd"}
        for _ in range(PR_ITERS):
            mass = {n: 0.0 for n in "abcd"}
            dangling = sum(v for n, v in ranks.items() if n not in adj)
            for n, outs in adj.items():
                for o in outs:
                    mass[o] += ranks[n] / len(outs)
            ranks = {
                n: (1 - PR_DAMPING) / 4 + PR_DAMPING * (mass[n] + dangling / 4)
                for n in "abcd"
            }
        for n in "abcd":
            assert got[n] == pytest.approx(ranks[n], abs=1e-12), n

    def test_partial_in_coverage_source_node(self, spark):
        """A graph with a pure SOURCE node (no in-edges) exercises the
        nodes-left-join branch that full-in-coverage graphs (the toy
        above, any symmetrized graph) skip: the source's rank must decay
        toward the teleport floor, not vanish from the output."""
        from pyspark.sql import functions as F

        from tinymapreduce_spark.operators.graph import PR_DAMPING, PR_ITERS, pagerank

        edges = spark.createDataFrame(
            [("s", "a"), ("a", "b"), ("b", "a")], "src string, dst string"
        )
        nodes = spark.createDataFrame([("s",), ("a",), ("b",)], "node string")
        got = {r.node: r.rank for r in pagerank(nodes, edges).collect()}
        assert set(got) == {"s", "a", "b"}
        adj = {"s": ["a"], "a": ["b"], "b": ["a"]}
        ranks = {n: 1 / 3 for n in "sab"}
        for _ in range(PR_ITERS):
            mass = {n: 0.0 for n in "sab"}
            for n, outs in adj.items():
                for o in outs:
                    mass[o] += ranks[n] / len(outs)
            ranks = {
                n: (1 - PR_DAMPING) / 3 + PR_DAMPING * mass[n] for n in "sab"
            }
        for n in "sab":
            assert got[n] == pytest.approx(ranks[n], abs=1e-12), n

    def test_assume_full_coverage_matches_generic_path(self, spark):
        """The assume_full_coverage fast path must be bit-identical to
        the generic (detecting) path whenever the assertion holds — here
        on a symmetrized toy graph where every node has in+out edges."""
        from tinymapreduce_spark.operators.graph import pagerank

        rel = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")]
        both = rel + [(y, x) for x, y in rel]
        edges = spark.createDataFrame(both, "src string, dst string")
        nodes = spark.createDataFrame([(n,) for n in "abcd"], "node string")
        generic = {r.node: r.rank_i for r in pagerank(nodes, edges).collect()}
        fast = {
            r.node: r.rank_i
            for r in pagerank(nodes, edges, assume_full_coverage=True).collect()
        }
        assert generic == fast

    def test_mass_conserved_and_deterministic(self, spark, sf_dir):
        from tinymapreduce_spark.operators.graph import pagerank_trade

        top = pagerank_trade(spark, sf_dir)
        first = [(r.node, r.rank) for r in top.collect()]
        assert len(first) == 20
        assert first == sorted(first, key=lambda t: (-t[1], t[0]))
        again = [(r.node, r.rank) for r in pagerank_trade(spark, sf_dir).collect()]
        assert first == again


class TestKMeans:
    def test_inertia_monotone_and_clusters_nonempty(self, spark, sf_dir):
        from tinymapreduce_spark.operators.clustering import (
            K_CLUSTERS,
            kmeans_clusters,
            kmeans_inertia_per_round,
        )

        inertias = kmeans_inertia_per_round(spark, sf_dir)
        # Lloyd's never increases inertia — up to quantization slack:
        # centroid updates floor to the integer grid, shifting each of
        # the D coords by < 1, which can raise a vector's squared
        # distance by at most sum_d (2|q_d - c_d| + 1) <= D*(2R+1)
        # (R = full quantized coordinate range).
        n_vecs = 500 if "0.01" in sf_dir else 5000
        slack = n_vecs * 64 * (2 * (1 << 21) + 1)
        for a, b in zip(inertias, inertias[1:]):
            assert b <= a + slack, inertias
        rows = kmeans_clusters(spark, sf_dir).collect()
        assert sum(r.n_vecs for r in rows) == 500
        assert {r.cluster for r in rows} <= set(range(K_CLUSTERS))
        assert all(r.n_vecs > 0 for r in rows)


class TestPerceptron:
    def test_training_learns_the_label(self, spark, sf_dir):
        """4 rounds of centered batch perceptron must actually learn the
        separable target (accuracy >= 0.95 observed 0.99 at both SFs) —
        guards against a future feature/offset change silently breaking
        convergence while parity still passes (the oracle replays
        whatever the constants are, right or wrong)."""
        from tinymapreduce_spark.operators.classifier import perceptron_quality

        rows = perceptron_quality(spark, sf_dir).collect()
        assert len(rows) > 0
        acc = sum(1 for r in rows if r.pred == r.label) / len(rows)
        assert acc >= 0.95, acc
        # both classes must be present in predictions (not a constant model)
        assert {r.pred for r in rows} == {0, 1}


class TestEquidepthSampled:
    def test_buckets_near_uniform_and_ordered(self, spark, sf_dir):
        """The sampled two-pass bucketing must approximate the exact
        ntile populations (within 2% of N/10 at accuracy=10k) and keep
        bucket value-ranges ordered and non-overlapping."""
        from tinymapreduce_spark.plans.analytics import N_DECILES, equidepth_sampled_raw

        rows = sorted(
            equidepth_sampled_raw(spark, sf_dir).collect(), key=lambda r: r.decile
        )
        n = sum(r.n_orders for r in rows)
        target = n / N_DECILES
        assert len(rows) == N_DECILES
        for r in rows:
            assert abs(r.n_orders - target) <= max(2, 0.02 * target), (r.decile, r.n_orders)
        for a, b in zip(rows, rows[1:]):
            assert a.hi <= b.lo, (a.decile, a.hi, b.lo)


def test_text_normalize_nfc_and_control_strip(spark):
    """The Unicode path the ASCII corpus can't exercise: combining
    sequences fold to precomposed forms (decomposed 'e'+U+0301 hashes
    identically to precomposed U+00E9), control chars are stripped
    (tab/newline kept), and the two independent NFC implementations
    (Python unicodedata vs DuckDB nfc_normalize) agree on the md5."""
    import duckdb

    from tinymapreduce_spark.operators.textstats import (
        TEXT_NORMALIZE_SQL,
        text_normalize_df,
    )

    rows = [
        (1, "café résumé", "s"),          # precomposed
        (2, "café résumé", "s"),        # decomposed, same rendering
        (3, "tab\there\nline\x07bell\x00nul\x9f", "s"),   # controls
        (4, "plain ascii", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.doc_id: (r.clean_md5, r.changed, r.n_control_stripped)
        for r in text_normalize_df(df.select("doc_id", "text")).collect()
    }
    # NFC folds 2 onto 1: identical clean hashes, doc 2 flagged changed
    assert got[1][0] == got[2][0]
    assert got[1][1] is False and got[2][1] is True
    assert got[3][2] == 3  # bell, nul, U+009F stripped; tab/newline kept
    assert got[4] == (got[4][0], False, 0)

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(TEXT_NORMALIZE_SQL).fetchall()}
    assert got == want


class TestDupPassageCoverage:
    def test_hand_computed_coverage_on_constructed_docs(self, spark):
        """A (13 tokens) and B (28 tokens) share exactly one 8-token
        passage; C shares nothing. Windows are 8 tokens, so A has the
        passage at positions 3..10 (one dup window start s=3), B at
        11..18 (s=11); coverage is 8 tokens in each; C is 0."""
        from tinymapreduce_spark.operators.dedup import dup_passage_coverage_df

        passage = " ".join(f"p{i}" for i in range(8))
        a = f"a one two {passage} a tail"  # 3 + 8 + 2 = 13 tokens
        b = f"{' '.join(f'b{i}' for i in range(10))} {passage} {' '.join(f'c{i}' for i in range(10))}"
        c = " ".join(f"z{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in dup_passage_coverage_df(docs).collect()}
        assert got[1].n_tokens == 13 and got[1].n_covered == 8
        assert got[2].n_tokens == 28 and got[2].n_covered == 8
        assert got[3].n_covered == 0 and got[3].dup_coverage == 0.0
        assert got[1].dup_coverage == round(8 / 13, 6)

    def test_overlapping_windows_union_not_sum(self, spark):
        """Two docs share a 10-token passage -> 3 overlapping dup
        windows per doc; coverage must count the union (10 tokens), not
        3*8."""
        from tinymapreduce_spark.operators.dedup import dup_passage_coverage_df

        passage = " ".join(f"q{i}" for i in range(10))
        docs = spark.createDataFrame(
            [(1, f"x1 x2 {passage}"), (2, f"y1 y2 y3 {passage}")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in dup_passage_coverage_df(docs).collect()}
        assert got[1].n_covered == 10
        assert got[2].n_covered == 10


class TestBm25:
    def test_matches_pure_python_bm25(self, spark, sf_dir):
        """Independent mini-oracle: recompute BM25 for every (query,
        doc) in pure Python over the same corpus (float arithmetic —
        agreement within 1e-6 of the engine's exact-integer algebra)
        and check the engine's top-k matches the Python ranking."""
        import math
        import re
        from collections import Counter

        from tinymapreduce_spark.operators.retrieval import (
            BM25_QUERIES,
            BM25_TOPK,
            bm25_topk,
        )
        from tinymapreduce_spark.sources.loaders import load_table

        rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        toks = {r.doc_id: [t for t in re.split(r"[^A-Za-z]+", r.text) if t] for r in rows}
        dl = {d: len(ts) for d, ts in toks.items()}
        n_docs = len(dl)
        avgdl = sum(dl.values()) / n_docs
        tf = {d: Counter(ts) for d, ts in toks.items()}
        k1, b = 1.2, 0.75

        def idf(term):
            df = sum(1 for d in tf if term in tf[d])
            return math.log(1 + (n_docs - df + 0.5) / (df + 0.5))

        expected = {}
        for qid, terms in BM25_QUERIES:
            scores = {}
            for d in tf:
                s = 0.0
                for t in terms:
                    f = tf[d].get(t, 0)
                    if f:
                        s += idf(t) * f * (k1 + 1) / (f + k1 * (1 - b + b * dl[d] / avgdl))
                if s:
                    scores[d] = s
            top = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:BM25_TOPK]
            expected[qid] = [(d, round(s, 6)) for d, s in top]

        got = {}
        for r in bm25_topk(spark, sf_dir).collect():
            got.setdefault(r.query_id, []).append((r.doc_id, r.score))
        for qid in expected:
            g = got[qid]
            assert [d for d, _ in g] == [d for d, _ in expected[qid]], (qid, g, expected[qid])
            for (gd, gs), (ed, es) in zip(g, expected[qid]):
                assert abs(gs - es) < 2e-6, (qid, gd, gs, es)


def test_incremental_minhash_subset_of_exact_cross_pairs(spark, sf_dir):
    """The incremental near-dup output must be exactly the cross-split
    (new x base) slice of what the full minhash tier finds — no
    base x base or new x new leakage — and a subset of the exact ngram
    ground truth."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.operators.dedup import (
        dedup_incremental_minhash,
        dedup_ngram_jaccard,
    )
    from tinymapreduce_spark.sources.loaders import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = {
        r.doc_id: r.flag
        for r in docs.select(
            "doc_id",
            (
                F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
                .cast("int") < 64
            ).alias("flag"),
        ).collect()
    }
    inc = [(r.new_doc, r.base_doc) for r in dedup_incremental_minhash(spark, sf_dir).collect()]
    for new_doc, base_doc in inc:
        assert is_new[new_doc] and not is_new[base_doc], (new_doc, base_doc)
    exact = {
        frozenset((r.doc_a, r.doc_b))
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert all(frozenset(p) in exact for p in inc)
    # recall on the cross-split slice of the exact graph
    cross = [p for p in exact if len({is_new[d] for d in p}) == 2]
    if cross:
        assert len(inc) / len(cross) >= 0.8


def test_hll_portable_estimate_within_bound(spark, sf_dir):
    """The from-scratch portable HLL (512 registers, rel. std. error
    ~4.6%) must land within 15% (>3 sigma) of the exact distinct count
    for every group AND for the merged ALL row — and the ALL row must
    come out of the register-MAX union, i.e. equal the estimate of the
    union of the groups, not the sum of their estimates."""
    from tinymapreduce_spark.operators.sketches import hll_portable_distinct

    orders = load_table(spark, sf_dir, "orders")
    exact = {
        r.grp: r.n
        for r in orders.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["ALL"] = orders.select("o_custkey").distinct().count()
    got = {r.grp: r.approx_custkeys for r in hll_portable_distinct(spark, sf_dir).collect()}
    assert set(got) == set(exact)
    for grp, n in exact.items():
        assert abs(got[grp] - n) / n <= 0.15, (grp, got[grp], n)


def test_digit_bucket_quantiles_error_bounded(spark, sf_dir):
    """The two-significant-digit bucket quantiles must sit within one
    bucket width BELOW the exact percentile (floor convention): exact *
    0.9 <= est <= exact, for every group and the merged ALL row."""
    from tinymapreduce_spark.operators.sketches import Q_PCTS, digit_bucket_quantiles

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    pct = [float(q) for q in Q_PCTS]
    exact = {
        r.grp: r.ps
        for r in li.groupBy("grp").agg(F.percentile("price", F.lit(pct)).alias("ps")).collect()
    }
    exact["ALL"] = li.agg(F.percentile("price", F.lit(pct)).alias("ps")).collect()[0].ps
    got = {r.grp: r for r in digit_bucket_quantiles(spark, sf_dir).collect()}
    assert set(got) == set(exact)
    for grp, ps in exact.items():
        for q, ex in zip(Q_PCTS, ps):
            est = got[grp][f"p{int(q * 100)}"]
            assert ex * 0.9 - 0.01 <= est <= ex + 0.01, (grp, q, est, ex)


def test_h60_cross_engine_fuzz(spark):
    """The portable hash PRIMITIVE everything round-2 rests on: for a
    pile of adversarial strings (unicode, quotes, long runs, digits),
    Spark's h60 and the DuckDB spelling must agree exactly."""
    import random

    import duckdb

    from tinymapreduce_spark.functions.hashing import H60_SQL_TMPL, h60

    rng = random.Random(42)
    alphabet = "abcXYZ0189 \t'\"|,;:!@#$%^&*()_+=-éüñ中文🎲"
    cases = ["", "a", " ", "0:x"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 80)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {r.s: r.h for r in df.select("s", h60(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    expr = H60_SQL_TMPL.format(expr="s")
    for s in cases:
        want = con.execute(f"SELECT {expr} FROM (VALUES (?)) t(s)", [s]).fetchone()[0]
        assert got[s] == want, repr(s)


def test_registry_and_coverage_in_sync():
    """Guardrail for the driver contract and the judge-facing inventory:
    every oracle key must have a queries() entry (a dangling oracle
    would crash the driver's compare), and every registered query must
    be documented in COVERAGE.md by its backtick-quoted key."""
    import os

    import __spark_entry__ as entrymod

    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert not set(o) - set(q), f"oracles without queries: {sorted(set(o) - set(q))}"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md"), encoding="utf-8") as f:
        cov = f.read()
    missing = [k for k in q if f"`{k}`" not in cov]
    assert not missing, f"queries undocumented in COVERAGE.md: {missing}"
    # and bench.py's headline list must only name registered queries
    import bench

    unknown = [k for k in bench.HEADLINE if k not in q]
    assert not unknown, f"bench names unregistered queries: {unknown}"


def test_bpe_toy_corpus_hand_verified(spark, tmp_path):
    """BPE merge learning on a corpus small enough to verify by hand
    (cat x4, mat x2, sat x1). Exercises the full semantics: corpus-
    weighted pair counts, the (n DESC, x, y) tie-break ((a,t) beats
    (t,</w>) at n=7), fully-merged single-symbol words dropping out of
    pair extraction, and rounds 6-8 finding no pairs left (the argmax
    is empty -> no rule row, vocabulary unchanged)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tinymapreduce_spark.operators import tokenizer

    texts = ["cat cat cat sat", "mat mat cat"]
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1], pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["toy", "toy"], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    rows = [tuple(r) for r in tokenizer.bpe_train_merges(spark, str(tmp_path)).collect()]
    assert rows == [
        (1, "a", "t", "at", 7),
        (2, "at", "</w>", "at</w>", 7),
        (3, "c", "at</w>", "cat</w>", 4),
        (4, "m", "at</w>", "mat</w>", 2),
        (5, "s", "at</w>", "sat</w>", 1),
    ]


def test_hll_overlap_tracks_exact_intersections(spark, sf_dir):
    """Inclusion-exclusion overlap estimates must track the exact
    year-pair customer intersections. Each of the three estimates
    carries ~4.6% std error (512 registers; small cardinalities sit in
    the near-exact linear-counting regime), and the subtraction
    compounds them — 35% relative headroom is far outside normal
    variation while still catching any register/union bug."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.operators.sketches import hll_overlap
    from tinymapreduce_spark.sources.loaders import load_table

    got = {(r.ya, r.yb): r.approx_overlap for r in hll_overlap(spark, sf_dir).collect()}
    assert len(got) >= 5

    y = (
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").cast("long").alias("yr"), F.col("o_custkey").alias("k"))
        .distinct()
    )
    a, b = y.alias("a"), y.alias("b")
    exact = {
        (r.ya, r.yb): r.ov
        for r in a.join(b, (F.col("b.k") == F.col("a.k")) & (F.col("b.yr") == F.col("a.yr") + 1))
        .groupBy(F.col("a.yr").alias("ya"), F.col("b.yr").alias("yb"))
        .agg(F.count(F.lit(1)).alias("ov"))
        .collect()
    }
    assert set(got) == set(exact)
    for pair, est in got.items():
        assert abs(est - exact[pair]) / exact[pair] < 0.35, (pair, est, exact[pair])


def test_token_budget_mix_fills_but_never_overshoots_by_a_doc(spark, sf_dir):
    """Greedy fill contract: every source with a positive budget keeps
    at least min(budget, available) tokens, and overshoots its budget by
    at most ONE document (the keep rule admits a doc iff the tokens
    BEFORE it are under budget)."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.operators.curation import token_budget_mix
    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    out = {r.source: r for r in token_budget_mix(spark, sf_dir).collect()}
    assert out
    ws = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    max_doc = {
        r.source: r.mx
        for r in documents_for_cpu(spark, sf_dir)
        .select("source", F.size(ws).cast("long").alias("n"))
        .groupBy("source")
        .agg(F.max("n").alias("mx"))
        .collect()
    }
    for src, r in out.items():
        assert r.tokens_kept >= min(r.budget_tokens, r.src_tokens), src
        if r.tokens_kept > r.budget_tokens:
            assert r.tokens_kept - r.budget_tokens < max_doc[src], src


def test_exact_quota_split_hits_integer_quotas_per_stratum(spark, sf_dir):
    """Per stratum: train = floor(n*8/10), val = floor(n/10), test =
    remainder — exactly, not in expectation."""
    from tinymapreduce_spark.operators.curation import exact_quota_split

    rows = exact_quota_split(spark, sf_dir).collect()
    per_lang: dict[str, dict[str, int]] = {}
    for r in rows:
        per_lang.setdefault(r.lang, {})[r.split] = r.n_docs
    assert per_lang
    for lang, splits in per_lang.items():
        n = sum(splits.values())
        assert splits.get("train", 0) == n * 8 // 10, lang
        assert splits.get("val", 0) == n * 1 // 10, lang
        assert splits.get("test", 0) == n - n * 8 // 10 - n * 1 // 10, lang


def test_content_chunking_survives_prefix_insertion(spark):
    """The defining CDC property (LBFS/FastCDC): inserting text near the
    START of a document shifts every downstream offset, yet almost all
    content-defined chunks re-align and dedup — where fixed-offset
    chunking of the same pair shares (almost) nothing."""
    from pyspark.sql import functions as F

    from tinymapreduce_spark.operators.dedup import content_chunks_df

    # deterministic varied text (LCG over A..Z + spaces), ~4000 chars
    x, out = 12345, []
    for _ in range(4000):
        x = (x * 1103515245 + 12345) % (1 << 31)
        out.append(" " if x % 7 == 0 else chr(65 + x % 26))
    base = "".join(out)
    shifted = "INSERTED PREFIX 0123456789. " + base
    docs = spark.createDataFrame(
        [(1, "s", base), (2, "s", shifted)],
        "doc_id long, source string, text string",
    )
    per_doc = {
        r.doc_id: r.chunks
        for r in content_chunks_df(docs)
        .groupBy("doc_id")
        .agg(F.collect_list("chunk").alias("chunks"))
        .collect()
    }
    a, b = per_doc[1], per_doc[2]
    assert len(a) > 20  # the divisor rule actually fired many times
    shared = set(a) & set(b)
    # everything beyond the insertion's hash window re-aligns: at most
    # the first couple of chunks differ
    assert len(shared) >= len(a) - 2
    # contrast: fixed-offset 64-char chunking shares nothing after an
    # unaligned prefix insertion
    fixed_a = {base[i : i + 64] for i in range(0, len(base), 64)}
    fixed_b = {shifted[i : i + 64] for i in range(0, len(shifted), 64)}
    assert len(fixed_a & fixed_b) == 0


class TestHybridRrf:
    """Fusion semantics of retrieval.hybrid_rrf_retrieval: membership,
    score reconstruction, and rank monotonicity (the oracle-parity suite
    hash-checks the values; these pin the RRF contract itself)."""

    def test_fusion_contract(self, spark, sf_dir):
        from tinymapreduce_spark.operators.retrieval import (
            RRF_K,
            RRF_POOL,
            RRF_TOP_K,
            hybrid_rrf_retrieval,
        )

        rows = hybrid_rrf_retrieval(spark, sf_dir).collect()
        assert rows, "fusion produced no rows"
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
            # membership: reached the fusion through at least one ranker,
            # and any present rank is within the pool
            assert r.r_dense is not None or r.r_lex is not None
            for rk in (r.r_dense, r.r_lex):
                if rk is not None:
                    assert 1 <= rk <= RRF_POOL
            # score reconstruction from the per-ranker ranks
            want = sum(1.0 / (RRF_K + rk) for rk in (r.r_dense, r.r_lex) if rk)
            assert abs(r.rrf - round(want, 9)) < 1e-12
        for q, lst in by_q.items():
            lst.sort(key=lambda r: r.rank)
            assert [r.rank for r in lst] == list(range(1, len(lst) + 1))
            assert len(lst) <= RRF_TOP_K
            # rrf non-increasing with rank; doc_id breaks ties ascending
            for a, b in zip(lst, lst[1:]):
                assert (a.rrf, -a.doc_id) >= (b.rrf, -b.doc_id)

    def test_ndcg_bounds(self, spark, sf_dir):
        """The audit metric is a true nDCG: per query 0 <= dcg <= idcg
        (ndcg in [0, 1]), and a fusion that surfaces any bigram-graded
        doc scores strictly above zero."""
        from tinymapreduce_spark.operators.retrieval import hybrid_rrf_ndcg

        rows = hybrid_rrf_ndcg(spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0.0 <= r.ndcg <= 1.0
            assert r.dcg >= 0.0
        # the bigram judge correlates with both rankers on this corpus —
        # an all-zero metric means the fusion lost the relevance signal
        assert max(r.ndcg for r in rows) > 0.0

    def test_degraded_dense_lowers_ndcg(self, spark, sf_dir):
        """The judge signal (bigram overlap) is independent of both
        rankers, so corrupting the dense ranker MUST drag the audited
        nDCG down — the property the old dense-top-10-as-truth grading
        structurally could not detect (it graded the fusion by the very
        ranker being fused). Corruption = reversing the dense pool
        order (the worst pool permutation)."""
        from pyspark.sql import functions as F

        from tinymapreduce_spark.operators.retrieval import (
            RRF_POOL,
            _bigram_grades,
            _fuse,
            _hybrid_parts,
            _ndcg_of,
        )
        from tinymapreduce_spark.sources.loaders import documents_for_cpu

        docs = documents_for_cpu(spark, sf_dir)
        dense, lex, fused = _hybrid_parts(docs)
        grades = _bigram_grades(docs)
        healthy = _ndcg_of(fused, grades).collect()
        reversed_dense = dense.select(
            "query_id",
            "doc_id",
            (F.lit(RRF_POOL + 1) - F.col("r_dense")).alias("r_dense"),
        )
        degraded = _ndcg_of(_fuse(reversed_dense, lex), grades).collect()
        mean_h = sum(r.ndcg for r in healthy) / len(healthy)
        mean_d = sum(r.ndcg for r in degraded) / len(degraded)
        assert mean_d < mean_h, (mean_d, mean_h)


class TestImagePhashDedup:
    """Image near-dup semantics: the banded Hamming join must equal the
    brute-force truth (pigeonhole completeness at hamming <= 3 over 4
    bands), and on the synthetic corpus every near-dup pair shares a
    group (the base image) — zero cross-group noise."""

    def test_pairs_are_same_group_and_banding_is_complete(self, spark, sf_dir):
        from tinymapreduce_spark.operators.multimodal import (
            PH_GROUPS,
            PH_MAX_HAMMING,
            PH_PIX,
            _ahash_bands,
            image_phash_dedup,
        )

        rows = image_phash_dedup(spark, sf_dir).collect()
        assert rows, "no near-dup pairs found"
        for r in rows:
            assert r.id_a % PH_GROUPS == r.id_b % PH_GROUPS, (r.id_a, r.id_b)
            assert 0 <= r.hamming <= PH_MAX_HAMMING
        # brute-force truth straight from the formula (no Spark, no BMP)
        ids = sorted({r.id_a for r in rows} | {r.id_b for r in rows})
        n_docs = max(ids) + 1
        hashes = {}
        for d in range(n_docs):
            px = [[(PH_PIX(d, x, y),) * 3 for x in range(8)] for y in range(8)]
            b = _ahash_bands(px)
            hashes[d] = (b[0]) | (b[1] << 16) | (b[2] << 32) | (b[3] << 48)
        want = set()
        docs = sorted(hashes)
        for i, a in enumerate(docs):
            for b in docs[i + 1 :]:
                ham = bin(hashes[a] ^ hashes[b]).count("1")
                if ham <= PH_MAX_HAMMING:
                    want.add((a, b, ham))
        got = {(r.id_a, r.id_b, r.hamming) for r in rows}
        assert got == want


def test_g711_expansions_match_canonical_tables():
    """The CCITT G.711 anchor points every published table agrees on:
    u-law spans +-32124 with 0xFF/0x7F the two zero codes; A-law spans
    +-32256 with 0xD5 -> +8 and 0x55 -> -8 (sign bit 1 = POSITIVE in
    A-law — the classic trap), and both expansions are odd-symmetric
    under their sign-bit flip."""
    from tinymapreduce_spark.operators.multimodal import alaw_expand, ulaw_expand

    u = [ulaw_expand(c) for c in range(256)]
    a = [alaw_expand(c) for c in range(256)]
    assert (min(u), max(u)) == (-32124, 32124)
    assert (min(a), max(a)) == (-32256, 32256)
    assert ulaw_expand(0xFF) == 0 and ulaw_expand(0x7F) == 0
    assert alaw_expand(0xD5) == 8 and alaw_expand(0x55) == -8
    for c in range(256):
        assert ulaw_expand(c ^ 0x80) == -ulaw_expand(c)
        assert alaw_expand(c ^ 0x80) == -alaw_expand(c)


def test_g711_wav_container_roundtrip():
    """Format-7/6 RIFF containers decode through the same chunk walker
    as PCM16 (junk LIST chunk included), expanding to linear PCM."""
    from tinymapreduce_spark.operators.multimodal import (
        alaw_expand,
        decode_wav,
        encode_wav_g711,
        ulaw_expand,
    )

    codes = [(7 * 3 + 13 * i) % 256 for i in range(41)]  # odd length: pad
    rate, got = decode_wav(encode_wav_g711(codes, "ulaw", 8000))
    assert rate == 8000 and got == [ulaw_expand(c) for c in codes]
    rate, got = decode_wav(encode_wav_g711(codes, "alaw", 16000))
    assert rate == 16000 and got == [alaw_expand(c) for c in codes]


class TestSegmentDedupClean:
    def test_kept_segments_are_corpus_unique(self, spark, sf_dir):
        from tinymapreduce_spark.operators.dedup import (
            SEG_WORDS,
            segment_dedup_clean,
        )

        out = segment_dedup_clean(spark, sf_dir).toPandas()
        # every doc is accounted for and never gains segments
        assert (out.n_kept <= out.n_segments).all()
        assert (out.n_kept >= 0).all()
        # total kept == number of DISTINCT segments in the corpus (each
        # distinct segment survives exactly once, in its first home)
        from pyspark.sql import functions as F

        from tinymapreduce_spark.functions.text import tokens
        from tinymapreduce_spark.sources.loaders import load_table

        docs = load_table(spark, sf_dir, "documents").select(
            tokens("text").alias("t")
        )
        t = F.col("t")
        nseg = F.floor((F.size(t) + SEG_WORDS - 1) / SEG_WORDS).cast("int")
        segs = docs.select(
            F.explode(
                F.transform(
                    F.when(F.size(t) > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
                        F.array().cast("array<int>")
                    ),
                    lambda i: F.array_join(
                        F.slice(t, i * SEG_WORDS + 1, SEG_WORDS), " "
                    ),
                )
            ).alias("segment")
        )
        assert int(out.n_kept.sum()) == segs.distinct().count()

    def test_constructed_duplicate_loses_second_occurrence(self, spark, tmp_path):
        import pandas as pd

        seg = "alpha beta gamma delta eps zeta eta theta iota kappa"
        docs = pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [seg + " tail one two", "prefix words here " + seg],
            }
        )
        # doc 2's tokens don't align 'seg' on a 10-word boundary, so it
        # keeps everything; doc 1 owns the segment. Build an aligned dup:
        docs.loc[1, "text"] = seg + " closing words"
        sf = tmp_path / "sf"
        sf.mkdir()
        spark.createDataFrame(docs).write.parquet(str(sf / "documents.parquet"))
        from tinymapreduce_spark.operators.dedup import segment_dedup_clean

        out = {
            r.doc_id: (r.n_segments, r.n_kept)
            for r in segment_dedup_clean(spark, str(sf)).collect()
        }
        assert out[1] == (2, 2)  # first home keeps both segments
        assert out[2] == (2, 1)  # the aligned duplicate is dropped


class TestMrRunsStreamWriter:
    """Per-epoch exactly-once contract of the connector's streaming
    sink: batch-id-keyed commits are idempotent under epoch replay,
    aborts leave no visible files, and uncommitted temps are invisible
    to the reader (dot-prefix convention)."""

    def _writer(self, tmp_path):
        from tinymapreduce_spark.sources.mr_runs_source import MrRunsStreamWriter

        return MrRunsStreamWriter({"path": str(tmp_path / "sink")})

    def _temp(self, w, rows):
        import json
        import os
        import uuid

        tmp = os.path.join(w.path, f".tmp-stream-t-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w", encoding="utf-8") as fh:
            for k, v in rows:
                fh.write(json.dumps({"key": k, "value": v}) + "\n")
        from tinymapreduce_spark.sources.mr_runs_source import RunCommit

        return RunCommit(tmp_file=tmp, n_rows=len(rows))

    def test_replayed_epoch_commits_once(self, tmp_path):
        import os

        w = self._writer(tmp_path)
        w.commit([self._temp(w, [("a", "1"), ("b", "1")])], batchId=7)
        first = sorted(os.listdir(w.path))
        assert first == ["mr-stream-b00007-00000.json"]
        # epoch replay after crash-before-offset-commit: same batchId,
        # fresh temps — must be discarded, not double-committed
        w.commit([self._temp(w, [("a", "1"), ("b", "1")])], batchId=7)
        assert sorted(os.listdir(w.path)) == first

    def test_abort_and_temp_invisibility(self, spark, tmp_path):
        import os

        w = self._writer(tmp_path)
        w.commit([self._temp(w, [("x", "1")])], batchId=0)
        dangling = self._temp(w, [("ghost", "1")])  # a crashed attempt
        w.abort([self._temp(w, [("y", "1")])], batchId=1)
        from tinymapreduce_spark.sources import mr_runs_source

        mr_runs_source.register(spark)
        back = spark.read.format("mr_runs").option("path", w.path).load()
        assert [r.key for r in back.collect()] == ["x"]  # ghost + abort unseen
        assert os.path.exists(dangling.tmp_file)  # still a dot-temp on disk


def test_udtf_dynamic_schema_rejects_nonconstant_k(spark, sf_dir):
    """analyze() contract: the schema-driving argument must be a
    constant literal — a per-row expression cannot bind a plan-time
    schema and must fail at ANALYSIS, not silently pick one."""
    from pyspark.sql.utils import AnalysisException

    from tinymapreduce_spark.operators.udaf import python_udtf_dynamic_schema

    python_udtf_dynamic_schema(spark, sf_dir)  # registers ngram_cols
    with pytest.raises(AnalysisException):
        spark.sql(
            "SELECT * FROM docs_ngram_t, "
            "LATERAL ngram_cols(text, CAST(doc_id % 2 + 2 AS INT))"
        ).collect()


def test_robots_parser_group_selection():
    """RFC 9309 group selection: exact agent match beats '*'; the decoy
    group never leaks; noise directives and case variance are inert."""
    from tinymapreduce_spark.operators.textstats import _robots_text, parse_robots

    assert parse_robots(_robots_text(7), "tmsbot") == [
        ("/private", False), ("/p3", False), ("/p3/ok", True)
    ]
    assert parse_robots(_robots_text(7), "evilbot") == [("/", False)]
    # multiple User-agent lines share one group; empty Disallow dropped
    text = "User-agent: a\nUser-agent: b\nDisallow:\nDisallow: /x\n"
    assert parse_robots(text, "B") == [("/x", False)]
    assert parse_robots(text, "c") == []  # no '*' group -> allow all


def test_minhash_clusters_refine_exact_clusters(spark, sf_dir):
    """Minhash edges are a subset of the exact tier's (band collisions
    only ADD candidates; the shared exact-Jaccard verify removes them),
    so every dedup_clusters_minhash cluster must sit INSIDE exactly one
    dedup_clusters cluster — the scale path never merges docs the exact
    tier keeps apart, it can only split clusters it lacked an edge for."""
    from tinymapreduce_spark.operators import dedup

    exact = {
        r.doc_id: r.component for r in dedup.dedup_clusters(spark, sf_dir).collect()
    }
    mh = dedup.dedup_clusters_minhash(spark, sf_dir).collect()
    assert mh, "minhash tier found no clusters on the test corpus"
    by_cluster: dict[int, set[int]] = {}
    for r in mh:
        # every minhash-clustered doc appears in some exact pair too
        assert r.doc_id in exact, f"doc {r.doc_id} clustered only by minhash"
        by_cluster.setdefault(r.component, set()).add(exact[r.doc_id])
    for comp, exact_comps in by_cluster.items():
        assert len(exact_comps) == 1, (
            f"minhash cluster {comp} spans exact clusters {exact_comps}"
        )
