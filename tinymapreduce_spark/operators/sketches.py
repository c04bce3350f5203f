"""Mergeable sketches (Apache DataSketches built-ins, Spark >= 3.5/4.x).

The reference has no approximate operators (SURVEY.md §2.5 "Approximate
ops: None"); these are north-star scale operators. The property that
matters at 100 TB is MERGEABILITY: each partition/group builds a
fixed-size sketch (a few KB), and any rollup — per-group, global,
cross-day — is a union of sketches, never a re-scan of raw data. That is
exactly the partial+final aggregation shape Spark already plans, but with
O(1)-size partial state even for DISTINCT and quantiles.

- ``hll_distinct_merge``: per-group HLL sketches of a key + an ``ALL``
  row computed by unioning the group sketches (``hll_union_agg``), not by
  re-aggregating the fact table. Estimates are deterministic for a fixed
  input and lgConfigK.
- ``kll_quantile_merge``: per-group KLL quantile sketches over a DOUBLE
  measure, quantiles extracted from the sketch; the ``ALL`` row merges
  the per-group sketches (``kll_sketch_merge_double``).

The DataSketches binaries themselves have no SQL twin (engine-specific
internals by construction), so since r7 the REGISTERED
``hll_distinct_merge`` / ``kll_quantile_merge`` are hash-checked audit
forms (exact group keys and counts + error-envelope booleans driven by
the live sketch pipelines — the ``sketch_error_bounds`` /
``approx_aggregates`` conversion pattern); the ``*_raw`` forms keep the
pure-sketch scale path and ``tests/test_invariants.py`` bounds their
error against the exact forms (HLL lgConfigK=12 -> ~1.6% rel. std
error; KLL k=200 -> ~1.3% rank error). The CMS cell table and the
from-scratch ``hll_portable_distinct`` register table ride the portable
hash family and are exactly oracle-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.session import materialize
from tinymapreduce_spark.sources.loaders import documents_for_cpu, load_table

HLL_LG_K = 12  # 2^12 registers: ~1.6% relative standard error, 4 KB sketch
KLL_K = 200  # datasketches default: ~1.3% one-sided rank error
QUANTILES = [0.5, 0.95, 0.99]


def hll_distinct_merge_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customers per order-priority via HLL sketches, plus a
    global ``ALL`` row that UNIONS the per-group sketches — the rollup
    never touches the fact table again. At 100 TB the per-group state is
    4 KB regardless of cardinality, and daily/global rollups are sketch
    unions over a tiny intermediate. (Raw scale path; the registered
    ``hll_distinct_merge`` wraps it in the hash-checked audit form.)"""
    orders = load_table(spark, sf_dir, "orders")
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey", F.lit(HLL_LG_K)).alias("sk")
    )
    # Cache: the ALL row must union the *same* per-group sketches
    # (materialize: GC-released, no cross-invocation storage leak).
    per_group = materialize(per_group)
    groups = per_group.select(
        F.col("o_orderpriority").alias("grp"),
        F.hll_sketch_estimate("sk").alias("approx_custkeys"),
    )
    merged = per_group.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("grp"),
        F.hll_sketch_estimate("sk").alias("approx_custkeys"),
    )
    return groups.unionByName(merged).orderBy("grp")


def kll_quantile_merge_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of extended price per return flag via KLL sketches,
    plus a merged ``ALL`` row. Same mergeability story as HLL but for
    quantiles: the global percentiles come from merging three ~2 KB
    sketches, not from a global sort. (Raw scale path; the registered
    ``kll_quantile_merge`` wraps it in the hash-checked audit form.)"""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    per_group = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("price", F.lit(KLL_K)).alias("sk")
    )
    per_group = materialize(per_group)

    def quantile_cols(df: DataFrame) -> DataFrame:
        cols = [
            F.round(
                F.kll_sketch_get_quantile_double("sk", F.lit(q)), 2
            ).alias(f"p{int(q * 100)}")
            for q in QUANTILES
        ]
        return df.select("grp", *cols)

    groups = quantile_cols(per_group.withColumnRenamed("l_returnflag", "grp"))
    # kll_sketch_merge_double is a binary scalar merge; fold the (tiny)
    # per-group sketch list with a higher-order aggregate. The list has
    # one ~2 KB element per group — never data-proportional.
    merged = quantile_cols(
        per_group.agg(F.collect_list("sk").alias("sks"))
        .select(
            F.aggregate(
                F.slice(F.col("sks"), 2, F.greatest(F.size("sks") - 1, F.lit(0))),
                # try_: zero groups (empty input) folds NULL -> NULL
                # quantiles on the ALL row instead of crashing
                F.try_element_at("sks", F.lit(1)),
                lambda acc, x: F.kll_sketch_merge_double(acc, x),
            ).alias("sk")
        )
        .withColumn("grp", F.lit("ALL"))
    )
    return groups.unionByName(merged).orderBy("grp")


KLL_RANK_EPS_PCT = 4  # accepted |rank(est) - q| in percentage points (k=200 -> ~1.3%)


def hll_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked audit form of the HLL rollup (VERDICT r6 #1, same
    conversion `approx_aggregates` got in r6): exact per-group +
    merged-ALL distinct counts (SQL-recomputable) next to a boolean that
    pins the LIVE sketch pipeline's estimate inside its error envelope.
    The sketches still run — per-group ``hll_sketch_agg`` and the
    ``hll_union_agg`` ALL row from ``hll_distinct_merge_raw`` — so a
    regression in sketch build, merge, or estimate flips ``hll_ok`` and
    the driver's value hash. Exact side costs one orders aggregation;
    the raw form remains the 100 TB rollup path."""
    raw = hll_distinct_merge_raw(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    exact_g = orders.groupBy(F.col("o_orderpriority").alias("grp")).agg(
        F.countDistinct("o_custkey").alias("exact_custkeys")
    )
    exact_all = orders.agg(
        F.countDistinct("o_custkey").alias("exact_custkeys")
    ).select(F.lit("ALL").alias("grp"), "exact_custkeys")
    exact = exact_g.unionByName(exact_all)
    return (
        exact.join(F.broadcast(raw), "grp", "left")
        .select(
            "grp",
            "exact_custkeys",
            (
                F.col("approx_custkeys").isNotNull()
                & (
                    F.abs(F.col("approx_custkeys") - F.col("exact_custkeys")) * 100
                    <= F.col("exact_custkeys") * HLL_ERR_PCT
                )
            ).alias("hll_ok"),
        )
        .orderBy("grp")
    )


HLL_DISTINCT_MERGE_SQL = """
WITH g AS (
  SELECT o_orderpriority AS grp,
         COUNT(DISTINCT o_custkey) AS exact_custkeys
  FROM orders GROUP BY 1
  UNION ALL
  SELECT 'ALL', COUNT(DISTINCT o_custkey) FROM orders
)
SELECT grp, CAST(exact_custkeys AS BIGINT) AS exact_custkeys,
       TRUE AS hll_ok
FROM g ORDER BY grp
"""


def kll_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked audit form of the KLL rollup: per-group + merged-ALL
    row counts (exact, SQL-recomputable) next to one boolean per
    quantile pinning the LIVE sketch's answer by its exact RANK bracket:
    with n rows and estimate v, rank(v) spans [#(x<v), #(x<=v)] and must
    intersect [(q - eps)n, (q + eps)n] for eps = KLL_RANK_EPS_PCT. The
    sketches still run (build, per-group extract, binary merge for ALL
    via ``kll_quantile_merge_raw``); the exact side is one extra
    lineitem scan joined to the 4-row quantile table by broadcast."""
    raw = kll_quantile_merge_raw(spark, sf_dir)  # grp, p50, p95, p99
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").cast("double").alias("price")
    )
    mem = li.select(F.col("l_returnflag").alias("grp"), "price").unionByName(
        li.select(F.lit("ALL").alias("grp"), "price")
    )
    ranks = (
        mem.join(F.broadcast(raw), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                agg
                for q in QUANTILES
                for agg in (
                    F.sum(
                        (F.col("price") < F.col(f"p{int(q * 100)}")).cast("long")
                    ).alias(f"lt{int(q * 100)}"),
                    F.sum(
                        (F.col("price") <= F.col(f"p{int(q * 100)}")).cast("long")
                    ).alias(f"le{int(q * 100)}"),
                )
            ],
        )
    )
    ok_cols = [
        (
            (
                F.col(f"lt{int(q * 100)}") * 100
                <= F.col("n_rows") * (int(q * 100) + KLL_RANK_EPS_PCT)
            )
            & (
                F.col(f"le{int(q * 100)}") * 100
                >= F.col("n_rows") * (int(q * 100) - KLL_RANK_EPS_PCT)
            )
        ).alias(f"p{int(q * 100)}_ok")
        for q in QUANTILES
    ]
    return ranks.select("grp", "n_rows", *ok_cols).orderBy("grp")


KLL_QUANTILE_MERGE_SQL = """
WITH g AS (
  SELECT l_returnflag AS grp, COUNT(*) AS n_rows FROM lineitem GROUP BY 1
  UNION ALL
  SELECT 'ALL', COUNT(*) FROM lineitem
)
SELECT grp, CAST(n_rows AS BIGINT) AS n_rows,
       TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
FROM g ORDER BY grp
"""


CMS_DEPTH = 4  # independent hash rows: P(overestimate > eps*N) <= (1/2)^4 per row min
CMS_WIDTH = 1024  # buckets per row: eps ~ e/1024 ~ 0.27% of total count
CMS_TOPK = 20


def _cms_cells(token_col):
    """The d (row, bucket) coordinates of one token — seed folded into
    the hashed value so the rows are independent. Built on the portable
    md5-60-bit family (functions.hashing.h60) so the DuckDB oracle can
    rebuild the identical cell table."""
    from tinymapreduce_spark.functions.hashing import h60

    return F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.pmod(h60(F.concat(F.lit(f"{i}:"), token_col)), F.lit(CMS_WIDTH)).alias(
                    "b"
                ),
            )
            for i in range(CMS_DEPTH)
        ]
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-sketch heavy hitters over the document token stream:
    top-``CMS_TOPK`` tokens by estimated count. Composed entirely of
    built-ins — the sketch IS a (row, bucket) -> count DataFrame of
    ``CMS_DEPTH * CMS_WIDTH`` cells, built by one groupBy (partial
    aggregation gives the per-partition sketches; the shuffle merges
    them, which for CMS is exactly cell-wise addition). Cross-day /
    cross-corpus rollups union the cell tables and re-sum — never
    re-scan the text.

    Estimation joins each candidate token's d cells against the
    (broadcast, 4K-row) sketch and takes the min — the classic CMS
    read, still overestimate-only. At 100 TB the candidate set is the
    point: you query the sketch for a small candidate list (here the
    distinct tokens, which the same scan yields for free) instead of
    keeping exact per-token counters.

    The cell layout rides the portable md5-60-bit hash family, so the
    estimates — approximate vs TRUE counts, but a pure function of the
    data — are replayed exactly by CMS_SQL in DuckDB (driver
    hash-compare). tests/test_invariants.py separately asserts the CMS
    guarantees against exact counts: est >= exact always, and
    est - exact <= eps * N."""
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.sources.loaders import load_table

    docs = documents_for_cpu(spark, sf_dir)
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    cells = (
        tok.select(F.explode(_cms_cells(F.col("token"))).alias("c"))
        .groupBy(F.col("c.r").alias("r"), F.col("c.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )
    cand = tok.select("token").distinct()
    est = (
        cand.select("token", F.explode(_cms_cells(F.col("token"))).alias("c"))
        .select("token", F.col("c.r").alias("r"), F.col("c.b").alias("b"))
        .join(F.broadcast(cells), ["r", "b"])
        .groupBy("token")
        .agg(F.min("cell_n").alias("est_count"))
    )
    return est.orderBy(F.desc("est_count"), F.asc("token")).limit(CMS_TOPK)


_CMS_CELL_SQL = (
    "('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || token), 1, 15))::BIGINT"
    f" % {CMS_WIDTH}"
)

CMS_SQL = f"""
WITH tok AS (
  SELECT UNNEST(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), x -> x <> '')) AS token
  FROM documents
), cells AS (
  SELECT i AS r, {_CMS_CELL_SQL} AS b, COUNT(*) AS cell_n
  FROM tok CROSS JOIN range({CMS_DEPTH}) t(i)
  GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT token FROM tok
), coords AS (
  SELECT token, i AS r, {_CMS_CELL_SQL} AS b
  FROM cand CROSS JOIN range({CMS_DEPTH}) t(i)
), est AS (
  SELECT token, MIN(cell_n) AS est_count
  FROM coords JOIN cells USING (r, b)
  GROUP BY token
)
SELECT token, est_count FROM est
ORDER BY est_count DESC, token ASC
LIMIT {CMS_TOPK}
"""


# --- portable HLL: the sketch MATH as first-class DataFrame ops -------------
HLLP_P = 9  # 2^9 = 512 registers; rel. std. error ~ 1.04/sqrt(512) ~ 4.6%
HLLP_M = 1 << HLLP_P
HLLP_W = 60 - HLLP_P  # 51-bit rank window left of the register index
# alpha_m * m^2 * 2^52 folded into one literal so both engines parse the
# identical double (repr round-trips exactly)
HLLP_NUMER = (0.7213 / (1 + 1.079 / HLLP_M)) * HLLP_M * HLLP_M * float(1 << 52)


def hll_portable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog built from Catalyst primitives on the portable hash
    family — the from-scratch sibling of ``hll_distinct_merge`` (which
    exercises the DataSketches built-ins whose binary internals no
    other engine can replay). Here the SKETCH IS A DATAFRAME — a
    (group, register) -> max-rank table — so: (a) the ``ALL`` rollup is
    a register-wise MAX union of the per-group tables, never a rescan
    (the same mergeability story as the CMS cell table); (b) every
    number is a pure function of the data, and HLL_PORTABLE_SQL replays
    it exactly — an approximate-DISTINCT estimator whose estimates the
    driver hash-verifies.

    Exactness trick: the harmonic mean's 2^-M_j sum is kept as EXACT
    integers (sum of 2^(52-M_j), with absent registers contributing
    2^52), so the only floats are one literal multiply + one division,
    plus the standard linear-counting ln() branch for the small range
    — all order-independent, hence engine-identical. Registers derive
    from h60: low 9 bits index, rank = leading zeros of the upper 51
    bits + 1 via ``52 - length(bin(w))`` (bin() is unpadded in both
    engines)."""
    from tinymapreduce_spark.functions.hashing import h60

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("grp"),
        h60(F.col("o_custkey").cast("string")).alias("h"),
    )
    rho = F.when(F.col("w") == 0, F.lit(52)).otherwise(
        F.lit(52) - F.length(F.bin(F.col("w")))
    )
    regs = (
        base.select(
            "grp",
            F.col("h").bitwiseAND(F.lit(HLLP_M - 1).cast("long")).alias("reg"),
            F.shiftright("h", HLLP_P).alias("w"),
        )
        .select("grp", "reg", rho.alias("rho"))
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    regs = materialize(regs)
    merged = (
        regs.groupBy("reg")
        .agg(F.max("mj").alias("mj"))
        .select(F.lit("ALL").alias("grp"), "reg", "mj")
    )
    est_in = regs.unionByName(merged)
    return (
        _hllp_estimate(est_in, ["grp"])
        .select("grp", F.col("est").alias("approx_custkeys"))
        .orderBy("grp")
    )


def _hllp_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., reg, mj) register table -> (keys..., est): the HLL
    estimator with the integer-exact power sum and linear-counting
    small-range branch (see ``hll_portable_distinct``), rounded to 4
    decimals so it replays bit-identically in SQL."""
    agg = regs.groupBy(*keys).agg(
        F.sum(F.expr("shiftleft(1L, 52 - mj)")).alias("ps"),
        F.count(F.lit(1)).alias("np"),
    )
    s = F.col("ps") + (F.lit(HLLP_M) - F.col("np")) * F.lit(1 << 52).cast("long")
    v = F.lit(HLLP_M) - F.col("np")  # registers never touched
    raw = F.lit(HLLP_NUMER) / s.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * HLLP_M)) & (v > 0),
        F.lit(float(HLLP_M)) * F.log(F.lit(float(HLLP_M)) / v),
    ).otherwise(raw)
    return agg.select(*keys, F.round(est, 4).alias("est"))


HLL_PORTABLE_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS grp,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders
), regs AS (
  SELECT grp, reg, MAX(rho) AS mj
  FROM (
    SELECT grp, h & {HLLP_M - 1} AS reg,
           CASE WHEN (h >> {HLLP_P}) = 0 THEN 52
                ELSE 52 - length(bin(h >> {HLLP_P})) END AS rho
    FROM base
  )
  GROUP BY grp, reg
), unioned AS (
  SELECT grp, reg, mj FROM regs
  UNION ALL
  SELECT 'ALL' AS grp, reg, MAX(mj) AS mj FROM regs GROUP BY reg
), agg AS (
  SELECT grp,
         CAST(SUM(CAST(1 AS BIGINT) << (52 - mj)) AS BIGINT) AS ps,
         COUNT(*) AS np
  FROM unioned GROUP BY grp
)
SELECT grp,
       ROUND(
         CASE WHEN {HLLP_NUMER!r} / CAST(ps + ({HLLP_M} - np) * (CAST(1 AS BIGINT) << 52) AS DOUBLE) <= {2.5 * HLLP_M}
                   AND ({HLLP_M} - np) > 0
              THEN {float(HLLP_M)} * ln({float(HLLP_M)} / ({HLLP_M} - np))
              ELSE {HLLP_NUMER!r} / CAST(ps + ({HLLP_M} - np) * (CAST(1 AS BIGINT) << 52) AS DOUBLE)
         END, 4) AS approx_custkeys
FROM agg
"""


def _hllp_est_sql(keys: str, src: str) -> str:
    """SQL twin of ``_hllp_estimate`` over a (keys..., reg, mj) CTE."""
    raw = (
        f"{HLLP_NUMER!r} / CAST(ps + ({HLLP_M} - np) * (CAST(1 AS BIGINT) << 52) AS DOUBLE)"
    )
    return f"""
  SELECT {keys},
         ROUND(CASE WHEN {raw} <= {2.5 * HLLP_M} AND ({HLLP_M} - np) > 0
                    THEN {float(HLLP_M)} * ln({float(HLLP_M)} / ({HLLP_M} - np))
                    ELSE {raw}
               END, 4) AS est
  FROM (SELECT {keys},
               CAST(SUM(CAST(1 AS BIGINT) << (52 - mj)) AS BIGINT) AS ps,
               COUNT(*) AS np
        FROM {src} GROUP BY {keys})
"""


def hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA: year-over-year customer-base overlap without
    any exact distinct. Per-year HLL register tables are built once;
    |A ∪ B| is a register-wise MAX of two tables and |A ∩ B| falls out
    of inclusion-exclusion (est(A) + est(B) − est(A∪B)) — the audience-
    overlap query every analytics warehouse runs, at O(#groups × 512)
    sketch state instead of a distinct-union rescan per pair. At 100 TB
    the fact table is scanned ONCE; every pairwise overlap after that
    is arithmetic over kilobyte register tables. All register math
    rides the portable md5-60-bit hash family, so the estimates —
    including the subtraction — replay bit-identically in the oracle."""
    from tinymapreduce_spark.functions.hashing import h60

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        h60(F.col("o_custkey").cast("string")).alias("h"),
    )
    rho = F.when(F.col("w") == 0, F.lit(52)).otherwise(
        F.lit(52) - F.length(F.bin(F.col("w")))
    )
    regs = materialize(
        base.select(
            "yr",
            F.col("h").bitwiseAND(F.lit(HLLP_M - 1).cast("long")).alias("reg"),
            F.shiftright("h", HLLP_P).alias("w"),
        )
        .select("yr", "reg", rho.alias("rho"))
        .groupBy("yr", "reg")
        .agg(F.max("rho").alias("mj"))
    )
    years = regs.select("yr").distinct()
    pairs = (
        years.alias("a")
        .join(years.alias("b"), F.col("b.yr") == F.col("a.yr") + 1)
        .select(F.col("a.yr").alias("ya"), F.col("b.yr").alias("yb"))
    )
    ra = pairs.join(regs, F.col("yr") == F.col("ya")).select("ya", "yb", "reg", "mj")
    rb = pairs.join(regs, F.col("yr") == F.col("yb")).select("ya", "yb", "reg", "mj")
    union_regs = (
        ra.unionByName(rb).groupBy("ya", "yb", "reg").agg(F.max("mj").alias("mj"))
    )
    e_yr = _hllp_estimate(regs, ["yr"])
    e_un = _hllp_estimate(union_regs, ["ya", "yb"]).withColumnRenamed(
        "est", "approx_union"
    )
    ea = e_yr.select(F.col("yr").alias("ya"), F.col("est").alias("approx_a"))
    eb = e_yr.select(F.col("yr").alias("yb"), F.col("est").alias("approx_b"))
    return (
        pairs.join(ea, "ya")
        .join(eb, "yb")
        .join(e_un, ["ya", "yb"])
        .select(
            "ya",
            "yb",
            "approx_a",
            "approx_b",
            "approx_union",
            F.round(
                F.col("approx_a") + F.col("approx_b") - F.col("approx_union"), 4
            ).alias("approx_overlap"),
        )
    )


HLL_OVERLAP_SQL = f"""
WITH base AS MATERIALIZED (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM orders
), regs AS MATERIALIZED (
  SELECT yr, h & {HLLP_M - 1} AS reg,
         MAX(CASE WHEN (h >> {HLLP_P}) = 0 THEN 52
                  ELSE 52 - length(bin(h >> {HLLP_P})) END) AS mj
  FROM base GROUP BY 1, 2
), pairs AS MATERIALIZED (
  SELECT a.yr AS ya, b.yr AS yb
  FROM (SELECT DISTINCT yr FROM regs) a
  JOIN (SELECT DISTINCT yr FROM regs) b ON b.yr = a.yr + 1
), union_regs AS MATERIALIZED (
  SELECT ya, yb, reg, MAX(mj) AS mj FROM (
    SELECT p.ya, p.yb, r.reg, r.mj FROM pairs p JOIN regs r ON r.yr = p.ya
    UNION ALL
    SELECT p.ya, p.yb, r.reg, r.mj FROM pairs p JOIN regs r ON r.yr = p.yb
  ) GROUP BY 1, 2, 3
), e_yr AS MATERIALIZED ({_hllp_est_sql("yr", "regs")}
), e_un AS MATERIALIZED ({_hllp_est_sql("ya, yb", "union_regs")}
)
SELECT p.ya, p.yb, a.est AS approx_a, b.est AS approx_b, u.est AS approx_union,
       ROUND(a.est + b.est - u.est, 4) AS approx_overlap
FROM pairs p
JOIN e_yr a ON a.yr = p.ya
JOIN e_yr b ON b.yr = p.yb
JOIN e_un u ON u.ya = p.ya AND u.yb = p.yb
"""


# --- portable quantile sketch: two-significant-digit log buckets ------------
Q_PCTS = [0.5, 0.95, 0.99]


def digit_bucket_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles with an EXACT oracle — the
    portable sibling of ``kll_quantile_merge`` (whose DataSketches
    binary no other engine can replay). Values collapse to their two
    most significant decimal digits (relative bucket width <= 10%), so
    the sketch is a (group, bucket_floor) -> exact-count table:
    mergeable by count addition (the ``ALL`` row is a bucket-wise SUM
    of the per-group tables, never a rescan), O(#buckets) state per
    group (a few hundred rows across the whole double range), and —
    because every count and bucket floor is an exact integer — the
    p50/p95/p99 estimates are a pure function of the data, replayed
    exactly by DIGIT_BUCKET_SQL.

    Estimate convention: quantile q reports the FLOOR of the first
    bucket whose cumulative count reaches ceil(q*n) — a <= 10%
    underestimate by construction, bounded in tests against the exact
    percentiles. Prices quantize to cents first (round(price*100) —
    deterministic: IEEE multiply then half-up, identical per engine)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    s = F.col("cents").cast("string")
    d = F.length(s)
    # bucket floor: keep two leading digits, zero the rest — built as a
    # string so the power of ten is exact at any magnitude
    lb = F.when(d <= 2, F.col("cents")).otherwise(
        F.concat(F.substring(s, 1, 2), F.repeat(F.lit("0"), d - 2)).cast("long")
    )
    buckets = li.select("grp", lb.alias("lb")).groupBy("grp", "lb").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    buckets = materialize(buckets)
    merged = (
        buckets.groupBy("lb")
        .agg(F.sum("cnt").alias("cnt"))
        .select(F.lit("ALL").alias("grp"), "lb", "cnt")
    )
    allb = buckets.unionByName(merged)
    w_all = Window.partitionBy("grp")
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    b2 = allb.withColumn("n", F.sum("cnt").over(w_all)).withColumn(
        "cum", F.sum("cnt").over(w_cum)
    )
    cols = [
        F.round(
            F.min(
                F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("lb"))
            )
            / 100,
            2,
        ).alias(f"p{int(q * 100)}")
        for q in Q_PCTS
    ]
    return b2.groupBy("grp").agg(*cols).orderBy("grp")


DIGIT_BUCKET_SQL = f"""
WITH li AS (
  SELECT l_returnflag AS grp,
         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem
), bk AS (
  SELECT grp,
         CASE WHEN length(CAST(cents AS VARCHAR)) <= 2 THEN cents
              ELSE CAST(substr(CAST(cents AS VARCHAR), 1, 2)
                        || repeat('0', length(CAST(cents AS VARCHAR)) - 2) AS BIGINT)
         END AS lb
  FROM li
), buckets AS (
  SELECT grp, lb, COUNT(*) AS cnt FROM bk GROUP BY grp, lb
), unioned AS (
  SELECT grp, lb, cnt FROM buckets
  UNION ALL
  SELECT 'ALL' AS grp, lb, CAST(SUM(cnt) AS BIGINT) AS cnt FROM buckets GROUP BY lb
), b2 AS (
  SELECT grp, lb, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n,
         CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY lb
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM unioned
)
SELECT grp,
{",".join(f'''       ROUND(MIN(CASE WHEN cum >= CEIL({q} * n) THEN lb END) / 100.0, 2) AS p{int(q * 100)}''' for q in Q_PCTS)}
FROM b2
GROUP BY grp
"""


def approx_topk_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` — the DataSketches frequent-items BUILT-IN, the
    engine-native sibling of the portable ``cms_heavy_hitters`` (same
    capability split as hll_distinct_merge vs hll_portable_distinct).
    Sketch-exactness regime exploited for the oracle: with k and
    maxItemsTracked far above the corpus vocabulary, the frequent-items
    sketch degenerates to EXACT counts over every item, so the exploded
    (word, cnt) table equals the plain word count bit-for-bit (shared
    oracle). Past capacity the counts become bounded-error estimates —
    that regime is covered by the CMS cell table, which stays
    oracle-exact at any cardinality by construction."""
    from tinymapreduce_spark.functions.text import tokens
    from tinymapreduce_spark.sources.loaders import documents_for_cpu

    docs = documents_for_cpu(spark, sf_dir)
    words = docs.select(F.explode(tokens("text")).alias("w"))
    sk = words.agg(F.expr("approx_top_k(w, 1000, 10000)").alias("top"))
    return sk.select(F.explode("top").alias("e")).select(
        F.col("e.item").alias("word"), F.col("e.count").alias("cnt")
    )


# Error budgets for the driver-checkable sketch-accuracy row. Each is
# ~3x the sketch's published standard error (generous enough to be
# deterministic-stable for a fixed input, tight enough that a broken
# sketch or merge path trips it):
#   HLL lgConfigK=12      -> 1.6% rse  -> 5% bound
#   approx_count_distinct -> 5% rsd    -> 15% bound
#   KLL k=200             -> ~1.3% rank error -> +-5 rank-pct bracket
#   percentile_approx/1000-> 0.1% rank error  -> +-5 rank-pct bracket
#   equidepth 10k-sketch  -> near-exact cuts  -> +-20% bucket-size band
HLL_ERR_PCT = 5
ACD_ERR_PCT = 15
RANK_LO_PCT = 45
RANK_HI_PCT = 55
EQUIDEPTH_BAND_PCT = 20


def sketch_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable accuracy row for the engine-specific sketch tier
    (`approx_aggregates`, `hll_distinct_merge`, `kll_quantile_merge`,
    `equidepth_sampled` are rows-only by design — binary sketch
    internals have no SQL twin). This row makes their GUARANTEES
    hash-checkable instead: every exact count is derived independently
    by the oracle, and each `_ok` boolean pins the sketch's error bound,
    so a regression in any sketch/merge path flips a value the driver
    hashes. All exact sides are single aggregates; the rank brackets
    cost one extra lineitem scan with two broadcast scalars."""
    from tinymapreduce_spark.plans.analytics import equidepth_sampled_raw
    from tinymapreduce_spark.plans.subqueries import approx_aggregates_raw

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    prices = li.select(F.col("l_extendedprice").cast("double").alias("price"))

    exact = li.agg(
        F.countDistinct("l_orderkey").alias("n_orderkeys"),
        F.count(F.lit(1)).alias("n_li"),
    )
    n_cust = orders.agg(F.countDistinct("o_custkey").alias("n_custkeys"))
    acd = li.agg(F.approx_count_distinct("l_orderkey").alias("acd"))
    hll_all = (
        hll_distinct_merge_raw(spark, sf_dir)
        .where(F.col("grp") == "ALL")
        .select(F.col("approx_custkeys").alias("hll_est"))
    )
    kll_all = (
        kll_quantile_merge_raw(spark, sf_dir)
        .where(F.col("grp") == "ALL")
        .select(F.col("p50").alias("kll_p50"))
    )
    pa = prices.agg(F.percentile_approx("price", 0.5, 1000).alias("pa_p50"))
    # exact rank bracket of both approximate medians, one scan
    ranks = (
        prices.crossJoin(F.broadcast(kll_all))
        .crossJoin(F.broadcast(pa))
        .agg(
            F.sum((F.col("price") < F.col("kll_p50")).cast("long")).alias("kll_lo"),
            F.sum((F.col("price") <= F.col("kll_p50")).cast("long")).alias("kll_hi"),
            F.sum((F.col("price") < F.col("pa_p50")).cast("long")).alias("pa_lo"),
            F.sum((F.col("price") <= F.col("pa_p50")).cast("long")).alias("pa_hi"),
        )
    )
    ed = equidepth_sampled_raw(spark, sf_dir).agg(
        F.sum("n_orders").alias("ed_n"),
        F.max("n_orders").alias("ed_max"),
        F.min("n_orders").alias("ed_min"),
        F.count(F.lit(1)).alias("ed_buckets"),
    )
    # approx_aggregates itself must at least be runnable and non-empty
    aa = approx_aggregates_raw(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("aa_groups")
    )
    return (
        exact.crossJoin(n_cust)
        .crossJoin(acd)
        .crossJoin(hll_all)
        .crossJoin(ranks)
        .crossJoin(ed)
        .crossJoin(aa)
        .select(
            "n_orderkeys",
            "n_custkeys",
            "n_li",
            (
                F.abs(F.col("acd") - F.col("n_orderkeys")) * 100
                <= F.col("n_orderkeys") * ACD_ERR_PCT
            ).alias("acd_ok"),
            (
                F.abs(F.col("hll_est") - F.col("n_custkeys")) * 100
                <= F.col("n_custkeys") * HLL_ERR_PCT
            ).alias("hll_merge_ok"),
            (
                (F.col("kll_lo") * 100 <= F.col("n_li") * RANK_HI_PCT)
                & (F.col("kll_hi") * 100 >= F.col("n_li") * RANK_LO_PCT)
            ).alias("kll_p50_ok"),
            (
                (F.col("pa_lo") * 100 <= F.col("n_li") * RANK_HI_PCT)
                & (F.col("pa_hi") * 100 >= F.col("n_li") * RANK_LO_PCT)
            ).alias("pa_median_ok"),
            (
                (F.col("ed_buckets") == 10)
                & (F.col("ed_max") * 100 <= F.col("ed_n") * (10 + EQUIDEPTH_BAND_PCT / 10))
                & (F.col("ed_min") * 100 >= F.col("ed_n") * (10 - EQUIDEPTH_BAND_PCT / 10))
            ).alias("equidepth_ok"),
            (F.col("aa_groups") > 0).alias("approx_agg_ok"),
        )
    )


SKETCH_ERROR_BOUNDS_SQL = """
SELECT CAST((SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS BIGINT)
         AS n_orderkeys,
       CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders) AS BIGINT)
         AS n_custkeys,
       CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_li,
       TRUE AS acd_ok,
       TRUE AS hll_merge_ok,
       TRUE AS kll_p50_ok,
       TRUE AS pa_median_ok,
       TRUE AS equidepth_ok,
       TRUE AS approx_agg_ok
"""
