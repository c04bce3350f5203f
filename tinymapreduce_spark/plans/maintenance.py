"""Warehouse-maintenance operators: MERGE-style upsert (SCD1) and
effective-dated history (SCD2).

The reference's closest analog is the KV store's Put/Append semantics —
last write wins over a keyed map (`/root/reference/src/models/kv.go:40-54`).
These are the relational, set-oriented forms a 100 TB warehouse actually
runs: reconcile a base table with a change batch in ONE pass (never
row-at-a-time), and version a dimension by validity interval.

Determinism: change rows are derived from the fixture tables themselves
(modular key slices), so the same MERGE is expressible in the DuckDB
oracle with no side tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.sources.loaders import load_table


def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD1 MERGE: base ⟕⟖ changes on the key; matched rows take the
    change values, unmatched-change rows insert, unmatched-base rows
    carry forward. (Base = customers with custkey % 3 != 0; changes =
    customers with custkey % 2 == 0, balance bumped +100 — so the three
    MERGE cases all occur.)

    Scale: a MERGE is ONE full-outer shuffle join on the key + coalesce
    — never a per-row lookup loop. With a bucketed base (see
    plans/layout.py) even that shuffle is one-sided. action is emitted
    so downstream compaction can split inserts from updates."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.where(F.col("c_custkey") % 3 != 0).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    changes = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("new_name"),
        (F.col("c_acctbal") + 100.0).alias("new_acctbal"),
    )
    merged = base.join(changes, base.c_custkey == changes.k, "full_outer")
    return merged.select(
        F.coalesce("c_custkey", "k").alias("c_custkey"),
        F.coalesce("new_name", "c_name").alias("c_name"),
        F.coalesce("new_acctbal", "c_acctbal").alias("c_acctbal"),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("k").isNull(), "carry")
        .otherwise("update")
        .alias("action"),
    )


MERGE_UPSERT_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 3 <> 0
), changes AS (
  SELECT c_custkey AS k, c_name AS new_name, c_acctbal + 100.0 AS new_acctbal
  FROM customer WHERE c_custkey % 2 = 0
)
SELECT COALESCE(base.c_custkey, changes.k) AS c_custkey,
       COALESCE(new_name, c_name) AS c_name,
       COALESCE(new_acctbal, c_acctbal) AS c_acctbal,
       CASE WHEN base.c_custkey IS NULL THEN 'insert'
            WHEN changes.k IS NULL THEN 'carry'
            ELSE 'update' END AS action
FROM base FULL OUTER JOIN changes ON base.c_custkey = changes.k
"""


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval construction: each customer's order stream becomes
    effective-dated versions — valid_from = this order's date, valid_to
    = the next order's date (NULL while current). The standard
    change-stream -> validity-interval transform, built with one LEAD
    window.

    Scale: one shuffle (window partitionBy custkey); the interval edges
    never require a self-join. Ties on a day are broken by orderkey so
    the version chain is total and deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # parquet reads the date as TIMESTAMP_NTZ; epoch math needs TIMESTAMP
    # (session tz is UTC, matching the oracle's naive-as-UTC epoch_us)
    ts = F.col("o_orderdate").cast("timestamp")
    return orders.select(
        "o_custkey",
        F.col("o_totalprice").alias("attr_value"),
        F.unix_micros(ts).alias("valid_from_us"),
        F.unix_micros(F.lead(ts).over(w)).alias("valid_to_us"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("long").alias("version"),
    )


SCD2_SQL = """
SELECT o_custkey,
       o_totalprice AS attr_value,
       epoch_us(o_orderdate) AS valid_from_us,
       epoch_us(LEAD(o_orderdate) OVER w) AS valid_to_us,
       LEAD(o_orderdate) OVER w IS NULL AS is_current,
       ROW_NUMBER() OVER w AS version
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate"]


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of the fact table — row count, null
    count, exact distinct count, min and max per column — the first
    query every ingestion pipeline runs against a new drop and the
    input to quality gates (null-ratio thresholds, key-uniqueness
    checks).

    One aggregate per column, each a COLUMN-PRUNED scan (ReadSchema
    carries exactly one field — at 100 TB profiling N columns costs N
    single-column scans, not N full-table scans; columnar storage makes
    that the cheapest possible shape). Temporal columns profile as epoch
    micros so every cell is numeric and the unioned frame stays one
    (col_name, stats...) schema. Distinct counts are exact here; the
    approx_aggregates query is the sketch-based scale alternative."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for c in PROFILE_COLS:
        # shipdate arrives TIMESTAMP_NTZ; session tz is UTC, so the cast
        # is the identity reinterpretation the oracle's epoch_us applies
        v = (
            F.unix_micros(F.col(c).cast("timestamp"))
            if c == "l_shipdate"
            else F.col(c).cast("double")
        )
        parts.append(
            li.select(v.alias("v")).agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_null"),
                F.count_distinct("v").alias("n_distinct"),
                F.min("v").cast("double").alias("min_val"),
                F.max("v").cast("double").alias("max_val"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PROFILE_ONE = """
SELECT '{c}' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN {v} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       COUNT(DISTINCT {v}) AS n_distinct,
       CAST(MIN({v}) AS DOUBLE) AS min_val,
       CAST(MAX({v}) AS DOUBLE) AS max_val
FROM lineitem
"""

PROFILE_SQL = "\nUNION ALL\n".join(
    _PROFILE_ONE.format(c=c, v="epoch_us(l_shipdate)" if c == "l_shipdate" else c)
    for c in PROFILE_COLS
)


def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate — the checks every ingestion run
    executes before publishing a drop: primary-key uniqueness,
    referential integrity (orphan facts), and domain-range assertions,
    each reported as (check_name, n_violations). A curation pipeline
    keys its go/no-go on this frame being all zeros.

    Shapes are chosen for scale: PK uniqueness is one aggregate over the
    key column only (column-pruned scan); orphan checks are LEFT ANTI
    joins, which Spark executes broadcast against the smaller parent's
    key set; range checks are pushdown-able predicate counts sharing one
    scan. Nothing materializes violation ROWS here — counts only; the
    row-level drill-down is the same predicate as a filter."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    pk_dup = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_pk_duplicates").alias("check_name"), "n_violations")
    )
    li_orphans = (
        li.select("l_orderkey")
        .join(orders.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("lineitem_fk_orphans").alias("check_name"), "n_violations")
    )
    ord_orphans = (
        orders.select("o_custkey")
        .join(cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_fk_orphans").alias("check_name"), "n_violations")
    )
    ranges = li.agg(
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("qty"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("price"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("disc"),
    )
    range_rows = [
        ranges.select(F.lit("lineitem_qty_out_of_range").alias("check_name"), F.col("qty").alias("n_violations")),
        ranges.select(F.lit("lineitem_nonpositive_price").alias("check_name"), F.col("price").alias("n_violations")),
        ranges.select(F.lit("lineitem_discount_out_of_range").alias("check_name"), F.col("disc").alias("n_violations")),
    ]
    out = pk_dup.unionByName(li_orphans).unionByName(ord_orphans)
    for r in range_rows:
        out = out.unionByName(r)
    return out


DQ_CHECKS_SQL = """
SELECT 'orders_pk_duplicates' AS check_name,
       CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations
UNION ALL
SELECT 'lineitem_fk_orphans',
       CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'orders_fk_orphans',
       CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_qty_out_of_range',
       CAST((SELECT SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'lineitem_nonpositive_price',
       CAST((SELECT SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_out_of_range',
       CAST((SELECT SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) FROM lineitem) AS BIGINT)
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot change data capture: given yesterday's and
    today's version of a keyed table, emit (key, change_type) for every
    inserted / deleted / updated row — the diff a downstream incremental
    consumer replays instead of re-reading the full table.

    Both snapshots are modular slices of `customer` (same derivation in
    the oracle, no side tables): "old" drops custkey % 13 == 0, "new"
    drops % 11 == 0 and shifts acctbal on % 7 == 0. The diff is ONE
    full-outer join on the key comparing row fingerprints — at 100 TB
    both sides shuffle on the key once; with bucketed snapshots (see
    plans/layout.py) even that shuffle disappears. Fingerprints compare
    md5 of the canonicalized row, never column-by-column SQL, so widening
    the table doesn't change the plan."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("decimal(18,2)").alias("c_acctbal")
    )
    old = cust.where(F.col("c_custkey") % 13 != 0)
    new = (
        cust.where(F.col("c_custkey") % 11 != 0)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(100).cast("decimal(18,2)")
            ).otherwise(F.col("c_acctbal")),
        )
    )

    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            "c_custkey",
            F.md5(F.concat_ws("|", F.col("c_name"), F.col("c_acctbal").cast("string"))).alias("fp"),
        )

    o, n = fp(old).alias("o"), fp(new).alias("n")
    joined = o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("o.c_custkey"), F.col("n.c_custkey")).alias("c_custkey"),
        F.when(F.col("o.c_custkey").isNull(), F.lit("insert"))
        .when(F.col("n.c_custkey").isNull(), F.lit("delete"))
        .when(F.col("o.fp") != F.col("n.fp"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
    ).where(F.col("change_type") != "unchanged")


SNAPSHOT_DIFF_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal FROM customer
), old AS (
  SELECT c_custkey, md5(c_name || '|' || CAST(c_acctbal AS VARCHAR)) AS fp
  FROM base WHERE c_custkey % 13 <> 0
), new AS (
  SELECT c_custkey,
         md5(c_name || '|' || CAST(CASE WHEN c_custkey % 7 = 0
                                        THEN c_acctbal + 100 ELSE c_acctbal END AS VARCHAR)) AS fp
  FROM base WHERE c_custkey % 11 <> 0
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'insert'
            WHEN n.c_custkey IS NULL THEN 'delete'
            WHEN o.fp <> n.fp THEN 'update'
            ELSE 'unchanged' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
WHERE CASE WHEN o.c_custkey IS NULL THEN 'insert'
           WHEN n.c_custkey IS NULL THEN 'delete'
           WHEN o.fp <> n.fp THEN 'update'
           ELSE 'unchanged' END <> 'unchanged'
"""


def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: a pre-aggregated base (orders with
    o_orderkey % 5 != 0, standing in for yesterday's rollup) absorbs a
    delta batch (the % 5 == 0 rows) by MERGING partial aggregate states
    — counts add, sums add, mins/maxes fold — instead of re-scanning
    history. The oracle is the full recompute over everything, proving
    state-merge == recompute.

    This is THE 100 TB aggregation pattern: the base rollup is tiny
    (groups, not rows), so the daily cost is one scan of the delta plus
    a groups-sized merge — history is never touched. Works for any
    algebraic aggregate (sum/count/min/max; avg = sum/count at read
    time; distinct needs sketches — see hll_distinct_merge)."""
    orders = load_table(spark, sf_dir, "orders")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("revenue"),
            F.min(F.col("o_totalprice").cast("decimal(18,2)")).alias("min_price"),
            F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias("max_price"),
        )

    base = rollup(orders.where(F.col("o_orderkey") % 5 != 0))
    delta = rollup(orders.where(F.col("o_orderkey") % 5 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue").cast("double").alias("revenue"),
            F.min("min_price").cast("double").alias("min_price"),
            F.max("max_price").cast("double").alias("max_price"),
        )
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        "revenue",
        "min_price",
        "max_price",
        (F.col("revenue") / F.col("n_orders")).alias("avg_price"),
    )


INCREMENTAL_AGG_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
FROM orders
GROUP BY o_orderpriority
"""


DRIFT_BUCKETS = 20
DRIFT_LO, DRIFT_HI = 0.0, 600_000.0  # o_totalprice domain


def distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift check between two data drops (modular slices
    of orders standing in for last week's vs this week's batch):
    fixed-width histograms of o_totalprice, compared bucket-by-bucket,
    plus the total-variation distance TV = sum |p - q| / 2 on every row.
    The deployment gate that catches a upstream change silently shifting
    the data. (PSI is the log-weighted variant; TV is used here because
    it is exactly computable from integer counts — no ln, so the oracle
    matches bit-for-bit.)

    One scan per slice (same pushed predicate scan, different residual),
    histograms are DRIFT_BUCKETS-row frames, the compare is a broadcast
    join of two tiny tables. Drift at 100 TB costs two column-pruned
    scans, nothing else."""
    orders = load_table(spark, sf_dir, "orders")
    width = (DRIFT_HI - DRIFT_LO) / DRIFT_BUCKETS

    def hist(df: DataFrame, n_col: str) -> DataFrame:
        b = F.least(
            F.lit(DRIFT_BUCKETS - 1),
            F.floor((F.col("o_totalprice") - DRIFT_LO) / width).cast("int"),
        )
        return df.select(b.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(n_col)
        )
    a = hist(orders.where(F.col("o_orderkey") % 2 == 0), "n_a")
    b = hist(orders.where(F.col("o_orderkey") % 2 == 1), "n_b")
    j = a.join(b, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = j.agg(
        F.sum("n_a").alias("tot_a"), F.sum("n_b").alias("tot_b")
    )
    # TV folds as EXACT integers — |n_a*tot_b - n_b*tot_a| summed, one
    # double division at the end — because a float sum of per-bucket
    # share diffs is summation-order-specific and would not oracle-check
    cross = F.abs(F.col("n_a") * F.col("tot_b") - F.col("n_b") * F.col("tot_a"))
    out = j.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_a",
        "n_b",
        "tot_a",
        "tot_b",
        cross.alias("cross_diff"),
    )
    w = Window.partitionBy()
    return out.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_a",
        "n_b",
        F.round(
            F.col("cross_diff").cast("double") / (F.col("tot_a") * F.col("tot_b")), 9
        ).alias("abs_share_diff"),
        F.round(
            F.sum("cross_diff").over(w).cast("double")
            / (F.lit(2.0) * F.col("tot_a") * F.col("tot_b")),
            9,
        ).alias("tv_distance"),
    )


DRIFT_SQL = f"""
WITH a AS (
  SELECT LEAST({DRIFT_BUCKETS - 1},
               CAST(FLOOR((o_totalprice - {DRIFT_LO}) / {(DRIFT_HI - DRIFT_LO) / DRIFT_BUCKETS}) AS INT)) AS bucket,
         COUNT(*) AS n_a
  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1
), b AS (
  SELECT LEAST({DRIFT_BUCKETS - 1},
               CAST(FLOOR((o_totalprice - {DRIFT_LO}) / {(DRIFT_HI - DRIFT_LO) / DRIFT_BUCKETS}) AS INT)) AS bucket,
         COUNT(*) AS n_b
  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1
), j AS (
  SELECT COALESCE(a.bucket, b.bucket) AS bucket,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM a FULL OUTER JOIN b ON a.bucket = b.bucket
), t AS (
  SELECT CAST(SUM(n_a) AS BIGINT) AS tot_a, CAST(SUM(n_b) AS BIGINT) AS tot_b FROM j
), d AS (
  SELECT bucket, n_a, n_b, tot_a, tot_b,
         ABS(n_a * tot_b - n_b * tot_a) AS cross_diff
  FROM j, t
)
SELECT bucket, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       ROUND(CAST(cross_diff AS DOUBLE) / (tot_a * tot_b), 9) AS abs_share_diff,
       ROUND(CAST(SUM(cross_diff) OVER () AS DOUBLE) / (2.0 * tot_a * tot_b), 9) AS tv_distance
FROM d
"""


def observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline instrumentation via the Observation API: named metrics
    (row count, exact sum, value extrema) ride the SAME execution as
    the action — harvested from the observe node after one pass, with
    no second scan to compute the counters. This is how a production
    job emits DQ/volume telemetry at 100 TB without doubling its I/O.

    The query's RESULT is the harvested metrics row, so the driver
    oracle (plain aggregates over the table) independently checks what
    the observation measured."""
    import uuid

    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation(f"li_metrics_{uuid.uuid4().hex[:8]}")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("total_qty"),
        F.min(F.col("l_extendedprice")).alias("min_price"),
        F.max(F.col("l_extendedprice")).alias("max_price"),
    )
    observed.count()  # one action drives the scan; metrics ride along
    m = obs.get

    # empty scan: sum/min/max observe as NULL — keep them NULL, exactly
    # like the oracle's aggregates over zero rows
    def _f(v):
        return None if v is None else float(v)

    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                _f(m["total_qty"]),
                _f(m["min_price"]),
                _f(m["max_price"]),
            )
        ],
        "n_rows long, total_qty double, min_price double, max_price double",
    )


OBSERVED_METRICS_SQL = """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price
FROM lineitem
"""


def join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostics — the MEASURE half of the skew
    toolkit (``salted_skew_join`` is the fix; AQE skew-split the
    runtime fallback). Profiles a prospective join/shuffle key
    (events.user_id): every key more than 5% above the mean row count
    is reported with its share and the salt fan-out that would level
    it (ceil of count/mean). At 100 TB you run this ONCE on a sample
    or yesterday's partition and feed ``salt_buckets`` straight into
    the salted join — instead of discovering the hot key from a
    straggling 2-hour task. One scan + one tiny agg; the 5%-above-mean
    rule is integer cross-multiplication (cnt*n_keys*20 > total*21),
    so the flagged set is engine-exact."""
    from tinymapreduce_spark.sources.loaders import normalize_event_ts

    ev = normalize_event_ts(load_table(spark, sf_dir, "events")).select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    stats = counts.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .where(F.col("cnt") * F.col("n_keys") * 20 > F.col("total") * 21)
        .select(
            "user_id",
            "cnt",
            "total",
            "n_keys",
            "max_cnt",
            F.expr("cnt * 1000000 DIV total").alias("share_ppm"),
            # ceil(cnt / mean) = ceil(cnt * n_keys / total) in integers
            F.expr("(cnt * n_keys + total - 1) DIV total").alias("salt_buckets"),
        )
    )


JOIN_SKEW_SQL = """
WITH c AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
), s AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys,
         MAX(cnt) AS max_cnt
  FROM c
)
SELECT user_id, cnt, total, n_keys, max_cnt,
       cnt * 1000000 // total AS share_ppm,
       (cnt * n_keys + total - 1) // total AS salt_buckets
FROM c, s
WHERE cnt * n_keys * 20 > total * 21
"""


def catalog_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog DDL + DYNAMIC partition overwrite — the daily-restate
    pattern on a managed partitioned table: CREATE TABLE ... PARTITIONED
    BY (yr), load every year, then INSERT OVERWRITE with restated 1997
    rows (o_totalprice doubled). With
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` only the
    partitions present in the incoming data are replaced — the other
    years' files are never touched (at 100 TB, restating one day must
    not rewrite the table). The final per-year aggregate oracle-checks
    the restatement; doubling a double is exact."""
    import os

    from tinymapreduce_spark.sources.textfiles import corpus_dir

    loc = corpus_dir("orders_by_year", sf_dir, "orders")
    tbl = os.path.basename(loc).replace(".", "_").replace("-", "_")
    spark.sql(
        f"""CREATE TABLE IF NOT EXISTS {tbl}
            (o_orderkey BIGINT, o_totalprice DOUBLE, yr INT)
            USING parquet PARTITIONED BY (yr) LOCATION '{loc}'"""
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.year("o_orderdate").cast("int").alias("yr")
    )
    orders.createOrReplaceTempView(f"src_{tbl}")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # full load (overwrites every partition present in src -> all years)
        spark.sql(f"INSERT OVERWRITE TABLE {tbl} SELECT * FROM src_{tbl}")
        # restatement: ONLY yr=1997 arrives, so ONLY that partition rewrites
        spark.sql(
            f"""INSERT OVERWRITE TABLE {tbl}
                SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, yr
                FROM src_{tbl} WHERE yr = 1997"""
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.sql(
        f"""SELECT yr, COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
            FROM {tbl} GROUP BY yr"""
    )


CATALOG_OVERWRITE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr, COUNT(*) AS n,
       CAST(SUM(CAST(CASE WHEN year(o_orderdate) = 1997
                          THEN o_totalprice * 2 ELSE o_totalprice END
                AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY 1
"""


PSEUDO_SALT = "tenant-salt-v1"


def pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving analytics: customer identifiers are replaced
    by SALTED keyed-hash tokens (the pseudonymization pass a 100 TB
    warehouse runs before data leaves the trust boundary), and the
    business query — revenue + distinct customers per nation — runs
    ENTIRELY in token space. Consistency (same key -> same token across
    tables) keeps joins working; the oracle computes the same result in
    CLEAR space, so equality proves the pseudonymization is join-
    preserving and collision-free on this corpus. Rotating the salt
    re-keys every token without touching the pipeline. Tokens are
    64-bit (md5-derived h60), so the join payload stays narrow."""
    from tinymapreduce_spark.functions.hashing import h60

    token = lambda c: h60(F.concat(F.lit(PSEUDO_SALT), F.lit("|"), c.cast("string")))  # noqa: E731
    cust = load_table(spark, sf_dir, "customer").select(
        token(F.col("c_custkey")).alias("c_token"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select(
        token(F.col("o_custkey")).alias("o_token"), "o_totalprice"
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        orders.join(F.broadcast(cust), orders.o_token == cust.c_token)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_token").alias("n_customers"),
            F.sum(dec("o_totalprice")).cast("double").alias("total"),
        )
    )


PSEUDONYMIZED_SQL = """
SELECT n_name, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


K_ANON_K = 5  # groups smaller than this are re-identification risks


def k_anonymity_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer table's quasi-identifiers
    (Sweeney 2002): treat (nation, market segment, account-balance
    band) as the attacker-visible attribute combination and report
    every equivalence class with fewer than K members — the classes
    where "anonymized" records are re-identifiable by quasi-identifier
    join. The governance companion to ``pseudonymized_join``: that one
    proves analytics survive key pseudonymization, this one finds the
    rows for which pseudonymization is NOT enough.

    One hash-aggregate over the table (map-side combined), then a
    filter on the class size — O(|classes|) output, no joins. At 100 TB
    the same plan holds: the aggregate shuffles one row per class, not
    per customer."""
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "acctbal_band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    return classes.where(F.col("class_size") < K_ANON_K).select(
        "c_nationkey",
        "c_mktsegment",
        "acctbal_band",
        "class_size",
        F.lit(K_ANON_K).cast("long").alias("k_required"),
    )


K_ANONYMITY_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
       COUNT(*) AS class_size,
       CAST({K_ANON_K} AS BIGINT) AS k_required
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < {K_ANON_K}
"""


L_DIVERSITY_L = 3  # classes with fewer distinct sensitive values leak


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006) — the
    attribute-disclosure companion to ``k_anonymity_risk``: a class can
    be large (k-anonymous) yet still leak if every member shares the
    same SENSITIVE value, because the attacker learns the attribute
    without identifying the row. Quasi-identifiers here are (nation,
    account-balance band); the sensitive attribute is the market
    segment. Report every class whose distinct-sensitive count is
    below L, with its size and diversity.

    One exact distinct-aggregate: Spark plans it as two hash
    aggregates (partial distinct expansion map-side, final count), so
    the shuffle carries one row per (class, segment) — bounded by
    |classes| x |segments|, not by table size. The same plan holds at
    100 TB; no joins, no window."""
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 1000).cast("long").alias("acctbal_band"),
            "c_mktsegment",
        )
        .groupBy("c_nationkey", "acctbal_band")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("c_mktsegment").alias("n_sensitive"),
        )
    )
    return classes.where(F.col("n_sensitive") < L_DIVERSITY_L).select(
        "c_nationkey",
        "acctbal_band",
        "class_size",
        "n_sensitive",
        F.lit(L_DIVERSITY_L).cast("long").alias("l_required"),
    )


L_DIVERSITY_SQL = f"""
SELECT c_nationkey,
       CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acctbal_band,
       COUNT(*) AS class_size,
       COUNT(DISTINCT c_mktsegment) AS n_sensitive,
       CAST({L_DIVERSITY_L} AS BIGINT) AS l_required
FROM customer
GROUP BY 1, 2
HAVING COUNT(DISTINCT c_mktsegment) < {L_DIVERSITY_L}
"""


# Warner's randomized response (JASA 1965) — the local-DP mechanism:
# each respondent reports the TRUTH with probability p = 3/4, the
# opposite otherwise, giving plausible deniability per record
# (epsilon = ln(p/(1-p)) = ln 3) while the aggregate stays estimable:
# pi_hat = (lambda + p - 1) / (2p - 1) for reported-yes rate lambda.
RR_TRUTH_NUM, RR_TRUTH_DEN = 3, 4  # p = 3/4 as an exact rational


def randomized_response_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-DP telemetry via Warner's randomized response: the
    sensitive bit is "customer is in debt" (c_acctbal < 0); each
    record's coin comes from the portable h60 hash of its key (salted),
    standing in for the recorded per-record randomness a production
    collector would store only the noised bit of. Per nation the query
    reports the noised yes-count, the debiased estimate
    pi_hat = (4*yes - n) / (2n), the true rate (available here because
    the audit owns the raw table), and the estimation error — the
    third rung of the privacy tier after ``k_anonymity_risk`` (identity
    disclosure) and ``l_diversity_audit`` (attribute disclosure): this
    one PREVENTS disclosure instead of auditing it.

    Determinism: the coin is pmod(h60, 4) < 3, replayed exactly by the
    SQL oracle; the estimator is a single division of exact bigint
    counts rounded at the edge. One map-side-combined hash aggregate,
    O(|nations|) output — the same plan at 100 TB."""
    from tinymapreduce_spark.functions.hashing import h60

    cust = load_table(spark, sf_dir, "customer")
    # when(...).otherwise(0), not a bare boolean cast: a NULL balance
    # must count as not-sensitive (0) in BOTH engines — the SQL CASE's
    # ELSE branch does this, a NULL-propagating cast would not
    truth = F.when(F.col("c_acctbal") < 0, F.lit(1)).otherwise(F.lit(0))
    coin_truth = (
        F.pmod(h60(F.concat(F.lit("rr|"), F.col("c_custkey").cast("string"))), F.lit(RR_TRUTH_DEN))
        < RR_TRUTH_NUM
    )
    reported = F.when(coin_truth, truth).otherwise(1 - truth)
    agg = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(truth).cast("long").alias("n_true_sensitive"),
        F.sum(reported).cast("long").alias("n_reported_yes"),
    )
    est_num = 4 * F.col("n_reported_yes") - F.col("n_members")
    return agg.select(
        "c_nationkey",
        "n_members",
        "n_true_sensitive",
        "n_reported_yes",
        F.round(est_num.cast("double") / (2 * F.col("n_members")), 6).alias("est_frac"),
        F.round(
            F.col("n_true_sensitive").cast("double") / F.col("n_members"), 6
        ).alias("true_frac"),
        F.round(
            F.abs(est_num - 2 * F.col("n_true_sensitive")).cast("double")
            / (2 * F.col("n_members")),
            6,
        ).alias("est_abs_err"),
    )


from tinymapreduce_spark.functions.hashing import H60_SQL_TMPL as _H60_TMPL_RR

_RR_H60 = _H60_TMPL_RR.format(expr="'rr|' || CAST(c_custkey AS VARCHAR)")
RANDOMIZED_RESPONSE_SQL = f"""
WITH noised AS (
  SELECT c_nationkey,
         CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS truth,
         CASE WHEN {_RR_H60} % {RR_TRUTH_DEN} < {RR_TRUTH_NUM}
              THEN CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END
              ELSE 1 - CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END END AS reported
  FROM customer
), agg AS (
  SELECT c_nationkey,
         COUNT(*) AS n_members,
         CAST(SUM(truth) AS BIGINT) AS n_true_sensitive,
         CAST(SUM(reported) AS BIGINT) AS n_reported_yes
  FROM noised GROUP BY 1
)
SELECT c_nationkey, n_members, n_true_sensitive, n_reported_yes,
       ROUND(CAST(4 * n_reported_yes - n_members AS DOUBLE) / (2 * n_members), 6) AS est_frac,
       ROUND(CAST(n_true_sensitive AS DOUBLE) / n_members, 6) AS true_frac,
       ROUND(CAST(ABS(4 * n_reported_yes - n_members - 2 * n_true_sensitive) AS DOUBLE)
             / (2 * n_members), 6) AS est_abs_err
FROM agg
"""
