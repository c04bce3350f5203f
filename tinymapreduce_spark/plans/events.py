"""Event-stream analytics in batch form: tumbling windows, sessionization,
as-of join. The streaming twins live in tinymapreduce_spark/streaming/.

Determinism: timestamps leave as epoch micros; session/window math is
integer arithmetic on those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tinymapreduce_spark.pyworker import prime_worker
from tinymapreduce_spark.sources.loaders import load_table


def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type — batch form via
    date_trunc (equivalent to F.window() buckets for aligned windows, and
    directly SQL-oracle-able)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_micros(F.date_trunc("hour", "ts")).alias("window_start_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


TUMBLING_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h long, 30 min slide) per event_type via
    F.window — each event lands in exactly duration/slide = 2 windows.
    Spark expands the window set BEFORE the shuffle, so partial
    aggregation still applies; the blow-up factor is the overlap count,
    not the row count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


# Oracle: every event belongs to windows starting at its 30-min bucket and
# the bucket 30 min earlier (time_bucket's 2000-01-01 origin is 30-min
# aligned with Spark's 1970 epoch anchor, so the grids coincide).
SLIDING_SQL = """
SELECT epoch_us(time_bucket(INTERVAL 30 MINUTE, ts) - k.k * INTERVAL 30 MINUTE)
         AS window_start_us,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, (VALUES (0), (1)) k(k)
GROUP BY 1, 2
"""


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap): per user, assign
    session ids via lag + cumulative sum of gap-breaks, then aggregate
    session stats. One shuffle on user_id; both window and final agg
    reuse it."""
    gap_us = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts_us").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull() | (F.col("ts_us") - F.col("prev_ts") > gap_us), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("duration_us").alias("max_session_us"),
    )


SESSIONIZE_SQL = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
), flagged AS (
  SELECT user_id, ts_us, event_id,
    CASE WHEN LAG(ts_us) OVER w IS NULL
           OR ts_us - LAG(ts_us) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, ts_us,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         MAX(ts_us) - MIN(ts_us) AS duration_us
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(duration_us) AS max_session_us
FROM per_session GROUP BY user_id
"""


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (Spark has no native one — SURVEY.md §2.5): each
    'purchase' event matched to the latest 'signup' event of the same
    user at-or-before it.

    Implementation: union both sides tagged, one window pass carrying the
    last signup timestamp forward (`last(..., ignorenulls)` over rows up
    to current). ONE shuffle on user_id — no join at all, which beats the
    bucketized range-join at scale when both sides share the partition
    key. Equal timestamps order signup first (tag 0 < 1), matching the
    ASOF >= convention.
    """
    ev = load_table(spark, sf_dir, "events")
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), F.lit(0).alias("tag"),
        F.lit(None).cast("long").alias("event_id"), F.lit(None).cast("double").alias("value"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), F.lit(1).alias("tag"),
        "event_id", "value",
    )
    unioned = signups.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    with_asof = unioned.withColumn(
        "signup_ts_us",
        F.last(F.when(F.col("tag") == 0, F.col("ts_us")), ignorenulls=True).over(w),
    )
    return (
        with_asof.where(F.col("tag") == 1)
        .select("event_id", "user_id", "ts_us", "value", "signup_ts_us")
    )


# DuckDB has a native ASOF JOIN — the oracle uses it directly, which makes
# this a true cross-implementation check (window-emulation vs native).
ASOF_SQL = """
SELECT p.event_id,
       p.user_id,
       epoch_us(p.ts) AS ts_us,
       p.value,
       epoch_us(s.ts) AS signup_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: per-user DAILY grid from first to last
    active day, with gap days forward-filled from the last observed
    daily total (LOCF). The gap-free regular grid is what downstream
    feature pipelines consume.

    Scale: one shuffle builds (user, day) totals; the per-user grid is
    generated with `sequence()` + explode from each user's tiny
    (lo, hi) bounds row — data-proportional, never a cross join against
    a global calendar. The fill is `last(value, ignorenulls)` over the
    user-day window; totals stay exact decimal until the output edge."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("day_value"))
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.unix_micros("day").alias("day_us"),
            F.last("day_value", ignorenulls=True).over(w).cast("double").alias("value_ffill"),
            F.col("day_value").isNotNull().alias("had_data"),
        )
    )


RESAMPLE_SQL = """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         SUM(CAST(value AS DECIMAL(18,2))) AS day_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1
), grid AS (
  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
)
SELECT g.user_id, epoch_us(g.day) AS day_us,
       CAST(LAST_VALUE(d.day_value IGNORE NULLS) OVER (
            PARTITION BY g.user_id ORDER BY g.day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS value_ffill,
       d.day_value IS NOT NULL AS had_data
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""


HIST_BUCKET_WIDTH = 50


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram of event values — the profiling
    primitive behind quality dashboards and bucketized skew checks.

    Scale: bucket assignment is pure codegen arithmetic at the scan;
    the aggregate ships |buckets| partial rows per task. (An equi-depth
    variant is `exact_percentiles`/`approx_aggregates`.)"""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / HIST_BUCKET_WIDTH).cast("long")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .withColumn("bucket_lo", (F.col("bucket") * HIST_BUCKET_WIDTH).cast("double"))
    )


HISTOGRAM_SQL = f"""
SELECT CAST(FLOOR(value / {HIST_BUCKET_WIDTH}) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(CAST(FLOOR(value / {HIST_BUCKET_WIDTH}) AS BIGINT) * {HIST_BUCKET_WIDTH} AS DOUBLE) AS bucket_lo
FROM events
GROUP BY 1
"""


ASOF_BUCKETS = 64  # Python kernel invocations per cogroup, not per user


def cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same AS-OF semantics as ``asof_join``, through the cogrouped
    pandas API. NOT the default as-of path: ``asof_join`` (pure-JVM
    window emulation) is ~25x faster at bench scale (0.33 s vs 8 s,
    BENCH_r01) because this form pays the Python/Arrow cogroup tax on
    every row — reach for it only when the per-key matching logic
    outgrows what window functions can express (custom tolerance rules,
    multi-column nearest, stateful per-key logic). Kept registered as
    deliberate API-surface coverage. Shares asof_join's oracle (DuckDB's
    native ASOF JOIN), so window-emulation, cogrouped pandas, and a
    native implementation are checked against each other.

    Perf shape: cogrouping on the RAW user_id invokes the Python kernel
    once per user (~10k tiny pandas frames at bench scale — per-call
    overhead dominated, 25× slower than the window twin). Instead both
    sides cogroup on a HASH BUCKET of the key and each bucket runs ONE
    vectorized ``pd.merge_asof(..., by="user_id")`` over all its users
    — Python call count drops from O(users) to O(buckets) while the
    per-user as-of semantics are unchanged (``by`` scopes the
    two-pointer match per user). Same recipe a real cluster wants:
    Arrow batches sized by bucket, not by key."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "value"
    ).withColumn("bucket", F.pmod(F.col("user_id"), F.lit(ASOF_BUCKETS)))
    # NOTE: the right side carries the match key as ``uid`` — Spark's
    # cogroup prunes a right-side column named identically to one the
    # grouping expression consumes (observed on 4.1: ``user_id``
    # vanishes from the passed pandas frame); an alias survives.
    signups = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("uid"), F.unix_micros("ts").alias("signup_ts_us")
    ).withColumn("bucket", F.pmod(F.col("uid"), F.lit(ASOF_BUCKETS)))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        prime_worker()
        if left.empty:
            return pd.DataFrame(
                columns=["event_id", "user_id", "ts_us", "value", "signup_ts_us"]
            )
        l = left.sort_values(["ts_us", "user_id"], kind="mergesort")
        if right.empty:  # a bucket with purchases but no signups at all
            out = l.copy()
            out["signup_ts_us"] = pd.array([None] * len(l), dtype="Int64")
        else:
            r = (
                right[["uid", "signup_ts_us"]]
                .rename(columns={"uid": "user_id"})
                .sort_values(["signup_ts_us", "user_id"], kind="mergesort")
            )
            out = pd.merge_asof(
                l,
                r,
                left_on="ts_us",
                right_on="signup_ts_us",
                by="user_id",
                direction="backward",
            )
            out["signup_ts_us"] = out["signup_ts_us"].astype("Int64")
        return out[["event_id", "user_id", "ts_us", "value", "signup_ts_us"]]

    return (
        purchases.groupBy("bucket")
        .cogroup(signups.groupBy("bucket"))
        .applyInPandas(
            merge,
            "event_id long, user_id long, ts_us long, value double, signup_ts_us long",
        )
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user
    reaches stage k only via an event strictly after their entry into
    stage k-1 — the product-analytics primitive the reference's Map/
    Reduce surface cannot express (it needs per-key order, not bags).

    Each stage is one column-pruned, predicate-pushed scan of events
    (event_type filter reaches the parquet reader) plus an equi-join
    against the previous stage's per-user entry time. The per-user frames
    are tiny (one row per converted user), so at 100 TB every join after
    the first aggregation is a broadcast; the scans dominate, as they
    should. Output: one row per stage with the surviving-user count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )

    def entry(stage: str, prev: DataFrame | None) -> DataFrame:
        e = ev.where(F.col("event_type") == stage)
        if prev is not None:
            e = e.join(prev, "user_id").where(F.col("ts_us") > F.col("prev_ts"))
        return e.groupBy("user_id").agg(F.min("ts_us").alias("prev_ts"))

    stages, prev = [], None
    for s in FUNNEL_STAGES:
        prev = entry(s, prev)
        stages.append(prev)
    counts = [
        s.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(f"{i + 1}_{name}").alias("stage"), "n_users"
        )
        for i, (name, s) in enumerate(zip(FUNNEL_STAGES, stages))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS prev_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS prev_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.prev_ts
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS prev_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.prev_ts
  GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL SELECT '2_click', COUNT(*) FROM c
UNION ALL SELECT '3_purchase', COUNT(*) FROM p
"""


WEEK_US = 7 * 24 * 3600 * 1_000_000
COHORT_ORIGIN_US = 1_704_067_200_000_000  # 2024-01-01 UTC


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week, counted in each subsequent week they return — (cohort_week,
    weeks_since, n_users). THE growth-analytics query.

    Week ids are pure integer arithmetic on epoch micros (no calendar
    functions — identical down to the division in both engines). Two
    aggregations over one scan: per-user first week (150 rows here;
    at 100 TB a shuffle on user_id) broadcast back onto the per-user-week
    activity set. distinct user-week pairs collapse BEFORE the join, so
    the join input is bounded by users x weeks, not events."""
    # true bigint division on both sides: a double quotient 1 us below a
    # week boundary rounds UP to the boundary integer (and DuckDB's
    # double->int cast additionally rounds-to-nearest), mis-bucketing
    # boundary events — integer `div` has no such edge
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"(unix_micros(ts) - {COHORT_ORIGIN_US}L) div {WEEK_US}L").alias("week"),
    )
    user_weeks = ev.distinct()
    cohort = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        user_weeks.join(cohort, "user_id")
        .select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since"))
        .groupBy("cohort_week", "weeks_since")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


RETENTION_SQL = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         (epoch_us(ts) - {COHORT_ORIGIN_US}) // {WEEK_US} AS week
  FROM events
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week, uw.week - c.cohort_week AS weeks_since,
       COUNT(DISTINCT uw.user_id) AS n_users
FROM uw JOIN cohort c ON uw.user_id = c.user_id
GROUP BY 1, 2
"""


Z_THRESHOLD = 3.0


def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score outliers: events whose value sits more than 3
    standard deviations from that user's own mean — the standard
    first-pass anomaly screen over metric streams.

    Moments fold EXACTLY: sum(value) and sum(value^2) accumulate in
    DECIMAL (order-insensitive), converted to DOUBLE only inside the
    final variance formula, which is written identically in the oracle —
    so the flagged SET matches bit-for-bit. One shuffle for the per-user
    moments (tiny), broadcast back onto the event scan; nothing holds
    more than a row per user."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,10)")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = (F.col("value") - F.col("mean")) / F.col("std")
    return (
        ev.join(
            F.broadcast(stats.select("user_id", mean.alias("mean"), F.sqrt(var).alias("std"))),
            "user_id",
        )
        .where(F.col("std") > 0)
        .select("event_id", "user_id", "value", F.round(z, 6).alias("z"))
        .where(F.abs(F.col("z")) > Z_THRESHOLD)
    )


ANOMALY_SQL = f"""
WITH stats AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,10))) AS s,
         SUM(CAST(value * value AS DECIMAL(38,10))) AS ss
  FROM events GROUP BY user_id
), enriched AS (
  SELECT e.event_id, e.user_id, e.value,
         CAST(s AS DOUBLE) / n AS mean,
         SQRT(CAST(ss AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS std
  FROM events e JOIN stats USING (user_id)
)
SELECT event_id, user_id, value, ROUND((value - mean) / std, 6) AS z
FROM enriched
WHERE std > 0 AND ABS(ROUND((value - mean) / std, 6)) > {Z_THRESHOLD}
"""


DAY_US = 24 * 3600 * 1_000_000


def time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event distribution: per user, days between first signup
    and first purchase AFTER it, histogrammed by whole days — the
    survival-analysis input (activation latency, funnel velocity).

    Day deltas are pure bigint division (no calendar functions, no
    double quotient — see retention_cohorts for why); two tiny per-user
    aggregates off predicate-pushed scans, then a groups-sized count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s_ts"))
    )
    purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .where(F.col("ts_us") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("p_ts"), F.first("s_ts").alias("s_ts"))
    )
    days = purchase.select(
        "user_id", F.expr(f"(p_ts - s_ts) div {DAY_US}L").alias("days_to_convert")
    )
    return days.groupBy("days_to_convert").agg(F.count(F.lit(1)).alias("n_users"))


TIME_TO_CONVERSION_SQL = f"""
WITH signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), purchase AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS p_ts, MIN(s.s_ts) AS s_ts
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s_ts
  GROUP BY e.user_id
)
SELECT (p_ts - s_ts) // {DAY_US} AS days_to_convert, COUNT(*) AS n_users
FROM purchase
GROUP BY 1
"""


PATH_TOPK = 10


def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: the top-10 most common 3-step event-type
    sequences within a session (30-min gap sessions, same rule as
    ``sessionize``) — the navigation-pattern query behind UX funnels and
    anomaly forensics ("error after purchase").

    One shuffle on user_id serves the session assignment AND the two
    LEADs (all three window specs share the partition key); the trigram
    count is a tiny groupBy; top-k is TakeOrderedAndProject. Sequences
    never materialize as arrays — LEAD keeps it row-shaped, so skewed
    giant sessions cannot blow up a collect_list."""
    gap_us = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts_us").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull() | (F.col("ts_us") - F.col("prev_ts") > gap_us), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts_us", "event_id")
    tri = sess.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(ws).alias("step2"),
        F.lead("event_type", 2).over(ws).alias("step3"),
    ).where(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        tri.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("step1"), F.asc("step2"), F.asc("step3"))
        .limit(PATH_TOPK)
    )


EVENT_PATH_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type FROM events
), flagged AS (
  SELECT user_id, ts_us, event_id, event_type,
    CASE WHEN LAG(ts_us) OVER w IS NULL
           OR ts_us - LAG(ts_us) OVER w > 30*60*1000000 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
), sess AS (
  SELECT user_id, ts_us, event_id, event_type,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
), tri AS (
  SELECT event_type AS step1,
         LEAD(event_type, 1) OVER ws AS step2,
         LEAD(event_type, 2) OVER ws AS step3
  FROM sess
  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts_us, event_id)
)
SELECT step1, step2, step3, COUNT(*) AS n
FROM tri
WHERE step2 IS NOT NULL AND step3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step1 ASC, step2 ASC, step3 ASC
LIMIT {PATH_TOPK}
"""


WAU_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — THE engagement metric.
    Sliding-window COUNT DISTINCT cannot ride a window frame (distinct
    isn't frame-mergeable), so the scalable form is: dedup to
    (day, user) once, explode each pair into the 7 target days it
    supports, dedup (target_day, user), count. Shuffle volume is
    7x the (day, user) pair count — pairs, not events — and every step
    is a hash aggregate; no per-day re-scan, no quadratic self-join.

    Day ids are bigint division on epoch micros (see retention_cohorts);
    BOTH edges of the observed range are trimmed — trailing days beyond
    max(day), and the first WAU_DAYS-1 leading days whose window would
    extend before the first observed day — so every reported day has a
    full-width window of data availability (ADVICE r01: leading days
    used to report partial-window WAU)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) div {DAY_US}L").alias("day"),
    )
    du = ev.distinct()
    bounds = du.agg(
        F.max("day").alias("max_day"),
        (F.min("day") + F.lit(WAU_DAYS - 1)).alias("first_full_day"),
    )
    supported = (
        du.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(WAU_DAYS - 1))
            ).alias("target_day"),
        )
        .distinct()
        .join(
            F.broadcast(bounds),
            (F.col("target_day") <= F.col("max_day"))
            & (F.col("target_day") >= F.col("first_full_day")),
        )
    )
    return supported.groupBy("target_day").agg(
        F.count_distinct("user_id").alias("wau")
    )


ROLLING_WAU_SQL = f"""
WITH du AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
), supported AS (
  SELECT DISTINCT user_id, day + k.k AS target_day
  FROM du, (SELECT UNNEST(range(0, {WAU_DAYS})) AS k) k
), bounds AS (
  SELECT MAX(day) AS max_day, MIN(day) + {WAU_DAYS - 1} AS first_full_day FROM du
)
SELECT target_day, COUNT(DISTINCT user_id) AS wau
FROM supported, bounds
WHERE target_day BETWEEN first_full_day AND max_day
GROUP BY target_day
"""


def stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness = DAU / WAU per day — how much of the weekly audience
    shows up daily (the engagement-quality companion to
    ``rolling_active_users``). Both distinct counts come off the SAME
    deduped (day, user) pair frame — one scan feeds two hash
    aggregates — and the ratio is one exactly-rounded division of two
    exact integers. Reported days inherit rolling_active_users'
    full-window trim (leading and trailing partial-window days are
    excluded), so early-range stickiness is not biased high by a
    too-small WAU denominator."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(ts) div {DAY_US}L").alias("day"),
    )
    du = ev.distinct()
    dau = du.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    bounds = du.agg(
        F.max("day").alias("max_day"),
        (F.min("day") + F.lit(WAU_DAYS - 1)).alias("first_full_day"),
    )
    wau = (
        du.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + F.lit(WAU_DAYS - 1))
            ).alias("target_day"),
        )
        .distinct()
        .join(
            F.broadcast(bounds),
            (F.col("target_day") <= F.col("max_day"))
            & (F.col("target_day") >= F.col("first_full_day")),
        )
        .groupBy(F.col("target_day").alias("day"))
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
    )


STICKINESS_SQL = f"""
WITH du AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {DAY_US} AS day FROM events
), dau AS (
  SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY day
), supported AS (
  SELECT DISTINCT user_id, day + k.k AS target_day
  FROM du, (SELECT UNNEST(range(0, {WAU_DAYS})) AS k) k
), bounds AS (
  SELECT MAX(day) AS max_day, MIN(day) + {WAU_DAYS - 1} AS first_full_day FROM du
), wau AS (
  SELECT target_day AS day, COUNT(DISTINCT user_id) AS wau
  FROM supported, bounds
  WHERE target_day BETWEEN first_full_day AND max_day GROUP BY 1
)
SELECT day, dau, wau, ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
"""


def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (both sides are intervals — the sibling of
    the point-in-interval ``range_join_bucketed``): per-(user, day)
    activity spans [first event, last event], paired with every other
    user's same-day span that overlaps it, with the exact overlap width
    in micros.

    Scale shape: the join key is the TILE (here the calendar day each
    span lives in), so candidates are bounded per tile instead of the
    O(n^2) all-pairs a raw inequality join plans. Spans never cross a
    tile here by construction (they are built per day); for spans that
    could, the same plan generalizes by exploding each span onto the
    tiles it touches and deduplicating pairs — candidate count stays
    O(sum per-tile^2), the standard distributed interval-join layout.
    Overlap math is integer epoch-micros end to end.
    """
    iv = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            F.unix_micros("ts").alias("ts_us"),
        )
        .groupBy("user_id", "day")
        .agg(F.min("ts_us").alias("start_us"), F.max("ts_us").alias("end_us"))
    )
    a = iv.alias("a")
    b = iv.alias("b")
    ov = F.least(F.col("a.end_us"), F.col("b.end_us")) - F.greatest(
        F.col("a.start_us"), F.col("b.start_us")
    )
    return (
        a.join(b, (F.col("a.day") == F.col("b.day")) & (F.col("a.user_id") < F.col("b.user_id")))
        .where(ov > 0)
        .select(
            F.col("a.day").alias("day"),
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            ov.alias("overlap_us"),
        )
    )


INTERVAL_OVERLAP_SQL = """
WITH iv AS (
  SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
         MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
  FROM events GROUP BY 1, 2
)
SELECT a.day AS day, a.user_id AS user_a, b.user_id AS user_b,
       least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us) AS overlap_us
FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
WHERE least(a.end_us, b.end_us) > greatest(a.start_us, b.start_us)
"""


GAP_MIN_MINUTES = 90


def activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap/island detection — per user, every silence longer than 90
    minutes between consecutive events (monitoring's "sensor went dark"
    / churn-risk primitive; the dual of ``sessionize``, which groups the
    islands where this reports the gaps). One LAG over the per-user
    time order: a single user_id shuffle, O(1) state per row, exact
    integer microsecond arithmetic."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "gap_us", F.unix_micros("ts") - F.unix_micros("prev_ts")
        )
        .where(F.col("gap_us") > GAP_MIN_MINUTES * 60 * 1_000_000)
    )
    return g.select(
        "user_id",
        F.unix_micros("prev_ts").alias("gap_start_us"),
        F.unix_micros("ts").alias("gap_end_us"),
        "gap_us",
    )


ACTIVITY_GAPS_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
)
SELECT user_id,
       epoch_us(prev_ts) AS gap_start_us,
       epoch_us(ts) AS gap_end_us,
       epoch_us(ts) - epoch_us(prev_ts) AS gap_us
FROM o
WHERE epoch_us(ts) - epoch_us(prev_ts) > CAST({GAP_MIN_MINUTES} AS BIGINT) * 60 * 1000000
"""


ACF_LAGS = (1, 2, 7)


def autocorrelation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level autocorrelation of per-user daily activity at
    calendar lags {1, 2, 7} — the periodicity screen (weekly rhythm vs
    day-to-day persistence) a time-series tier needs before any
    forecasting. Everything is EXACT integer moment algebra over the
    zero-filled per-user daily series: for user u with observed span
    [lo, hi] and lag L, the n = span - L aligned pairs have
    sx/sxx = conditional sums over day <= hi - L, sy/syy over
    day >= lo + L (zero days contribute nothing to sums but DO count
    in n — that is what the span arithmetic encodes), and sxy comes
    from a (user, day + L) equi-join of present days only. Per lag the
    query emits user count and the summed exact covariance/variance
    numerators (n*sxy - sx*sy etc.) — the float r never materializes,
    so the oracle hash-checks bigints (grouped_correlation's
    convention, applied at lag).

    Scale shape: one groupBy to daily counts (events never re-scanned),
    one broadcast-size per-user bounds join, a 3-way lag explode over
    the DAILY table (pairs, not events), and one equi-join on
    (user, day+L) — all hash-partitioned by user; no windows over the
    full series, no per-day re-scans."""
    daily = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.expr(f"unix_micros(ts) div {DAY_US}L").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    lags = F.array(*[F.lit(lag) for lag in ACF_LAGS])
    lagged = daily.select("user_id", "day", "cnt", F.explode(lags).alias("lag"))
    side = (
        lagged.join(bounds, "user_id")
        .groupBy("user_id", "lag")
        .agg(
            (F.first("hi") - F.first("lo") + 1 - F.first("lag")).alias("n"),
            F.sum(F.when(F.col("day") <= F.col("hi") - F.col("lag"), F.col("cnt")).otherwise(0)).alias("sx"),
            F.sum(F.when(F.col("day") <= F.col("hi") - F.col("lag"), F.col("cnt") * F.col("cnt")).otherwise(0)).alias("sxx"),
            F.sum(F.when(F.col("day") >= F.col("lo") + F.col("lag"), F.col("cnt")).otherwise(0)).alias("sy"),
            F.sum(F.when(F.col("day") >= F.col("lo") + F.col("lag"), F.col("cnt") * F.col("cnt")).otherwise(0)).alias("syy"),
        )
    )
    b2 = daily.select(
        F.col("user_id"), F.col("day").alias("day2"), F.col("cnt").alias("cnt2")
    )
    pairs = (
        lagged.join(
            b2,
            (lagged["user_id"] == b2["user_id"])
            & (b2["day2"] == lagged["day"] + lagged["lag"]),
        )
        .groupBy(lagged["user_id"].alias("user_id"), "lag")
        .agg(F.sum(F.col("cnt") * F.col("cnt2")).alias("sxy"))
    )
    per_user = side.join(pairs, ["user_id", "lag"], "left").select(
        "lag",
        "n",
        (F.col("n") * F.coalesce(F.col("sxy"), F.lit(0)) - F.col("sx") * F.col("sy")).alias("cov_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx_num"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("vary_num"),
    )
    return (
        per_user.where(F.col("n") >= 1)
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cov_num").cast("long").alias("cov_num_sum"),
            F.sum("varx_num").cast("long").alias("varx_num_sum"),
            F.sum("vary_num").cast("long").alias("vary_num_sum"),
        )
        .select(F.col("lag").cast("long").alias("lag"), "n_users", "cov_num_sum", "varx_num_sum", "vary_num_sum")
    )


ACF_SQL = f"""
WITH daily AS (
  SELECT user_id, epoch_us(ts) // {DAY_US} AS day, COUNT(*) AS cnt
  FROM events GROUP BY user_id, epoch_us(ts) // {DAY_US}
), bounds AS (
  SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY user_id
), lagged AS (
  SELECT user_id, day, cnt, l.lag
  FROM daily, LATERAL (SELECT UNNEST([{", ".join(str(lag) for lag in ACF_LAGS)}]) AS lag) l
), side AS (
  SELECT la.user_id, la.lag,
         ANY_VALUE(b.hi) - ANY_VALUE(b.lo) + 1 - la.lag AS n,
         SUM(CASE WHEN la.day <= b.hi - la.lag THEN la.cnt ELSE 0 END) AS sx,
         SUM(CASE WHEN la.day <= b.hi - la.lag THEN la.cnt * la.cnt ELSE 0 END) AS sxx,
         SUM(CASE WHEN la.day >= b.lo + la.lag THEN la.cnt ELSE 0 END) AS sy,
         SUM(CASE WHEN la.day >= b.lo + la.lag THEN la.cnt * la.cnt ELSE 0 END) AS syy
  FROM lagged la JOIN bounds b USING (user_id)
  GROUP BY la.user_id, la.lag
), pairs AS (
  SELECT la.user_id, la.lag, SUM(la.cnt * d2.cnt) AS sxy
  FROM lagged la JOIN daily d2
    ON d2.user_id = la.user_id AND d2.day = la.day + la.lag
  GROUP BY la.user_id, la.lag
), per_user AS (
  SELECT s.lag, s.n,
         s.n * COALESCE(p.sxy, 0) - s.sx * s.sy AS cov_num,
         s.n * s.sxx - s.sx * s.sx AS varx_num,
         s.n * s.syy - s.sy * s.sy AS vary_num
  FROM side s LEFT JOIN pairs p ON p.user_id = s.user_id AND p.lag = s.lag
  WHERE s.n >= 1
)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cov_num) AS BIGINT) AS cov_num_sum,
       CAST(SUM(varx_num) AS BIGINT) AS varx_num_sum,
       CAST(SUM(vary_num) AS BIGINT) AS vary_num_sum
FROM per_user
GROUP BY lag
"""
