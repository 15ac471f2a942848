"""Q69/Q70 — behavioral analytics over ``events``: cohort retention and
top event paths. The reference's weekly reporting cadence
(`/root/reference/test.py:130`, the `minggu` key) generalizes to
event-time cohorting; path analysis is the ordered-aggregation
counterpart of the q35 funnel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load
from .classify import epoch_day, sql_epoch_day

WEEK_SECONDS = 7 * 86400
DAY_SECONDS = 86400


# ---------------------------------------------------------------------------
# Q69 — weekly cohort retention (the classic growth-analytics triangle):
# users are cohorted by the epoch-aligned week of their FIRST event;
# each (cohort, week-offset) cell counts distinct users still active.
# Week identity comes from F.window (epoch-aligned, the q11a contract);
# the offset is a datediff — integer arithmetic on both engines, no
# timezone exposure. Shape: two hash aggs + one join on user_id + a
# window over the (cohorts × offsets) frame, which is bounded by the
# calendar, not the data. Retention as integer ppm (engine-exact).
# ---------------------------------------------------------------------------
def q69_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    uw = (
        events.select(
            "user_id", F.window("ts", "7 days").start.alias("wk_start")
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("wk_start").alias("cohort_start"))
    act = (
        uw.join(first, "user_id")
        .groupBy(
            "cohort_start",
            (F.datediff("wk_start", "cohort_start") / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    w = Window.partitionBy("cohort_start")
    return (
        act.withColumn(
            "cohort_size",
            F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(w),
        )
        .select(
            "cohort_start",
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("n_active * 1000000 DIV cohort_size").alias("retained_ppm"),
        )
        .orderBy("cohort_start", "week_offset")
    )


Q69_SQL = f"""
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / {WEEK_SECONDS}) AS BIGINT) AS wk
  FROM events
),
first AS (SELECT user_id, MIN(wk) AS cwk FROM uw GROUP BY user_id),
act AS (
  SELECT f.cwk, uw.wk - f.cwk AS week_offset,
         COUNT(DISTINCT uw.user_id) AS n_active
  FROM uw JOIN first f USING (user_id)
  GROUP BY 1, 2
),
sized AS (
  SELECT *,
         MAX(CASE WHEN week_offset = 0 THEN n_active END)
           OVER (PARTITION BY cwk) AS cohort_size
  FROM act
)
SELECT TIMESTAMP '1970-01-01' + INTERVAL (cwk * {WEEK_SECONDS}) SECOND AS cohort_start,
       CAST(week_offset AS BIGINT) AS week_offset,
       CAST(n_active AS BIGINT) AS n_active,
       CAST(cohort_size AS BIGINT) AS cohort_size,
       CAST(n_active * 1000000 // cohort_size AS BIGINT) AS retained_ppm
FROM sized
ORDER BY cohort_start, week_offset
"""


# ---------------------------------------------------------------------------
# Q70 — top event paths (ordered aggregation): the first 5 event types
# per (user, epoch-day), in (ts, event_id) total order, joined into a
# '>' path string; paths ranked by frequency. Spark builds the ordered
# string from collect_list(struct) + array_sort + slice (the q16
# flatten discipline — no array column ever reaches the driver or a
# result hash); the oracle uses string_agg ORDER BY over a
# row_number-limited subquery. One shuffle on (user, day), one on path.
# ---------------------------------------------------------------------------
_PATH_LEN = 5


def q70_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    day = F.window("ts", "1 day").start.alias("day")
    per_day = (
        events.select("user_id", day, F.struct("ts", "event_id", "event_type").alias("s"))
        .groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list("s")), lambda x: x.event_type
                    ),
                    1,
                    _PATH_LEN,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        per_day.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), "path")
        .limit(10)
    )


Q70_SQL = f"""
WITH ordered AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / {DAY_SECONDS}) AS BIGINT) AS day,
         event_type, ts, event_id,
         row_number() OVER (
           PARTITION BY user_id, CAST(floor(epoch(ts) / {DAY_SECONDS}) AS BIGINT)
           ORDER BY ts, event_id
         ) AS rn
  FROM events
),
paths AS (
  SELECT user_id, day,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM ordered
  WHERE rn <= {_PATH_LEN}
  GROUP BY user_id, day
)
SELECT path, COUNT(*) AS n_user_days
FROM paths
GROUP BY path
ORDER BY n_user_days DESC, path
LIMIT 10
"""


QUERIES = {
    "q69_cohort_retention": q69_cohort_retention,
    "q70_top_event_paths": q70_top_event_paths,
}

ORACLES = {
    "q69_cohort_retention": Q69_SQL,
    "q70_top_event_paths": Q70_SQL,
}


# ---------------------------------------------------------------------------
# Q86 — capped sessionization: sessions break on a 30-minute
# inactivity gap (q11e's rule) AND on a 4-hour duration cap measured
# from the gap-session's start — the production sessionizer contract
# (a bot firing an event every minute for a week must not produce one
# week-long session). Two-phase, fully window-expressible: LAG marks
# gap breaks → running SUM assigns gap-sessions (one user_id shuffle
# serves every window); within each gap-session the cap partitions
# events into fixed 4-hour buckets from the session start — integer
# epoch arithmetic, identical on both engines.
# ---------------------------------------------------------------------------
_SESS_GAP_S = 1800
_SESS_CAP_S = 14400


def q86_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
            > _SESS_GAP_S,
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    gap_sessions = marked.withColumn(
        "gsid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    wg = Window.partitionBy("user_id", "gsid")
    capped = gap_sessions.withColumn(
        "sub",
        (
            (F.unix_timestamp("ts") - F.unix_timestamp(F.min("ts").over(wg)))
            / _SESS_CAP_S
        ).cast("long"),
    )
    return (
        capped.groupBy("user_id", "gsid", "sub")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "session_start",
            "n_events",
            (
                F.unix_timestamp("session_end") - F.unix_timestamp("session_start")
            ).alias("duration_s"),
        )
        .orderBy("user_id", "session_start")
    )


Q86_SQL = f"""
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER
                (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > {_SESS_GAP_S}
              THEN 1 ELSE 0 END AS brk
  FROM events
),
gs AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gsid
  FROM marked
),
capped AS (
  SELECT *,
         CAST((CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(MIN(ts) OVER (PARTITION BY user_id, gsid))) AS BIGINT))
              // {_SESS_CAP_S} AS BIGINT) AS sub
  FROM gs
)
SELECT user_id,
       MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       CAST(CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS BIGINT) AS duration_s
FROM capped
GROUP BY user_id, gsid, sub
ORDER BY user_id, session_start
"""

QUERIES["q86_capped_sessions"] = q86_capped_sessions
ORACLES["q86_capped_sessions"] = Q86_SQL


# ---------------------------------------------------------------------------
# Q102 — rolling z-score anomaly detection, exact cross-multiplied
# integers (time-series monitoring over the orders stream).
#
# The ops side of a 100 TB pipeline: flag days whose revenue deviates
# > k sigma from the trailing window — the standard streaming/batch
# data-quality monitor. The textbook formulation needs sqrt(variance);
# both sqrt and the division are floating and engine-noisy. The
# z-test is instead evaluated as an EXACT integer inequality by
# cross-multiplying the definition (the q89 integer-rank discipline):
#
#   z^2 > k^2   <=>   (n*x - S1)^2 > k^2 * (n*S2 - S1^2)
#
# with x = daily revenue in cents, S1/S2 = trailing-window sum and
# sum-of-squares (7 prior days, >= 5 required), k = 3. A severity
# ranking that needs no sqrt either: sev_ppm = lhs * 1e6 DIV rhs,
# SATURATED at 10^15 ppm so a near-degenerate window variance (rhs
# of a few units under a large spike) can't push the quotient past
# BIGINT on either engine. Saturation is detected BEFORE dividing
# (ADVICE r4: Spark's IntegralDivide on decimals silently WRAPS past
# 2^63 rather than nulling, so a coalesce-after-divide clamp never
# fires): saturated <=> floor(lhs / 1e9) >= rhs, computed exactly in
# DECIMAL via the remainder trick (lhs - lhs % 1e9) / 1e9 — an exact
# integer <= 1e29, representable in DECIMAL(38,6), no overflow. The
# division runs only in the unsaturated branch, where the quotient
# < 1e15 fits BIGINT by construction; lhs * 1e6 there is exact for
# lhs <= 1e32, i.e. |n*x - S1| <= 1e16 cents — a $100-trillion daily
# deviation, two orders of magnitude past 100 TB TPC-H. The DuckDB
# mirror shares the same CASE structure with HUGEINT floor-division.
# Squares of cent sums reach ~10^22 at warehouse scale, so the
# comparison runs in DECIMAL(38,0) on both engines — overflow-free up
# to ~10^19 cents per window.
#
# Scale shape: one (segment, day) hash agg over the orders scan, one
# segment-keyed window (each segment's day series is tiny relative to
# the scan), output = 3 rows per segment. All arithmetic exact, so
# partitioning can never flip a flag.
# ---------------------------------------------------------------------------


def _daily_revenue(spark: SparkSession, sf_dir: str, *, epoch_days: bool = False) -> DataFrame:
    """(segment, day|d, cents): per-segment daily revenue in exact
    integer cents — the shared base of the time-series family (q102
    z-test, q109 OLS trend, q114 seasonality, q116 MAD). One Spark
    home; _sql_daily is its one SQL mirror. ``epoch_days`` selects an
    integer epoch-day column ``d`` instead of a DATE column ``day``."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    day = (
        epoch_day(F.col("o_orderdate")).alias("d")
        if epoch_days
        else F.to_date("o_orderdate").alias("day")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), day)
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,4)")) * 100, 0)
            .cast("long")
            .alias("cents")
        )
    )


def _sql_daily(*, epoch_days: bool = False) -> str:
    """DuckDB mirror of _daily_revenue (a CTE body)."""
    day = (
        f"{sql_epoch_day('o_orderdate')} AS d"
        if epoch_days
        else "CAST(o_orderdate AS DATE) AS day"
    )
    return f"""
  SELECT c_mktsegment AS segment, {day},
         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100, 0) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
"""


def q102_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir)
    w = (
        Window.partitionBy("segment")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    stats = daily.select(
        "segment",
        "day",
        "cents",
        F.count("cents").over(w).alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(w).alias("s1"),
        F.sum((F.col("cents").cast("decimal(38,0)") * F.col("cents")).cast("decimal(38,0)"))
        .over(w)
        .alias("s2"),
    ).filter(F.col("n") >= 5)
    scored = stats.select(
        "segment",
        "day",
        "cents",
        F.col("n").cast("long").alias("window_n"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * cents - s1) * (CAST(n AS DECIMAL(38,0)) * cents - s1) AS DECIMAL(38,0))"
        ).alias("lhs"),
        F.expr(
            "CAST(9 * (CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1) AS DECIMAL(38,0))"
        ).alias("rhs"),
    )
    ranked = scored.select(
        "segment",
        "day",
        "cents",
        "window_n",
        F.when(F.col("rhs") <= 0, F.col("lhs") > 0)
        .otherwise(F.col("lhs") > F.col("rhs"))
        .alias("is_anomaly"),
        F.when(F.col("rhs") <= 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "CASE WHEN CAST((lhs - lhs % 1000000000) / 1000000000"
                " AS DECIMAL(38,0)) >= rhs"
                " THEN CAST(1000000000000000 AS BIGINT)"
                " ELSE CAST(lhs * 1000000 div rhs AS BIGINT) END"
            )
        )
        .alias("sev_ppm"),
    )
    wtop = Window.partitionBy("segment").orderBy(
        F.desc_nulls_last("sev_ppm"), "day"
    )
    return (
        ranked.withColumn("rk", F.row_number().over(wtop))
        .filter(F.col("rk") <= 3)
        .select(
            "segment",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            "window_n",
            "is_anomaly",
            "sev_ppm",
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("segment", "rk")
    )


Q102_SQL = f"""
WITH daily AS ({_sql_daily()}),
stats AS (
  SELECT segment, day, cents,
         COUNT(cents) OVER w AS n,
         SUM(CAST(cents AS DECIMAL(38,0))) OVER w AS s1,
         SUM(CAST(CAST(cents AS DECIMAL(38,0)) * cents AS DECIMAL(38,0))) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY segment ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
scored AS (
  SELECT segment, day, cents, CAST(n AS BIGINT) AS window_n,
         CAST((CAST(n AS DECIMAL(38,0)) * cents - s1) * (CAST(n AS DECIMAL(38,0)) * cents - s1) AS DECIMAL(38,0)) AS lhs,
         CAST(9 * (CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1) AS DECIMAL(38,0)) AS rhs
  FROM stats WHERE n >= 5
),
ranked AS (
  SELECT segment, day, cents, window_n,
         CASE WHEN rhs <= 0 THEN lhs > 0 ELSE lhs > rhs END AS is_anomaly,
         CASE WHEN rhs <= 0 THEN NULL
              WHEN CAST(lhs AS HUGEINT) // 1000000000 >= CAST(rhs AS HUGEINT)
              THEN CAST(1000000000000000 AS BIGINT)
              ELSE CAST(CAST(lhs AS HUGEINT) * 1000000 // CAST(rhs AS HUGEINT) AS BIGINT) END AS sev_ppm,
         row_number() OVER (PARTITION BY segment
                            ORDER BY (CASE WHEN rhs <= 0 THEN NULL
                                           WHEN CAST(lhs AS HUGEINT) // 1000000000 >= CAST(rhs AS HUGEINT)
                                           THEN CAST(1000000000000000 AS BIGINT)
                                           ELSE CAST(CAST(lhs AS HUGEINT) * 1000000 // CAST(rhs AS HUGEINT) AS BIGINT) END) DESC NULLS LAST,
                                     day) AS rk
  FROM scored
)
SELECT segment, strftime(day, '%Y-%m-%d') AS day, cents, window_n, is_anomaly, sev_ppm,
       CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= 3
ORDER BY segment, rk
"""

QUERIES["q102_zscore_anomalies"] = q102_zscore_anomalies
ORACLES["q102_zscore_anomalies"] = Q102_SQL


# ---------------------------------------------------------------------------
# Q105 — sliding-window distinct users (the window-distinct rewrite).
#
# "Distinct users in the trailing 7 days, per day" is the canonical
# engagement metric, and COUNT(DISTINCT) OVER a sliding frame is the
# one aggregate window functions cannot do (Spark raises
# DISTINCT_WINDOW_FUNCTION_UNSUPPORTED; DuckDB computes it but only
# single-threaded). The scale rewrite: each event CONTRIBUTES to the
# 7 window-ends it falls into — explode to (window_end, user) pairs
# map-side (bounded 7x fanout of two-integer rows), then one ordinary
# distinct hash agg per window end. Shuffle volume is 7x(int,int) per
# event — independent of how wide the window is relative to the data,
# and embarrassingly parallel where the naive per-day DISTINCT scan
# is O(days * window) rescans.
#
# The oracle computes the same metric the NAIVE way (per-day range
# self-join + COUNT DISTINCT) — a cross-algorithm hash-match like
# q82/q99. Window ends are kept only where the full 7-day window fits
# inside the observed range, so both formulations agree at the edges.
# ---------------------------------------------------------------------------


def q105_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        epoch_day(F.col("ts")).alias("d"),
        "user_id",
    )
    bounds = ev.agg(
        F.min("d").alias("d_min"), F.max("d").alias("d_max")
    )
    expl = ev.select(
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wend"),
        "user_id",
    )
    agg = expl.groupBy("wend").agg(
        F.countDistinct("user_id").alias("distinct_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return (
        agg.crossJoin(F.broadcast(bounds))
        .filter((F.col("wend") >= F.col("d_min") + 6) & (F.col("wend") <= F.col("d_max")))
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("wend").cast("int")),
                "yyyy-MM-dd",
            ).alias("window_end"),
            "distinct_users",
            "n_events",
        )
        .orderBy("window_end")
    )


Q105_SQL = f"""
WITH ev AS (
  SELECT {sql_epoch_day('ts')} AS d, user_id
  FROM events
),
bounds AS (SELECT MIN(d) AS d_min, MAX(d) AS d_max FROM ev),
days AS (
  SELECT UNNEST(range(d_min + 6, d_max + 1)) AS wend FROM bounds
),
win AS (
  SELECT days.wend,
         COUNT(DISTINCT ev.user_id) AS distinct_users,
         COUNT(*) AS n_events
  FROM days JOIN ev ON ev.d BETWEEN days.wend - 6 AND days.wend
  GROUP BY days.wend
)
SELECT strftime(DATE '1970-01-01' + CAST(wend AS INTEGER), '%Y-%m-%d') AS window_end,
       CAST(distinct_users AS BIGINT) AS distinct_users,
       CAST(n_events AS BIGINT) AS n_events
FROM win
ORDER BY window_end
"""

QUERIES["q105_sliding_distinct_users"] = q105_sliding_distinct_users
ORACLES["q105_sliding_distinct_users"] = Q105_SQL


# ---------------------------------------------------------------------------
# Q109 — grouped least-squares trend (OLS slope/intercept), exact.
#
# The analytics tier above q102's anomaly test: fit y = a + b*x per
# segment over the daily-revenue series (trend monitoring, capacity
# forecasting, drift detection over training-data throughput). The
# normal-equation solution is a ratio of integer bilinear forms, so —
# like q102 — it needs NO floating point at all:
#
#   b = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)         [micro-cents/day]
#   a = (Sy*den - num*Sx) / (n*den)              [micro-cents at x0]
#
# x is the day offset from the segment's first day (keeps the moments
# small and the fit conditioned); sums accumulate as DECIMAL(38,0) /
# HUGEINT; the final DIVs truncate identically on both engines.
#
# Scale shape: one (segment, day) hash agg off the scan, then a
# 5-moment hash agg per segment (constant-width state — this is
# textbook map-side-combinable), 5 output rows. The same shape fits
# streaming (moments are mergeable) and 1000-way parallelism.
# ---------------------------------------------------------------------------


def q109_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir, epoch_days=True).withColumnRenamed(
        "cents", "y"
    )
    moments = (
        daily.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("d").alias("x0"),
            F.sum(F.col("d").cast("decimal(38,0)")).alias("sd"),
            F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
            F.sum((F.col("d").cast("decimal(38,0)") * F.col("y"))).alias("sdy"),
            F.sum((F.col("d").cast("decimal(38,0)") * F.col("d"))).alias("sdd"),
        )
        # shift x to offsets from x0: Sx = sd - n*x0; Sxy = sdy - x0*sy;
        # Sxx = sdd - 2*x0*sd + n*x0^2  (exact decimal identities)
        .select(
            "segment",
            F.col("n").cast("long").alias("n_days"),
            F.col("x0").cast("long").alias("x0_day"),
            F.expr("CAST(sd - n * x0 AS DECIMAL(38,0))").alias("sx"),
            F.col("sy").alias("sy"),
            F.expr("CAST(sdy - x0 * sy AS DECIMAL(38,0))").alias("sxy"),
            F.expr("CAST(sdd - 2 * x0 * sd + CAST(n AS DECIMAL(38,0)) * x0 * x0 AS DECIMAL(38,0))").alias("sxx"),
        )
        .withColumn("num", F.expr("CAST(n_days * sxy - sx * sy AS DECIMAL(38,0))"))
        .withColumn("den", F.expr("CAST(n_days * sxx - sx * sx AS DECIMAL(38,0))"))
    )
    return (
        moments.filter(F.col("den") > 0)
        .select(
            "segment",
            "n_days",
            "x0_day",
            F.col("sy").cast("long").alias("total_cents"),
            F.expr("CAST(num * 1000000 div den AS BIGINT)").alias(
                "slope_microcents_per_day"
            ),
            F.expr(
                "CAST((sy * den - num * sx) * 1000000 div (CAST(n_days AS DECIMAL(38,0)) * den) AS BIGINT)"
            ).alias("intercept_microcents"),
        )
        .orderBy("segment")
    )


Q109_SQL = f"""
WITH daily AS ({_sql_daily(epoch_days=True).replace('AS cents', 'AS y')}),
moments AS (
  SELECT segment,
         COUNT(*) AS n, MIN(d) AS x0,
         SUM(CAST(d AS HUGEINT)) AS sd,
         SUM(CAST(y AS HUGEINT)) AS sy,
         SUM(CAST(d AS HUGEINT) * y) AS sdy,
         SUM(CAST(d AS HUGEINT) * d) AS sdd
  FROM daily GROUP BY segment
),
shifted AS (
  SELECT segment, n, x0,
         sd - n * x0 AS sx, sy,
         sdy - x0 * sy AS sxy,
         sdd - 2 * x0 * sd + CAST(n AS HUGEINT) * x0 * x0 AS sxx
  FROM moments
),
fit AS (
  SELECT segment, n, x0, sy, sx,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM shifted
)
SELECT segment,
       CAST(n AS BIGINT) AS n_days,
       CAST(x0 AS BIGINT) AS x0_day,
       CAST(sy AS BIGINT) AS total_cents,
       CAST(num * 1000000 // den AS BIGINT) AS slope_microcents_per_day,
       CAST((sy * den - num * sx) * 1000000 // (CAST(n AS HUGEINT) * den) AS BIGINT) AS intercept_microcents
FROM fit
WHERE den > 0
ORDER BY segment
"""

QUERIES["q109_revenue_trend"] = q109_revenue_trend
ORACLES["q109_revenue_trend"] = Q109_SQL


# ---------------------------------------------------------------------------
# Q112 — first-order Markov transition matrix over event streams.
#
# q70 extracts top PATHS; the modeling counterpart is the transition
# MATRIX — the maximum-likelihood estimator of a first-order Markov
# chain over event types (next-action prediction, bot detection via
# improbable transitions, session simulation). Per user, events are
# totally ordered by (ts, event_id) — the q70 tie-break discipline —
# and each adjacent pair (prev, next) is one observation; rows are
# normalized to integer ppm.
#
# Scale shape: ONE user-keyed shuffle feeds the lag window (state =
# one row), then a (from, to) hash agg whose cardinality is
# |event_types|^2 — dim scale — plus a window sum over that tiny
# frame for row normalization. Exact integers end-to-end.
# ---------------------------------------------------------------------------


def q112_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    w_row = Window.partitionBy("from_type")
    return (
        trans.withColumn("row_total", F.sum("n_obs").over(w_row))
        .select(
            "from_type",
            "to_type",
            "n_obs",
            F.col("row_total").cast("long").alias("row_total"),
            F.expr(
                "CAST(CAST(n_obs AS DECIMAL(38,0)) * 1000000 div row_total AS BIGINT)"
            ).alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


Q112_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS n_obs
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_type, to_type,
       CAST(n_obs AS BIGINT) AS n_obs,
       CAST(SUM(n_obs) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
       CAST(CAST(n_obs AS HUGEINT) * 1000000
            // SUM(n_obs) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
FROM trans
ORDER BY from_type, to_type
"""

QUERIES["q112_markov_transitions"] = q112_markov_transitions
ORACLES["q112_markov_transitions"] = Q112_SQL


# ---------------------------------------------------------------------------
# Q114 — day-of-week seasonality indices (multiplicative, exact ppm).
#
# Completes the time-series toolkit (q102 anomaly test, q109 OLS
# trend, q81 gap repair): the classical-decomposition seasonal
# component — each weekday's revenue index relative to the segment's
# overall daily mean, the multiplicative seasonal factor a forecaster
# divides out before fitting trend. Index > 1e6 = that weekday runs
# hot for the segment.
#
# Exactness: index = mean_dow / mean_all as the cross-multiplied
# integer ratio (sum_dow * n_all * 1e6) DIV (n_dow * sum_all) — no
# division until the final truncating DIV, DECIMAL(38,0)/HUGEINT so
# warehouse-scale cents can't overflow. Day-of-week is epoch-day
# arithmetic ((d + 4) % 7: 1970-01-01 was a Thursday) rather than an
# engine date-part — both engines share the integer definition and
# locale can't leak in.
#
# Scale shape: one (segment, day) hash agg off the scan, a 7-row
# per-segment agg, one window pair for segment totals. Dim-scale
# everywhere after the first agg.
# ---------------------------------------------------------------------------


def q114_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir, epoch_days=True).withColumn(
        "dow", (F.col("d") + 4) % 7
    )
    per_dow = daily.groupBy("segment", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sum_cents"),
    )
    w_seg = Window.partitionBy("segment")
    return (
        per_dow.withColumn("n_all", F.sum("n_days").over(w_seg))
        .withColumn("sum_all", F.sum("sum_cents").over(w_seg))
        .select(
            "segment",
            F.col("dow").cast("long").alias("dow"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("sum_cents").cast("long").alias("sum_cents"),
            F.expr(
                "CAST(sum_cents * n_all * 1000000 div (CAST(n_days AS DECIMAL(38,0)) * sum_all) AS BIGINT)"
            ).alias("seasonal_index_ppm"),
        )
        .orderBy("segment", "dow")
    )


Q114_SQL = f"""
WITH daily AS ({_sql_daily(epoch_days=True)}),
per_dow AS (
  SELECT segment, (d + 4) % 7 AS dow,
         COUNT(*) AS n_days,
         SUM(CAST(cents AS HUGEINT)) AS sum_cents
  FROM daily GROUP BY 1, 2
),
tot AS (
  SELECT *, SUM(n_days) OVER (PARTITION BY segment) AS n_all,
         SUM(sum_cents) OVER (PARTITION BY segment) AS sum_all
  FROM per_dow
)
SELECT segment,
       CAST(dow AS BIGINT) AS dow,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(sum_cents AS BIGINT) AS sum_cents,
       CAST(sum_cents * n_all * 1000000 // (CAST(n_days AS HUGEINT) * sum_all) AS BIGINT) AS seasonal_index_ppm
FROM tot
ORDER BY segment, dow
"""

QUERIES["q114_weekday_seasonality"] = q114_weekday_seasonality
ORACLES["q114_weekday_seasonality"] = Q114_SQL


# ---------------------------------------------------------------------------
# Q116 — robust outliers via median absolute deviation (MAD).
#
# q102's z-test assumes the trailing window is clean; the ROBUST
# variant — Hampel's rule, |x - median| > 3 * 1.4826 * MAD — survives
# up to 50% contamination and is the standard screen when the monitor
# itself must not be poisoned by the anomalies it hunts. Per segment:
# the median daily revenue, the MAD around it, and the flagged days.
#
# Exactness without FP medians: every median of BIGINTs is either an
# observed value or the midpoint of two, so DOUBLED medians (2*median
# = lower + upper) are exact integers on both engines — medians are
# carried as med2/mad2 and the Hampel inequality cross-multiplies to
# pure integers: 10000 * 2 * |x - med2/2| > 3 * 14826 * mad2
# <=> 10000 * absdev2 > 44478 * mad2x2 (the 2s cancel). No float
# ever compared — med2/mad2x2 are computed RANK-EXACTLY (ADVICE r4):
# lower + upper nearest-rank values via row_number, ranks (n+1) DIV 2
# and (n+2) DIV 2, summed as integers. The earlier percentile()*2
# formulation routed through DOUBLE and was exact only below ~2^53;
# this one is exact over the full BIGINT domain on both engines.
#
# Scale shape: one (segment, day) agg, per-segment exact medians
# (percentile over the dim-scale daily frame — day counts per
# segment, not raw orders), one broadcast-back join, integer flags.
# ---------------------------------------------------------------------------


def _doubled_median(df: DataFrame, val_col: str, out_col: str) -> DataFrame:
    """(segment, out_col): exact integer doubled median of ``val_col``
    per segment — lower + upper nearest-rank values at 1-indexed ranks
    (n+1) DIV 2 and (n+2) DIV 2 (equal for odd n, so the single middle
    value counts twice). Pure integer path: one per-segment sort window
    over the dim-scale daily frame, never a DOUBLE."""
    w = Window.partitionBy("segment").orderBy(val_col)
    wall = Window.partitionBy("segment")
    ranked = df.select(
        "segment",
        F.col(val_col),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    return (
        ranked.filter(F.expr("rn = (n + 1) DIV 2 OR rn = (n + 2) DIV 2"))
        .groupBy("segment")
        .agg(
            F.expr(
                f"CAST(sum(CASE WHEN rn = (n + 1) DIV 2 THEN {val_col} ELSE 0 END)"
                f" + sum(CASE WHEN rn = (n + 2) DIV 2 THEN {val_col} ELSE 0 END)"
                " AS BIGINT)"
            ).alias(out_col)
        )
    )


def q116_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_revenue(spark, sf_dir)
    med = _doubled_median(daily, "cents", "med2")
    dev = daily.join(F.broadcast(med), "segment").withColumn(
        "absdev2", F.abs(F.expr("2 * cents - med2"))
    )
    mad = _doubled_median(dev, "absdev2", "mad2x2")
    flagged = (
        dev.join(F.broadcast(mad), "segment")
        .withColumn(
            "is_outlier",
            F.expr("10000 * absdev2 > 44478 * mad2x2"),
        )
    )
    return (
        flagged.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.max("med2").alias("med2"),
            F.max("mad2x2").alias("mad2x2"),
            F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias("n_outliers"),
            F.max(F.when(F.col("is_outlier"), F.col("cents"))).alias(
                "max_outlier_cents"
            ),
        )
        .select(
            "segment",
            "n_days",
            "med2",
            "mad2x2",
            F.col("n_outliers").cast("long").alias("n_outliers"),
            "max_outlier_cents",
        )
        .orderBy("segment")
    )


Q116_SQL = f"""
WITH daily AS ({_sql_daily()}),
med AS (
  SELECT segment,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
            + SUM(CASE WHEN rn = (n + 2) // 2 THEN cents ELSE 0 END) AS BIGINT) AS med2
  FROM (SELECT segment, cents,
               row_number() OVER (PARTITION BY segment ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM daily)
  GROUP BY segment
),
dev AS (
  SELECT d.*, m.med2, abs(2 * d.cents - m.med2) AS absdev2
  FROM daily d JOIN med m USING (segment)
),
mad AS (
  SELECT segment,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN absdev2 ELSE 0 END)
            + SUM(CASE WHEN rn = (n + 2) // 2 THEN absdev2 ELSE 0 END) AS BIGINT) AS mad2x2
  FROM (SELECT segment, absdev2,
               row_number() OVER (PARTITION BY segment ORDER BY absdev2) AS rn,
               COUNT(*) OVER (PARTITION BY segment) AS n
        FROM dev)
  GROUP BY segment
),
flagged AS (
  SELECT dev.*, mad.mad2x2,
         10000 * absdev2 > 44478 * mad.mad2x2 AS is_outlier
  FROM dev JOIN mad USING (segment)
)
SELECT segment,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(MAX(med2) AS BIGINT) AS med2,
       CAST(MAX(mad2x2) AS BIGINT) AS mad2x2,
       CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       MAX(CASE WHEN is_outlier THEN cents END) AS max_outlier_cents
FROM flagged
GROUP BY segment
ORDER BY segment
"""

QUERIES["q116_mad_outliers"] = q116_mad_outliers
ORACLES["q116_mad_outliers"] = Q116_SQL


# ---------------------------------------------------------------------------
# Q127 — linear multi-touch attribution (M86): distribute each
# conversion's credit across the user's preceding touch events inside
# the attribution window — the credit-assignment operator every event
# pipeline runs and the funnel (q35) / top-paths (q70) / Markov (q112)
# family doesn't cover. Exact integer conservation: each purchase
# carries 1e6 credit units; every touch gets 1e6 DIV n, the REMAINDER
# goes to the most recent touch (the q104 largest-remainder
# discipline), and zero-touch conversions surface as '(direct)' — so
# SUM(credit) == 1e6 * n_conversions exactly, an invariant the oracle
# re-derives.
#
# Scale shape: ONE equi-join on user_id + a range predicate; per-user
# fanout is events-per-user bounded (at 100 TB the join buckets time
# the q99/q11d way — same plan family, composition noted, not
# duplicated here). Tie-breaks (ts, event_id) make the remainder
# assignment total-ordered on both engines.
# ---------------------------------------------------------------------------
_Q127_WINDOW_H = 168  # 7-day attribution window


def q127_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = conv.join(touch, (F.col("cu") == F.col("tu"))).filter(
        (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {_Q127_WINDOW_H} HOURS")
        )
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.desc("touch_ts"), F.desc("touch_id")
    )
    wn = Window.partitionBy("conv_id")
    credited = (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .select(
            "conv_id",
            "touch_type",
            (
                F.expr("1000000 DIV n")
                + F.when(F.col("rn") == 1, F.expr("1000000 % n")).otherwise(F.lit(0))
            ).alias("credit"),
        )
    )
    direct = conv.join(
        credited.select("conv_id").distinct(), "conv_id", "left_anti"
    ).select("conv_id", F.lit("(direct)").alias("touch_type"), F.lit(1000000).alias("credit"))
    return (
        credited.unionByName(direct)
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("conv_id").alias("n_conversions"),
            F.sum("credit").cast("long").alias("credit_e6"),
        )
        .orderBy("touch_type")
    )


Q127_SQL = f"""
WITH conv AS (
  SELECT event_id AS conv_id, user_id AS cu, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id AS tu, ts AS touch_ts, event_id AS touch_id,
         event_type AS touch_type
  FROM events WHERE event_type <> 'purchase'
),
pairs AS (
  SELECT c.conv_id, t.touch_type, t.touch_ts, t.touch_id
  FROM conv c JOIN touch t ON c.cu = t.tu
  WHERE t.touch_ts < c.conv_ts
    AND t.touch_ts >= c.conv_ts - INTERVAL {_Q127_WINDOW_H} HOURS
),
credited AS (
  SELECT conv_id, touch_type,
         1000000 // n + CASE WHEN rn = 1 THEN 1000000 % n ELSE 0 END AS credit
  FROM (
    SELECT pairs.*,
           row_number() OVER (PARTITION BY conv_id
                              ORDER BY touch_ts DESC, touch_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY conv_id) AS n
    FROM pairs
  )
),
direct AS (
  SELECT conv_id, '(direct)' AS touch_type, 1000000 AS credit
  FROM conv WHERE conv_id NOT IN (SELECT conv_id FROM credited)
),
unioned AS (
  SELECT * FROM credited UNION ALL SELECT * FROM direct
)
SELECT touch_type,
       COUNT(*) AS n_touches,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(SUM(credit) AS BIGINT) AS credit_e6
FROM unioned
GROUP BY touch_type
ORDER BY touch_type
"""

QUERIES["q127_linear_attribution"] = q127_linear_attribution
ORACLES["q127_linear_attribution"] = Q127_SQL


# ---------------------------------------------------------------------------
# Q136 (r8) — A/B experiment audit: the 2×2 chi-square test an
# experimentation pipeline runs per metric, in EXACT integer
# arithmetic. Users are hash-split into two arms (user_id % 2 — an
# A/A split by construction, so this doubles as the calibration audit
# every experiment platform runs before trusting its pipeline: with
# no true effect, chi² should be small for every metric). Per target
# event type t, a user "converts" iff they emitted MORE than the
# expected share of t-events — threshold thr_t = total_t DIV n_users
# + 2, DERIVED FROM THE DATA (every user has every type on this
# corpus, so a fixed ≥1 rule is vacuous; the data-derived margin
# stays non-degenerate at every SF because events-per-user is
# SF-stable). With the 2×2 table (a, b = conversions per arm; na,
# nb = arm sizes):
#
#   chi2_e6 = 1e6 · N · (a·(nb−b) − b·(na−a))² DIV (na·nb·C·(N−C))
#
# (the standard Pearson form on counts — no floats anywhere); C = a+b,
# N = na+nb. The (ad−bc)² product reaches ~1e24 at sf10, so the whole
# numerator rides DECIMAL(38,0)/HUGEINT (exact to sf ~30, documented).
# Degenerate margins (C = 0 or C = N) emit NULL.
#
# Scale shape: one (user, type) dedup agg + one per-user pivot agg,
# both map-side-combined; the 2×2 algebra runs on a 5-row frame.
# ---------------------------------------------------------------------------
def q136_ab_test_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    users = ev.select("user_id").distinct().select(
        "user_id", F.pmod(F.col("user_id"), F.lit(2)).alias("arm")
    )
    per_user = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    thr = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("total_t")).crossJoin(
        F.broadcast(users.agg(F.count(F.lit(1)).alias("n_users")))
    ).select("event_type", F.expr("total_t DIV n_users + 2").alias("thr"))
    conv = (
        per_user.join(F.broadcast(thr), "event_type")
        .filter(F.col("n_t") >= F.col("thr"))
        .join(users, "user_id")
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("b"),
        )
    )
    arms = users.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb"),
    )
    return (
        conv.crossJoin(F.broadcast(arms))
        .select(
            "event_type",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.col("a").cast("long").alias("conv_a"),
            F.col("b").cast("long").alias("conv_b"),
            F.expr("CAST(a * 1000000 DIV na AS BIGINT)").alias("rate_a_ppm"),
            F.expr("CAST(b * 1000000 DIV nb AS BIGINT)").alias("rate_b_ppm"),
            F.expr(
                "CASE WHEN a + b = 0 OR a + b = na + nb THEN NULL ELSE"
                " CAST(CAST(1000000 AS DECIMAL(38,0)) * (na + nb)"
                " * (a * (nb - b) - b * (na - a)) * (a * (nb - b) - b * (na - a))"
                " DIV (CAST(na AS DECIMAL(38,0)) * nb * (a + b) * (na + nb - a - b))"
                " AS BIGINT) END"
            ).alias("chi2_e6"),
        )
        .orderBy("event_type")
    )


Q136_SQL = """
WITH users AS (
  SELECT DISTINCT user_id, user_id % 2 AS arm FROM events
),
arms AS (
  SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb
  FROM users
),
per_user AS (
  SELECT user_id, event_type, COUNT(*) AS n_t FROM events GROUP BY 1, 2
),
thr AS (
  SELECT event_type,
         COUNT(*) // (SELECT COUNT(*) FROM users) + 2 AS thr
  FROM events GROUP BY event_type
),
conv AS (
  SELECT p.event_type,
         SUM(CASE WHEN u.arm = 0 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN u.arm = 1 THEN 1 ELSE 0 END) AS b
  FROM per_user p
  JOIN thr t ON p.event_type = t.event_type AND p.n_t >= t.thr
  JOIN users u USING (user_id)
  GROUP BY p.event_type
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(a AS BIGINT) AS conv_a,
       CAST(b AS BIGINT) AS conv_b,
       CAST(a * 1000000 // na AS BIGINT) AS rate_a_ppm,
       CAST(b * 1000000 // nb AS BIGINT) AS rate_b_ppm,
       CASE WHEN a + b = 0 OR a + b = na + nb THEN NULL ELSE
         CAST(CAST(1000000 AS HUGEINT) * (na + nb)
              * (a * (nb - b) - b * (na - a)) * (a * (nb - b) - b * (na - a))
              // (CAST(na AS HUGEINT) * nb * (a + b) * (na + nb - a - b))
              AS BIGINT) END AS chi2_e6
FROM conv CROSS JOIN arms
ORDER BY event_type
"""

QUERIES["q136_ab_test_audit"] = q136_ab_test_audit
ORACLES["q136_ab_test_audit"] = Q136_SQL


# ---------------------------------------------------------------------------
# Q137 (r8) — strict time-ordered FUNNEL: the product-analytics
# primitive q70's path mining and q86's sessions don't cover — a user
# advances view → click → purchase only if each step happens STRICTLY
# AFTER the previous step's earliest completion (the "gated" funnel:
# a purchase before any view does not count). Exact semantics:
#
#   t1(u) = min ts of 'view';
#   t2(u) = min ts of 'click'    with t1 < ts <= t1 + 24h;
#   t3(u) = min ts of 'purchase' with t2 < ts <= t2 + 24h
#
# — the CONVERSION-WINDOW semantics every product-analytics engine
# implements (an unbounded gate is vacuous on a months-long corpus:
# every active user eventually emits every type).
#
# Reported: users entering each step, step-over-step and cumulative
# conversion in ppm, and median gate latency (t3 − t1) in seconds for
# full converters — the latency via the exact histogram-rank idiom
# (q130/st17), never a percentile builtin.
#
# Scale shape: three user-keyed min-aggregations chained by id-equi
# joins (each map-side-combined, user_id-partitioned — the frames
# after step 1 only shrink); the latency histogram is bounded by
# distinct second-values; output is one row.
# ---------------------------------------------------------------------------
def q137_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t1")
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (F.unix_timestamp("ts") <= F.unix_timestamp("t1") + 86400)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.min("t1").alias("t1"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (F.unix_timestamp("ts") <= F.unix_timestamp("t2") + 86400)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"), F.min("t1").alias("t1"))
    )
    lat = t3.select(
        (F.unix_timestamp("t3") - F.unix_timestamp("t1")).alias("lat_s")
    )
    hist = lat.groupBy("lat_s").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    med = (
        hist.select(
            "lat_s",
            F.sum("cnt").over(Window.orderBy("lat_s")).alias("cum"),
            F.sum("cnt").over(Window.partitionBy()).alias("n"),
        )
        .filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("lat_s").alias("median_lat_s"))
    )
    counts = (
        t1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(t2.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(t3.agg(F.count(F.lit(1)).alias("n_purchase")))
        .crossJoin(med)
    )
    return counts.select(
        F.col("n_view").cast("long"),
        F.col("n_click").cast("long"),
        F.col("n_purchase").cast("long"),
        F.expr("CAST(n_click * 1000000 DIV GREATEST(n_view, 1) AS BIGINT)").alias(
            "step2_ppm"
        ),
        F.expr("CAST(n_purchase * 1000000 DIV GREATEST(n_click, 1) AS BIGINT)").alias(
            "step3_ppm"
        ),
        F.expr("CAST(n_purchase * 1000000 DIV GREATEST(n_view, 1) AS BIGINT)").alias(
            "full_ppm"
        ),
        F.col("median_lat_s").cast("long").alias("median_lat_s"),
    )


Q137_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2, MIN(t1.t1) AS t1
  FROM events e JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t1
   AND floor(epoch(e.ts)) <= floor(epoch(t1.t1)) + 86400
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3, MIN(t2.t1) AS t1
  FROM events e JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t2
   AND floor(epoch(e.ts)) <= floor(epoch(t2.t2)) + 86400
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
),
lat AS (
  -- floor EACH term: Spark's unix_timestamp truncates per-timestamp,
  -- and these ts carry sub-second parts (r8: 1-ulp median mismatch)
  SELECT CAST(floor(epoch(t3)) - floor(epoch(t1)) AS BIGINT) AS lat_s FROM t3
),
hist AS (SELECT lat_s, COUNT(*) AS cnt FROM lat GROUP BY lat_s),
med AS (
  SELECT MIN(lat_s) AS median_lat_s
  FROM (
    SELECT lat_s,
           SUM(cnt) OVER (ORDER BY lat_s) AS cum,
           SUM(cnt) OVER () AS n
    FROM hist
  )
  WHERE cum >= (n + 1) // 2
)
SELECT CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_view,
       CAST((SELECT COUNT(*) FROM t2) AS BIGINT) AS n_click,
       CAST((SELECT COUNT(*) FROM t3) AS BIGINT) AS n_purchase,
       CAST((SELECT COUNT(*) FROM t2) * 1000000
            // GREATEST((SELECT COUNT(*) FROM t1), 1) AS BIGINT) AS step2_ppm,
       CAST((SELECT COUNT(*) FROM t3) * 1000000
            // GREATEST((SELECT COUNT(*) FROM t2), 1) AS BIGINT) AS step3_ppm,
       CAST((SELECT COUNT(*) FROM t3) * 1000000
            // GREATEST((SELECT COUNT(*) FROM t1), 1) AS BIGINT) AS full_ppm,
       (SELECT median_lat_s FROM med) AS median_lat_s
"""

QUERIES["q137_funnel_steps"] = q137_funnel_steps
ORACLES["q137_funnel_steps"] = Q137_SQL


# ---------------------------------------------------------------------------
# Q140 — revenue concentration audit: exact Gini + top-decile share
# per region (the Lorenz-curve numbers a marketplace/corpus-governance
# dashboard reports; for training corpora the same statistic flags
# source-concentration risk).
#
# Gini over per-customer revenue x sorted ascending with rank i:
#   gini_ppm = (2*sum(i*x) - (n+1)*sum(x)) * 1e6 DIV (n * sum(x))
# Ranks are row_number over (cents ASC, custkey ASC) — within a tied
# cents group, sum(i*x) is invariant to which tied row gets which rank
# (equal x), so the custkey tie-break is determinism-only, not a
# semantics choice. All arithmetic is exact: cents are integers,
# sum(i*x) rides DECIMAL(38,0) (i<=n, x<=~5e7 cents: bigint-safe to
# sf~1e3, decimal-safe to any plausible SF — the q97 discipline).
# Top-decile share counts the highest GREATEST(n DIV 10, 1) customers.
#
# Scale shape (100 TB): orders reduce map-side to one row per customer
# (3 orders of magnitude below the fact table) BEFORE any sort; the
# rank window runs per region over that per-customer frame — the same
# "aggregate first, order the reduced frame" discipline as q89/q67.
# Dimension joins (nation, region) broadcast.
# ---------------------------------------------------------------------------


def q140_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast("decimal(12,4)")) * 100, 0)
        .cast("long")
        .alias("cents")
    )
    cr = (
        rev.join(cust.select("c_custkey", "c_nationkey"), rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.select("r_regionkey", "r_name")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "o_custkey", "cents")
    )
    w = Window.partitionBy("r_name").orderBy(F.asc("cents"), F.asc("o_custkey"))
    ranked = cr.withColumn("i", F.row_number().over(w).cast("long")).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("r_name")).cast("long")
    )
    return (
        ranked.groupBy("r_name")
        .agg(
            F.max("n").alias("nn"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
            F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("six"),
            F.sum(
                F.when(
                    F.col("i") > F.col("n") - F.greatest(F.expr("n DIV 10"), F.lit(1)),
                    F.col("cents"),
                )
                .otherwise(0)
                .cast("decimal(38,0)")
            ).alias("top"),
        )
        .select(
            "r_name",
            F.col("nn").alias("n_cust"),
            F.col("s").cast("long").alias("total_cents"),
            F.expr(
                "CAST((2 * six - (nn + 1) * s) * 1000000 div "
                "(CAST(nn AS DECIMAL(38,0)) * s) AS BIGINT)"
            ).alias("gini_ppm"),
            F.expr("CAST(top * 1000000 div s AS BIGINT)").alias(
                "top_decile_share_ppm"
            ),
        )
        .orderBy("r_name")
    )


Q140_SQL = """
WITH rev AS (
  SELECT o_custkey,
         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100, 0) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
cr AS (
  SELECT r_name, o_custkey, cents
  FROM rev
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
),
rk AS (
  SELECT r_name, cents,
         row_number() OVER (PARTITION BY r_name ORDER BY cents ASC, o_custkey ASC) AS i,
         COUNT(*) OVER (PARTITION BY r_name) AS n
  FROM cr
)
SELECT r_name,
       CAST(MAX(n) AS BIGINT) AS n_cust,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST((2 * SUM(CAST(i AS HUGEINT) * cents)
             - (MAX(n) + 1) * SUM(CAST(cents AS HUGEINT)))
            * 1000000
            // (CAST(MAX(n) AS HUGEINT) * SUM(CAST(cents AS HUGEINT)))
            AS BIGINT) AS gini_ppm,
       CAST(SUM(CASE WHEN i > n - GREATEST(n // 10, 1) THEN CAST(cents AS HUGEINT) ELSE 0 END)
            * 1000000 // SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS top_decile_share_ppm
FROM rk
GROUP BY r_name
ORDER BY r_name
"""

QUERIES["q140_gini_concentration"] = q140_gini_concentration
ORACLES["q140_gini_concentration"] = Q140_SQL


# ---------------------------------------------------------------------------
# Q141 — CUSUM changepoint scan over daily event volumes (Page 1954).
#
# The one-sided CUSUM recursion S_d = max(0, S_{d-1} + dev_d) is not a
# linear window aggregate — but it has a closed form over prefix sums:
#   S_d = cum_d - LEAST(0, MIN_{j<=d} cum_j)
# (cumulative sum minus its running minimum, floored at the virtual 0
# start), which IS two window functions. That reduction is what makes
# the operator scale: no recursion, no iterative joins.
#
# Everything is exact-integer by scaling: the daily deviation from the
# per-type mean is kept in n_days-scaled units (dev_d = x_d * n_days -
# total), so no division happens before the comparison. The alarm
# threshold is data-derived (4 * mean absolute deviation, in the same
# scaled units): T = 4 * sum(|dev|) DIV n_days * n_days ... == 4 *
# sum(|dev|) exactly, since mean|dev| * n_days = sum|dev|. An alarm
# fires where S_d > T; the audit reports alarms, the first alarm day,
# and the peak statistic per event type.
#
# Scale shape (100 TB): events reduce map-side to the bounded
# (event_type, day) daily frame; per-type moments aggregate that frame
# once and broadcast back; both windows run over the bounded frame
# only (types x days rows), never the event stream.
# ---------------------------------------------------------------------------


def q141_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", epoch_day(F.col("ts")).alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))

    moments = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("total"),
    )
    dev = (
        daily.join(F.broadcast(moments), "event_type")
        .select(
            "event_type",
            "d",
            "n_days",
            (F.col("x") * F.col("n_days") - F.col("total")).alias("dev"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stat = (
        dev.withColumn("cum", F.sum("dev").over(w))
        .withColumn("runmin", F.least(F.min("cum").over(w), F.lit(0)))
        .withColumn("s", F.col("cum") - F.col("runmin"))
    )
    thresh = dev.groupBy("event_type").agg(
        (F.sum(F.abs(F.col("dev"))) * 4).alias("t")
    )
    return (
        stat.join(F.broadcast(thresh), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_days").cast("long").alias("n_days"),
            F.sum((F.col("s") > F.col("t")).cast("long")).alias("n_alarms"),
            F.min(F.when(F.col("s") > F.col("t"), F.col("d"))).cast("long").alias(
                "first_alarm_d"
            ),
            F.max("s").cast("long").alias("max_cusum"),
            F.max("t").cast("long").alias("threshold"),
        )
        .orderBy("event_type")
    )


Q141_SQL = f"""
WITH daily AS (
  SELECT event_type,
         {sql_epoch_day('ts')} AS d,
         COUNT(*) AS x
  FROM events
  GROUP BY 1, 2
),
moments AS (
  SELECT event_type, COUNT(*) AS n_days, SUM(x) AS total
  FROM daily GROUP BY event_type
),
dev AS (
  SELECT d.event_type, d.d, m.n_days, d.x * m.n_days - m.total AS dev
  FROM daily d JOIN moments m USING (event_type)
),
cum AS (
  SELECT event_type, d, n_days,
         SUM(dev) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM dev
),
stat AS (
  SELECT event_type, d, n_days,
         cum - LEAST(MIN(cum) OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
  FROM cum
),
thresh AS (
  SELECT event_type, 4 * SUM(ABS(dev)) AS t FROM dev GROUP BY event_type
)
SELECT s.event_type,
       CAST(MAX(s.n_days) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN s.s > t.t THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       CAST(MIN(CASE WHEN s.s > t.t THEN s.d END) AS BIGINT) AS first_alarm_d,
       CAST(MAX(s.s) AS BIGINT) AS max_cusum,
       CAST(MAX(t.t) AS BIGINT) AS threshold
FROM stat s JOIN thresh t USING (event_type)
GROUP BY s.event_type
ORDER BY s.event_type
"""

QUERIES["q141_cusum_changepoint"] = q141_cusum_changepoint
ORACLES["q141_cusum_changepoint"] = Q141_SQL


# ---------------------------------------------------------------------------
# Q149 — gap-aware truncated EWMA over daily regional revenue
# (trend smoothing for the curation dashboard; completes the
# time-series family: q109 trend, q114 seasonality, q141 CUSUM add
# level-shift detection — this adds the smoothed level itself).
#
# The classic EWMA recurrence s_t = a*x_t + (1-a)*s_{t-1} is a serial
# scan — the worst shape for a distributed engine, and (for general a)
# float-ordering-sensitive, which would break the exact hash gate.
# This operator uses the standard distributed re-formulation: a = 1/2
# makes every weight an exact power of two, and truncating the kernel
# at H=15 lagged days makes the smoothed value a FINITE weighted sum
#     ewma(d) = sum_{k=0..15} 2^(15-k) * cents(d-k)  DIV  sum 2^(15-k)
# over the days that actually have revenue (gap days contribute
# nothing to numerator or denominator — "gap-aware"). Exact integer
# arithmetic end to end, so Spark and DuckDB agree bit-for-bit.
#
# Scale shape: each daily row map-side EXPLODES into its <=16
# (target-day, weight) contributions — a sequence+transform, no UDF —
# followed by ONE hash aggregation on (region, day). No self-join, no
# window over an unbounded frame, no per-key serial scan; the daily
# frame it runs on is calendar-bounded (days x 5 regions), not
# data-sized, and the heavy reduction from orders to daily cents is a
# single partial-agg-friendly groupBy.
# ---------------------------------------------------------------------------

_Q149_H = 15  # kernel horizon: today + 15 trailing days


def q149_ewma_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")

    daily = (
        orders.join(
            cust.select("c_custkey", "c_nationkey"),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,4)")) * 100, 0)
            .cast("long")
            .alias("cents")
        )
    )
    contrib = daily.select(
        "r_name",
        "cents",
        F.explode(F.expr(f"sequence(0, {_Q149_H})")).alias("k"),
        F.col("day").alias("src_day"),
    ).select(
        "r_name",
        F.expr("date_add(src_day, k)").alias("day"),
        F.expr(f"cents * shiftleft(CAST(1 AS BIGINT), {_Q149_H} - k)").alias("num"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), {_Q149_H} - k)").alias("den"),
    )
    smoothed = contrib.groupBy("r_name", "day").agg(
        F.sum("num").alias("num"), F.sum("den").alias("den")
    )
    return (
        smoothed.join(daily.select("r_name", "day", "cents"), ["r_name", "day"])
        .select(
            "r_name",
            "day",
            "cents",
            F.expr("num DIV den").alias("ewma_cents"),
        )
        .orderBy("r_name", "day")
    )


Q149_SQL = f"""
WITH daily AS (
  SELECT r_name, CAST(o_orderdate AS DATE) AS day,
         CAST(round(SUM(CAST(o_totalprice AS DECIMAL(12,4))) * 100, 0) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, o_orderdate
),
contrib AS (
  SELECT d.r_name,
         d.day + CAST(k AS INT) AS day,
         d.cents * (1::BIGINT << ({_Q149_H} - k)) AS num,
         (1::BIGINT << ({_Q149_H} - k)) AS den
  FROM daily d CROSS JOIN (SELECT UNNEST(range(0, {_Q149_H + 1})) AS k)
),
smoothed AS (
  SELECT r_name, day, SUM(num) AS num, SUM(den) AS den
  FROM contrib GROUP BY r_name, day
)
SELECT s.r_name, s.day, d.cents,
       CAST(s.num // s.den AS BIGINT) AS ewma_cents
FROM smoothed s JOIN daily d ON s.r_name = d.r_name AND s.day = d.day
ORDER BY s.r_name, s.day
"""

QUERIES["q149_ewma_revenue"] = q149_ewma_revenue
ORACLES["q149_ewma_revenue"] = Q149_SQL
