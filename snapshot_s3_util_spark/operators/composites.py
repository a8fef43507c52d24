"""Composite headline queries (BASELINE.md flagship set).

These mirror BASELINE.md's benchmark rows one-to-one so BENCH_r{N}.json
is directly comparable: q3-style 3-way join + agg + top-k, and batch
sessionization (the batch twin of streaming/stream_ops.stream_session —
same oracle, same output, no micro-batch engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import EVENTS_REL

_Q3_SEGMENT = "BUILDING"
_Q3_CUTOFF = "1998-01-01 00:00:00"


@register(
    "join_3way_topk",
    oracle=f"""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{_Q3_SEGMENT}'
      AND o_orderdate <  TIMESTAMP '{_Q3_CUTOFF}'
      AND l_shipdate  >= TIMESTAMP '{_Q3_CUTOFF}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    category="composite",
)
def join_3way_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority (BASELINE.md q3_shipping_priority).

    Plan: filtered customer (pruned to 2 cols) broadcasts into orders;
    the orders⋈lineitem join shuffles on the shared orderkey; the
    aggregate reuses that partitioning; TakeOrderedAndProject caps the
    result at 10 without a global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == _Q3_SEGMENT
    ).select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(_Q3_CUTOFF).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit(_Q3_CUTOFF).cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(revenue), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "sessionize_batch",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM {EVENTS_REL} e
    ),
    sessions AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    category="composite",
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, 30-min gap (BASELINE.md q_sessionize).

    lag -> gap flag -> cumulative-sum session id -> per-session agg.
    ONE shuffle on user_id serves both windows AND the aggregate (the
    group keys are a superset of the partition key). Identical output
    contract to `stream_session`.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Gap test at MICROsecond precision (unix_micros), matching the
    # oracle's interval comparison: cast("long") truncates to whole
    # seconds first, and floor(a)-floor(b) can cross the 30-min
    # threshold when a-b does not (one phantom session at sf0.1).
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
            >= 1800 * 1_000_000,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .drop("session_id")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


_SESS_GAP_US = 1800 * 1_000_000
# Shared 1-day segment width of the skew-bounded window variants (see
# windows.py for the rationale; Spark-side execution detail only — the
# segmented output is bit-identical, so the oracle has no twin).
from snapshot_s3_util_spark.operators.windows import (  # noqa: E402
    _SEG_CHUNK_US as _SESS_CHUNK_US,
)


@register(
    "sessionize_segmented",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM {EVENTS_REL} e
    ),
    sessions AS (
      SELECT user_id, event_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
    category="composite",
)
def sessionize_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-bounded sessionization: identical output to
    `sessionize_batch` (the oracle is the SAME SQL), but the per-user
    lag/cumsum pipeline is SEGMENTED into 1-day timeline chunks — the
    parallel-prefix decomposition (r11 verdict ask #7; SKEW.md
    measured the single-window sessionize at 1.80x under a 30%-hot
    key, one task owning the celebrity user's whole month).

    Pass 1 (parallel across (user, chunk)): within-chunk gap flags by
    lag(ts) — the chunk's FIRST row is left undecided.
    Pass 2 (per-user over ~30 chunk-summary rows): each chunk's
    boundary flag = gap(chunk first_ts, previous chunk last_ts), and
    its session-id OFFSET = running sum of earlier chunks' flag
    totals — exact prefix-sum associativity, no approximation.
    Join back is co-partitioned: the event-sized side is already
    hashed on (user_id, chunk) from pass 1, only the summary frame
    exchanges.  session_id = offset + within-chunk cumsum, then the
    same per-session aggregate as the base op.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "chunk", F.floor(F.unix_micros(F.col("ts")) / _SESS_CHUNK_US)
    )
    wc = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    lag_us = F.unix_micros(F.lag("ts").over(wc))
    loc = ev.select(
        "user_id",
        "chunk",
        "event_id",
        "ts",
        "value",
        lag_us.alias("lag_us"),
    ).withColumn(
        "flag_local",
        F.when(
            F.col("lag_us").isNotNull()
            & (F.unix_micros(F.col("ts")) - F.col("lag_us") >= _SESS_GAP_US),
            1,
        ).otherwise(0),
    )
    summ = loc.groupBy("user_id", "chunk").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum("flag_local").alias("n_local"),
    )
    wchunk = Window.partitionBy("user_id").orderBy("chunk")
    bsum = (
        summ.withColumn(
            "prev_last_us", F.unix_micros(F.lag("last_ts").over(wchunk))
        )
        .withColumn(
            "first_flag",
            F.when(
                F.col("prev_last_us").isNull()
                | (
                    F.unix_micros(F.col("first_ts")) - F.col("prev_last_us")
                    >= _SESS_GAP_US
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "offset",
            F.coalesce(
                F.sum(F.col("n_local") + F.col("first_flag")).over(
                    wchunk.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("user_id", "chunk", "first_flag", "offset")
    )
    sessions = (
        # plain co-partitioned join: bsum is one row per (user, chunk),
        # which at celebrity-key scale is |users| x chunks — summary-
        # sized relative to events but NOT broadcast-sized (r12 review:
        # a broadcast here is a driver-memory cliff at exactly the
        # 100 TB scale this op exists for). The event side already
        # hashes on (user_id, chunk) from pass 1, so only the summary
        # frame exchanges — same shape as the LOCF twin's carry join.
        loc.join(bsum, ["user_id", "chunk"])
        .withColumn(
            "flag",
            F.when(F.col("lag_us").isNull(), F.col("first_flag")).otherwise(
                F.col("flag_local")
            ),
        )
        .withColumn(
            "session_id",
            F.col("offset")
            + F.sum("flag").over(
                wc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .drop("session_id")
        .select(
            "user_id", "session_start", "session_end", "n_events", "sum_value"
        )
    )


_RESAMPLE_G_US = 21_600_000_000  # 6 h grid step, microseconds

_RESAMPLE_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM {EVENTS_REL} e
),
rng AS (
  SELECT user_id, MIN(us) AS mn, MAX(us) AS mx FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id,
         UNNEST(range(((mn + {_RESAMPLE_G_US} - 1) // {_RESAMPLE_G_US})
                        * {_RESAMPLE_G_US},
                      mx + 1, {_RESAMPLE_G_US})) AS us
  FROM rng
),
pts AS (
  SELECT user_id, us, event_id, value, 0 AS is_grid FROM ev
  UNION ALL
  SELECT user_id, us, NULL, NULL, 1 FROM grid
),
w AS (
  SELECT user_id, us, is_grid,
         LAST_VALUE(CASE WHEN value IS NOT NULL
                         THEN struct_pack(pus := us, pv := value) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY us, is_grid, event_id NULLS LAST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         FIRST_VALUE(CASE WHEN value IS NOT NULL
                          THEN struct_pack(nus := us, nv := value) END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id
                 ORDER BY us, is_grid, event_id NULLS LAST
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
  FROM pts
)
SELECT user_id, make_timestamp(us) AS grid_ts,
       ROUND(p.pv + (n.nv - p.pv)
             * CAST(us - p.pus AS DOUBLE) / (n.nus - p.pus), 6)
         AS value_interp
FROM w
WHERE is_grid = 1 AND p IS NOT NULL AND n IS NOT NULL
"""


@register(
    "ts_resample_interpolate", oracle=_RESAMPLE_ORACLE, category="composite"
)
def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's irregular readings onto a regular 6 h grid
    with LINEAR interpolation — the step that aligns telemetry before
    any cross-series math (LOCF gap-fill, `win_fill_forward`, is its
    step-function sibling).

    Grid points are generated per key from its own [min, max] span
    (exact integer µs arithmetic), unioned with the readings, and ONE
    user_id exchange serves both carry windows: running `last` of the
    most recent reading (ts, value) and running `first` of the next —
    `ignorenulls` over a struct carries the bracketing pair without a
    self-join (the naive as-of formulation pays two joins). A grid
    point emits only when both brackets exist (no extrapolation);
    ordering is (us, is_grid, event_id NULLS LAST) on BOTH engines, so
    a grid point coinciding exactly with a reading deterministically
    interpolates to that reading's value. At 100 TB the shape is the
    point: grid density is a constant per key-day, the exchange
    carries |readings| + |grid| rows once, and state never exceeds the
    two bracketing structs per row.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        "value",
    )
    rng = ev.groupBy("user_id").agg(
        F.min("us").alias("mn"), F.max("us").alias("mx")
    )
    # A key whose whole span sits between two grid lines has NO grid
    # points: Spark's sequence(start, stop) REQUIRES start <= stop
    # (DuckDB's range just yields empty), so gate the generator.
    start = F.expr(
        f"((mn + {_RESAMPLE_G_US} - 1) div {_RESAMPLE_G_US})"
        f" * {_RESAMPLE_G_US}"
    )
    grid = (
        rng.withColumn("g_start", start)
        .filter(F.col("g_start") <= F.col("mx"))
        .select(
            "user_id",
            F.explode(
                F.expr(f"sequence(g_start, mx, {_RESAMPLE_G_US})")
            ).alias("us"),
        )
    )
    pts = ev.select(
        "user_id", "us", "event_id", "value", F.lit(0).alias("is_grid")
    ).unionByName(
        grid.select(
            "user_id",
            "us",
            F.lit(None).cast("long").alias("event_id"),
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("is_grid"),
        )
    )
    order = [
        F.asc("us"),
        F.asc("is_grid"),
        F.asc_nulls_last("event_id"),
    ]
    wprev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carry_p = F.last(
        F.when(
            F.col("value").isNotNull(),
            F.struct(F.col("us").alias("pus"), F.col("value").alias("pv")),
        ),
        ignorenulls=True,
    ).over(wprev)
    carry_n = F.first(
        F.when(
            F.col("value").isNotNull(),
            F.struct(F.col("us").alias("nus"), F.col("value").alias("nv")),
        ),
        ignorenulls=True,
    ).over(wnext)
    w = pts.select(
        "user_id", "us", "is_grid", carry_p.alias("p"), carry_n.alias("n")
    )
    interp = F.col("p.pv") + (F.col("n.nv") - F.col("p.pv")) * (
        (F.col("us") - F.col("p.pus")).cast("double")
        / (F.col("n.nus") - F.col("p.pus"))
    )
    return (
        w.filter(
            (F.col("is_grid") == 1)
            & F.col("p").isNotNull()
            & F.col("n").isNotNull()
        )
        .select(
            "user_id",
            F.timestamp_micros(F.col("us")).alias("grid_ts"),
            F.round(interp, 6).alias("value_interp"),
        )
    )


_OHLC_ORACLE = f"""
WITH ev AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, value
  FROM {EVENTS_REL}
),
w AS (
  SELECT event_type, day, value,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY us, event_id) AS rn_open,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY us DESC, event_id DESC) AS rn_close
  FROM ev
)
SELECT event_type, day,
       MAX(CASE WHEN rn_open = 1 THEN value END) AS open_v,
       MAX(value) AS high_v,
       MIN(value) AS low_v,
       MAX(CASE WHEN rn_close = 1 THEN value END) AS close_v,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(AVG(value), 6) AS avg_v
FROM w
GROUP BY event_type, day
"""


@register("ts_ohlc_bars", oracle=_OHLC_ORACLE, category="composite")
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, day) bar with the first /
    max / min / last reading — the classic telemetry rollup that turns
    a raw event stream into a fixed-density summary series.

    Open/close need a deterministic "first/last by time"; instead of a
    rank window (which would force a per-bar sort exchange before the
    aggregate), both are ONE lexicographic struct min/max — `min(
    struct(us, event_id, value))` — inside the same hash aggregate as
    high/low/count. The whole bar is a single map-side-combinable
    groupBy: one exchange of |bars| rows regardless of corpus size,
    no window state. event_id (unique) breaks same-µs ties identically
    on both engines.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        "value",
    )
    return ev.groupBy("event_type", "day").agg(
        F.min(F.struct("us", "event_id", "value"))["value"].alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max(F.struct("us", "event_id", "value"))["value"].alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_v"),
    )


_COHORT_ORACLE = f"""
WITH firsts AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM {EVENTS_REL} GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST((epoch(date_trunc('week', e.ts))
               - epoch(CAST(f.cohort_week AS TIMESTAMP))) / 604800 AS BIGINT)
           AS offset_weeks
  FROM {EVENTS_REL} e JOIN firsts f USING (user_id)
),
sizes AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM firsts
  GROUP BY cohort_week
)
SELECT a.cohort_week, a.offset_weeks,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       s.cohort_size,
       ROUND(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 6) AS retention_frac
FROM activity a JOIN sizes s USING (cohort_week)
GROUP BY a.cohort_week, a.offset_weeks, s.cohort_size
"""


@register("win_retention_cohort", oracle=_COHORT_ORACLE, category="composite")
def win_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    counted again in every later week they return — the product-
    analytics staple (and, for a training corpus, the "how much of
    source X's week-0 crawl is still contributing at week k" view).

    Plan: ONE shuffle on user_id serves both the per-user first-week
    aggregate and the (user, week) distinct; the cohort membership
    then re-aggregates on the |cohorts|×|weeks| key (tiny), and cohort
    sizes join back broadcast. No window over the raw stream, no
    per-user state beyond the groupBy — at 100 TB the big exchanges
    are both map-side combined on user_id.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", "ts").alias("week")
    )
    firsts = ev.groupBy("user_id").agg(
        F.min("week").cast("date").alias("cohort_week")
    )
    activity = (
        ev.distinct()
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp(F.col("week"))
                    - F.unix_timestamp(F.col("cohort_week").cast("timestamp"))
                )
                / 604800
            )
            .cast("bigint")
            .alias("offset_weeks"),
        )
        # no second distinct: (user, week) is already unique and
        # week -> offset is injective given the cohort, so another
        # distinct would only add a corpus-scale exchange
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "offset_weeks")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "offset_weeks",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size"), 6
            ).alias("retention_frac"),
        )
    )


_GAP_MIN_US = 12 * 3600 * 1_000_000  # 12 h

_GAP_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_id FROM {EVENTS_REL}
),
g AS (
  SELECT user_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS gap_start,
         ts AS gap_end
  FROM e
)
SELECT user_id, gap_start, gap_end,
       epoch_us(gap_end) - epoch_us(gap_start) AS gap_us
FROM g
WHERE gap_start IS NOT NULL
  AND epoch_us(gap_end) - epoch_us(gap_start) >= {_GAP_MIN_US}
"""


@register("ts_gap_detect", oracle=_GAP_ORACLE, category="composite")
def ts_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry gap detection: every silent window of >= 12 h per
    key, with its exact bounds — the monitoring primitive behind
    "sensor X went dark" alerts and the ingest-completeness audit a
    training pipeline runs per crawl slice.

    One lag window over the (user, time) ordering — the same single
    exchange `sessionize_batch` uses (a gap IS a session boundary;
    this op reports the boundaries themselves). Gap length compares
    in integer microseconds: no float boundary, bit-identical on both
    engines. The >= filter is applied after the window, so the
    exchange carries |events| rows once and nothing else.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        F.lag("ts").over(w).alias("gap_start"),
        F.col("ts").alias("gap_end"),
    )
    gap_us = F.unix_micros("gap_end") - F.unix_micros("gap_start")
    return (
        g.filter(F.col("gap_start").isNotNull())
        .filter(gap_us >= _GAP_MIN_US)
        .select("user_id", "gap_start", "gap_end", gap_us.alias("gap_us"))
    )


_MOM_ORACLE = f"""
WITH monthly AS (
  SELECT event_type, CAST(date_trunc('month', ts) AS DATE) AS month,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(SUM(value), 4) AS sum_value
  FROM {EVENTS_REL} e GROUP BY 1, 2
)
SELECT event_type, month, n_events, sum_value,
       ROUND(CASE WHEN LAG(sum_value) OVER w IS NOT NULL
                  AND LAG(sum_value) OVER w <> 0
             THEN (sum_value - LAG(sum_value) OVER w)
                  / LAG(sum_value) OVER w * 100 END, 4) AS pct_change_mom
FROM monthly
WINDOW w AS (PARTITION BY event_type ORDER BY month)
"""


@register("win_pct_change_mom", oracle=_MOM_ORACLE, category="window")
def win_pct_change_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month percent change per series — the reporting
    staple layered on a calendar rollup (lag over the aggregated
    series, NOT over raw events).

    The aggregate collapses the corpus to |series|x|months| rows
    FIRST (one map-side-combined exchange); the lag window then runs
    over that tiny frame — partitioned by series, so no single-
    partition bottleneck. First month (no prior) and a zero base both
    emit NULL rather than an Inf/-Inf that would poison downstream
    sorts. Both engines round the aggregated operand before the
    ratio, so the division sees identical inputs.
    """
    ev = load_table(spark, sf_dir, "events")
    monthly = ev.groupBy(
        "event_type",
        F.date_trunc("month", "ts").cast("date").alias("month"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    w = Window.partitionBy("event_type").orderBy("month")
    prev = F.lag("sum_value").over(w)
    return monthly.select(
        "event_type",
        "month",
        "n_events",
        "sum_value",
        F.round(
            F.when(
                prev.isNotNull() & (prev != 0),
                (F.col("sum_value") - prev) / prev * 100,
            ),
            4,
        ).alias("pct_change_mom"),
    )


_SEASON_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(AVG(value), 6) AS avg_value
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
peak AS (
  SELECT event_type, hod AS peak_hour,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n_events DESC, hod) AS rn
  FROM hourly
)
SELECT h.event_type, h.hod, h.n_events, h.avg_value, p.peak_hour
FROM hourly h JOIN peak p ON p.event_type = h.event_type AND p.rn = 1
"""


@register("ts_seasonality_profile", oracle=_SEASON_ORACLE, category="composite")
def ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per series: the 24-bucket
    diurnal shape (count + mean level) with each series' peak hour
    stamped on every row — the load-curve view capacity planning and
    anomaly baselining both start from (`win_anomaly_zscore` flags
    deviations; this op supplies the baseline shape).

    One calendar-bucketed aggregate collapses the corpus to
    |series|x24 rows — the only exchange that sees data; the peak
    election is a rank over those 24-row groups and broadcast-joins
    back. Deterministic peak tie-break on the earlier hour.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("hod")
    )
    peak = (
        hourly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("hod").alias("peak_hour"))
    )
    return hourly.join(F.broadcast(peak), "event_type")


_LTTB_BUCKET = 20

_LTTB_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id, value,
         (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          - 1) // {_LTTB_BUCKET} AS bucket
  FROM {EVENTS_REL} e
),
scored AS (
  SELECT user_id, bucket, ts, value,
         ABS(value - AVG(value) OVER (PARTITION BY user_id, bucket))
           AS dev,
         event_id
  FROM seq
),
picked AS (
  SELECT user_id, bucket, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY dev DESC, ts, event_id) AS rn
  FROM scored
)
SELECT user_id, CAST(bucket AS BIGINT) AS bucket, ts,
       ROUND(value, 6) AS value
FROM picked WHERE rn = 1
"""


@register("ts_downsample_lttb", oracle=_LTTB_ORACLE, category="composite")
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visualization downsampling, largest-deviation-per-bucket (the
    bucket-local LTOB simplification of LTTB): each key's series is
    cut into {_LTTB_BUCKET}-point buckets and each bucket keeps its
    most deviant point — preserving spikes a stride/avg downsample
    erases, which is the whole reason LTTB-family sampling exists.

    True LTTB's triangle chain is sequential (each pick depends on the
    previous); the bucket-local deviation variant keeps the plotted
    extremes AND stays data-parallel: ONE user_id exchange feeds the
    rank window, the per-bucket mean, and the per-bucket argmax
    (bucket keys are subsets of the partition key, so no further
    shuffles). Output size is a fixed 1/{_LTTB_BUCKET} of input,
    per key, deterministically (ties break on time then id).
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.expr(
            f"(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)"
            f" - 1) div {_LTTB_BUCKET}"
        ).alias("bucket"),
    )
    wb = Window.partitionBy("user_id", "bucket")
    scored = seq.withColumn(
        "dev", F.abs(F.col("value") - F.avg("value").over(wb))
    )
    wp = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("dev").desc(), "ts", "event_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            "ts",
            F.round("value", 6).alias("value"),
        )
    )


_ROLLUP_GRAIN_SQL = """
  SELECT '{grain}' AS grain, event_type,
         CAST(date_trunc('{grain}', ts) AS TIMESTAMP) AS bucket_start,
         CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(SUM(value), 4) AS sum_value,
         ROUND(MIN(value), 6) AS min_value,
         ROUND(MAX(value), 6) AS max_value,
         ROUND(ROUND(SUM(value), 4) / COUNT(*), 6) AS avg_value
  FROM {rel} e GROUP BY event_type, date_trunc('{grain}', ts)
"""

_ROLLUP_CASCADE_ORACLE = (
    _ROLLUP_GRAIN_SQL.format(grain="day", rel=EVENTS_REL)
    + " UNION ALL "
    + _ROLLUP_GRAIN_SQL.format(grain="week", rel=EVENTS_REL)
)


@register(
    "ts_rollup_cascade",
    oracle=_ROLLUP_CASCADE_ORACLE,
    category="timeseries",
)
def ts_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate CASCADE: hour rollup from
    raw events, day rollup from the HOUR aggregate, week rollup from
    the DAY aggregate — each level re-aggregates the previous level's
    mergeable state (count/sum/min/max; avg derives at read time), the
    materialized-rollup discipline that never rescans raw data.  The
    oracle computes day and week grains DIRECTLY from raw events, so
    the check proves cascaded re-aggregation is lossless.

    Plan: ONE corpus-size exchange (the hourly groupBy); day and week
    re-aggregations run over |types|×|hours| and |types|×|days| rows.
    At 100 TB the hourly pass is the only data-shaped shuffle and is
    map-side combined; every further grain costs catalog-sized work —
    the reason cascades beat per-grain rescans at scale.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket_start")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("value").alias("s"),
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
    )

    def _up(df: DataFrame, grain: str) -> DataFrame:
        return df.groupBy(
            "event_type",
            F.date_trunc(grain, "bucket_start").alias("bucket_start"),
        ).agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )

    # The day frame feeds BOTH output branches (its own rows and the
    # week re-aggregation); without a checkpoint each union branch
    # re-plans the corpus-size hourly aggregate (branch-specialized
    # column pruning defeats ReuseExchange — verified on the plan:
    # 2 parquet scans without, 1 with).  The materialized frame is
    # |types| x |days| rows — catalog-sized at any data scale.
    daily = _up(hourly, "day").localCheckpoint(eager=False)
    weekly = _up(daily, "week")

    def _out(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "event_type",
            "bucket_start",
            "n",
            F.round("s", 4).alias("sum_value"),
            F.round("mn", 6).alias("min_value"),
            F.round("mx", 6).alias("max_value"),
            F.round(F.round(F.col("s"), 4) / F.col("n"), 6).alias("avg_value"),
        )

    return _out(daily, "day").unionAll(_out(weekly, "week"))


_STREAK_ORACLE = f"""
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM {EVENTS_REL} e
),
num AS (
  SELECT user_id, d,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
  FROM active
),
isl AS (
  SELECT user_id, d - CAST(rn AS INTEGER) AS grp,
         CAST(COUNT(*) AS BIGINT) AS len
  FROM num GROUP BY user_id, d - CAST(rn AS INTEGER)
),
per_user AS (
  SELECT user_id, MAX(len) AS streak_len FROM isl GROUP BY user_id
)
SELECT streak_len,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MIN(user_id) AS BIGINT) AS min_user
FROM per_user GROUP BY streak_len
"""


@register("win_streak_islands", oracle=_STREAK_ORACLE, category="window")
def win_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active days per
    user, reported as a streak-length histogram with a deterministic
    exemplar user.  The classic engagement metric (`current streak`)
    that needs island detection, not plain windowing.

    Plan: ONE user_id exchange — the per-user distinct day set is
    collected (bounded by the calendar window, 30 days here; a
    retention window at scale) and the longest run computed with a
    doc-local `aggregate` fold over the sorted array, so no second
    window shuffle.  The oracle solves the same problem with the
    textbook SQL islands construction (row_number difference
    grouping) — two genuinely different algorithms must agree on
    every count.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.select("user_id", F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .groupBy("user_id")
        .agg(F.expr("array_sort(collect_set(d))").alias("days"))
        .select(
            "user_id",
            F.expr(
                "aggregate(days,"
                " struct(CAST(NULL AS DATE) AS prev, 0L AS cur, 0L AS best),"
                " (acc, d) -> struct(d AS prev,"
                "   CASE WHEN acc.prev IS NOT NULL AND datediff(d, acc.prev) = 1"
                "        THEN acc.cur + 1 ELSE 1L END AS cur,"
                "   greatest(acc.best,"
                "     CASE WHEN acc.prev IS NOT NULL AND datediff(d, acc.prev) = 1"
                "          THEN acc.cur + 1 ELSE 1L END) AS best),"
                " acc -> acc.best)"
            ).alias("streak_len"),
        )
    )
    return per_user.groupBy("streak_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.min("user_id").cast("bigint").alias("min_user"),
    )


_XCORR_LAGS = (-2, -1, 0, 1, 2)
_XCORR_A, _XCORR_B = "view", "purchase"

_XCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = '{_XCORR_A}' THEN 1 ELSE 0 END)
              AS BIGINT) AS na,
         CAST(SUM(CASE WHEN event_type = '{_XCORR_B}' THEN 1 ELSE 0 END)
              AS BIGINT) AS nb
  FROM {EVENTS_REL} e GROUP BY 1
),
lagged AS (
  SELECT l.lag, a.na AS x, b.nb AS y
  FROM (SELECT UNNEST([{', '.join(str(x) for x in _XCORR_LAGS)}]) AS lag) l
  JOIN daily a ON TRUE
  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
),
m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM lagged GROUP BY lag
)
SELECT lag, n,
       ROUND((n * sxy - sx * sy)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS xcorr
FROM m
"""


@register("ts_cross_correlation", oracle=_XCORR_ORACLE, category="timeseries")
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily '{_XCORR_A}' and
    '{_XCORR_B}' series at lags {_XCORR_LAGS} — the lead/lag analysis
    ("do views predict purchases k days later?").  All moments
    (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact BIGINTs and only
    the final Pearson formula touches doubles, so both engines divide
    IDENTICAL integers — immune to the accumulation-order drift a
    native one-pass corr() would have.

    Plan: one corpus-size exchange (the daily pivot aggregate, map-
    side combined to |days| rows); the lag explode and self-join run
    on the |days|-row frame.  At 100 TB the calendar frame stays
    catalog-sized no matter the data volume — cross-correlation is
    free after the rollup.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == _XCORR_A, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("event_type") == _XCORR_B, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    # daily feeds both join sides; checkpoint the |days|-row frame so
    # the corpus aggregate runs once (same rationale as
    # ts_rollup_cascade — ReuseExchange doesn't fire across the
    # branch-specialized projections).
    daily = daily.localCheckpoint(eager=False)
    lags = daily.withColumn(
        "lag", F.explode(F.array(*[F.lit(x) for x in _XCORR_LAGS]))
    )
    b = daily.select(F.col("d").alias("d2"), F.col("nb").alias("y"))
    lagged = lags.join(
        F.broadcast(b),
        F.col("d2") == F.expr("date_add(d, lag)"),
    ).select("lag", F.col("na").alias("x"), "y")
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        "lag",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            ),
            6,
        ).alias("xcorr"),
    )


_SWEEP_ORACLE = f"""
WITH iv AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         MIN(epoch_us(ts)) AS s_us, MAX(epoch_us(ts)) AS e_us
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
deltas AS (
  SELECT day, s_us AS us, 1 AS delta FROM iv
  UNION ALL
  SELECT day, e_us + 1 AS us, -1 AS delta FROM iv
),
c AS (
  SELECT day, us, delta,
         SUM(delta) OVER (PARTITION BY day ORDER BY us, delta DESC
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM deltas
)
SELECT c.day,
       CAST(n.n_active AS BIGINT) AS n_active_users,
       CAST(MAX(c.cum) AS BIGINT) AS peak_concurrency
FROM c
JOIN (SELECT day, COUNT(*) AS n_active FROM iv GROUP BY day) n
  ON n.day = c.day
GROUP BY c.day, n.n_active
"""


@register("ts_concurrency_sweep", oracle=_SWEEP_ORACLE, category="timeseries")
def ts_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the sweep line: each user's daily
    activity interval [first event, last event] contributes +1/-1
    deltas; the running sum's max is the day's peak simultaneous-user
    count — the "how many sessions were live at once" capacity
    question an aggregate can't answer.

    Plan: intervals from ONE (user, day) aggregate; the sweep cumsum
    PARTITIONS BY DAY, so no global single-partition sort exists —
    the scalable segmented-sweep shape (intervals here never span
    segments by construction; spanning intervals would add a
    carry-in count per segment, a |segments|-row join, not a global
    sort).  Peak is tie-order invariant: +1 deltas sort before -1 at
    the same microsecond, and within a tie group the running max
    depends only on the group's count.
    """
    e = load_table(spark, sf_dir, "events")
    iv = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(
        F.unix_micros(F.min("ts")).alias("s_us"),
        F.unix_micros(F.max("ts")).alias("e_us"),
    )
    deltas = iv.select(
        "day", F.col("s_us").alias("us"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("day", (F.col("e_us") + 1).alias("us"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("us"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = deltas.withColumn("cum", F.sum("delta").over(w))
    n = iv.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    return (
        c.groupBy("day")
        .agg(F.max("cum").cast("bigint").alias("peak_concurrency"))
        .join(n, "day")
        .select(
            "day",
            F.col("n_active").cast("bigint").alias("n_active_users"),
            "peak_concurrency",
        )
    )


_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS days
  FROM daily GROUP BY event_type
),
c AS (
  SELECT d.event_type, d.d, d.n, m.tot, m.days,
         SUM(d.n * m.days - m.tot) OVER (
           PARTITION BY d.event_type ORDER BY d.d
           ROWS UNBOUNDED PRECEDING) AS scaled_cusum
  FROM daily d JOIN m ON m.event_type = d.event_type
),
x AS (
  SELECT event_type, d, scaled_cusum, days,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY ABS(scaled_cusum) DESC, d) AS rn
  FROM c
)
SELECT event_type,
       d AS changepoint_day,
       CAST(scaled_cusum AS BIGINT) AS peak_scaled_cusum,
       ROUND(CAST(scaled_cusum AS DOUBLE) / days, 6) AS peak_cusum
FROM x WHERE rn = 1
"""


@register("ts_cusum_changepoint", oracle=_CUSUM_ORACLE, category="timeseries")
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint estimation per event-type series: the day
    where the cumulative sum of (daily count - series mean) peaks in
    magnitude — the classic mean-shift locator.  The cumsum runs in
    SCALED INTEGER space (n*days - total, i.e. deviation x days), so
    the argmax is exact integer arithmetic on both engines; the
    float division only renders the reported peak.

    Plan: one corpus exchange (the daily rollup); mean and cusum run
    on the |types| x |days| frame.  Deterministic tiebreak (earliest
    peak day).  At 100 TB: same cascade discipline as
    ts_rollup_cascade — detection cost is catalog-sized after one
    rollup.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    m = daily.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("days"),
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        daily.join(m, "event_type")
        .withColumn(
            "scaled_cusum",
            F.sum(F.col("n") * F.col("days") - F.col("tot")).over(wc),
        )
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("scaled_cusum")).desc(), F.col("d")
    )
    return (
        c.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("d").alias("changepoint_day"),
            F.col("scaled_cusum").cast("bigint").alias("peak_scaled_cusum"),
            # normalize by the SERIES' own day count: scaled = dev*days
            F.round(
                F.col("scaled_cusum").cast("double") / F.col("days"), 6
            ).alias("peak_cusum"),
        )
    )


_ATTR_WINDOW_H = 72  # attribution lookback (hours)

_ATTR_ORACLE = f"""
WITH touches AS (
  SELECT user_id, ts, event_id
  FROM {EVENTS_REL} e WHERE event_type IN ('view', 'click')
),
purchases AS (
  SELECT user_id, ts, event_id, value FROM {EVENTS_REL} e
  WHERE event_type = 'purchase'
),
attrib AS (
  SELECT p.user_id, p.event_id, p.value,
         (SELECT MAX(t.event_id)
          FROM touches t
          WHERE t.user_id = p.user_id
            AND t.ts <= p.ts
            AND t.ts > p.ts - INTERVAL {_ATTR_WINDOW_H} HOURS
            AND t.ts = (SELECT MAX(t2.ts) FROM touches t2
                        WHERE t2.user_id = p.user_id
                          AND t2.ts <= p.ts
                          AND t2.ts > p.ts - INTERVAL {_ATTR_WINDOW_H} HOURS)
         ) AS touch_event
  FROM purchases p
)
SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN touch_event IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_attributed,
       ROUND(SUM(CASE WHEN touch_event IS NOT NULL THEN value ELSE 0 END), 4)
         AS attributed_revenue,
       MD5(string_agg(LPAD(CAST(event_id AS STRING), 10, '0') || ':'
                      || COALESCE(CAST(touch_event AS STRING), 'organic'),
                      ',' ORDER BY event_id)) AS assign_md5
FROM attrib GROUP BY 1
"""


@register("win_attribution_touch", oracle=_ATTR_ORACLE, category="window")
def win_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH marketing attribution: every purchase credits the
    most recent view/click by the same user within a {_ATTR_WINDOW_H}h
    lookback (ties at the same microsecond resolve to the highest
    event_id); purchases with no touch in window are 'organic'.  The
    per-bucket assign_md5 fingerprints every single attribution.

    Plan: the same union-window as-of shape as `join_scd2_pit` — ONE
    pushed-IN scan, one user_id window carrying the running latest
    touch (ignorenulls struct of (µs, event_id)), then a window-
    expiry filter (touch older than the lookback reverts to organic).
    No correlated subquery, no interval join: at 100 TB attribution
    is a partitioned sort, which is why the window form is the one
    every clickstream warehouse ships.  The oracle uses correlated
    subqueries — maximally different formulation, identical
    assignment.
    """
    e = load_table(spark, sf_dir, "events")
    tagged = e.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("us"),
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        "event_id",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # running latest touch as an (us, event_id) struct: max() over the
    # window picks latest-ts / highest-event_id ties correctly
    touch = F.max(
        F.when(
            F.col("is_p") == 0, F.struct(F.col("us"), F.col("event_id"))
        )
    ).over(w)
    assigned = (
        tagged.withColumn("t", touch)
        .filter(F.col("is_p") == 1)
        .withColumn(
            "touch_event",
            F.when(
                F.col("t").isNotNull()
                & (
                    F.col("t.us")
                    > F.col("us") - F.lit(_ATTR_WINDOW_H * 3_600_000_000)
                ),
                F.col("t.event_id"),
            ),
        )
    )
    pair = F.concat(
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
        F.lit(":"),
        F.coalesce(F.col("touch_event").cast("string"), F.lit("organic")),
    )
    return assigned.groupBy(
        (F.col("user_id") % 10).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(F.when(F.col("touch_event").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_attributed"),
        F.round(
            F.sum(
                F.when(F.col("touch_event").isNotNull(), F.col("value")).otherwise(
                    0.0
                )
            ),
            4,
        ).alias("attributed_revenue"),
        F.md5(F.array_join(F.array_sort(F.collect_list(pair)), ",")).alias(
            "assign_md5"
        ),
    )


_SNAIVE_TEST_DAY = "2024-01-29"  # held-out day (last full day)

_SNAIVE_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2, 3
),
actual AS (
  SELECT event_type, h, n FROM hourly WHERE d = DATE '{_SNAIVE_TEST_DAY}'
),
forecast AS (
  SELECT event_type, h, n AS fc
  FROM hourly WHERE d = DATE '{_SNAIVE_TEST_DAY}' - INTERVAL 7 DAY
),
joined AS (
  SELECT a.event_type, a.h, a.n, COALESCE(f.fc, 0) AS fc
  FROM actual a LEFT JOIN forecast f
    ON f.event_type = a.event_type AND f.h = a.h
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(ABS(n - fc)) AS BIGINT) AS abs_err_total,
       ROUND(SUM(ABS(n - fc)) * 1.0 / COUNT(*), 6) AS mae,
       ROUND(SUM(ABS(n - fc)) * 1.0 / SUM(n), 6) AS wape
FROM joined GROUP BY event_type
"""


@register("ts_forecast_snaive", oracle=_SNAIVE_ORACLE, category="timeseries")
def ts_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each series' hourly
    counts on the held-out day {_SNAIVE_TEST_DAY} as "same hour one
    week earlier", score MAE and WAPE per series — the baseline every
    fancier forecaster must beat, plus the held-out-evaluation
    protocol itself (forecast rows join actuals; missing lag hours
    forecast 0).  All errors are integer sums; the two ratios are the
    only float ops.

    Plan: one corpus exchange (the hourly rollup, map-side combined);
    actual/forecast split and join run on the |types| x 24 frame.
    Same cascade discipline as ts_rollup_cascade: backtesting is
    catalog-sized after one rollup at any data scale.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("d"),
        F.hour("ts").cast("bigint").alias("h"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n")).localCheckpoint(eager=False)
    test_day = F.lit(_SNAIVE_TEST_DAY).cast("date")
    actual = hourly.filter(F.col("d") == test_day).select("event_type", "h", "n")
    forecast = hourly.filter(
        F.col("d") == F.date_sub(test_day, 7)
    ).select(
        F.col("event_type").alias("f_type"),
        F.col("h").alias("f_h"),
        F.col("n").alias("fc"),
    )
    joined = actual.join(
        F.broadcast(forecast),
        (F.col("event_type") == F.col("f_type")) & (F.col("h") == F.col("f_h")),
        "left",
    ).select(
        "event_type", "h", "n", F.coalesce("fc", F.lit(0)).alias("fc")
    )
    err = F.abs(F.col("n") - F.col("fc"))
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(err).cast("bigint").alias("abs_err_total"),
        F.round(F.sum(err) * 1.0 / F.count(F.lit(1)), 6).alias("mae"),
        F.round(F.sum(err) * 1.0 / F.sum("n"), 6).alias("wape"),
    )


_MARKOV_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM {EVENTS_REL} e
),
trans AS (
  SELECT event_type AS from_state, nxt AS to_state,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ordered WHERE nxt IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_state, CAST(SUM(n) AS BIGINT) AS row_total
  FROM trans GROUP BY from_state
)
SELECT t.from_state, t.to_state, t.n,
       ROUND(CAST(t.n AS DOUBLE) / x.row_total, 6) AS p
FROM trans t JOIN tot x ON x.from_state = t.from_state
"""


@register("agg_markov_transitions", oracle=_MARKOV_ORACLE, category="aggregate")
def agg_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream (view→click→purchase…): transition counts and row-
    normalized probabilities — the clickstream model behind
    next-action prediction and funnel leakage analysis.  Deterministic
    ordering (ts, event_id) fixes ties; probabilities are exact
    integer ratios rounded once.

    Plan: ONE user_id exchange for the lead window; transition counts
    map-side combine to the |states|² frame, and row normalization
    joins on that catalog-sized frame.  At 100 TB the window pass is
    the only data-shaped cost — same shape as sessionization.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    trans = ordered.groupBy(
        F.col("event_type").alias("from_state"),
        F.col("nxt").alias("to_state"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wtot = Window.partitionBy("from_state")
    return trans.select(
        "from_state",
        "to_state",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wtot), 6
        ).alias("p"),
    )


_ACF_LAGS = (1, 2, 3, 7)

_ACF_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1
),
lagged AS (
  SELECT l.lag, a.n AS x, b.n AS y
  FROM (SELECT UNNEST([{', '.join(str(x) for x in _ACF_LAGS)}]) AS lag) l
  JOIN daily a ON TRUE
  JOIN daily b ON b.d = a.d + CAST(l.lag AS INTEGER)
),
m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM lagged GROUP BY lag
)
SELECT lag, n,
       ROUND((n * sxy - sx * sy)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS acf
FROM m
"""


@register("ts_autocorrelation", oracle=_ACF_ORACLE, category="timeseries")
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the total daily event series at lags
    {_ACF_LAGS} — the seasonality detector that justifies (or
    refutes) `ts_forecast_snaive`'s weekly lag: a strong lag-7 ACF
    means same-day-last-week is a good predictor.  Exact BIGINT
    moments like `ts_cross_correlation` (this is its self-join
    sibling; kept separate because ACF is the single-series
    diagnostic run FIRST, before any pairwise analysis).

    Plan: one corpus exchange to |days| rows (checkpointed), lag
    explode + broadcast self-join + one reduce on the catalog-sized
    frame.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    lags = daily.withColumn(
        "lag", F.explode(F.array(*[F.lit(x) for x in _ACF_LAGS]))
    )
    b = daily.select(F.col("d").alias("d2"), F.col("n").alias("y"))
    lagged = lags.join(
        F.broadcast(b), F.col("d2") == F.expr("date_add(d, lag)")
    ).select("lag", F.col("n").alias("x"), "y")
    m = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return m.select(
        "lag",
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                        "double"
                    )
                )
                * F.sqrt(
                    (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                        "double"
                    )
                )
            ),
            6,
        ).alias("acf"),
    )


_INTERVAL_MERGE_ORACLE = f"""
WITH iv AS (
  SELECT user_id,
         epoch_us(ts) AS s,
         epoch_us(ts) + 7200000000 AS e
  FROM {EVENTS_REL} e
),
runs AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_e
  FROM iv
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_merged_intervals,
       CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(prev_max_e, s))))
            AS BIGINT) AS covered_us
FROM runs
GROUP BY user_id
"""


@register(
    "ts_interval_merge", oracle=_INTERVAL_MERGE_ORACLE, category="composite"
)
def ts_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval coalescing per user (each event opens a 2 h
    activity interval; report how many DISJOINT intervals remain after
    merging overlaps, and the exact covered time) — the classic
    interval-union primitive behind uptime, on-call coverage, and
    billing-meter dedup.

    No island re-grouping pass: the running `max(end)` window gives
    each row its overlap-clipped contribution
    `greatest(0, e − greatest(s, prev_max_e))` directly, so covered
    time and interval count fall out of ONE user-partitioned window
    followed by a same-key aggregate (the exchange is reused — the
    aggregate's required distribution is already satisfied).  All
    arithmetic in integer µs.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(7200000000)).alias("e"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    runs = iv.withColumn("prev_max_e", F.max("e").over(w))
    new_iv = F.when(
        F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
        1,
    ).otherwise(0)
    contrib = F.greatest(
        F.lit(0),
        F.col("e")
        - F.greatest(F.col("s"), F.coalesce(F.col("prev_max_e"), F.col("s"))),
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(new_iv).cast("bigint").alias("n_merged_intervals"),
        F.sum(contrib).cast("bigint").alias("covered_us"),
    )


_BACKTEST_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         DATE_DIFF('day',
                   (SELECT MIN(CAST(ts AS DATE)) FROM events),
                   CAST(ts AS DATE)) AS day
  FROM {EVENTS_REL} e
),
folds AS (SELECT UNNEST(generate_series(1, 4)) AS fold),
tagged AS (
  SELECT f.fold, b.event_type,
         CASE WHEN b.day < 10 + 4 * f.fold THEN 'train'
              WHEN b.day < 14 + 4 * f.fold THEN 'test' END AS part
  FROM base b, folds f
)
SELECT fold, event_type,
       CAST(10 + 4 * fold AS BIGINT) AS train_days,
       CAST(SUM(CASE WHEN part = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN part = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test
FROM tagged
WHERE part IS NOT NULL
GROUP BY fold, event_type
"""


@register("ts_backtest_folds", oracle=_BACKTEST_ORACLE, category="composite")
def ts_backtest_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest folds — the
    cross-validation protocol for forecasters: fold k trains on days
    [0, 10+4k) and tests on the NEXT 4 days, so later folds see more
    history and test sets never leak into training
    (`ts_forecast_snaive` evaluates ONE such split; this op plans the
    whole schedule).  Per (fold, event_type): train/test row counts
    and the train horizon.

    Plan: the day index is one narrow map (min-date via a scalar
    subquery broadcast); the 4-row fold frame cross-joins in as a
    BroadcastNestedLoop over a frame of four rows — the multiplier is
    |folds|, applied BEFORE the map-side-combined aggregate, so the
    shuffle carries |folds|×|types| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    min_day = ev.agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    base = ev.crossJoin(F.broadcast(min_day)).select(
        "event_type",
        F.datediff(F.to_date("ts"), F.col("d0")).alias("day"),
    )
    folds = spark.range(1, 5).select(F.col("id").alias("fold"))
    tagged = base.crossJoin(F.broadcast(folds)).withColumn(
        "part",
        F.when(F.col("day") < 10 + 4 * F.col("fold"), "train").when(
            F.col("day") < 14 + 4 * F.col("fold"), "test"
        ),
    )
    return (
        tagged.filter(F.col("part").isNotNull())
        .groupBy("fold", "event_type")
        .agg(
            F.sum(F.when(F.col("part") == "train", 1).otherwise(0))
            .cast("bigint")
            .alias("n_train"),
            F.sum(F.when(F.col("part") == "test", 1).otherwise(0))
            .cast("bigint")
            .alias("n_test"),
        )
        .select(
            "fold",
            "event_type",
            (10 + 4 * F.col("fold")).cast("bigint").alias("train_days"),
            "n_train",
            "n_test",
        )
    )


_PEAK_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e
  GROUP BY 1, 2
),
nb AS (
  SELECT event_type, day, n,
         LAG(n) OVER w AS prev_n,
         LEAD(n) OVER w AS next_n
  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, n,
       CAST(n - GREATEST(prev_n, next_n) AS BIGINT) AS prominence
FROM nb
WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
  AND n > prev_n AND n > next_n
"""


@register("ts_peak_detect", oracle=_PEAK_ORACLE, category="composite")
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on daily per-type volume: a day is
    a peak when it strictly exceeds BOTH neighbors; prominence is the
    margin over the taller neighbor — the spike-triage view
    (`win_anomaly_zscore` flags points against a trailing baseline;
    this finds the turning points themselves, the shape-preserving
    counterpart of `ts_downsample_lttb`'s bucket argmax).

    Integer day counts in, integer prominence out — no float anywhere.
    Plan: the corpus collapses to the |types|×|days| frame in one
    map-side-combined aggregate BEFORE the neighbor window runs
    (aggregate-before-window rule); series edges are excluded, not
    zero-padded, on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    nb = daily.withColumn("prev_n", F.lag("n").over(w)).withColumn(
        "next_n", F.lead("n").over(w)
    )
    return nb.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    ).select(
        "event_type",
        "day",
        "n",
        (F.col("n") - F.greatest("prev_n", "next_n"))
        .cast("bigint")
        .alias("prominence"),
    )


_TWA_ORACLE = f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(ROUND(value * 10000) AS BIGINT) AS x,
         event_id
  FROM {EVENTS_REL} e
),
seg AS (
  SELECT user_id, us, x,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS next_us
  FROM s
)
SELECT user_id,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
       CAST(SUM(CASE WHEN next_us IS NOT NULL
                     THEN x * (next_us - us) ELSE 0 END) AS BIGINT)
         AS integral,
       ROUND(CAST(SUM(CASE WHEN next_us IS NOT NULL
                           THEN x * (next_us - us) ELSE 0 END) AS DOUBLE)
             / (MAX(us) - MIN(us)) / 10000, 6) AS twa
FROM seg
GROUP BY user_id
HAVING MAX(us) > MIN(us)
"""


@register(
    "win_time_weighted_avg", oracle=_TWA_ORACLE, category="composite"
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over the step function the
    readings define (each value holds until the next sample) — the
    metering/billing semantics (GB-hours, average concurrency,
    position-weighted exposure) where the PLAIN average is simply
    wrong for irregular sampling: a value held for 6 h must weigh 360×
    one held for a minute.

    The step integral Σ xᵢ·(tᵢ₊₁−tᵢ) accumulates as an exact BIGINT in
    1e-4·µs units (bounded by 4e5·(30 days in µs)·|rows per user| —
    DECIMAL(38,0) is the >1e18 escape hatch); the single division by
    the observation span happens at the end.

    Plan: ONE user exchange serves the lead window and the same-key
    aggregate (required distribution already satisfied).
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 10000).cast("bigint").alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = s.withColumn("next_us", F.lead("us").over(w))
    contrib = F.when(
        F.col("next_us").isNotNull(),
        F.col("x") * (F.col("next_us") - F.col("us")),
    ).otherwise(0)
    return (
        seg.groupBy("user_id")
        .agg(
            (F.max("us") - F.min("us")).cast("bigint").alias("span_us"),
            F.sum(contrib).cast("bigint").alias("integral"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "user_id",
            "span_us",
            "integral",
            F.round(
                F.col("integral").cast("double") / F.col("span_us") / 10000,
                6,
            ).alias("twa"),
        )
    )


_STICKY_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM {EVENTS_REL} e
),
dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
),
win AS (
  SELECT DISTINCT u.user_id, u.day + CAST(o.off AS INTEGER) AS anchor
  FROM ud u, (SELECT UNNEST(generate_series(0, 6)) AS off) o
),
wau AS (
  SELECT anchor AS day, CAST(COUNT(*) AS BIGINT) AS wau
  FROM win GROUP BY anchor
)
SELECT d.day, d.dau, w.wau,
       ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
FROM dau d JOIN wau w ON w.day = d.day
"""


@register("agg_stickiness_dau_wau", oracle=_STICKY_ORACLE, category="composite")
def agg_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — the engagement ratio ("what share
    of this week's users showed up today?") product analytics reports
    daily.  WAU for day D counts distinct users active in [D−6, D],
    computed by the SHIFT-AND-DISTINCT trick: each (user, day) row
    projects itself onto the 7 anchor days it contributes to, then one
    distinct — a bounded 7× multiplier instead of a 7-day
    range-distinct window (COUNT(DISTINCT) OVER RANGE is unsupported
    or quadratic in most engines, Spark included).

    Plan: corpus → |users|×|days| distinct frame first (ONE exchange
    does the heavy dedup); the 7× explode happens on that small frame;
    anchors outside the observed range drop in the final join.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    offs = spark.range(7).select(F.col("id").cast("int").alias("off"))
    win = (
        ud.crossJoin(F.broadcast(offs))
        .select("user_id", F.date_add("day", F.col("off")).alias("anchor"))
        .distinct()
    )
    wau = win.groupBy(F.col("anchor").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
            "stickiness"
        ),
    )


_STL_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
tr AS (
  SELECT event_type, day, n,
         SUM(n) OVER w AS s7,
         COUNT(*) OVER w AS c7,
         isodow(day) - 1 AS wd
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full7 AS (
  SELECT event_type, day, n, wd,
         7 * n - s7 AS d7
  FROM tr WHERE c7 = 7
),
seas AS (
  SELECT event_type, wd,
         CAST(SUM(d7) AS BIGINT) AS sum_d7,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM full7 GROUP BY event_type, wd
),
j AS (
  SELECT f.event_type, f.day, f.n,
         ROUND((7.0 * f.n - f.d7) / 7, 4) AS trend,
         ROUND(CAST(s.sum_d7 AS DOUBLE) / s.cnt / 7, 4) AS seasonal
  FROM full7 f JOIN seas s
    ON s.event_type = f.event_type AND s.wd = f.wd
)
SELECT event_type, day, n, trend, seasonal,
       ROUND(n - trend - seasonal, 4) AS remainder
FROM j
"""


@register("ts_stl_decompose", oracle=_STL_ORACLE, category="composite")
def ts_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical trend/seasonal/remainder decomposition of the daily
    per-type volume (STL-lite: centered 7-day moving-average trend,
    mean-detrended weekday seasonal, additive remainder) — the
    decomposition behind `ts_seasonality_profile`'s load curves and
    `ts_forecast_snaive`'s weekly lag, now as explicit components.

    Exactness discipline: the trend numerator Σ7 and the detrended
    value 7n−Σ7 are INTEGERS; trend and seasonal round once from
    integer ratios, and the remainder is computed from the
    ALREADY-ROUNDED components (the float-sums pitfall rule), so both
    engines subtract identical operands.  Edge days without a full
    7-day window are excluded, not padded.

    Plan: corpus → |types|×|days| aggregate first; the trend window,
    weekday aggregate and the seasonal join all run on that tiny
    frame (broadcast).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = (
        daily.withColumn("s7", F.sum("n").over(w))
        .withColumn("c7", F.count(F.lit(1)).over(w))
        .withColumn("wd", F.weekday("day"))
    )
    full7 = tr.filter(F.col("c7") == 7).withColumn(
        "d7", 7 * F.col("n") - F.col("s7")
    )
    seas = full7.groupBy("event_type", "wd").agg(
        F.sum("d7").cast("bigint").alias("sum_d7"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    j = full7.join(F.broadcast(seas), ["event_type", "wd"]).select(
        "event_type",
        "day",
        "n",
        F.round((7.0 * F.col("n") - F.col("d7")) / 7, 4).alias("trend"),
        F.round(
            F.col("sum_d7").cast("double") / F.col("cnt") / 7, 4
        ).alias("seasonal"),
    )
    return j.select(
        "event_type",
        "day",
        "n",
        "trend",
        "seasonal",
        F.round(
            F.col("n") - F.col("trend") - F.col("seasonal"), 4
        ).alias("remainder"),
    )


_RL_CAP_US = 5 * 600_000_000   # 5-token bucket
_RL_COST_US = 600_000_000      # 1 token per event; refills 1 µs-unit/µs

_RATELIMIT_ORACLE = f"""
WITH s AS (
  SELECT user_id,
         LIST(epoch_us(ts) ORDER BY ts, event_id) AS us,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY user_id
),
folded AS (
  -- LIST accumulator [avail, accepted]: DuckDB list_reduce STRUCT
  -- packing has sequential-assignment aliasing (a later field reads
  -- the already-updated earlier field) — this op's original struct
  -- fold was safe only by field order; the list form is functional
  SELECT user_id, n,
         list_reduce(
           list_prepend([CAST({_RL_CAP_US} AS BIGINT), CAST(0 AS BIGINT)],
             list_transform(generate_series(1, CAST(n AS INTEGER)), i ->
               [CAST(CASE WHEN i = 1 THEN 0
                          ELSE us[i] - us[i - 1] END AS BIGINT),
                CAST(0 AS BIGINT)])),
           (a, x) -> CASE
             WHEN LEAST({_RL_CAP_US}, a[1] + x[1]) >= {_RL_COST_US}
             THEN [LEAST({_RL_CAP_US}, a[1] + x[1]) - {_RL_COST_US},
                   a[2] + 1]
             ELSE [LEAST({_RL_CAP_US}, a[1] + x[1]), a[2]] END) AS st
  FROM s
)
SELECT user_id, n AS n_events,
       CAST(st[2] AS BIGINT) AS n_accepted,
       CAST(n - st[2] AS BIGINT) AS n_dropped,
       CAST(st[1] AS BIGINT) AS final_avail_us
FROM folded
"""


@register("ts_rate_limiter_sim", oracle=_RATELIMIT_ORACLE, category="composite")
def ts_rate_limiter_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter replay per user (capacity 5 tokens,
    1 token / 10 min continuous refill, 1 token per event): how much
    of each user's real traffic would an API quota have admitted —
    the capacity-planning what-if that needs SEQUENTIAL bucket state,
    not windowed aggregates.

    The bucket fold is inherently order-dependent, so it runs as a
    per-user ARRAY FOLD (the `win_streak_islands` shape): collect the
    sorted timestamp list, fold a {{avail, accepted}} struct across
    inter-arrival gaps in exact integer µs — identical `list_reduce`
    / `aggregate` lambdas on both engines, zero Window nodes.

    Plan: ONE user exchange; per-user state is O(1), per-user work
    O(events).  Unbounded per-user histories would chunk by day and
    chain final states (the `llm_dedup_incremental` carry pattern).
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(unix_micros(ts) AS us,"
            " event_id))), x -> x.us)"
        ).alias("us"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    folded = s.withColumn(
        "st",
        F.expr(
            f"aggregate("
            f"  transform(sequence(1, int(n)), i -> CASE WHEN i = 1 THEN 0L"
            f"    ELSE element_at(us, i) - element_at(us, i - 1) END),"
            f"  struct(cast({_RL_CAP_US} AS bigint) AS avail,"
            f"         cast(0 AS bigint) AS acc),"
            f"  (a, d) -> CASE"
            f"    WHEN least(cast({_RL_CAP_US} AS bigint), a.avail + d)"
            f"         >= {_RL_COST_US}"
            f"    THEN struct(least(cast({_RL_CAP_US} AS bigint), a.avail + d)"
            f"                - {_RL_COST_US} AS avail, a.acc + 1L AS acc)"
            f"    ELSE struct(least(cast({_RL_CAP_US} AS bigint),"
            f"                a.avail + d) AS avail, a.acc AS acc) END)"
        ),
    )
    return folded.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.col("st.acc").cast("bigint").alias("n_accepted"),
        (F.col("n") - F.col("st.acc")).cast("bigint").alias("n_dropped"),
        F.col("st.avail").cast("bigint").alias("final_avail_us"),
    )


_SAX_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
sym AS (
  SELECT event_type, day,
         chr(CAST(96 + NTILE(4) OVER (PARTITION BY event_type
                                      ORDER BY n, day) AS INTEGER)) AS s
  FROM daily
),
words AS (
  SELECT event_type,
         STRING_AGG(s, '' ORDER BY day) AS sax_word,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM sym GROUP BY event_type
),
grams AS (
  SELECT event_type, sax_word, n_days,
         UNNEST(list_transform(generate_series(1, CAST(LENGTH(sax_word) AS INTEGER) - 2),
                               i -> SUBSTR(sax_word, i, 3))) AS g
  FROM words WHERE LENGTH(sax_word) >= 3
),
motifs AS (
  SELECT event_type, sax_word, n_days, g,
         CAST(COUNT(*) AS BIGINT) AS c,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY COUNT(*) DESC, g) AS rn
  FROM grams GROUP BY event_type, sax_word, n_days, g
)
SELECT event_type, sax_word, n_days,
       g AS motif, c AS motif_count
FROM motifs WHERE rn = 1
"""


@register("ts_sax_symbols", oracle=_SAX_ORACLE, category="composite")
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX-style time-series symbolization: each per-type daily volume
    becomes a quartile symbol a-d (RANK-based discretization — exact
    integer ntile, not Gaussian float breakpoints, so no boundary
    hazard), the 30-day series becomes a word, and the most frequent
    3-symbol MOTIF is elected per series — the symbolic-representation
    pipeline behind motif discovery and cheap series similarity
    (shape matching on strings instead of floats).

    Plan: corpus → |types|×|days| aggregate; ntile and word assembly
    on that frame; 3-gram motif census is a doc-local transform +
    one tiny count exchange (the `llm_ngram_topk` shape).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    wq = Window.partitionBy("event_type").orderBy("n", "day")
    sym = daily.withColumn("q", F.ntile(4).over(wq)).select(
        "event_type", "day", F.expr("char(96 + q)").alias("s")
    )
    words = sym.groupBy("event_type").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(day, s))),"
            " x -> x.s), '')"
        ).alias("sax_word"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    # length guard: Spark sequence(1, n) DESCENDS when n < 1, so a 1-2
    # day series would emit garbage grams the oracle never generates
    grams = words.filter(F.length("sax_word") >= 3).select(
        "event_type",
        "sax_word",
        "n_days",
        F.explode(
            F.expr(
                "transform(sequence(1, int(length(sax_word)) - 2),"
                " i -> substring(sax_word, i, 3))"
            )
        ).alias("g"),
    )
    wm = Window.partitionBy("event_type").orderBy(
        F.col("c").desc(), F.col("g")
    )
    motifs = (
        grams.groupBy("event_type", "sax_word", "n_days", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
    )
    return motifs.select(
        "event_type",
        "sax_word",
        "n_days",
        F.col("g").alias("motif"),
        F.col("c").alias("motif_count"),
    )


_HOLT_ALPHA = 0.5  # level gain — 1/2 keeps the fold arithmetic simple
_HOLT_BETA = 0.5   # trend gain

_HOLT_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
series AS (
  SELECT event_type,
         LIST(CAST(n AS DOUBLE) ORDER BY day) AS xs,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily GROUP BY event_type
),
folded AS (
  -- LIST accumulator [l, b, sse], NOT a struct: DuckDB list_reduce
  -- struct-packing aliases later fields to already-updated earlier
  -- fields (sequential-assignment semantics); list construction is
  -- functional, matching Spark's aggregate()
  SELECT event_type, n_days, xs,
         list_reduce(
           list_prepend([xs[1], xs[2] - xs[1], CAST(0 AS DOUBLE)],
             list_transform(xs[3:], x -> [x, CAST(0 AS DOUBLE),
                                          CAST(0 AS DOUBLE)])),
           (a, e) -> [
             {_HOLT_ALPHA} * e[1] + (1 - {_HOLT_ALPHA}) * (a[1] + a[2]),
             {_HOLT_BETA} * ({_HOLT_ALPHA} * e[1]
                 + (1 - {_HOLT_ALPHA}) * (a[1] + a[2]) - a[1])
                 + (1 - {_HOLT_BETA}) * a[2],
             a[3] + (e[1] - (a[1] + a[2])) * (e[1] - (a[1] + a[2]))
           ]) AS st
  FROM series WHERE n_days >= 3
)
SELECT event_type, n_days,
       ROUND(st[1], 4) AS level,
       ROUND(st[2], 4) AS trend,
       ROUND(st[1] + st[2], 4) AS forecast_next,
       ROUND(st[3], 4) AS sse
FROM folded
"""


@register("ts_holt_linear", oracle=_HOLT_ORACLE, category="composite")
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double) exponential smoothing per daily series:
    coupled level+trend state (α=β={_HOLT_ALPHA}), one-step-ahead
    forecast, and the in-sample one-step SSE — the trend-aware upgrade
    over `win_ewma` (level only) and the model `ts_forecast_snaive`'s
    baseline exists to beat.

    The recursion is inherently sequential, so it runs as the same
    portable per-series ARRAY FOLD as `ts_rate_limiter_sim`:
    identical `list_reduce`/`aggregate` float updates applied to the
    identical ordered operand sequence on both engines ⇒ identical
    IEEE results (order-dependence is harmless when the order is
    pinned).  Init: level=x₁, trend=x₂−x₁, fold from x₃.

    Plan: corpus → |types|×|days| aggregate, then |types| folds over
    30-element arrays — O(1) state, no Window, one exchange.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> cast(s.n AS double))"
        ).alias("xs"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    folded = series.filter(F.col("n_days") >= 3).withColumn(
        "st",
        F.expr(
            f"aggregate(slice(xs, 3, size(xs) - 2),"
            f" struct(element_at(xs, 1) AS l,"
            f"        element_at(xs, 2) - element_at(xs, 1) AS b,"
            f"        cast(0 AS double) AS sse),"
            f" (acc, x) -> struct("
            f"   {a} * x + (1 - {a}) * (acc.l + acc.b) AS l,"
            f"   {b} * ({a} * x + (1 - {a}) * (acc.l + acc.b) - acc.l)"
            f"     + (1 - {b}) * acc.b AS b,"
            f"   acc.sse + (x - (acc.l + acc.b)) * (x - (acc.l + acc.b))"
            f"     AS sse))"
        ),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.round("st.l", 4).alias("level"),
        F.round("st.b", 4).alias("trend"),
        F.round(F.col("st.l") + F.col("st.b"), 4).alias("forecast_next"),
        F.round("st.sse", 4).alias("sse"),
    )


_THEILSEN_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(b.n - a.n AS DOUBLE) / (b.t - a.t) AS slope
  FROM daily a JOIN daily b
    ON b.event_type = a.event_type AND b.t > a.t
),
ranked AS (
  SELECT event_type, slope,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope) AS rnk,
         COUNT(*) OVER (PARTITION BY event_type) AS m
  FROM pairs
)
SELECT event_type,
       CAST(MAX(m) AS BIGINT) AS n_pairs,
       ROUND(AVG(CASE WHEN rnk * 2 IN (m, m + 1, m + 2)
                      THEN slope END), 6) AS theil_sen_slope
FROM ranked GROUP BY event_type
"""


@register("ts_theil_sen_slope", oracle=_THEILSEN_ORACLE, category="composite")
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend: the MEDIAN of all pairwise day-to-day
    slopes per series — up to ~29% of days can be corrupted outliers
    before the estimate budges, where `agg_linreg`'s OLS slope chases
    a single bad day.  The median is the mean of the middle one/two
    ranked slopes (`rnk·2 ∈ {{m, m+1, m+2}}` covers both parities
    without a float percentile).

    Determinism: every slope is the same (Δn, Δt) integer pair
    divided once — identical doubles both engines; ranking ties on
    equal slopes don't matter because only slope VALUES at the middle
    ranks enter the average.

    Plan: the corpus collapses to the |types|×|days| frame FIRST; the
    O(days²) pair join (≈435 pairs per series) runs on that tiny
    frame — the quadratic stays inside the pre-aggregated domain,
    never on raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "t"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = daily.select(
        "event_type", F.col("t").alias("ta"), F.col("n").alias("na")
    )
    b = daily.select(
        "event_type", F.col("t").alias("tb"), F.col("n").alias("nb")
    )
    pairs = a.join(b, "event_type").filter(F.col("tb") > F.col("ta")).select(
        "event_type",
        (
            (F.col("nb") - F.col("na")).cast("double")
            / (F.col("tb") - F.col("ta"))
        ).alias("slope"),
    )
    wp = Window.partitionBy("event_type")
    ranked = pairs.withColumn(
        "rnk", F.row_number().over(wp.orderBy("slope"))
    ).withColumn("m", F.count(F.lit(1)).over(wp))
    mid = F.col("rnk") * 2
    return ranked.groupBy("event_type").agg(
        F.max("m").cast("bigint").alias("n_pairs"),
        F.round(
            F.avg(
                F.when(
                    mid.isin(F.col("m"), F.col("m") + 1, F.col("m") + 2),
                    F.col("slope"),
                )
            ),
            6,
        ).alias("theil_sen_slope"),
    )


_SEAS_ANOM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
tr AS (
  SELECT event_type, day, n,
         SUM(n) OVER w AS s7, COUNT(*) OVER w AS c7,
         isodow(day) - 1 AS wd
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
full7 AS (
  SELECT event_type, day, n, wd, 7 * n - s7 AS d7
  FROM tr WHERE c7 = 7
),
seas AS (
  SELECT event_type, wd, CAST(SUM(d7) AS BIGINT) AS sum_d7,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM full7 GROUP BY event_type, wd
),
resid AS (
  SELECT f.event_type, f.day,
         CAST(ROUND((f.n - ROUND((7.0 * f.n - f.d7) / 7, 4)
                     - ROUND(CAST(s.sum_d7 AS DOUBLE) / s.cnt / 7, 4))
                    * 10000) AS BIGINT) AS r
  FROM full7 f JOIN seas s ON s.event_type = f.event_type AND s.wd = f.wd
),
med AS (
  SELECT event_type,
         CAST(MEDIAN(r) AS DOUBLE) AS med_r
  FROM resid GROUP BY event_type
),
mad AS (
  SELECT r.event_type,
         CAST(MEDIAN(ABS(r.r - m.med_r)) AS DOUBLE) AS mad_r
  FROM resid r JOIN med m ON m.event_type = r.event_type
  GROUP BY r.event_type
)
SELECT r.event_type, r.day,
       ROUND(r.r / 10000.0, 4) AS residual,
       ROUND(m.med_r / 10000.0, 4) AS median_residual,
       ROUND(a.mad_r / 10000.0, 4) AS mad_residual,
       ABS(r.r - m.med_r) > 2 * 1.4826 * a.mad_r AS is_anomaly
FROM resid r
JOIN med m ON m.event_type = r.event_type
JOIN mad a ON a.event_type = r.event_type
"""


@register(
    "ts_anomaly_seasonal", oracle=_SEAS_ANOM_ORACLE, category="composite"
)
def ts_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: flag days whose STL-lite
    RESIDUAL (after removing the 7-day trend and weekday seasonal —
    the `ts_stl_decompose` components, recomputed inline) falls
    outside a 2×1.4826·MAD fence of the residual distribution — the
    hybrid that catches a quiet Saturday spike `win_anomaly_zscore`'s
    raw trailing window would normalize away, and ignores the weekly
    rhythm it would false-alarm on.

    Residuals are scaled to exact 1e-4 integers BEFORE the medians,
    so median / MAD / fence compare identical integers on both
    engines (odd/even median midpoints land on exact .5 halves of
    ints — cross-engine safe).

    Every scored day is emitted with its verdict (an anomaly-only
    projection would be vacuously green on calm data — the flag keeps
    the whole residual pipeline inside the comparison).

    Plan: everything after the daily rollup runs on |types|×|days|
    frames; two median passes over ≤30-row groups.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = (
        daily.withColumn("s7", F.sum("n").over(w))
        .withColumn("c7", F.count(F.lit(1)).over(w))
        .withColumn("wd", F.weekday("day"))
    )
    full7 = tr.filter(F.col("c7") == 7).withColumn(
        "d7", 7 * F.col("n") - F.col("s7")
    )
    seas = full7.groupBy("event_type", "wd").agg(
        F.sum("d7").cast("bigint").alias("sum_d7"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    resid = full7.join(F.broadcast(seas), ["event_type", "wd"]).select(
        "event_type",
        "day",
        F.round(
            (
                F.col("n")
                - F.round((7.0 * F.col("n") - F.col("d7")) / 7, 4)
                - F.round(
                    F.col("sum_d7").cast("double") / F.col("cnt") / 7, 4
                )
            )
            * 10000
        )
        .cast("bigint")
        .alias("r"),
    )
    med = resid.groupBy("event_type").agg(
        F.expr("percentile(r, 0.5D)").alias("med_r")
    )
    mad = (
        resid.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(r - med_r), 0.5D)").alias("mad_r"),
            F.max("med_r").alias("med_r"),
        )
    )
    return resid.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        F.round(F.col("r") / 10000.0, 4).alias("residual"),
        F.round(F.col("med_r") / 10000.0, 4).alias("median_residual"),
        F.round(F.col("mad_r") / 10000.0, 4).alias("mad_residual"),
        (
            F.abs(F.col("r") - F.col("med_r"))
            > 2 * 1.4826 * F.col("mad_r")
        ).alias("is_anomaly"),
    )


_ROLLCORR_W = 14  # trailing days per correlation window

_ROLLCORR_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM {EVENTS_REL} e GROUP BY 1
),
roll AS (
  SELECT day,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
         SUM(x * y) OVER w AS sxy,
         SUM(x * x) OVER w AS sxx, SUM(y * y) OVER w AS syy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_ROLLCORR_W - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT day, CAST(n AS BIGINT) AS n_days,
       ROUND((n * sxy - sx * sy)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS rolling_corr
FROM roll WHERE n = {_ROLLCORR_W}
"""


@register("win_rolling_corr", oracle=_ROLLCORR_ORACLE, category="window")
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {_ROLLCORR_W}-day Pearson correlation between the
    click and purchase daily volumes — the co-movement monitor
    (regime shifts show up as the correlation decaying before either
    series alone looks wrong; `ts_cross_correlation` measures the
    global lag structure once, this tracks the relationship through
    time).

    All five windowed moments are exact BIGINT sums over the trailing
    frame; the correlation derives once per row from those integers
    (n·Σxy−ΣxΣy form — cancellation-free at daily-count scale).
    Partial leading windows are excluded, not emitted with fewer
    days.

    Plan: corpus → |days| frame first; the windows are partition-less
    but run over ≤31 rows post-aggregate (the gini caveat).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    w = Window.orderBy("day").rowsBetween(-(_ROLLCORR_W - 1), 0)
    roll = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt((n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
    return roll.filter(n == _ROLLCORR_W).select(
        "day",
        n.cast("bigint").alias("n_days"),
        F.round(num / den, 6).alias("rolling_corr"),
    )


_TTC_ORACLE = f"""
WITH v AS (
  SELECT user_id, event_id AS view_id, ts FROM {EVENTS_REL} e
  WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts FROM {EVENTS_REL} e WHERE event_type = 'purchase'
),
conv AS (
  SELECT v.user_id, v.view_id,
         MIN(epoch_us(p.ts) - epoch_us(v.ts)) AS lag_us
  FROM v JOIN p
    ON p.user_id = v.user_id
   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
  GROUP BY v.user_id, v.view_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted_views,
       CAST(MIN(lag_us) AS BIGINT) AS min_lag_us,
       CAST(FLOOR(CAST(MEDIAN(lag_us) AS DOUBLE)) AS BIGINT)
         AS p50_lag_us,
       CAST(FLOOR(QUANTILE_CONT(lag_us, 0.9)) AS BIGINT) AS p90_lag_us,
       CAST(MAX(lag_us) AS BIGINT) AS max_lag_us
FROM conv
"""


@register("ts_time_to_convert", oracle=_TTC_ORACLE, category="composite")
def ts_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency distribution: for every view that
    converts (first purchase by the same user within 1 h), the exact
    µs lag to that FIRST purchase, reduced to min/p50/p90/max — the
    latency histogram behind attribution-window tuning
    (`win_attribution_touch` assigns credit; this measures how long
    credit takes) and the batch twin of `stream_stream_join`'s pairs.

    Lags are exact integer µs; p50/p90 use continuous interpolation
    on both engines (Spark `percentile` ≡ DuckDB `QUANTILE_CONT`,
    FLOORED to integer µs after interpolation — a bare CAST would
    round on DuckDB but truncate on Spark at fractional midpoints).

    Plan: the time-range join is the bucketed interval shape; the
    per-view MIN is map-side combined; the final reduce is one row.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("vts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    conv = (
        v.join(
            p,
            (F.col("pu") == F.col("vu"))
            & (F.col("pts") >= F.col("vts"))
            & (F.col("pts") <= F.col("vts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy("vu", "view_id")
        .agg(
            F.min(
                F.unix_micros("pts") - F.unix_micros("vts")
            ).alias("lag_us")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted_views"),
        F.min("lag_us").cast("bigint").alias("min_lag_us"),
        F.floor(F.expr("percentile(lag_us, 0.5D)"))
        .cast("bigint")
        .alias("p50_lag_us"),
        F.floor(F.expr("percentile(lag_us, 0.9D)"))
        .cast("bigint")
        .alias("p90_lag_us"),
        F.max("lag_us").cast("bigint").alias("max_lag_us"),
    )


_BINSEG_ORACLE = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM {EVENTS_REL} e GROUP BY 1
),
idx AS (
  SELECT day, n,
         ROW_NUMBER() OVER (ORDER BY day) AS k,
         SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS c
  FROM daily
),
meta AS (
  SELECT CAST(MAX(k) AS BIGINT) AS len, CAST(MAX(c) AS BIGINT) AS tot
  FROM idx
),
l1 AS (
  SELECT i.k AS t1, i.day AS day1,
         ABS(m.len * i.c - i.k * m.tot) AS g1
  FROM idx i, meta m
  WHERE i.k < m.len
  ORDER BY ABS(m.len * i.c - i.k * m.tot) DESC, i.k
  LIMIT 1
),
seg AS (
  SELECT 'left' AS side, CAST(1 AS BIGINT) AS a, l1.t1 AS b FROM l1
  UNION ALL
  SELECT 'right', l1.t1 + 1, m.len FROM l1, meta m
),
l2 AS (
  SELECT s.side, s.a, s.b, i.k, i.day,
         ABS((s.b - s.a + 1)
             * (i.c - COALESCE(p.c, 0))
             - (i.k - s.a + 1)
               * (bc.c - COALESCE(p.c, 0))) AS g,
         ROW_NUMBER() OVER (
           PARTITION BY s.side
           ORDER BY ABS((s.b - s.a + 1) * (i.c - COALESCE(p.c, 0))
                        - (i.k - s.a + 1)
                          * (bc.c - COALESCE(p.c, 0))) DESC, i.k) AS rn
  FROM seg s
  JOIN idx i ON i.k >= s.a AND i.k < s.b
  LEFT JOIN idx p ON p.k = s.a - 1
  JOIN idx bc ON bc.k = s.b
  WHERE s.b - s.a + 1 >= 4
)
SELECT CAST(1 AS BIGINT) AS level, 'all' AS segment,
       day1 AS change_day, CAST(g1 AS BIGINT) AS g_stat
FROM l1
UNION ALL
SELECT CAST(2 AS BIGINT), side, day, CAST(g AS BIGINT)
FROM l2 WHERE rn = 1
"""


@register("ts_changepoint_binseg", oracle=_BINSEG_ORACLE, category="composite")
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint detection (2 levels): the
    level-1 CUSUM argmax splits the daily series, then each half gets
    its own argmax — the standard recursion that finds MULTIPLE mean
    shifts where `ts_cusum_changepoint` stops at one.  The statistic
    stays in scaled-integer space (len·C_k − k·C_total per segment,
    with segment cumsums derived by subtracting the prefix boundary —
    no per-segment rescan), so argmax ties break identically.

    Plan: the day frame is built once; level 2's per-segment cumsum
    is algebra on the SAME frame joined to two boundary rows — the
    recursion never re-aggregates the corpus (at depth d it is d
    window passes over |days| rows).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wk = Window.orderBy("day")
    idx = daily.select(
        "day",
        "n",
        F.row_number().over(wk).alias("k"),
        F.sum("n").over(wk.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "c"
        ),
    ).localCheckpoint(eager=False)
    [meta] = idx.agg(
        F.max("k").cast("bigint").alias("len"),
        F.max("c").cast("bigint").alias("tot"),
    ).collect()
    ln, tot = meta["len"], meta["tot"]
    l1 = (
        idx.filter(F.col("k") < ln)
        .withColumn("g1", F.abs(ln * F.col("c") - F.col("k") * tot))
        .orderBy(F.col("g1").desc(), "k")
        .limit(1)
        .select(
            F.col("k").alias("t1"), F.col("day").alias("day1"), "g1"
        )
    )
    [t1row] = l1.collect()
    t1 = t1row["t1"]
    segs = [("left", 1, t1), ("right", t1 + 1, ln)]
    seg_df = idx.sparkSession.createDataFrame(
        [s for s in segs if s[2] - s[1] + 1 >= 4],
        "side string, a long, b long",
    )
    p = idx.select(F.col("k").alias("pk"), F.col("c").alias("pc"))
    bc = idx.select(F.col("k").alias("bk"), F.col("c").alias("bc"))
    l2 = (
        F.broadcast(seg_df)
        .join(idx, (F.col("k") >= F.col("a")) & (F.col("k") < F.col("b")))
        .join(p, F.col("pk") == F.col("a") - 1, "left")
        .join(bc, F.col("bk") == F.col("b"))
        .withColumn(
            "g",
            F.abs(
                (F.col("b") - F.col("a") + 1)
                * (F.col("c") - F.coalesce(F.col("pc"), F.lit(0)))
                - (F.col("k") - F.col("a") + 1)
                * (F.col("bc") - F.coalesce(F.col("pc"), F.lit(0)))
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("side").orderBy(F.col("g").desc(), "k")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    out1 = l1.select(
        F.lit(1).cast("bigint").alias("level"),
        F.lit("all").alias("segment"),
        F.col("day1").alias("change_day"),
        F.col("g1").cast("bigint").alias("g_stat"),
    )
    out2 = l2.select(
        F.lit(2).cast("bigint").alias("level"),
        F.col("side").alias("segment"),
        F.col("day").alias("change_day"),
        F.col("g").cast("bigint").alias("g_stat"),
    )
    return out1.unionAll(out2)


# --- event burstiness (Fano factor + gap CV) ------------------------
_BURST_ORACLE = """
WITH per_min AS (
  SELECT event_type, DATE_TRUNC('minute', ts) AS m,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
),
fano AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS active_minutes,
         (SUM(n * n) / COUNT(*) - POWER(SUM(n) / COUNT(*), 2))
           / (SUM(n) / COUNT(*)) AS fano_raw
  FROM per_min GROUP BY event_type
),
gaps AS (
  SELECT event_type,
         EPOCH(ts - LAG(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)) AS gap
  FROM events
),
gapstats AS (
  SELECT event_type,
         SUM(gap) / COUNT(gap) AS mean_gap,
         SQRT(SUM(gap * gap) / COUNT(gap)
              - POWER(SUM(gap) / COUNT(gap), 2)) AS sd_gap
  FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
)
SELECT f.event_type, f.active_minutes,
       ROUND(f.fano_raw, 6) AS fano_factor,
       ROUND(g.sd_gap / g.mean_gap, 6) AS gap_cv,
       ROUND((g.sd_gap - g.mean_gap) / (g.sd_gap + g.mean_gap), 6)
         AS burstiness_b
FROM fano f JOIN gapstats g ON g.event_type = f.event_type
"""


@register("ts_burstiness", oracle=_BURST_ORACLE, category="timeseries")
def ts_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile per event_type — three standard diagnostics
    that separate Poisson-like traffic from bursty arrivals: the Fano
    factor of per-minute counts (variance/mean; 1 = Poisson, >1 =
    clustered), the coefficient of variation of inter-event gaps, and
    Goh-Barabási burstiness B = (σ−μ)/(σ+μ) ∈ (−1, 1).  What a
    rate-limiter or capacity plan (`ts_rate_limiter_sim`,
    `ts_concurrency_sweep`) needs to know about the arrival process
    before trusting mean-rate math.

    Plan: the Fano leg is one map-side-combined (type, minute) count
    then per-type sufficient statistics; the gap leg is one
    type-partitioned LAG window (the sessionize exchange) feeding the
    same one-pass moment algebra.  Population variance from (Σx, Σx²)
    — no second scan; both legs shuffle on event_type only.
    """
    ev = load_table(spark, sf_dir, "events")
    per_min = ev.groupBy(
        "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    fano = per_min.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_minutes"),
        (
            (
                F.sum(F.col("n") * F.col("n")) / F.count(F.lit(1))
                - F.pow(F.sum("n") / F.count(F.lit(1)), 2)
            )
            / (F.sum("n") / F.count(F.lit(1)))
        ).alias("fano_raw"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ep = F.col("ts").cast("double")  # epoch seconds incl. fraction
    gaps = ev.select(
        "event_type",
        (ep - F.lag(ep).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    gapstats = gaps.groupBy("event_type").agg(
        (F.sum("gap") / F.count("gap")).alias("mean_gap"),
        F.sqrt(
            F.sum(F.col("gap") * F.col("gap")) / F.count("gap")
            - F.pow(F.sum("gap") / F.count("gap"), 2)
        ).alias("sd_gap"),
    )
    return fano.join(gapstats, "event_type").select(
        "event_type",
        "active_minutes",
        F.round("fano_raw", 6).alias("fano_factor"),
        F.round(F.col("sd_gap") / F.col("mean_gap"), 6).alias("gap_cv"),
        F.round(
            (F.col("sd_gap") - F.col("mean_gap"))
            / (F.col("sd_gap") + F.col("mean_gap")),
            6,
        ).alias("burstiness_b"),
    )


# --- fixed-harmonic periodogram -------------------------------------
_PGRAM_N = 28   # first 28 days: integer harmonics, k=4 is exactly weekly
_PGRAM_K = 7    # harmonics 1..7

_PGRAM_ORACLE = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, EXTRACT(day FROM ts) AS d,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events
  WHERE EXTRACT(day FROM ts) <= {_PGRAM_N}
  GROUP BY 1, 2
),
centered AS MATERIALIZED (
  SELECT event_type, d,
         n - AVG(n) OVER (PARTITION BY event_type) AS x
  FROM daily
),
harm AS (
  SELECT c.event_type, k.k,
         SUM(c.x * COS(2 * PI() * k.k * (c.d - 1) / {_PGRAM_N})) AS re,
         SUM(c.x * SIN(2 * PI() * k.k * (c.d - 1) / {_PGRAM_N})) AS im
  FROM centered c
  CROSS JOIN (SELECT UNNEST(range(1, {_PGRAM_K} + 1)) AS k) k
  GROUP BY c.event_type, k.k
)
SELECT event_type, CAST(k AS BIGINT) AS harmonic,
       ROUND((re * re + im * im) * 2 / {_PGRAM_N}, 4) AS power,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY re * re + im * im DESC, k)
            AS BIGINT) AS power_rank
FROM harm
"""


@register("ts_periodogram", oracle=_PGRAM_ORACLE, category="timeseries")
def ts_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-harmonic DFT periodogram of the daily event-count series
    per event_type — the frequency-domain complement to
    `ts_seasonality_profile`'s autocorrelation view: the first
    {_PGRAM_N} days give integer harmonics (k=4 is exactly weekly),
    the series is mean-centered, and each harmonic reports its power
    2|X_k|²/N with a per-type power rank — the dominant-period finder
    a seasonality-aware forecaster (`ts_forecast_snaive`,
    `ts_holt_linear`) keys off.  Fixed k (not FFT) keeps the work a
    closed-form aggregate both engines compute identically.

    Plan: the daily roll-up is one map-side-combined count to
    |types|×{_PGRAM_N} rows; centering is a window on that tiny
    frame; harmonics explode ×{_PGRAM_K} (still catalog-sized) and
    reduce in one aggregate.  The corpus is scanned once; everything
    downstream is O(types × N × K) — bounded by the calendar, not
    data.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.dayofmonth("ts") <= _PGRAM_N
    )
    daily = ev.groupBy(
        "event_type", F.dayofmonth("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    centered = daily.select(
        "event_type",
        "d",
        (
            F.col("n")
            - F.avg("n").over(Window.partitionBy("event_type"))
        ).alias("x"),
    )
    ks = spark.range(1, _PGRAM_K + 1).select(
        F.col("id").cast("int").alias("k")
    )
    ang = (
        2.0
        * 3.141592653589793
        * F.col("k")
        * (F.col("d") - 1)
        / _PGRAM_N
    )
    harm = (
        centered.crossJoin(F.broadcast(ks))
        .groupBy("event_type", "k")
        .agg(
            F.sum(F.col("x") * F.cos(ang)).alias("re"),
            F.sum(F.col("x") * F.sin(ang)).alias("im"),
        )
    )
    p = F.col("re") * F.col("re") + F.col("im") * F.col("im")
    wr = Window.partitionBy("event_type").orderBy(p.desc(), "k")
    return harm.select(
        "event_type",
        F.col("k").cast("bigint").alias("harmonic"),
        F.round(p * 2 / _PGRAM_N, 4).alias("power"),
        F.row_number().over(wr).cast("bigint").alias("power_rank"),
    )


# ------------------------------------------------ Hurst exponent (R/S)
_HURST_BLOCKS = (8, 16, 32, 64)  # block lengths, hours


_HURST_ORACLE = f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {EVENTS_REL} e GROUP BY 1
),
dense AS (
  SELECT UNNEST(generate_series(
           0,
           (SELECT CAST(date_diff('hour', MIN(h), MAX(h)) AS BIGINT)
            FROM hourly))) AS i
),
idx AS (
  SELECT d.i, COALESCE(hy.cnt, 0) AS cnt
  FROM dense d
  LEFT JOIN (SELECT CAST(date_diff('hour',
                                   (SELECT MIN(h) FROM hourly), h)
                      AS BIGINT) AS i, cnt
             FROM hourly) hy USING (i)
),
blk AS (
  SELECT u.n, i // u.n AS b, i, cnt,
         COUNT(*) OVER w AS k,
         SUM(cnt) OVER w AS sx,
         SUM(cnt * cnt) OVER w AS sxx,
         SUM(cnt) OVER (PARTITION BY u.n, i // u.n ORDER BY i) AS rsum,
         ROW_NUMBER() OVER (PARTITION BY u.n, i // u.n ORDER BY i) AS j
  FROM idx CROSS JOIN (SELECT UNNEST([{', '.join(map(str, _HURST_BLOCKS))}]) AS n) u
  WINDOW w AS (PARTITION BY u.n, i // u.n)
),
rs AS (
  SELECT n, b,
         MAX(rsum - j * CAST(sx AS DOUBLE) / k)
           - MIN(rsum - j * CAST(sx AS DOUBLE) / k) AS r,
         SQRT((MAX(sxx) - CAST(MAX(sx) AS DOUBLE) * MAX(sx) / MAX(k))
              / MAX(k)) AS s
  FROM blk WHERE k = n
  GROUP BY n, b
),
pern AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks, AVG(r / s) AS avg_rs
  FROM rs WHERE s > 0 GROUP BY n
),
fit AS (
  SELECT (COUNT(*) * SUM(LOG2(CAST(n AS DOUBLE)) * LOG2(avg_rs))
            - SUM(LOG2(CAST(n AS DOUBLE))) * SUM(LOG2(avg_rs)))
         / NULLIF(
             COUNT(*) * SUM(LOG2(CAST(n AS DOUBLE)) * LOG2(CAST(n AS DOUBLE)))
               - SUM(LOG2(CAST(n AS DOUBLE))) * SUM(LOG2(CAST(n AS DOUBLE))),
             0)
           AS hurst
  FROM pern
)
SELECT CAST(n AS BIGINT) AS block_len, n_blocks,
       ROUND(avg_rs, 6) AS avg_rs,
       ROUND(fit.hurst, 6) AS hurst
FROM pern CROSS JOIN fit
ORDER BY block_len
"""


@register("ts_hurst_exponent", oracle=_HURST_ORACLE, category="timeseries")
def ts_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly event-count series by classic
    rescaled-range (R/S) analysis: split the series into blocks of
    {_HURST_BLOCKS} hours, per block take R = range of the cumulative
    mean-deviation walk and S = population stddev, average R/S per
    block length, and fit H = slope of log2(avg R/S) on log2(n).
    H > 0.5 is long-range dependence (bursts cluster — provision for
    correlated load), H ~ 0.5 is memoryless; the capacity-planning
    companion to `ts_burstiness`'s single-scale Fano factor.

    Determinism: every moment is an EXACT bigint sum (counts, squared
    counts, running sums); the only divisions are one exact-sum/k per
    block, so both engines compute bit-identical R and S before the
    single 6dp rounding.

    Plan: one corpus exchange to the |hours| frame (calendar-bounded),
    densified against a generated hour spine (a missing hour is a real
    zero, so sparse corpora still have gap-free blocks), a 4-way
    block-length explode, ONE (n, block)-keyed exchange shared by both
    window specs and the per-block reduce, then a 4-row fit broadcast
    back.  Nothing data-sized survives the first aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    h0 = hourly.agg(
        F.min("h").alias("h0"),
        (
            (F.unix_timestamp(F.max("h")) - F.unix_timestamp(F.min("h")))
            / 3600
        )
        .cast("bigint")
        .alias("span"),
    )
    # dense hour calendar: a missing hour is a REAL zero in the count
    # series, not an absent sample (sparse low-SF data would otherwise
    # leave no gap-free block at the larger lengths)
    dense = h0.select(
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("span"))).alias(
            "i"
        )
    )
    present = hourly.crossJoin(F.broadcast(h0)).select(
        ((F.unix_timestamp("h") - F.unix_timestamp("h0")) / 3600)
        .cast("bigint")
        .alias("i"),
        "cnt",
    )
    # both sides are |hours| rows (calendar-bounded) — broadcast the
    # present-hours side onto the generated spine
    idx = dense.join(F.broadcast(present), "i", "left").select(
        "i", F.coalesce("cnt", F.lit(0).cast("bigint")).alias("cnt")
    )
    blk = idx.withColumn(
        "n", F.explode(F.array(*[F.lit(x) for x in _HURST_BLOCKS]))
    ).withColumn("b", (F.col("i") / F.col("n")).cast("bigint"))
    w_full = Window.partitionBy("n", "b")
    w_ord = w_full.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    stats = blk.select(
        "n",
        "b",
        F.count(F.lit(1)).over(w_full).alias("k"),
        F.sum("cnt").over(w_full).alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w_full).alias("sxx"),
        F.sum("cnt").over(w_ord).alias("rsum"),
        F.row_number().over(w_full.orderBy("i")).alias("j"),
    ).filter(F.col("k") == F.col("n"))
    cum = F.col("rsum") - F.col("j") * F.col("sx").cast("double") / F.col("k")
    rs = stats.groupBy("n", "b").agg(
        (F.max(cum) - F.min(cum)).alias("r"),
        F.sqrt(
            (
                F.max("sxx")
                - F.max("sx").cast("double") * F.max("sx") / F.max("k")
            )
            / F.max("k")
        ).alias("s"),
    )
    pern = (
        rs.filter(F.col("s") > 0)
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.avg(F.col("r") / F.col("s")).alias("avg_rs"),
        )
    )
    ln = F.log2(F.col("n").cast("double"))
    ly = F.log2("avg_rs")
    fit = pern.agg(
        (
            (F.count(F.lit(1)) * F.sum(ln * ly) - F.sum(ln) * F.sum(ly))
            / F.nullif(
                F.count(F.lit(1)) * F.sum(ln * ln) - F.sum(ln) * F.sum(ln),
                F.lit(0.0),
            )
        ).alias("hurst")
    )
    return (
        pern.crossJoin(F.broadcast(fit))
        .select(
            F.col("n").cast("bigint").alias("block_len"),
            "n_blocks",
            F.round("avg_rs", 6).alias("avg_rs"),
            F.round("hurst", 6).alias("hurst"),
        )
        .orderBy("block_len")
    )


# ------------------------------------------- Granger causality (1 lag)
_GRANGER_X, _GRANGER_Y = "view", "purchase"
_GRANGER_F_CRIT = 3.92  # F(0.95; 1, ~120)


_GRANGER_ORACLE = f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(SUM(CASE WHEN event_type = '{_GRANGER_X}' THEN 1 ELSE 0 END)
              AS BIGINT) AS nx,
         CAST(SUM(CASE WHEN event_type = '{_GRANGER_Y}' THEN 1 ELSE 0 END)
              AS BIGINT) AS ny
  FROM {EVENTS_REL} e GROUP BY 1
),
lagged AS (
  SELECT t.ny AS y, p.ny AS w, p.nx AS x
  FROM daily t JOIN daily p ON p.d = t.d - 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(w) AS BIGINT) AS sw,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(w * w) AS BIGINT) AS sww,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(w * y) AS BIGINT) AS swy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(w * x) AS BIGINT) AS swx
  FROM lagged
),
cen AS (
  SELECT n,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
         CAST(sww AS DOUBLE) - CAST(sw AS DOUBLE) * sw / n AS cww,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS cxx,
         CAST(swy AS DOUBLE) - CAST(sw AS DOUBLE) * sy / n AS cwy,
         CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS cxy,
         CAST(swx AS DOUBLE) - CAST(sw AS DOUBLE) * sx / n AS cwx
  FROM mom
),
fit AS (
  SELECT n,
         cyy - cwy * cwy / cww AS rss_r,
         cyy - ((cxx * cwy - cwx * cxy) / (cww * cxx - cwx * cwx)) * cwy
             - ((cww * cxy - cwx * cwy) / (cww * cxx - cwx * cwx)) * cxy
           AS rss_u,
         (cww * cxy - cwx * cwy) / (cww * cxx - cwx * cwx) AS coef_x_lag
  FROM cen
)
SELECT n,
       ROUND(rss_r, 4) AS rss_restricted,
       ROUND(rss_u, 4) AS rss_unrestricted,
       ROUND(coef_x_lag, 6) AS coef_x_lag,
       ROUND((rss_r - rss_u) / (rss_u / (n - 3)), 4) AS f_stat,
       (rss_r - rss_u) / (rss_u / (n - 3)) > {_GRANGER_F_CRIT}
         AS granger_significant_95
FROM fit
"""


@register("ts_granger_1lag", oracle=_GRANGER_ORACLE, category="timeseries")
def ts_granger_1lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality test (one lag): does yesterday's
    '{_GRANGER_X}' count improve today's '{_GRANGER_Y}' forecast
    beyond yesterday's own count?  Nested-OLS F-test: restricted
    y_t ~ y_(t-1) vs unrestricted y_t ~ y_(t-1) + x_(t-1), F =
    (RSS_r − RSS_u)/(RSS_u/(n−3)) against F(1, n−3) ≈
    {_GRANGER_F_CRIT}. The companion to `ts_cross_correlation`: xcorr
    says the series co-move, Granger says the lead adds predictive
    information.

    Both regressions solve in CLOSED FORM from ten exact-BIGINT
    moments (the 2-regressor normal equations via centered
    cross-moments — no iterative fit), accumulated in ONE pass over
    the |days|-row daily pivot; the lag join is a |days| broadcast
    self-join. Doubles appear only after the integer moments, in
    identical expression order on both engines.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("d")
    ).agg(
        F.sum(F.when(F.col("event_type") == _GRANGER_X, 1).otherwise(0))
        .cast("bigint")
        .alias("nx"),
        F.sum(F.when(F.col("event_type") == _GRANGER_Y, 1).otherwise(0))
        .cast("bigint")
        .alias("ny"),
    ).localCheckpoint(eager=False)
    p = daily.select(
        F.col("d").alias("dp"),
        F.col("ny").alias("w"),
        F.col("nx").alias("x"),
    )
    lagged = daily.join(
        F.broadcast(p), F.col("dp") == F.date_sub(F.col("d"), 1)
    ).select(F.col("ny").alias("y"), "w", "x")
    mom = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sww"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("w") * F.col("y")).cast("bigint").alias("swy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("w") * F.col("x")).cast("bigint").alias("swx"),
    )
    cen = mom.select(
        "n",
        (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("sww").cast("double") - F.col("sw").cast("double") * F.col("sw") / F.col("n")).alias("cww"),
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("cxx"),
        (F.col("swy").cast("double") - F.col("sw").cast("double") * F.col("sy") / F.col("n")).alias("cwy"),
        (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")).alias("cxy"),
        (F.col("swx").cast("double") - F.col("sw").cast("double") * F.col("sx") / F.col("n")).alias("cwx"),
    )
    det = F.col("cww") * F.col("cxx") - F.col("cwx") * F.col("cwx")
    b1 = (F.col("cxx") * F.col("cwy") - F.col("cwx") * F.col("cxy")) / det
    b2 = (F.col("cww") * F.col("cxy") - F.col("cwx") * F.col("cwy")) / det
    fit = cen.select(
        "n",
        (F.col("cyy") - F.col("cwy") * F.col("cwy") / F.col("cww")).alias("rss_r"),
        (F.col("cyy") - b1 * F.col("cwy") - b2 * F.col("cxy")).alias("rss_u"),
        b2.alias("coef_x_lag"),
    )
    f_stat = (F.col("rss_r") - F.col("rss_u")) / (
        F.col("rss_u") / (F.col("n") - 3)
    )
    return fit.select(
        "n",
        F.round("rss_r", 4).alias("rss_restricted"),
        F.round("rss_u", 4).alias("rss_unrestricted"),
        F.round("coef_x_lag", 6).alias("coef_x_lag"),
        F.round(f_stat, 4).alias("f_stat"),
        (f_stat > _GRANGER_F_CRIT).alias("granger_significant_95"),
    )
