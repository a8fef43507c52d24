"""Join operators — every flavor (SURVEY.md §2B "Joins").

Strategy notes for the 100 TB design point:
- dimension joins broadcast (`F.broadcast`) — zero shuffle of the fact;
- fact-fact equi joins shuffle on the key; AQE converts to broadcast at
  runtime when a side turns out small, and splits skewed partitions;
- the as-of join is the union+window formulation (ONE shuffle on
  user_id) rather than join-then-filter (which materializes every
  (probe, candidate) pair — quadratic per key);
- the interval join keeps its equi key (user_id) so Spark plans a hash
  join with the range as a residual filter, never a nested-loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table, on_scratch
from snapshot_s3_util_spark.params import ANTI_JOIN_CUTOFF
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import EVENTS_REL


@register(
    "join_broadcast",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
    category="join",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-dimension equi join, explicitly broadcast.

    Plan: two BroadcastHashJoins; the customer scan is never shuffled.
    At 100 TB this is the only sane plan for sub-GB dimensions — the
    fact table streams through map-side.
    """
    c, n, r = (load_table(spark, sf_dir, t) for t in ("customer", "nation", "region"))
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@register(
    "join_inner_hash",
    oracle="""
    SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
    FROM customer JOIN orders ON c_custkey = o_custkey
    """,
    category="join",
)
def join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders equi inner join (shuffled hash / AQE-broadcast)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@register(
    "join_sortmerge",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_orderstatus
    """,
    category="join",
)
def join_sortmerge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large ⋈ large: orders ⋈ lineitem as SortMergeJoin (`merge` hint).

    At 100 TB both sides shuffle once on the join key; the downstream
    aggregate reuses that partitioning (no second exchange) because the
    group key is a superset of the join key.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.hint("merge")
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


# Salt width for the skew-safe sort-merge twin. Sized like
# extras._JOIN_SALT (the shuffled-hash salting recipe): wide enough to
# spread a 30%-hot key over most of a 32-slot stage, narrow enough
# that the replicated side stays ~S x |hot keys| rows.
_SMJ_SALT = 8
# Heavy-key detector: a deterministic 1-in-MOD row sample (seeded hash
# of columns uncorrelated with the join key) is aggregated per key; a
# key is HOT when its sampled share would overload one reducer by more
# than ALPHA x the fair share (sampled_total / shuffle partitions);
# ALPHA = 2 flags anything that would double a reducer's load, while
# uniform TPC-H keys (<= 7 lines/order) sit orders of magnitude under
# the bar at every SF, so false positives cost nothing in practice.
# The hot list is therefore <= partitions/ALPHA keys by construction —
# a bounded driver-side collect, like the IVF probe's nprobe list.
# AQE-coalesce note (r13 ADVICE): AQE only ever COALESCES the join to
# fewer reducers than configured (it never adds reducers outside its
# own skew split), so the post-coalesce fair share tot/parts_eff is
# >= tot/parts and the configured-parts bar is the STRICTER of the
# two — any key massive enough to serialize a coalesced reducer is
# necessarily above this bar. The error direction is over-flagging
# small keys when AQE coalesces hard, which is safe: salting is
# output-invariant and a falsely-hot key costs only its own
# S-way dimension-row replication, never a wrong answer.
_SMJ_SAMPLE_MOD = 16
_SMJ_HOT_ALPHA = 2.0


@register(
    "join_sortmerge_skewsafe",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_orderstatus
    """,
    category="join",
)
def join_sortmerge_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`join_sortmerge` with SELECTIVE hot-key salting — the r12
    SKEW.md row measured the base plan at ~2x under a 30%-hot
    l_orderkey because AQE's skew split declines twice over (the hot
    partition sits under the 256 MB threshold, and the downstream
    groupBy reuses the join partitioning, so a split would add an
    exchange). Same oracle as the base op: the rewrite is provably
    output-identical.

    Stage 1 — detect: a deterministic 1-in-{_SMJ_SAMPLE_MOD} row
    sample of lineitem (seeded hash over columns uncorrelated with
    the join key) is counted per orderkey map-side; keys whose
    sampled mass exceeds {_SMJ_HOT_ALPHA}x the per-reducer fair share
    are HOT. The hot list is mathematically <=
    partitions/{_SMJ_HOT_ALPHA} keys, so collecting it is an
    O(partitions) driver step, never corpus-sized.

    Stage 2 — salt only the hot keys: hot lineitem rows take a salt
    in [0, {_SMJ_SALT}) hashed from non-key columns; cold rows keep
    salt 0. Orders rows for hot keys are replicated {_SMJ_SALT} ways
    (explode), cold orders pass through once. The merge join keys on
    (orderkey, salt): a hot key's rows sort across {_SMJ_SALT}
    reducers, while the cold 99.99% of both sides pays ZERO
    replication — the blanket-salting premium (measured 3.6x on
    uniform data when every orders row was replicated) collapses to
    the sampled count's map-side pass. The groupBy that follows
    ships at most {_SMJ_SALT} partial rows per hot group (map-side
    combine on the join's (key, salt) partitioning), so the hot key
    never re-concentrates.

    On a corpus with NO hot keys the plan degenerates to the base
    merge join plus a constant-zero salt column — which is why one
    code path serves every tier. This is the same decide-then-split
    shape AQE's runtime skew join uses; the twin exists for hot keys
    that hide UNDER AQE's byte threshold while still serializing a
    reducer (SKEW.md's join_sortmerge note records the measured
    threshold arithmetic).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return _smj_salted_join(o, li, _smj_detect_hot(spark, li))


def _smj_detect_hot(spark: SparkSession, li: DataFrame) -> list:
    """Stage 1 of `join_sortmerge_skewsafe`: the heavy-key list from a
    deterministic 1-in-_SMJ_SAMPLE_MOD row sample, bounded to <=
    shuffle-partitions / _SMJ_HOT_ALPHA keys by the fair-share bar.
    Exposed so tests can assert detection fires on a planted hot key."""
    # seeded sample hash ≠ salt hash: the same inputs would correlate
    # the sample with salt bucket 0 and undercount every other bucket
    sampled = li.filter(
        F.pmod(F.hash(F.lit("smj-sample"), "l_partkey", "l_linenumber"),
               F.lit(_SMJ_SAMPLE_MOD)) == 0
    )
    per_key = sampled.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        # some platforms set the conf to "auto"; the fair-share bar
        # only needs the right order of magnitude
        parts = 200
    # Known gap (r13 ADVICE, accepted as documented): the bar divides
    # by the CONFIGURED partition count, but AQE usually coalesces the
    # join to fewer reducers, so fair-share per reducer is larger and
    # a key can serialize a coalesced reducer while slipping under
    # this bar.  Consequence is bounded: detection misses degrade to
    # the base (unsalted) merge-join plan — results unchanged, AQE's
    # byte-threshold skew split still applies above 256 MB.  Deriving
    # the bar from post-AQE reducer count needs sampled BYTES (row
    # counts are what we have), so the sharper bar is deferred until a
    # measured miss shows up in SKEW.md.
    tot = per_key.agg(
        F.sum("cnt").alias("tot")
    ).collect()[0]["tot"] or 0
    # bounded collect: at most parts/ALPHA keys can clear the bar
    return [
        r["l_orderkey"]
        for r in per_key.filter(
            F.col("cnt") > F.lit(_SMJ_HOT_ALPHA * tot / parts)
        ).collect()
    ]


def _smj_salted_join(o: DataFrame, li: DataFrame, hot_keys: list) -> DataFrame:
    """Stage 2 of `join_sortmerge_skewsafe`: merge join on
    (orderkey, salt) with only the hot keys salted/replicated."""
    li_hot = (
        F.col("l_orderkey").isin(hot_keys) if hot_keys else F.lit(False)
    )
    li = li.withColumn(
        "l_salt",
        F.when(
            li_hot,
            # hash of two columns, not l_linenumber alone: linenumber
            # is 1..7, so pmod of it would leave salt buckets empty
            F.pmod(F.hash("l_linenumber", "l_partkey"), F.lit(_SMJ_SALT)),
        ).otherwise(F.lit(0)),
    )
    o_hot = (
        F.col("o_orderkey").isin(hot_keys) if hot_keys else F.lit(False)
    )
    o = o.withColumn(
        "o_salt",
        F.explode(
            F.when(
                o_hot, F.sequence(F.lit(0), F.lit(_SMJ_SALT - 1))
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    return (
        o.hint("merge")
        .join(
            li,
            (o.o_orderkey == li.l_orderkey) & (o.o_salt == li.l_salt),
        )
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 150000
    """,
    category="join",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with a join-side residual predicate (null-extension)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 150000)
    return c.join(o, cond, "left").select("c_custkey", "o_orderkey", "o_totalprice")


@register(
    "join_full_outer",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, COUNT(*) AS n_clicks
      FROM {EVENTS_REL} e WHERE event_type = 'click' GROUP BY user_id
    ),
    purchases AS (
      SELECT user_id, COUNT(*) AS n_purchases
      FROM {EVENTS_REL} e WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT user_id, n_clicks, n_purchases
    FROM clicks FULL JOIN purchases USING (user_id)
    """,
    category="join",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on BOTH sides (USING-key coalesce)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return clicks.join(purchases, ["user_id"], "full").select(
        "user_id", "n_clicks", "n_purchases"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    """,
    category="join",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS: customers with at least one large order (left_semi)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '{ANTI_JOIN_CUTOFF} 00:00:00')
    """,
    category="join",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS — the incremental-export primitive (SURVEY §2A A3/A6):
    keys with no activity since the cutoff (nothing new to export for
    them). Every customer has SOME order, so the unfiltered anti-join
    would be empty — the dormancy predicate keeps the checked result
    non-trivial (135 rows at sf0.01).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(ANTI_JOIN_CUTOFF).cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta_band",
    oracle="""
    SELECT p_brand,
           COUNT(*) AS n_matched,
           ROUND(SUM(l_extendedprice), 4) AS sum_price
    FROM lineitem JOIN part
      ON l_partkey = p_partkey
     AND l_extendedprice >= p_retailprice * l_quantity * 0.9
     AND l_extendedprice <= p_retailprice * l_quantity * 1.1
    GROUP BY p_brand
    """,
    category="join",
)
def join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/band join: equi key + price-band residual.

    The equi conjunct keeps this a hash join; the band is evaluated as a
    post-probe filter — never a nested loop.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band = F.col("p_retailprice") * F.col("l_quantity")
    cond = (
        (li.l_partkey == p.p_partkey)
        & (li.l_extendedprice >= band * 0.9)
        & (li.l_extendedprice <= band * 1.1)
    )
    return (
        li.join(p, cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


@register(
    "join_range_interval",
    oracle=f"""
    SELECT s.user_id,
           COUNT(*) AS n_follow_ups,
           MIN(f.ts) AS first_follow_up
    FROM {EVENTS_REL} s
    JOIN {EVENTS_REL} f
      ON s.user_id = f.user_id
     AND f.ts > s.ts
     AND f.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    GROUP BY s.user_id
    """,
    category="join",
)
def join_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: events within (signup_ts, signup_ts + 1h].

    Equi key (user_id) + time-range residual — the funnel-attribution
    shape. Partitioning by user co-locates both sides in one shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
    )
    f_ = ev.select(F.col("user_id").alias("f_user"), F.col("ts").alias("f_ts"))
    cond = (
        (F.col("s_user") == F.col("f_user"))
        & (F.col("f_ts") > F.col("s_ts"))
        & (F.col("f_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        s.join(f_, cond)
        .groupBy(F.col("s_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_follow_ups"),
            F.min("f_ts").alias("first_follow_up"),
        )
    )


@register(
    "join_asof",
    oracle=f"""
    SELECT p.event_id, p.user_id, p.ts, v.ts AS last_view_ts
    FROM (SELECT * FROM {EVENTS_REL} e WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts FROM {EVENTS_REL} e WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    category="join",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest 'view' at-or-before each 'purchase', per user.

    Spark has no native ASOF; the scalable formulation is union + window
    (`last_value(ignorenulls) over (partition by user order by ts)`):
    ONE shuffle on user_id, O(n log n) per partition — versus the naive
    join+rank which materializes every (purchase x earlier-view) pair.
    DuckDB's native ASOF JOIN is the oracle cross-check (SURVEY §4).
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.lit(0).alias("is_probe"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.lit(1).alias("is_probe"),
    )
    # views sort before purchases at equal ts (is_probe asc) => "<=" semantics
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = views.unionByName(purchases).withColumn(
        "last_view_ts", F.last("view_ts", ignorenulls=True).over(w)
    )
    return unioned.filter(F.col("is_probe") == 1).select(
        "event_id", "user_id", "ts", "last_view_ts"
    )


@register(
    "join_cross_limited",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    category="join",
)
def join_cross_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded Cartesian product (region x nation, 125 rows)."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


# ------------------------------------------------ bucketed co-location

_BUCKETS = 8
_bucket_counter = 0


def write_bucketed_tables(spark: SparkSession, sf_dir: str):
    """Write orders + lineitem as bucketed/sorted tables and return
    (orders_df, lineitem_df, drop_fn). Shared by the operator and the
    zero-exchange plan test."""
    global _bucket_counter
    _bucket_counter += 1
    on = f"s3u_bkt_orders_{_bucket_counter}"
    ln = f"s3u_bkt_lineitem_{_bucket_counter}"
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(on)
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(ln)
    )

    def drop() -> None:
        spark.sql(f"DROP TABLE IF EXISTS {on}")
        spark.sql(f"DROP TABLE IF EXISTS {ln}")

    return spark.table(on), spark.table(ln), drop


def bucketed_join_plan(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The co-located join + agg plan over two bucketed tables (lazy,
    so tests can assert it contains ZERO Exchange nodes)."""
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        )
    )


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           COUNT(*) AS n_items,
           ROUND(SUM(l.l_extendedprice), 4) AS sum_price
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
    category="join",
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join: both sides pre-bucketed on
    the join key, so the join AND the per-key aggregate run with ZERO
    exchanges (asserted in tests/test_plans.py).

    This is THE 100 TB fact-fact strategy: pay one bucketed write per
    table at ingest, then every subsequent join/agg on that key is
    shuffle-free — scans report the bucket hash-partitioning and
    Catalyst plans a SortMergeJoin with no Exchange (sortBy also
    removes the per-task sort). The same layout serves any number of
    downstream queries; contrast the per-query shuffle of
    `join_inner_hash`.
    """
    orders, lineitem, drop = write_bucketed_tables(spark, sf_dir)
    try:
        return bucketed_join_plan(orders, lineitem).localCheckpoint(eager=True)
    finally:
        drop()


_BUCKET_US = 3_600_000_000  # 1 h in microseconds == the interval length


@register(
    "join_range_bucketed",
    oracle=f"""
    SELECT s.user_id,
           COUNT(*) AS n_follow_ups,
           MIN(f.ts) AS first_follow_up
    FROM {EVENTS_REL} s
    JOIN {EVENTS_REL} f
      ON s.user_id = f.user_id
     AND f.ts > s.ts
     AND f.ts <= s.ts + INTERVAL 1 HOUR
    WHERE s.event_type = 'signup'
    GROUP BY s.user_id
    """,
    category="join",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via time-bucket decomposition — the 100 TB plan for
    `join_range_interval` when no selective equi key exists (or one
    key's interval list is itself huge).

    Each 1 h probe interval is exploded onto the (at most 2) 1 h epoch
    buckets it can overlap; each follow-up event maps to its single
    bucket. The range condition then rides a plain EQUI join on
    (user_id, bucket) with the exact interval test as a post-probe
    residual — a hash/sort-merge join Catalyst can shuffle-partition,
    instead of the broadcast-nested-loop a pure range predicate forces.
    Bucket width == interval length, so each (probe, event) pair meets
    in EXACTLY one bucket (the event's own) — no dedup pass needed.
    Same oracle as `join_range_interval`: the decomposition is
    result-identical by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr(f"unix_micros(ts) div {_BUCKET_US}")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.explode(
                F.array(bucket, bucket + 1)
            ).alias("bucket"),
        )
    )
    f_ = ev.select(
        F.col("user_id").alias("f_user"),
        F.col("ts").alias("f_ts"),
        bucket.alias("bucket"),
    )
    cond = (
        (F.col("s_user") == F.col("f_user"))
        & (s.bucket == f_.bucket)
        & (F.col("f_ts") > F.col("s_ts"))
        & (F.col("f_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        s.join(f_, cond)
        .groupBy(F.col("s_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_follow_ups"),
            F.min("f_ts").alias("first_follow_up"),
        )
    )


_ASOF_TOLERANCE_MIN = 15


@register(
    "join_asof_tolerance",
    oracle=f"""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN v.ts >= p.ts - INTERVAL {_ASOF_TOLERANCE_MIN} MINUTE
                THEN v.ts END AS last_view_ts,
           (v.ts IS NOT NULL
            AND v.ts < p.ts - INTERVAL {_ASOF_TOLERANCE_MIN} MINUTE)
             AS stale_dropped
    FROM (SELECT * FROM {EVENTS_REL} e WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT user_id, ts FROM {EVENTS_REL} e
                    WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """,
    category="join",
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance: the latest 'view' at or
    before each 'purchase' counts ONLY if it happened within
    _ASOF_TOLERANCE_MIN (15) minutes — older matches are reported as
    dropped-stale, the guard every telemetry/attribution join needs
    (an hours-old reading is not "the current state").

    Same single-shuffle union+running-last plan as `join_asof` — the
    tolerance is a post-window predicate, so bounding the match window
    costs nothing. The oracle is DuckDB's native ASOF JOIN with the
    tolerance applied to its match, pinning both the kept and the
    nulled-out cases.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.lit(0).alias("is_probe"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.lit(1).alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    unioned = views.unionByName(purchases).withColumn(
        "matched_ts", F.last("view_ts", ignorenulls=True).over(w)
    )
    bound = F.col("ts") - F.expr(f"INTERVAL {_ASOF_TOLERANCE_MIN} MINUTES")
    return unioned.filter(F.col("is_probe") == 1).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("matched_ts") >= bound, F.col("matched_ts")).alias(
            "last_view_ts"
        ),
        (
            F.col("matched_ts").isNotNull() & (F.col("matched_ts") < bound)
        ).alias("stale_dropped"),
    )


_OVL_W_US = 3_600_000_000  # bucket width = 1 h in microseconds
_OVL_A_HOURS = 2           # signup interval length
_OVL_B_HOURS = 1           # error interval length

_OVERLAP_ORACLE = f"""
WITH a AS (
  SELECT user_id, ts AS a_ts, ts + INTERVAL {_OVL_A_HOURS} HOUR AS a_e
  FROM {{events_rel}} e WHERE event_type = 'signup'
),
b AS (
  SELECT user_id, ts AS b_ts, ts + INTERVAL {_OVL_B_HOURS} HOUR AS b_e
  FROM {{events_rel}} e WHERE event_type = 'error'
)
SELECT a.user_id, a.a_ts, b.b_ts,
       CAST(epoch_us(LEAST(a.a_e, b.b_e))
            - epoch_us(GREATEST(a.a_ts, b.b_ts)) AS BIGINT) AS overlap_us
FROM a JOIN b ON a.user_id = b.user_id
             AND a.a_ts < b.b_e AND b.b_ts < a.a_e
"""


@register(
    "join_interval_overlap",
    oracle=_OVERLAP_ORACLE.format(events_rel=EVENTS_REL),
    category="join",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join where BOTH sides are interval sets —
    signup activity windows (2 h) against error windows (1 h) per user.

    The general case `join_range_bucketed` doesn't cover: when both
    sides are true intervals, a pair can meet in SEVERAL shared epoch
    buckets, so bucket decomposition needs a dedup rule. The canonical-
    bucket trick keeps it shuffle-free: each side explodes onto every
    1 h bucket its interval touches (<= 3 resp. <= 2 here), the overlap
    test rides the (user, bucket) EQUI join, and a pair is emitted ONLY
    in the bucket containing the overlap's start
    (`bucket == greatest(a_start, b_start) div W`) — exactly one
    surviving copy per pair, no distinct pass, no second shuffle. This
    is the standard 100 TB plan for IP-range joins, ad-attribution
    windows and downtime correlation; a naive range predicate forces a
    BroadcastNestedLoopJoin that cannot shuffle-partition.
    """
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("a_user"),
            F.col("ts").alias("a_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {_OVL_A_HOURS} HOURS")).alias("a_e"),
        )
        .select(
            "a_user",
            "a_ts",
            "a_e",
            F.explode(
                F.expr(
                    f"sequence(unix_micros(a_ts) div {_OVL_W_US}, "
                    f"(unix_micros(a_e) - 1) div {_OVL_W_US})"
                )
            ).alias("bucket"),
        )
    )
    b = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {_OVL_B_HOURS} HOURS")).alias("b_e"),
        )
        .select(
            "b_user",
            "b_ts",
            "b_e",
            F.explode(
                F.expr(
                    f"sequence(unix_micros(b_ts) div {_OVL_W_US}, "
                    f"(unix_micros(b_e) - 1) div {_OVL_W_US})"
                )
            ).alias("bucket"),
        )
    )
    canonical = F.expr(
        f"greatest(unix_micros(a_ts), unix_micros(b_ts)) div {_OVL_W_US}"
    )
    pairs = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (a.bucket == b.bucket)
        & (F.col("a_ts") < F.col("b_e"))
        & (F.col("b_ts") < F.col("a_e")),
    ).filter(a["bucket"] == canonical)
    return pairs.select(
        F.col("a_user").alias("user_id"),
        "a_ts",
        "b_ts",
        (
            F.least(F.expr("unix_micros(a_e)"), F.expr("unix_micros(b_e)"))
            - F.greatest(
                F.expr("unix_micros(a_ts)"), F.expr("unix_micros(b_ts)")
            )
        ).cast("bigint").alias("overlap_us"),
    )


_FUZZY_MAX_DIST = 2


@register(
    "join_fuzzy_levenshtein",
    oracle=f"""
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           a.p_brand AS brand,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
    """,
    category="join",
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-similarity self-join: part-name pairs within edit
    distance {_FUZZY_MAX_DIST}, blocked by brand — entity-resolution /
    catalog-dedup in one EQUI join.

    Edit distance can't be hashed directly, so the join is structured
    as blocking-key equality (p_brand) with `levenshtein` as a
    post-probe RESIDUAL — Catalyst keeps a shuffle-partitionable hash
    join and evaluates the quadratic-cost predicate only INSIDE each
    block (Σ block², never |parts|²). At 100 TB the blocking key is
    the whole game: a brand/category/prefix key bounds block sizes, a
    skewed block salts like any hot join key, and the residual cost
    per pair is the DP table of two ~20-char strings. Levenshtein is
    exact integer — both engines implement the same classic DP, so
    parity is bit-for-bit.
    """
    from snapshot_s3_util_spark.plans.rank import _derive_npart

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_name"
    )
    # r15 (guide §2.5, same diagnosis as join_set_similarity_prefix):
    # the part scan is one small split, so the Σ block² levenshtein
    # probe — ~8M DP evaluations at sf0.1 — ran as a SINGLE task
    # behind the broadcast build (measured 14.2 s warm median on 32
    # cores). Hash-spreading the probe side over the scale-adaptive
    # partition count parallelizes the residual evaluation; the
    # broadcast join is partitioning-agnostic, so results are
    # unchanged. The build side is pinned to `b`: left to size
    # estimates, the planner may broadcast the respread `a` instead and
    # probe with the one-task scan.
    a = p.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
    ).repartition(_derive_npart(p), "part_a")
    b = p.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_brand").alias("brand_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(
            F.broadcast(b),
            (F.col("brand") == F.col("brand_b"))
            & (F.col("part_a") < F.col("part_b")),
        )
        .filter(F.levenshtein("name_a", "name_b") <= _FUZZY_MAX_DIST)
        .select(
            "part_a",
            "part_b",
            "brand",
            F.levenshtein("name_a", "name_b").cast("bigint").alias("dist"),
        )
    )


_NULLSAFE_ORACLE = """
WITH c AS (
  SELECT c_custkey, NULLIF(c_nationkey % 7, 3) AS seg FROM customer
),
dim AS (
  SELECT seg,
         COALESCE('seg-' || CAST(seg AS VARCHAR), 'seg-unknown') AS seg_name
  FROM (SELECT seg
        FROM (SELECT CAST(UNNEST(range(7)) AS BIGINT) AS seg)
        WHERE seg <> 3
        UNION ALL SELECT NULL)
)
SELECT d.seg_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(MIN(c.c_custkey) AS BIGINT) AS min_custkey
FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
GROUP BY d.seg_name
"""


@register("join_null_safe", oracle=_NULLSAFE_ORACLE, category="join")
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): rows
    whose key is NULL match the dimension's NULL row instead of being
    silently dropped — the "unknown bucket" lookup every warehouse
    dimension join needs (plain `=` discards NULL keys, which at 100 TB
    quietly loses whole partitions of unattributed rows).

    NULL segments are derived deterministically with NULLIF so the op
    is non-vacuous at every SF; the dimension enumerates its full
    static domain (segments 0-6 minus the NULLIF'd value, plus the
    NULL "unknown" row), so every fact row finds exactly one match.
    `eqNullSafe` keeps the join an equi-join — Catalyst still plans a
    broadcast hash join on the tiny dimension (NULL hashes like any
    other key value) rather than degrading to a cartesian + filter as
    a raw `t1.k = t2.k OR (t1.k IS NULL AND t2.k IS NULL)` predicate
    would.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 7, F.lit(3)).alias("seg")
    )
    dim = (
        spark.range(7)
        .filter(F.col("id") != 3)
        .select(F.col("id").alias("seg"))
        .unionByName(
            spark.range(1).select(F.lit(None).cast("long").alias("seg"))
        )
        .select(
            "seg",
            F.coalesce(
                F.concat(F.lit("seg-"), F.col("seg").cast("string")),
                F.lit("seg-unknown"),
            ).alias("seg_name"),
        )
    )
    return (
        c.join(F.broadcast(dim), c["seg"].eqNullSafe(dim["seg"]))
        .groupBy("seg_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").cast("bigint").alias("min_custkey"),
        )
    )


_ASOF_NEAREST_ORACLE = f"""
WITH pts AS (
  SELECT NULL::BIGINT AS event_id, user_id, ts, ts AS view_ts,
         0 AS is_probe
  FROM {EVENTS_REL} e WHERE event_type = 'view'
  UNION ALL
  SELECT event_id, user_id, ts, NULL::TIMESTAMP AS view_ts, 1 AS is_probe
  FROM {EVENTS_REL} e WHERE event_type = 'purchase'
),
carried AS (
  SELECT *,
         LAST_VALUE(view_ts IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS prev_view,
         FIRST_VALUE(view_ts IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, is_probe, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS next_view
  FROM pts
)
SELECT event_id, user_id, ts,
       CASE WHEN next_view IS NULL THEN prev_view
            WHEN prev_view IS NULL THEN next_view
            WHEN epoch_us(ts) - epoch_us(prev_view)
                 <= epoch_us(next_view) - epoch_us(ts) THEN prev_view
            ELSE next_view END AS nearest_view_ts,
       CASE WHEN next_view IS NULL THEN 'backward'
            WHEN prev_view IS NULL THEN 'forward'
            WHEN epoch_us(ts) - epoch_us(prev_view)
                 <= epoch_us(next_view) - epoch_us(ts) THEN 'backward'
            ELSE 'forward' END AS direction
FROM carried
WHERE is_probe = 1
  AND (prev_view IS NOT NULL OR next_view IS NOT NULL)
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_ORACLE, category="join")
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction='nearest' (pandas merge_asof's third
    mode): each purchase matches its CLOSEST view in time — behind
    when the preceding view is nearer, ahead when the following one
    is; exact-µs ties resolve backward, matching the plain as-of.

    Same single-exchange shape as `join_asof` and the resample op:
    union the two streams, ONE user_id window pass carrying BOTH the
    running last view (backward candidate) and running first view
    (forward candidate) — `ignorenulls` over the probe/build ordering
    — then an integer-µs argmin picks the winner. No self-join, no
    second shuffle; probes with no view at all drop out (inner-join
    semantics), matching pandas.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        "ts",
        F.col("ts").alias("view_ts"),
        F.lit(0).alias("is_probe"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.lit(1).alias("is_probe"),
    )
    order = [F.asc("ts"), F.asc("is_probe"), F.asc_nulls_last("event_id")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    carried = views.unionByName(purchases).select(
        "*",
        F.last("view_ts", ignorenulls=True).over(wb).alias("prev_view"),
        F.first("view_ts", ignorenulls=True).over(wf).alias("next_view"),
    )
    back_closer = (
        F.unix_micros("ts") - F.unix_micros("prev_view")
    ) <= (F.unix_micros("next_view") - F.unix_micros("ts"))
    pick_back = (
        F.col("next_view").isNull()
        | (F.col("prev_view").isNotNull() & back_closer)
    )
    return (
        carried.filter(F.col("is_probe") == 1)
        .filter(
            F.col("prev_view").isNotNull() | F.col("next_view").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(pick_back, F.col("prev_view"))
            .otherwise(F.col("next_view"))
            .alias("nearest_view_ts"),
            F.when(pick_back, "backward")
            .otherwise("forward")
            .alias("direction"),
        )
    )


_SCD2_ORACLE = f"""
WITH versions AS (
  SELECT user_id, ts AS valid_from, event_id AS version_id,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM {EVENTS_REL} e WHERE event_type = 'signup'
),
facts AS (
  SELECT user_id, event_id, ts, value FROM {EVENTS_REL} e
  WHERE event_type = 'purchase'
),
pit AS (
  SELECT f.user_id, f.event_id, f.value, v.version_id
  FROM facts f
  LEFT JOIN versions v
    ON v.user_id = f.user_id
   AND v.valid_from <= f.ts
   AND (v.valid_to IS NULL OR f.ts < v.valid_to)
)
SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CASE WHEN version_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(COUNT(DISTINCT version_id) AS BIGINT) AS n_versions,
       ROUND(SUM(value), 4) AS sum_value,
       MD5(string_agg(LPAD(CAST(event_id AS STRING), 10, '0') || ':'
                      || COALESCE(CAST(version_id AS STRING), 'none'),
                      ',' ORDER BY event_id)) AS assign_md5
FROM pit GROUP BY 1
"""


@register("join_scd2_pit", oracle=_SCD2_ORACLE, category="join")
def join_scd2_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time join: signup events are type-2 dimension
    versions (valid_from = event ts, valid_to = next version, half-
    open), purchases join the version ACTIVE at their timestamp;
    purchases before a user's first version keep NULL.  The per-bucket
    `assign_md5` fingerprints every (purchase, version) assignment, so
    a single wrong pick anywhere fails the check.

    Plan: implemented WITHOUT a join — versions and facts union into
    one frame and a single user_id window (`last(version, ignorenulls)`
    over rows-unbounded-preceding, ordered ts / kind / event_id with
    versions sorting before same-timestamp facts) carries the active
    version onto every fact row: ONE exchange total, the same
    shuffle-count as `join_asof`.  The oracle runs the textbook
    validity-interval LEFT JOIN instead — two formulations, identical
    assignment.  At 100 TB the union-window form is the one that
    scales: an interval theta-join explodes under skew, the window is
    a partitioned sort.
    """
    e = load_table(spark, sf_dir, "events")
    # One scan, not a per-kind union of two filtered scans: the kind
    # tag derives in the projection, so versions and facts ride the
    # same FileScan with a pushed IN filter.
    tagged = e.filter(F.col("event_type").isin("signup", "purchase")).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "signup", 0).otherwise(1).alias("kind"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        tagged.withColumn(
            "version_id",
            F.last(
                F.when(F.col("kind") == 0, F.col("event_id")), ignorenulls=True
            ).over(w),
        )
        .filter(F.col("kind") == 1)
    )
    pair = F.concat(
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
        F.lit(":"),
        F.coalesce(F.col("version_id").cast("string"), F.lit("none")),
    )
    return assigned.groupBy(
        (F.col("user_id") % 10).cast("bigint").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(F.when(F.col("version_id").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.countDistinct("version_id").cast("bigint").alias("n_versions"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(pair)), ",")
        ).alias("assign_md5"),
    )


_BJ_K = 2          # bloom hash functions (fp = fill^2 ~ 0.3% at sf0.1's fill)
_BJ_M = 1 << 20    # bloom bits (sized for sf0.1's ~30k keys: ~11% fill)
_BJ_PRIORITY = "1-URGENT"

# Kirsch-Mitzenmacher double hashing: ONE md5 per key, positions
# pos_i = (h1 + i*h2) mod M from its two 32-bit halves — the same
# idiom as the minhash family; 4x fewer digests on the fact side.
_BJ_H1_DUCK = "CAST(('0x' || SUBSTR(MD5(CAST({k} AS STRING)), 1, 8)) AS BIGINT)"
_BJ_H2_DUCK = "CAST(('0x' || SUBSTR(MD5(CAST({k} AS STRING)), 9, 8)) AS BIGINT)"

_BLOOM_JOIN_ORACLE = f"""
WITH urgent AS (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '{_BJ_PRIORITY}'
),
bits AS (
  SELECT DISTINCT
         ({_BJ_H1_DUCK.format(k='o_orderkey')}
          + i * {_BJ_H2_DUCK.format(k='o_orderkey')}) % {_BJ_M} AS pos
  FROM urgent, range({_BJ_K}) r(i)
),
probe AS (
  -- collision-safe: EVERY derived position must be set (a key whose
  -- K positions collide still probes the one shared bit, exactly as
  -- the engine's chained per-position semi joins do)
  SELECT l.l_returnflag, l.l_orderkey,
         l.l_extendedprice * (1 - l.l_discount) AS rev
  FROM lineitem l
  WHERE NOT EXISTS (
    SELECT 1 FROM (
      SELECT ({_BJ_H1_DUCK.format(k='l.l_orderkey')}
              + i * {_BJ_H2_DUCK.format(k='l.l_orderkey')}) % {_BJ_M} AS pos
      FROM range({_BJ_K}) r(i)) pp
    WHERE pp.pos NOT IN (SELECT pos FROM bits)
  )
),
joined AS (
  SELECT p.l_returnflag, p.rev,
         (u.o_orderkey IS NOT NULL) AS true_match
  FROM probe p LEFT JOIN urgent u ON u.o_orderkey = p.l_orderkey
)
SELECT l_returnflag AS flag,
       CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN true_match THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_match,
       ROUND(SUM(CASE WHEN true_match THEN rev ELSE 0 END), 4) AS urgent_revenue
FROM joined GROUP BY l_returnflag
"""


@register("join_bloom_prefilter", oracle=_BLOOM_JOIN_ORACLE, category="join")
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join: the {_BJ_PRIORITY} order keys build a
    {_BJ_M}-bit / {_BJ_K}-hash Bloom filter (portable md5 idiom — the
    oracle reproduces the exact bit pattern); lineitem rows probe it
    BEFORE the join, so only bloom-passing rows reach the exchange.
    `n_bloom_pass - n_true_match` per flag is the observable false-
    positive cost, and false negatives are impossible by construction.
    Hashing is Kirsch-Mitzenmacher (one md5 per key, positions
    h1 + i*h2 mod m) — digest cost on the fact side is 1, not K.

    Plan: {_BJ_K} broadcast-hash LEFT SEMI joins against the
    position set (an O(1) hash probe per position — measured faster
    than a broadcast bitmap map/array, whose MapType `element_at` is
    a linear scan per lookup); ONE md5 digest per fact row feeds both
    halves.  Zero fact-side shuffles before the surviving fraction;
    the closing join runs on the reduced stream.  At 100 TB this is
    the runtime-filter pattern (Spark's own bloom runtime filters do
    exactly this, JVM-side and non-portably): the fact-table exchange
    shrinks by the filter's selectivity, which is the entire win.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    urgent = o.filter(F.col("o_orderpriority") == _BJ_PRIORITY).select("o_orderkey")
    bits = (
        urgent.withColumn("dg", F.md5(F.col("o_orderkey").cast("string")))
        .withColumn("h1", F.expr("cast(conv(substring(dg, 1, 8), 16, 10) AS bigint)"))
        .withColumn("h2", F.expr("cast(conv(substring(dg, 9, 8), 16, 10) AS bigint)"))
        .withColumn("i", F.explode(F.array(*[F.lit(i) for i in range(_BJ_K)])))
        .select(((F.col("h1") + F.col("i") * F.col("h2")) % _BJ_M).alias("pos"))
        # lazy: the position set's consumers are the K broadcast builds
        # (AQE-deduplicated to one), whose build job materializes it
        .localCheckpoint(eager=False)
    )
    probe = (
        li.withColumn("dg", F.md5(F.col("l_orderkey").cast("string")))
        .withColumn(
            "bh1", F.expr("cast(conv(substring(dg, 1, 8), 16, 10) AS bigint)")
        )
        .withColumn(
            "bh2", F.expr("cast(conv(substring(dg, 9, 8), 16, 10) AS bigint)")
        )
    )
    for i in range(_BJ_K):
        # r14 optimization pass note: the K broadcasts of `bits` look
        # like K separate builds of the same position set, but AQE's
        # runtime exchange reuse already deduplicates them — verified
        # in the EXECUTED plan (ReusedExchange + shared
        # BroadcastQueryStage, with or without the per-hash rename),
        # so a same-name rewrite was evaluated and rejected as a
        # runtime no-op (walls statistically indistinguishable).
        bi = bits.withColumnRenamed("pos", f"pos{i}")
        probe = probe.join(
            F.broadcast(bi),
            ((F.col("bh1") + F.lit(i) * F.col("bh2")) % _BJ_M) == F.col(f"pos{i}"),
            "semi",
        )
    joined = probe.join(
        F.broadcast(urgent.withColumnRenamed("o_orderkey", "u_key")),
        F.col("l_orderkey") == F.col("u_key"),
        "left",
    )
    return joined.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bloom_pass"),
        F.sum(F.when(F.col("u_key").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_match"),
        F.round(
            F.sum(F.when(F.col("u_key").isNotNull(), F.col("rev")).otherwise(0.0)),
            4,
        ).alias("urgent_revenue"),
    )



@register(
    "join_partition_pruned_dim",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
             AS n_days,
           ROUND(SUM(value), 4) AS sum_value
    FROM {EVENTS_REL} e
    WHERE dayofweek(CAST(date_trunc('day', ts) AS DATE)) IN (0, 6)
    GROUP BY event_type
    """,
    category="join",
)
@on_scratch
def join_partition_pruned_dim(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """Dynamic Partition Pruning end-to-end: a day-partitioned fact
    landing zone joined to an INDEPENDENT calendar dimension filtered
    on an attribute (weekend flag) the fact table cannot derive
    statically — the star-schema pattern where Spark builds the dim's
    day list at runtime and prunes fact partitions with it
    (`dynamicpruning#` subquery in PartitionFilters, plan-asserted in
    tests).

    At 100 TB this is THE star-join mechanic: without DPP the fact
    scan reads every partition and discards 5/7 of the data post-join;
    with it the scan never lists weekday directories.  The dim is
    generated from `sequence()` (a calendar is catalog data); the join
    broadcasts.  DuckDB's dayofweek is 0-Sunday while Spark's is
    1-Sunday — the oracle uses (0, 6) to mean the same Sat/Sun.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    landed = spark.read.parquet(out)
    dim = spark.sql(
        "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-01-30'))"
        " AS day"
    ).withColumn("is_weekend", F.dayofweek("day").isin(1, 7))
    weekend = dim.filter(F.col("is_weekend")).select("day")
    return (
        landed.join(F.broadcast(weekend), "day")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("day").cast("bigint").alias("n_days"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_SSJ_TAU = 0.6      # jaccard threshold
_SSJ_MOD = 4        # deterministic 1-in-4 doc sample (keeps the
                    # oracle's exact quadratic join tractable at sf0.1)

_SSJ_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, list_sort(LIST_DISTINCT(string_split(text, ' '))) AS toks
  FROM documents WHERE doc_id % {_SSJ_MOD} = 0
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         LEN(list_intersect(a.toks, b.toks)) AS inter,
         LEN(a.toks) + LEN(b.toks)
           - LEN(list_intersect(a.toks, b.toks)) AS uni
  FROM docs a JOIN docs b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(inter AS BIGINT) AS n_common,
       ROUND(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
FROM pairs
WHERE inter * 1.0 / uni >= {_SSJ_TAU}
"""


@register("join_set_similarity_prefix", oracle=_SSJ_ORACLE, category="join")
def join_set_similarity_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (all pairs with token-set Jaccard >=
    {_SSJ_TAU}) via PREFIX FILTERING — the database-literature
    algorithm (PPJoin lineage): order every doc's tokens by ascending
    global frequency; two sets can only reach threshold t if they
    share a token in their first |s| - ceil(t*|s|) + 1 rarest tokens,
    so candidate generation joins ONLY on prefix tokens and exact
    Jaccard verifies the survivors.  Complements the PROBABILISTIC
    minhash path with a zero-false-negative exact one.

    Plan: token ordering needs one document-frequency aggregate
    (broadcast back as a rank map would explode; instead tokens sort
    by (df, token) via a join + doc-local re-sort); candidates come
    from the prefix-token equi self-join — work is Σ(prefix-bucket²),
    bounded because prefixes hold each doc's RAREST tokens (hot
    tokens never land in prefixes, the exact opposite of the naive
    token join) — then one exact verify per candidate pair.  At
    100 TB this is the standard exact-dedup join; the {_SSJ_MOD}:1
    doc sample only keeps the ORACLE's quadratic check tractable.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _SSJ_MOD == 0)
        .select(
            "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
        )
    )
    tok = d.select("doc_id", F.explode("toks").alias("t"))
    df_counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # order each doc's tokens rarest-first: join df, sort doc-locally
    ordered = (
        tok.join(df_counts, "t")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, t))), x -> x.t)"
            ).alias("toks"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    # prefix length = sz - ceil(tau * sz) + 1.
    # r15 (guide §2.5): the checkpointed frame is hash-repartitioned to
    # a scale-adaptive partition count BEFORE the quadratic stages —
    # AQE coalesces the tiny |docs|-row aggregate to ONE post-shuffle
    # partition, which serialized the entire Σ(prefix-bucket²)
    # candidate join + exact verify onto a single core (measured: the
    # whole op ran as one 90 s task at sf0.1/local[32]). `_derive_npart`
    # is the rank spine's derivation (cores floor, bytes/256 MB at
    # scale), so the fan-out follows the deployment, not a constant.
    from snapshot_s3_util_spark.plans.rank import _derive_npart

    pref = (
        ordered.select(
            "doc_id",
            "toks",
            "sz",
            F.expr(
                f"slice(toks, 1, CAST(sz AS INT)"
                f" - CAST(ceil({_SSJ_TAU} * sz) AS INT) + 1)"
            ).alias("prefix"),
        )
        .repartition(_derive_npart(ordered), "doc_id")
        # lazy: the first of the two join legs materializes it
        .localCheckpoint(eager=False)
    )
    # r15 (guide §2.3/§8 — decide with small rows, attach the payload
    # once): candidate generation and the distinct used to carry BOTH
    # full token arrays through the prefix join and dedup on
    # (ids, arrays) — hashing and shuffling the heavy payload to make
    # an id-only decision. The join legs now ship (doc_id, sz, pt)
    # only; the arrays re-attach to the DEDUPED pair set via two
    # id-keyed joins back to the checkpointed frame (the minhash
    # est-prefilter pattern, dedup.py `_minhash_cand`).
    pa = pref.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"),
        F.explode("prefix").alias("pt"),
    )
    pb = pref.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"),
        F.explode("prefix").alias("pt"),
    )
    cand = (
        pa.join(pb, "pt")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size filter: |b| >= tau * |a| is necessary for J >= tau
        .filter(
            (F.col("sz_b") >= _SSJ_TAU * F.col("sz_a"))
            & (F.col("sz_a") >= _SSJ_TAU * F.col("sz_b"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = pref.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a")
    )
    tb = pref.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b")
    )
    cand = cand.join(ta, "doc_a").join(tb, "doc_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cand.withColumn("n_common", inter.cast("bigint"))
        .withColumn("uni", uni)
        .filter(F.col("n_common") * 1.0 / F.col("uni") >= _SSJ_TAU)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(F.col("n_common") / F.col("uni"), 6).alias("jaccard"),
        )
    )


# ----------------------------------------- array-membership join
# Funnel-stage dim: stage -> member event types. "click" belongs to
# two stages on purpose — membership joins are many-to-many and the
# op must preserve that.
_STAGE_DIM = (
    ("activation", ("signup",)),
    ("discovery", ("view", "click")),
    ("engagement", ("click", "purchase")),
    ("reliability", ("error",)),
)

_ARRMEM_ORACLE = f"""
WITH dim AS (
  SELECT * FROM (VALUES
    {", ".join(f"('{s}', '{t}')" for s, types in _STAGE_DIM for t in types)}
  ) AS t(stage, event_type)
)
SELECT d.stage,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       ROUND(SUM(e.value), 4) AS sum_value
FROM events e JOIN dim d USING (event_type)
GROUP BY d.stage ORDER BY d.stage
"""


@register("join_array_membership", oracle=_ARRMEM_ORACLE, category="join")
def join_array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-membership join: a funnel-stage dimension whose key is a
    SET of event types (stage -> [types]), joined to the event stream
    by membership. The declarative predicate would be
    `array_contains(d.types, e.event_type)` — which Spark can only
    execute as BroadcastNestedLoopJoin (every event row probes every
    dim row). The engine instead UNNESTS the dim to (stage, type)
    long form first, turning membership into a broadcast hash
    EQUI-join — same semantics (including the many-to-many case:
    'click' sits in two stages and its events count in both), but the
    probe side stays a single hash lookup per row at any scale. The
    dim explode is |stages| x |types| planning rows; the one
    data-sized operation is the final map-side-combined groupBy.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    dim = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("stage"),
                            F.lit(t).alias("event_type"),
                        )
                        for s, types in _STAGE_DIM
                        for t in types
                    ]
                )
            ).alias("x")
        )
        .select("x.*")
    )
    return (
        ev.join(F.broadcast(dim), "event_type")
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("stage")
    )
