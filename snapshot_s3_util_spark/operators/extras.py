"""Additional relational coverage: pivot, distribution windows,
ordered string aggregation, multi-join composite (TPC-H Q5 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table, on_scratch
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import EVENTS_REL



@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 4) AS qty_O,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 4) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="agg",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): explicit value list keeps the plan a single
    two-phase aggregate (unlisted values would need a distinct pre-pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return p.select(
        "l_returnflag",
        F.coalesce(F.col("O_qty"), F.lit(0.0)).alias("qty_O"),
        F.coalesce(F.col("F_qty"), F.lit(0.0)).alias("qty_F"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_O"),
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_F"),
    )


@register(
    "win_distribution",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(PERCENT_RANK() OVER (PARTITION BY event_type
                 ORDER BY value ASC NULLS LAST, event_id), 6)
             AS pct_rank,
           ROUND(CUME_DIST() OVER (PARTITION BY event_type
                 ORDER BY value ASC NULLS LAST, event_id), 6)
             AS cume,
           NTILE(10) OVER (PARTITION BY event_type
                 ORDER BY value ASC NULLS LAST, event_id) AS decile
    FROM {EVENTS_REL} e
    """,
    category="window",
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile.

    NULL values rank LAST, pinned explicitly in both engines (Spark's
    ASC default is NULLS FIRST, DuckDB's is NULLS LAST): a row with no
    observed value keeps its row (per-row decile assignment must not
    drop records) but sits past every observed value.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "agg_collect_ordered",
    oracle="""
    SELECT c_nationkey,
           -- COALESCE to '': Spark's concat_ws skips NULL segments and
           -- yields '' for an all-NULL group, where STRING_AGG yields
           -- NULL; '' ("no segments") is the pinned shared semantics.
           COALESCE(STRING_AGG(c_mktsegment, ','
                               ORDER BY c_mktsegment, c_custkey), '')
             AS segments,
           ARRAY_TO_STRING(LIST(c_custkey ORDER BY c_custkey)[1:5], ',') AS first_keys
    FROM customer
    GROUP BY c_nationkey
    """,
    category="agg",
)
def agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collection aggregates (string_agg / array_agg).

    `collect_list` order is partition-dependent — ALWAYS sort the
    collected structs before use (SURVEY §7 determinism rule).
    """
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.concat_ws(
            ",",
            F.expr(
                "transform(array_sort(collect_list(struct(c_mktsegment, c_custkey))),"
                " s -> s.c_mktsegment)"
            ),
        ).alias("segments"),
        # array_join-serialized: raw arrays crash the driver's canonicalizer
        F.array_join(
            F.slice(F.sort_array(F.collect_list("c_custkey")), 1, 5), ","
        ).alias("first_keys"),
    )


_SALT_BUCKETS = 8


@register(
    "agg_salted_skew",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(MAX(value), 6) AS max_value
    FROM {EVENTS_REL} e
    GROUP BY event_type
    """,
    category="agg",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys (SCALE.md recipe).

    `event_type` has 5 values over the whole table — the textbook hot
    key. Phase 1 aggregates on (key, salt) spreading each hot key over
    {_SALT_BUCKETS} reducers; phase 2 merges the salted partials. The
    result is identical to a plain GROUP BY (the oracle), but no single
    reducer ever sees a full key's rows. Salt = pmod(event_id, S):
    deterministic, uniform, and droppable before phase 2.
    """
    ev = load_table(spark, sf_dir, "events")
    phase1 = (
        ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(_SALT_BUCKETS)))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum("value").alias("ps"),
            F.max("value").alias("pm"),
        )
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.round(F.sum("ps"), 4).alias("sum_value"),
        F.round(F.max("pm"), 6).alias("max_value"),
    )


_Q5_REGION = "ASIA"
_Q5_LO, _Q5_HI = "1996-01-01 00:00:00", "1998-01-01 00:00:00"


@register(
    "join_5way_region",
    oracle=f"""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = '{_Q5_REGION}'
      AND o_orderdate >= TIMESTAMP '{_Q5_LO}'
      AND o_orderdate <  TIMESTAMP '{_Q5_HI}'
    GROUP BY n_name
    """,
    category="composite",
)
def join_5way_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape: 6-table join with a local-supplier predicate.

    Join graph: the two fact-side joins (orders⋈lineitem on orderkey)
    shuffle; customer/supplier/nation/region all broadcast. The
    c_nationkey = s_nationkey conjunct rides the supplier join as a
    residual. The classic join-reordering stress test — at 100 TB, CBO
    stats put the region filter's selectivity first.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_Q5_LO).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q5_HI).cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == _Q5_REGION)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "agg_hll_sketch_union",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS within_tol
    FROM {EVENTS_REL} e
    GROUP BY event_type
    """,
    category="agg",
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable DataSketches HLL: per-day sketches unioned across days.

    The pattern that replaces COUNT(DISTINCT) at 100 TB: each
    day/partition builds a constant-size `hll_sketch_agg` sketch ONCE at
    ingest; any later rollup (per week, per source, all-time) is a cheap
    `hll_union_agg` over kilobyte-sized sketch blobs instead of a
    re-scan of raw data — distinct-counting becomes re-aggregable the
    way SUM is. Checked with the tolerance-verdict contract
    (`agg_approx_distinct`): DuckDB has no bit-identical sketch, so the
    oracle pins the exact count and the claim |est-exact|/exact <= 5%.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias("est_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_days",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_tol"),
        )
    )


_HLL_RUN_SPLIT = "2024-01-16"  # run 1 = days before, run 2 = days at/after


@register(
    "agg_hll_sketch_persist",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_sketches,
           TRUE AS within_tol
    FROM {EVENTS_REL} e
    GROUP BY event_type
    """,
    category="agg",
)
@on_scratch
def agg_hll_sketch_persist(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """PERSISTED-sketch re-aggregability: per-day HLL sketch BYTES are
    written to parquet by two separate \"ingest runs\" (days before /
    at-after {_HLL_RUN_SPLIT}), read back cold, and `hll_union_agg`-
    merged across runs — the restart-survival contract
    `agg_hll_sketch_union` only exercises in-memory.  This is the shape
    a 100 TB incremental pipeline actually uses: each ingest job emits
    kilobyte sketch rows once; any later rollup (all-time distincts
    here) unions blobs from MANY historical runs without re-scanning
    raw data, so distinct-counting is re-aggregable across job
    boundaries the way SUM is.

    Verified with the tolerance-verdict contract (`agg_approx_distinct`
    / `agg_hll_sketch_union`): DuckDB has no bit-identical sketch, so
    the oracle pins the exact distinct count, the sketch-row count
    (= distinct days, since the runs partition days), and the claim
    |est − exact| / exact <= 5%.

    Plan: two narrow groupBy(event_type, day) sketch builds + parquet
    writes; the merge reads only (event_type, sketch) columns back and
    exchanges |event_types| x |days| kilobyte rows — never raw events.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    split = F.lit(_HLL_RUN_SPLIT).cast("date")
    for run, pred in (
        ("run1", F.col("day") < split),
        ("run2", F.col("day") >= split),
    ):
        (
            ev.filter(pred)
            .groupBy("event_type", "day")
            .agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
            .write.mode("overwrite")
            .parquet(f"{out}/{run}")
        )
    back = spark.read.parquet(f"{out}/run1", f"{out}/run2")
    merged = back.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias(
            "est_users"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n_sketches"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        merged.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_sketches",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_tol"),
        )
    )


_JOIN_SALT = 8


@register(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    category="join",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted shuffle join: the skew recipe when BOTH sides are too big
    to broadcast and AQE's skew split can't help (one logical key's rows
    must still meet).

    Round-14 revision, forced by the repo's own instrument: the r13
    SKEW.md row measured the original BLANKET recipe (every orders row
    replicated x{_JOIN_SALT}) at a 2.16x hot-key ratio and a 3.6x
    uniform premium — refuting its "expected ~flat" mechanism claim,
    because replicating the ENTIRE dimension side multiplies the
    shuffle for the 99.99% of keys that were never hot. The fix ports
    `_smj_detect_hot` (operators/joins.py) — a deterministic sampled
    per-key count whose fair-share bar bounds the hot list to
    <= partitions/alpha keys, a driver-safe collect: only HOT
    lineitem rows take a salt in [0, {_JOIN_SALT}) hashed from
    non-key columns, only hot-key orders rows replicate
    {_JOIN_SALT} ways, and the cold bulk of both sides pays zero
    replication. The join key becomes (key, salt), spreading one hot
    orderkey's rows over {_JOIN_SALT} reducers. Result is provably
    identical to the plain join (the oracle IS the plain join) for
    ANY hot list, including the empty one. Completes the skew pair
    with `agg_salted_skew`; SKEW.md records the measured
    blanket-vs-selective comparison and SCALE.md documents when to
    prefer AQE's runtime skew-join split.
    """
    from snapshot_s3_util_spark.operators.joins import _smj_detect_hot

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return _salted_priority_join(li, orders, _smj_detect_hot(spark, li))


def _salted_priority_join(
    li: DataFrame, orders: DataFrame, hot_keys: list
) -> DataFrame:
    """Stage 2 of `join_salted_skew`: the selective (key, salt) join
    and priority rollup, parameterized on the hot list so tests can
    plant a hot key and assert the compound-key plan directly. With
    an EMPTY hot list Catalyst constant-folds the salt columns to
    literal 0 and the plan degenerates to the base shuffle join —
    the uniform-data fast path is the optimizer's, not a branch."""
    li_hot = (
        F.col("l_orderkey").isin(hot_keys) if hot_keys else F.lit(False)
    )
    li = li.withColumn(
        # hash of two columns, not l_linenumber alone: linenumber is
        # 1..7, so pmod of it would leave salt bucket 0 forever empty.
        "l_salt",
        F.when(
            li_hot,
            F.pmod(F.hash("l_linenumber", "l_partkey"), F.lit(_JOIN_SALT)),
        ).otherwise(F.lit(0)),
    )
    o_hot = (
        F.col("o_orderkey").isin(hot_keys) if hot_keys else F.lit(False)
    )
    orders = orders.withColumn(
        "o_salt",
        F.explode(
            F.when(
                o_hot, F.sequence(F.lit(0), F.lit(_JOIN_SALT - 1))
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    return (
        li.join(
            orders,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_salt") == F.col("o_salt")),
            "inner",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


_TOPK_SKETCH_K = 5
_TOPK_SKETCH_CAP = 100_000  # >> vocabulary, so counts are exact here

_TOPK_SKETCH_ORACLE = f"""
SELECT CAST(rank AS BIGINT) AS rank, item, CAST(cnt AS BIGINT) AS cnt
FROM (
  SELECT t AS item, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rank
  FROM (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents)
  GROUP BY t)
WHERE rank <= {_TOPK_SKETCH_K}
"""


@register("agg_approx_topk", oracle=_TOPK_SKETCH_ORACLE, category="agg")
def agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch: corpus-wide top-{_TOPK_SKETCH_K} tokens
    via `approx_top_k` instead of explode → groupBy(vocabulary) → sort.

    The sketch is a bounded-memory summary built per partition and
    MERGED (one shuffle of sketch blobs, like the HLL op) — the exact
    plan shuffles one row per distinct token and then global-sorts
    them; at web-corpus vocabulary sizes that is a multi-TB exchange
    for a 5-row answer.  Capacity {_TOPK_SKETCH_CAP} exceeds this
    corpus's vocabulary, so reported counts are exact and the top-k
    (distinct counts, checked in tests) is deterministic — the oracle
    states it with an exact GROUP BY.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("t"))
    sk = toks.agg(
        F.expr(
            f"approx_top_k(t, {_TOPK_SKETCH_K}, {_TOPK_SKETCH_CAP})"
        ).alias("tk")
    )
    return sk.select(
        F.posexplode("tk").alias("pos", "entry")
    ).select(
        (F.col("pos") + 1).cast("bigint").alias("rank"),
        F.col("entry.item").alias("item"),
        F.col("entry.count").cast("bigint").alias("cnt"),
    )


_HIST_LO, _HIST_HI, _HIST_BINS = 0.0, 500.0, 20

_HIST_ORACLE = f"""
SELECT event_type,
       CAST(LEAST(FLOOR((value - {_HIST_LO})
                        / (({_HIST_HI} - {_HIST_LO}) / {_HIST_BINS})),
                  {_HIST_BINS} - 1) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(value), 6) AS lo,
       ROUND(MAX(value), 6) AS hi
FROM {EVENTS_REL} e
GROUP BY 1, 2
"""


@register("agg_histogram", oracle=_HIST_ORACLE, category="agg")
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-grid histogram per group — the distribution-profiling agg
    a quality dashboard runs over every numeric column.

    Bin = floor((v - lo) / width) clamped to the last bin (identical
    integer arithmetic both engines — Spark's `width_bucket` has no
    DuckDB twin, so the portable formula IS the contract).  A
    two-phase aggregate on (group, bin): the shuffle carries ≤
    |groups|×|bins| rows regardless of input size — histograms are the
    textbook map-side-combine win.
    """
    ev = load_table(spark, sf_dir, "events")
    width = (_HIST_HI - _HIST_LO) / _HIST_BINS
    bin_col = F.least(
        F.floor((F.col("value") - _HIST_LO) / width),
        F.lit(_HIST_BINS - 1),
    ).cast("bigint")
    return ev.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


_CMS_D = 4       # sketch depth (independent hash rows)
_CMS_W = 512     # sketch width (counters per row)
_CMS_PROBE_MOD = 13  # probe keys: user_id % _CMS_PROBE_MOD == 0

# Shared md5 bucket idiom (Spark `conv` == DuckDB '0x' cast), so both
# engines build bit-identical sketches and the estimate is deterministic.
_CMS_BUCKET_SPARK = (
    "cast(conv(substring(md5(concat(cast(i AS string), ':', "
    f"cast(user_id AS string))), 1, 8), 16, 10) AS bigint) % {_CMS_W}"
)
_CMS_BUCKET_DUCK = (
    "CAST(('0x' || SUBSTR(MD5(CAST(i AS VARCHAR) || ':' || "
    f"CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % {_CMS_W}"
)

_CMS_ORACLE = f"""
WITH ev AS (SELECT user_id FROM events),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_total FROM ev),
cells AS (
  SELECT user_id, r.i AS i, {_CMS_BUCKET_DUCK} AS b
  FROM ev, range({_CMS_D}) r(i)
),
sketch AS (
  SELECT i, b, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY i, b
),
truth AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_cnt
  FROM ev WHERE user_id % {_CMS_PROBE_MOD} = 0 GROUP BY user_id
),
probe_cells AS (
  SELECT t.user_id, r.i AS i, {_CMS_BUCKET_DUCK} AS b
  FROM (SELECT user_id FROM truth) t, range({_CMS_D}) r(i)
),
est AS (
  SELECT p.user_id, MIN(s.c) AS cms_est
  FROM probe_cells p JOIN sketch s ON s.i = p.i AND s.b = p.b
  GROUP BY p.user_id
)
SELECT t.user_id, t.true_cnt, e.cms_est,
       e.cms_est >= t.true_cnt AS overestimates,
       e.cms_est <= t.true_cnt
         + CEIL(2.718281828459045 * n.n_total / {_CMS_W}) AS within_bound
FROM truth t JOIN est e ON e.user_id = t.user_id, n
"""


@register("agg_count_min_sketch", oracle=_CMS_ORACLE, category="agg")
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch: point-frequency estimates from a bounded
    counter table, checked against exact counts.

    A hand-rolled portable CMS (depth {_CMS_D} x width {_CMS_W}; the
    md5 bucket idiom is shared with the oracle, so both engines build
    the SAME sketch and the estimate deterministically equals DuckDB's).
    Why this beats exact GROUP BY at 100 TB: after the map-side partial
    aggregate the shuffle carries AT MOST d*w = {_CMS_D * _CMS_W} rows
    per map partition regardless of input size or key cardinality — a
    heavy-hitter frequency service over billions of keys shuffles
    kilobytes. Probe keys (user_id % {_CMS_PROBE_MOD} == 0) are looked
    up by joining their d cells against the sketch and taking the
    row-wise MIN; the output also states the CMS contract per key:
    `overestimates` (est >= true, always) and `within_bound`
    (est <= true + ceil(e/w * N), the standard (eps, delta) guarantee).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    n = ev.agg(F.count(F.lit(1)).cast("double").alias("n_total"))
    cells = ev.select(
        "user_id", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("i")
    ).select("user_id", "i", F.expr(_CMS_BUCKET_SPARK).alias("b"))
    sketch = cells.groupBy("i", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    truth = (
        ev.filter(F.col("user_id") % _CMS_PROBE_MOD == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_cnt"))
    )
    probe_cells = truth.select(
        "user_id", F.explode(F.expr(f"sequence(0, {_CMS_D - 1})")).alias("i")
    ).select("user_id", "i", F.expr(_CMS_BUCKET_SPARK).alias("b"))
    est = (
        probe_cells.join(F.broadcast(sketch), ["i", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    return (
        truth.join(est, "user_id")
        .crossJoin(F.broadcast(n))
        .select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("true_cnt")).alias("overestimates"),
            (
                F.col("cms_est")
                <= F.col("true_cnt")
                + F.ceil(F.lit(2.718281828459045) * F.col("n_total") / _CMS_W)
            ).alias("within_bound"),
        )
    )


_SAMPLE_K = 5  # sample size per group

_SAMPLE_ORACLE = f"""
SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id
FROM (
  SELECT event_type, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY MD5(CAST(event_id AS VARCHAR)), event_id)
           AS rnk
  FROM events
)
WHERE rnk <= {_SAMPLE_K}
"""


@register("agg_sample_bottomk", oracle=_SAMPLE_ORACLE, category="agg")
def agg_sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sampling via bottom-k hash order — the
    re-runnable replacement for reservoir sampling.

    Ranking rows by md5(event_id) is a uniform random permutation that
    is a PURE FUNCTION of the data: re-runs, retries and backfills
    draw the SAME sample (`TABLESAMPLE`/`rand()` re-draw whenever
    partitioning or task retries change), and the sample of a union is
    computable from per-shard samples — the mergeable-bottom-k
    property that lets 1000 executors each keep k local minima and a
    single reduce pick the global k. The per-group window rides
    WindowGroupLimit (rank <= k prunes inside the sort, never
    materializing a full per-group ordering). The md5 order is shared
    with the oracle, so the "random" sample is bit-reproducible.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= _SAMPLE_K)
        .select("event_type", "rnk", "event_id")
    )


_KMV_K = 64
_KMV_DEN = float(16 ** 12)  # 48-bit md5 prefix -> exact double fraction
_KMV_TOL = 0.38             # ~3/sqrt(K-1)

_KMV_U_DUCK = (
    "CAST(('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)"
    f" / {_KMV_DEN}"
)

_KMV_ORACLE = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (SELECT event_type, user_id, {_KMV_U_DUCK} AS u FROM du),
mins AS (
  SELECT * FROM (
    SELECT h.*, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY u, user_id) AS rn
    FROM h)
  WHERE rn <= {_KMV_K}
),
per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM du GROUP BY event_type
),
sk AS (
  SELECT event_type, COUNT(*) AS n_minima, MAX(u) AS u_k
  FROM mins GROUP BY event_type
),
grp AS (
  SELECT p.event_type AS grp, p.n_exact,
         CASE WHEN s.n_minima < {_KMV_K} THEN CAST(s.n_minima AS DOUBLE)
              ELSE {_KMV_K - 1}.0 / s.u_k END AS est
  FROM per p JOIN sk s USING (event_type)
),
gu AS (SELECT DISTINCT user_id, u FROM mins),
gm AS (
  SELECT * FROM (
    SELECT gu.*, ROW_NUMBER() OVER (ORDER BY u, user_id) AS rn FROM gu)
  WHERE rn <= {_KMV_K}
),
alln AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM du),
allr AS (
  SELECT 'ALL' AS grp, a.n_exact,
         CASE WHEN (SELECT COUNT(*) FROM gm) < {_KMV_K}
              THEN CAST((SELECT COUNT(*) FROM gm) AS DOUBLE)
              ELSE {_KMV_K - 1}.0 / (SELECT MAX(u) FROM gm) END AS est
  FROM alln a
),
u AS (SELECT * FROM grp UNION ALL SELECT * FROM allr)
SELECT grp, n_exact, ROUND(est, 6) AS kmv_est,
       ROUND(ABS(est - n_exact) / n_exact, 6) AS rel_err,
       ABS(est - n_exact) / n_exact <= {_KMV_TOL} AS within_tol
FROM u
"""


@register("agg_kmv_distinct", oracle=_KMV_ORACLE, category="agg")
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch with exact audit —
    the mergeable bottom-k alternative to HLL
    (`agg_hll_sketch_union` uses Spark's native sketch; this one is
    hash-portable, so DuckDB reproduces the estimate bit-for-bit).

    Each key hashes to an exact 48-bit md5 fraction u ∈ (0,1); a
    group's k-th smallest u estimates distinct = (k-1)/u_k. The per-
    group bottom-k rides WindowGroupLimit (bounded state, never a full
    sort), and the 'ALL' row demonstrates the property that matters at
    100 TB: per-group sketches MERGE — the global k minima are found
    inside the union of per-group minima (≤ |groups|·k rows), so
    re-aggregating to any coarser grouping never rescans data. Groups
    with fewer than k distinct keys report exactly. `rel_err` and
    `within_tol` (≤ {_KMV_TOL}, ~3σ for k={_KMV_K}) audit the estimate
    against the exact count on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = du.withColumn(
        "u",
        F.expr(
            "cast(conv(substring(md5(cast(user_id AS string)), 1, 12), 16, 10)"
            f" AS bigint) / {_KMV_DEN}"
        ),
    )
    wk = Window.partitionBy("event_type").orderBy("u", "user_id")
    mins = h.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= _KMV_K
    )
    per = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    sk = mins.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_minima"), F.max("u").alias("u_k")
    )
    est_col = F.when(
        F.col("n_minima") < _KMV_K, F.col("n_minima").cast("double")
    ).otherwise(F.lit(float(_KMV_K - 1)) / F.col("u_k"))
    grp = (
        per.join(sk, "event_type")
        .select(F.col("event_type").alias("grp"), "n_exact", est_col.alias("est"))
    )
    gu = mins.select("user_id", "u").distinct()
    gm = gu.withColumn(
        "rn", F.row_number().over(Window.orderBy("u", "user_id"))
    ).filter(F.col("rn") <= _KMV_K)
    gsk = gm.agg(F.count(F.lit(1)).alias("n_minima"), F.max("u").alias("u_k"))
    alln = du.agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    allr = (
        alln.crossJoin(F.broadcast(gsk))
        .select(F.lit("ALL").alias("grp"), "n_exact", est_col.alias("est"))
    )
    out = grp.unionByName(allr)
    rel = F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact")
    return out.select(
        "grp",
        "n_exact",
        F.round("est", 6).alias("kmv_est"),
        F.round(rel, 6).alias("rel_err"),
        (rel <= _KMV_TOL).alias("within_tol"),
    )


@register(
    "agg_unpivot",
    oracle="""
    SELECT l_returnflag, measure, ROUND(SUM(v), 4) AS sum_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT l_returnflag, 'quantity' AS measure, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    GROUP BY l_returnflag, measure
    """,
    category="agg",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long, the inverse of `agg_pivot`) + aggregate:
    melt three measure columns into (measure, value) rows and
    summarize per (returnflag, measure).

    Uses the native `DataFrame.unpivot` (Expand node) — one pass over
    the scan emitting 3 rows per input row BEFORE the aggregate's
    map-side combine, so the shuffle still carries only
    |groups| × |measures| partial rows, not the melted stream. This is
    the long-format gateway every metrics store / ML feature pipeline
    needs; a UNION ALL of N per-measure scans would read the table N
    times, the Expand reads it once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_discount"
    ).unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure_col",
        valueColumnName="v",
    )
    measure = (
        F.when(F.col("measure_col") == "l_quantity", "quantity")
        .when(F.col("measure_col") == "l_extendedprice", "extendedprice")
        .otherwise("discount")
    )
    return (
        melted.select("l_returnflag", measure.alias("measure"), "v")
        .groupBy("l_returnflag", "measure")
        .agg(
            F.round(F.sum("v"), 4).alias("sum_value"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


_KMVI_TOL = 0.5  # intersection error compounds two sketches

_KMVI_ORACLE = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (SELECT event_type, user_id, {_KMV_U_DUCK} AS u FROM du),
mins AS (
  SELECT * FROM (
    SELECT h.*, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY u, user_id) AS rn
    FROM h)
  WHERE rn <= {_KMV_K}
),
sk AS (
  SELECT event_type, COUNT(*) AS n_minima, MAX(u) AS u_k
  FROM mins GROUP BY event_type
),
th AS (
  SELECT event_type,
         CASE WHEN n_minima < {_KMV_K} THEN 1.0 ELSE u_k END AS theta
  FROM sk
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         LEAST(ta.theta, tb.theta) AS theta
  FROM th ta JOIN th tb ON ta.event_type < tb.event_type
  JOIN sk a ON a.event_type = ta.event_type
  JOIN sk b ON b.event_type = tb.event_type
),
commons AS (
  SELECT p.type_a, p.type_b, p.theta,
         COUNT(*) FILTER (ma.u < p.theta) AS n_common
  FROM pairs p
  JOIN mins ma ON ma.event_type = p.type_a
  JOIN mins mb ON mb.event_type = p.type_b AND mb.user_id = ma.user_id
  GROUP BY p.type_a, p.type_b, p.theta
),
est AS (
  SELECT p.type_a, p.type_b,
         COALESCE(c.n_common, 0) / p.theta AS est_inter
  FROM pairs p
  LEFT JOIN commons c ON c.type_a = p.type_a AND c.type_b = p.type_b
),
exact AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT e.type_a, e.type_b, x.n_exact,
       ROUND(e.est_inter, 6) AS est_inter,
       ROUND(ABS(e.est_inter - x.n_exact) / x.n_exact, 6) AS rel_err,
       ABS(e.est_inter - x.n_exact) / x.n_exact <= {_KMVI_TOL} AS within_tol
FROM est e JOIN exact x ON x.type_a = e.type_a AND x.type_b = e.type_b
"""


@register("agg_kmv_intersect", oracle=_KMVI_ORACLE, category="agg")
def agg_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET INTERSECTION (theta-sketch style) over the KMV
    minima: for every event-type pair, estimate the shared distinct
    user count as |{{common sketch entries below theta}}| / theta with
    theta = min of the pair's sketch thresholds — the mergeable-sketch
    answer to "audience overlap" that never rescans data.  The exact
    intersection rides along as the audit column; `within_tol` states
    the accuracy contract (intersection error compounds two sketches,
    hence the looser {_KMVI_TOL} bound vs `agg_kmv_distinct`).

    Plan: ONE corpus pass builds the per-type bottom-K sketches
    (WindowGroupLimit, same shape as `agg_kmv_distinct`); everything
    pairwise happens on the |types| x K sketch rows — at 100 TB the
    pair algebra costs nothing, which is the reason sketch set-ops
    exist.  The exact-audit join is the only data-sized pairwise work
    and exists purely to ground the estimate in tests.
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    u = F.expr(
        "cast(conv(substring(md5(cast(user_id AS string)), 1, 12), 16, 10)"
        f" AS bigint) / {_KMV_DEN}"
    )
    h = du.select("event_type", "user_id", u.alias("u"))
    w = Window.partitionBy("event_type").orderBy("u", "user_id")
    mins = h.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    ).localCheckpoint(eager=False)
    sk = mins.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_minima"), F.max("u").alias("u_k")
    )
    th = sk.select(
        "event_type",
        F.when(F.col("n_minima") < _KMV_K, F.lit(1.0))
        .otherwise(F.col("u_k"))
        .alias("theta"),
    )
    ta = th.select(F.col("event_type").alias("type_a"), F.col("theta").alias("th_a"))
    tb = th.select(F.col("event_type").alias("type_b"), F.col("theta").alias("th_b"))
    pairs = ta.join(tb, F.col("type_a") < F.col("type_b")).select(
        "type_a", "type_b", F.least("th_a", "th_b").alias("theta")
    )
    ma = mins.select(F.col("event_type").alias("type_a"), "user_id", "u")
    mb = mins.select(
        F.col("event_type").alias("mb_type"), F.col("user_id").alias("uid_b")
    )
    commons = (
        pairs.join(F.broadcast(ma), "type_a")
        .join(
            F.broadcast(mb),
            (F.col("type_b") == F.col("mb_type"))
            & (F.col("user_id") == F.col("uid_b")),
        )
        .filter(F.col("u") < F.col("theta"))
        .groupBy("type_a", "type_b", "theta")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    est = pairs.join(commons.drop("theta"), ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        (F.coalesce("n_common", F.lit(0)) / F.col("theta")).alias("est_inter"),
    )
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), F.col("user_id").alias("uid"))
    exact = (
        a.join(b, (F.col("user_id") == F.col("uid")) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return est.join(exact, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "n_exact",
        F.round("est_inter", 6).alias("est_inter"),
        F.round(F.abs(F.col("est_inter") - F.col("n_exact")) / F.col("n_exact"), 6).alias(
            "rel_err"
        ),
        (
            F.abs(F.col("est_inter") - F.col("n_exact")) / F.col("n_exact")
            <= _KMVI_TOL
        ).alias("within_tol"),
    )


_MB_ORACLE = """
WITH basket AS (
  SELECT user_id, list_sort(LIST(DISTINCT event_type)) AS items
  FROM events GROUP BY user_id
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM basket),
singles AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
  FROM (SELECT UNNEST(items) AS item FROM basket) GROUP BY item
),
pairs AS (
  SELECT items[a.i + 1] AS type_a, items[b.i + 1] AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM basket,
       UNNEST(range(LEN(items))) AS a(i),
       UNNEST(range(LEN(items))) AS b(i)
  WHERE a.i < b.i
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       ROUND(CAST(p.n_ab AS DOUBLE) / n.n_users, 6) AS support,
       ROUND(CAST(p.n_ab AS DOUBLE) / sa.n_item, 6) AS conf_a_to_b,
       ROUND(CAST(p.n_ab AS DOUBLE) / sb.n_item, 6) AS conf_b_to_a,
       ROUND(CAST(p.n_ab AS DOUBLE) * n.n_users / (sa.n_item * sb.n_item), 6)
         AS lift
FROM pairs p
JOIN singles sa ON sa.item = p.type_a
JOIN singles sb ON sb.item = p.type_b
CROSS JOIN n
"""


@register("agg_market_basket", oracle=_MB_ORACLE, category="agg")
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over per-user event-type baskets: pair
    support, both conditional confidences, and lift for every
    co-occurring pair — the market-basket readout ("users who view
    also purchase?") with exact integer counts under the ratios.

    Plan: ONE user exchange builds the distinct-item basket
    (`collect_set`, bounded by the item catalog); pair generation is
    a doc-local combination explode over the sorted basket array —
    never a corpus self-join on user_id, which is the naive rewrite
    that shuffles the fact table twice and explodes on hot users.
    Pair/single counts are map-side combined; the final ratio join
    runs on |items|² rows.  At 100 TB with a LARGE item catalog the
    basket array bound breaks and you shard pairs by prefix — the
    same Σbucket² discipline as the LSH self-joins.
    """
    e = load_table(spark, sf_dir, "events")
    basket = e.groupBy("user_id").agg(
        F.expr("array_sort(collect_set(event_type))").alias("items")
    ).localCheckpoint(eager=False)
    n_users_df = basket.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    singles = (
        basket.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_item"))
    )
    pairs = (
        basket.select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (x, i) ->"
                    " transform(slice(items, i + 2, size(items)),"
                    " y -> struct(x AS type_a, y AS type_b))))"
                )
            ).alias("p")
        )
        .select("p.type_a", "p.type_b")
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    sa = singles.select(
        F.col("item").alias("type_a"), F.col("n_item").alias("n_a")
    )
    sb = singles.select(
        F.col("item").alias("type_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users_df))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n_users"), 6).alias(
                "support"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("n_b"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
