"""Aggregation operators (SURVEY.md §2B "Aggregations").

All plans are two-phase HashAggregate (partial map-side combine + final
after a key shuffle) — Catalyst does this automatically for every
`groupBy().agg()` below; at 100 TB the partial aggregation bounds the
shuffle to |groups| x partitions rows, so low-cardinality keys like
(l_returnflag, l_linestatus) shuffle kilobytes regardless of input size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.params import Q1_SHIP_CUTOFF
from snapshot_s3_util_spark.plans.rank import (
    global_order_stats,
    global_row_number,
)
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import EVENTS_REL


_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 4)                                    AS sum_qty,
  ROUND(SUM(l_extendedprice), 4)                               AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)            AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
  ROUND(AVG(l_quantity), 6)                                    AS avg_qty,
  ROUND(AVG(l_extendedprice), 6)                               AS avg_price,
  ROUND(AVG(l_discount), 6)                                    AS avg_disc,
  COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_SHIP_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("agg_hash_groupby", oracle=_Q1_ORACLE, category="agg")
def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (flagship; also `entry()`).

    Plan shape: parquet scan (shipdate predicate pushed to row groups,
    8-column pruned read) -> partial HashAggregate -> exchange on the
    2 grouping keys -> final HashAggregate. Whole-stage codegen spans
    the scan+partial-agg stage.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_SHIP_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM {EVENTS_REL} e
    GROUP BY event_type
    """,
    category="agg",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group.

    Catalyst plans this as Expand + two aggregation phases; the
    distinct-key shuffle is on (event_type, user_id) so cardinality —
    not row count — bounds the exchanged data.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_approx_distinct",
    oracle=f"""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_tol
    FROM {EVENTS_REL} e
    GROUP BY event_type
    """,
    category="agg",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct, checked against the exact count.

    DuckDB has no bit-identical HLL sketch, so the checkable contract is
    the tolerance itself: emit the exact count plus a deterministic
    `within_tol` boolean (|approx - exact| / exact <= 5%; the data is
    fixed and seeded, so the sketch — and the boolean — is stable).
    Oracle emits exact + TRUE. At 100 TB the approx path replaces
    `agg_distinct` wherever ~2% rsd is acceptable — single pass,
    constant memory, no Expand blow-up.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_tol"),
        )
    )


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 4) AS exact_p50,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.95), 4) AS exact_p95,
           TRUE AS within_tol
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="agg",
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass approximate quantiles, checked against the exact ones
    (same tolerance-verdict contract as `agg_approx_distinct`: sketch
    internals differ across engines, the error bound does not).

    `approx_percentile` (KLL/GK-style sketch) is the 100 TB path —
    constant memory, map-side combinable, no per-group value
    materialization; `percentile` provides the in-plan exact reference.
    Emits exact p50/p95 plus a deterministic `within_tol` (both approx
    values within 1% relative error); oracle = exact + TRUE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    agged = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.95D))").alias("ex"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)"
        ).alias("ap"),
    )
    tol = lambda i: (  # noqa: E731
        F.abs(F.col("ap")[i] - F.col("ex")[i]) / F.col("ex")[i] <= 0.01
    )
    return agged.select(
        "l_returnflag",
        F.round(F.col("ex")[0], 4).alias("exact_p50"),
        F.round(F.col("ex")[1], 4).alias("exact_p95"),
        (tol(0) & tol(1)).alias("within_tol"),
    )


_ROLLUP_MEASURES_SQL = """
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           COUNT(*) AS n_rows
"""


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {_ROLLUP_MEASURES_SQL}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    category="agg",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals: (flag, status) -> (flag) -> grand total."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {_ROLLUP_MEASURES_SQL}
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category="agg",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           {_ROLLUP_MEASURES_SQL}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    category="agg",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SQL API — same Catalyst Expand plan)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("li_gsets")
    return spark.sql(f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               {_ROLLUP_MEASURES_SQL}
        FROM li_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
           ROUND(VAR_SAMP(l_quantity), 6)         AS var_qty,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_pq,
           ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS covar_pq,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="agg",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/var/corr/covar/min/max."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("covar_pq"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderpriority,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.9), 6) AS p90,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    category="agg",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles (Spark `percentile` == QUANTILE_CONT).

    Exact percentile requires materializing each group's values — fine
    for bounded group counts; at 100 TB swap in `approx_percentile`
    (t-digest, single pass) when rank error is acceptable.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_mode",
    oracle="""
    SELECT l_returnflag, mode_qty, n_occurrences
    FROM (
      SELECT l_returnflag,
             l_quantity AS mode_qty,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity)
               AS rn
      FROM lineitem
      GROUP BY l_returnflag, l_quantity)
    WHERE rn = 1
    """,
    category="agg",
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a DETERMINISTIC
    lowest-value tiebreak.

    Built-in `mode()` leaves tie order engine-defined, so verified
    output uses the explicit two-phase formulation: count per
    (group, value) — map-side combined, shuffle is |groups x values|,
    never raw rows — then a window keeper over each group's value
    histogram. The same shape computes any "argmax over a
    distribution" (top label, majority vote) at 100 TB: the window
    only ever sees aggregated rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", F.col("l_quantity").alias("mode_qty")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n_occurrences").desc(), F.col("mode_qty").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", "mode_qty", "n_occurrences")
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_CORR_ORACLE = f"""
WITH pairs AS (
{chr(10).join(
    "  SELECT '" + a + "' AS col_a, '" + b + "' AS col_b,"
    " corr(" + a + ", " + b + ") AS c,"
    " CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem"
    + (" UNION ALL" if (a, b) != ("l_discount", "l_tax") else "")
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1:]
)}
)
SELECT col_a, col_b, ROUND(c, 4) AS corr_v, n_rows FROM pairs
"""


@register("agg_corr_matrix", oracle=_CORR_ORACLE, category="aggregate")
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the fact table's
    numeric measures, in long form (col_a, col_b, corr) — the column-
    profiling step a feature-engineering pipeline runs before pruning
    redundant signals.

    All C(4,2)=6 correlations are computed in ONE pass / ONE reduce:
    a single global aggregate whose 6 `corr` expressions share the
    scan (Spark's corr is a streaming one-pass covariance, map-side
    combined) — not 6 scans, and no driver-side Statistics.corr RDD
    detour. Output is rounded to 4 digits on both engines because the
    two accumulate partials in different orders. Scale: the shuffle is
    exactly one row of 6 moment-triples regardless of corpus size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = list(_CORR_COLS)
    row = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.round(F.corr(a, b), 4).alias(f"c_{i}_{j}")
            for i, a in enumerate(cols)
            for j, b in enumerate(cols)
            if i < j
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"c_{i}_{j}").alias("corr_v"),
            )
            for i, a in enumerate(cols)
            for j, b in enumerate(cols)
            if i < j
        ]
    )
    return (
        row.select(F.explode(pairs).alias("p"), "n_rows")
        .select("p.col_a", "p.col_b", "p.corr_v", "n_rows")
    )


_ENTROPY_ORACLE = """
WITH counts AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY source, lang
),
src_p AS (
  SELECT source, c,
         CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY source) AS p
  FROM counts
),
per_source AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         ROUND(-SUM(p * LN(p)), 6) AS lang_entropy
  FROM src_p GROUP BY source
),
marginal AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS c FROM counts GROUP BY lang),
all_p AS (
  SELECT c, CAST(c AS DOUBLE) / SUM(c) OVER () AS p FROM marginal
),
overall AS (
  SELECT 'ALL' AS source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         ROUND(-SUM(p * LN(p)), 6) AS lang_entropy
  FROM all_p
)
SELECT * FROM per_source UNION ALL SELECT * FROM overall
"""


@register("agg_entropy", oracle=_ENTROPY_ORACLE, category="aggregate")
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's language distribution,
    plus the corpus-wide row — the mixture-diversity profile a
    training-data pipeline watches per ingest slice (entropy collapse
    = a source went monolingual / a scraper broke).

    One groupBy builds the (source, lang) contingency counts — the
    ONLY pass over the corpus; both the per-source entropies and the
    'ALL' row are computed from those counts (the marginal is a
    re-aggregation of |sources|x|langs| rows, never a rescan). Window-
    over-aggregate supplies the denominators; the -Σ p ln p fold is
    plain column math. Same merge discipline as `agg_kmv_distinct`:
    the global row derives from per-group state.
    """
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )

    def _entropy(df: DataFrame, key_col) -> DataFrame:
        w = Window.partitionBy("gkey")
        tot = F.sum("c").over(w)
        p = F.col("c").cast("double") / tot
        return (
            df.select(key_col.alias("gkey"), "c")
            .select("gkey", "c", (p * F.log(p)).alias("plp"))
            .groupBy("gkey")
            .agg(
                F.sum("c").cast("bigint").alias("n_docs"),
                F.count(F.lit(1)).alias("n_langs"),
                F.round(-F.sum("plp"), 6).alias("lang_entropy"),
            )
            .select(
                F.col("gkey").alias("source"),
                "n_docs",
                "n_langs",
                "lang_entropy",
            )
        )

    per_source = _entropy(counts, F.col("source"))
    marginal = counts.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    overall = _entropy(marginal, F.lit("ALL"))
    return per_source.unionByName(overall)


# Hours since 2024-01-01 — centering the regressor near the data keeps
# the moment arithmetic (var/covar) away from catastrophic cancellation
# at epoch magnitudes, where the two engines' accumulation orders would
# visibly diverge.
_LINREG_X0 = 1704067200.0 / 3600.0

_LINREG_ORACLE = f"""
WITH x AS (
  SELECT event_type,
         epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000.0 - {_LINREG_X0}
           AS xh,
         value
  FROM {{EVENTS_REL}} e
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(regr_slope(value, xh), 6) AS slope,
       ROUND(regr_intercept(value, xh), 6) AS intercept,
       ROUND(regr_r2(value, xh), 6) AS r2
FROM x GROUP BY event_type
""".format(EVENTS_REL=EVENTS_REL)


@register("agg_linreg", oracle=_LINREG_ORACLE, category="aggregate")
def agg_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend: slope / intercept / R²
    of the metric against time, one line per event_type — drift
    detection as an aggregate (is 'error' value creeping up?), the
    regression cousin of `agg_corr_matrix`.

    Native `regr_*` aggregates: one-pass streaming moments, map-side
    combined, JVM codegen — never a collect-and-fit. The regressor is
    hours since a fixed recent origin, NOT raw epoch (centering keeps
    var/covar cancellation-free so both engines' accumulation orders
    agree to 6 digits). Shuffle = |groups| moment tuples.
    """
    ev = load_table(spark, sf_dir, "events")
    xh = (F.unix_micros("ts") / 3.6e9) - _LINREG_X0
    return (
        ev.select("event_type", xh.alias("xh"), "value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.regr_slope("value", "xh"), 6).alias("slope"),
            F.round(F.regr_intercept("value", "xh"), 6).alias("intercept"),
            F.round(F.regr_r2("value", "xh"), 6).alias("r2"),
        )
    )


_BITMAP_WORD = 32  # ids per word; shifts stay within signed-64 range

_BITMAP_ORACLE = f"""
WITH words AS (
  SELECT event_type,
         user_id // {_BITMAP_WORD} AS word_idx,
         BIT_OR(1::BIGINT << CAST(user_id % {_BITMAP_WORD} AS INTEGER))
           AS word
  FROM {{EVENTS_REL}} e
  GROUP BY event_type, user_id // {_BITMAP_WORD}
)
SELECT event_type,
       CAST(SUM(BIT_COUNT(word)) AS BIGINT) AS n_distinct_bitmap,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM words GROUP BY event_type
""".format(EVENTS_REL=EVENTS_REL)


@register("agg_bitmap_distinct", oracle=_BITMAP_ORACLE, category="aggregate")
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via chunked bitmaps (the Doris/
    ClickHouse `bitmap_union` pattern): each key domain chunk of
    {_BITMAP_WORD} ids becomes one 64-bit word, `bit_or` unions the
    words, `bit_count` sums the population — an exact distinct that
    MERGES like a sketch (word-wise OR is associative/commutative),
    unlike COUNT(DISTINCT)'s Expand.

    Why it scales: the per-(group, word) partial OR combines map-side,
    so the exchange carries at most |groups| x |id-domain|/64 words of
    8 bytes — for a 10^9-user domain that's 2 MB per group versus
    shuffling every (group, user) pair; re-aggregating to coarser
    groups later ORs the same words again without rescanning. The
    popcount total is provably equal to the exact distinct (asserted
    against `countDistinct` in tests); n_words exposes the bitmap's
    physical size.
    """
    ev = load_table(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type",
        # integer `div`, matching the oracle's `//` exactly — a double
        # quotient truncates (not floors) and loses precision past 2^53
        F.expr(f"user_id div {_BITMAP_WORD}").alias("word_idx"),
    ).agg(
        F.expr(
            f"bit_or(shiftleft(1L, cast(user_id % {_BITMAP_WORD} AS int)))"
        ).alias("word")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct_bitmap"),
        F.count(F.lit(1)).alias("n_words"),
    )


_WMED_ORACLE = """
WITH pp AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY l_returnflag, l_extendedprice
),
c AS (
  SELECT flag, price, w,
         SUM(w) OVER (PARTITION BY flag ORDER BY price
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY flag) AS total
  FROM pp
)
SELECT flag,
       CAST(MAX(total) AS BIGINT) AS total_weight,
       MIN(CASE WHEN 4 * cum >= total THEN price END) AS w_p25,
       MIN(CASE WHEN 2 * cum >= total THEN price END) AS w_median,
       MIN(CASE WHEN 4 * cum >= 3 * total THEN price END) AS w_p75
FROM c GROUP BY flag
"""


@register("agg_weighted_median", oracle=_WMED_ORACLE, category="aggregate")
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted quantiles (p25/median/p75 of price weighted by
    quantity) per return flag — the quantile `percentile_approx`
    cannot express (per-row weights) and `percentile` computes
    unweighted.  All weight arithmetic is integer (quantities are
    integral), so the threshold compare `k*cum >= m*total` never
    touches floats and both engines pick the identical price.

    Plan: pre-aggregate to (flag, price) weight sums — the corpus-size
    exchange, map-side combined — then the cumulative window and the
    final per-flag reduce both run on the |flags|×|prices| frame,
    sharing its flag-hash exchange.  At 100 TB the value-domain
    pre-aggregation is what bounds the window input; a raw cumsum
    over line items would sort the corpus.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pp = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).alias("w"))
    wc = Window.partitionBy("flag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("flag")
    c = pp.select(
        "flag",
        "price",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("total"),
    )
    return c.groupBy("flag").agg(
        F.max("total").cast("bigint").alias("total_weight"),
        F.min(F.when(4 * F.col("cum") >= F.col("total"), F.col("price"))).alias(
            "w_p25"
        ),
        F.min(F.when(2 * F.col("cum") >= F.col("total"), F.col("price"))).alias(
            "w_median"
        ),
        F.min(
            F.when(4 * F.col("cum") >= 3 * F.col("total"), F.col("price"))
        ).alias("w_p75"),
    )


_AB_SPLIT = (
    "CAST(('0x' || SUBSTR(MD5('ab|' || CAST(user_id AS STRING)), 1, 8)) "
    "AS BIGINT) % 2"
)

_AB_ORACLE = f"""
WITH assign AS (
  SELECT user_id,
         CASE WHEN {_AB_SPLIT} = 0 THEN 'A' ELSE 'B' END AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
v AS (
  SELECT variant,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(converted) AS BIGINT) AS n_conv
  FROM assign GROUP BY variant
),
w AS (
  SELECT MAX(CASE WHEN variant = 'A' THEN n_users END) AS na,
         MAX(CASE WHEN variant = 'A' THEN n_conv END) AS ca,
         MAX(CASE WHEN variant = 'B' THEN n_users END) AS nb,
         MAX(CASE WHEN variant = 'B' THEN n_conv END) AS cb
  FROM v
)
SELECT na, ca, nb, cb,
       ROUND(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
       ROUND(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
       ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / SQRT((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 / na + 1.0 / nb)), 6) AS z_score,
       ABS((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
           / SQRT((CAST(ca + cb AS DOUBLE) / (na + nb))
                  * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                  * (1.0 / na + 1.0 / nb))) > 1.959964 AS significant
FROM w
"""


@register("agg_ab_test_z", oracle=_AB_ORACLE, category="aggregate")
def agg_ab_test_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test on user conversion: deterministic
    hash split (md5, re-run stable — the same discipline as
    `llm_split_assign`), conversion = user ever made a
    high-value purchase (value > 150), pooled-
    variance z statistic and the 95% two-sided verdict.  Every input
    to the float math is an exact integer count, so both engines
    evaluate the identical formula on identical operands.

    Plan: one user-level aggregate (map-side combined) then a 2-row
    reduce to the single stats row; at 100 TB the experiment readout
    is two exchanges and the final arithmetic is free.  The hash
    split means assignment needs no experiment-arm table join.
    """
    e = load_table(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), 1
            ).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(
            F.expr(
                "cast(conv(substring(md5(concat('ab|', CAST(user_id AS STRING))),"
                " 1, 8), 16, 10) AS bigint) % 2"
            )
            == 0,
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "converted",
    )
    v = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("variant") == "A", F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("variant") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("variant") == "B", F.col("n_conv"))).alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    pool = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    z = (pa - pb) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return w.select(
        "na",
        "ca",
        "nb",
        "cb",
        F.round(pa, 6).alias("rate_a"),
        F.round(pb, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.959964).alias("significant"),
    )


_DEC_ORACLE = """
SELECT l_returnflag AS flag,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_quantity AS DECIMAL(18,2))
                          AS DECIMAL(38,4))) AS DECIMAL(38,4)) AS STRING)
         AS exact_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_decimal_exact", oracle=_DEC_ORACLE, category="aggregate")
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT money arithmetic: price x quantity accumulated as
    DECIMAL(38,4) — associative and partitioning-invariant, unlike
    double sums whose low bits depend on partial-aggregation order.
    The result ships as a STRING so the comparator sees the exact
    digits (and because the driver canonicalizes DECIMAL through
    pandas floats, which would defeat the point).

    Plan: a stock two-phase HashAggregate; decimal partials are
    128-bit fixed-point, so map-side combine stays exact at any
    fan-in.  At 100 TB this is the ledger-grade aggregation path —
    the float fast path is for metrics, this one is for money.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * F.col("l_quantity").cast("decimal(18,2)")
    ).cast("decimal(38,4)")
    return li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum(rev).cast("decimal(38,4)").cast("string").alias("exact_revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


_KM_CENSOR_DAY = "2024-01-29"  # active on/after this day = right-censored

_KM_ORACLE = f"""
WITH u AS (
  SELECT user_id,
         date_diff('day', MIN(CAST(date_trunc('day', ts) AS DATE)),
                   MAX(CAST(date_trunc('day', ts) AS DATE))) AS dur,
         MAX(CAST(date_trunc('day', ts) AS DATE)) >= DATE '{_KM_CENSOR_DAY}'
           AS censored
  FROM {{events_rel}} e GROUP BY user_id
),
lvl AS (
  SELECT dur,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS n_churn
  FROM u GROUP BY dur
),
r AS (
  SELECT dur, n_churn,
         SUM(n_total) OVER (ORDER BY dur DESC ROWS UNBOUNDED PRECEDING)
           AS n_at_risk
  FROM lvl
)
SELECT dur AS t_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       n_churn AS n_churned,
       ROUND(PRODUCT(1.0 - CAST(n_churn AS DOUBLE) / n_at_risk)
             OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING), 6) AS survival
FROM r
"""


@register(
    "agg_survival_km",
    oracle=_KM_ORACLE.format(events_rel=EVENTS_REL),
    category="aggregate",
)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve over user lifetimes (days between
    first and last activity), RIGHT-CENSORING users still active near
    the window edge (last activity on/after {_KM_CENSOR_DAY}) — the
    survival estimator that plain churn-rate aggregates get wrong by
    counting censored users as churned.  S(t) = Π_(u<=t) (1 - d_u/n_u)
    with n_at_risk from a descending suffix cumsum.

    Plan: one user aggregate (corpus-size, map-side combined), then
    every window runs on the |duration-levels| frame (≤ window days) —
    the KM arithmetic is catalog-sized at any scale.  Spark computes
    the cumulative product as exp(Σ ln) (no PRODUCT aggregate),
    DuckDB uses windowed PRODUCT; both consume identical doubles in
    identical order, and the 6-digit round absorbs the ulp-level
    libm/ordering difference.
    """
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.datediff(
            F.max(F.to_date(F.date_trunc("day", "ts"))),
            F.min(F.to_date(F.date_trunc("day", "ts"))),
        ).alias("dur"),
        (
            F.max(F.to_date(F.date_trunc("day", "ts")))
            >= F.lit(_KM_CENSOR_DAY).cast("date")
        ).alias("censored"),
    )
    lvl = u.groupBy("dur").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("censored"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_churn"),
    )
    w_desc = (
        Window.partitionBy()
        .orderBy(F.col("dur").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = lvl.withColumn("n_at_risk", F.sum("n_total").over(w_desc))
    w_asc = (
        Window.partitionBy()
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    frac = 1.0 - F.col("n_churn").cast("double") / F.col("n_at_risk")
    # log(0) is NULL in Spark and window sum SKIPS nulls — a level
    # where everyone churns (frac = 0) must zero the curve, not
    # vanish from the product.  Track the zero explicitly.
    zero_seen = F.max(F.when(frac == 0.0, 1).otherwise(0)).over(w_asc)
    log_prod = F.exp(
        F.sum(F.when(frac > 0.0, F.log(frac)).otherwise(0.0)).over(w_asc)
    )
    return r.select(
        F.col("dur").alias("t_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("n_churn").alias("n_churned"),
        F.round(
            F.when(zero_seen == 1, 0.0).otherwise(log_prod), 6
        ).alias("survival"),
    )


_GINI_ORACLE = """
WITH act AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY user_id
),
rk AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, user_id) AS i FROM act
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(i * x) AS BIGINT) AS six
  FROM rk
)
SELECT n AS n_users, sx AS n_events,
       ROUND(2.0 * six / (n * sx) - (n + 1.0) / n, 6) AS gini
FROM m
"""


@register("agg_gini_coefficient", oracle=_GINI_ORACLE, category="aggregate")
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the inequality measure
    ("do 1% of users generate 90% of events?") via the exact rank
    formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over ascending-sorted
    activity.  Every moment is an exact integer; one final float
    division, so both engines agree to the last rounded digit.

    Plan: one corpus exchange (the user aggregate); the rank over the
    |users| frame — billions of rows at 100 TB, so NOT a global
    window — is the two-pass range-partitioned rank
    (`plans.rank.global_row_number`): checkpointed range spine +
    partition-local row_number + broadcast count-prefix offsets.
    """
    e = load_table(spark, sf_dir, "events")
    act = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    rk = global_row_number(act, ["x", "user_id"], out="i")
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("n_events"),
        F.round(
            2.0
            * F.sum(F.col("i") * F.col("x"))
            / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


_BENFORD_ORACLE = """
WITH dig AS (
  -- ABS: Benford reads the first SIGNIFICANT digit, so a credit memo
  -- (negative total) contributes its magnitude instead of a '-' that
  -- kills the cast; a zero total yields digit 0 and falls out of the
  -- 1..9 grid in both engines.
  SELECT CAST(SUBSTRING(CAST(ABS(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                             AS STRING), 1, 1) AS BIGINT) AS digit
  FROM orders
),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM dig GROUP BY digit
),
grid AS (
  SELECT d.digit, COALESCE(o.n, 0) AS n,
         CAST(SUM(COALESCE(o.n, 0)) OVER () AS BIGINT) AS total
  FROM range(1, 10) d(digit) LEFT JOIN obs o ON o.digit = d.digit
)
SELECT digit,
       CAST(n AS BIGINT) AS n_orders,
       ROUND(CAST(n AS DOUBLE) / total, 6) AS observed_p,
       ROUND(LOG10(1 + 1.0 / digit), 6) AS benford_p,
       ROUND(POWER(n - total * LOG10(1 + 1.0 / digit), 2)
             / (total * LOG10(1 + 1.0 / digit)), 4) AS chi2_part
FROM grid
"""


@register("agg_benford", oracle=_BENFORD_ORACLE, category="aggregate")
def agg_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the
    forensic-accounting / data-quality screen (fabricated or
    unit-mangled monetary columns flunk the log-curve).  Per digit
    1-9: observed count and share, the Benford expectation
    log10(1+1/d), and the chi-square contribution.

    The first significant digit is extracted from the EXACT integer
    cents (round(price*100) as BIGINT, then first character of the
    integer's decimal rendering) — never from float-to-string
    formatting or log10-of-value bucketing, which both diverge
    between engines at representation boundaries.

    Plan: one map-side-combined 9-group aggregate over the scan; the
    digit grid join and the total window run on the 9-row frame.
    """
    o = load_table(spark, sf_dir, "orders")
    dig = o.select(
        F.substring(
            F.abs(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("digit")
    )
    obs = dig.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = spark.range(1, 10).select(F.col("id").alias("digit"))
    g = (
        grid.join(F.broadcast(obs), "digit", "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
        .withColumn(
            "total", F.sum("n").over(Window.partitionBy()).cast("bigint")
        )
    )
    bp = F.log10(1 + 1.0 / F.col("digit"))
    return g.select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias(
            "observed_p"
        ),
        F.round(bp, 6).alias("benford_p"),
        F.round(
            F.pow(F.col("n") - F.col("total") * bp, 2) / (F.col("total") * bp),
            4,
        ).alias("chi2_part"),
    )


_KS_ORACLE = f"""
WITH g AS (
  SELECT CAST(ROUND(value * 10000) AS BIGINT) AS v,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS na,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS nb
  FROM {{EVENTS}} e
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY 1
),
ecdf AS (
  SELECT v,
         SUM(na) OVER (ORDER BY v) AS ca,
         SUM(nb) OVER (ORDER BY v) AS cb,
         SUM(na) OVER () AS ta,
         SUM(nb) OVER () AS tb
  FROM g
),
scored AS (
  SELECT v, ta, tb, ABS(ca * tb - cb * ta) AS dscaled FROM ecdf
)
SELECT CAST(MAX(ta) AS BIGINT) AS n_a,
       CAST(MAX(tb) AS BIGINT) AS n_b,
       CAST(MAX(dscaled) AS BIGINT) AS d_scaled,
       ROUND(CAST(MAX(dscaled) AS DOUBLE) / (MAX(ta) * MAX(tb)), 6) AS d_stat,
       ROUND(CAST(MIN(CASE WHEN dscaled = m THEN v END) AS DOUBLE) / 10000,
             4) AS d_at_value
FROM (SELECT *, MAX(dscaled) OVER () AS m FROM scored)
"""


@register(
    "agg_ks_test",
    oracle=_KS_ORACLE.replace("{EVENTS}", "(SELECT event_type, value FROM events)"),
    category="aggregate",
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the `click` and
    `purchase` value distributions — the drift / A-B distribution test
    that doesn't assume a parametric family.  D = max |ECDF_a −
    ECDF_b| is computed EXACTLY in integers: per-value counts, one
    cumulative pass, then `|ca·n_b − cb·n_a|` — the single float
    division happens once at the end (the `agg_gini_coefficient`
    discipline), and the argmax value ties break to the smallest.

    Plan: the corpus collapses to |distinct values| rows in ONE
    map-side-combined aggregate before any window runs; the ECDF
    cumulatives come from the two-pass range-partitioned prefix sum
    (`plans.rank.global_order_stats`) — the value domain is bounded at
    this quantization but an arbitrary-domain input stays partitioned.
    The argmax value (smallest-v tie-break) is a lexicographic
    max(struct(d, -v)) — one aggregate, no full-frame window.
    """
    # NULL values are unobserved, not rank-able: both engines exclude
    # them (Spark would rank NULL first, DuckDB last — no shared order).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("value").isNotNull()
    )
    g = ev.groupBy(
        F.round(F.col("value") * 10000).cast("bigint").alias("v")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    e = global_order_stats(
        g,
        ["v"],
        cumsum={"na": "ca", "nb": "cb"},
        totals={"na": "ta", "nb": "tb"},
    ).withColumn(
        "dscaled", F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta"))
    )
    # argmax with smallest-v tie-break, as one lexicographic struct max
    best = F.max(F.struct(F.col("dscaled").alias("d"), (-F.col("v")).alias("nv")))
    return e.agg(
        F.max("ta").cast("bigint").alias("n_a"),
        F.max("tb").cast("bigint").alias("n_b"),
        best.getField("d").cast("bigint").alias("d_scaled"),
        F.round(
            best.getField("d").cast("double") / (F.max("ta") * F.max("tb")), 6
        ).alias("d_stat"),
        F.round((-best.getField("nv")).cast("double") / 10000, 4).alias(
            "d_at_value"
        ),
    )


_WELCH_ORACLE = """
WITH m AS (
  SELECT event_type AS grp,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)
                  * CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS s2
  FROM events WHERE event_type IN ('view', 'error')
  GROUP BY event_type
),
w AS (
  SELECT a.n AS na, a.s1 AS sa1, a.s2 AS sa2,
         b.n AS nb, b.s1 AS sb1, b.s2 AS sb2
  FROM m a, m b WHERE a.grp = 'view' AND b.grp = 'error'
),
c AS (
  SELECT na, nb,
         sa1 / (10000.0 * na) AS mean_a,
         sb1 / (10000.0 * nb) AS mean_b,
         (sa2 / 1e8 - (sa1 / 1e4) * (sa1 / 1e4) / na) / (na - 1) AS var_a,
         (sb2 / 1e8 - (sb1 / 1e4) * (sb1 / 1e4) / nb) / (nb - 1) AS var_b
  FROM w
)
SELECT na AS n_view, nb AS n_error,
       ROUND(mean_a, 6) AS mean_view,
       ROUND(mean_b, 6) AS mean_error,
       ROUND((mean_a - mean_b) / SQRT(var_a / na + var_b / nb), 4) AS t_stat,
       ROUND(POWER(var_a / na + var_b / nb, 2)
             / (POWER(var_a / na, 2) / (na - 1)
                + POWER(var_b / nb, 2) / (nb - 1)), 2) AS welch_df,
       ABS((mean_a - mean_b) / SQRT(var_a / na + var_b / nb)) > 1.96
         AS significant_95
FROM c
"""


@register("agg_ttest_welch", oracle=_WELCH_ORACLE, category="aggregate")
def agg_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the `view`
    and `error` value distributions, with the Welch–Satterthwaite
    degrees of freedom — the default mean-comparison test when group
    variances differ (`agg_ab_test_z` is its proportion sibling).

    Every moment (n, Σx, Σx²) accumulates as an EXACT scaled BIGINT in
    one shared-scan aggregate; means, variances, t and df are derived
    from those integers with identical float expressions on both
    engines, then rounded (variances derive as s2/1e8 − mean²·n⁻¹ in
    double — the n·Σx² integer form overflows int64 past ~20k rows;
    beyond ~1e18 in Σx² itself the moments move to DECIMAL(38,0),
    the `agg_decimal_exact` discipline).

    Plan: ONE conditional-sum aggregate over a single pruned scan —
    both groups' moments come back in the same reduce row, no pivot
    join, no second scan.
    """
    x = F.round(F.col("value") * 10000).cast("bigint")
    is_a = F.col("event_type") == "view"
    m = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "error"))
        .agg(
            F.sum(F.when(is_a, 1).otherwise(0)).cast("bigint").alias("na"),
            F.sum(F.when(is_a, x)).cast("bigint").alias("sa1"),
            F.sum(F.when(is_a, x * x)).cast("bigint").alias("sa2"),
            F.sum(F.when(~is_a, 1).otherwise(0)).cast("bigint").alias("nb"),
            F.sum(F.when(~is_a, x)).cast("bigint").alias("sb1"),
            F.sum(F.when(~is_a, x * x)).cast("bigint").alias("sb2"),
        )
    )
    c = m.select(
        "na",
        "nb",
        (F.col("sa1") / (10000.0 * F.col("na"))).alias("mean_a"),
        (F.col("sb1") / (10000.0 * F.col("nb"))).alias("mean_b"),
        (
            (
                F.col("sa2") / 1e8
                - (F.col("sa1") / 1e4) * (F.col("sa1") / 1e4) / F.col("na")
            )
            / (F.col("na") - 1)
        ).alias("var_a"),
        (
            (
                F.col("sb2") / 1e8
                - (F.col("sb1") / 1e4) * (F.col("sb1") / 1e4) / F.col("nb")
            )
            / (F.col("nb") - 1)
        ).alias("var_b"),
    )
    se2 = F.col("var_a") / F.col("na") + F.col("var_b") / F.col("nb")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    return c.select(
        F.col("na").alias("n_view"),
        F.col("nb").alias("n_error"),
        F.round(F.col("mean_a"), 6).alias("mean_view"),
        F.round(F.col("mean_b"), 6).alias("mean_error"),
        F.round(t, 4).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("var_a") / F.col("na"), 2) / (F.col("na") - 1)
                + F.pow(F.col("var_b") / F.col("nb"), 2) / (F.col("nb") - 1)
            ),
            2,
        ).alias("welch_df"),
        (F.abs(t) > 1.96).alias("significant_95"),
    )


_CHI2_ORACLE = """
WITH obs AS (
  SELECT event_type,
         CASE WHEN value >= 20 THEN 'high' ELSE 'low' END AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT event_type, bucket, n,
         SUM(n) OVER (PARTITION BY event_type) AS row_tot,
         SUM(n) OVER (PARTITION BY bucket) AS col_tot,
         SUM(n) OVER () AS tot
  FROM obs
),
c AS (
  SELECT event_type, bucket, n,
         CAST(row_tot AS DOUBLE) * col_tot / tot AS expected
  FROM t
)
SELECT event_type, bucket, n AS observed,
       ROUND(expected, 4) AS expected,
       ROUND(POWER(n - expected, 2) / expected, 6) AS chi2_part,
       ROUND(SUM(POWER(n - expected, 2) / expected) OVER (), 4) AS chi2_total,
       SUM(POWER(n - expected, 2) / expected) OVER () > 9.488
         AS reject_independence_95
FROM c
"""


@register("agg_chi2_independence", oracle=_CHI2_ORACLE, category="aggregate")
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the event_type × value-bucket
    contingency table — the categorical-association screen ("does
    event type influence whether values run high?") that rounds out
    the z / t / KS battery with df = (r−1)(c−1) = 4 and the 9.488
    critical value at 95%.

    Observed counts are exact integers from ONE map-side-combined
    aggregate; marginals, expectations, per-cell contributions and the
    global statistic all derive on the 10-row contingency frame via
    windows — the corpus is scanned once and never re-touched.
    """
    obs = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.when(F.col("value") >= 20, "high").otherwise("low").alias(
                "bucket"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    t = (
        obs.withColumn(
            "row_tot", F.sum("n").over(Window.partitionBy("event_type"))
        )
        .withColumn("col_tot", F.sum("n").over(Window.partitionBy("bucket")))
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
    )
    c = t.withColumn(
        "expected",
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("tot"),
    )
    part = F.pow(F.col("n") - F.col("expected"), 2) / F.col("expected")
    total = F.sum(part).over(Window.partitionBy())
    return c.select(
        "event_type",
        "bucket",
        F.col("n").alias("observed"),
        F.round(F.col("expected"), 4).alias("expected"),
        F.round(part, 6).alias("chi2_part"),
        F.round(total, 4).alias("chi2_total"),
        (total > 9.488).alias("reject_independence_95"),
    )


_MWU_ORACLE = """
WITH s AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
         CAST(ROUND(value * 10000) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('click', 'signup') AND value IS NOT NULL
),
r AS (
  SELECT is_a, v,
         2 * RANK() OVER (ORDER BY v)
           + COUNT(*) OVER (PARTITION BY v) - 1 AS rank2
  FROM s
),
ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_corr
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM s GROUP BY v)
),
m AS (
  SELECT CAST(SUM(CASE WHEN is_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(SUM(CASE WHEN is_a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN is_a = 1 THEN rank2 ELSE 0 END) AS BIGINT)
           AS r2a
  FROM r
)
SELECT na AS n_click, nb AS n_signup,
       CAST(r2a - na * (na + 1) AS BIGINT) AS u2_stat,
       ROUND((r2a - na * (na + 1)) / 2.0 - na * nb / 2.0, 4) AS u_centered,
       ROUND(((r2a - na * (na + 1)) / 2.0 - na * nb / 2.0)
             / SQRT((CAST(na AS DOUBLE) * nb / 12)
                    * ((na + nb + 1)
                       - CAST(tie_corr AS DOUBLE)
                         / ((na + nb) * (na + nb - 1)))), 4) AS z_stat,
       ABS(((r2a - na * (na + 1)) / 2.0 - na * nb / 2.0)
           / SQRT((CAST(na AS DOUBLE) * nb / 12)
                  * ((na + nb + 1)
                     - CAST(tie_corr AS DOUBLE)
                       / ((na + nb) * (na + nb - 1))))) > 1.96
         AS significant_95
FROM m, ties
"""


@register("agg_mannwhitney_u", oracle=_MWU_ORACLE, category="aggregate")
def agg_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between the `click` and `signup`
    value samples — the nonparametric location test (medians, not
    means; no normality assumption), with the tie-corrected normal
    approximation.  Completes the battery: z (proportions), Welch
    (means), KS (whole distribution), U (location under ranks).

    Rank arithmetic stays EXACT: doubled midranks `2·rank + ties − 1`
    are integers, the doubled rank-sum and the tie correction
    Σ(t³ − t) are BIGINTs, and the single float division happens at
    the end.  Ranks come from the value-histogram cumulative form
    (`agg_ks_test`'s ECDF shape): the corpus collapses to |distinct
    values| rows first, the cumulative tie count ct comes from the
    two-pass range-partitioned prefix sum
    (`plans.rank.global_order_stats`), and every row at value v
    carries doubled midrank 2·rank + t − 1 = 2·ct − t + 1 — so the
    group-A doubled rank-sum is Σ na_v·(2·ct_v − t_v + 1), one
    aggregate, never a per-row rank window over raw data.
    """
    # NULL values are unobserved, not rank-able: both engines exclude
    # them (Spark would rank NULL first, DuckDB last — no shared order).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "signup")
        & F.col("value").isNotNull()
    )
    s = ev.select(
        (F.col("event_type") == "click").cast("int").alias("is_a"),
        F.round(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    hist = s.groupBy("v").agg(
        F.sum("is_a").cast("bigint").alias("na_v"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    h = global_order_stats(hist, ["v"], cumsum={"t": "ct"})
    rank2 = 2 * F.col("ct") - F.col("t") + 1  # doubled midrank at v
    c = h.agg(
        F.sum("na_v").cast("bigint").alias("na"),
        F.sum(F.col("t") - F.col("na_v")).cast("bigint").alias("nb"),
        F.sum(F.col("na_v") * rank2).cast("bigint").alias("r2a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_corr"),
    )
    u = (F.col("r2a") - F.col("na") * (F.col("na") + 1)) / 2.0
    mu = F.col("na") * F.col("nb") / 2.0
    n = F.col("na") + F.col("nb")
    sigma = F.sqrt(
        (F.col("na").cast("double") * F.col("nb") / 12)
        * ((n + 1) - F.col("tie_corr").cast("double") / (n * (n - 1)))
    )
    z = (u - mu) / sigma
    return c.select(
        F.col("na").alias("n_click"),
        F.col("nb").alias("n_signup"),
        (F.col("r2a") - F.col("na") * (F.col("na") + 1))
        .cast("bigint")
        .alias("u2_stat"),
        F.round(u - mu, 4).alias("u_centered"),
        F.round(z, 4).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


_BOOT_B = 200
_BOOT_LO = 6    # 1-based index into the 200 sorted resample sums: 2.5%
_BOOT_HI = 195  # 97.5%

_BOOT_ORACLE = f"""
WITH act AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
packed AS (
  SELECT LIST(cnt ORDER BY user_id) AS arr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cnt) AS BIGINT) AS total
  FROM act
),
boot AS (
  SELECT n, total,
         LIST_SORT(list_transform(generate_series(1, {_BOOT_B}), b ->
           list_aggregate(
             list_transform(generate_series(1, CAST(n AS INTEGER)), i ->
               arr[CAST(CAST(('0x' || SUBSTR(MD5(CAST(b AS STRING) || ':'
                              || CAST(i AS STRING)), 1, 8)) AS BIGINT)
                        % n AS INTEGER) + 1]),
             'sum'))) AS sums
  FROM packed
)
SELECT n AS n_users,
       CAST({_BOOT_B} AS BIGINT) AS n_boot,
       ROUND(CAST(total AS DOUBLE) / n, 6) AS observed_mean,
       ROUND(CAST(sums[{_BOOT_LO}] AS DOUBLE) / n, 6) AS ci_lo,
       ROUND(CAST(sums[{_BOOT_HI}] AS DOUBLE) / n, 6) AS ci_hi
FROM boot
"""


@register("agg_bootstrap_ci", oracle=_BOOT_ORACLE, category="aggregate")
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% confidence interval for mean per-user activity —
    the distribution-free CI when no parametric form applies, with the
    resampling LOTTERY made DETERMINISTIC: resample b draws its i-th
    element via md5(b:i) mod n, so re-runs (and both engines) draw
    IDENTICAL resamples — `rand()`-seeded bootstraps are
    partitioning-dependent and unreproducible across engines.
    {_BOOT_B} resamples; the CI takes sorted resample sums at
    positions {_BOOT_LO}/{_BOOT_HI} (2.5th/97.5th percentile,
    explicit-index convention).

    Every resample sum is an exact BIGINT; divisions round once.

    Plan: the corpus collapses to the per-user aggregate (one
    exchange); the bootstrap runs entirely in ONE row's array
    expressions — |users|·B integer ops inside codegen, no explode,
    no second shuffle.  At a billion users the resample unit becomes
    per-shard subtotals (the m-out-of-n / bag-of-little-bootstraps
    formulation) with this exact op applied to the shard frame.
    """
    ev = load_table(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    packed = act.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(user_id, cnt))),"
            " s -> s.cnt)"
        ).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    boot = packed.withColumn(
        "sums",
        F.expr(
            f"array_sort(transform(sequence(1, {_BOOT_B}), b -> "
            f"aggregate(sequence(1, int(n)), 0L, (acc, i) -> acc + "
            f"element_at(arr, int(cast(conv(substring(md5(concat("
            f"cast(b AS string), ':', cast(i AS string))), 1, 8), 16, 10)"
            f" AS bigint) % n) + 1))))"
        ),
    )
    return boot.select(
        F.col("n").alias("n_users"),
        F.lit(_BOOT_B).cast("bigint").alias("n_boot"),
        F.round(F.col("total").cast("double") / F.col("n"), 6).alias(
            "observed_mean"
        ),
        F.round(
            F.element_at("sums", _BOOT_LO).cast("double") / F.col("n"), 6
        ).alias("ci_lo"),
        F.round(
            F.element_at("sums", _BOOT_HI).cast("double") / F.col("n"), 6
        ).alias("ci_hi"),
    )


_PERM_B = 200
_PERM_NA = 75  # group-A target size, clamped to n//2 at small scales

_PERM_ORACLE = f"""
WITH act AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id
),
packed AS (
  SELECT LIST(cnt ORDER BY user_id) AS arr,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cnt) AS BIGINT) AS total
  FROM act
),
sized AS (
  SELECT arr, n, total,
         CAST(LEAST({_PERM_NA}, n // 2) AS INTEGER) AS na,
         CAST(list_aggregate(arr[1:CAST(LEAST({_PERM_NA}, n // 2)
                                        AS INTEGER)], 'sum') AS BIGINT)
           AS obs_a
  FROM packed
),
perms AS (
  SELECT n, na, obs_a, total,
         list_transform(generate_series(1, {_PERM_B}), b ->
           list_aggregate(
             list_transform(
               LIST_SORT(list_transform(generate_series(1, CAST(n AS INTEGER)),
                 i -> {{'h': MD5(CAST(b AS STRING) || ':'
                                || CAST(i AS STRING)), 'i': i}}))[1:na],
               s -> arr[s.i]),
             'sum')) AS perm_sums
  FROM sized
)
SELECT n AS n_users,
       CAST(na AS BIGINT) AS n_group_a,
       CAST({_PERM_B} AS BIGINT) AS n_perms,
       ROUND(obs_a / CAST(na AS DOUBLE)
             - (total - obs_a) / CAST(n - na AS DOUBLE), 6)
         AS observed_diff,
       CAST(LEN(list_filter(perm_sums, s ->
              ABS(s / CAST(na AS DOUBLE)
                  - (total - s) / CAST(n - na AS DOUBLE))
              >= ABS(obs_a / CAST(na AS DOUBLE)
                     - (total - obs_a) / CAST(n - na AS DOUBLE))))
            AS BIGINT) AS n_extreme,
       ROUND(CAST(LEN(list_filter(perm_sums, s ->
              ABS(s / CAST(na AS DOUBLE)
                  - (total - s) / CAST(n - na AS DOUBLE))
              >= ABS(obs_a / CAST(na AS DOUBLE)
                     - (total - obs_a) / CAST(n - na AS DOUBLE))))
            AS DOUBLE) / {_PERM_B}, 6) AS p_value
FROM perms
"""


@register("agg_permutation_test", oracle=_PERM_ORACLE, category="aggregate")
def agg_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the difference in mean activity between
    the first n_group_a users (by id) and the rest — the exact-null
    resampling test that needs NO distributional assumption at all
    (the bootstrap estimates uncertainty; this tests the null
    directly).  Each of {_PERM_B} permutations re-splits users by
    ranking md5(b:i) and taking the n_group_a smallest — an EXACT
    fixed-size relabeling, deterministic across engines and re-runs.
    The group size clamps to min({_PERM_NA}, n//2) so small scale
    factors keep two non-empty groups (review-found: sf0.001 has 15
    users, where a fixed 75 degenerated the statistic).

    Permutation sums stay exact BIGINTs; the two-sided p-value counts
    permutations whose |mean diff| meets or beats the observed one.

    Plan: identical shape to `agg_bootstrap_ci` — one per-user
    exchange, then the whole permutation engine runs in a single
    row's array expressions inside codegen.
    """
    ev = load_table(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    packed = act.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(user_id, cnt))),"
            " s -> s.cnt)"
        ).alias("arr"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    sized = packed.withColumn(
        "na",
        F.least(F.lit(_PERM_NA), (F.col("n") / 2).cast("int")).cast("int"),
    ).withColumn(
        "obs_a",
        F.expr("aggregate(slice(arr, 1, na), 0L, (a, x) -> a + x)").cast(
            "bigint"
        ),
    )
    perms = sized.withColumn(
        "perm_sums",
        F.expr(
            f"transform(sequence(1, {_PERM_B}), b -> "
            f"aggregate(slice(array_sort(transform(sequence(1, int(n)),"
            f" i -> struct(md5(concat(cast(b AS string), ':',"
            f" cast(i AS string))) AS h, i AS i))), 1, na),"
            f" 0L, (acc, s) -> acc + element_at(arr, s.i)))"
        ),
    )
    nad = F.col("na").cast("double")
    nbd = (F.col("n") - F.col("na")).cast("double")
    obs_diff = F.col("obs_a") / nad - (F.col("total") - F.col("obs_a")) / nbd
    n_extreme = F.expr(
        "size(filter(perm_sums, s -> "
        "abs(s / cast(na AS double)"
        " - (total - s) / cast(n - na AS double)) >= "
        "abs(obs_a / cast(na AS double)"
        " - (total - obs_a) / cast(n - na AS double))))"
    ).cast("bigint")
    return perms.select(
        F.col("n").alias("n_users"),
        F.col("na").cast("bigint").alias("n_group_a"),
        F.lit(_PERM_B).cast("bigint").alias("n_perms"),
        F.round(obs_diff, 6).alias("observed_diff"),
        n_extreme.alias("n_extreme"),
        F.round(n_extreme.cast("double") / _PERM_B, 6).alias("p_value"),
    )


_CUPED_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN CAST(ts AS DATE)
                            < DATE '2024-01-16' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN CAST(ts AS DATE)
                            >= DATE '2024-01-16' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM {{EVENTS}} e GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_user
)
SELECT n AS n_users,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sxx - sx * sx), 6) AS theta,
       ROUND((syy - CAST(sy AS DOUBLE) * sy / n) / (n - 1), 4) AS var_y,
       ROUND(((syy - CAST(sy AS DOUBLE) * sy / n)
              - POWER(CAST(n * sxy - sx * sy AS DOUBLE) / n, 2)
                / (sxx - CAST(sx AS DOUBLE) * sx / n)) / (n - 1), 4)
         AS var_adj,
       ROUND(100 * POWER(CAST(n * sxy - sx * sy AS DOUBLE), 2)
             / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 2)
         AS reduction_pct
FROM m
"""


@register(
    "agg_cuped",
    oracle=_CUPED_ORACLE.replace(
        "{EVENTS}", "(SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)"
    ),
    category="aggregate",
)
def agg_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experimentation: adjust each
    user's experiment-period metric (events in the back half of the
    month) by their PRE-period covariate (front half) — θ = cov(X,Y)/
    var(X), adjusted variance var(Y) − cov²/var(X) — and report the
    variance-reduction percentage (= 100·corr², the sensitivity gain
    an A/B platform banks before bucketing).  Pairs with
    `agg_ab_test_z`: same infrastructure, smaller confidence
    intervals.

    Every moment (n, Σx, Σy, Σxy, Σxx, Σyy) is an exact BIGINT from
    ONE per-user aggregate + one reduce; θ and the variances derive
    with identical float expressions on both engines and round once.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16").cast("date")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.to_date("ts") < cutoff, 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.to_date("ts") >= cutoff, 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    cov_n = (n * sxy - sx * sy).cast("double")  # n² · cov
    return m.select(
        n.alias("n_users"),
        F.round(cov_n / (n * sxx - sx * sx), 6).alias("theta"),
        F.round((syy - sy.cast("double") * sy / n) / (n - 1), 4).alias(
            "var_y"
        ),
        F.round(
            (
                (syy - sy.cast("double") * sy / n)
                - F.pow(cov_n / n, 2)
                / (sxx - sx.cast("double") * sx / n)
            )
            / (n - 1),
            4,
        ).alias("var_adj"),
        F.round(
            100
            * F.pow(cov_n, 2)
            / (
                (n.cast("double") * sxx - sx.cast("double") * sx)
                * (n.cast("double") * syy - sy.cast("double") * sy)
            ),
            2,
        ).alias("reduction_pct"),
    )


# SPRT: H0 p=0.30 vs H1 p=0.40 conversion, alpha=beta=0.05 boundaries
_SPRT_P0, _SPRT_P1 = 0.30, 0.40
_SPRT_A = 2.944439  # ln((1-beta)/alpha)  = ln(19)
_SPRT_B = -2.944439  # ln(beta/(1-alpha)) = ln(1/19)

_SPRT_ORACLE = f"""
WITH conv AS (
  SELECT user_id,
         CASE WHEN CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) > 13
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
steps AS (
  SELECT user_id, converted,
         ROW_NUMBER() OVER (ORDER BY user_id) AS step,
         SUM(converted) OVER (ORDER BY user_id
                              ROWS UNBOUNDED PRECEDING) AS c
  FROM conv
),
walk AS (
  -- llr = c*up + (step-c)*dn: the integer-cumulative form the engine
  -- uses (three IEEE ops per row, no float accumulation order)
  SELECT step,
         c * LN({_SPRT_P1} / {_SPRT_P0})
           + (step - c) * LN((1 - {_SPRT_P1}) / (1 - {_SPRT_P0})) AS llr
  FROM steps
),
crossed AS (
  SELECT step, llr,
         CASE WHEN llr >= {_SPRT_A} THEN 'accept_h1'
              WHEN llr <= {_SPRT_B} THEN 'accept_h0' END AS verdict
  FROM walk
),
first_cross AS (
  SELECT step AS decision_step, verdict
  FROM crossed WHERE verdict IS NOT NULL
  ORDER BY step LIMIT 1
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM conv) AS n_users,
       (SELECT CAST(SUM(converted) AS BIGINT) FROM conv) AS n_converted,
       COALESCE((SELECT CAST(decision_step AS BIGINT) FROM first_cross),
                -1) AS decision_step,
       COALESCE((SELECT verdict FROM first_cross), 'continue') AS verdict,
       (SELECT ROUND(llr, 6) FROM walk
        ORDER BY step DESC LIMIT 1) AS final_llr
"""


@register("agg_sprt_sequential", oracle=_SPRT_ORACLE, category="aggregate")
def agg_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test replay: users arrive
    in id order, each contributing a conversion outcome (>13 purchase
    events), and the cumulative log-likelihood ratio walks between the
    ln(19) decision boundaries (H0 p={_SPRT_P0} vs H1 p={_SPRT_P1},
    α=β=0.05) — the sequential A/B machinery that stops experiments
    the moment evidence suffices instead of at a fixed n
    (`agg_ab_test_z` is the fixed-horizon sibling).

    Determinism: after k steps with c conversions the LLR is EXACTLY
    c·up + (k−c)·dn — two integer cumulatives times two float
    constants, three IEEE ops per row performed identically by both
    engines (no float accumulation order to disagree on); the
    first-crossing step and verdict are integer/categorical.

    Plan: per-user conversion is one map-side-combined aggregate; the
    walk's step/cumulative-conversion pair comes from the two-pass
    range-partitioned prefix sum (`plans.rank.global_order_stats`) —
    billions of users never hit a single-partition window.
    """
    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > 13
        )
        .cast("int")
        .alias("converted")
    )
    import math

    up = math.log(_SPRT_P1 / _SPRT_P0)
    dn = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))
    walk = global_order_stats(
        conv, ["user_id"], rn="step", cumsum={"converted": "c"}
    ).withColumn(
        "llr",
        F.col("c") * F.lit(up) + (F.col("step") - F.col("c")) * F.lit(dn),
    )
    crossed = walk.withColumn(
        "verdict",
        F.when(F.col("llr") >= _SPRT_A, "accept_h1").when(
            F.col("llr") <= _SPRT_B, "accept_h0"
        ),
    )
    agg = crossed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.min(
            F.when(
                F.col("verdict").isNotNull(),
                F.struct(F.col("step"), F.col("verdict")),
            )
        ).alias("first"),
        F.max(F.struct(F.col("step"), F.round(F.col("llr"), 6).alias("l")))
        .getField("l")
        .alias("final_llr"),
    )
    return agg.select(
        "n_users",
        "n_converted",
        F.coalesce(F.col("first.step"), F.lit(-1))
        .cast("bigint")
        .alias("decision_step"),
        F.coalesce(F.col("first.verdict"), F.lit("continue")).alias(
            "verdict"
        ),
        "final_llr",
    )


_TRIM_PCT = 5  # trim/winsorize 5% from each tail

_ROBUST_ORACLE = f"""
WITH s AS (
  SELECT event_type, CAST(ROUND(value * 10000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, v,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rnk,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM s
),
b AS (
  SELECT event_type, v, rnk, n,
         CAST(FLOOR(n * {_TRIM_PCT} / 100.0) AS BIGINT) AS k
  FROM r
),
w AS (
  SELECT event_type, n, k,
         CASE WHEN rnk > k AND rnk <= n - k THEN v END AS tv,
         GREATEST(LEAST(v,
            MAX(CASE WHEN rnk = n - k THEN v END) OVER (PARTITION BY event_type)),
            MAX(CASE WHEN rnk = k + 1 THEN v END) OVER (PARTITION BY event_type))
           AS wv
  FROM b
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MAX(k) AS BIGINT) AS k_trimmed_each_side,
       ROUND(AVG(tv) / 10000, 6) AS trimmed_mean,
       ROUND(AVG(wv) / 10000.0, 6) AS winsorized_mean
FROM w GROUP BY event_type
"""


@register("agg_robust_means", oracle=_ROBUST_ORACLE, category="aggregate")
def agg_robust_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed and winsorized means per event type ({_TRIM_PCT}% each
    tail): the robust location estimates that survive the fat tails
    and sensor glitches a plain mean drinks in — trimming DROPS the
    tails, winsorizing CLAMPS them to the cut values (keeps n, bounds
    influence).  `win_anomaly_mad`'s robust-dispersion sibling on the
    location side.

    Rank-based cuts on exact 1e-4-scaled integers: k = ⌊n·pct/100⌋,
    trim keeps ranks (k, n−k], winsorize clamps to the values at
    ranks k+1 and n−k — no float percentile interpolation to disagree
    on.  AVG over BIGINTs divides once at the end.

    Plan: ONE event_type exchange serves the rank window, both cut
    lookups (window max of two flagged ranks), and the final
    aggregate.
    """
    # NULL values are unobserved, not rank-able: both engines exclude
    # them (Spark would rank NULL first, DuckDB last — no shared order).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    wp = Window.partitionBy("event_type")
    r = (
        s.withColumn("rnk", F.row_number().over(wp.orderBy("v")))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn(
            "k",
            F.floor(F.col("n") * _TRIM_PCT / 100.0).cast("bigint"),
        )
    )
    lo_cut = F.max(
        F.when(F.col("rnk") == F.col("k") + 1, F.col("v"))
    ).over(wp)
    hi_cut = F.max(
        F.when(F.col("rnk") == F.col("n") - F.col("k"), F.col("v"))
    ).over(wp)
    w = r.withColumn(
        "tv",
        F.when(
            (F.col("rnk") > F.col("k")) & (F.col("rnk") <= F.col("n") - F.col("k")),
            F.col("v"),
        ),
    ).withColumn("wv", F.greatest(F.least(F.col("v"), hi_cut), lo_cut))
    return w.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k_trimmed_each_side"),
        F.round(F.avg("tv") / 10000, 6).alias("trimmed_mean"),
        F.round(F.avg("wv") / 10000.0, 6).alias("winsorized_mean"),
    )


_JACK_ORACLE = """
WITH act AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s1,
         CAST(SUM(x * x) AS BIGINT) AS s2
  FROM act
)
SELECT n AS n_users,
       ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean_activity,
       ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  / (CAST(n AS DOUBLE) * (n - 1))), 6) AS jackknife_se,
       ROUND(CAST(s1 AS DOUBLE) / n
             - 1.96 * SQRT((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n)
                           / (CAST(n AS DOUBLE) * (n - 1))), 6) AS ci_lo,
       ROUND(CAST(s1 AS DOUBLE) / n
             + 1.96 * SQRT((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * s1 / n)
                           / (CAST(n AS DOUBLE) * (n - 1))), 6) AS ci_hi
FROM m
"""


@register("agg_jackknife_se", oracle=_JACK_ORACLE, category="aggregate")
def agg_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife standard error of mean per-user activity — the
    leave-one-out member of the resampling trio (`agg_bootstrap_ci`
    resamples, `agg_permutation_test` relabels, this one deletes).
    For the MEAN the jackknife collapses to the closed form
    √((Σx² − (Σx)²/n) / (n(n−1))) — identical to the classical SE, so
    the whole estimator is TWO exact integer moments and one float
    expression (no B-loop at all; that closed-formability is why the
    delete-1 jackknife is the cheap default for smooth statistics,
    and why it CAN'T handle medians — where the bootstrap op earns
    its B=200).

    Plan: one per-user exchange + one single-row reduce.
    """
    ev = load_table(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    m = act.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean = s1.cast("double") / n
    se = F.sqrt(
        (s2.cast("double") - s1.cast("double") * s1 / n)
        / (n.cast("double") * (n - 1))
    )
    return m.select(
        n.alias("n_users"),
        F.round(mean, 6).alias("mean_activity"),
        F.round(se, 6).alias("jackknife_se"),
        F.round(mean - 1.96 * se, 6).alias("ci_lo"),
        F.round(mean + 1.96 * se, 6).alias("ci_hi"),
    )


_POWER_Z_HALF_ALPHA = 1.959964  # two-sided 5%
_POWER_Z_BETA = 0.841621        # 80% power

_POWER_ORACLE = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)
                  * CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS s2
  FROM events
),
base AS (
  SELECT n,
         s1 / (10000.0 * n) AS mean,
         (s2 / 1e8 - (s1 / 1e4) * (s1 / 1e4) / n) / (n - 1) AS var
  FROM m
),
lifts AS (SELECT UNNEST([1, 2, 5]) AS lift_pct)
SELECT l.lift_pct,
       ROUND(b.mean, 6) AS baseline_mean,
       ROUND(b.var, 4) AS variance,
       ROUND(b.mean * l.lift_pct / 100.0, 6) AS min_detectable_diff,
       CAST(CEIL(POWER({_POWER_Z_HALF_ALPHA} + {_POWER_Z_BETA}, 2)
                 * 2 * b.var
                 / POWER(b.mean * l.lift_pct / 100.0, 2)) AS BIGINT)
         AS n_per_arm
FROM base b, lifts l
"""


@register("agg_power_analysis", oracle=_POWER_ORACLE, category="aggregate")
def agg_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size calculator: per target lift (1/2/5% of the
    baseline mean), the users-per-arm needed to detect it at 80%
    power / two-sided α=5% — n = (z_{{α/2}}+z_β)²·2σ²/δ², the sizing
    arithmetic run before every experiment the z-test
    (`agg_ab_test_z`) will eventually judge, and the "how long must
    this run" answer CUPED's variance reduction directly shrinks.

    Baseline mean and variance come from exact scaled-BIGINT moments
    in one reduce (the `agg_ttest_welch` variance form); the z
    constants are fixed literals so both engines evaluate the same
    closed form; `CEIL` keeps the decision integer.

    Plan: one scan, one single-row reduce, a 3-row broadcast of lift
    targets.
    """
    x = F.round(F.col("value") * 10000).cast("bigint")
    m = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("s1"),
        F.sum(x * x).cast("bigint").alias("s2"),
    )
    base = m.select(
        "n",
        (F.col("s1") / (10000.0 * F.col("n"))).alias("mean"),
        (
            (
                F.col("s2") / 1e8
                - (F.col("s1") / 1e4) * (F.col("s1") / 1e4) / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
    )
    lifts = spark.createDataFrame([(1,), (2,), (5,)], "lift_pct long")
    delta = F.col("mean") * F.col("lift_pct") / 100.0
    zsum = _POWER_Z_HALF_ALPHA + _POWER_Z_BETA
    return base.crossJoin(F.broadcast(lifts)).select(
        "lift_pct",
        F.round("mean", 6).alias("baseline_mean"),
        F.round("var", 4).alias("variance"),
        F.round(delta, 6).alias("min_detectable_diff"),
        F.ceil(F.lit(zsum) ** 2 * 2 * F.col("var") / delta ** 2)
        .cast("bigint")
        .alias("n_per_arm"),
    )


_LORENZ_ORACLE = """
WITH act AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY user_id
),
r AS (
  SELECT x,
         ROW_NUMBER() OVER (ORDER BY x, user_id) AS rnk,
         COUNT(*) OVER () AS n,
         SUM(x) OVER () AS tot,
         SUM(x) OVER (ORDER BY x, user_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM act
),
deciles AS (
  SELECT CAST(CEIL(rnk * 10.0 / n) AS BIGINT) AS decile,
         CAST(MAX(cum) AS BIGINT) AS cum_events,
         CAST(MAX(rnk) AS BIGINT) AS cum_users,
         CAST(MAX(tot) AS BIGINT) AS tot,
         CAST(MAX(n) AS BIGINT) AS n
  FROM r GROUP BY 1
)
SELECT decile,
       ROUND(CAST(cum_users AS DOUBLE) / n, 4) AS pop_share,
       ROUND(CAST(cum_events AS DOUBLE) / tot, 6) AS event_share
FROM deciles
"""


@register("agg_lorenz_curve", oracle=_LORENZ_ORACLE, category="aggregate")
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve decile points for per-user activity: cumulative
    share of events held by the bottom-k deciles of users (ascending
    activity order) — the CURVE whose doubled area-to-diagonal gap is
    `agg_gini_coefficient`'s number, kept as explicit points because
    "the bottom half of users produce 9% of traffic" reads while a
    0.62 does not.

    Exact integer ranks and cumulative sums; decile assignment via
    ceil(rank·10/n) on integer operands; divisions round once.

    Plan: per-user aggregate, then rank/cumsum/total via the two-pass
    range-partitioned prefix machinery (`plans.rank.global_order_stats`
    — one range exchange, npart-row broadcast ledger, no
    single-partition window at any |users|) and a 10-row reduce.
    """
    ev = load_table(spark, sf_dir, "events")
    act = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    r = global_order_stats(
        act,
        ["x", "user_id"],
        rn="rnk",
        cumsum={"x": "cum"},
        totals={"x": "tot"},
        ntotal="n",
    )
    dec = r.groupBy(
        F.ceil(F.col("rnk") * 10.0 / F.col("n")).cast("bigint").alias(
            "decile"
        )
    ).agg(
        F.max("cum").cast("bigint").alias("cum_events"),
        F.max("rnk").cast("bigint").alias("cum_users"),
        F.max("tot").cast("bigint").alias("tot"),
        F.max("n").cast("bigint").alias("n"),
    )
    return dec.select(
        "decile",
        F.round(F.col("cum_users").cast("double") / F.col("n"), 4).alias(
            "pop_share"
        ),
        F.round(
            F.col("cum_events").cast("double") / F.col("tot"), 6
        ).alias("event_share"),
    )


_KENDALL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events) e
  GROUP BY 1
),
pairs AS (
  SELECT CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS c,
         CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS d,
         CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
         CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
  FROM daily a JOIN daily b ON b.day > a.day
),
m AS (
  SELECT CAST(SUM(c) AS BIGINT) AS nc, CAST(SUM(d) AS BIGINT) AS nd,
         CAST(SUM(tx) AS BIGINT) AS ntx, CAST(SUM(ty) AS BIGINT) AS nty,
         CAST(COUNT(*) AS BIGINT) AS np
  FROM pairs
)
SELECT np AS n_pairs, nc AS n_concordant, nd AS n_discordant,
       ROUND((nc - nd)
             / (SQRT(CAST(np - ntx AS DOUBLE))
                * SQRT(CAST(np - nty AS DOUBLE))), 6) AS kendall_tau_b
FROM m
"""


@register("agg_kendall_tau", oracle=_KENDALL_ORACLE, category="aggregate")
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's τ-b rank correlation between the click and purchase
    daily series: concordant minus discordant day pairs over the
    tie-adjusted normalizer — the rank-based association measure
    that, unlike Pearson (`agg_corr_matrix`, `win_rolling_corr`),
    ignores magnitudes entirely and survives any monotone transform
    of either series.

    Concordance, discordance, and both tie counts are EXACT integers
    from sign tests on integer differences; one float expression at
    the end.  Plan: the O(days²) pair join runs on the pre-aggregated
    |days| frame (the `ts_theil_sen_slope` rule), one single-row
    reduce after.
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
    a = daily.select(
        F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    prod = (F.col("xb") - F.col("xa")) * (F.col("yb") - F.col("ya"))
    m = (
        a.crossJoin(b)
        .filter(F.col("db") > F.col("da"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("bigint").alias("nc"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("bigint").alias("nd"),
            F.sum(F.when(F.col("xb") == F.col("xa"), 1).otherwise(0))
            .cast("bigint")
            .alias("ntx"),
            F.sum(F.when(F.col("yb") == F.col("ya"), 1).otherwise(0))
            .cast("bigint")
            .alias("nty"),
            F.count(F.lit(1)).cast("bigint").alias("np"),
        )
    )
    return m.select(
        F.col("np").alias("n_pairs"),
        F.col("nc").alias("n_concordant"),
        F.col("nd").alias("n_discordant"),
        F.round(
            (F.col("nc") - F.col("nd"))
            / (
                F.sqrt((F.col("np") - F.col("ntx")).cast("double"))
                * F.sqrt((F.col("np") - F.col("nty")).cast("double"))
            ),
            6,
        ).alias("kendall_tau_b"),
    )


_SPEARMAN_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events) e
  GROUP BY 1
),
rk AS (
  SELECT day,
         2 * RANK() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1
           AS rx2,
         2 * RANK() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1
           AS ry2
  FROM daily
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(rx2) AS BIGINT) AS sx, CAST(SUM(ry2) AS BIGINT) AS sy,
         CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
         CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(SUM(ry2 * ry2) AS BIGINT) AS syy
  FROM rk
)
SELECT n AS n_days,
       ROUND((n * sxy - sx * sy)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))), 6)
         AS spearman_rho
FROM m
"""


@register("agg_spearman_rho", oracle=_SPEARMAN_ORACLE, category="aggregate")
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the click and purchase daily
    series — Pearson applied to MIDRANKS, completing the correlation
    trio (Pearson `agg_corr_matrix` / Kendall `agg_kendall_tau` /
    Spearman here): monotone-transform invariant like Kendall but
    O(n log n) instead of O(n²) pairs at scale.

    Doubled midranks `2·rank + ties − 1` keep every rank an exact
    INTEGER (the `agg_mannwhitney_u` trick — halving would make .5
    floats); the Pearson-on-ranks moments are exact BIGINTs and the
    doubling cancels in the correlation, so no correction term.

    Plan: corpus → |days| frame; two rank windows + one reduce on it.
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
    rk = daily.select(
        (
            2 * F.rank().over(Window.orderBy("x"))
            + F.count(F.lit(1)).over(Window.partitionBy("x"))
            - 1
        ).alias("rx2"),
        (
            2 * F.rank().over(Window.orderBy("y"))
            + F.count(F.lit(1)).over(Window.partitionBy("y"))
            - 1
        ).alias("ry2"),
    )
    m = rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rx2").cast("bigint").alias("sx"),
        F.sum("ry2").cast("bigint").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    return m.select(
        n.alias("n_days"),
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(
                    (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                        "double"
                    )
                )
                * F.sqrt(
                    (n * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                        "double"
                    )
                )
            ),
            6,
        ).alias("spearman_rho"),
    )


_WILSON_Z = 1.959964

_WILSON_ORACLE = f"""
WITH conv AS (
  SELECT user_id,
         CASE WHEN CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT) > 13
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS k
  FROM conv
)
SELECT n AS n_users, k AS n_converted,
       ROUND(CAST(k AS DOUBLE) / n, 6) AS p_hat,
       ROUND((k + {_WILSON_Z} * {_WILSON_Z} / 2)
             / (n + {_WILSON_Z} * {_WILSON_Z})
             - {_WILSON_Z} / (n + {_WILSON_Z} * {_WILSON_Z})
               * SQRT(CAST(k AS DOUBLE) * (n - k) / n
                      + {_WILSON_Z} * {_WILSON_Z} / 4), 6) AS wilson_lo,
       ROUND((k + {_WILSON_Z} * {_WILSON_Z} / 2)
             / (n + {_WILSON_Z} * {_WILSON_Z})
             + {_WILSON_Z} / (n + {_WILSON_Z} * {_WILSON_Z})
               * SQRT(CAST(k AS DOUBLE) * (n - k) / n
                      + {_WILSON_Z} * {_WILSON_Z} / 4), 6) AS wilson_hi
FROM m
"""


@register("agg_wilson_ci", oracle=_WILSON_ORACLE, category="aggregate")
def agg_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for the user conversion rate (>13
    purchase events, the `agg_sprt_sequential` outcome): the
    proportion CI that stays inside [0,1] and behaves at small k
    where the Wald interval (p̂ ± z√(p̂q̂/n)) collapses or overshoots —
    the right default for conversion dashboards.

    Closed form over two exact integers (n, k) and a fixed z; both
    engines evaluate the identical expression and round once.  Plan:
    one per-user aggregate + a single-row reduce.
    """
    ev = load_table(spark, sf_dir, "events")
    conv = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            > 13
        )
        .cast("int")
        .alias("converted")
    )
    m = conv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )
    z = _WILSON_Z
    n, k = F.col("n"), F.col("k")
    center = (k + z * z / 2) / (n + z * z)
    half = (
        z
        / (n + z * z)
        * F.sqrt(k.cast("double") * (n - k) / n + z * z / 4)
    )
    return m.select(
        n.alias("n_users"),
        k.alias("n_converted"),
        F.round(k.cast("double") / n, 6).alias("p_hat"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


_DELTA_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY user_id
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM per_user
),
c AS (
  SELECT n, sx, sy,
         CAST(sx AS DOUBLE) / sy AS r,
         (sxx / 1.0 - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
         (syy / 1.0 - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy,
         (sxy / 1.0 - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy,
         CAST(sx AS DOUBLE) / n AS mx,
         CAST(sy AS DOUBLE) / n AS my
  FROM m
)
SELECT n AS n_users,
       ROUND(r, 6) AS ratio,
       ROUND((vx / (mx * mx) + vy / (my * my) - 2 * cxy / (mx * my))
             * (r * r) / n, 10) AS var_ratio,
       ROUND(r - 1.959964 * SQRT((vx / (mx * mx) + vy / (my * my)
                                  - 2 * cxy / (mx * my))
                                 * (r * r) / n), 6) AS ci_lo,
       ROUND(r + 1.959964 * SQRT((vx / (mx * mx) + vy / (my * my)
                                  - 2 * cxy / (mx * my))
                                 * (r * r) / n), 6) AS ci_hi
FROM c
"""


@register("agg_delta_method_ratio", oracle=_DELTA_ORACLE, category="aggregate")
def agg_delta_method_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method CI for a RATIO metric (purchases per event, the
    per-user ratio-of-sums): var(X̄/Ȳ) ≈ r²(σ²ₓ/μ²ₓ + σ²ᵧ/μ²ᵧ −
    2σₓᵧ/μₓμᵧ)/n — the standard experimentation answer for CTR-like
    metrics, where treating the ratio as a plain mean (each user one
    observation of x/y) over- or under-states variance because users
    contribute unequal denominators.  Completes the experimentation
    shelf: z (proportions), Welch (means), THIS (ratios), CUPED
    (variance reduction), power (sizing), SPRT (sequential), Wilson
    (small-k proportions).

    All five second moments accumulate as exact BIGINTs in one
    reduce; the delta formula evaluates once on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.count(F.lit(1)).cast("bigint").alias("y"),
    )
    m = pu.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    n = F.col("n")
    r = F.col("sx").cast("double") / F.col("sy")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vx = (F.col("sxx") / 1.0 - F.col("sx").cast("double") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") / 1.0 - F.col("sy").cast("double") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy") / 1.0 - F.col("sx").cast("double") * F.col("sy") / n) / (n - 1)
    rel = vx / (mx * mx) + vy / (my * my) - 2 * cxy / (mx * my)
    var_r = rel * (r * r) / n
    return m.select(
        n.alias("n_users"),
        F.round(r, 6).alias("ratio"),
        F.round(var_r, 10).alias("var_ratio"),
        F.round(r - 1.959964 * F.sqrt(var_r), 6).alias("ci_lo"),
        F.round(r + 1.959964 * F.sqrt(var_r), 6).alias("ci_hi"),
    )


# --- Cramér's V (bias-corrected) ------------------------------------
_CRAMERS_V_ORACLE = """
WITH pairs AS (
  SELECT 'returnflag_x_linestatus' AS pair, l_returnflag AS a,
         l_linestatus AS b
  FROM lineitem
  UNION ALL
  SELECT 'returnflag_x_noisy_echo' AS pair, l_returnflag AS a,
         CASE WHEN l_linenumber % 4 = 0 THEN l_linestatus
              ELSE l_returnflag END AS b
  FROM lineitem
),
obs AS (
  SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY 1, 2, 3
),
marg AS (
  SELECT pair, a, b, n,
         SUM(n) OVER (PARTITION BY pair, a) AS row_tot,
         SUM(n) OVER (PARTITION BY pair, b) AS col_tot,
         SUM(n) OVER (PARTITION BY pair) AS tot
  FROM obs
),
chi AS (
  SELECT pair,
         CAST(MAX(tot) AS DOUBLE) AS n,
         CAST(COUNT(DISTINCT a) AS DOUBLE) AS r,
         CAST(COUNT(DISTINCT b) AS DOUBLE) AS c,
         SUM(POWER(n - CAST(row_tot AS DOUBLE) * col_tot / tot, 2)
             / (CAST(row_tot AS DOUBLE) * col_tot / tot)) AS chi2
  FROM marg GROUP BY pair
)
SELECT pair,
       CAST(n AS BIGINT) AS n_rows,
       CAST(r AS BIGINT) AS n_levels_a,
       CAST(c AS BIGINT) AS n_levels_b,
       ROUND(chi2, 4) AS chi2,
       ROUND(SQRT(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v,
       ROUND(SQRT(
         GREATEST(0, chi2 / n - (r - 1) * (c - 1) / (n - 1))
         / LEAST(r - (r - 1) * (r - 1) / (n - 1) - 1,
                 c - (c - 1) * (c - 1) / (n - 1) - 1) ), 6)
         AS cramers_v_corrected
FROM chi
"""


@register("agg_cramers_v", oracle=_CRAMERS_V_ORACLE, category="aggregate")
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size — plain and Bergsma/Wicher
    bias-corrected — over two contingency pairs at once: the REAL
    l_returnflag × l_linestatus association (independent in this
    corpus: plain V still reads a spurious nonzero, the corrected
    estimator clamps it to 0 — exactly the inflation the correction
    exists to remove) and a PLANTED noisy-echo pair (b copies
    returnflag except on every 4th linenumber) whose dependence is
    structural, so the corrected branch (phi² above its independence
    expectation) is exercised non-vacuously and stays oracle-checked.
    At 100 TB *everything* passes a chi² significance test; only
    effect sizes can rank candidate features, and only the corrected
    form doesn't inflate with sparse cells.

    Plan: both pairs derive map-side from ONE scan of the fact table
    (the union is two projections of the same columnar read);
    contingency counts are a single map-side-combined aggregate to an
    r×c-sized frame per pair, marginals are windows on that tiny
    frame, and the V algebra collapses to one row per pair.  Shuffle
    = |pairs| × r × c rows — scan-dominated at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p1 = li.select(
        F.lit("returnflag_x_linestatus").alias("pair"),
        F.col("l_returnflag").alias("a"),
        F.col("l_linestatus").alias("b"),
    )
    p2 = li.select(
        F.lit("returnflag_x_noisy_echo").alias("pair"),
        F.col("l_returnflag").alias("a"),
        F.when(F.col("l_linenumber") % 4 == 0, F.col("l_linestatus"))
        .otherwise(F.col("l_returnflag"))
        .alias("b"),
    )
    obs = (
        p1.unionByName(p2)
        .groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    marg = (
        obs.withColumn(
            "row_tot", F.sum("n").over(Window.partitionBy("pair", "a"))
        )
        .withColumn(
            "col_tot", F.sum("n").over(Window.partitionBy("pair", "b"))
        )
        .withColumn("tot", F.sum("n").over(Window.partitionBy("pair")))
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("tot")
    chi = marg.groupBy("pair").agg(
        F.max("tot").cast("double").alias("n"),
        F.countDistinct("a").cast("double").alias("r"),
        F.countDistinct("b").cast("double").alias("c"),
        F.sum(F.pow(F.col("n") - e, 2) / e).alias("chi2"),
    )
    n, r, c = F.col("n"), F.col("r"), F.col("c")
    phi2c = F.greatest(
        F.lit(0.0), F.col("chi2") / n - (r - 1) * (c - 1) / (n - 1)
    )
    rp = r - (r - 1) * (r - 1) / (n - 1)
    cp = c - (c - 1) * (c - 1) / (n - 1)
    return chi.select(
        "pair",
        n.cast("bigint").alias("n_rows"),
        r.cast("bigint").alias("n_levels_a"),
        c.cast("bigint").alias("n_levels_b"),
        F.round("chi2", 4).alias("chi2"),
        F.round(F.sqrt(F.col("chi2") / (n * F.least(r - 1, c - 1))), 6).alias(
            "cramers_v"
        ),
        F.round(F.sqrt(phi2c / F.least(rp - 1, cp - 1)), 6).alias(
            "cramers_v_corrected"
        ),
    )


# --- ANOVA effect size (eta² / omega²) ------------------------------
_ETA_SQ_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(value) AS s,
         SUM(value * value) AS ss
  FROM events GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n) AS DOUBLE) AS n,
         CAST(COUNT(*) AS DOUBLE) AS k,
         SUM(s) AS s,
         SUM(ss) AS ss,
         SUM(s * s / n) AS sb_raw
  FROM g
),
anova AS (
  SELECT n, k,
         sb_raw - s * s / n AS ss_between,
         ss - sb_raw AS ss_within,
         ss - s * s / n AS ss_total
  FROM tot
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(k AS BIGINT) AS n_groups,
       ROUND(ss_between, 4) AS ss_between,
       ROUND(ss_within, 4) AS ss_within,
       ROUND((ss_between / (k - 1)) / (ss_within / (n - k)), 6) AS f_stat,
       ROUND(ss_between / ss_total, 6) AS eta_sq,
       ROUND(GREATEST(0, (ss_between - (k - 1) * ss_within / (n - k))
                         / (ss_total + ss_within / (n - k))), 6)
         AS omega_sq
FROM anova
"""


@register("agg_eta_squared", oracle=_ETA_SQ_ORACLE, category="aggregate")
def agg_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size for value ~ event_type: eta² (the
    variance fraction the grouping explains) and the less-biased
    omega², plus the F statistic — the continuous-outcome companion
    to `agg_cramers_v` (categorical × categorical) and
    `agg_ttest_welch` (2 groups): at 100 TB the F test is always
    "significant"; eta²/omega² are what actually rank candidate
    segmentations.

    Plan: the entire ANOVA decomposition reduces to per-group
    sufficient statistics (n, Σx, Σx²) — ONE map-side-combined
    aggregate over the fact scan, then pure algebra on a k-row frame
    collapsed to a single row.  No window, no second scan, no
    per-row variance pass: SS_between = Σ sᵢ²/nᵢ − s²/n is computed
    from the same three sums, which is the only formulation that
    stays one-pass at scale.
    """
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").alias("s"),
            F.sum(F.col("value") * F.col("value")).alias("ss"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("double").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("s").alias("s"),
        F.sum("ss").alias("ss"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb_raw"),
    )
    n, k = F.col("n"), F.col("k")
    ss_between = F.col("sb_raw") - F.col("s") * F.col("s") / n
    ss_within = F.col("ss") - F.col("sb_raw")
    ss_total = F.col("ss") - F.col("s") * F.col("s") / n
    ms_within = ss_within / (n - k)
    return tot.select(
        n.cast("bigint").alias("n_rows"),
        k.cast("bigint").alias("n_groups"),
        F.round(ss_between, 4).alias("ss_between"),
        F.round(ss_within, 4).alias("ss_within"),
        F.round((ss_between / (k - 1)) / ms_within, 6).alias("f_stat"),
        F.round(ss_between / ss_total, 6).alias("eta_sq"),
        F.round(
            F.greatest(
                F.lit(0.0),
                (ss_between - (k - 1) * ms_within) / (ss_total + ms_within),
            ),
            6,
        ).alias("omega_sq"),
    )


# --- population stability index (distribution drift) ----------------
# Fixed log-ish bucket edges for `value` (0.01..490 observed range);
# 0.5 Laplace smoothing per bucket keeps PSI finite on empty cells.
_PSI_EDGES = (5.0, 10.0, 20.0, 40.0, 80.0, 160.0)
_PSI_CUTOFF_DAY = 16  # days 1-15 = baseline window A, 16+ = window B

_PSI_BUCKET_SQL = """CASE
  WHEN value < 5 THEN 0 WHEN value < 10 THEN 1 WHEN value < 20 THEN 2
  WHEN value < 40 THEN 3 WHEN value < 80 THEN 4 WHEN value < 160 THEN 5
  ELSE 6 END"""

_PSI_ORACLE = f"""
WITH bucketed AS (
  SELECT event_type,
         CASE WHEN EXTRACT(day FROM ts) < {_PSI_CUTOFF_DAY}
              THEN 'a' ELSE 'b' END AS win,
         {_PSI_BUCKET_SQL} AS bucket
  FROM events
),
cells AS (
  SELECT e.event_type, b.bucket,
         CAST(COALESCE(SUM(CASE WHEN c.win = 'a' THEN 1 END), 0)
              AS DOUBLE) + 0.5 AS na,
         CAST(COALESCE(SUM(CASE WHEN c.win = 'b' THEN 1 END), 0)
              AS DOUBLE) + 0.5 AS nb
  FROM (SELECT DISTINCT event_type FROM bucketed) e
  CROSS JOIN (SELECT UNNEST(range(7)) AS bucket) b
  LEFT JOIN bucketed c
    ON c.event_type = e.event_type AND c.bucket = b.bucket
  GROUP BY e.event_type, b.bucket
),
pcts AS (
  SELECT event_type, bucket,
         na / SUM(na) OVER (PARTITION BY event_type) AS pa,
         nb / SUM(nb) OVER (PARTITION BY event_type) AS pb
  FROM cells
)
SELECT event_type,
       ROUND(SUM((pa - pb) * LN(pa / pb)), 6) AS psi,
       SUM((pa - pb) * LN(pa / pb)) >= 0.1 AS drift_warning
FROM pcts
GROUP BY event_type
"""


@register("agg_psi_drift", oracle=_PSI_ORACLE, category="aggregate")
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between a baseline
    window (days < {_PSI_CUTOFF_DAY}) and the current window — THE
    industry drift gate for features and scores (PSI < 0.1 stable,
    0.1–0.25 shifting, > 0.25 retrain): fixed log-spaced value
    buckets, 0.5-smoothed cell counts so empty buckets can't blow up
    the log, symmetric KL form Σ (pa−pb)·ln(pa/pb).  Complements
    `agg_ks_test` (continuous two-sample) with the bucketed,
    monitoring-friendly statistic that's comparable across runs.

    Plan: ONE map-side-combined count over (event_type, window,
    bucket) — at most |types|×2×7 cells leave the scan; the smoothing
    grid (types × buckets) is synthesized by a broadcast cross join of
    two tiny distinct frames, and PSI algebra runs on the cell frame
    via windows.  Scan-dominated at any scale; the statistic's whole
    point is that the shuffled state is O(buckets), not O(rows).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.dayofmonth("ts") < _PSI_CUTOFF_DAY, "a")
        .otherwise("b")
        .alias("win"),
        F.expr(_PSI_BUCKET_SQL.replace("\n", " ")).alias("bucket"),
    )
    types = ev.select("event_type").distinct()
    buckets = spark.range(7).select(F.col("id").cast("int").alias("bucket"))
    grid = types.crossJoin(F.broadcast(buckets))
    cells = (
        grid.join(ev, ["event_type", "bucket"], "left")
        .groupBy("event_type", "bucket")
        .agg(
            (
                F.sum(F.when(F.col("win") == "a", 1).otherwise(0)).cast(
                    "double"
                )
                + 0.5
            ).alias("na"),
            (
                F.sum(F.when(F.col("win") == "b", 1).otherwise(0)).cast(
                    "double"
                )
                + 0.5
            ).alias("nb"),
        )
    )
    wt = Window.partitionBy("event_type")
    pcts = cells.select(
        "event_type",
        (F.col("na") / F.sum("na").over(wt)).alias("pa"),
        (F.col("nb") / F.sum("nb").over(wt)).alias("pb"),
    )
    term = (F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))
    return pcts.groupBy("event_type").agg(
        F.round(F.sum(term), 6).alias("psi"),
        (F.sum(term) >= 0.1).alias("drift_warning"),
    )


# --- concentration (HHI) --------------------------------------------
_HHI_ORACLE = """
WITH s AS (
  SELECT source, CAST(SUM(LEN(string_split(text, ' '))) AS DOUBLE) AS tok
  FROM documents GROUP BY source
),
sh AS (
  SELECT source, tok / SUM(tok) OVER () AS share,
         ROW_NUMBER() OVER (ORDER BY tok DESC, source) AS rnk
  FROM s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
       ROUND(SUM(share * share), 6) AS hhi,
       ROUND(1.0 / SUM(share * share), 4) AS effective_sources,
       ROUND(SUM(CASE WHEN rnk <= 3 THEN share ELSE 0 END), 6)
         AS top3_share,
       ROUND(MAX(share), 6) AS max_share
FROM sh
"""


@register("agg_concentration_hhi", oracle=_HHI_ORACLE, category="aggregate")
def agg_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of the corpus over sources
    (token-weighted): HHI = Σ share², its reciprocal (the "effective
    number of sources" — the diversity number a dataset card should
    quote instead of the raw catalog count), the top-3 share, and the
    single-source max.  The one-number companion to
    `agg_gini_coefficient`/`agg_lorenz_curve` that mixture design
    (`llm_domain_mixture`) moves: rebalancing should push
    effective_sources toward the catalog count.

    Plan: per-source token sums in ONE map-side-combined pass; share
    normalization, ranking and the HHI algebra all run on the
    |sources|-row frame (catalog-bounded windows), collapsing to a
    single row.  Scan-dominated at any scale.
    """
    s = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split("text", " ")).cast("bigint"))
            .cast("double")
            .alias("tok")
        )
    )
    w_all = Window.partitionBy()
    sh = s.select(
        "source",
        (F.col("tok") / F.sum("tok").over(w_all)).alias("share"),
        F.row_number()
        .over(Window.orderBy(F.col("tok").desc(), "source"))
        .alias("rnk"),
    )
    return sh.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        F.round(F.sum(F.col("share") * F.col("share")), 6).alias("hhi"),
        F.round(1.0 / F.sum(F.col("share") * F.col("share")), 4).alias(
            "effective_sources"
        ),
        F.round(
            F.sum(F.when(F.col("rnk") <= 3, F.col("share")).otherwise(0.0)), 6
        ).alias("top3_share"),
        F.round(F.max("share"), 6).alias("max_share"),
    )


# ------------------------------------------------ k-anonymity audit
# Quasi-identifier: (lang, source, length-centile-bucket) — the tuple
# an adversary could plausibly know about a document's author.
_KANON_KS = (2, 5, 10)
_KANON_LEN_BUCKET = 100  # n_chars bucket width

_KANON_ORACLE = f"""
WITH cls AS (
  SELECT lang, source, n_chars // {_KANON_LEN_BUCKET} AS lb,
         CAST(COUNT(*) AS BIGINT) AS sz
  FROM documents GROUP BY 1, 2, 3
),
tot AS (
  SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(sz) AS BIGINT) AS min_class
  FROM cls
)
SELECT u.k,
       tot.n_classes,
       tot.min_class,
       CAST(COALESCE(SUM(CASE WHEN cls.sz < u.k THEN 1 END), 0) AS BIGINT)
         AS classes_below,
       CAST(COALESCE(SUM(CASE WHEN cls.sz < u.k THEN cls.sz END), 0)
            AS BIGINT) AS rows_below,
       ROUND(CAST(COALESCE(SUM(CASE WHEN cls.sz < u.k THEN cls.sz END), 0)
                  AS DOUBLE) / tot.n_rows, 6) AS share_at_risk,
       tot.min_class >= u.k AS k_anonymous
FROM cls
CROSS JOIN (SELECT UNNEST([{', '.join(f'CAST({k} AS BIGINT)' for k in _KANON_KS)}]) AS k) u
CROSS JOIN tot
GROUP BY u.k, tot.n_classes, tot.min_class, tot.n_rows
ORDER BY u.k
"""


@register("agg_k_anonymity", oracle=_KANON_ORACLE, category="aggregate")
def agg_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the documents table under the
    quasi-identifier (lang, source, n_chars//{_KANON_LEN_BUCKET}): for
    k in {_KANON_KS}, the number of equivalence classes smaller than
    k, the row mass they carry, and whether the release is k-anonymous
    — the re-identification-risk gate a privacy review runs before a
    corpus (or its metadata) ships.  Rows in small classes are the
    ones suppression/generalization must handle.

    Plan: ONE map-side-combined groupBy over the quasi-identifier (the
    class frame is catalog-bounded: |langs| x |sources| x length
    buckets); the per-k risk sums explode that small frame by |k|
    and reduce again.  The corpus is scanned exactly once.
    """
    cls = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            "lang",
            "source",
            (F.col("n_chars") / _KANON_LEN_BUCKET).cast("bigint").alias("lb"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    tot = cls.agg(
        F.sum("sz").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("sz").cast("bigint").alias("min_class"),
    )
    ks = cls.crossJoin(F.broadcast(tot)).withColumn(
        "k",
        F.explode(
            F.array(*[F.lit(k).cast("bigint") for k in _KANON_KS])
        ),
    )
    return (
        ks.groupBy("k", "n_classes", "min_class", "n_rows")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("sz") < F.col("k"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("classes_below"),
            F.coalesce(
                F.sum(F.when(F.col("sz") < F.col("k"), F.col("sz"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("rows_below"),
        )
        .select(
            "k",
            "n_classes",
            "min_class",
            "classes_below",
            "rows_below",
            F.round(
                F.col("rows_below").cast("double") / F.col("n_rows"), 6
            ).alias("share_at_risk"),
            (F.col("min_class") >= F.col("k")).alias("k_anonymous"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------- Kruskal–Wallis H
_KW_ORACLE = """
WITH s AS (
  SELECT event_type, CAST(ROUND(value * 10000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
hist AS (
  SELECT v, event_type, CAST(COUNT(*) AS BIGINT) AS n_gv
  FROM s GROUP BY v, event_type
),
vt AS (SELECT v, CAST(SUM(n_gv) AS BIGINT) AS t FROM hist GROUP BY v),
sp AS (SELECT v, t, CAST(SUM(t) OVER (ORDER BY v) AS BIGINT) AS ct FROM vt),
g AS (
  SELECT h.event_type,
         CAST(SUM(h.n_gv) AS BIGINT) AS n_g,
         CAST(SUM(h.n_gv * (2 * sp.ct - sp.t + 1)) AS BIGINT) AS r2
  FROM hist h JOIN sp USING (v)
  GROUP BY h.event_type
),
ties AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n_total,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie_corr
  FROM vt
),
ss AS (
  SELECT n_total, tie_corr,
         SUM(n_g * POW(CAST(r2 AS DOUBLE) / (2 * n_g)
                       - (n_total + 1) / 2.0, 2)) AS ssq
  FROM g, ties GROUP BY n_total, tie_corr
),
hh AS (
  SELECT 12.0 * ssq / (CAST(n_total AS DOUBLE) * (n_total + 1)) AS h_stat,
         12.0 * ssq / (CAST(n_total AS DOUBLE) * (n_total + 1))
           / (1.0 - CAST(tie_corr AS DOUBLE)
                    / (CAST(n_total AS DOUBLE) * n_total * n_total - n_total))
           AS h_adj
  FROM ss
)
SELECT g.event_type, g.n_g,
       ROUND(CAST(g.r2 AS DOUBLE) / 2, 1) AS rank_sum,
       ROUND(CAST(g.r2 AS DOUBLE) / (2 * g.n_g), 6) AS mean_rank,
       ROUND(hh.h_stat, 4) AS h_stat,
       ROUND(hh.h_adj, 4) AS h_adj,
       hh.h_adj > 9.488 AS reject_95
FROM g, hh ORDER BY g.event_type
"""


@register("agg_kruskal_wallis", oracle=_KW_ORACLE, category="aggregate")
def agg_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test across ALL five event-type value samples —
    the k-group generalisation of `agg_mannwhitney_u` (one-way ANOVA on
    ranks, no normality assumption), with the tie-corrected statistic
    H' = H / (1 − Σ(t³−t)/(N³−N)) against χ²₀.₉₅,df=4 = 9.488.

    Rank arithmetic stays EXACT end to end: the corpus collapses to
    the (value, group) histogram first, per-value totals ride the
    two-pass range-partitioned prefix sum
    (`plans.rank.global_order_stats` — never a single-partition
    window), and each group's DOUBLED midrank sum
    Σ n_gv·(2·ct_v − t_v + 1) is a BIGINT (exact while N ≲ 3e9; the
    float H forms once from five group rows). The |groups|-row ledger
    cross-joins broadcast scalars — no data-sized shuffle after the
    histogram groupBy.
    """
    # NULL values are unobserved, not rank-able: both engines exclude
    # them (Spark would rank NULL first, DuckDB last — no shared order).
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    hist = s.groupBy("v", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gv")
    )
    vt = hist.groupBy("v").agg(F.sum("n_gv").cast("bigint").alias("t"))
    sp = global_order_stats(vt, ["v"], cumsum={"t": "ct"})
    rank2 = 2 * F.col("ct") - F.col("t") + 1  # doubled midrank at v
    g = (
        hist.join(sp.select("v", "t", "ct"), "v")
        .groupBy("event_type")
        .agg(
            F.sum("n_gv").cast("bigint").alias("n_g"),
            F.sum(F.col("n_gv") * rank2).cast("bigint").alias("r2"),
        )
    )
    ties = sp.agg(
        F.sum("t").cast("bigint").alias("n_total"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_corr"),
    )
    mean_rank = F.col("r2").cast("double") / (2 * F.col("n_g"))
    ss = (
        g.crossJoin(F.broadcast(ties))
        .groupBy("n_total", "tie_corr")
        .agg(
            F.sum(
                F.col("n_g")
                * F.pow(mean_rank - (F.col("n_total") + 1) / F.lit(2.0), 2)
            ).alias("ssq")
        )
    )
    n_d = F.col("n_total").cast("double")
    h_stat = 12.0 * F.col("ssq") / (n_d * (F.col("n_total") + 1))
    h_adj = h_stat / (
        1.0
        - F.col("tie_corr").cast("double")
        / (n_d * F.col("n_total") * F.col("n_total") - F.col("n_total"))
    )
    hh = ss.select(h_stat.alias("h_stat"), h_adj.alias("h_adj"))
    return (
        g.crossJoin(F.broadcast(hh))
        .select(
            "event_type",
            "n_g",
            F.round(F.col("r2").cast("double") / 2, 1).alias("rank_sum"),
            F.round(F.col("r2").cast("double") / (2 * F.col("n_g")), 6).alias(
                "mean_rank"
            ),
            F.round("h_stat", 4).alias("h_stat"),
            F.round("h_adj", 4).alias("h_adj"),
            (F.col("h_adj") > 9.488).alias("reject_95"),
        )
        .orderBy("event_type")
    )


# ------------------------------------- Brown–Forsythe (Levene) test
_LEVENE_ORACLE = """
WITH med AS (
  SELECT event_type, MEDIAN(value) AS m FROM events GROUP BY event_type
),
z AS (
  SELECT e.event_type, ABS(e.value - med.m) AS z
  FROM events e JOIN med USING (event_type)
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
         SUM(z) AS s1, SUM(z * z) AS s2
  FROM z GROUP BY event_type
),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n, SUM(s1) AS st,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
),
parts AS (
  SELECT n, k,
         SUM(n_g * POW(s1 / n_g - st / n, 2)) AS ssb,
         SUM(s2 - s1 * s1 / n_g) AS ssw
  FROM g, tot GROUP BY n, k, st
),
w AS (
  SELECT CAST(n - k AS DOUBLE) / (k - 1) * ssb / ssw AS w_stat FROM parts
)
SELECT g.event_type, g.n_g,
       ROUND(g.s1 / g.n_g, 6) AS mean_absdev,
       ROUND(w.w_stat, 4) AS w_stat,
       w.w_stat > 2.372 AS reject_95
FROM g, w ORDER BY g.event_type
"""


@register("agg_levene_bf", oracle=_LEVENE_ORACLE, category="aggregate")
def agg_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene with group MEDIANS) for homogeneity
    of variance across the five event-type value samples — the
    robust pre-flight for every pooled-variance test in the battery
    (Welch sidesteps it; classic ANOVA does not). W compares the
    between-group to within-group spread of |x − median_g| against
    F₀.₉₅(k−1, ∞) = 2.372.

    Two passes, both group-local: (1) exact interpolated medians per
    group (5 rows, broadcast back over the corpus — no second shuffle
    of the data side beyond its groupBy); (2) one groupBy computing
    n/Σz/Σz² per group, from which SSB and SSW form in closed form on
    the |groups|-row ledger (SSW = Σz² − (Σz)²/n per group). No
    data-sized window, no second scan: medians and the z-aggregation
    reuse the one exchange on event_type.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("m"))
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("m")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("z").alias("s1"),
        F.sum(F.col("z") * F.col("z")).alias("s2"),
    )
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s1").alias("st"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    parts = (
        g.crossJoin(F.broadcast(tot))
        .groupBy("n", "k", "st")
        .agg(
            F.sum(
                F.col("n_g")
                * F.pow(F.col("s1") / F.col("n_g") - F.col("st") / F.col("n"), 2)
            ).alias("ssb"),
            F.sum(
                F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_g")
            ).alias("ssw"),
        )
    )
    w = parts.select(
        (
            (F.col("n") - F.col("k")).cast("double")
            / (F.col("k") - 1)
            * F.col("ssb")
            / F.col("ssw")
        ).alias("w_stat")
    )
    return (
        g.crossJoin(F.broadcast(w))
        .select(
            "event_type",
            "n_g",
            F.round(F.col("s1") / F.col("n_g"), 6).alias("mean_absdev"),
            F.round("w_stat", 4).alias("w_stat"),
            (F.col("w_stat") > 2.372).alias("reject_95"),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- Tukey IQR outlier fences
_TUKEY_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.25) AS q1,
         quantile_cont(value, 0.75) AS q3
  FROM events GROUP BY event_type
),
f AS (
  SELECT event_type, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo,
         q3 + 1.5 * (q3 - q1) AS hi
  FROM q
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(f.q1, 6) AS q1,
       ROUND(f.q3, 6) AS q3,
       ROUND(f.lo, 6) AS fence_lo,
       ROUND(f.hi, 6) AS fence_hi,
       CAST(SUM(CASE WHEN e.value < f.lo OR e.value > f.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(AVG(CASE WHEN e.value < f.lo OR e.value > f.hi
                      THEN 1.0 ELSE 0.0 END), 6) AS outlier_rate
FROM events e JOIN f USING (event_type)
GROUP BY e.event_type, f.q1, f.q3, f.lo, f.hi
ORDER BY e.event_type
"""


@register("agg_tukey_fences", oracle=_TUKEY_ORACLE, category="aggregate")
def agg_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event type: exact interpolated
    Q1/Q3, fences at 1.5·IQR, and the count/share of values beyond
    them — the boxplot rule, the distribution-free outlier gate the
    anomaly suite (z-score, MAD) assumes has already run at ingest.
    events.value is right-skewed (sf0.01: max ≈ 7× Q3), so the upper
    fence is non-vacuous by construction.

    Plan: pass 1 collapses the corpus to a 5-row fence ledger (exact
    `percentile` — interpolated, matching DuckDB `quantile_cont`);
    pass 2 broadcasts the fences back and counts in the same groupBy
    exchange. Only the |groups|-row side ever re-shuffles.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25D)").alias("q1"),
        F.expr("percentile(value, 0.75D)").alias("q3"),
    )
    f = q.select(
        "event_type",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "q1", "q3", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
            F.round(F.avg(F.when(out, 1.0).otherwise(0.0)), 6).alias(
                "outlier_rate"
            ),
        )
        .select(
            "event_type",
            "n",
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            F.round("lo", 6).alias("fence_lo"),
            F.round("hi", 6).alias("fence_hi"),
            "n_outliers",
            "outlier_rate",
        )
        .orderBy("event_type")
    )


# ------------------------------------------------- l-diversity audit
_LDIV_LS = (2, 3, 5, 10)


_LDIV_ORACLE = f"""
WITH e AS (SELECT event_type, HOUR(ts) AS hb, user_id FROM {EVENTS_REL}),
cu AS (
  SELECT event_type, hb, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2, 3
),
cs AS (
  SELECT event_type, hb,
         CAST(SUM(c) AS BIGINT) AS sz,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM cu GROUP BY 1, 2
),
ent AS (
  SELECT cu.event_type, cu.hb,
         MAX(cs.n_distinct) AS n_distinct,
         EXP(-SUM(CAST(cu.c AS DOUBLE) / cs.sz
                  * LN(CAST(cu.c AS DOUBLE) / cs.sz))) AS ent_l
  FROM cu JOIN cs USING (event_type, hb)
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MIN(n_distinct) AS BIGINT) AS min_distinct,
         MIN(ent_l) AS min_ent
  FROM ent
)
SELECT u.l,
       tot.n_classes,
       tot.min_distinct,
       CAST(COALESCE(SUM(CASE WHEN ent.n_distinct < u.l THEN 1 END), 0)
            AS BIGINT) AS classes_below,
       ROUND(CAST(COALESCE(SUM(CASE WHEN ent.n_distinct < u.l THEN 1 END), 0)
                  AS DOUBLE) / tot.n_classes, 6) AS share_classes_below,
       tot.min_distinct >= u.l AS distinct_l_diverse,
       ROUND(tot.min_ent, 6) AS min_entropy_l,
       tot.min_ent >= u.l AS entropy_l_diverse
FROM ent
CROSS JOIN (SELECT UNNEST([{', '.join(f'CAST({l} AS BIGINT)' for l in _LDIV_LS)}]) AS l) u
CROSS JOIN tot
GROUP BY u.l, tot.n_classes, tot.min_distinct, tot.min_ent
ORDER BY u.l
"""


@register("agg_l_diversity", oracle=_LDIV_ORACLE, category="aggregate")
def agg_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the companion gate `agg_k_anonymity` (class
    SIZE) cannot express: within each quasi-identifier class
    (event_type, hour-of-day) the SENSITIVE attribute (user_id) must
    take at least l distinct values (distinct l-diversity) and carry
    at least l effective values by entropy (entropy l-diversity,
    exp(H) — robust to one user dominating a class). For l in
    {_LDIV_LS}: classes below l, their share, and both pass flags.

    Plan: one groupBy to (class, user) counts, one to the
    |classes|-row ledger (n_distinct, size, entropy in a single
    aggregate after a broadcast-joined size), then the l-grid
    cross-joins the 1-row summary — everything past the second
    groupBy is catalog-bounded arithmetic. Counts BIGINT; entropy
    forms from exact count ratios and rounds once.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hb"), "user_id"
    )
    cu = ev.groupBy("event_type", "hb", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cs = cu.groupBy("event_type", "hb").agg(
        F.sum("c").cast("bigint").alias("sz"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("sz")
    ent = (
        cu.join(cs, ["event_type", "hb"])
        .groupBy("event_type", "hb")
        .agg(
            F.max("n_distinct").alias("n_distinct"),
            F.exp(-F.sum(p * F.log(p))).alias("ent_l"),
        )
    )
    tot = ent.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("n_distinct").cast("bigint").alias("min_distinct"),
        F.min("ent_l").alias("min_ent"),
    )
    ls = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(l).cast("bigint") for l in _LDIV_LS])
        ).alias("l")
    )
    return (
        ent.crossJoin(F.broadcast(ls))
        .crossJoin(F.broadcast(tot))
        .groupBy("l", "n_classes", "min_distinct", "min_ent")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("n_distinct") < F.col("l"), 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("classes_below")
        )
        .select(
            "l",
            "n_classes",
            "min_distinct",
            "classes_below",
            F.round(
                F.col("classes_below").cast("double") / F.col("n_classes"), 6
            ).alias("share_classes_below"),
            (F.col("min_distinct") >= F.col("l")).alias("distinct_l_diverse"),
            F.round("min_ent", 6).alias("min_entropy_l"),
            (F.col("min_ent") >= F.col("l")).alias("entropy_l_diverse"),
        )
        .orderBy("l")
    )


# ------------------------------------- raking / iterative prop. fit
_IPF_ITERS = 3


def _ipf_oracle() -> str:
    """Unrolled IPF (like the pagerank oracle): each iteration is one
    row-scaling CTE + one column-scaling CTE over the |types| x |dows|
    cell ledger."""
    sql = f"""
WITH e AS (
  SELECT event_type, DAYOFWEEK(ts) AS dow, user_id FROM {EVENTS_REL}
),
cells AS (
  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY 1, 2
),
nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells),
rm AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS du
  FROM e GROUP BY 1
),
cm AS (
  SELECT dow, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS du
  FROM e GROUP BY 1
),
rt AS (
  SELECT event_type,
         CAST(nt.n_total AS DOUBLE) * du / (SELECT SUM(du) FROM rm)
           AS target_r
  FROM rm, nt
),
ct AS (
  SELECT dow,
         CAST(nt.n_total AS DOUBLE) * du / (SELECT SUM(du) FROM cm)
           AS target_c
  FROM cm, nt
),
w0 AS (
  SELECT c.event_type, c.dow, c.n, rt.target_r, ct.target_c,
         CAST(c.n AS DOUBLE) AS w
  FROM cells c
  JOIN rt ON rt.event_type = c.event_type
  JOIN ct ON ct.dow = c.dow
)"""
    prev = "w0"
    for i in range(1, _IPF_ITERS + 1):
        sql += f""",
r{i} AS (
  SELECT event_type, dow, n, target_r, target_c,
         w * (target_r / SUM(w) OVER (PARTITION BY event_type)) AS w
  FROM {prev}
),
c{i} AS (
  SELECT event_type, dow, n, target_r, target_c,
         w * (target_c / SUM(w) OVER (PARTITION BY dow)) AS w
  FROM r{i}
)"""
        prev = f"c{i}"
    sql += f""",
rowsum AS (
  SELECT SUM(w) OVER (PARTITION BY event_type) / target_r - 1 AS re
  FROM {prev}
),
err AS (SELECT MAX(ABS(re)) AS max_row_err FROM rowsum)
SELECT f.event_type, f.dow, f.n AS observed,
       ROUND(f.w, 4) AS fitted,
       ROUND(f.w / f.n, 6) AS weight_ratio,
       ROUND(err.max_row_err, 6) AS max_row_margin_err
FROM {prev} f, err
ORDER BY f.event_type, f.dow
"""
    return sql


@register("agg_raking_ipf", oracle=_ipf_oracle(), category="aggregate")
def agg_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking (iterative proportional fitting) of the event-count
    table to user-population margins: cell (event_type, day-of-week)
    counts are rescaled in {_IPF_ITERS} row/column rounds until their
    margins match the DISTINCT-USER share per type and per weekday
    (both normalized to the same grand total, the solvability
    condition) — the survey-weighting move that corrects activity
    counts for heavy-user overrepresentation. Output: per-cell fitted
    weight + weight ratio and the residual row-margin error (column
    margins are exact by construction after the final column pass).

    Scale shape: the corpus collapses ONCE to the |types| x |dows|
    <= 35-row cell ledger plus two distinct-count margins; every IPF
    round is two partitioned window-sums over that ledger — bounded by
    the CATALOG, not data (the W-audit sees only partitioned windows).
    Fixed iteration count keeps both engines bit-comparable; on this
    doubly-positive table {_IPF_ITERS} rounds converge to <1e-3
    relative margin error.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.dayofweek("ts") - 1).alias("dow"),
        "user_id",
    )
    cells = ev.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    nt = cells.agg(F.sum("n").cast("bigint").alias("n_total"))
    rm = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("du")
    )
    cm = ev.groupBy("dow").agg(
        F.countDistinct("user_id").cast("bigint").alias("du")
    )
    rsum = rm.agg(F.sum("du").alias("sdu"))
    csum = cm.agg(F.sum("du").alias("sdu"))
    rt = (
        rm.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(rsum))
        .select(
            "event_type",
            (
                F.col("n_total").cast("double") * F.col("du") / F.col("sdu")
            ).alias("target_r"),
        )
    )
    ct = (
        cm.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(csum))
        .select(
            "dow",
            (
                F.col("n_total").cast("double") * F.col("du") / F.col("sdu")
            ).alias("target_c"),
        )
    )
    w = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .select(
            "event_type",
            "dow",
            "n",
            "target_r",
            "target_c",
            F.col("n").cast("double").alias("w"),
        )
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    for _ in range(_IPF_ITERS):
        w = w.withColumn(
            "w", F.col("w") * (F.col("target_r") / F.sum("w").over(wr))
        )
        w = w.withColumn(
            "w", F.col("w") * (F.col("target_c") / F.sum("w").over(wc))
        )
    err = w.select(
        (F.sum("w").over(wr) / F.col("target_r") - 1).alias("re")
    ).agg(F.max(F.abs(F.col("re"))).alias("max_row_err"))
    return (
        w.crossJoin(F.broadcast(err))
        .select(
            "event_type",
            "dow",
            F.col("n").alias("observed"),
            F.round("w", 4).alias("fitted"),
            F.round(F.col("w") / F.col("n"), 6).alias("weight_ratio"),
            F.round("max_row_err", 6).alias("max_row_margin_err"),
        )
        .orderBy("event_type", "dow")
    )


# --------------------------------------- Theil / Atkinson inequality
_THEIL_ORACLE = f"""
WITH x AS (
  SELECT event_type, user_id, SUM(value) AS v
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(v) AS sv,
         SUM(v * LN(v)) AS svlv,
         SUM(LN(v)) AS slv
  FROM x GROUP BY 1
)
SELECT event_type,
       n AS n_users,
       ROUND(sv / n, 6) AS mean_value,
       ROUND(svlv / sv - LN(sv / n), 6) AS theil_t,
       ROUND(LN(sv / n) - slv / n, 6) AS theil_l,
       ROUND(1 - EXP(slv / n) / (sv / n), 6) AS atkinson_1
FROM m ORDER BY event_type
"""


@register("agg_theil_atkinson", oracle=_THEIL_ORACLE, category="aggregate")
def agg_theil_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-family inequality indices of per-user engagement value
    within each event type: Theil T (top-sensitive), Theil L / mean
    log deviation (bottom-sensitive), and Atkinson(ε=1) = 1 − exp(mean
    ln x)/μ — the decomposable complements to `agg_gini_coefficient`
    (Gini ranks, these weigh; T additionally decomposes
    between/within groups, which Gini cannot). Engagement value sums
    are strictly positive, so the logs are total.

    Plan: ONE exchange to the (type, user) rollup, then a map-side-
    combined reduce of four sufficient statistics (n, Σx, Σx·lnx,
    Σlnx) per type — no sort, no window, no second scan; every index
    is closed-form arithmetic on the |types|-row ledger. (Theil T is
    computed as Σx·lnx/Σx − ln μ, algebraically equal to the textbook
    (1/n)Σ(x/μ)ln(x/μ) but one pass.)
    """
    x = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.sum("value").alias("v"))
    )
    m = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.log("v")).alias("svlv"),
        F.sum(F.log("v")).alias("slv"),
    )
    mu = F.col("sv") / F.col("n")
    return m.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.round(mu, 6).alias("mean_value"),
        F.round(F.col("svlv") / F.col("sv") - F.log(mu), 6).alias("theil_t"),
        F.round(F.log(mu) - F.col("slv") / F.col("n"), 6).alias("theil_l"),
        F.round(1 - F.exp(F.col("slv") / F.col("n")) / mu, 6).alias(
            "atkinson_1"
        ),
    ).orderBy("event_type")
