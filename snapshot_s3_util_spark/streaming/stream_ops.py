"""Structured Streaming operators (SURVEY.md §2B "Streaming").

Every op runs a REAL streaming query (file source -> windowed/stateful
transform -> memory sink), then returns the final state as a batch
DataFrame — the batch-equivalence discipline of SURVEY §5: a streaming
query over a bounded file source must converge to the batch answer, so
the DuckDB oracle checks the streaming result end-to-end.

Scale notes: watermarks bound state (without one, window state grows
forever); at 100 TB-of-stream the state store moves to RocksDB
(`spark.sql.streaming.stateStore.providerClass`) and the file source
becomes Kafka — the query shapes below are unchanged.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import (
    EVENTS_REL,
    KEYS_FP_SQL,
    digests_fp_col,
    keys_fp_col,
    row_md5_col,
)

_counter = itertools.count()


def _stage(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Write events once as the streaming source dir; return readStream."""
    ev = load_table(spark, sf_dir, "events")
    src = f"{tmp}/src"
    ev.write.mode("overwrite").parquet(src)
    return spark.readStream.schema(ev.schema).parquet(src)


def _run_to_table(
    stream_df: DataFrame, mode: str, checkpoint_location: str | None = None
) -> tuple[DataFrame, str]:
    name = f"s3u_stream_{next(_counter)}"
    writer = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
    )
    if checkpoint_location is not None:
        # needed when the checkpoint itself is the artifact under test
        # (stream_state_inspect) or must live inside the op's tmp dir
        writer = writer.option("checkpointLocation", checkpoint_location)
    q = writer.start()
    q.processAllAvailable()
    q.stop()
    spark = stream_df.sparkSession
    return spark.table(name), name


@register(
    "stream_tumbling",
    oracle=f"""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM {EVENTS_REL} e
    GROUP BY 1, 2
    """,
    category="streaming",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event_type (streaming).

    `window()` buckets are epoch-aligned, so window_start equals the
    batch `date_trunc('hour')` — the equivalence the oracle asserts.
    Watermark 2h bounds state to ~2 open hours per key.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_tumble_")
    try:
        src = _stage(spark, sf_dir, tmp)
        agg = (
            src.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        table, _ = _run_to_table(agg, "complete")
        return (
            table.select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            ).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_sliding",
    oracle=f"""
    WITH starts AS (
      SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
                  - j * (INTERVAL '15 minutes') AS TIMESTAMP) AS window_start,
             event_type, value
      FROM {EVENTS_REL} e
      CROSS JOIN (SELECT UNNEST(range(4)) AS j)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM starts
    GROUP BY 1, 2
    """,
    category="streaming",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min (each event in 4 windows).

    Oracle reconstructs the same windows by shifting the 15-min bucket
    0..3 slots back — every event lands in exactly window_len/slide
    windows, which is also the streaming state-size multiplier.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_slide_")
    try:
        src = _stage(spark, sf_dir, tmp)
        agg = (
            src.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        table, _ = _run_to_table(agg, "complete")
        return (
            table.select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            ).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_session",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM {EVENTS_REL} e
    ),
    sessions AS (
      SELECT user_id, ts, value,
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
    category="streaming",
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — true stateful streaming.

    `session_window` merges events closer than the gap; a session ends
    gap after its last event. The oracle sessionizes in SQL (lag +
    cumulative-sum), per SURVEY §2B's verified formulation.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_sess_")
    try:
        src = _stage(spark, sf_dir, tmp)
        agg = (
            src.withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        table, _ = _run_to_table(agg, "complete")
        return (
            table.select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
                "sum_value",
            ).localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_WATERMARK_LATE_ORACLE = """
WITH on_time AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-12 00:00:00'
    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-15 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM on_time)
SELECT DATE_TRUNC('hour', ts) AS window_start, COUNT(*) AS n_events
FROM on_time
GROUP BY DATE_TRUNC('hour', ts)
HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
"""


@register(
    "stream_watermark_late", oracle=_WATERMARK_LATE_ORACLE, category="streaming"
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: a second micro-batch of too-late rows must
    NOT reopen finalized windows.

    Oracle-checkable because append-mode emission is deterministic on
    fixed data: the emitted set is exactly the hourly windows of the
    on-time batch whose `window.end <= watermark` (final watermark =
    max on-time ts - 1h), with batch-1-only counts — the late batch's
    rows all carry ts < watermark and are dropped before aggregation.

    Batch 1 = events of 2024-01-12..15 (advances the watermark to
    max_ts - 1h); batch 2 replays the 2024-01-12 00:00-06:00 rows as
    late arrivals. Append mode emits only finalized windows; the late
    batch's windows are already closed, so counts equal batch-1-only.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_late_")
    try:
        ev = load_table(
            spark, sf_dir, "events",
            ts_min="2024-01-12 00:00:00", ts_max="2024-01-15 00:00:00",
        )
        on_time = ev.filter(
            (F.col("ts") >= F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        late = ev.filter(
            (F.col("ts") >= F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 06:00:00").cast("timestamp"))
        )
        src_dir = f"{tmp}/src"
        on_time.write.mode("overwrite").parquet(src_dir)

        stream = spark.readStream.schema(ev.schema).parquet(src_dir)
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        name = f"s3u_stream_{next(_counter)}"
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()  # batch 1: watermark advances
        late.write.mode("append").parquet(src_dir)  # batch 2: late rows
        q.processAllAvailable()
        q.stop()
        return (
            spark.table(name)
            .select(F.col("w.start").alias("window_start"), "n_events")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_dedup_stateful",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_unique
    FROM {EVENTS_REL} e
    GROUP BY event_type
    """,
    category="streaming",
)
def stream_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful exactly-once dedup: the input stream carries every
    event TWICE; `dropDuplicates(event_id)` must restore exactly-once
    counts (the oracle counts the original, un-duplicated table).

    This is the idempotent-ingest primitive for at-least-once sources;
    with a watermark the dedup state ages out instead of growing
    forever.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_dedup_")
    try:
        ev = load_table(spark, sf_dir, "events")
        doubled = ev.unionByName(ev)
        src = f"{tmp}/src"
        doubled.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).parquet(src)
        agg = (
            stream.dropDuplicates(["event_id"])
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        table, _ = _run_to_table(agg, "complete")
        return table.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_join_static",
    oracle=f"""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM {EVENTS_REL} e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    category="streaming",
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to a
    STATIC dimension (customer), then aggregated per (segment, type).

    The canonical streaming-enrichment shape: the static side is a
    batch DataFrame broadcast into every micro-batch (no state, no
    watermark needed for the join itself — only the stream side
    progresses). At 100 TB-of-stream the dimension stays a broadcast
    (or a Delta/parquet table re-read per trigger for slowly-changing
    dims); the stream never shuffles for the join.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_enrich_")
    try:
        src = _stage(spark, sf_dir, tmp)
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        agg = (
            src.join(F.broadcast(cust), src.user_id == cust.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )
        table, _ = _run_to_table(agg, "complete")
        return table.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "stream_stream_join",
    oracle=f"""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           DATE_DIFF('microsecond', v.ts, p.ts) AS lag_us
    FROM {EVENTS_REL} v
    JOIN {EVENTS_REL} p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    category="streaming",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: view→purchase attribution within 1 h
    per user — both sides are streams, state is bounded by watermarks.

    The attribution/conversion-funnel workhorse. Both sides carry a 2 h
    watermark and the join condition carries the time bound, so each
    side's buffered state ages out once the other side's watermark
    passes the bound (without the time constraint, stream-stream state
    grows forever). On a bounded source the emitted set converges to
    the batch interval-join answer, which is exactly what the oracle
    computes. lag is emitted in microseconds: both engines store µs
    timestamps, so the difference is exact (a seconds-granularity diff
    would disagree on boundary-crossing semantics between engines).
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_ssjoin_")
    try:
        ev = load_table(spark, sf_dir, "events")
        src_dir = f"{tmp}/src"
        ev.write.mode("overwrite").parquet(src_dir)
        views = (
            spark.readStream.schema(ev.schema)
            .parquet(src_dir)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        purchases = (
            spark.readStream.schema(ev.schema)
            .parquet(src_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        joined = views.join(
            purchases,
            F.expr(
                "v_user = p_user AND p_ts >= v_ts "
                "AND p_ts <= v_ts + interval 1 hour"
            ),
        ).select(
            F.col("v_user").alias("user_id"),
            "view_id",
            "purchase_id",
            (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_us"),
        )
        table, _ = _run_to_table(joined, "append")
        return table.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Micro-batches arriving in more partitions than this get a REBALANCE
# by the write's partition column before the partitioned write. The
# at-scale failure mode (guide §6 small-files): a partitionBy(k) write
# opens one file per (task, k-value) pair, so a micro-batch arriving in
# T source partitions fans out to T x |event_types| files per epoch —
# thousands of tiny files a day at production rates. Clustering by the
# partition column first bounds it at ~|event_types| files per epoch
# (AQE may split genuinely hot types — acceptable: every split is
# advisory-sized, never tiny). Gated on the OBSERVED partition count so
# the local staged source (arrives in <= a handful of partitions; file
# count already minimal, r14 measured) never pays the extra shuffle —
# the production regime opts in by its own geometry, not by conf.
_EXPORT_REBALANCE_MIN_PARTS = 8


def _export_write_partitioned(df: DataFrame, out: str, by: str) -> None:
    """The export sink's write path, factored out of the foreachBatch
    closure so tests can drive both regimes directly: below the gate
    the frame is written as-is (plan unchanged — no shuffle added to
    fix a non-problem); above it, REBALANCE(by) clusters rows so each
    partition directory gets ~1 well-sized file per epoch instead of
    one file per (source-partition, value) pair."""
    if df.rdd.getNumPartitions() > _EXPORT_REBALANCE_MIN_PARTS:
        df = df.hint("rebalance", by)
    df.write.mode("append").partitionBy(by).parquet(out)


@register(
    "stream_foreach_batch_export",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_rows,
           MD5(STRING_AGG(row_md5, '' ORDER BY row_md5)) AS content_fp
    FROM (SELECT event_type,
                 MD5(CONCAT(CAST(event_id AS VARCHAR), '|',
                            CAST(user_id AS VARCHAR))) AS row_md5
          FROM {EVENTS_REL} e)
    GROUP BY event_type
    """,
    category="streaming",
)
def stream_foreach_batch_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming export sink: foreachBatch writing partitioned parquet
    (reference workflow A3 as a continuous micro-batch pipeline).

    `foreachBatch` is the streaming-ETL workhorse — each micro-batch is
    a batch DataFrame handed to the ordinary parquet writer, giving the
    streaming path the exact sink (partitioning, compaction, layout) the
    batch export uses. Exactly-once comes from the checkpoint +
    idempotent epoch overwrite in production; the verification contract
    is micro-batch-count independent: the read-back per-partition counts
    and order-insensitive fingerprints must equal the batch answer no
    matter how the source was sliced into batches.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_export_")
    out = f"{tmp}/export"
    try:
        stream = _stage(spark, sf_dir, tmp)

        def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
            _export_write_partitioned(batch_df, out, "event_type")

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        back = spark.read.parquet(out)
        row_md5 = row_md5_col("event_id", "user_id")
        return (
            back.select("event_type", row_md5.alias("h"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                digests_fp_col("h").alias("content_fp"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_TOPK_WIN = "6 hours"
_TOPK_K = 3

_STREAM_TOPK_ORACLE = f"""
WITH counts AS (
  SELECT CAST(to_timestamp(CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) * 21600) AS TIMESTAMP)
           AS window_start,
         user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM {EVENTS_REL} e GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, user_id) AS rnk
  FROM counts
)
SELECT window_start, CAST(user_id AS BIGINT) AS user_id, n_events,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {_TOPK_K}
"""


@register("stream_tumbling_topk", oracle=_STREAM_TOPK_ORACLE, category="streaming")
def stream_tumbling_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-{_TOPK_K}: per {_TOPK_WIN} tumbling window, the
    most active users — the leaderboard/trending-now query.  The
    STREAMING side maintains the windowed per-user counts (the state
    Spark can checkpoint and restore); the rank-and-cut runs on the
    serving read — streaming top-k via ranking inside the engine
    would need complete-mode re-emission of every window anyway, so
    the split mirrors how leaderboards actually serve.

    Batch-equivalence: the bounded stream must converge to the batch
    answer; the oracle computes the same windows/ranks from the raw
    table.  At 100 TB-of-stream: watermark bounds the window state,
    the count state is |windows|x|active users|, and the serving rank
    touches only the window being read.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_spark_stream_topk_")
    try:
        stream = _stage(spark, sf_dir, tmp)
        counts = stream.groupBy(
            F.window("ts", _TOPK_WIN).alias("w"), "user_id"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        tbl, _ = _run_to_table(
            counts.select(
                F.col("w.start").alias("window_start"), "user_id", "n_events"
            ),
            "complete",
        )
        from pyspark.sql import Window

        rw = Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("user_id")
        )
        return (
            tbl.withColumn("rnk", F.row_number().over(rw).cast("bigint"))
            .filter(F.col("rnk") <= _TOPK_K)
            .select(
                "window_start",
                F.col("user_id").cast("bigint").alias("user_id"),
                "n_events",
                "rnk",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_CDC_ORACLE = f"""
WITH final AS (
  SELECT o_orderkey AS k, 'N' AS status, o_totalprice AS price
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 'U', o_totalprice + 10
  FROM orders
  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders
  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(CAST(ROUND(price * 100) AS BIGINT)) / 100.0, 2)
         AS sum_price,
       {KEYS_FP_SQL.format(col="k")} AS keys_fp
FROM final GROUP BY status
"""


@register("stream_cdc_upsert", oracle=_CDC_ORACLE, category="streaming")
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: a change feed (insert / update / delete
    rows derived deterministically from `orders`) streams through a
    file source in multiple micro-batches, and `foreachBatch` MERGEs
    each batch into a versioned copy-on-write parquet table — the
    Debezium→lakehouse upsert pipeline, with the merge join identical
    to the batch `sink_merge_upsert`.

    Batch-equivalence contract: each key carries EXACTLY ONE change
    op, so the final table state is independent of how the feed was
    sliced into micro-batches (`maxFilesPerTrigger=1` forces ≥4
    genuine sequential merges); the oracle predicts the end state in
    closed form from `orders`.  Exactly-once in production comes from
    checkpoint + idempotent version write; here every merge is a full
    new version, read back for the final report.

    Scale: each micro-batch merge is ONE key-partitioned full-outer
    join of |state| × |batch|; at real scale the rewrite narrows to
    touched partitions (`sink_partition_overwrite` discipline) and
    state versions live behind a manifest (`hb_time_travel_read`).
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_cdc_")
    try:
        o = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").alias("price"),
        )
        base = o.filter(F.col("k") % 3 != 0)
        state_dir = lambda v: f"{tmp}/state_v{v}"
        base.write.mode("overwrite").parquet(state_dir(0))

        cdc = (
            o.filter(F.col("k") % 3 == 0)
            .select(
                "k",
                F.lit("I").alias("op"),
                F.lit("N").alias("new_status"),
                F.col("price").alias("new_price"),
            )
            .unionAll(
                o.filter(
                    (F.col("k") % 3 != 0) & (F.col("k") % 7 == 0)
                ).select(
                    "k",
                    F.lit("D").alias("op"),
                    F.lit(None).cast("string").alias("new_status"),
                    F.lit(None).cast("double").alias("new_price"),
                )
            )
            .unionAll(
                o.filter(
                    (F.col("k") % 3 != 0)
                    & (F.col("k") % 7 != 0)
                    & (F.col("k") % 5 == 0)
                ).select(
                    "k",
                    F.lit("U").alias("op"),
                    F.lit("U").alias("new_status"),
                    (F.col("price") + 10).alias("new_price"),
                )
            )
        )
        src = f"{tmp}/cdc_src"
        cdc.repartition(4, "k").write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(cdc.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        version = [0]

        def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
            sp = batch_df.sparkSession
            cur = sp.read.parquet(state_dir(version[0]))
            ch = batch_df
            merged = (
                cur.join(ch, "k", "full_outer")
                .filter(~F.col("op").eqNullSafe("D"))
                .select(
                    "k",
                    F.when(
                        F.col("op").isin("I", "U"), F.col("new_status")
                    )
                    .otherwise(F.col("status"))
                    .alias("status"),
                    F.when(
                        F.col("op").isin("I", "U"), F.col("new_price")
                    )
                    .otherwise(F.col("price"))
                    .alias("price"),
                )
            )
            merged.write.mode("overwrite").parquet(state_dir(version[0] + 1))
            version[0] += 1

        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()

        final = spark.read.parquet(state_dir(version[0]))
        return (
            final.groupBy("status")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                # integer-cents sum: double SUM order-divergence was
                # measured at ~3e-5 by sf0.1 (review finding) and grows
                # with scale; cents are exact at any size
                F.round(
                    F.sum(F.round(F.col("price") * 100).cast("bigint"))
                    / 100.0,
                    2,
                ).alias("sum_price"),
                keys_fp_col("k").alias("keys_fp"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SSLOJ_ORACLE = f"""
WITH v AS (
  -- ts >= epoch mirrors Spark's watermark floor: the stream's initial
  -- watermark is 1970-01-01T00:00Z, so pre-epoch rows are dropped as
  -- late before they ever reach the join (documented op contract).
  SELECT user_id, event_id AS view_id, ts FROM {EVENTS_REL} e
  WHERE event_type = 'view' AND ts >= TIMESTAMP '1970-01-01 00:00:00'
),
p AS (
  SELECT user_id, event_id AS purchase_id, ts FROM {EVENTS_REL} e
  WHERE event_type = 'purchase'
    AND ts >= TIMESTAMP '1970-01-01 00:00:00'
),
j AS (
  SELECT v.user_id, v.view_id, p.purchase_id
  FROM v LEFT JOIN p
    ON p.user_id = v.user_id
   AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
)
SELECT user_id,
       CAST(COUNT(DISTINCT view_id) AS BIGINT) AS n_views,
       CAST(COUNT(DISTINCT CASE WHEN purchase_id IS NOT NULL
                                THEN view_id END) AS BIGINT)
         AS n_converted_views,
       CAST(SUM(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pairs
FROM j GROUP BY user_id
"""


@register(
    "stream_left_outer_watermark", oracle=_SSLOJ_ORACLE, category="streaming"
)
def stream_left_outer_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-driven NULL
    emission: view→purchase attribution where UNCONVERTED views must
    still come out (with NULL purchase) — but a streaming outer row
    can only be emitted once the watermark PROVES no match can still
    arrive.  That's the semantic difference from `stream_stream_join`:
    correctness depends on state eviction, not just matching.

    The trap this op encodes: rows younger than the watermark delay at
    end-of-input would sit in state forever and their outer results
    would silently never emit (a real production gotcha with bounded
    backfills).  A far-future SENTINEL row on each side advances the
    final watermark past every real event so the emitted set converges
    to the batch left-join answer — which the oracle computes.

    State is bounded: the time-range condition + 2 h watermark lets
    each side drop buffered rows as the opposite watermark passes.

    Contract: event time must be >= 1970-01-01T00:00Z. A streaming
    query's watermark initializes at epoch zero, so a pre-epoch row is
    "late" from the first micro-batch and silently dropped — the
    oracle applies the same floor explicitly.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_loj_")
    try:
        ev = load_table(spark, sf_dir, "events")
        flush_ts = F.timestamp_micros(
            F.lit(
                ev.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
                + 7 * 24 * 3600 * 1_000_000
            )
        )
        sentinel = (
            ev.limit(1)
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                flush_ts.alias("ts"),
                F.lit(-1).cast("long").alias("user_id"),
                F.lit("view").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast(ev.schema["props"].dataType).alias("props"),
            )
        )
        sentinel_p = sentinel.withColumn("event_type", F.lit("purchase"))
        src_dir = f"{tmp}/src"
        staged = ev.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).unionAll(sentinel).unionAll(sentinel_p)
        staged.write.mode("overwrite").parquet(src_dir)

        views = (
            spark.readStream.schema(staged.schema)
            .parquet(src_dir)
            .filter(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("event_id").alias("view_id"),
                F.col("ts").alias("v_ts"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        purchases = (
            spark.readStream.schema(staged.schema)
            .parquet(src_dir)
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("event_id").alias("purchase_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        joined = views.join(
            purchases,
            F.expr(
                "v_user = p_user AND p_ts >= v_ts "
                "AND p_ts <= v_ts + interval 1 hour"
            ),
            "left_outer",
        ).select(
            F.col("v_user").alias("user_id"), "view_id", "purchase_id"
        )
        table, _ = _run_to_table(joined, "append")
        return (
            table.filter(F.col("user_id") >= 0)  # drop the sentinels
            .groupBy("user_id")
            .agg(
                F.countDistinct("view_id").cast("bigint").alias("n_views"),
                F.countDistinct(
                    F.when(
                        F.col("purchase_id").isNotNull(), F.col("view_id")
                    )
                )
                .cast("bigint")
                .alias("n_converted_views"),
                F.sum(
                    F.when(F.col("purchase_id").isNotNull(), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_pairs"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_REPLAY_ORACLE = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_after_replay,
       CAST(0 AS BIGINT) AS n_duplicates,
       TRUE AS exactly_once
FROM {EVENTS_REL} e GROUP BY event_type
"""


@register(
    "stream_idempotent_replay", oracle=_REPLAY_ORACLE, category="streaming"
)
def stream_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once evidence by REPLAY: run a foreachBatch export,
    stop, then START THE SAME QUERY AGAIN on the SAME checkpoint —
    the restarted query must recognize every source file as committed
    and process NOTHING, leaving the sink byte-identical (this is the
    crash-recovery contract checkpoints exist for; a sink that
    double-appends on restart fails loudly here as doubled counts).

    The output reports per-type counts after pass 1 and after the
    replay, their difference, and the exactly-once verdict; the
    oracle is the batch census with zero duplicates by construction.

    Plan note: the second start costs ONE empty micro-batch of
    planning — offset log reconciliation, no data motion.
    """
    tmp = tempfile.mkdtemp(prefix="s3u_stream_replay_")
    out = f"{tmp}/export"
    ckpt = f"{tmp}/ckpt"
    try:
        src = _stage(spark, sf_dir, tmp)

        def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)

        for _ in range(2):  # pass 1 writes; pass 2 must be a no-op
            q = (
                spark.readStream.schema(src.schema)
                .parquet(f"{tmp}/src")
                .writeStream.foreachBatch(write_batch)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()
            if _ == 0:
                first = {
                    r["event_type"]: r["n"]
                    for r in spark.read.parquet(out)
                    .groupBy("event_type")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
        after = spark.read.parquet(out).groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_after_replay")
        )
        firsts = spark.createDataFrame(
            [(k, v) for k, v in first.items()],
            "event_type string, n_rows long",
        )
        return (
            firsts.join(after, "event_type")
            .select(
                "event_type",
                "n_rows",
                "n_after_replay",
                (F.col("n_after_replay") - F.col("n_rows"))
                .cast("bigint")
                .alias("n_duplicates"),
                (F.col("n_after_replay") == F.col("n_rows")).alias(
                    "exactly_once"
                ),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
