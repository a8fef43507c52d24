"""HBase-semantics operators (SURVEY.md §2A/§2B `hb_*`).

The reference's whole workflow — snapshot (A2), export (A3), import
(A4), TTL cleanup (A6), copy verification (A7), size-balanced mapper
splits (A5) — re-expressed as declarative Spark plans over the columnar
data model of SURVEY §1.1. The MapReduce distributed-copy job of the
reference collapses into read->write plans (see sources/sinks.py); the
*query-shaped* semantics live here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.params import (
    INCR_EXPORT_MISS_MOD,
    INCR_EXPORT_MISS_REM,
    INCR_EXPORT_RESCAN,
    INCR_EXPORT_SPLIT,
    TTL_CUTOFF,
)
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import (
    EVENTS_REL,
    ND_FIELD_SQL,
    digests_fp_col,
    nd_field_col,
    row_md5_col,
)


@register(
    "hb_latest_version",
    oracle=f"""
    SELECT user_id, event_id, ts, event_type, value
    FROM (SELECT user_id, event_id, ts, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM {EVENTS_REL} e)
    WHERE rn = 1
    """,
    category="hbase",
)
def hb_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest cell version per key (HBase VERSIONS=1 read semantics).

    `events` rows are treated as timestamped versions of the `user_id`
    key. Deterministic keeper via row_number with full tiebreaker —
    never dropDuplicates (SURVEY §7).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


@register(
    "hb_ttl_expiry",
    oracle=f"""
    SELECT event_id, user_id, ts, event_type
    FROM {EVENTS_REL} e
    WHERE ts >= TIMESTAMP '{TTL_CUTOFF}'
    """,
    category="hbase",
)
def hb_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL retention (reference A6: delete snapshots older than TTL).

    Rows surviving a fixed literal "now" minus TTL. The timestamp
    predicate pushes to parquet row-group min/max via load_table's
    raw-ns ts_min (a filter on the CONVERTED timestamp cannot push) —
    at 100 TB a TTL sweep reads only the tail row groups.
    """
    ev = load_table(spark, sf_dir, "events", ts_min=TTL_CUTOFF)
    return ev.filter(F.col("ts") >= F.lit(TTL_CUTOFF).cast("timestamp")).select(
        "event_id", "user_id", "ts", "event_type"
    )


@register(
    "hb_incremental_export",
    oracle=f"""
    SELECT e.event_id, e.user_id, e.ts
    FROM {EVENTS_REL} e
    WHERE e.ts >= TIMESTAMP '{INCR_EXPORT_RESCAN}'
      AND NOT EXISTS (
        SELECT 1 FROM {EVENTS_REL} old
        WHERE old.ts < TIMESTAMP '{INCR_EXPORT_SPLIT}'
          AND old.event_id % {INCR_EXPORT_MISS_MOD} != {INCR_EXPORT_MISS_REM}
          AND old.event_id = e.event_id
      )
    """,
    category="hbase",
)
def hb_incremental_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental export resume (A3 re-run after a partial failure).

    The previous export covered ts < SPLIT but died mid-copy: only
    units with event_id % MOD != MISS reached S3 (the shipped-manifest
    subset). The re-run rescans from RESCAN (< SPLIT, overlapping the
    failed period) and anti-joins against the shipped manifest, so it
    exports (a) everything after SPLIT and (b) the failed period's
    missed units — real data-dependent skip, the reference's
    skip-already-copied-files semantics. A vacuous formulation (disjoint
    periods on a unique key) would degenerate to a plain ts filter.
    """
    split = F.lit(INCR_EXPORT_SPLIT).cast("timestamp")
    # separate loads so EACH branch's time-range predicate reaches its
    # own parquet scan (raw-ns pushdown; one shared scan pushes neither)
    new = load_table(spark, sf_dir, "events", ts_min=INCR_EXPORT_RESCAN).filter(
        F.col("ts") >= F.lit(INCR_EXPORT_RESCAN).cast("timestamp")
    )
    shipped = (
        load_table(spark, sf_dir, "events", ts_max=INCR_EXPORT_SPLIT)
        .filter(F.col("ts") < split)
        .filter(F.col("event_id") % INCR_EXPORT_MISS_MOD != INCR_EXPORT_MISS_REM)
        .select("event_id")
    )
    return new.join(shipped, "event_id", "left_anti").select(
        "event_id", "user_id", "ts"
    )


@register(
    "hb_manifest_verify",
    oracle=f"""
    WITH src AS (
      SELECT event_type,
             COUNT(*) AS src_count,
             MD5(STRING_AGG(row_md5, '' ORDER BY row_md5)) AS src_fp
      FROM (SELECT event_type,
                   MD5(CONCAT(CAST(event_id AS VARCHAR), '|', CAST(user_id AS VARCHAR))) AS row_md5
            FROM {EVENTS_REL} e)
      GROUP BY event_type
    ),
    dst AS (
      SELECT event_type,
             COUNT(*) AS dst_count,
             MD5(STRING_AGG(row_md5, '' ORDER BY row_md5)) AS dst_fp
      FROM (SELECT event_type,
                   MD5(CONCAT(CAST(event_id AS VARCHAR), '|', CAST(user_id AS VARCHAR))) AS row_md5
            FROM {EVENTS_REL} e)
      GROUP BY event_type
    )
    SELECT event_type, src_count, dst_count, src_fp, dst_fp,
           (src_count = dst_count AND src_fp = dst_fp) AS verified
    FROM src FULL JOIN dst USING (event_type)
    """,
    category="hbase",
)
def hb_manifest_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy verification (A7: ExportSnapshot#verifySnapshot analog).

    Reconciles source vs exported copy per group: row counts + an
    order-insensitive content fingerprint (md5 over sorted per-row
    md5s), full-outer-joined so missing groups surface on either side.
    Emits the whole reconciliation table (all-verified => `verified`
    true everywhere) so the output is non-empty by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    row_md5 = row_md5_col("event_id", "user_id")
    def side(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.select("event_type", row_md5.alias("row_md5"))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias(f"{prefix}_count"),
                digests_fp_col("row_md5").alias(f"{prefix}_fp"),
            )
        )
    # "dst" re-derives from the same source — an identity export; a real
    # export would read the copied parquet back (see sinks.py).
    src, dst = side(ev, "src"), side(ev, "dst")
    return src.join(dst, ["event_type"], "full").select(
        "event_type",
        "src_count",
        "dst_count",
        "src_fp",
        "dst_fp",
        (
            (F.col("src_count") == F.col("dst_count"))
            & (F.col("src_fp") == F.col("dst_fp"))
        ).alias("verified"),
    )


@register(
    "hb_size_accounting",
    oracle="""
    SELECT source,
           CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
           COUNT(*) AS n_docs,
           CAST(MAX(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS max_doc_bytes
    FROM documents
    GROUP BY source
    """,
    category="hbase",
)
def hb_size_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export size report (A5: the greedy bin-pack input of
    ExportSnapshot#getBalancedSplits). Per-source byte totals drive the
    mapper/partition balancing decision; in Spark the same numbers size
    `repartition(n)` / `maxPartitionBytes` for the export write.
    """
    d = load_table(spark, sf_dir, "documents")
    nbytes = F.length(F.encode(F.col("text"), "UTF-8"))
    return d.groupBy("source").agg(
        F.sum(nbytes).cast("bigint").alias("total_bytes"),
        F.count(F.lit(1)).alias("n_docs"),
        F.max(nbytes).cast("bigint").alias("max_doc_bytes"),
    )


@register(
    "hb_snapshot_manifest",
    oracle=f"""
    SELECT 'documents' AS table_name,
           source AS part_key,
           COUNT(*) AS row_count,
           MD5(STRING_AGG(row_md5, '' ORDER BY row_md5)) AS content_fp,
           TIMESTAMP '2024-02-01 00:00:00' AS created_ts
    FROM (SELECT source,
                 -- ND_FIELD encoding: a NULL cell participates in the
                 -- manifest fingerprint with a digest DISTINCT from the
                 -- empty string's, so a row corrupted in either
                 -- direction ('' <-> NULL) cannot pass verification
                 MD5(CONCAT(CAST(doc_id AS VARCHAR), '|',
                            {ND_FIELD_SQL.format(col='text')})) AS row_md5
          FROM documents)
    GROUP BY source
    """,
    category="hbase",
)
def hb_snapshot_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot manifest builder (A2: HBaseAdmin.snapshot's manifest of
    immutable file refs, columnar edition): one row per partition with
    count + content fingerprint + creation stamp. `hb_manifest_verify`
    and the TTL sweep consume exactly this shape.
    """
    d = load_table(spark, sf_dir, "documents")
    # ND_FIELD mirrors the oracle: NULL cells hash under a sentinel
    # distinct from '', so ''<->NULL corruption changes the fingerprint.
    row_md5 = row_md5_col("doc_id", nd_field_col("text"))
    return (
        d.select("source", row_md5.alias("row_md5"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            digests_fp_col("row_md5").alias("content_fp"),
        )
        .select(
            F.lit("documents").alias("table_name"),
            F.col("source").alias("part_key"),
            "row_count",
            "content_fp",
            F.lit("2024-02-01 00:00:00").cast("timestamp").alias("created_ts"),
        )
    )


_N_SPLITS = 4


@register(
    "hb_balanced_splits",
    oracle=f"""
    WITH sized AS (
      SELECT source, CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS bytes
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, bytes,
             ROW_NUMBER() OVER (ORDER BY bytes DESC, source) AS rk
      FROM sized
    )
    SELECT CAST((rk - 1) % {_N_SPLITS} AS BIGINT) AS split_id,
           COUNT(*) AS n_sources,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes
    FROM ranked
    GROUP BY 1
    """,
    category="hbase",
)
def hb_balanced_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced export splits (A5: ExportSnapshot's
    getBalancedSplits assigns files to mappers by size).

    Declarative LPT approximation: rank partitions by byte size
    descending, deal them round-robin into {_N_SPLITS} splits — the
    big items spread first, so split totals stay within one max-item of
    each other, deterministically and without the sequential greedy
    loop (which SQL/DataFrames can't express and a driver shouldn't
    run at 100 TB partition counts). Output = per-split source count +
    byte total, the mapper work assignment the reference computes.
    """
    d = load_table(spark, sf_dir, "documents")
    nbytes = F.length(F.encode(F.col("text"), "UTF-8"))
    sized = d.groupBy("source").agg(F.sum(nbytes).cast("bigint").alias("bytes"))
    w = Window.orderBy(F.col("bytes").desc(), F.col("source"))
    return (
        sized.withColumn("rk", F.row_number().over(w))
        .groupBy(((F.col("rk") - 1) % _N_SPLITS).cast("bigint").alias("split_id"))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("bytes").alias("total_bytes"),
        )
    )


_WAL_SPLIT = "2024-01-20 00:00:00"  # base snapshot < split; WAL edits >= split
_N_RANGE_SPLITS = 4


@register(
    "hb_wal_replay_merge",
    oracle=f"""
    WITH base AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM {EVENTS_REL} e WHERE ts < TIMESTAMP '{_WAL_SPLIT}')
      WHERE rn = 1
    ),
    wal AS (
      SELECT user_id, ts, value, event_type = 'error' AS tomb FROM (
        SELECT user_id, ts, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM {EVENTS_REL} e WHERE ts >= TIMESTAMP '{_WAL_SPLIT}')
      WHERE rn = 1
    )
    SELECT COALESCE(w.user_id, b.user_id) AS user_id,
           COALESCE(w.ts, b.ts) AS ts,
           ROUND(COALESCE(w.value, b.value), 6) AS value,
           CASE WHEN w.user_id IS NOT NULL THEN 'wal' ELSE 'base' END AS src
    FROM base b FULL JOIN wal w ON b.user_id = w.user_id
    WHERE w.tomb IS NULL OR NOT w.tomb
    """,
    category="hbase",
)
def hb_wal_replay_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAL replay over a base snapshot (A4 restore + catch-up): apply a
    log of timestamped cell edits — puts and delete tombstones — to the
    latest-version state of an exported snapshot.

    HBase restores a snapshot, then replays the write-ahead log to
    reach a point-in-time state; the same merge is every lakehouse CDC
    upsert. `events` rows before _WAL_SPLIT (2024-01-20) form the base snapshot
    (latest version per `user_id` key); rows at/after it are the edit
    log, where `event_type='error'` is a delete tombstone. Replay =
    per-key latest WAL edit wins (tombstone removes the row), keys
    untouched by the WAL keep their base version.

    Plan: both latest-version windows hash-partition on `user_id`, and
    the full-outer merge join reuses that partitioning — one exchange
    per branch, no further shuffle for the join; cost scales with
    |keys| + |log|, never |base| x |log|. Deterministic keeper via
    (ts, event_id) tiebreak, never dropDuplicates.
    """
    ev = load_table(spark, sf_dir, "events")
    split = F.lit(_WAL_SPLIT).cast("timestamp")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    base = latest(ev.filter(F.col("ts") < split)).select(
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("value").alias("b_value"),
    )
    wal = latest(ev.filter(F.col("ts") >= split)).select(
        F.col("user_id").alias("w_user"),
        F.col("ts").alias("w_ts"),
        F.col("value").alias("w_value"),
        (F.col("event_type") == "error").alias("tomb"),
    )
    merged = base.join(wal, base.b_user == wal.w_user, "full")
    return merged.filter(
        F.col("tomb").isNull() | ~F.col("tomb")
    ).select(
        F.coalesce("w_user", "b_user").alias("user_id"),
        F.coalesce("w_ts", "b_ts").alias("ts"),
        F.round(F.coalesce("w_value", "b_value"), 6).alias("value"),
        F.when(F.col("w_user").isNotNull(), "wal")
        .otherwise("base")
        .alias("src"),
    )


@register(
    "hb_region_range_splits",
    oracle=f"""
    WITH sized AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(OCTET_LENGTH(ENCODE(props)) + 16) AS BIGINT) AS bytes
      FROM {EVENTS_REL} e GROUP BY 1
    ),
    cum AS (
      SELECT day, bytes,
             SUM(bytes) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
               - bytes AS cum_before,
             SUM(bytes) OVER () AS total
      FROM sized
    )
    SELECT CAST((cum_before * {_N_RANGE_SPLITS}) // total AS BIGINT)
             AS split_id,
           MIN(day) AS day_min, MAX(day) AS day_max,
           COUNT(*) AS n_days,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes
    FROM cum GROUP BY 1
    """,
    category="hbase",
)
def hb_region_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTIGUOUS size-balanced key-range splits (A5, region-shaped):
    cut the time-keyed keyspace into _N_RANGE_SPLITS (4) adjacent ranges
    of roughly equal byte weight.

    HBase regions are contiguous rowkey ranges, so a range-preserving
    export needs contiguous cut points — `hb_balanced_splits`' LPT deal
    balances better but scatters sources across splits. Here each
    day-bucket lands in split `floor(cum_bytes_before * N / total)`
    (integer arithmetic on both engines — float division could round a
    boundary differently), which is exactly the greedy contiguous
    partitioning into N quantile ranges by byte weight.

    Plan: the byte accounting aggregates 100 TB down to one row per
    day FIRST (map-side combined); the unpartitioned cumulative window
    runs on that |days|-row frame only — the single-partition window
    never sees raw data. Output is the (split -> day range) assignment
    an exporter would feed its mapper scheduler.
    """
    ev = load_table(spark, sf_dir, "events")
    nbytes = F.length(F.encode(F.col("props"), "UTF-8")) + 16
    sized = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(nbytes).cast("bigint").alias("bytes")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sized.select(
        "day",
        "bytes",
        (F.sum("bytes").over(w_cum) - F.col("bytes")).alias("cum_before"),
        F.sum("bytes").over(w_all).alias("total"),
    )
    return cum.groupBy(
        F.expr(f"(cum_before * {_N_RANGE_SPLITS}) div total")
        .cast("bigint")
        .alias("split_id")
    ).agg(
        F.min("day").alias("day_min"),
        F.max("day").alias("day_max"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
    )


_KEEP_VERSIONS = 3


@register(
    "hb_version_compaction",
    oracle=f"""
    SELECT user_id, event_id, ts, value,
           CAST(rn AS BIGINT) AS version_rank
    FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM {EVENTS_REL} e
      WHERE ts >= TIMESTAMP '{TTL_CUTOFF}')
    WHERE rn <= {_KEEP_VERSIONS}
    """,
    category="hbase",
)
def hb_version_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Major-compaction retention semantics: keep the _KEEP_VERSIONS
    (3) NEWEST versions of each cell AND drop TTL-expired versions, in
    one pass — HBase's `VERSIONS=3` + `TTL` column-family
    config applied together (generalizes `hb_latest_version`, which is
    the N=1 case, and `hb_ttl_expiry`, which is the retention-only
    case).

    Plan: the TTL predicate filters BEFORE the window (it reaches the
    parquet scan; expired versions never shuffle), then one keyed
    window ranks versions newest-first. Spark 3.5+ turns the rn<=N
    filter into WindowGroupLimit, so a hot key's version pile is
    top-N-pruned inside the sort rather than fully materialized —
    the property that keeps compaction linear when one key has
    millions of versions. Deterministic (ts, event_id) version order.
    """
    ev = load_table(spark, sf_dir, "events", ts_min=TTL_CUTOFF).filter(
        F.col("ts") >= F.lit(TTL_CUTOFF).cast("timestamp")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KEEP_VERSIONS)
        .select(
            "user_id",
            "event_id",
            "ts",
            "value",
            F.col("rn").cast("bigint").alias("version_rank"),
        )
    )


_VDIFF_SPLIT = "2024-01-20 00:00:00"  # v1 snapshot boundary


@register(
    "hb_version_diff",
    oracle=f"""
    WITH v1 AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM {{events_rel}} e WHERE ts < TIMESTAMP '{_VDIFF_SPLIT}')
      WHERE rn = 1
    ),
    v2 AS (
      SELECT user_id, event_id, event_type FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM {{events_rel}} e)
      WHERE rn = 1
    ),
    v2_live AS (SELECT user_id, event_id FROM v2 WHERE event_type <> 'error'),
    d AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             a.event_id AS v1_event_id, b.event_id AS v2_event_id,
             CASE WHEN a.user_id IS NULL THEN 'added'
                  WHEN b.user_id IS NULL THEN 'removed'
                  WHEN a.event_id <> b.event_id THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 a FULL OUTER JOIN v2_live b ON a.user_id = b.user_id
    )
    SELECT user_id, status, v1_event_id, v2_event_id
    FROM d WHERE status <> 'unchanged'
    """.format(events_rel=EVENTS_REL),
    category="hbase",
)
def hb_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two snapshot versions — what a
    downstream consumer replays instead of re-reading the table
    (pairs with `hb_time_travel_read`'s version layout).

    v1 = latest cell per key before the split; v2 = latest cell per
    key over the full log, where a trailing tombstone (`error`)
    DELETES the key. The diff is one full-outer join on the key:
    `added` / `removed` / `changed` rows only — `unchanged` keys (the
    overwhelming majority at 100 TB) are filtered before anything
    downstream pays for them. Both version states and the merge share
    one user_id partitioning, and at scale the two window passes read
    the SAME shuffled layout (AQE reuses the exchange) — the diff
    never shuffles the table twice.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    split = F.lit(_VDIFF_SPLIT).cast("timestamp")

    v1 = (
        ev.filter(F.col("ts") < split)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("v1_event_id"))
    )
    v2 = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("event_type") != "error")
        .select("user_id", F.col("event_id").alias("v2_event_id"))
    )
    d = v1.join(v2, "user_id", "full_outer")
    status = (
        F.when(F.col("v1_event_id").isNull(), "added")
        .when(F.col("v2_event_id").isNull(), "removed")
        .when(F.col("v1_event_id") != F.col("v2_event_id"), "changed")
        .otherwise("unchanged")
    )
    return (
        d.withColumn("status", status)
        .filter(F.col("status") != "unchanged")
        .select("user_id", "status", "v1_event_id", "v2_event_id")
    )


_GC_ORACLE = """
WITH inv AS (
  -- emulated store-file inventory: one file per (source, doc_id%5)
  SELECT source, doc_id % 5 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS bytes
  FROM documents GROUP BY source, doc_id % 5
),
refs AS (
  -- the surviving snapshot's manifest references only these files
  SELECT DISTINCT source, doc_id % 5 AS bucket
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT i.source,
       CAST(COUNT(*) AS BIGINT) AS n_orphan_files,
       CAST(SUM(i.n_docs) AS BIGINT) AS n_orphan_docs,
       CAST(SUM(i.bytes) AS BIGINT) AS reclaim_bytes
FROM inv i ANTI JOIN refs r
  ON i.source = r.source AND i.bucket = r.bucket
GROUP BY i.source
"""


@register("hb_snapshot_gc", oracle=_GC_ORACLE, category="hbase")
def hb_snapshot_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot garbage collection (the reference's cleanup concern:
    after a snapshot is deleted / TTL-expired, store files referenced
    by NO surviving manifest must be found and reclaimed — HBase's
    SnapshotHFileCleaner, done declaratively).

    The emulated layout derives a file inventory (one store file per
    (source, doc_id%5) bucket) and the surviving snapshot's manifest
    refs from the same corpus; GC is then inventory ANTI-JOIN refs —
    the exact "delete what nothing references" set — rolled up to a
    per-source reclaim report. The ref side collapses to |files|
    distinct keys before the join, so AQE broadcasts it; the
    inventory side is one map-side-combined groupBy over the scan.
    At 100 TB this is the only safe GC shape: no driver-side file
    listing, no per-file existence probes — two aggregates and an
    anti-join, all pushdown-friendly.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        (F.col("doc_id") % 5).alias("bucket"),
        F.col("doc_id").alias("doc_id"),
        F.length(F.encode(F.col("text"), "UTF-8")).alias("nbytes"),
    )
    inv = d.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nbytes").cast("bigint").alias("bytes"),
    )
    refs = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select("source", "bucket")
        .distinct()
    )
    return (
        inv.join(refs, ["source", "bucket"], "left_anti")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_orphan_files"),
            F.sum("n_docs").cast("bigint").alias("n_orphan_docs"),
            F.sum("bytes").cast("bigint").alias("reclaim_bytes"),
        )
    )


_THROTTLE_MBPS = 40  # per-mapper bandwidth cap (MB/s), ExportSnapshot -bandwidth
_THROTTLE_SPLITS = 4


@register(
    "hb_export_throttle_plan",
    oracle=f"""
    WITH sized AS (
      SELECT source, CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS bytes
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, bytes,
             ROW_NUMBER() OVER (ORDER BY bytes DESC, source) AS rk
      FROM sized
    ),
    split AS (
      SELECT CAST((rk - 1) % {_THROTTLE_SPLITS} AS BIGINT) AS split_id,
             CAST(SUM(bytes) AS BIGINT) AS total_bytes
      FROM ranked GROUP BY 1
    )
    SELECT split_id, total_bytes,
           ROUND(total_bytes / ({_THROTTLE_MBPS} * 1048576.0), 3)
             AS est_seconds,
           ROUND(total_bytes / ({_THROTTLE_MBPS} * 1048576.0)
                 - MIN(total_bytes / ({_THROTTLE_MBPS} * 1048576.0)) OVER (),
                 3) AS straggler_lag_sec
    FROM split
    """,
    category="hbase",
)
def hb_export_throttle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bandwidth-throttled export plan (the reference's `-bandwidth`
    mapper cap): given the balanced splits and a per-worker MB/s
    limit, the per-split transfer-time estimate and the straggler lag
    (slowest minus fastest) — the number you check BEFORE launching a
    multi-hour S3 copy, because one oversized split under a bandwidth
    cap sets the whole job's wall clock.

    Pure planning arithmetic on top of the `hb_balanced_splits`
    assignment: one aggregate over per-source byte sizes, a
    |splits|-row window for the lag — nothing touches data files. In
    Spark terms the same estimate sizes `maxPartitionBytes` /
    `repartition(n)` for the export write against a known egress cap.
    """
    d = load_table(spark, sf_dir, "documents")
    nbytes = F.length(F.encode(F.col("text"), "UTF-8"))
    sized = d.groupBy("source").agg(
        F.sum(nbytes).cast("bigint").alias("bytes")
    )
    w = Window.orderBy(F.col("bytes").desc(), F.col("source"))
    split = (
        sized.withColumn("rk", F.row_number().over(w))
        .groupBy(
            ((F.col("rk") - 1) % _THROTTLE_SPLITS)
            .cast("bigint")
            .alias("split_id")
        )
        .agg(F.sum("bytes").cast("bigint").alias("total_bytes"))
    )
    est = F.col("total_bytes") / (_THROTTLE_MBPS * 1048576.0)
    return split.select(
        "split_id",
        "total_bytes",
        F.round(est, 3).alias("est_seconds"),
        F.round(
            est - F.min(est).over(Window.partitionBy()), 3
        ).alias("straggler_lag_sec"),
    )


@register(
    "hb_snapshot_clone",
    oracle="""
    WITH files AS (
      SELECT source, doc_id % 5 AS bucket,
             CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS bytes
      FROM documents GROUP BY source, doc_id % 5
    ),
    refs AS (
      -- original table references every file; the clone references the
      -- subset overlapping its restored key range (buckets 0-2)
      SELECT source, bucket, 'orig' AS tbl FROM files
      UNION ALL
      SELECT source, bucket, 'clone' AS tbl FROM files WHERE bucket <= 2
    )
    SELECT f.source,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN n_refs = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(SUM(f.bytes) AS BIGINT) AS physical_bytes,
           CAST(SUM(f.bytes * n_refs) AS BIGINT) AS logical_bytes
    FROM files f
    JOIN (SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_refs
          FROM refs GROUP BY source, bucket) r
      ON r.source = f.source AND r.bucket = f.bucket
    GROUP BY f.source
    """,
    category="hbase",
)
def hb_snapshot_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy snapshot clone accounting (HBase `clone_snapshot`:
    the new table REFERENCES the snapshot's immutable files instead of
    copying them). The report every storage audit needs: per source,
    how many physical files exist, how many are shared by both
    tables, and physical vs logical bytes — the gap is exactly the
    copy the clone avoided.

    Reference counting is pure set algebra over the emulated layout:
    the file inventory aggregates once, the two tables' manifests
    union, and a refcount groupBy joins back on the file key (AQE
    broadcasts the |files|-row count side). `hb_snapshot_gc` is the
    destructive half of the same bookkeeping — a file is deletable
    exactly when this op's n_refs reaches zero.
    """
    d = load_table(spark, sf_dir, "documents")
    files = d.groupBy(
        "source", (F.col("doc_id") % 5).alias("bucket")
    ).agg(
        F.sum(F.length(F.encode(F.col("text"), "UTF-8")))
        .cast("bigint")
        .alias("bytes")
    ).localCheckpoint(eager=True)
    refs = files.select("source", "bucket", F.lit("orig").alias("tbl")).unionByName(
        files.filter(F.col("bucket") <= 2).select(
            "source", "bucket", F.lit("clone").alias("tbl")
        )
    )
    refcount = refs.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("n_refs")
    )
    return (
        files.join(refcount, ["source", "bucket"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(F.col("n_refs") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared"),
            F.sum("bytes").cast("bigint").alias("physical_bytes"),
            F.sum(F.col("bytes") * F.col("n_refs"))
            .cast("bigint")
            .alias("logical_bytes"),
        )
    )


_MERGE_ORACLE = """
WITH regions AS (
  SELECT source, doc_id % 5 AS bucket,
         CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS bytes
  FROM documents GROUP BY source, doc_id % 5
),
ranked AS (
  SELECT source, bucket, bytes,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY bucket) AS rk,
         AVG(bytes) OVER (PARTITION BY source) AS avg_bytes
  FROM regions
),
pairs AS (
  SELECT source, (rk - 1) // 2 AS pair_id,
         CAST(COUNT(*) AS BIGINT) AS n_regions,
         CAST(SUM(bytes) AS BIGINT) AS combined_bytes,
         ROUND(MAX(avg_bytes), 3) AS avg_region_bytes
  FROM ranked GROUP BY source, (rk - 1) // 2
)
SELECT source, CAST(pair_id AS BIGINT) AS pair_id, n_regions,
       combined_bytes, avg_region_bytes,
       n_regions = 2 AND combined_bytes < 2 * avg_region_bytes AS merge_ok
FROM pairs
"""


@register("hb_merge_regions_plan", oracle=_MERGE_ORACLE, category="hbase")
def hb_merge_regions_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-merge planning (HBase's merge_region / normalizer: fold
    adjacent small regions so region count tracks data, not history).
    Adjacent regions pair up in key order; a pair merges when its
    combined size stays under 2× the table's average region size —
    the normalizer's relative threshold, so the plan is scale-free
    (no absolute byte constant to outgrow).

    Declarative shape: region sizes are one aggregate; adjacency is a
    rank window in key order (pairing = rank div 2 — the parallel
    approximation of the sequential greedy fold, like
    `hb_balanced_splits`' LPT deal); the verdict is pure column math
    on the |regions|-row frame. Nothing rescans the corpus after the
    first aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    regions = d.groupBy(
        "source", (F.col("doc_id") % 5).alias("bucket")
    ).agg(
        F.sum(F.length(F.encode(F.col("text"), "UTF-8")))
        .cast("bigint")
        .alias("bytes")
    )
    wr = Window.partitionBy("source").orderBy("bucket")
    wa = Window.partitionBy("source")
    ranked = regions.select(
        "source",
        "bucket",
        "bytes",
        F.row_number().over(wr).alias("rk"),
        F.avg("bytes").over(wa).alias("avg_bytes"),
    )
    pairs = ranked.groupBy(
        "source",
        F.expr("(rk - 1) div 2").alias("pair_id"),
    ).agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.sum("bytes").cast("bigint").alias("combined_bytes"),
        F.round(F.max("avg_bytes"), 3).alias("avg_region_bytes"),
    )
    return pairs.select(
        "source",
        F.col("pair_id").cast("bigint").alias("pair_id"),
        "n_regions",
        "combined_bytes",
        "avg_region_bytes",
        (
            (F.col("n_regions") == 2)
            & (F.col("combined_bytes") < 2 * F.col("avg_region_bytes"))
        ).alias("merge_ok"),
    )


# --------------------------------------------- salted-rowkey planning
_SALT_BUCKETS = (4, 8, 16, 32)


_SALT_ORACLE = f"""
WITH writes AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS w
  FROM events GROUP BY user_id
),
mx AS (
  SELECT CAST(MAX(user_id) AS BIGINT) AS max_u,
         CAST(SUM(w) AS BIGINT) AS total
  FROM writes
),
grid AS (
  SELECT UNNEST([{', '.join(f'CAST({n} AS BIGINT)' for n in _SALT_BUCKETS)}])
    AS n_buckets
),
assigned AS (
  SELECT g.n_buckets, wr.w,
         wr.user_id * g.n_buckets // (mx.max_u + 1) AS range_bucket,
         CAST(('0x' || SUBSTR(MD5(CAST(wr.user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % g.n_buckets AS salt_bucket
  FROM writes wr, grid g, mx
),
rl AS (
  SELECT n_buckets, range_bucket, CAST(SUM(w) AS BIGINT) AS load
  FROM assigned GROUP BY 1, 2
),
sl AS (
  SELECT n_buckets, salt_bucket, CAST(SUM(w) AS BIGINT) AS load
  FROM assigned GROUP BY 1, 2
),
r AS (
  SELECT n_buckets, CAST(MAX(load) AS BIGINT) AS range_max
  FROM rl GROUP BY 1
),
s AS (
  SELECT n_buckets, CAST(MAX(load) AS BIGINT) AS salt_max
  FROM sl GROUP BY 1
)
SELECT r.n_buckets,
       mx.total AS total_writes,
       r.range_max AS range_max_load,
       s.salt_max AS salt_max_load,
       ROUND(CAST(r.range_max AS DOUBLE) * r.n_buckets / mx.total, 4)
         AS range_skew,
       ROUND(CAST(s.salt_max AS DOUBLE) * s.n_buckets / mx.total, 4)
         AS salt_skew,
       ROUND(CAST(r.range_max AS DOUBLE) / s.salt_max, 4)
         AS hotspot_improvement
FROM r JOIN s USING (n_buckets), mx
ORDER BY r.n_buckets
"""


@register("hb_salt_plan", oracle=_SALT_ORACLE, category="hbase")
def hb_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-rowkey design study (A5-adjacent: HBase hotspotting):
    for each candidate salt-bucket count, compare the hottest region
    under CONTIGUOUS rowkey ranges (what an unsalted sequential key
    gives you) against md5-salted bucketing of the same write stream —
    max load, skew ratio (max/ideal), and the hotspot improvement
    factor. This is the table a schema review reads before choosing
    `salt = hash(key) % n` for a write-heavy table; the reference's
    export splits (`hb_balanced_splits`) assume the region layout this
    op helps pick.

    Plan: writes collapse to the per-key ledger ONCE (the only
    data-sized exchange); the |keys| x |grid| assignment explodes from
    a 4-row broadcast grid and reduces map-side per (config, bucket).
    Loads stay BIGINT; the two skew ratios divide once. The md5 salt
    matches the engine's other hash-routing ops (same conv/substr
    split), so a plan chosen here is the plan the sinks implement.
    """
    writes = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    mx = writes.agg(
        F.max("user_id").cast("bigint").alias("max_u"),
        F.sum("w").cast("bigint").alias("total"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(n).cast("bigint") for n in _SALT_BUCKETS])
        ).alias("n_buckets")
    )
    h = F.expr(
        "cast(conv(substring(md5(cast(user_id AS string)), 1, 8), 16, 10)"
        " AS bigint)"
    )
    assigned = (
        writes.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(mx))
        .select(
            "n_buckets",
            "w",
            "total",
            F.expr("user_id * n_buckets DIV (max_u + 1)").alias("range_bucket"),
            (h % F.col("n_buckets")).alias("salt_bucket"),
        )
    )
    rl = assigned.groupBy("n_buckets", "total", "range_bucket").agg(
        F.sum("w").cast("bigint").alias("load")
    )
    sl = assigned.groupBy("n_buckets", "salt_bucket").agg(
        F.sum("w").cast("bigint").alias("load")
    )
    r = rl.groupBy("n_buckets", "total").agg(
        F.max("load").cast("bigint").alias("range_max")
    )
    s = sl.groupBy("n_buckets").agg(
        F.max("load").cast("bigint").alias("salt_max")
    )
    return (
        r.join(F.broadcast(s), "n_buckets")
        .select(
            "n_buckets",
            F.col("total").alias("total_writes"),
            F.col("range_max").alias("range_max_load"),
            F.col("salt_max").alias("salt_max_load"),
            F.round(
                F.col("range_max").cast("double")
                * F.col("n_buckets")
                / F.col("total"),
                4,
            ).alias("range_skew"),
            F.round(
                F.col("salt_max").cast("double")
                * F.col("n_buckets")
                / F.col("total"),
                4,
            ).alias("salt_skew"),
            F.round(
                F.col("range_max").cast("double") / F.col("salt_max"), 4
            ).alias("hotspot_improvement"),
        )
        .orderBy("n_buckets")
    )
