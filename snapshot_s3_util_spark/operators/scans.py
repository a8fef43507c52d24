"""Scan operators (SURVEY.md §2B "Scans / sources / sinks").

These are the engine's analogs of the reference's read surface: a full
HBase-table read, a column-family projection, and a rowkey-range scan
(HBase `Scan(startRow, stopRow)`). On Parquet all three resolve to a
single FileSourceScanExec with column pruning and min/max row-group
skipping — verify with `.explain("formatted")`: `ReadSchema` shows the
pruned columns and `PushedFilters` the key-range predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapshot_s3_util_spark.io import load_table, on_scratch
from snapshot_s3_util_spark.params import KEYRANGE_HI, KEYRANGE_LO
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import (
    EVENTS_REL,
    KEYS_FP_SQL,
    keys_fp_col,
)


@register("scan_full", oracle="SELECT * FROM nation", category="scan")
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full table scan (HBase full-table Scan analog)."""
    return load_table(spark, sf_dir, "nation")


@register(
    "scan_pruned",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
    category="scan",
)
def scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning — the column-family projection analog (SURVEY §1.1).

    The physical plan must read ONLY these two parquet columns
    (ReadSchema: struct<l_orderkey:bigint,l_quantity:double>).
    """
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "scan_keyrange",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey >= {KEYRANGE_LO} AND o_orderkey < {KEYRANGE_HI}
    """,
    category="scan",
)
def scan_keyrange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rowkey-range scan analog (HBase Scan(start, stop), half-open).

    The range predicate is pushed to the parquet reader (PushedFilters:
    GreaterThanOrEqual, LessThan) so non-overlapping row groups are
    skipped via footer min/max — the columnar equivalent of HBase
    seeking directly to the start key.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_orderkey") >= KEYRANGE_LO) & (F.col("o_orderkey") < KEYRANGE_HI))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "source_json_props",
    oracle=f"""
    SELECT event_id,
           CASE WHEN JSON_VALID(props)
                THEN CAST(props->>'$.k' AS BIGINT) END AS k
    FROM {EVENTS_REL} e
    """,
    category="scan",
)
def source_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingest: parse the JSON `props` column.

    `from_json` with an explicit schema stays JVM-side (Jackson inside
    codegen) — no Python in the loop, so this scales with the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), "k LONG").getField("k").alias("k"),
    )


@register(
    "scan_file_metadata",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS first_row_idx,
           CAST(COUNT(*) - 1 AS BIGINT) AS last_row_idx,
           TRUE AS is_key_ordered,
           MD5(STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS order_fp
    FROM documents
    """,
    category="scan",
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout audit via the hidden `_metadata` column — the
    engine-side analog of the reference's snapshot verification (A7):
    row count, physical row-index range (always 0..n-1 for a single
    file — the oracle states that invariant), an `is_key_ordered`
    verdict (doc_id is non-decreasing in PHYSICAL read order — the
    file is clustered on the key, with no assumption that ids are
    dense or zero-based), and a fingerprint of doc_ids in physical
    read order.

    The verdict is the checkable contract: DuckDB states the expected
    physical order via the logical key (`ORDER BY doc_id` + TRUE), and
    Spark proves the file delivers it, certifying both engines read
    identical bytes in identical order — what a snapshot verifier
    signs off before declaring an export faithful. `_metadata` is
    generated per-split at scan time; this is a driver-sized audit
    aggregate (one collect of the key column), not a data-path op.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = d.select(
        "doc_id", F.col("_metadata.row_index").alias("row_idx")
    )
    agg = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("row_idx").cast("bigint").alias("first_row_idx"),
        F.max("row_idx").cast("bigint").alias("last_row_idx"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("row_idx"), F.col("doc_id")))
            ),
            lambda s: s["doc_id"],
        ).alias("phys"),
    )
    return agg.select(
        "n_rows",
        "first_row_idx",
        "last_row_idx",
        (F.col("phys") == F.array_sort("phys")).alias("is_key_ordered"),
        F.md5(
            F.array_join(
                F.transform("phys", lambda d_: d_.cast("string")), ","
            )
        ).alias("order_fp"),
    )


_CSV_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(CASE WHEN c_custkey % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       ROUND(SUM(CASE WHEN c_custkey % 7 <> 0 THEN c_acctbal END), 2)
         AS sum_acctbal
FROM customer
"""


@register("source_csv_permissive", oracle=_CSV_ORACLE, category="scan")
@on_scratch
def source_csv_permissive(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Messy-CSV ingestion with corrupt-record accounting: the raw-
    text landing zone every real pipeline starts from. Deterministic
    synthetic mess — every custkey%7==0 row carries a non-numeric
    balance, every name is quoted and contains an embedded comma —
    written as raw text lines, then read back through an EXPLICIT
    schema in PERMISSIVE mode with `columnNameOfCorruptRecord`: bad
    rows land whole in the corrupt column (never abort the scan, never
    silently vanish), good rows parse through the quoting.

    The oracle never sees the file — it predicts the ingest report
    straight from the clean table, so writer, quoting, parser, and
    corrupt-row routing all have to agree for the hash to match.
    Scale: text source scans split by line ranges; PERMISSIVE keeps
    per-row failure isolated (DROPMALFORMED/FAILFAST are the
    alternatives you can't afford at 100 TB — silent loss or a dead
    job 90 TB in).
    """
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    c = load_table(spark, sf_dir, "customer")
    lines = c.select(
        F.concat(
            F.col("c_custkey").cast("string"),
            F.lit(',"'),
            F.col("c_name"),
            F.lit(', Esq.",'),
            F.when(F.col("c_custkey") % 7 == 0, F.lit("oops")).otherwise(
                F.col("c_acctbal").cast("string")
            ),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(root)
    schema = StructType(
        [
            StructField("custkey", LongType()),
            StructField("name", StringType()),
            StructField("acctbal", DoubleType()),
            StructField("_corrupt", StringType()),
        ]
    )
    parsed = spark.read.csv(
        root,
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    return parsed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("_corrupt").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.round(
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("acctbal"))), 2
        ).alias("sum_acctbal"),
    )


_EVOLVE_ORACLE = f"""
WITH v0 AS (
  SELECT event_id, user_id, value FROM {EVENTS_REL} e
  WHERE event_id % 2 = 0
),
v1 AS (
  SELECT event_id, user_id, value, event_type FROM {EVENTS_REL} e
  WHERE event_id % 2 = 1
),
unioned AS (
  SELECT event_id, user_id, value, NULL AS event_type FROM v0
  UNION ALL
  SELECT event_id, user_id, value, event_type FROM v1
)
SELECT COALESCE(event_type, '<pre-schema>') AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(value), 2) AS sum_value
FROM unioned
GROUP BY 1
"""


@register("scan_schema_evolution", oracle=_EVOLVE_ORACLE, category="scan")
@on_scratch
def scan_schema_evolution(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Schema-evolution read: a dataset whose early files were written
    BEFORE a column existed (v0: 3 columns) and whose later files
    carry the new column (v1: +event_type), read as ONE table with
    `mergeSchema` — old rows surface NULL for the new column instead
    of failing the scan or silently dropping files.

    The report buckets rows by the evolved column (pre-schema rows
    under a sentinel) with per-bucket counts and value totals; the
    oracle predicts it from the source table and the same even/odd
    file-generation rule, so footer merging, NULL backfill, and both
    read paths must agree. At 100 TB schema evolution is the NORMAL
    state of a long-lived dataset — a reader that requires uniform
    footers forces a full rewrite per added column. mergeSchema costs
    a footer read per file at planning; pin the merged schema
    explicitly in production readers to avoid even that.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(f"{root}/g=0")
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "value", "event_type"
    ).write.mode("overwrite").parquet(f"{root}/g=1")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{root}/g=0", f"{root}/g=1"
    )
    return (
        back.groupBy(
            F.coalesce(F.col("event_type"), F.lit("<pre-schema>")).alias(
                "event_type"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_LEDGER_SHARDS = 8
_LEDGER_DONE = 5  # shards 0..4 already processed


@register(
    "scan_incremental_ledger",
    oracle=f"""
    SELECT CAST(user_id % {_LEDGER_SHARDS} AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 4) AS sum_value
    FROM {EVENTS_REL} e
    WHERE user_id % {_LEDGER_SHARDS} >= {_LEDGER_DONE}
    GROUP BY 1
    """,
    category="scan",
)
@on_scratch
def scan_incremental_ledger(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """Ledger-driven incremental ingest: a hive-partitioned landing
    zone ({_LEDGER_SHARDS} shards), a processed-partition ledger
    (shards 0..{_LEDGER_DONE} exclusive), and a run that discovers
    UNPROCESSED partitions by anti-joining the partition inventory
    against the ledger and aggregates only those — the restartable
    batch-ingest discipline (each run's output + ledger update commit
    together; re-runs are no-ops).

    Plan: partition discovery scans ONLY the partition column (the
    FileScan's ReadSchema is empty — directory names, no data pages);
    the unprocessed set is resolved driver-side and applied as a
    literal `isin` filter, which the scan planner turns into static
    `PartitionFilters` — processed directories are never listed into
    the scan, so at 100 TB the run's cost scales with the NEW data
    only, which is the entire point of a ledger.  The one driver-side
    materialization is the todo PARTITION LIST — catalog metadata
    bounded by |partitions| (what any metastore-pruned planner holds),
    never row data.  (A broadcast-semi formulation stays declarative
    but doesn't prune: DPP doesn't fire on a same-source semi join, so
    every footer would still be read — verified on the executed plan.)
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "shard", (F.col("user_id") % _LEDGER_SHARDS).cast("int")
    )
    ev.write.mode("overwrite").partitionBy("shard").parquet(out)

    ledger = spark.createDataFrame(
        [(i,) for i in range(_LEDGER_DONE)], "shard int"
    )
    landed = spark.read.parquet(out)
    # Partition-catalog resolution: the inventory scan reads zero
    # data columns (ReadSchema struct<>); the collected todo list
    # is metadata bounded by |partitions|, not row data.
    todo = [
        r.shard
        for r in (
            landed.select(F.col("shard").cast("int").alias("shard"))
            .distinct()
            .join(F.broadcast(ledger), "shard", "anti")
            .collect()
        )
    ]
    fresh = landed.filter(F.col("shard").isin(todo))
    return (
        fresh.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


_DQ_ORACLE = """
WITH pk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS viol
  FROM orders
),
fk AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS viol
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
),
nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS viol
  FROM orders
),
dom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) AS viol
  FROM orders
),
rng AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS viol
  FROM orders
)
SELECT 'pk_unique' AS rule, n AS n_checked, viol AS n_violations,
       viol = 0 AS passed FROM pk
UNION ALL SELECT 'fk_customer', n, viol, viol = 0 FROM fk
UNION ALL SELECT 'notnull_orderdate', n, viol, viol = 0 FROM nn
UNION ALL SELECT 'domain_orderstatus', n, viol, viol = 0 FROM dom
UNION ALL SELECT 'range_totalprice', n, viol, viol = 0 FROM rng
"""


@register("scan_dq_expectations", oracle=_DQ_ORACLE, category="scan")
def scan_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation battery over the orders feed — the
    ingest gate a lakehouse runs before publishing a batch: primary-
    key uniqueness, referential integrity to customer, not-null,
    domain membership, and range rules, each reporting checked and
    violation counts plus a pass verdict.

    Plan: the four single-table rules fold into ONE aggregate pass
    over orders (shared scan, map-side combined); the FK rule is a
    broadcast-dim LEFT JOIN null-count.  At 100 TB a DQ gate must be
    O(one scan), never one pass per rule — rules are columns of the
    same aggregate, not separate queries.  The row-per-rule report
    unpivots from that single row.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    joined = o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left"
    )
    one = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("v_pk"),
        F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("v_fk"),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("v_nn"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("v_dom"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v_rng"),
    )
    rules = [
        ("pk_unique", "v_pk"),
        ("fk_customer", "v_fk"),
        ("notnull_orderdate", "v_nn"),
        ("domain_orderstatus", "v_dom"),
        ("range_totalprice", "v_rng"),
    ]
    stack = ", ".join(f"'{name}', {col}" for name, col in rules)
    return one.selectExpr(
        f"stack({len(rules)}, {stack}) AS (rule, n_violations)", "n AS n_checked"
    ).select(
        "rule",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


_ANALYZE_ORACLE = """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS ndv_custkey,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS ndv_status,
         CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS nulls_priority,
         CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey,
         CAST(MAX(o_orderkey) AS BIGINT) AS max_orderkey,
         ROUND(MIN(o_totalprice), 2) AS min_price,
         ROUND(MAX(o_totalprice), 2) AS max_price,
         ROUND(AVG(LENGTH(o_orderpriority)), 6) AS avg_len_priority
  FROM orders
)
SELECT * FROM s
"""


@register("scan_analyze_stats", oracle=_ANALYZE_ORACLE, category="scan")
def scan_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-style column statistics in ONE pass: row count,
    exact NDVs, null counts, min/max, and average string length — the
    stats a cost-based optimizer feeds on (Spark's own
    `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` computes this
    same profile; here it's an operator whose output an external
    catalog can store, and the oracle pins the exact numbers).

    Plan: one shared scan, one aggregate; the two exact
    COUNT(DISTINCT)s expand the aggregate (Spark plans multi-distinct
    via Expand) but still one data pass.  At 100 TB you'd swap exact
    NDV for `approx_count_distinct` (agg_approx_distinct documents
    that contract) — stats collection must never cost more than the
    queries it accelerates.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("ndv_custkey"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("ndv_status"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("nulls_priority"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.avg(F.length("o_orderpriority")), 6).alias("avg_len_priority"),
    )


@register(
    "scan_partition_skew_report",
    oracle=f"""
    WITH p AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM {EVENTS_REL} e GROUP BY event_type
    ),
    s AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_parts,
                 CAST(MAX(n_rows) AS BIGINT) AS mx
          FROM p)
    SELECT p.event_type AS partition_value, p.n_rows, p.n_users,
           ROUND(p.n_rows * 1.0 * s.n_parts / s.total, 6) AS skew_factor,
           p.n_rows = s.mx AS is_largest
    FROM p, s
    """,
    category="scan",
)
@on_scratch
def scan_partition_skew_report(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """Partition-layout skew telemetry for a hive-partitioned landing
    zone: rows and distinct keys per partition, each partition's skew
    factor (size ÷ mean partition size), and the largest-partition
    flag — the report that decides when a layout needs salting,
    re-bucketing, or AQE skew handling BEFORE a job hits the straggler.
    The physical layout is written (partitionBy event_type) and the
    report computed from the READ-BACK copy, so the write path is
    inside the check.

    Plan: one read-back aggregate (map-side combined per partition —
    at scale each report row summarizes one directory's files);
    normalizers run on the |partitions| frame via one tiny broadcast.
    """
    from snapshot_s3_util_spark.sources.snapshot_source import (
        read_snapshot,
        write_snapshot,
    )

    ev = load_table(spark, sf_dir, "events")
    write_snapshot(ev, out)
    back = read_snapshot(spark, out)
    p = back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    s = p.agg(
        F.sum("n_rows").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.max("n_rows").cast("bigint").alias("mx"),
    )
    return (
        p.crossJoin(F.broadcast(s))
        .select(
            F.col("event_type").alias("partition_value"),
            "n_rows",
            "n_users",
            F.round(
                F.col("n_rows") * 1.0 * F.col("n_parts") / F.col("total"), 6
            ).alias("skew_factor"),
            (F.col("n_rows") == F.col("mx")).alias("is_largest"),
        )
    )


_CORRUPT_ORACLE = f"""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_recovered,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {KEYS_FP_SQL.format(col="o_orderkey")} AS keys_fp
FROM orders
WHERE o_orderkey % 4 <> 3
GROUP BY o_orderstatus
"""


def write_corrupt_buckets(spark: SparkSession, sf_dir: str, root: str) -> None:
    """`orders` as 4 key buckets under ``root``, bucket 3's files
    overwritten with non-Parquet bytes. Their `.crc` sidecars go, so a
    read meets the bytes (as on S3), not a checksum mismatch."""
    import glob
    import os

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_orderkey") % 4).alias("b"),
    )
    o.repartition(4, "b").write.mode("overwrite").partitionBy("b").parquet(
        root
    )
    victims = glob.glob(f"{root}/b=3/*.parquet")
    assert victims, "bucket 3 produced no file"
    for v in victims:
        with open(v, "wb") as fh:
            fh.write(b"\x00CORRUPT" * 128)  # not a parquet footer
    for crc in glob.glob(f"{root}/b=3/.*.crc"):
        os.remove(crc)


@register("scan_ignore_corrupt", oracle=_CORRUPT_ORACLE, category="scan")
@on_scratch
def scan_ignore_corrupt(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Corrupt-file-tolerant landing-zone scan: a 4-bucket parquet
    layout is written, one bucket's data file is then OVERWRITTEN WITH
    GARBAGE BYTES (a torn upload / bad disk emulation), and the read
    back runs with `ignoreCorruptFiles` so the job completes on the
    surviving buckets instead of dying — the batch-recovery posture
    every large ingest needs (the default fail-fast read DOES die;
    `tests/test_semantics.py` asserts that on the same layout, so the
    option is load-bearing).

    The oracle predicts the recovered rows in closed form (buckets
    0-2, i.e. keys with k%4≠3), with per-status counts, key sums and
    order-insensitive key fingerprints — so silently dropping MORE
    than the corrupt bucket, or resurrecting part of it, both fail.

    Plan: bucket routing is one narrow column + repartition on the
    bucket key (each output file = one bucket); the read-back is a
    normal pruned parquet scan over the surviving files.
    """
    write_corrupt_buckets(spark, sf_dir, root)
    # NO b!=3 filter here: partition pruning would skip the corrupt
    # file at planning time and the option would never be exercised —
    # the scan must HIT the garbage file and recover past it.
    back = spark.read.option("ignoreCorruptFiles", "true").parquet(root)
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_recovered"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            keys_fp_col("o_orderkey").alias("keys_fp"),
        )
    )


_CONTRACT = (
    ("o_orderkey", "bigint", True),
    ("o_custkey", "bigint", True),
    ("o_orderstatus", "string", True),
    ("o_totalprice", "double", True),
    ("o_orderdate", "timestamp_ntz", True),  # raw file: no-tz (SURVEY 1.2)
    ("o_orderpriority", "string", True),
    ("o_shippriority", "int", False),   # expected but absent
    ("o_comment", "string", False),     # expected but absent
)

_CONTRACT_ORACLE = f"""
WITH contract AS (
  SELECT * FROM (VALUES
    {", ".join(f"('{c}', '{t}', {int(p)})" for c, t, p in _CONTRACT)}
  ) AS t(col, expected_type, should_exist)
)
SELECT col, expected_type,
       CAST(should_exist AS BOOLEAN) AS present,
       CASE WHEN should_exist = 1 THEN 'ok' ELSE 'missing_column' END
         AS status
FROM contract
"""


@register("scan_schema_contract", oracle=_CONTRACT_ORACLE, category="scan")
def scan_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract enforcement at the scan: diff the ACTUAL parquet
    schema of the orders landing zone against a declared column
    contract (name + Spark type) and report per-column status —
    the producer/consumer drift gate that belongs in front of every
    ingest (`scan_schema_evolution` handles the legitimate-evolution
    path; this op CATCHES the illegitimate kind).  The contract
    deliberately includes two columns the table does not carry, so
    the 'missing_column' arm is exercised, not just asserted.

    The report derives from the REAL `spark.read.parquet(...).schema`
    (planner metadata — zero data rows touched); type names are
    compared on Spark's `simpleString` form.  The oracle states the
    expected verdict table in closed form.
    """
    actual = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(f"{sf_dir}/orders.parquet").schema.fields
    }
    rows = []
    for col, typ, _ in _CONTRACT:
        present = col in actual
        if not present:
            status = "missing_column"
        elif actual[col] != typ:
            status = f"type_drift:{actual[col]}"
        else:
            status = "ok"
        rows.append((col, typ, present, status))
    return spark.createDataFrame(
        rows, "col string, expected_type string, present boolean,"
        " status string"
    )


@register(
    "source_xml_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(COUNT(source) AS BIGINT) AS n_with_source
    FROM documents
    GROUP BY lang
    """,
    category="source",
)
@on_scratch
def source_xml_roundtrip(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Built-in XML data source round-trip (Spark 4 ships the former
    spark-xml connector natively, SPARK-44265): the documents catalog
    columns are written as XML (`rowTag` sharded one file per
    partition, like every distributed writer) and read back with an
    EXPLICIT schema — no inference pass, which at 100 TB is the
    difference between one scan and two. NULL fields are omitted
    elements on write and must come back as SQL NULLs under the
    declared schema (`n_with_source` counts them, so a NULL↔''
    corruption in the codec would flip the hash).

    Text bodies are deliberately NOT round-tripped: XML 1.0 cannot
    represent some control characters and readers legally normalize
    surrounding whitespace, so raw-corpus fidelity is a parquet job
    (every other sink here); XML earns its place for
    metadata/catalog interchange with XML-consuming systems.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = f"{tmp}/docs_xml"
    (
        docs.write.format("xml")
        .option("rowTag", "doc")
        .option("rootTag", "docs")
        .mode("overwrite")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id bigint, lang string, source string, n_chars bigint")
        .load(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.count("source").cast("bigint").alias("n_with_source"),
        )
    )
