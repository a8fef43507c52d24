"""Table loading — the engine's scan layer.

Mirrors the reference's data substrate (HBase snapshots exported as
immutable files; SURVEY.md §1.1) onto columnar Parquet: one immutable
parquet file per table per scale factor (TESTDATA.md). Batch reads go
through :func:`load_table` and stream reads through
:func:`load_table_stream`; both apply one `events` timestamp
normalization (:func:`_normalize_ts`), so that single mandatory custom
piece lives in exactly one place.

The module also owns op scratch space: every op that writes data and
reads it back (sinks, layout scans, streaming checkpoints) stages its
files in a directory made, materialized against and removed by
:func:`on_scratch` — locally a `tempfile` dir standing in for the S3
bucket; at cluster scale the one place to point at shared storage.

Scale notes (100 TB): `spark.read.parquet` on a directory tree gets
file-listing parallelism, partition pruning and row-group skipping for
free; the loaders below add nothing driver-side (no collect, no schema
inference loops), so they scale with the FileSourceScanExec machinery.
"""

from __future__ import annotations

import functools
import shutil
import tempfile
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snapshot_s3_util_spark.session import ensure_conf

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _utc_ns(ts_literal: str) -> int:
    """'YYYY-MM-DD HH:MM:SS' (UTC) -> epoch nanoseconds."""
    dt = datetime.strptime(ts_literal, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc
    )
    return int(dt.timestamp()) * 1_000_000_000


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    ts_min: str | None = None,
    ts_max: str | None = None,
) -> DataFrame:
    """Load one test table; canonicalizes the `events` timestamp.

    `events.parquet` has shipped in two physical encodings across driver
    testdata generations; both normalize to the SAME logical column — a
    session-UTC `timestamp` (LTZ) at microsecond precision, value-equal
    to DuckDB's `CAST(ts AS TIMESTAMP)`:

    - INT64 TIMESTAMP(NANOS): Spark 4 refuses it natively; with
      `nanosAsLong=true` it arrives as bigint nanos and
      `timestamp_micros(ts DIV 1000)` truncates ns->us with integer
      division — float division would round half-microseconds and
      diverge from DuckDB's truncation (SURVEY.md §1.2, verified).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers
      `timestamp_ntz`; cast to `timestamp` under the UTC session tz is
      a value-preserving retag, restoring the type every downstream
      `unix_micros`/interval-arithmetic op was written against.

    ``ts_min`` / ``ts_max`` (events only, whole-second UTC literals,
    [min, max) semantics) apply the time-range predicate on the RAW
    stored column BELOW the conversion: a filter above a conversion
    expression cannot reach the parquet scan (only IsNotNull pushes),
    so without this a 100 TB TTL sweep reads every row group. On the
    ns path `ns >= c*1000` is exactly `ns DIV 1000 >= c` for integer
    microsecond cutoffs; on the µs path the literal is compared as
    `timestamp_ntz` directly, so pre- and post-conversion filters
    agree; callers keep their post-conversion filters as the semantic
    source of truth and pass these purely as pushdown accelerators.
    """
    ensure_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # ns-encoded generation
            if ts_min is not None:
                df = df.filter(F.col("ts") >= F.lit(_utc_ns(ts_min)))
            if ts_max is not None:
                df = df.filter(F.col("ts") < F.lit(_utc_ns(ts_max)))
        elif ts_type == "timestamp_ntz":  # µs-encoded generation
            if ts_min is not None:
                df = df.filter(
                    F.col("ts") >= F.lit(ts_min).cast("timestamp_ntz")
                )
            if ts_max is not None:
                df = df.filter(
                    F.col("ts") < F.lit(ts_max).cast("timestamp_ntz")
                )
        df = _normalize_ts(df)
    return df


def load_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Stream one test table from where it lies, as a file source.

    The streaming twin of :func:`load_table`: same raw schema, same
    `events` timestamp normalization, and nothing written anywhere —
    at 100 TB-of-stream the source is the landing directory itself, so
    a staged copy would be a full write before the first micro-batch.

    The path is a one-name Hadoop glob (``{events.parquet}``) because
    the file source takes neither of the plain forms for both tier
    layouts: a plain FILE path fails at the first trigger ("Option
    'basePath' must be a directory"), and
    ``option("pathGlobFilter", ...)`` on the tier directory streams 0
    rows when ``<name>.parquet`` is a directory of part files (the
    stress-tier layout). The glob matches exactly that one name and
    reads every part file under it in either layout.
    """
    ensure_conf(spark)
    raw = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    stream = spark.readStream.schema(raw).parquet(f"{sf_dir}/{{{name}.parquet}}")
    return _normalize_ts(stream) if name == "events" else stream


def _normalize_ts(df: DataFrame) -> DataFrame:
    """`events.ts` in either stored encoding -> session-UTC `timestamp`
    (see :func:`load_table`); any other column type passes through."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def on_scratch(
    fn: Callable[[SparkSession, str, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    """Give an op ``fn(spark, sf_dir, root)`` its own scratch dir.

    The wrapped op is the registry's ``(spark, sf_dir)`` callable: it
    creates ``root``, runs ``fn``, materializes the result with an
    eager `localCheckpoint` (the frame reads files under ``root``, so
    it must hold its rows before they go) and removes ``root`` however
    ``fn`` exits. Stack it under ``@register``.
    """

    @functools.wraps(fn)
    def op(spark: SparkSession, sf_dir: str) -> DataFrame:
        root = tempfile.mkdtemp(prefix=f"s3u_{fn.__name__}_")
        try:
            return fn(spark, sf_dir, root).localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return op


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the embeddings table under the engine's vector-ingest
    contract: rows whose `embedding` is NULL (the encoder row never
    arrived) are dropped at the scan. Vector math cannot give them a
    defined score — Spark's zip_with would thread NULL through while
    DuckDB's list kernels reject NULL lists outright — so exclusion at
    ingest is the one semantics both engines can state; every oracle
    mirrors it with `WHERE embedding IS NOT NULL`. (Zero-norm vectors,
    by contrast, ARE loaded and score NULL via try_divide.) The filter
    is a pushed-down IsNotNull — free inside the scan."""
    return load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL-API paths)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_compute(df: DataFrame, *keys: str) -> DataFrame:
    """Row-respread gate for compute-heavy stages over tiny scans
    (r15, guide §2.5 input skew).

    The test tables are single parquet row groups, so byte-range
    splitting (`spark.sql.files.minPartitionNum`) cannot split them —
    an op whose heavy per-row work (interpreted higher-order folds,
    brute-force scoring behind a broadcast) sits directly on the scan
    runs as ONE task no matter how many cores the session has. Gated
    on the OBSERVED partition count (the stream-export REBALANCE gate
    pattern): below the session core count the frame is
    hash-respread once on `keys` (~MBs of shuffle locally); at
    deployment scale the scan already arrives in >= cores partitions
    and the gate is a no-op, so no shuffle is added where the data is
    already spread. Results are partitioning-independent by
    construction.

    Precondition: `df` must be narrow over its scan (projections and
    filters, no shuffle). The gate reads `df.rdd`, which plans the
    query; on a shuffle-bearing frame under AQE that materializes every
    upstream shuffle stage as a side effect, work the later real action
    does not reuse. Every current caller passes a projection or filter
    directly over a scan.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores, *keys)
    return df
