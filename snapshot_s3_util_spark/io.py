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

Inputs are immutable: a snapshot or a test tier is never rewritten in
place, so an input's schema is a property of the file version, the way
a catalog keeps it. The loaders infer it once per process with Spark's
footer-reading job, keep it in :data:`_SCHEMAS` keyed by the path's
Hadoop `FileSystem` status (path, modification time, length; s3a
answers too) and the session's `nanosAsLong` flag, and read every later
time with that schema and no job. A rewritten file has a new status,
so it is inferred again; a directory of part files is keyed by the
directory's own status, which a write that replaces it changes.

Scale notes (100 TB): `spark.read.parquet` on a directory tree gets
file-listing parallelism, partition pruning and row-group skipping for
free; past the first read the loaders add one `getFileStatus` call on
the driver and nothing else, so they scale with the FileSourceScanExec
machinery.
"""

from __future__ import annotations

import functools
import shutil
import tempfile
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(_stored_schema(spark, path)).parquet(path)
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

    The streaming twin of :func:`load_table`: same stored raw schema, same
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
    raw = _stored_schema(spark, f"{sf_dir}/{name}.parquet")
    stream = spark.readStream.schema(raw).parquet(f"{sf_dir}/{{{name}.parquet}}")
    return _normalize_ts(stream) if name == "events" else stream


# (path, modification time, length, nanosAsLong) -> inferred schema
_SCHEMAS: dict[tuple[str, int, int, str], StructType] = {}


def _stored_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the Parquet input at ``path``,
    inferred once per file version and session flag (module
    docstring). `nanosAsLong` is part of the key because it decides
    how a TIMESTAMP(NANOS) column is typed (bigint, or refused)."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    status = hpath.getFileSystem(hconf).getFileStatus(hpath)
    key = (
        status.getPath().toString(),
        status.getModificationTime(),
        status.getLen(),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
    )
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    return _SCHEMAS[key]


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
    ``fn`` exits. A result computed only from rows on the driver
    (built there, or a finished memory sink's) reads nothing under
    ``root`` and is returned as it is, saving the checkpoint's job.
    Stack it under ``@register``.
    """

    @functools.wraps(fn)
    def op(spark: SparkSession, sf_dir: str) -> DataFrame:
        root = tempfile.mkdtemp(prefix=f"s3u_{fn.__name__}_")
        try:
            df = fn(spark, sf_dir, root)
            return df if _rows_on_driver(df) else df.localCheckpoint(eager=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    return op


def _rows_on_driver(df: DataFrame) -> bool:
    """True when ``df`` is computed only from rows on the driver.

    Every leaf of the optimized plan, subqueries included, is then a
    `LocalRelation` (SQL `VALUES`, folded local data), a `MemoryPlan`
    (a finished memory sink's rows), or the `LogicalRDD` that classic
    PySpark's ``createDataFrame(rows)`` makes, whose lineage starts
    only at parallelized collections (the rows themselves, re-pickled
    and converted on the way). The package parallelizes nothing else.
    Any other leaf (a file scan, the statestore reader, a checkpoint)
    may read files, so the answer is then False.
    """
    plan = df._jdf.queryExecution().optimizedPlan()
    subqueries = plan.subqueriesAll()
    todo = []
    for p in [plan] + [subqueries.apply(i) for i in range(subqueries.size())]:
        leaves = p.collectLeaves()
        for leaf in (leaves.apply(i) for i in range(leaves.size())):
            kind = leaf.getClass().getSimpleName()
            if kind == "LogicalRDD":
                todo.append(leaf.rdd())
            elif kind not in ("LocalRelation", "MemoryPlan"):
                return False
    while todo:
        rdd = todo.pop()
        deps = rdd.dependencies()
        if deps.isEmpty() and (
            rdd.getClass().getSimpleName() != "ParallelCollectionRDD"
        ):
            return False
        todo.extend(deps.apply(i).rdd() for i in range(deps.size()))
    return True


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
