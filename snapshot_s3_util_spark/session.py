"""SparkSession factory + runtime-conf guard.

The engine targets a multi-executor cluster at ~100 TB (AQE on, skew-join
handling, sane shuffle parallelism); locally it runs `local[N]`.

Two entry paths exist:
- our own tests / bench build a session via :func:`get_spark`;
- the driver harness passes us ITS session — :func:`ensure_conf` applies
  the runtime-settable confs the engine depends on (UTC timezone, the
  parquet-nanos legacy flag needed for `events.parquet`, Arrow).

The same conf dict also holds the engine's export format: every Parquet
file the engine writes is zstd-compressed and stores timestamps as INT64
`TIMESTAMP(MICROS, isAdjustedToUTC=true)`. Spark has no per-write option
for the timestamp type, so the session conf is the one place that sets
both, on our own session and on a harness-supplied one alike.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable: those REQUIRED for correctness, then
# the engine's Parquet export format.
_RUNTIME_CONFS = {
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects at read
    # time without this flag (SURVEY.md §1.2; verified PARQUET_TYPE_ILLEGAL).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive ms-timestamps must agree with DuckDB's naive TIMESTAMP.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for pandas_udf / applyInPandas / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The engine's NULL semantics are pinned against ANSI mode (the
    # Spark 4 default): try_* escape hatches, size(NULL) = NULL (legacy
    # mode returns -1, which would silently diverge from every DuckDB
    # oracle), error-on-overflow. A harness session with ANSI off would
    # flip those semantics, so pin it explicitly.
    "spark.sql.ansi.enabled": "true",
    # Export format. Spark's defaults write snappy and `ts` as 12-byte
    # INT96, which is deprecated and left each `events` export larger
    # than its input; zstd plus INT64 microseconds (the type pyarrow,
    # DuckDB and Spark read natively) cut it to about 0.56x at the
    # perfbench tier. A per-write `.option("compression", ...)` still
    # overrides the codec.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def ensure_conf(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an externally-created session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable in this deployment; reads will surface it
    return spark


def get_spark(app_name: str = "snapshot-s3-util-spark",
              cpus: int | str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build the engine's canonical local session.

    `cpus` defaults to `SPARK_GRAFT_CPUS`, else to the CPUs this process
    may run on (what `nproc` prints), never a fixed slot count the host
    may not have. Shuffle partitions follow `cpus`. At cluster scale the
    same conf set applies minus `master`, with shuffle partitions sized
    to ~2-3x total cores and `spark.sql.files.maxPartitionBytes` left at
    256m so a 100 TB scan yields ~400k well-sized input splits.
    """
    cpus = cpus or os.environ.get(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    shuffle = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # Python worker spawn-and-connect-back accept timeout (default
        # 15s). Under a loaded box (the full pytest suite saturating
        # local[32]) daemon startup occasionally exceeded it and the
        # streaming ops failed with "Python worker failed to connect
        # back" — green in isolation, red under contention, BOTH r14
        # full-suite runs. 120s makes worker spawn robust to load
        # without affecting any healthy path (it is an accept() bound,
        # not a wait).
        .config("spark.python.authenticate.socketTimeout", "120s")
        # The JVM-wide cache of compiled whole-stage-codegen classes
        # (default 100 entries). Guava splits the cap over 4 LRU
        # segments of 25, so a segment overflows long before the total
        # does. Measured at sf0.001: each warm pass over perfbench's
        # `flagship` ops compiled 79-83 of its 113 classes again, and
        # `backup` 20 of its 88, each then JIT-warmed again; at 1000
        # neither compiles any. A static conf, so it is set here:
        # `ensure_conf` cannot set it on a harness session.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_conf(spark)


def clear_persistent_rdds(spark: SparkSession) -> int:
    """Unpersist every persisted RDD; returns how many were dropped.

    The rank/dedup helpers pin partitioner decisions with
    `localCheckpoint(eager=False)` spines (plans/rank.py), and each
    materialization leaves its block set in the BlockManager until the
    JVM garbage-collects the plan — measured: +1 persistent RDD per
    run, unbounded across a 365-op sweep. HARNESS-ONLY: call between
    queries, after results are materialized; unpersisting a
    lineage-truncated RDD that a live DataFrame still needs would make
    that frame unreadable (localCheckpoint cannot recompute)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    rdds = list(jmap.values())
    for rdd in rdds:
        try:
            rdd.unpersist()
        except Exception:
            pass  # already cleaned by the ContextCleaner — fine
    return len(rdds)
