"""Cost and format pins for the backup path.

Job counts and shuffle bytes come from Spark's status store through
`perfbench.sparkstats.StatusReader`, which sees every job submitted
between two reads, including those a streaming query starts on its own
threads (a job group misses them). Export sizes and formats come from
the Parquet files and their footers.
"""

from __future__ import annotations

import contextlib
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from perfbench.sparkstats import StatusReader
from snapshot_s3_util_spark import REGISTRY
from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.session import ensure_conf
from snapshot_s3_util_spark.sources.snapshot_source import (
    register_snapshot_source,
)
from snapshot_s3_util_spark.sql_helpers import digests_fp_col

_CODEC = "spark.sql.parquet.compression.codec"
_TS_TYPE = "spark.sql.parquet.outputTimestampType"


def _shuffle_write_bytes(jobs) -> int:
    own = {
        (st["stageId"], st["attemptId"]): st["shuffleWriteBytes"]
        for job in jobs for st in job["stages"]
    }
    return sum(own.values())


def test_digests_fp_shuffles_binary_digests(spark, sf_dir):
    """The fingerprint's partial buffers cross the shuffle as 16-byte
    digests: at most 0.65x the bytes of 32-char hex strings (about
    0.55x measured), with the same fingerprints."""
    ev = load_table(spark, sf_dir, "events")
    grouped = ev.select(
        "event_type",
        F.md5(F.concat_ws("|", "event_id", "user_id")).alias("h"),
    ).groupBy("event_type")
    hex_form = F.md5(F.concat_ws("", F.sort_array(F.collect_list("h"))))
    stats = StatusReader(spark)

    def run(fp):
        stats.skip_to_now()
        out = sorted(tuple(r) for r in grouped.agg(fp.alias("fp")).collect())
        return out, _shuffle_write_bytes(stats.new_jobs())

    want, hex_bytes = run(hex_form)
    got, bin_bytes = run(digests_fp_col("h"))
    assert got == want
    assert 0 < bin_bytes <= 0.65 * hex_bytes, (bin_bytes, hex_bytes)


# Jobs per fn() + collect() of each backup-workload op, as the suite's
# session runs them. A new eager action or hidden barrier moves these.
_BACKUP_JOBS = {
    "hb_export_import_cycle": 7,
    "source_hbase_snapshot": 5,
    "sink_s3_layout": 6,
    "stream_foreach_batch_export": 7,
    "hb_manifest_verify": 3,
    "topk_per_group": 3,
    "llm_dedup_exact": 3,
}


@pytest.mark.parametrize("name", sorted(_BACKUP_JOBS))
def test_backup_op_job_count(name, spark, sf_dir):
    stats = StatusReader(spark)
    REGISTRY[name].fn(spark, sf_dir).collect()
    assert len(stats.new_jobs()) == _BACKUP_JOBS[name]


# The four `flagship` ops the dict above does not cover, counted the
# same way.
_FLAGSHIP_JOBS = {
    "agg_hash_groupby": 3,
    "join_3way_topk": 7,
    "llm_contamination_ngram": 5,
    "hb_wal_replay_merge": 4,
}


@pytest.mark.parametrize("name", sorted(_FLAGSHIP_JOBS))
def test_flagship_op_job_count(name, spark, sf_dir):
    stats = StatusReader(spark)
    REGISTRY[name].fn(spark, sf_dir).collect()
    assert len(stats.new_jobs()) == _FLAGSHIP_JOBS[name]


@contextlib.contextmanager
def _legacy_export_format(spark):
    """Spark's default Parquet output (snappy, INT96 timestamps), the
    format of snapshots exported before the engine set its own."""
    old = {k: spark.conf.get(k) for k in (_CODEC, _TS_TYPE)}
    spark.conf.set(_CODEC, "snappy")
    spark.conf.set(_TS_TYPE, "INT96")
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _export_events(ev, out: str) -> int:
    """Write `events` in the snapshot layout; return its data bytes."""
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    files = glob.glob(os.path.join(out, "event_type=*", "*.parquet"))
    assert files
    return sum(os.path.getsize(f) for f in files)


def test_export_format_is_zstd_int64_micros(spark, sf_dir, tmp_path):
    """ensure_conf sets the engine's export format: every column chunk
    zstd, `ts` INT64 microseconds in UTC, at most 0.80x the bytes of
    Spark's snappy/INT96 default (about 0.74x measured)."""
    spark.conf.set(_CODEC, "snappy")
    ensure_conf(spark)
    assert spark.conf.get(_CODEC) == "zstd"

    ev = load_table(spark, sf_dir, "events")
    with _legacy_export_format(spark):
        legacy_bytes = _export_events(ev, str(tmp_path / "legacy"))
    new_bytes = _export_events(ev, str(tmp_path / "new"))

    for path in glob.glob(str(tmp_path / "new" / "event_type=*" / "*.parquet")):
        md = pq.read_metadata(path)
        assert md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                assert md.row_group(rg).column(c).compression == "ZSTD"
        ts = md.schema.column(md.schema.names.index("ts"))
        assert ts.physical_type == "INT64"
        assert md.schema.to_arrow_schema().field("ts").type == pa.timestamp(
            "us", tz="UTC"
        )
    assert new_bytes <= 0.80 * legacy_bytes, (new_bytes, legacy_bytes)


def _rows(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("legacy", [True, False], ids=["int96", "micros"])
def test_snapshot_source_reads_both_export_formats(
    legacy, spark, sf_dir, tmp_path
):
    """The `hbase_snapshot` source reads every column of an `events`
    export exactly as `spark.read.parquet` and the source table do,
    for snapshots exported in Spark's legacy format and in the
    engine's."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "snap")
    ctx = _legacy_export_format(spark) if legacy else contextlib.nullcontext()
    with ctx:
        _export_events(ev, out)
    ts_type = pq.read_schema(
        glob.glob(os.path.join(out, "event_type=*", "*.parquet"))[0]
    ).field("ts").type
    assert ts_type == (
        pa.timestamp("ns") if legacy else pa.timestamp("us", tz="UTC")
    )

    register_snapshot_source(spark)
    snap = spark.read.format("hbase_snapshot").option("path", out).load()
    cols = snap.columns
    assert sorted(cols) == sorted(ev.columns)
    got = _rows(snap, cols)
    assert got == _rows(spark.read.parquet(out), cols)
    assert got == _rows(ev, cols)
