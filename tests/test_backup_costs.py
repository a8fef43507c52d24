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
from snapshot_s3_util_spark.sources import snapshot_source
from snapshot_s3_util_spark.sources.snapshot_source import (
    read_snapshot,
    write_snapshot,
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
    "hb_export_import_cycle": 6,
    "source_hbase_snapshot": 5,
    "sink_s3_layout": 5,
    "stream_foreach_batch_export": 5,
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
    write_snapshot(ev, out)
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


@pytest.mark.parametrize(
    "legacy, null_row",
    [(True, False), (False, False), (False, True)],
    ids=["int96", "micros", "null_row"],
)
def test_snapshot_source_reads_both_export_formats(
    legacy, null_row, spark, sf_dir, tmp_path
):
    """`read_snapshot` reads every column of an `events` export exactly
    as `spark.read.parquet` and the source table do, for snapshots
    exported in Spark's legacy format and in the engine's. A row with
    a NULL `event_type` lands in the hive NULL directory and reads
    back as SQL NULL."""
    ev = load_table(spark, sf_dir, "events")
    if null_row:
        ev = ev.unionByName(
            ev.orderBy("event_id").limit(1).withColumn(
                "event_type", F.lit(None).cast("string")
            )
        )
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

    snap = read_snapshot(spark, out)
    cols = snap.columns
    assert sorted(cols) == sorted(ev.columns)
    got = _rows(snap, cols)
    assert got == _rows(spark.read.parquet(out), cols)
    assert got == _rows(ev, cols)
    if null_row:
        assert os.path.isdir(
            os.path.join(out, "event_type=__HIVE_DEFAULT_PARTITION__")
        )
        assert snap.filter(F.col("event_type").isNull()).count() == 1


@pytest.mark.parametrize(
    "change",
    [
        lambda ev: ev.drop("user_id"),
        lambda ev: ev.withColumn("user_id", F.col("user_id").cast("string")),
    ],
    ids=["missing_column", "changed_type"],
)
def test_write_snapshot_refuses_a_frame_off_schema(change, spark, sf_dir, tmp_path):
    """A frame whose columns differ from `SCHEMA` is refused before any
    file is written: read back with `SCHEMA`, a missing column would
    come back as NULLs without an error."""
    out = str(tmp_path / "snap")
    with pytest.raises(ValueError, match="SCHEMA"):
        write_snapshot(change(load_table(spark, sf_dir, "events")), out)
    assert not os.path.exists(out)


def test_unpruned_snapshot_read_skips_the_planner(
    spark, sf_dir, tmp_path, monkeypatch
):
    """With nothing to prune, `read_snapshot` hands the root to Spark's
    scan: it never calls the local planner and builds its DataFrame
    without a Spark job."""
    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "snap")
    write_snapshot(ev, out)

    def no_planning(*args, **kwargs):
        raise AssertionError("an unpruned read planned files")

    monkeypatch.setattr(snapshot_source, "plan_snapshot_files", no_planning)
    stats = StatusReader(spark)
    snap = read_snapshot(spark, out)
    assert stats.new_jobs() == []
    assert snap.dtypes == [
        tuple(f.split()) for f in snapshot_source.SCHEMA.split(", ")
    ]
    assert _rows(snap, ev.columns) == _rows(ev, ev.columns)
