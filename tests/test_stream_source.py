"""Stream ops read the `events` tier table in place.

`io.load_table_stream` streams `<tier>/events.parquet` where it lies,
whether that is one file (the test tiers) or a directory of part files
(the stress tiers), applies the same `ts` normalization as
`io.load_table`, and writes nothing into the tier. Both loaders take
each input's schema from `io`'s schema store: inferred by a Spark job
on the first read of a file version, reused without a job after that.
"""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamReader

from perfbench.sparkstats import StatusReader
from snapshot_s3_util_spark import REGISTRY
from snapshot_s3_util_spark.io import _stored_schema, load_table, load_table_stream
from snapshot_s3_util_spark.session import ensure_conf
from snapshot_s3_util_spark.streaming import stream_ops

# Every op whose stream is `events` as stored.
IN_PLACE_OPS = (
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_dedup_stateful",
    "stream_join_static",
    "stream_stream_join",
    "stream_foreach_batch_export",
    "stream_tumbling_topk",
    "stream_idempotent_replay",
    "stream_stateful_profile",
    "stream_tws_user_topk",
    "stream_state_inspect",
)

_query_ids = itertools.count()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _stream_rows(stream_df) -> list[tuple]:
    """Run a stream to completion into a memory table; return its rows."""
    name = f"test_stream_source_{next(_query_ids)}"
    q = stream_df.writeStream.format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return _rows(stream_df.sparkSession.table(name))


def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for n in dirnames + filenames:
            p = os.path.join(dirpath, n)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_export_same_rows_from_part_file_dir_in_any_batch_count(
    spark, sf_dir, tmp_path, monkeypatch
):
    """`events.parquet` as a directory of part files (the stress-tier
    layout) streams every row, and the export's counts and fingerprints
    do not depend on how many micro-batches the source is sliced into."""
    tier = str(tmp_path / "tier")
    n_files = 5
    spark.read.parquet(f"{sf_dir}/events.parquet").repartition(n_files).write.parquet(
        f"{tier}/events.parquet"
    )
    parts = [
        f for f in os.listdir(f"{tier}/events.parquet") if f.endswith(".parquet")
    ]
    assert len(parts) == n_files

    op = REGISTRY["stream_foreach_batch_export"].fn
    want = _rows(op(spark, sf_dir))
    assert _rows(op(spark, tier)) == want

    epochs = []
    write = stream_ops._export_write_partitioned

    def counting_write(df, out):
        epochs.append(df)
        write(df, out)

    parquet = DataStreamReader.parquet

    def one_file_per_trigger(self, path, **kw):
        return parquet(self.option("maxFilesPerTrigger", 1), path, **kw)

    monkeypatch.setattr(stream_ops, "_export_write_partitioned", counting_write)
    monkeypatch.setattr(DataStreamReader, "parquet", one_file_per_trigger)
    assert _rows(op(spark, tier)) == want
    assert len(epochs) == n_files


def test_stream_ops_write_nothing_into_the_tier(spark, sf_dir, tmp_path):
    """The in-place ops leave every file of the input tier as it was,
    and no `_spark_metadata` or other file appears in it."""
    tier = str(tmp_path / "tier")
    shutil.copytree(sf_dir, tier)
    before = _listing(tier)
    for name in IN_PLACE_OPS:
        assert REGISTRY[name].fn(spark, tier).count() > 0, name
    assert _listing(tier) == before


def _write_events(src: str, out_dir: str, unit: str) -> None:
    """Copy `events` with `ts` stored as INT64 TIMESTAMP(unit). The
    nanosecond copy adds 999 ns to every value, which the read must
    truncate away."""
    t = pq.read_table(src)
    ts = t.column("ts").cast(pa.timestamp(unit))
    if unit == "ns":
        ts = pc.add(ts.cast(pa.int64()), 999).cast(pa.timestamp("ns"))
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    os.makedirs(out_dir)
    pq.write_table(t, f"{out_dir}/events.parquet", version="2.6")
    md = pq.read_metadata(f"{out_dir}/events.parquet")
    stored = str(md.schema.column(t.schema.get_field_index("ts")).logical_type)
    assert {"ns": "nanoseconds", "us": "microseconds"}[unit] in stored, stored


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_batch_and_stream_reads_agree_on_both_ts_encodings(
    spark, sf_dir, tmp_path, unit
):
    tier = str(tmp_path / unit)
    _write_events(f"{sf_dir}/events.parquet", tier, unit)
    want = _rows(load_table(spark, sf_dir, "events"))

    batch = load_table(spark, tier, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert _rows(batch) == want
    assert _stream_rows(load_table_stream(spark, tier, "events")) == want

    lo, hi = "2024-01-05 00:00:00", "2024-01-09 00:00:00"
    ts = F.col("ts")
    in_range = _rows(
        load_table(spark, sf_dir, "events").filter(
            (ts >= F.lit(lo).cast("timestamp")) & (ts < F.lit(hi).cast("timestamp"))
        )
    )
    assert 0 < len(in_range) < len(want)
    assert _rows(load_table(spark, tier, "events", ts_min=lo, ts_max=hi)) == in_range


def test_warm_load_table_starts_no_job(spark, sf_dir):
    path = f"{sf_dir}/orders.parquet"
    load_table(spark, sf_dir, "orders")
    stats = StatusReader(spark)
    warm = load_table(spark, sf_dir, "orders")
    assert stats.new_jobs() == []
    assert warm.schema == spark.read.parquet(path).schema
    assert _rows(warm) == _rows(spark.read.parquet(path))


def _add_note(t: pa.Table) -> pa.Table:
    return t.append_column("o_note", pa.array(["n"] * t.num_rows))


def _rename_comment(t: pa.Table) -> pa.Table:
    return t.rename_columns(
        ["o_remarks" if c == "o_comment" else c for c in t.column_names]
    )


@pytest.mark.parametrize(
    "rewrite, same_size",
    [(_add_note, False), (_rename_comment, True)],
    ids=["size", "mtime"],
)
def test_rewritten_input_is_inferred_again(
    spark, sf_dir, tmp_path, rewrite, same_size
):
    """A file rewritten in place has a new length or modification time,
    so its next read infers again and sees the new columns. The
    rename keeps the length; only the (pushed-forward) mtime moves."""
    tier = str(tmp_path / "tier")
    os.makedirs(tier)
    path = f"{tier}/orders.parquet"
    src = pq.read_table(f"{sf_dir}/orders.parquet").replace_schema_metadata()
    pq.write_table(src, path)
    assert load_table(spark, tier, "orders").columns == src.column_names
    size, mtime = os.path.getsize(path), os.path.getmtime(path)

    new = rewrite(src)
    pq.write_table(new, path)
    os.utime(path, (mtime + 10, mtime + 10))
    assert (os.path.getsize(path) == size) == same_size
    stats = StatusReader(spark)
    df = load_table(spark, tier, "orders")
    assert len(stats.new_jobs()) == 1
    assert df.columns == new.column_names
    assert _rows(df) == _rows(spark.read.parquet(path))


def test_nanos_as_long_is_part_of_the_key(spark, sf_dir, tmp_path):
    """The stored bigint `ts` of a TIMESTAMP(NANOS) file is kept for
    `nanosAsLong=true` only: with the flag off the read infers again,
    and Spark refuses the column instead of reading it as bigint."""
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    tier = str(tmp_path / "ns")
    _write_events(f"{sf_dir}/events.parquet", tier, "ns")
    path = f"{tier}/events.parquet"
    ensure_conf(spark)
    assert dict(
        (f.name, f.dataType.simpleString()) for f in _stored_schema(spark, path)
    )["ts"] == "bigint"
    spark.conf.set(flag, "false")
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            _stored_schema(spark, path)
    finally:
        spark.conf.set(flag, "true")
    stats = StatusReader(spark)
    assert dict(load_table(spark, tier, "events").dtypes)["ts"] == "timestamp"
    assert stats.new_jobs() == []


def test_stream_after_batch_read_starts_no_inference_job(spark, sf_dir):
    batch = load_table(spark, sf_dir, "events")
    stats = StatusReader(spark)
    stream = load_table_stream(spark, sf_dir, "events")
    assert stats.new_jobs() == []
    assert stream.schema == batch.schema
