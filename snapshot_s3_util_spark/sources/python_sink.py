"""Custom Python DataSource WRITE path (Spark 4 DataSource API).

`sources/stream_source.py` covers the custom streaming READER surface;
this module covers the writer: a JSONL sink implemented as a
`DataSourceWriter` — executor-side `write(iterator)` per partition,
driver-side `commit(messages)` publishing a manifest only after every
task reported success (the two-phase commit contract object stores
need; a task that dies simply never contributes a commit message and
the manifest stays unpublished).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

from snapshot_s3_util_spark.io import load_table, on_scratch
from snapshot_s3_util_spark.registry import register
from snapshot_s3_util_spark.sql_helpers import KEYS_FP_SQL, keys_fp_col


class JsonlCommit(WriterCommitMessage):
    def __init__(self, file: str, n_rows: int, pid: int):
        self.file = file
        self.n_rows = n_rows
        self.pid = pid


class JsonlSinkWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> JsonlCommit:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # per-ATTEMPT temp name: a retried/speculative zombie attempt
        # writing the bare part-<pid> path concurrently could interleave
        # output with the winner or disagree with its committed row
        # count; unique attempt files make writes conflict-free and let
        # commit() publish exactly the winning attempt via rename
        fname = os.path.join(
            self.path,
            f"part-{pid:05d}.attempt-{ctx.taskAttemptId()}.jsonl.tmp",
        )
        n = 0
        with open(fname, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict(), sort_keys=True) + "\n")
                n += 1
        return JsonlCommit(fname, n, pid)

    def commit(self, messages) -> None:
        import glob

        files = []
        for m in messages:
            final = os.path.join(self.path, f"part-{m.pid:05d}.jsonl")
            os.replace(m.file, final)  # atomic publish of the winner
            files.append(os.path.basename(final))
        # sweep losing/zombie attempt files so readers and the manifest
        # agree on exactly the committed set
        for leftover in glob.glob(
            os.path.join(self.path, "part-*.jsonl.tmp")
        ):
            try:
                os.remove(leftover)
            except OSError:
                pass
        manifest = {
            "files": sorted(files),
            "total_rows": sum(m.n_rows for m in messages),
        }
        with open(os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            json.dump(manifest, fh)

    def abort(self, messages) -> None:  # pragma: no cover — failure path
        for m in messages:
            try:
                os.remove(m.file)
            except OSError:
                pass


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3u_jsonl_sink"

    def writer(self, schema, overwrite: bool) -> JsonlSinkWriter:
        return JsonlSinkWriter(self.options)


_PYSINK_ORACLE = f"""
SELECT o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
       {KEYS_FP_SQL.format(col="o_orderkey")} AS keys_fp
FROM orders GROUP BY o_orderstatus
"""


@register("sink_python_datasource", oracle=_PYSINK_ORACLE, category="sink")
@on_scratch
def sink_python_datasource(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """Write through the custom Python `DataSourceWriter` above, then
    READ THE JSONL BACK and fingerprint it — the write->read contract
    of every sink op here.  Proves the full Spark 4 Python write
    protocol end-to-end: per-partition executor `write()` producing
    commit messages, driver `commit()` publishing a manifest, and the
    manifest's total agreeing with what a reader actually finds.

    Scale: each partition writes independently (no driver data path);
    the manifest is the WAP-style publish point (`sink_manifest_wap`);
    a Python writer trades JVM throughput for arbitrary-format reach —
    the declared custom-surface cost.
    """
    spark.dataSource.register(JsonlSinkDataSource)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    (
        o.repartition(4, "o_orderkey")
        .write.format("s3u_jsonl_sink")
        .option("path", out)
        .mode("append")
        .save()
    )
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        manifest = json.load(fh)
    back = spark.read.schema("o_orderkey LONG, o_orderstatus STRING").json(
        f"{out}/part-*.jsonl"
    )
    assert manifest["total_rows"] == back.count(), (
        "manifest/commit total disagrees with readable rows"
    )
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            keys_fp_col("o_orderkey").alias("keys_fp"),
        )
    )
