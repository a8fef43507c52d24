"""Python DataSource streaming READER (Spark 4, SPARK-45023 Python
data source API, streaming half).

The engine exercises the batch writer (sources/python_sink.py); this
module adds the reader side with a custom STREAMING source: a deterministic "ledger" feed whose offsets
are plain row positions. The exactly-once contract is the thing under
test — Spark drives `initialOffset` → `latestOffset` → `partitions
(start, end)` → per-partition `read`, checkpoints the offset json, and
every row must arrive exactly once across multiple micro-batches. The
oracle recomputes the whole feed in closed form, so a lost batch,
a replayed range, or a partition-boundary off-by-one flips the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from snapshot_s3_util_spark.io import load_table, on_scratch
from snapshot_s3_util_spark.registry import register

_LEDGER_BUCKETS = 97


class _RangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class _LedgerStreamReader(DataSourceStreamReader):
    """Row-position offsets: {"pos": n} means n rows served so far.

    `latestOffset` advances one stride per planning call until the
    ledger cap — several micro-batches for any stride < n_total, so
    the offset checkpointing path genuinely runs more than once.
    Exactness is offset-arithmetic only: whatever (start, end] ranges
    Spark derives, `partitions` tiles them without gap or overlap.
    """

    def __init__(self, options):
        self.n_total = int(options.get("n_total", 1000))
        self.stride = int(options.get("stride", max(1, self.n_total // 3)))
        self.n_parts = int(options.get("n_parts", 8))
        self._pos = 0

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def latestOffset(self) -> dict:
        self._pos = min(self._pos + self.stride, self.n_total)
        return {"pos": self._pos}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["pos"]), int(end["pos"])
        # Checkpoint-restart seed (r9 ADVICE #3): on a resume Spark
        # replans from the committed offset while this fresh driver
        # instance's cursor is back at 0, so latestOffset() would lag
        # the committed position for several empty planning cycles
        # (hi<=lo keeps it gapless, just stalled).  Fold every observed
        # range end into the cursor so progress resumes monotonically
        # from the checkpoint on the very next planning call.
        self._pos = max(self._pos, hi)
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        step = max(1, (hi - lo + self.n_parts - 1) // self.n_parts)
        return [
            _RangePartition(a, min(a + step, hi)) for a in range(lo, hi, step)
        ]

    def read(self, partition: _RangePartition):
        for seq in range(partition.lo, partition.hi):
            yield (
                seq,
                seq % _LEDGER_BUCKETS,
                (seq * 31 % 1000) / 10.0,
            )

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class LedgerStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3u_ledger_stream"

    def schema(self) -> str:
        return "seq bigint, user_bucket bigint, amount double"

    def streamReader(self, schema):
        return _LedgerStreamReader(self.options)


@register(
    "stream_python_source",
    oracle="""
    SELECT CAST(seq % 97 AS BIGINT) AS user_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM((seq * 31 % 1000) / 10.0), 4) AS sum_amount,
           CAST(MAX(seq) AS BIGINT) AS max_seq
    FROM (SELECT UNNEST(range((SELECT COUNT(*) FROM documents))) AS seq)
    GROUP BY 1
    """,
    category="streaming",
)
@on_scratch
def stream_python_source(spark: SparkSession, sf_dir: str, tmp: str) -> DataFrame:
    """Custom Python streaming source end-to-end: the ledger feed (one
    row per document, sized from the corpus so the oracle can mirror
    it) streams through offset-checkpointed micro-batches into the
    memory sink, then a batch aggregate verifies EXACTLY-ONCE delivery
    against the closed-form oracle — per-bucket row counts catch loss
    AND duplication, max_seq catches a truncated tail, sum_amount
    catches value corruption.

    Scale shape: `partitions(start, end)` tiles each micro-batch into
    n_parts independent InputPartitions, so a batch fans out across
    executors exactly like a file source's splits; offsets are O(1)
    json (a row position), never data. Sums stay cross-engine exact
    after ROUND(4) because amounts sit on a 0.1 grid (same argument as
    the price aggregates).
    """
    from snapshot_s3_util_spark.streaming.stream_ops import _run_to_table

    n = load_table(spark, sf_dir, "documents").count()
    spark.dataSource.register(LedgerStreamSource)
    stream = (
        spark.readStream.format("s3u_ledger_stream")
        .option("n_total", n)
        .option("stride", max(1, (n + 2) // 3))  # ~3 micro-batches
        .option("n_parts", 8)
        .load()
    )
    table = _run_to_table(
        stream, "append", checkpoint_location=f"{tmp}/ckpt"
    )
    return (
        table.groupBy("user_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("amount"), 4).alias("sum_amount"),
            F.max("seq").alias("max_seq"),
        )
    )
