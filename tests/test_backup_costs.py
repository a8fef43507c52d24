"""Cost pins for the backup path, read from Spark's status store.

Counts and bytes come from `perfbench.sparkstats.StatusReader`, which
sees every job submitted between two reads, including those a
streaming query starts on its own threads (a job group misses them).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from perfbench.sparkstats import StatusReader
from snapshot_s3_util_spark import REGISTRY
from snapshot_s3_util_spark.io import load_table
from snapshot_s3_util_spark.sql_helpers import digests_fp_col


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
