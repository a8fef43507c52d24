"""tools/stress.py reads shuffle bytes from Spark's status store, so its
measurements work on a session with the UI off (the suite's own)."""

from __future__ import annotations

from tools import stress


def test_stress_measure_reads_shuffle_bytes_without_ui(spark, sf_dir):
    res = stress.measure(spark, ("agg_hash_groupby", "scan_full"), sf_dir)
    agg = res["agg_hash_groupby"]
    assert agg["shuffle_write_bytes_per_run"] > 0
    # one exchange per run, three timed runs: no stage outweighs them all
    assert (agg["max_stage_shuffle_write_bytes"]
            <= 3 * agg["shuffle_write_bytes_per_run"])
    # SELECT * FROM nation plans no exchange
    assert res["scan_full"]["shuffle_write_bytes_per_run"] == 0
    assert res["scan_full"]["max_stage_shuffle_write_bytes"] == 0
