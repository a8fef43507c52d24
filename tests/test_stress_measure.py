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


def test_merge_section_keeps_rows_not_re_measured(tmp_path):
    """A section re-measured at fewer tiers replaces only the rows it
    measured: the cached 100x row survives a `--tiers 10` run, and a
    new tier lands in multiplier order."""
    import json

    cache = str(tmp_path / "cache.json")
    old = {"1x (sf0.1)": {"n": 1}, "10x": {"n": 10}, "100x": {"n": 100}}
    first = stress._merge_section(cache, "base", "snapshot_pruning", old)
    assert first["base"] == {} and first["tiers"] == []

    stress._merge_section(
        cache, "base", "snapshot_pruning", {"1x (sf0.1)": {"n": 2}, "10x": {"n": 20}}
    )
    stress._merge_section(cache, "base", "snapshot_pruning", {"30x": {"n": 30}})
    with open(cache) as fh:
        got = json.load(fh)["snapshot_pruning"]
    assert list(got) == ["1x (sf0.1)", "10x", "30x", "100x"]
    assert [r["n"] for r in got.values()] == [2, 20, 30, 100]
