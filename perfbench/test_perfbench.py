"""Tests of the benchmark's own parts; none of them starts Spark.

Run from the repository root:
    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen
import inputs
import run
import sparkstats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = {"supplier": 10, "customer": 30, "part": 40, "orders": 60,
         "lineitem": 200, "events": 300, "documents": 50, "embeddings": 20}


@pytest.fixture
def small_tier(monkeypatch):
    monkeypatch.setattr(gen, "SIZES", {**gen.SIZES, **SMALL})


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _file_digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic_per_seed(tmp_path, small_tier):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.write_tables(7, str(a))
    gen.write_tables(7, str(b))
    gen.write_tables(8, str(c))
    assert _file_digests(str(a)) == _file_digests(str(b))
    assert set(_file_digests(str(a))) == {f"{t}.parquet" for t in gen.TABLES}
    differ = [n.removesuffix(".parquet")
              for n, h in _file_digests(str(c)).items()
              if h != _file_digests(str(a))[n]]
    # only the fixed dimension tables are seed-independent
    assert set(differ) == set(gen.TABLES) - {"region", "nation"}


def test_seed_changes_values_not_row_counts(small_tier):
    a = gen.build_tables(1)
    b = gen.build_tables(2)
    assert {t: a[t].num_rows for t in a} == {t: b[t].num_rows for t in b}
    assert a["documents"].column("text") != b["documents"].column("text")


def test_oracle_cache_is_keyed_by_seed(tmp_path, small_tier):
    calls = []

    def fake_oracles(tier, ops):
        calls.append((tier, tuple(ops)))
        return {op: [1, f"{os.path.basename(tier)}:{op}"] for op in ops}

    work = str(tmp_path)
    sql = {"a": "SELECT 1", "b": "SELECT 2"}
    d1, h1 = inputs.ensure_inputs(work, 1, sql, fake_oracles)
    again, h1_again = inputs.ensure_inputs(work, 1, sql, fake_oracles)
    assert (again, h1_again) == (d1, h1)
    assert len(calls) == 1  # the second run on seed 1 hit the cache

    d2, h2 = inputs.ensure_inputs(work, 2, sql, fake_oracles)
    assert d2 != d1 and h2 != h1
    assert len(calls) == 2

    _, h1_more = inputs.ensure_inputs(
        work, 1, {"a": "SELECT 1", "c": "SELECT 3"}, fake_oracles)
    assert calls[-1] == (d1, ("c",))  # only the missing op is computed
    assert h1_more == {"a": h1["a"], "c": [1, f"{os.path.basename(d1)}:c"]}


def test_oracle_cache_recomputes_an_op_whose_sql_changed(tmp_path, small_tier):
    calls = []

    def fake_oracles(tier, ops):
        calls.append(tuple(ops))
        return {op: [len(calls), "h"] for op in ops}

    work = str(tmp_path)
    inputs.ensure_inputs(work, 1, {"a": "SELECT 1", "b": "SELECT 2"},
                         fake_oracles)
    _, h = inputs.ensure_inputs(work, 1, {"a": "SELECT 10", "b": "SELECT 2"},
                                fake_oracles)
    assert calls == [("a", "b"), ("a",)]
    assert h == {"a": [2, "h"], "b": [1, "h"]}


def test_benchmark_process_starts_without_engine_dependencies():
    # setup_s times the first import of these in the benchmark process
    code = ("import sys, run; heavy = [m for m in ('pyspark', 'py4j', "
            "'numpy', 'pandas', 'pyarrow', 'duckdb', 'snapshot_s3_util_spark')"
            " if m in sys.modules]; print(heavy)")
    out = subprocess.run([sys.executable, "-c", code], cwd=HERE, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"


def _fake_records(pass_idx: int) -> list[dict]:
    job = {"start": 100.0, "end": 100.5, "stages": [1, 2], "tasks": 3,
           "exec_run_s": 0.8, "gc_s": 0.01, "shuffle_write_b": 2048,
           "shuffle_read_b": 2048, "spill_b": 0, "output_b": 4096}
    return [{"op": f"op_{layer}", "layer": layer, "pass": pass_idx,
             "build_s": 0.4, "action_s": 0.3, "wall_s": 0.7, "plan_ms": 5.0,
             "build_cpu_s": 0.5, "action_cpu_s": 0.4, "cpu_s": 0.9,
             "jit_cpu_s": 0.2,
             "ok": True, "build_jobs": [job], "action_jobs": []}
            for layer in run.OP_LAYERS]


def test_end_to_end_names_match_benchmark_json():
    setup = {"import_s": [0.2, 0.3, 0.25], "start_s": [0.1, 0.1, 0.2]}
    passes = [_fake_records(i) for i in range(4)]
    metrics = run.end_to_end(setup, passes, 1500.0, 2000, 1000)
    declared = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    assert all(v["value"] > 0 for v in metrics.values())


def test_per_layer_names_match_benchmark_json():
    setup = {"import_s": [0.2, 0.3, 0.25], "start_s": [0.1, 0.1, 0.2]}
    layer_passes = [run.layer_metrics(_fake_records(i), 4) for i in range(3)]
    scans = [{"scan_s": 0.5, "rows": 1000}] * 3
    metrics = run.per_layer(setup, 3.5, layer_passes, scans)
    declared = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == declared
    assert metrics["llm.core_util"]["value"] == 0.8 / (0.5 * 4)
    assert metrics["llm.driver_gap_s"]["value"] == 0.7 - 0.5
    assert metrics["llm.cpu_s"]["value"] == 0.9


def test_tree_cpu_s_counts_live_children():
    # the child spins for 0.3 s of CPU, says so, then sleeps
    code = ("import time\n"
            "t = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass\n"
            "print('spun', flush=True)\n"
            "time.sleep(30)")
    before = sparkstats.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", code],
                             stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline() == "spun\n"
        during = sparkstats.tree_cpu_s()
    finally:
        child.kill()
        child.wait()
        child.stdout.close()
    assert during - before >= 0.2
    assert sparkstats.tree_cpu_s() >= during  # reaped: moved to our cutime


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _benchmark()["workloads"]] == list(run.WORKLOADS)
