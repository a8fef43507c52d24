"""Engine benchmark: closed-loop passes over registry ops, checked
against DuckDB oracles.

Usage (from the repository root):
    python3 perfbench/run.py --workload flagship --seed 1 --seconds 12 --trace 0

One process, one client, one local Spark session with one core per
host CPU. A run:

1. builds (or reuses) the seed's input tier and the oracle hash of
   every op of the workload, in a child process (perfbench/inputs.py);
2. times ``SETUP_SAMPLES`` cold engine set-ups (perfbench/coldstart.py:
   engine import + ``load_all_operators()``, then ``get_spark()``
   with its JVM launch), all but the last in child processes and the
   last in this process, which keeps its session (``setup_s`` is the
   median);
3. runs one cold pass in the workload's op order,
   ``WARMUP_PASSES`` unmeasured passes, then measured passes for
   ``--seconds`` (at least ``MIN_MEASURED_PASSES``; ``pass_cpu_s`` is
   each op's median over them, summed over ops). Passes after the cold
   one run the ops in an order the seed shuffles per pass.
   Each op is timed as a user calls it, ``fn(spark, dir)`` then
   ``.collect()``, in wall time and in CPU time of the process tree
   (this process, the driver JVM and its Python workers); each result's
   hash is compared with the oracle's outside the timed region.

The end-to-end time of a pass is CPU time: the cores a user pays for.
On a shared host it stays steadier than wall time, which also counts
the time the hypervisor runs other guests on this one's CPUs (on a
4-vCPU guest, ten runs of the same code spread by up to 0.4 of their
median in wall time and by 0.08-0.12 in CPU time). It leaves out the
JIT compiler threads, which keep compiling in the background for
minutes (``jvm.jit_cpu_s``). The cold pass is one sample per run and
the one where the JIT works hardest, so it spreads most; its wall time
is a per-layer metric (``session.first_pass_s``). Wall times per layer
are ``L.build_s`` and ``L.action_s``; the detail file also keeps the
untraced ``pass_s``, ``first_pass_cpu_s`` and the share of host CPU
time stolen during the measured passes.

``write_amp`` is the bytes one pass writes to storage (output files,
shuffle files and spill, from the status store) per byte of the
workload's input tables. ``peak_rss_mb`` is VmHWM of this process plus
the driver JVM.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same loop with spans and status-store reads around every op and prints
the per-layer metrics instead. The last line of stdout is the result
object; the per-op breakdown, samples and spans go to
``.perfbench/results/``. A host-speed probe is recorded there as a
diagnostic only: no metric is divided by it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import coldstart
import inputs
from sparkstats import (StatusReader, host_cpu_count, host_steal_ticks,
                        jit_cpu_s, plan_ms, span_union_s, tree_cpu_s,
                        vm_hwm_mb)
from workloads import OP_LAYERS, WORKLOADS

SETUP_SAMPLES = 2
# pass 0 is cold; then unmeasured passes while the JIT compiles the
# hot paths (their CPU time is still falling), then measured passes
WARMUP_PASSES = 1
FIRST_MEASURED = 1 + WARMUP_PASSES
MIN_MEASURED_PASSES = 2
DRIVER_MEM = "1g"
ENGINE = coldstart.ENGINE
MB = 1024.0 * 1024.0

LAYER_FIELDS = (
    "build_s", "action_s", "cpu_s", "plan_ms", "jobs", "stages", "tasks",
    "job_span_s", "driver_gap_s", "exec_run_s", "core_util",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "output_mb",
)
END_TO_END = {
    "setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB",
    "write_amp": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {"session.import_s": "s", "session.start_s": "s",
             "session.first_pass_s": "s", "jvm.jit_cpu_s": "s",
             "io.scan_s": "s", "io.scan_mrows_per_s": "Mrows/s"}
    for layer in OP_LAYERS:
        for f in LAYER_FIELDS:
            unit = ("ms" if f.endswith("_ms") else "s" if f.endswith("_s")
                    else "MB" if f.endswith("_mb")
                    else "ratio" if f == "core_util" else "count")
            units[f"{layer}.{f}"] = unit
    return units


def pin_session_env(root: str, work: str) -> None:
    """Session shape through the env vars the engine's session reads,
    plus scratch locations inside the checkout."""
    cpus = str(host_cpu_count())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # Python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # a fixed-size heap, so peak RSS does not follow heap resizing
        # a fixed set of JIT compiler threads, so their CPU time can be
        # told apart (sparkstats.jit_cpu_s)
        "SPARK_SUBMIT_OPTS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              f"-Xms{DRIVER_MEM} "
                              "-XX:-UseDynamicNumberOfCompilerThreads"),
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None
    if root not in sys.path:
        sys.path.insert(0, root)


def host_probe_s() -> float:
    """Wall time of a fixed single-core md5 loop (diagnostic only)."""
    t0 = time.perf_counter()
    h = hashlib.md5()
    block = b"x" * 4096
    for _ in range(40_000):
        h.update(block)
    return time.perf_counter() - t0


def setup_engine():
    """Time ``SETUP_SAMPLES`` cold set-ups, the last one in this process.
    Returns (engine, spark, {"import_s": [...], "start_s": [...]})."""
    samples = []
    for _ in range(SETUP_SAMPLES - 1):
        out = subprocess.run([sys.executable, coldstart.__file__],
                             check=True, timeout=150, stdout=subprocess.PIPE,
                             text=True).stdout
        samples.append(json.loads(out.splitlines()[-1]))
    engine, spark, own = coldstart.timed_setup()
    samples.append(own)
    return engine, spark, {k: [s[k] for s in samples]
                           for k in ("import_s", "start_s")}


class Runner:
    """Runs passes of one workload and keeps every op execution."""

    def __init__(self, engine, spark, tier, ops, oracle, seed, jvm_pid,
                 tracer=None):
        from snapshot_s3_util_spark.parity import table_hash
        from snapshot_s3_util_spark.session import clear_persistent_rdds

        self.engine, self.spark, self.tier = engine, spark, tier
        self.ops, self.oracle = ops, oracle
        self.order_rng = random.Random(seed)
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        self._hash = table_hash
        self._clear = clear_persistent_rdds
        self.passes: list[list[dict]] = []

    def layer(self, op: str) -> str:
        return self.engine.REGISTRY[op].fn.__module__.split(".")[1]

    def run_pass(self) -> list[dict]:
        order = list(self.ops)
        idx = len(self.passes)
        if idx > 0:  # the cold pass keeps the workload's order
            self.order_rng.shuffle(order)
        tr = self.tracer
        span = tr.open(f"pass{idx}", "pass", tr.run_span) if tr else None
        records = [self._run_op(op, idx, span) for op in order]
        if tr:
            tr.close(span)
        self.passes.append(records)
        return records

    def _run_op(self, op: str, idx: int, pass_span) -> dict:
        fn = self.engine.REGISTRY[op].fn
        tr = self.tracer
        rec = {"op": op, "layer": self.layer(op), "pass": idx,
               "build_s": 0.0, "action_s": 0.0, "build_cpu_s": 0.0,
               "action_cpu_s": 0.0, "jit_cpu_s": 0.0, "ok": False}
        self._clear(self.spark)
        op_span = tr.open(op, "op", pass_span) if tr else None
        df = rows = None
        try:
            phase = tr.phase(op_span, "build") if tr else None
            df, rec["build_s"], rec["build_cpu_s"] = self._timed(
                rec, lambda: fn(self.spark, self.tier))
            if tr:
                rec["build_jobs"] = tr.end_phase(phase)
                phase = tr.phase(op_span, "action")
            rows, rec["action_s"], rec["action_cpu_s"] = self._timed(
                rec, df.collect)
            if tr:
                rec["action_jobs"] = tr.end_phase(phase)
                rec["plan_ms"] = plan_ms(df)
        except Exception:  # an op failure is a result, not a crash
            rec["error"] = traceback.format_exc(limit=3)
            print(f"perfbench: {op} failed:\n{rec['error']}", file=sys.stderr)
            if tr:  # close whichever phase raised
                key = "action_jobs" if "build_jobs" in rec else "build_jobs"
                rec[key] = tr.end_phase(phase)
        if tr:
            tr.close(op_span)
        rec["wall_s"] = rec["build_s"] + rec["action_s"]
        rec["cpu_s"] = rec["build_cpu_s"] + rec["action_cpu_s"]
        if rows is not None:
            got = list(self._hash(df.columns, [tuple(r) for r in rows]))
            rec["ok"] = got == list(self.oracle[op])
            if not rec["ok"]:
                print(f"perfbench: {op} output {got} differs from oracle "
                      f"{self.oracle[op]}", file=sys.stderr)
        return rec

    def _timed(self, rec: dict, call):
        """(result, wall s, CPU s) of ``call()``. The CPU time is the
        process tree's less the JIT compiler threads', which is added to
        ``rec["jit_cpu_s"]`` instead."""
        j0, c0 = jit_cpu_s(self.jvm_pid), tree_cpu_s()
        t0 = time.perf_counter()
        out = call()
        wall = time.perf_counter() - t0
        jit = jit_cpu_s(self.jvm_pid) - j0
        rec["jit_cpu_s"] += jit
        return out, wall, tree_cpu_s() - c0 - jit


class Tracer:
    """In-memory spans: run -> pass -> op -> build|action -> Spark job.

    Spans share the run id and are written out when the run ends.
    Spark jobs are tagged with a job group per phase and read back from
    the status store with their submission and completion times.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.stats = StatusReader(spark)
        self.run_id = run_id
        self.spans: list[dict] = []
        self.run_span = self.open(run_id, "run", None)

    def open(self, name: str, kind: str, parent) -> int:
        self.spans.append({"run": self.run_id, "id": len(self.spans),
                           "parent": parent, "name": name, "kind": kind,
                           "start": time.time(), "end": None})
        return len(self.spans) - 1

    def close(self, span: int) -> None:
        self.spans[span]["end"] = time.time()

    def phase(self, op_span: int, kind: str) -> int:
        span = self.open(kind, kind, op_span)
        self.sc.setJobGroup(f"{self.run_id}/{span}", self.spans[op_span]["name"])
        return span

    def end_phase(self, span: int) -> list[dict]:
        self.close(span)
        self.sc.setJobGroup(f"{self.run_id}/idle", "between ops")
        jobs = self.stats.new_jobs()
        for j in jobs:
            self.spans.append({
                "run": self.run_id, "id": len(self.spans), "parent": span,
                "name": f"job{j['jobId']}", "kind": "job",
                "group": j.get("jobGroup"),
                "start": j["submissionTime"] / 1000.0,
                "end": j["completionTime"] / 1000.0,
            })
        return [_job_summary(j) for j in jobs]


def _written_b(stage: dict) -> int:
    """Bytes a stage wrote to storage: output files, shuffle files, spill."""
    return (stage["outputBytes"] + stage["shuffleWriteBytes"]
            + stage["diskBytesSpilled"])


def _job_summary(job: dict) -> dict:
    st = job["stages"]
    return {
        "start": job["submissionTime"] / 1000.0,
        "end": job["completionTime"] / 1000.0,
        "stages": [s["stageId"] for s in st],
        "tasks": sum(s["numCompleteTasks"] for s in st),
        "exec_run_s": sum(s["executorRunTime"] for s in st) / 1000.0,
        "gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
        "shuffle_write_b": sum(s["shuffleWriteBytes"] for s in st),
        "shuffle_read_b": sum(s["shuffleReadBytes"] for s in st),
        "spill_b": sum(s["diskBytesSpilled"] for s in st),
        "output_b": sum(s["outputBytes"] for s in st),
    }


def layer_metrics(records: list[dict], cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    out = {}
    for layer in OP_LAYERS:
        recs = [r for r in records if r["layer"] == layer]
        jobs = [j for r in recs
                for j in r.get("build_jobs", []) + r.get("action_jobs", [])]
        wall = sum(r["wall_s"] for r in recs)
        span = span_union_s((j["start"], j["end"]) for j in jobs)
        run = sum(j["exec_run_s"] for j in jobs)
        m = {
            "build_s": sum(r["build_s"] for r in recs),
            "action_s": sum(r["action_s"] for r in recs),
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "plan_ms": sum(r.get("plan_ms", 0.0) for r in recs),
            "jobs": len(jobs),
            "stages": len({s for j in jobs for s in j["stages"]}),
            "tasks": sum(j["tasks"] for j in jobs),
            "job_span_s": span,
            "driver_gap_s": max(0.0, wall - span),
            "exec_run_s": run,
            "core_util": run / (span * cores) if span > 0 else 0.0,
            "shuffle_write_mb": sum(j["shuffle_write_b"] for j in jobs) / MB,
            "shuffle_read_mb": sum(j["shuffle_read_b"] for j in jobs) / MB,
            "spill_mb": sum(j["spill_b"] for j in jobs) / MB,
            "output_mb": sum(j["output_b"] for j in jobs) / MB,
        }
        out.update({f"{layer}.{k}": v for k, v in m.items()})
    out["jvm.jit_cpu_s"] = sum(r["jit_cpu_s"] for r in records)
    return out


def per_layer(setup: dict, first_pass_s: float, layer_passes: list[dict],
              scans: list[dict]) -> dict:
    """Per-layer metrics: medians over the traced measured passes."""
    vals = {"session.import_s": statistics.median(setup["import_s"]),
            "session.start_s": statistics.median(setup["start_s"]),
            "session.first_pass_s": first_pass_s,
            "io.scan_s": statistics.median(s["scan_s"] for s in scans),
            "io.scan_mrows_per_s": statistics.median(
                s["rows"] / s["scan_s"] / 1e6 for s in scans)}
    for name in layer_passes[0]:
        vals[name] = statistics.median(p[name] for p in layer_passes)
    units = per_layer_units()
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def warm_pass(passes: list[list[dict]], key: str = "wall_s") -> float:
    """A warm pass's ``key`` time: each op's median over the measured
    passes, summed over ops, so one contended sample of one op moves
    nothing."""
    times: dict[str, list[float]] = {}
    for records in passes[FIRST_MEASURED:]:
        for r in records:
            times.setdefault(r["op"], []).append(r[key])
    return sum(statistics.median(v) for v in times.values())


def end_to_end(setup: dict, passes: list[list[dict]], peak_rss_mb: float,
               written_b: int, input_b: int) -> dict:
    """End-to-end metrics of an untraced run; pass 0 is the cold pass."""
    setup_s = statistics.median(
        i + s for i, s in zip(setup["import_s"], setup["start_s"]))
    vals = {
        "setup_s": setup_s,
        "pass_cpu_s": warm_pass(passes, "cpu_s"),
        "peak_rss_mb": peak_rss_mb,
        "write_amp": written_b / input_b,
    }
    return {k: {"value": vals[k], "unit": END_TO_END[k]} for k in END_TO_END}


def scan_inputs(spark, tier: str, tables) -> dict:
    """Time ``io.load_table`` plus a noop write over each input table."""
    import pyarrow.parquet as pq

    from snapshot_s3_util_spark.io import load_table

    t0 = time.perf_counter()
    for t in tables:
        load_table(spark, tier, t).write.format("noop").mode("overwrite").save()
    scan_s = time.perf_counter() - t0
    rows = sum(pq.ParquetFile(os.path.join(tier, f"{t}.parquet")).metadata.num_rows
               for t in tables)
    return {"scan_s": scan_s, "rows": rows}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="Engine benchmark.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    pin_session_env(root, work)
    wl = WORKLOADS[args.workload]
    probe_s = host_probe_s()

    tier, oracle = inputs.prepare(root, work, args.seed, wl["ops"])
    input_b = sum(os.path.getsize(os.path.join(tier, f"{t}.parquet"))
                  for t in wl["tables"])

    engine, spark, setup = setup_engine()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(spark, run_id) if args.trace else None
    stats = tracer.stats if tracer else StatusReader(spark)
    jvm_pid = stats.jvm_pid()
    runner = Runner(engine, spark, tier, wl["ops"], oracle, args.seed,
                    jvm_pid, tracer)
    cores = host_cpu_count()

    stats.skip_to_now()
    runner.run_pass()  # cold
    written_b = 0
    if not tracer:
        written_b = sum(_written_b(s) for j in stats.new_jobs()
                        for s in j["stages"])
    for _ in range(WARMUP_PASSES):
        runner.run_pass()
    layer_passes, scans = [], []
    steal0 = host_steal_ticks()
    t_warm = last = time.perf_counter()
    pass_s = 0.0
    # a pass starts only if, as long as the last one, it ends in time
    while (last - t_warm + pass_s <= args.seconds
           or len(runner.passes) < FIRST_MEASURED + MIN_MEASURED_PASSES):
        records = runner.run_pass()
        if tracer:
            layer_passes.append(layer_metrics(records, cores))
            scans.append(scan_inputs(spark, tier, wl["tables"]))
            tracer.stats.skip_to_now()  # the scan's jobs belong to no op
        now = time.perf_counter()
        pass_s, last = now - last, now
    measured_s = last - t_warm
    steal1 = host_steal_ticks()
    stolen = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    peak_rss = vm_hwm_mb() + vm_hwm_mb(jvm_pid)

    pass_walls = [sum(r["wall_s"] for r in p) for p in runner.passes]
    execs = [r for p in runner.passes for r in p]
    failed = sum(1 for r in execs if not r["ok"])
    if tracer:
        tracer.close(tracer.run_span)
        metrics = per_layer(setup, pass_walls[0], layer_passes, scans)
    else:
        metrics = end_to_end(setup, runner.passes, peak_rss, written_b,
                             input_b)

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "run_id": run_id, "cores": cores, "driver_mem": DRIVER_MEM,
        "host_probe_s": probe_s, "setup": setup, "measured_s": measured_s,
        "host_stolen_share": stolen,
        "pass_s": warm_pass(runner.passes),
        "pass_cpu_s": warm_pass(runner.passes, "cpu_s"),
        "first_pass_cpu_s": sum(r["cpu_s"] + r["jit_cpu_s"]
                                for r in runner.passes[0]),
        "pass_s_samples": pass_walls,
        "measured_pass_count": len(pass_walls) - FIRST_MEASURED,
        "input_bytes": input_b, "written_bytes_per_pass": written_b,
        "peak_rss_mb": peak_rss, "layer_passes": layer_passes,
        "scans": scans, "executions": execs, "metrics": metrics,
    }
    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if tracer:
        with open(os.path.join(out_dir, f"{run_id}.spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    coldstart.shutdown(spark)

    print(json.dumps({"correct": failed == 0, "attempted": len(execs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
