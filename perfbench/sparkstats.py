"""Read Spark's own status store from the benchmark side.

Jobs and stages come from ``SparkContext.statusStore()`` (it is kept
with ``spark.ui.enabled=false`` too), serialized to JSON in the JVM by
Jackson so one py4j round trip returns a whole record. Planning phases
come from the frame's ``QueryPlanningTracker``. Nothing here touches
the engine's code.
"""

from __future__ import annotations

import json
import os


class StatusReader:
    """Collects the jobs (and their stages) a closed-loop client ran.

    The client runs one op at a time, so the jobs submitted between two
    calls of :meth:`new_jobs` are exactly the jobs of the work in
    between, including those a streaming query starts on its own
    threads, which a job group would miss.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._ctx = sc._jsc.sc()
        self._store = self._ctx.statusStore()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._mapper = mapper
        self.skip_to_now()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._ctx.listenerBus().waitUntilEmpty(30_000)

    def _job_id_end(self) -> int:
        """The id the scheduler gives the next job."""
        return int(self._ctx.dagScheduler().nextJobId())

    def skip_to_now(self) -> None:
        """Forget every job submitted so far."""
        self._drain()
        self._next_job = self._job_id_end()

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the last call, each with a ``stages`` list
        of the stage attempts that ran (skipped stages left out)."""
        from py4j.protocol import Py4JJavaError  # after the timed set-up

        self._drain()
        end = self._job_id_end()
        jobs = []
        for job_id in range(self._next_job, end):
            try:
                job = self._json(self._store.job(job_id))
            except Py4JJavaError:  # evicted from the store
                continue
            job["stages"] = []
            for sid in job["stageIds"]:
                try:
                    st = self._json(self._store.lastStageAttempt(sid))
                except Py4JJavaError:  # evicted from the store
                    continue
                if st["status"] != "SKIPPED":
                    job["stages"].append(st)
            jobs.append(job)
        self._next_job = end
        return jobs

    def jvm_pid(self) -> int:
        return int(self._sc._jvm.java.lang.ProcessHandle.current().pid())


def plan_ms(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) of ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    process by default) and every live descendant: here the driver JVM
    and its Python workers. Children already reaped count through their
    parent's cumulative fields, so the total only grows. The kernel
    leaves time stolen by the hypervisor out of these counters, so they
    move far less than wall time when other load shares the host."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we looked
            continue
        # fields after the parenthesised command name, which may hold spaces
        f = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(f[1])
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JIT compiler threads of a JVM.

    They compile in the background for minutes after start-up, so their
    time falls pass by pass while the work stays the same. The JVM must
    run with -XX:-UseDynamicNumberOfCompilerThreads: a compiler thread
    that exits folds its time into the process total."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = stat[stat.rindex(")") + 2:].split()
            total += int(f[11]) + int(f[12])
    return total / _CLK_TCK


def host_steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of this host so far, from /proc/stat:
    time the hypervisor ran other guests on this guest's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return f[7], sum(f[:8])


def span_union_s(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def host_cpu_count() -> int:
    return len(os.sched_getaffinity(0))
