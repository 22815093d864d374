"""Measurement probes: the engine's process tree (from ``/proc``) and the
per-step Spark ledger (from the Spark driver's status store).

The process tree is the benchmark's own process, the driver JVM it
launches and the Python workers the JVM forks. CPU time counts each live
process's own time plus the time of children it has already reaped, so a
worker that exited between two reads is still counted.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after it are space separated
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of the tree."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime: fields 14-17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM), in MB."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from this machine's vCPUs
    between two ``host_cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` starttime)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime - start_ticks / _TICK


def wait_tree_exit(timeout_s: float = 60.0) -> None:
    """Wait until this process has no live descendants; kill stragglers
    once ``timeout_s`` has passed."""
    import signal

    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in tree_pids() if p != os.getpid()]
        for pid in rest:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        rest = [p for p in tree_pids() if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10.0
        time.sleep(0.1)


class Ledger:
    """Per-step Spark counters read from the status store.

    Each step runs under its own job group; after the step the listener
    bus is drained and every stage of every job in the group is read with
    ``AppStatusStore.lastStageAttempt``. Stages that were skipped (their
    shuffle output reused) have no attempt and count as zero work.
    """

    FIELDS = (
        "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
        "input_bytes", "output_bytes", "shuffle_bytes", "spill_bytes",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._tracker = self._sc.statusTracker()
        self._n = 0

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self._sc.setJobGroup(group, label)
        return group

    def end(self, group: str) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        rec = dict.fromkeys(self.FIELDS, 0.0)
        job_ids = self._tracker.getJobIdsForGroup(group)
        rec["jobs"] = float(len(job_ids))
        stage_ids = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j-wrapped NoSuchElementException: skipped
                continue
            if str(st.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["exec_run_s"] += st.executorRunTime() / 1e3
            rec["exec_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["input_bytes"] += st.inputBytes()
            rec["output_bytes"] += st.outputBytes()
            rec["shuffle_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled()
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)
        return rec
