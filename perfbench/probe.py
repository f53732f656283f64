"""Measurements taken from outside the program.

- Process tree CPU and resident memory from ``/proc`` (the Python driver
  process, the JVM it launches and the JVM's Python workers); psutil is
  not needed.
- Host state: cores, load averages, and the CPU other processes and the
  hypervisor (steal) took while the benchmark ran.
- Per-call layer numbers from Spark's status store: every call runs
  under its own job group, and its jobs' stages give task time, task
  CPU, shuffle and spill plus the [submission, completion] intervals
  that separate scheduled work from driver-side time.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU-seconds of the tree, reaped children included:
    a live process counts its own time and its reaped children's
    (cutime/cstime), so every process is counted exactly once."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE_MB
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


def host_cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU-seconds of the whole host since boot; stolen is
    time the hypervisor ran someone else on this machine's CPUs."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / CLK_TCK, f[7] / CLK_TCK


class RssSampler:
    """Peak summed RSS of the JVM and its Python workers (every
    descendant of this process), and the most workers alive at once,
    sampled on a background thread."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.max_processes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = process_tree(me)[1:]
            self.peak_mb = max(self.peak_mb, sum(_rss_mb(pid) for pid in pids))
            self.max_processes = max(self.max_processes, len(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def host_state() -> dict:
    return {"nproc": os.cpu_count(), "loadavg": list(os.getloadavg())}


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class LayerTracer:
    """Per-call layer metrics from the Spark status store.

    ``begin`` puts the calling thread's jobs in a fresh job group; ``end``
    harvests that group's jobs and stages. Stage spans come back as
    ``(stage_id, submitted, completed)`` in epoch seconds so the caller
    can place them under the call's span."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self._n = 0

    def begin(self, layer: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{layer}"
        self.sc.setJobGroup(group, layer)
        return group

    def end(self, group: str, t_start: float, t_end: float) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        jobs = sorted(self.tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        run_ms = cpu_ns = shuffle_w = spill = 0
        stages = []
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted, no data
                continue
            if str(st.status()) == "SKIPPED":
                continue
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            shuffle_w += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            sub, done = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if sub is not None and done is not None:
                stages.append((sid, sub, done))
        covered = _covered_s([(s, e) for _, s, e in stages], t_start, t_end)
        return {
            "jobs": len(jobs),
            "task_s": run_ms / 1000.0,
            "task_cpu_s": cpu_ns / 1e9,
            "shuffle_write_mb": shuffle_w / 2**20,
            "spill_mb": spill / 2**20,
            "driver_s": max(0.0, (t_end - t_start) - covered),
            "stages": stages,
        }


def _covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
