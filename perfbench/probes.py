"""Outside-in probes: the ``/proc`` process tree and Spark's status
tracker. Neither needs any hook inside the package.

The tree is this process (the Spark driver), its JVM child and the
JVM's Python workers. CPU of a process counts its own time plus the
time of children it has already reaped, so short-lived workers are
not lost once their parent waits for them.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # utime + stime + cutime + cstime
    rss_bytes: int


def read_proc(pid: int) -> Proc | None:
    """One process's ``stat`` and ``statm``; None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
        with open(f"/proc/{pid}/statm") as fh:
            resident = int(fh.read().split()[1])
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return None
    # comm is parenthesised and may hold spaces: split after the last ')'
    lp, rp = stat.index("("), stat.rindex(")")
    comm = stat[lp + 1 : rp]
    f = stat[rp + 2 :].split()
    # fields after comm: state(0) ppid(1) ... utime(11) stime(12) cutime(13) cstime(14)
    ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return Proc(pid, int(f[1]), comm, ticks / _CLK, resident * _PAGE)


@dataclass(frozen=True)
class HostCpu:
    """Cumulative CPU time of the whole host, summed over its CPUs."""

    busy_s: float  # user, nice, system, irq, softirq
    steal_s: float  # wanted to run, but the hypervisor ran another guest


def host_cpu(path: str = "/proc/stat") -> HostCpu:
    with open(path) as fh:
        # cpu user nice system idle iowait irq softirq steal ...
        f = [int(x) for x in fh.readline().split()[1:9]]
    return HostCpu((f[0] + f[1] + f[2] + f[5] + f[6]) / _CLK, f[7] / _CLK)


def stolen_share(before: HostCpu, after: HostCpu) -> float:
    """Share of the CPU time this host's CPUs wanted between two
    samples that the hypervisor gave to other guests instead. An idle
    CPU wants none and accrues no steal, so on a host that runs only
    the benchmark this is the share withheld from the benchmark."""
    steal = after.steal_s - before.steal_s
    wanted = after.busy_s - before.busy_s + steal
    return steal / wanted if wanted > 0 else 0.0


def process_tree(root_pid: int) -> list[Proc]:
    """``root_pid`` and all its live descendants."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


@dataclass(frozen=True)
class TreeSample:
    driver_cpu_s: float
    jvm_cpu_s: float
    python_cpu_s: float  # Python workers (every non-JVM descendant)
    jvm_rss_bytes: int
    worker_rss_bytes: int
    total_rss_bytes: int

    @property
    def cpu_s(self) -> float:
        return self.driver_cpu_s + self.jvm_cpu_s + self.python_cpu_s

    def minus(self, before: "TreeSample") -> "TreeSample":
        """CPU spent between ``before`` and this sample (RSS is kept
        as of this sample)."""
        return TreeSample(
            self.driver_cpu_s - before.driver_cpu_s,
            self.jvm_cpu_s - before.jvm_cpu_s,
            self.python_cpu_s - before.python_cpu_s,
            self.jvm_rss_bytes,
            self.worker_rss_bytes,
            self.total_rss_bytes,
        )


def classify(tree: list[Proc], root_pid: int) -> TreeSample:
    drv = jvm = py = 0.0
    jvm_rss = wrk_rss = total = 0
    for p in tree:
        total += p.rss_bytes
        if p.pid == root_pid:
            drv += p.cpu_s
        elif p.comm == "java":
            jvm += p.cpu_s
            jvm_rss += p.rss_bytes
        else:
            py += p.cpu_s
            wrk_rss += p.rss_bytes
    return TreeSample(drv, jvm, py, jvm_rss, wrk_rss, total)


def sample_tree(root_pid: int | None = None) -> TreeSample:
    root = os.getpid() if root_pid is None else root_pid
    return classify(process_tree(root), root)


class RssSampler:
    """Background thread that records the peak summed RSS of the
    process tree (and its JVM and worker parts) while ``armed``."""

    def __init__(self, interval_s: float = 0.1, root_pid: int | None = None):
        self.interval_s = interval_s
        self.root_pid = os.getpid() if root_pid is None else root_pid
        self._stop = threading.Event()
        # guards _armed and the peaks, so no sample lands after disarm()
        self._lock = threading.Lock()
        self._armed = False
        self.samples = 0
        self.peak_total = self.peak_jvm = self.peak_worker = 0
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)

    def arm(self) -> None:
        with self._lock:
            self._armed = True

    def disarm(self) -> None:
        """Stop recording; take one last sample so a short armed
        window is never empty."""
        with self._lock:
            self._record()
            self._armed = False

    def _record(self) -> None:
        s = sample_tree(self.root_pid)
        self.samples += 1
        self.peak_total = max(self.peak_total, s.total_rss_bytes)
        self.peak_jvm = max(self.peak_jvm, s.jvm_rss_bytes)
        self.peak_worker = max(self.peak_worker, s.worker_rss_bytes)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            with self._lock:
                if self._armed:
                    self._record()


@dataclass(frozen=True)
class JobCounts:
    jobs: int
    stages: int
    tasks: int
    failed_tasks: int


def job_group_counts(sc, group: str) -> JobCounts:
    """Jobs, stages that ran at least one task, tasks run and tasks
    failed for one job group, from ``statusTracker``. Stages skipped
    because their shuffle output was reused do not count."""
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is None:
            continue
        ran = info.numCompletedTasks + info.numFailedTasks
        if ran:
            stages += 1
            tasks += info.numCompletedTasks
            failed += info.numFailedTasks
    return JobCounts(len(job_ids), stages, tasks, failed)
