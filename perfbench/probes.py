"""Process-level probes: summed PSS and CPU of the process tree, plus the
box-load attestation.

The tree is this process and every live descendant: the Spark driver JVM
and the Python workers it forks. Memory is proportional set size (PSS)
rather than RSS, because every forked Python worker shares the daemon's
pages and RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import signal
import threading
import time

# bench.py owns the /proc/stat attestation; the helpers are reused, not
# copied, so bench.py and this benchmark attest load the same way.
from bench import _busy_jiffies, _proc_tree_cpu_jiffies

CLK_TCK = os.sysconf("SC_CLK_TCK")


def child_map(proc: str = "/proc") -> dict[int, list[int]]:
    """ppid -> [pid] over every process visible in ``proc``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int, kids: dict[int, list[int]]) -> list[int]:
    """``root`` and every pid below it in ``kids``."""
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def pss_kb(pid: int, proc: str = "/proc") -> int:
    """The ``Pss:`` line of ``smaps_rollup`` in kB; 0 for a process that
    exited or cannot be read."""
    try:
        with open(f"{proc}/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0


def alive(pid: int, proc: str = "/proc") -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def end_processes(pids: list[int], grace: float = 10.0) -> list[int]:
    """Send SIGTERM to each of ``pids``, SIGKILL to any still running
    ``grace`` seconds later, and return once every one has ended; own
    children are reaped. Returns the pids that needed SIGKILL."""
    def signal_all(sig: int, targets: list[int]) -> None:
        for pid in targets:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass

    def reap() -> list[int]:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        return [p for p in pids if alive(p)]

    signal_all(signal.SIGTERM, pids)
    deadline = time.monotonic() + grace
    while (left := reap()) and time.monotonic() < deadline:
        time.sleep(0.05)
    killed = list(left)
    signal_all(signal.SIGKILL, killed)
    while reap():
        time.sleep(0.05)
    return killed


def _is_python_worker(pid: int, proc: str = "/proc") -> bool:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class TreeSampler:
    """Background sampler of the tree's summed PSS and Python-worker count;
    keeps the peaks. ``stop()`` joins the thread."""

    def __init__(self, interval: float = 0.5, root: int | None = None,
                 proc: str = "/proc") -> None:
        self._interval = interval
        self._root = root if root is not None else os.getpid()
        self._proc = proc
        self._stop = threading.Event()
        self.peak_pss_kb = 0
        self.peak_workers = 0
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="perfbench-sampler")

    def sample(self) -> None:
        pids = descendants(self._root, child_map(self._proc))
        self.peak_pss_kb = max(self.peak_pss_kb,
                               sum(pss_kb(p, self._proc) for p in pids))
        self.peak_workers = max(self.peak_workers, sum(
            1 for p in pids if _is_python_worker(p, self._proc)))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree (reaped children
    included)."""
    return (_proc_tree_cpu_jiffies() or 0) / CLK_TCK


class LoadWindow:
    """Box-load attestation over one measured window: cores kept busy by
    anything outside this process tree, and hypervisor steal."""

    def __init__(self) -> None:
        self._t0 = time.perf_counter()
        self._box0 = _busy_jiffies()
        self._own0 = _proc_tree_cpu_jiffies()

    def close(self) -> dict:
        wall = time.perf_counter() - self._t0
        box1, own1 = _busy_jiffies(), _proc_tree_cpu_jiffies()
        if None in (self._box0, box1, self._own0, own1) or wall <= 0:
            return {"external_cores": None, "steal_cores": None}
        busy = box1[0] - self._box0[0] - (own1 - self._own0)
        steal = box1[1] - self._box0[1]
        return {"external_cores": round(max(busy, 0) / CLK_TCK / wall, 3),
                "steal_cores": round(steal / CLK_TCK / wall, 3),
                "window_s": round(wall, 3)}


def spark_tasks(sc, lo: int, hi: int) -> int:
    """Tasks of the Spark jobs with ids in ``[lo, hi)``."""
    st = sc.statusTracker()
    n = 0
    for jid in range(lo, hi):
        job = st.getJobInfo(jid)
        if job is None:
            continue
        for sid in job.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                n += stage.numTasks
    return n


def jvm_gc_s(spark) -> float:
    """Collection time so far, summed over the driver JVM's collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in
               mf.getGarbageCollectorMXBeans()) / 1000.0
