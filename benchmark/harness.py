"""Run environment for one benchmark run: Spark session, process tree,
host record and the outside-in work counters.

Everything a run writes stays under its run directory inside the
checkout: corpus, indexes, Spark local dirs, the warehouse, the JVM's
temp dir and the record file.  Nothing here changes the package; the
counters read Spark's status tracker, ``/proc`` and the index
directories from outside.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

#: local[n] ceiling: the sizing host has 4 CPUs, and more Spark threads
#: than CPUs only adds contention to the timings
MAX_CORES = 2
#: driver heap cap; ``get_spark`` defaults to 48g, which does not fit a
#: shared 15 GB host.  The benchmark corpus needs well under 1 GB.
DRIVER_MEM = "2g"
#: a probe whose all-CPU throughput is below this share of
#: (CPUs x one-CPU throughput) marks the run as measured on a host that
#: delivered less than half its CPUs
PROBE_MIN_SHARE = 0.5
PROBE_SECS = 0.2

_CLK = os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def mean(xs: list[float]) -> float:
    return float(statistics.fmean(xs))


# ---------------------------------------------------------------------------
# process tree (/proc)
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` and every live descendant (JVM, pyspark daemon, workers)."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, counting reaped children too
    (``cutime``/``cstime``) so short-lived Python workers are not lost."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak memory of the process tree (bench process, gateway JVM,
    pyspark daemon and workers), sampled on a background thread: the
    largest sum over one sample's live processes of their proportional
    set size.  PSS splits pages shared between forked Python workers
    among them, so the sum does not grow with how many idle workers the
    daemon happens to keep."""

    def __init__(self, interval: float = 0.5):
        self.peak_kb = 0
        self.max_procs = 0
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        pids = tree_pids()
        self.max_procs = max(self.max_procs, len(pids))
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def peak_mb(self) -> float:
        self._sample()
        return self.peak_kb / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------

def host_probe(root: Path) -> dict:
    """CPU delivery right now, via ``tools/cpu_probe.measure``: burn
    throughput with one process and with one per usable CPU."""
    sys.path.insert(0, str(root / "tools"))
    try:
        from cpu_probe import measure
    finally:
        sys.path.pop(0)
    ncpu = len(os.sched_getaffinity(0))
    one = measure(1, PROBE_SECS)
    alln = measure(ncpu, PROBE_SECS)
    share = alln / (ncpu * one) if one else 0.0
    return {
        "cpus": ncpu,
        "iters_1p": round(one, 1),
        f"iters_{ncpu}p": round(alln, 1),
        "delivered_share": round(share, 3),
        "short_of_cpus": share < PROBE_MIN_SHARE,
    }


# ---------------------------------------------------------------------------
# index directory snapshots
# ---------------------------------------------------------------------------

def snapshot(d: str) -> dict[str, tuple[int, int, int]]:
    """{relpath: (size, mtime_ns, inode)} of every file under ``d``."""
    out = {}
    for root, _dirs, files in os.walk(d):
        for fn in files:
            p = os.path.join(root, fn)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, d)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or replaced between two snapshots."""
    changed = [v for k, v in after.items() if before.get(k) != v]
    return len(changed), sum(v[0] for v in changed)


def rel_bytes(index_dir: str) -> dict[str, int]:
    """Bytes per top-level relation directory (plus loose files)."""
    out: dict[str, int] = {}
    for rel, (size, _m, _i) in snapshot(index_dir).items():
        top = rel.split(os.sep, 1)[0] if os.sep in rel else "_files"
        out[top] = out.get(top, 0) + size
    return out


# ---------------------------------------------------------------------------
# the Spark session
# ---------------------------------------------------------------------------

class Env:
    """One run's Spark session and its scratch space.

    The Python workers get the checkout on ``PYTHONPATH`` (without it
    the first ``mapInArrow`` task fails to import the package), Spark's
    local dirs, warehouse and temp files stay in ``run_dir``, and
    :meth:`close` stops Spark and waits for the JVM and every worker to
    exit.
    """

    def __init__(self, root: Path, run_dir: Path):
        self.run_dir = run_dir
        tmp = run_dir / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        env = os.environ
        env["PYTHONPATH"] = os.pathsep.join(
            [str(root)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        env["SPARK_LOCAL_DIRS"] = str(tmp)
        env["SPARK_DRIVER_MEM"] = DRIVER_MEM
        env["TMPDIR"] = str(tmp)
        for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_ICEBERG"):
            env.pop(k, None)
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.mem = MemSampler()
        self.spark = None

    def start(self):
        from searchengine_spark import get_spark

        self.spark = get_spark(
            app_name="searchengine-benchmark",
            cores=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": str(self.run_dir / "warehouse"),
                "spark.local.dir": str(self.run_dir / "tmp"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.run_dir / 'tmp'} -XX:-UsePerfData"
                ),
            },
        )
        return self.spark

    # -- Spark job / task counters -------------------------------------
    def jobs_in_group(self, group: str) -> set[int]:
        st = self.spark.sparkContext.statusTracker()
        return set(st.getJobIdsForGroup(group))

    def tasks_of(self, job_ids) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    n += si.numCompletedTasks
        return n

    def set_group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()  # noqa: SLF001

    # -- teardown --------------------------------------------------------
    def close(self) -> None:
        pids = [p for p in tree_pids() if p != os.getpid()]
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway  # noqa: SLF001
                if gw is not None:
                    proc = getattr(gw, "proc", None)
                    try:
                        gw.shutdown()
                    except Exception as exc:  # noqa: BLE001 — keep reaping
                        print(f"benchmark: gateway shutdown: {exc}", file=sys.stderr)
                    if proc is not None:
                        proc.terminate()
                        try:
                            proc.wait(timeout=20)
                        except subprocess.TimeoutExpired:
                            proc.kill()
                            proc.wait(timeout=10)
        self.mem.close()
        _reap(pids)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for ``pids`` to exit; SIGTERM, then SIGKILL, stragglers."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
        deadline = time.time() + timeout
        while time.time() < deadline and any(_alive(p) for p in pids):
            time.sleep(0.1)
        if not any(_alive(p) for p in pids):
            return
