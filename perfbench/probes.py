"""Process, machine and Spark-engine accounting for one benchmark run.

- ``ProcTree``: CPU seconds and resident memory of the driver's process tree
  (this Python driver, the JVM it launches and the PySpark workers under
  it), read from ``/proc``. CPU includes reaped children (``cutime`` and
  ``cstime``), so workers that exit mid-run are still counted.
- ``SparkRest``: stage metrics from the Spark UI REST API, summed per job
  group (the traced run tags each span's jobs with its own group).
  ``bench._stage_totals`` sums every stage of the application, so it cannot
  split them per span.

The machine probe (obtained cores and steal share) is
``bench._machine_probe``, used as it is.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from typing import Dict, Iterable, List, Optional

HZ = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields restart after its ")"
    return s[s.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


class ProcTree:
    """The process tree rooted at ``root`` (this process by default)."""

    def __init__(self, root: Optional[int] = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> List[int]:
        children: Dict[int, List[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """utime + stime + cutime + cstime summed over the tree."""
        ticks = 0
        for p in self.pids():
            f = _stat_fields(p)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
        return ticks / HZ

    @staticmethod
    def rss_bytes(pids: Iterable[int]) -> int:
        total = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * PAGE
            except OSError:
                pass
        return total


class RssSampler:
    """Background sampler of the tree's summed RSS; ``take_peak`` returns
    the peak since the previous call. RSS is read every ``INTERVAL_S``,
    tree membership refreshed every ``RESCAN`` samples."""

    INTERVAL_S = 0.1
    RESCAN = 10

    def __init__(self, tree: ProcTree) -> None:
        self.tree = tree
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        n, pids = 0, self.tree.pids()
        while not self._stop.is_set():
            if n % self.RESCAN == 0:
                pids = self.tree.pids()
            rss = self.tree.rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            n += 1
            self._stop.wait(self.INTERVAL_S)

    def take_peak(self) -> int:
        rss = self.tree.rss_bytes(self.tree.pids())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak


class SparkRest:
    """Completed-stage metrics of the running application, per job group."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("Spark UI is off: the traced run needs it")
        self.base = f"{url.rstrip('/')}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def group_stages(self, groups: Iterable[str], settle_s: float = 15.0
                     ) -> Dict[str, List[dict]]:
        """Completed stages of each job group's succeeded jobs. The status
        store is fed asynchronously, so wait until every job of the groups
        has finished and all its stages are listed."""
        groups = set(groups)
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self._get("/jobs")
                    if j.get("jobGroup") in groups]
            stages = {(s["stageId"], s["attemptId"]): s
                      for s in self._get("/stages?status=complete")}
            done_ids = {k[0] for k in stages}
            # a job lists its skipped stages in stageIds, only counted
            done = all(j["status"] != "RUNNING" and j["numActiveStages"] == 0
                       and len(done_ids.intersection(j["stageIds"]))
                       >= j["numCompletedStages"] for j in jobs)
            if done or time.time() > deadline:
                break
            time.sleep(0.25)
        by_stage: Dict[int, str] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                by_stage[sid] = j["jobGroup"]
        out: Dict[str, List[dict]] = {g: [] for g in groups}
        for (sid, _), s in stages.items():
            if sid in by_stage:
                out[by_stage[sid]].append(s)
        return out

    def max_task_s(self, stages: List[dict]) -> float:
        worst = 0.0
        for s in stages:
            d = self._get(f"/stages/{s['stageId']}/{s['attemptId']}"
                          "/taskSummary?quantiles=1.0")
            worst = max(worst, max(d.get("duration", [0.0]) or [0.0]) / 1000)
        return worst


def stage_totals(stages: List[dict]) -> dict:
    mb = 1024 * 1024
    return {
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in stages) / mb,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in stages) / mb,
        "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in stages) / mb,
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
    }
