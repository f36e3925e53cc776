"""Counters the benchmark reads from outside the program.

- `ProcTree`: resident memory and CPU time of this Python process and its
  descendants (the driver JVM and the JVM's Python workers), from /proc.
- `RssSampler`: a background thread that keeps the peak of the summed RSS.
- `SparkSnapshot`: Spark's own counters per job group, from the status
  store (stage metrics of every job the group launched).
"""

from __future__ import annotations

import json
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return [raw[: raw.index(" (")], raw[raw.index("(") + 1 : raw.rindex(")")]] + raw[
        raw.rindex(")") + 2 :
    ].split()


class ProcTree:
    """Snapshot helpers over the process tree rooted at this process."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _children(self) -> dict[int, list[int]]:
        kids: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            st = _read_stat(int(entry))
            if st is not None:
                kids.setdefault(int(st[3]), []).append(int(entry))
        return kids

    def descendants(self) -> list[int]:
        kids = self._children()
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.descendants():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total

    def python_worker_cpu_s(self) -> float:
        """CPU seconds of the JVM's Python descendants (the pyspark daemon
        and its forked workers), counting reaped workers through the
        daemon's cumulative child time."""
        total = 0
        kids = self._children()
        jvms = [p for p in kids.get(self.root, []) if _comm(p) == "java"]
        todo = [c for j in jvms for c in kids.get(j, [])]
        while todo:
            pid = todo.pop()
            st = _read_stat(pid)
            if st is not None and st[1].startswith("python"):
                # utime stime cutime cstime
                total += sum(int(v) for v in st[13:17])
            todo.extend(kids.get(pid, []))
        return total / _TICK


def _comm(pid: int) -> str:
    st = _read_stat(pid)
    return st[1] if st else ""


class RssSampler:
    """Samples the tree's summed RSS every ``interval`` seconds and keeps
    the peak since the last ``take_peak``."""

    def __init__(self, tree: ProcTree, interval: float = 0.2):
        self.tree = tree
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        rss = self.tree.rss_bytes()
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def take_peak(self) -> int:
        """Peak RSS in bytes since the previous call; starts a new window."""
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


_STAGE_FIELDS = {
    # StageData field -> (metric, scale)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("jvm_gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
    "inputRecords": ("input_rows", 1),
    "outputBytes": ("output_mb", 1 / 2**20),
}
GROUP_METRICS = ("jobs", "stages", "tasks") + tuple(m for m, _ in _STAGE_FIELDS.values())


def wait_for_listener(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    status store holds the final metrics of finished jobs."""
    try:
        spark._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # private API; fall back to a short grace period
        time.sleep(0.5)


class SparkSnapshot:
    """Every retained job and stage of the status store, read in bulk.

    The store's ``JobData`` and ``StageData`` are serialised to JSON in
    the JVM (the same Jackson + Scala module the REST API uses), so a
    snapshot costs a handful of Py4J calls however many jobs ran.
    """

    def __init__(self, spark):
        jvm = spark._jvm
        store = spark._jsc.sc().statusStore()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        # the last attempt of each stage
        self.stages: dict[int, dict] = {}
        for st in sorted(stages, key=lambda s: (s["stageId"], s["attemptId"])):
            self.stages[st["stageId"]] = st

    def job_ids(self) -> set[int]:
        return {j["jobId"] for j in self.jobs}

    def by_group(self) -> dict[str | None, dict[str, float]]:
        """Counters summed over the jobs of each job group. A stage that
        several jobs list (a reused shuffle) counts for the first job."""
        out: dict[str | None, dict[str, float]] = {}
        seen: set[int] = set()
        for job in sorted(self.jobs, key=lambda j: j["jobId"]):
            m = out.setdefault(job.get("jobGroup"), dict.fromkeys(GROUP_METRICS, 0.0))
            m["jobs"] += 1
            for sid in job["stageIds"]:
                st = self.stages.get(sid)
                if st is None or st["status"] == "SKIPPED" or sid in seen:
                    continue
                seen.add(sid)
                m["stages"] += 1
                m["tasks"] += st["numTasks"]
                for fld, (metric, scale) in _STAGE_FIELDS.items():
                    m[metric] += st[fld] * scale
        return out
