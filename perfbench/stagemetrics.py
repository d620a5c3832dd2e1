"""Benchmark-side tracing: per-call Spark stage metrics and process RSS.

Nothing here changes the engine. A traced call runs under its own Spark job
group; afterwards :meth:`StageHarvester.harvest` walks the group's jobs and
stages through ``statusTracker`` and the status store (both work with
``spark.ui.enabled=false``) and folds them into one record. Stages are
attributed to tsidx modules by their call site (``collect at docids.py:79``);
see :func:`_module` for the stages that have none.
"""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: stage fields summed into every call record
COUNT_FIELDS = ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes")
TIME_FIELDS = ("run_ms", "cpu_ms", "gc_ms")

_CALL_SITE = re.compile(r"(\w+)\.py:\d+")


def _module(stage_name: str) -> str:
    """The tsidx module a stage belongs to, from its call site. Stages that
    Spark started from JVM code carry no Python call site: adaptive query
    stages become ``aqe``, the rest ``jvm:<operation>``."""
    m = _CALL_SITE.search(stage_name)
    if m:
        return m.group(1)
    if "withThreadLocalCaptured" in stage_name:
        return "aqe"
    return "jvm:" + stage_name.split(" ", 1)[0]


def _empty_record() -> dict:
    return {f: 0 for f in COUNT_FIELDS + TIME_FIELDS} | {"modules": {}}


class StageHarvester:
    """Tags Spark calls with job groups and harvests their stage metrics."""

    def __init__(self, spark, settle_s: float = 5.0):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._seq = 0
        self._settle_s = settle_s

    @contextmanager
    def group(self, label: str):
        """Run the body under a fresh job group; yields the group id."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        self._sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:  # SparkContext has no clearJobGroup; drop what setJobGroup set
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self._sc.setLocalProperty(key, None)

    def _stage(self, sid: int):
        try:
            return self._store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stages have no attempt in the store
            return None

    def harvest(self, gid: str) -> dict:
        """One record for every job and stage the group ran."""
        tracker = self._sc.statusTracker()
        deadline = time.monotonic() + self._settle_s
        while True:
            job_ids = list(tracker.getJobIdsForGroup(gid))
            infos = [tracker.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.01)
        rec = _empty_record()
        rec["jobs"] = len(job_ids)
        for info in infos:
            for sid in (info.stageIds if info is not None else ()):
                st = self._stage(sid)
                if st is None or str(st.status()) == "SKIPPED":
                    continue
                module = _module(st.name())
                part = {
                    "stages": 1,
                    "tasks": st.numTasks(),
                    "input_bytes": st.inputBytes(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ms": st.executorCpuTime() / 1e6,
                    "gc_ms": st.jvmGcTime(),
                }
                mod = rec["modules"].setdefault(module, {})
                for k, v in part.items():
                    rec[k] += v
                    mod[k] = mod.get(k, 0) + v
        return rec


def merge(records: list[dict]) -> dict:
    """Field-wise sum of call records (module maps merged)."""
    out = _empty_record()
    for r in records:
        for k in COUNT_FIELDS + TIME_FIELDS:
            out[k] += r[k]
        for mod, part in r["modules"].items():
            dst = out["modules"].setdefault(mod, {})
            for k, v in part.items():
                dst[k] = dst.get(k, 0) + v
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # the process ended while we walked it
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:  # the process ended
        return 0


def _role(pid: int) -> str | None:
    """``jvm`` or ``python_workers``; None for anything else: this process,
    which holds the benchmark's own inputs and oracle, a launcher shell, or a
    child the JVM forked but has not yet exec'd (its RSS would count the
    JVM's pages twice)."""
    if pid == os.getpid():
        return None
    try:
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:  # the process ended
        return None
    if comm == "java":
        return "jvm"
    return "python_workers" if comm.startswith("python") else None


class PeakRss:
    """Peak resident memory of the engine's processes, this process's
    descendants: the Spark JVM and its Python daemon and workers. A background
    thread polls ``/proc``. :attr:`by_role` splits the peak into the JVM and
    the Python workers."""

    def __init__(self, interval_s: float = 0.1):
        self.peak = 0
        self.by_role: dict[str, int] = {}
        self._lock = threading.Lock()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        by_role: dict[str, int] = {}
        for pid in _descendants(os.getpid()):
            role = _role(pid)
            if role is not None:
                by_role[role] = by_role.get(role, 0) + _rss_bytes(pid)
        total = sum(by_role.values())
        with self._lock:  # the sampler thread and the caller both poll
            if total > self.peak:
                self.peak, self.by_role = total, by_role

    def _run(self) -> None:
        while not self._stop.is_set():
            self.poll()
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
