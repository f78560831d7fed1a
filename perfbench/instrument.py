"""Measurement plumbing: layer spans, Spark job accounting, process memory.

Everything here observes the program from outside. A :class:`Tracer`
times each call the benchmark makes into a program module and tags the
Spark jobs that call starts with its own job group, so job, stage and
task counts come from ``SparkContext.statusTracker()`` and shuffle bytes
from the monitoring REST API (the traced run enables the UI for that).
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

MB = 1024.0 * 1024.0
COUNT_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "shuffle_read_mb", "shuffle_write_mb")


class Tracer:
    """Layer spans of one run; a no-op when ``enabled`` is False."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.phase = "setup"
        self.spans: list[dict] = []
        self._seq = 0

    def attach(self, spark) -> None:
        self.spark = spark

    def begin(self, phase) -> None:
        """Start a new phase: spans recorded from now on carry ``phase``
        (the set-up's are ``"setup"``, each iteration's its number)."""
        self.phase = phase

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{self._seq}-{layer}"
        self._seq += 1
        sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record(layer, time.perf_counter() - t0, group)
            sc.setLocalProperty("spark.jobGroup.id", None)

    def record(self, layer: str, seconds: float, group: str | None = None) -> None:
        self.spans.append({"phase": self.phase, "layer": layer, "group": group, "s": seconds})

    def wrap(self, fn, layer: str):
        """Time every call of a driver-side function (no Spark jobs)."""

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.record(layer, time.perf_counter() - t0)

        return timed

    def force(self, df):
        """Materialize ``df`` at a layer boundary in the traced run only, so
        lazy work is charged to the layer that defined it."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    def gc_seconds(self) -> float:
        """Accumulated GC time of the (driver = executor) JVM."""
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def job_counts(self) -> dict[str, dict]:
        """Per job group: jobs, stages, tasks, failed tasks, shuffle MB.

        A stage shared by several jobs (a reused shuffle) is charged once,
        to the earliest job that lists it; skipped stages are not counted.
        """
        sc = self.spark.sparkContext
        _drain_listener_bus(sc)
        tracker = sc.statusTracker()
        shuffle = _stage_shuffle_bytes(sc)
        out: dict[str, dict] = {}
        seen: set[int] = set()
        groups = [s["group"] for s in self.spans if s["group"]]
        job_group = []
        for g in groups:
            out[g] = dict.fromkeys(COUNT_KEYS, 0)
            for jid in tracker.getJobIdsForGroup(g):
                job_group.append((jid, g))
        for jid, g in sorted(job_group):
            rec = out[g]
            rec["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                seen.add(sid)
                rec["stages"] += 1
                rec["tasks"] += st.numCompletedTasks + st.numFailedTasks
                rec["failed_tasks"] += st.numFailedTasks
                rd, wr = shuffle.get(sid, (0, 0))
                rec["shuffle_read_mb"] += rd / MB
                rec["shuffle_write_mb"] += wr / MB
        return out


def _drain_listener_bus(sc) -> None:
    """Wait until the status store has seen every finished job."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(1.0)


def _stage_shuffle_bytes(sc) -> dict[int, tuple[int, int]]:
    """stageId -> (shuffle read, shuffle write) bytes over completed attempts."""
    base = sc.uiWebUrl
    if not base:
        return {}
    url = f"{base}/api/v1/applications/{sc.applicationId}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.loads(r.read().decode())
    out: dict[int, tuple[int, int]] = {}
    for s in stages:
        rd, wr = out.get(s["stageId"], (0, 0))
        out[s["stageId"]] = (rd + s.get("shuffleReadBytes", 0), wr + s.get("shuffleWriteBytes", 0))
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- processes --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    return [pid for pid, _ in _descendant_pairs()]


def _descendant_pairs() -> list[tuple[int, int]]:
    """(pid, parent pid) of every process below this one."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        parent = todo.pop()
        for c in kids.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


SPAWN_HELPERS = ("java", "jspawnhelper")


def _exe_name(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


class PeakRss:
    """Peak resident memory of the Spark JVM plus its Python workers: the
    largest sum of VmRSS over all live descendant processes, sampled every
    ``interval`` seconds. Processes that never overlap are not added up.

    A process below the JVM that still runs the ``java`` (or
    ``jspawnhelper``) binary is a transient process-spawn helper that shares
    the JVM's address space until it execs (it briefly reports the JVM's
    whole RSS), so it is skipped. It is told by its executable, not its
    name: a forked child inherits the name of the JVM thread that forked it."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def sample(self) -> None:
        total = 0
        me = os.getpid()
        for pid, parent in _descendant_pairs():
            if parent != me and _exe_name(pid) in SPAWN_HELPERS:
                continue
            total += _status_kb(pid, "VmRSS:") or 0
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def mb(self) -> float:
        return self.peak_kb / 1024.0


def reap_descendants(grace: float = 15.0) -> None:
    """Wait for every descendant to exit; after ``grace`` seconds send
    SIGTERM, after twice that SIGKILL."""
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.time() + grace
        while descendants():
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:  # reap our own zombies
                    pass
            except ChildProcessError:
                pass
            if time.time() > deadline:
                break
            time.sleep(0.1)
        else:
            return
        for p in descendants() if sig else []:
            try:
                os.kill(p, sig)
            except OSError:
                pass
