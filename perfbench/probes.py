"""Outside-in probes: process-tree RSS, Spark's status REST API, spans.

Nothing here patches the program.  RSS comes from ``/proc``; stage and
task figures come from Spark's own status REST API; spans are
recorded by the benchmark around its calls into each layer.  The
benchmark also waits here for every process it started to end.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager
from multiprocessing import resource_tracker

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # The command name may hold spaces; ppid is the 2nd field after ')'.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process.

    The JVM starts Python worker daemons; if the JVM exits first, they
    would be adopted by init and could outlive the benchmark.  As a
    subreaper this process adopts them, so ``reap_children`` waits for
    them too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace_s: float = 10.0) -> None:
    """Return once this process has no child left, live or zombie.

    Children still running after ``grace_s`` get SIGTERM, and SIGKILL
    after twice that.  Adopted grandchildren are children by then.
    multiprocessing's resource tracker ignores SIGTERM and ends when its
    pipe closes, so it is stopped first."""
    resource_tracker._resource_tracker._stop()
    start = time.monotonic()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in _children_map().get(os.getpid(), ()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` in bytes."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root, self.interval_s, self.peak = root, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))


class SparkRest:
    """Read-only client for Spark's ``/api/v1`` status endpoints."""

    def __init__(self, spark):
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{spark.sparkContext.applicationId}")

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def group_stages(self, group: str, timeout_s: float = 30.0) -> list:
        """Completed stage attempts of every job in a job group.

        The status store is fed asynchronously by the listener bus, so
        poll until every job of the group has finished."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                ids = sorted({s for j in jobs for s in j["stageIds"]})
                stages = [a for sid in ids for a in self.get(f"/stages/{sid}")
                          if a["status"] == "COMPLETE"]
                if all(s["numCompleteTasks"] == s["numTasks"]
                       for s in stages):
                    return stages
            if time.monotonic() > deadline:
                raise RuntimeError(f"job group {group} did not settle")
            time.sleep(0.1)

    def task_seconds(self, stage: dict) -> list:
        tasks = self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                         f"/taskList?length=100000")
        return [t["duration"] / 1000.0 for t in tasks if "duration" in t]


def stage_figures(rest: SparkRest, group: str) -> dict:
    """Shuffle bytes, spill and post-shuffle task times of one job group."""
    stages = rest.group_stages(group)
    tasks = [s for st in stages if st["shuffleReadBytes"] > 0
             for s in rest.task_seconds(st)]
    return {
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "task_s_p50": statistics.median(tasks) if tasks else 0.0,
        "task_s_max": max(tasks) if tasks else 0.0,
    }


class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end.

    A disabled tracer records nothing, so untraced runs pay only a
    context-manager call per layer boundary."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._open: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
