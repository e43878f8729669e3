"""Measurement from outside the engine: spans around calls into its
public functions, Spark job/stage accounting, and process RSS.

Spans are kept in memory (name, start, end, parent) and written out
when the run ends. A span's self time is its duration minus the part
its child spans cover. With tracing off, ``Tracer.span`` only times
the block; with tracing on it also tags the block's Spark jobs with a
job group named after the span, so ``jobs``/``stages`` can attribute
Spark work to the layer.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.request


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if (self.enabled and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(f"{name}#{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    sc.setJobGroup(f"{parent['name']}#{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> dict:
        """Record a span measured elsewhere (e.g. in a streaming callback)."""
        rec = {"id": len(self.spans), "name": name, "parent": parent, "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = sorted((s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"] and s["end"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, rec["start"]), min(e, rec["end"])
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def group_jobs(self, rec: dict) -> list[int]:
        tracker = self.spark.sparkContext.statusTracker()
        return list(tracker.getJobIdsForGroup(f"{rec['name']}#{rec['id']}"))


class StageStats:
    """Stage metrics from the Spark UI's REST API (the UI is enabled in
    traced runs only). Reads after the status store has quiesced: it is
    fed asynchronously, so a poll right after a job returns can miss
    its last stages."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.spark = spark
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def quiesce(self, timeout: float = 10.0) -> None:
        end = time.time() + timeout
        prev = None
        while time.time() < end:
            active = self._get("/stages?status=active")
            done = len(self._get("/jobs"))
            if not active and done == prev:
                return
            prev = done
            time.sleep(0.2)

    def jobs(self) -> list[dict]:
        return self._get("/jobs")

    def stages(self) -> dict[int, dict]:
        """Completed stages by id (highest attempt of each)."""
        out: dict[int, dict] = {}
        for s in self._get("/stages?status=complete"):
            cur = out.get(s["stageId"])
            if cur is None or s["attemptId"] > cur["attemptId"]:
                out[s["stageId"]] = s
        return out


def stage_totals(job_ids, jobs_by_id: dict, stages: dict) -> dict:
    """Completed-stage count, shuffle write bytes and executor run time
    (s) over the given jobs."""
    sids = {sid for j in job_ids if j in jobs_by_id for sid in jobs_by_id[j]["stageIds"]}
    done = [stages[s] for s in sids if s in stages]
    return {
        "stages": len(done),
        "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in done),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in done) / 1000.0,
    }


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, from /proc/*/stat."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by k
    processes counted 1/k. Summing RSS instead would count the pages a
    forked Python worker shares with its parent once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """High-water mark of the resident memory (PSS) of a process tree,
    the driver JVM and the Python workers under it, sampled every
    ``period``."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root = root_pid
        self.period = period
        self.peak = 0
        self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        tree = process_tree(self.root)
        self.peak = max(self.peak, sum(pss_bytes(p) for p in tree))
        self.peak_root = max(self.peak_root, pss_bytes(self.root))

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return False


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Host-wide cpu time counters (user nice system idle iowait irq
    softirq steal), from the first line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def cpu_share(before: list[int], after: list[int]) -> dict[str, float]:
    """Share of host cpu time spent busy, idle and stolen by the
    hypervisor between two ``cpu_ticks`` readings. Steal is time other
    tenants of a shared machine took from this one: a run with high
    steal measured a slower machine."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "busy": round((d[0] + d[1] + d[2] + d[5] + d[6]) / total, 4),
        "idle": round((d[3] + d[4]) / total, 4),
        "steal": round(d[7] / total, 4),
    }


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring checksum/marker files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
