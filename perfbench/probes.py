"""Measurement probes that sit outside the package: a span tracer, a /proc
reader for process-tree CPU and Python RSS, and a reader for Spark's REST
status API.  None of them changes what the program does; the tracer only
adds a job description to the Spark jobs a span starts."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- /proc ------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after the last ')' is
    # whitespace separated, starting at field 3 (state)
    close = raw.rindex(")")
    return [raw[raw.index("(") + 1 : close]] + raw[close + 2 :].split()


def process_tree(root: int) -> dict[int, str]:
    """pid -> comm for ``root`` and all of its descendants."""
    parent: dict[int, int] = {}
    comm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is None:
            continue
        comm[int(entry)] = fields[0]
        parent[int(entry)] = int(fields[2])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return {pid: comm.get(pid, "?") for pid in tree}


def tree_cpu_s(pids) -> float:
    """user+sys CPU seconds of ``pids``, including children they reaped
    (so a Python worker that exits still counts through its parent)."""
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in fields[12:16])
    return total / _CLK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcSampler:
    """Background sampler of the highest RSS of any Python process in the
    tree (driver, pyspark daemon, workers).  The tree is re-listed every
    ``relist_s``; RSS is read every ``period_s``."""

    def __init__(self, root: int, period_s: float = 0.02, relist_s: float = 0.5):
        self.root = root
        self.period_s = period_s
        self.relist_s = relist_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _python_pids(self) -> list[int]:
        return [p for p, c in process_tree(self.root).items() if c.startswith("python")]

    def _run(self) -> None:
        pids = self._python_pids()
        listed = time.monotonic()
        while not self._stop.wait(self.period_s):
            if time.monotonic() - listed > self.relist_s:
                pids = self._python_pids()
                listed = time.monotonic()
            for pid in pids:
                rss = _rss_bytes(pid)
                if rss > self.peak_rss:
                    self.peak_rss = rss

    def __enter__(self) -> "ProcSampler":
        self.peak_rss = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op) around the
    benchmark's calls into each layer.  Disabled, ``span`` is a no-op.
    Enabled, each span also sets the Spark job description to
    ``perfbench|<op>|<span id>`` so the REST capture can attribute jobs."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobDescription(f"perfbench|{self.op}|{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                outer = self._stack[-1] if self._stack else None
                self.sc.setJobDescription(
                    None if outer is None else f"perfbench|{self.op}|{outer}"
                )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_end is None or a > cur_end:
                    covered += b - a
                    cur_end = b
                elif b > cur_end:
                    covered += b - cur_end
                    cur_end = b
            out.append({**s, "self_s": (s["end"] - s["start"]) - covered})
        return out


# -- Spark REST status API ---------------------------------------------------


class SparkRest:
    """Per-span engine metrics from the driver's REST status API, keyed by
    the job descriptions the tracer sets."""

    def __init__(self, ui_url: str):
        self.base = ui_url.rstrip("/") + "/api/v1"
        self.app = self._get("/applications")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def _jobs(self) -> list[dict]:
        return self._get(f"/applications/{self.app}/jobs")

    def settle(self, timeout_s: float = 10.0) -> list[dict]:
        """Jobs once none is running and the listener has caught up (the
        status store is fed asynchronously)."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = self._jobs()
            key = [(j["jobId"], j["status"]) for j in jobs]
            running = any(j["status"] == "RUNNING" for j in jobs)
            if (not running and key == prev) or time.monotonic() > deadline:
                return jobs
            prev = key
            time.sleep(0.05)

    def op_metrics(self, op: str) -> dict[str, float]:
        """Engine totals over every job tagged with ``op``."""
        jobs = [
            j for j in self.settle()
            if (j.get("description") or "").startswith(f"perfbench|{op}|")
        ]
        stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        stages = [
            s for s in self._get(f"/applications/{self.app}/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        seen: set[tuple] = set()
        repeated = 0
        for s in sorted(stages, key=lambda s: s["stageId"]):
            # the same stage shape reading and writing the same record
            # counts again within one operation is a recomputed subtree
            key = (
                s["name"], s["numTasks"], s.get("inputRecords", 0),
                s.get("shuffleReadRecords", 0), s.get("shuffleWriteRecords", 0),
                s.get("outputRecords", 0),
            )
            if key in seen and any(key[2:]):
                repeated += 1
            seen.add(key)
        skew = 1.0
        if stages:
            longest = max(stages, key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/applications/{self.app}/stages/{longest['stageId']}/"
                f"{longest['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / q[0] if q[0] > 0 else 1.0
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spark.max_task_skew": skew,
            "spark.repeated_stages": repeated,
        }


def mean_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.mean(r.get(k, 0.0) for r in rows) for k in sorted(keys)}
