"""Spans, Spark job statistics and process-tree memory for the benchmark.

Spans are recorded from the benchmark's side, around the calls into the
program's public functions.  Each top-level layer span opens its own Spark
job group, so the jobs, stages and tasks it caused can be read back from
``statusTracker()`` and the local UI's REST API after the op has finished,
outside the op's clock.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import threading
import time
import urllib.request


class Tracer:
    """In-memory span log.  ``enabled=False`` makes every span a no-op, so
    the untraced run executes the same harness code minus the recording."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": self.op, "start": time.perf_counter(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "group": None}
        if group:
            rec["group"] = f"vbench-{os.getpid()}-{idx}"
            self.sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setJobGroup(f"vbench-{os.getpid()}-idle", "idle")

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its children cover."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def _ms(ts: str) -> float:
    """REST timestamps such as ``2026-10-17T09:55:01.123GMT`` -> epoch s."""
    return datetime.datetime.strptime(ts.replace("GMT", "+0000"),
                                      "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _quantity(text: str) -> float:
    """'251.6 MiB' -> bytes, '1,000,000' -> 1e6 (SQL metric values)."""
    m = re.match(r"\s*([\d.,]+)\s*(\w+)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


class SparkStats:
    """Per-job-group counts from the status tracker and the UI REST API.
    The UI listens on this host; proxies are bypassed explicitly."""

    _TERMINAL = {"SUCCEEDED", "FAILED", "COMPLETE", "SKIPPED"}

    def __init__(self, sc):
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
        self._sql_seen = self._sql_done = 0

    def _get(self, path: str):
        with self.opener.open(self.base + path, timeout=10) as r:
            return json.load(r)

    def _settled(self, path: str, timeout: float = 5.0):
        """GET until the listener has recorded the object as finished."""
        deadline = time.monotonic() + timeout
        while True:
            try:
                obj = self._get(path)
                status = (obj[0] if isinstance(obj, list) else obj)["status"]
                if status in self._TERMINAL or time.monotonic() > deadline:
                    return obj
            except OSError:
                if time.monotonic() > deadline:
                    raise
            time.sleep(0.02)

    def group(self, name: str) -> dict:
        """Totals over every job of one job group.  Scan bytes and rows come
        from the SQL scan nodes: stage input metrics miss bytes that a
        Python UDF's feeder thread reads."""
        out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
               "input_records": 0, "intervals": []}
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(name))
        stage_ids = set()
        for jid in sorted(job_ids):
            job = self._settled(f"/jobs/{jid}")
            out["jobs"] += 1
            if job.get("completionTime"):
                out["intervals"].append((_ms(job["submissionTime"]),
                                         _ms(job["completionTime"])))
            stage_ids.update(job["stageIds"])
        for sid in sorted(stage_ids):
            for att in self._settled(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += att["numCompleteTasks"] + att["numFailedTasks"]
                out["task_s"] += att["executorRunTime"] / 1e3
                out["gc_s"] += att["jvmGcTime"] / 1e3
                out["shuffle_mb"] += att["shuffleWriteBytes"] / 2**20
                out["spill_mb"] += att["diskBytesSpilled"] / 2**20
        if job_ids:
            for node in self._scan_nodes(job_ids):
                m = {x["name"]: x["value"] for x in node["metrics"]}
                out["input_mb"] += _quantity(m.get("size of files read", "0")) / 2**20
                out["input_records"] += _quantity(m.get("number of output rows", "0"))
        return out

    def _scan_nodes(self, job_ids: set, timeout: float = 5.0) -> list:
        """Scan nodes of the SQL executions that ran these jobs, once the
        listener has recorded their end (metrics are final only then)."""
        deadline = time.monotonic() + timeout
        while True:
            execs = self._get(f"/sql?details=true&planDescription=false"
                              f"&offset={self._sql_seen}&length=100000")
            mine = [e for e in execs
                    if job_ids & set(e["successJobIds"] + e["failedJobIds"])]
            if all(e["status"] != "RUNNING" for e in mine) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        self._sql_done = self._sql_seen + next(
            (i for i, e in enumerate(execs) if e["status"] == "RUNNING"), len(execs))
        return [n for e in mine for n in e["nodes"] if n["nodeName"].startswith("Scan")]

    def end_op(self) -> None:
        """Later queries skip the SQL executions that had finished by the
        end of this op's queries."""
        self._sql_seen = max(self._sql_seen, self._sql_done)

    def persisted_rdds(self) -> int:
        return len(self._get("/storage/rdd"))


def busy_union(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc every ``period`` s
    (walking a JVM's threads costs a few ms, so not much more often).
    ``at_peak`` splits the peak by process name (harness, java, python
    workers) and records when it happened."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self.at_peak: dict = {}
        self._t0 = time.perf_counter()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            parts: dict[str, int] = {}
            for p in process_tree(me):
                name = "harness" if p == me else _comm(p)
                parts[name] = parts.get(name, 0) + _rss_kb(p)
            kb = sum(parts.values())
            if kb > self.peak_kb:
                self.peak_kb = kb
                self.at_peak = {"t_s": time.perf_counter() - self._t0,
                                **{k: v / 1024 for k, v in parts.items()}}
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "gone"
