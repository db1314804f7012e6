"""In-memory spans around the package's public entry points, plus the
Spark status counters behind them (traced runs only).

Spans are recorded from the benchmark's side: ``Tracer.wrap`` swaps a
public function or method for a timing wrapper for the length of the
traced phase and puts the original back afterwards.  Each span has a
name, start, end, parent and request id; they stay in memory and are
written out once, when the run ends.

Spark's own counters come from job groups (set per request), the
``statusTracker`` and the status REST API, which the traced run enables
through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import threading
import time
import urllib.request
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list = []
        self._next_req = 0
        #: id of the last ``points()`` handle handed out, per store
        self.handles: dict[int, int] = {}

    # ----------------------------------------------------------------- spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def request(self):
        """Give every span opened inside one request id."""
        with self._lock:
            self._next_req += 1
            rid = self._next_req
        prev = getattr(self._local, "req", None)
        self._local.req = rid
        try:
            yield rid
        finally:
            self._local.req = prev

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None,
               "req": getattr(self._local, "req", None), "thread": threading.get_ident()}
        rec.update(attrs)
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call of ``owner.attr`` as span ``name`` until
        :meth:`unwrap`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -------------------------------------------------------------- queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"] and s["end"] is not None]

    @staticmethod
    def dur_ms(span: dict) -> float:
        return (span["end"] - span["start"]) * 1000.0

    def self_ms(self, span: dict) -> float:
        """Duration minus the time its (sequential) child spans cover."""
        return self.dur_ms(span) - sum(self.dur_ms(c) for c in self.children(span))

    def mean_ms(self, name: str) -> float:
        ss = self.named(name)
        return sum(self.dur_ms(s) for s in ss) / len(ss) if ss else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkStatus:
    """Read-only view of the application's status REST API."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        REST view covers all finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        self.drain()
        return self.get("/jobs")

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage, by stage id."""
        out: dict[int, dict] = {}
        for s in self.get("/stages"):
            if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
                out[s["stageId"]] = s
        return out

    def sql(self) -> list[dict]:
        return self.get("/sql?details=true&planDescription=false&length=100000")


def parse_time(s: str) -> float:
    """REST timestamps look like ``2026-01-01T12:00:00.123GMT``."""
    t = dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def job_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Sum the counters of ``jobs`` and of the stages they ran (stages a
    job skipped because their shuffle output existed are not counted)."""
    tot = defaultdict(float)
    seen: set[int] = set()
    for j in jobs:
        tot["jobs"] += 1
        skipped = set(j.get("skippedStages", []) or [])
        for sid in j["stageIds"]:
            if sid in seen or sid in skipped or sid not in stages:
                continue
            s = stages[sid]
            if s["status"] == "SKIPPED":
                continue
            seen.add(sid)
            tot["stages"] += 1
            tot["tasks"] += s["numTasks"]
            tot["task_run_s"] += s["executorRunTime"] / 1e3
            tot["task_cpu_s"] += s["executorCpuTime"] / 1e9
            tot["shuffle_read_bytes"] += s["shuffleReadBytes"]
            tot["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            tot["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    return tot


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """Total of one SQL metric as the REST API prints it: either a bare
    number or ``total (min, med, max ...)\\n12.3 KiB (...)``."""
    line = text.split("\n")[-1].strip() if "\n" in text else text.strip()
    parts = line.replace(",", "").split()
    try:
        v = float(parts[0])
    except (ValueError, IndexError):
        return 0.0
    if len(parts) > 1 and parts[1] in _UNITS:
        v *= _UNITS[parts[1]]
    return v


def sql_metric_sums(executions: list[dict], names: set[str]) -> dict[str, float]:
    """Sum the named SQL metrics over every plan node of ``executions``."""
    tot = defaultdict(float)
    for ex in executions:
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m["name"] in names:
                    tot[m["name"]] += metric_value(m["value"])
    return tot
