"""Measurement probes of the benchmark: host steal, process-tree RSS,
Spark's SQL status store, and in-memory spans.

Nothing here changes what the pipeline does; every probe reads state
from outside (``/proc`` or the JVM's SQL status store) after or while
the benchmark's own calls run.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import uuid
from typing import Optional


def cpu_steal_total() -> "tuple[int, int]":
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return 0, 1


def steal_pct(before: "tuple[int, int]", after: "tuple[int, int]") -> float:
    return round(100.0 * (after[0] - before[0]) / max(1, after[1] - before[1]), 3)


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> "list[int]":
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except (OSError, ValueError):
        return []


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all of its descendants (the JVM
    and the Python workers it forks hang under the benchmark process)."""
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Background sampler of this process tree's RSS. ``reset``
    starts a new peak window; ``peak_mb`` reads it."""

    def __init__(self, interval: float = 0.05):
        self._interval = interval
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
        pid = os.getpid()
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)

    def reset(self) -> None:
        with self._lock:
            self._peak = tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / (1 << 20)


# ---------------------------------------------------------------- status store

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([0-9][0-9,]*\.?[0-9]*)\s*(B|KiB|MiB|GiB|TiB)\b")


def _total_line(text: str) -> str:
    # "total (min, med, max (stageId: taskId))\n457.0 KiB (...)" -> "457.0 KiB (...)"
    return text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text


def parse_size(text: str) -> float:
    m = _SIZE.search(_total_line(text))
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def parse_count(text: str) -> int:
    m = re.search(r"[0-9][0-9,]*", _total_line(text))
    return int(m.group(0).replace(",", "")) if m else 0


class SqlStatus:
    """Reader of Spark's SQL status store (works with the UI off)."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        execs = self._store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def executions_after(self, last_id: int) -> "list[dict]":
        """Completed executions with id > ``last_id``: id, description,
        start/end (epoch seconds) and plan node names."""
        out = []
        execs = self._store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= last_id or not e.completionTime().isDefined():
                continue
            nodes = self._store.planGraph(eid).allNodes()
            out.append({
                "id": eid,
                "desc": e.description()[:80],
                "start": e.submissionTime() / 1000.0,
                "end": e.completionTime().get().getTime() / 1000.0,
                "nodes": [nodes.apply(j).name() for j in range(nodes.size())],
            })
        return sorted(out, key=lambda x: x["id"])

    def node_metrics(self, eid: int) -> "list[tuple[str, dict]]":
        """[(node name, {metric name: formatted value})] for one execution."""
        values = self._store.executionMetrics(eid)
        nodes = self._store.planGraph(eid).allNodes()
        out = []
        for j in range(nodes.size()):
            node = nodes.apply(j)
            ms = node.metrics()
            got = {}
            for k in range(ms.size()):
                m = ms.apply(k)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    got[m.name()] = v.get()
            out.append((node.name(), got))
        return out


# ---------------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory (name, layer, start, end, parent, run id)
    and written as JSON lines when the run ends."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Optional[int] = None, **attrs) -> int:
        sid = len(self.spans)
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({"id": sid, "name": name, "layer": layer,
                           "start": start, "end": end, "parent": parent,
                           "run_id": self.run_id, **attrs})
        return sid

    def span(self, name: str, layer: str, **attrs) -> "_Span":
        return _Span(self, name, layer, attrs)

    def self_times(self, root: int) -> "dict[str, float]":
        """Self time per layer over the subtree of ``root`` (a span's
        duration minus the part its children cover), plus
        ``unattributed``: the part of the root no child covers."""
        kids: "dict[int, list[dict]]" = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)

        out: "dict[str, float]" = {}

        def covered(sid: int) -> float:
            iv = sorted((c["start"], c["end"]) for c in kids.get(sid, []))
            tot, cur_s, cur_e = 0.0, None, None
            for s, e in iv:
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        tot += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            return tot + ((cur_e - cur_s) if cur_e is not None else 0.0)

        def walk(sid: int) -> None:
            for c in kids.get(sid, []):
                dur = c["end"] - c["start"]
                out[c["layer"]] = out.get(c["layer"], 0.0) + dur - covered(c["id"])
                walk(c["id"])

        walk(root)
        r = self.spans[root]
        out["unattributed"] = (r["end"] - r["start"]) - covered(root)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str, attrs: dict):
        self._t, self._name, self._layer, self._attrs = tracer, name, layer, attrs
        self.id = -1

    def __enter__(self) -> "_Span":
        self.id = self._t.add(self._name, self._layer, time.time(), 0.0, **self._attrs)
        self._t._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self._t._stack.pop()
        self._t.spans[self.id]["end"] = time.time()

    @property
    def duration(self) -> float:
        s = self._t.spans[self.id]
        return s["end"] - s["start"]


def identity_batches(batches):
    """``mapInPandas`` function that returns its batches: the Arrow
    round trip alone. It lives here because this module imports only
    the standard library, so a Python worker unpickles it cheaply."""
    yield from batches


def median(xs: "list[float]") -> float:
    return float(statistics.median(xs))
