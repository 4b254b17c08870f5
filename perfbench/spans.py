"""In-memory span recorder for the traced benchmark run.

Spans are recorded from the benchmark's side, around calls into the
engine's public methods: nothing inside ``osprey_spark`` is edited. A
span is (name, start, end, parent); counters are plain name -> number.
Everything stays in memory and is written once, as one JSON file, when
the run ends.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` with a version that records a span.

        The parent is the innermost open span on the calling thread.
        Spans opened on other threads (the pipeline's concurrent state
        merges) have no parent; self time attributes them to a batch by
        their time window instead."""
        inner = getattr(obj, method)
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            span = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
            stack.append(span["id"])
            try:
                return inner(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.perf_counter()

        setattr(obj, method, traced)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def self_times(self, name: str) -> list[float]:
        """Per span of ``name``: its duration minus the part of it that
        other recorded spans inside its interval cover."""
        out = []
        for s in self.spans:
            if s["name"] != name or not s["end"]:
                continue
            inner = sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in self.spans
                if c is not s and c["end"] and c["start"] < s["end"] and c["end"] > s["start"]
                and c["name"] != name and (c["end"] - c["start"]) < (s["end"] - s["start"])
            )
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in inner:
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out.append(s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str, per_layer: dict, end_to_end: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "per_layer": per_layer,
                    "end_to_end": end_to_end,
                    "counters": self.counters,
                    "spans": self.spans,
                },
                fh,
            )


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- Spark's SQL status store ----------------------------------------------

_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _bytes(text: str) -> float:
    """A size metric as the status store renders it: either ``12.3 MiB``
    or ``total (min, med, max ...)\\n12.3 MiB (...)``; the total is the
    first size on the last line."""
    m = _SIZE.search(text.strip().splitlines()[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


class SqlStatus:
    """Reads executions from the session's SQL status store, which holds
    per-plan-node metrics even with the web UI off."""

    def __init__(self, spark) -> None:
        self.store = spark._jsparkSession.sharedState().statusStore()

    def executions(self) -> list:
        out, it = [], self.store.executionsList().iterator()
        while it.hasNext():
            out.append(it.next())
        return out

    def last_id(self) -> int:
        ex = self.executions()
        return max((e.executionId() for e in ex), default=-1)

    def since(self, after_id: int) -> list:
        return [e for e in self.executions() if e.executionId() > after_id]

    def jobs(self, execs: list) -> int:
        return sum(e.jobs().size() for e in execs)

    def node_bytes(self, execs: list) -> tuple[float, float]:
        """(shuffle bytes written, bytes to and from Python workers)."""
        shuffle = python = 0.0
        for e in execs:
            eid = e.executionId()
            values = self.store.executionMetrics(eid)
            nodes = self.store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                ms = nodes.next().metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if not values.contains(m.accumulatorId()):
                        continue
                    name = m.name()
                    if name == "shuffle bytes written":
                        shuffle += _bytes(values.get(m.accumulatorId()).get())
                    elif "Python workers" in name and m.metricType() == "size":
                        python += _bytes(values.get(m.accumulatorId()).get())
        return shuffle, python
