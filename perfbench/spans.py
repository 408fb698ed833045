"""Spans around the benchmark's calls into the engine's layers, and the
Spark engine counters read from outside (SQL and stage metrics).

Spans are kept in memory and written out once, when the run ends. A
span's layer is the first dotted part of its name (``plans.build`` →
``plans``); a layer's self time is the time its spans cover minus the
part their child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
import uuid

LAYERS = ("session", "plans", "sources", "operators", "features",
          "streaming", "check")


class Tracer:
    """Records (name, start, end, parent, run) spans while ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": time.perf_counter(), "parent": parent,
                               "run": self.run_id})

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer over all recorded spans."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            layer = s["name"].split(".", 1)[0]
            if layer in out:
                out[layer] += (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


class EngineCounters:
    """Deltas of Spark's own task/stage/SQL metrics between two marks."""

    def __init__(self, spark):
        self.spark = spark
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def _stages(self) -> dict[int, tuple]:
        lst = self._jvm.java.util.ArrayList
        stages = self._app.stageList(lst(), False, False,
                                     self._gw.new_array(self._jvm.double, 0),
                                     lst())
        out, it = {}, stages.iterator()
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = (
                s.numCompleteTasks(), s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(), s.jvmGcTime())
        return out

    def _python_rows(self, since: int) -> int:
        """Rows returned by Python UDF plan nodes of SQL executions with
        id >= ``since``."""
        total, it = 0, self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid < since:
                continue
            vals = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                nd = nodes.next()
                name = nd.name()
                if not ("Python" in name or "Pandas" in name or "Arrow" in name):
                    continue
                ms = nd.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() != "number of output rows":
                        continue
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        total += int(str(v.get()).replace(",", "").split()[0])
        return total

    def mark(self) -> None:
        self._base = self._stages()
        self._exec0 = self._sql.executionsCount()

    def delta(self) -> dict[str, float]:
        tasks = shuffle = spill = gc_ms = 0
        for key, v in self._stages().items():
            b = self._base.get(key, (0, 0, 0, 0))
            tasks += v[0] - b[0]
            shuffle += v[1] - b[1]
            spill += v[2] - b[2]
            gc_ms += v[3] - b[3]
        return {"session.tasks": tasks, "session.shuffle_bytes": shuffle,
                "session.spill_bytes": spill,
                "session.python_rows": self._python_rows(self._exec0),
                "session.gc_s": gc_ms / 1000.0}
