"""In-memory span recorder plus the Spark SQL executions each span launched.

A span covers one call into a layer of the engine (``checkpoint.*``,
``queries.<leaf>``, ``training.*``, ``engine.*``).  While a span is open the
Spark job description is ``bench:<span id>``, so every SQL execution the call
launches can be attached to it afterwards from Spark's own status store
(``sharedState().statusStore()``: ``executionsList`` / ``executionMetrics`` /
``planGraph``), with its per-node metrics.  Spans stay in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Optional

DESC_PREFIX = "bench:"

_UNIT = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024 ** 2 / 1e6,
         "GiB": 1024 ** 3 / 1e6, "TiB": 1024 ** 4 / 1e6}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(ns|us|ms|s|m|h|B|KiB|MiB|GiB|TiB)?(?![\w])")
_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str) -> dict:
    """Parse one formatted SQL metric value.

    Times come back in seconds, sizes in MB (10^6 bytes), counts as is.
    Per-task metrics carry ``min``/``med``/``max`` and the ``stage`` of the
    max task: ``"total (min, med, max (stageId: taskId))\\n13.0 s (3.1 s,
    3.2 s, 3.4 s (stage 1.0: task 3))"``."""
    line = text.strip().split("\n")[-1]
    stage = _STAGE.search(line)
    vals = [float(n.replace(",", "")) * _UNIT[u] if u else float(n.replace(",", ""))
            for n, u in _NUM.findall(_STAGE.sub("", line))]
    if not vals:
        return {}
    out = {"total": vals[0]}
    if len(vals) >= 4:
        out.update(min=vals[1], med=vals[2], max=vals[3])
    if stage:
        out["stage"] = int(stage.group(1))
    return out


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    executions: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanRecorder:
    """Records spans around layer calls; attaches Spark executions to them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = int(self._store.executionsCount())

    @contextmanager
    def span(self, name: str, op_id: int):
        sc = self.spark.sparkContext
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, op_id, parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        sc.setJobDescription(f"{DESC_PREFIX}{s.sid}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            sc.setJobDescription(f"{DESC_PREFIX}{parent.sid}" if parent else None)

    def attach_executions(self) -> None:
        """Read executions finished since the last call and hang each under
        the span named by its job description."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        count = int(self._store.executionsCount())
        if count <= self._seen:
            return
        batch = self._store.executionsList(self._seen, count - self._seen)
        self._seen = count
        by_sid = {s.sid: s for s in self.spans}
        for k in range(batch.size()):
            e = batch.apply(k)
            desc = e.description() or ""
            if not desc.startswith(DESC_PREFIX):
                continue
            span = by_sid.get(int(desc[len(DESC_PREFIX):]))
            if span is not None:
                span.executions.append(self._execution(e))

    def _execution(self, e) -> dict:
        eid = e.executionId()
        done = e.completionTime()
        end_ms = done.get().getTime() if done.isDefined() else e.submissionTime()
        values = self._store.executionMetrics(eid)
        nodes = self._store.planGraph(eid).allNodes()
        out_nodes = []
        for j in range(nodes.size()):
            node = nodes.apply(j)
            ms = node.metrics()
            metrics = {}
            for q in range(ms.size()):
                m = ms.apply(q)
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            out_nodes.append({"name": node.name().strip(), "metrics": metrics})
        return {"id": int(eid), "start": e.submissionTime() / 1000.0,
                "end": end_ms / 1000.0, "nodes": out_nodes}

    def self_time(self, span: Span) -> float:
        """Span wall minus the part covered by child spans and executions."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.sid]
        kids += [(x["start"], x["end"]) for x in span.executions]
        return span.wall - union_length(kids, span.start, span.end)

    def subtree(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += [c for c in self.spans if c.parent == s.sid]
        return out

    def executions_under(self, span: Span) -> list[dict]:
        return [x for s in self.subtree(span) for x in s.executions]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def node_metric(executions, node_pred, metric: str) -> float:
    """Sum of ``metric``'s total over matching nodes of ``executions``."""
    return sum(n["metrics"].get(metric, {}).get("total", 0.0)
               for x in executions for n in x["nodes"] if node_pred(n))


def python_nodes(executions) -> list[dict]:
    return [n for x in executions for n in x["nodes"]
            if "time to run Python workers" in n["metrics"]]
