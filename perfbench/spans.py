"""Span recorder and Spark status-store reader for the traced run.

A span is (name, start, end, parent, run id). The benchmark opens one
around each call into a layer's public functions by wrapping those
functions in place; the program's code is not changed. While a span is
open its id is the SparkContext job group, so every Spark job, stage and
SQL execution started inside it can be attributed to it afterwards from
Spark's in-process status stores (these work with
``spark.ui.enabled=false``).
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JError


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: int


class Tracer:
    """Records spans in memory; ``dump`` writes them out at the end."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.sc = None
        self.run = 0
        self.enabled = True

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, self.run)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{s.id}", s.name, False)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper, and rebind every
        loaded module of the program that imported it by name."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name):
                return orig(*args, **kwargs)

        targets = [owner] + [
            m for k, m in list(sys.modules.items())
            if k.startswith("tile_processor_spark") and m is not owner
            and getattr(m, attr, None) is orig
        ]
        for t in targets:
            self._undo.append((t, attr, orig))
            setattr(t, attr, spanned)

    def unwrap(self) -> None:
        for t, attr, orig in reversed(self._undo):
            setattr(t, attr, orig)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# --- status-store reader ----------------------------------------------------

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30, "TiB": 2.0 ** 40}


def metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric ("2,500", "1.4 s", "58.6 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) to seconds, bytes or
    a count."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


@dataclass
class Execution:
    """One SQL execution with its plan nodes and its jobs' stages."""
    id: int
    group: str | None
    wall_s: float
    jobs: int
    nodes: list[dict]
    edges: list[tuple[int, int]]
    stages: list[dict]

    def find(self, name: str) -> list[dict]:
        return [n for n in self.nodes if n["name"] == name]

    def inputs(self, node: dict) -> float:
        """Rows entering ``node``: for each child branch, the output rows of
        the first node down it that counts rows."""
        by_id = {n["id"]: n for n in self.nodes}
        total = 0.0
        for child in [f for f, t in self.edges if t == node["id"]]:
            while child is not None:
                n = by_id[child]
                if "number of output rows" in n["metrics"]:
                    total += n["metrics"]["number of output rows"]
                    break
                nxt = [f for f, t in self.edges if t == child]
                child = nxt[0] if nxt else None
        return total

    def node(self, node_id: int) -> dict:
        return next(n for n in self.nodes if n["id"] == node_id)

    def metric(self, metric: str, names: tuple[str, ...] | None = None) -> float:
        return sum(n["metrics"].get(metric, 0.0) for n in self.nodes
                   if names is None or n["name"] in names)


class StoreReader:
    """Reads jobs, stages and SQL executions that finished since the last
    call, from the in-process status stores."""

    def __init__(self, spark) -> None:
        self.jvm_store = spark.sparkContext._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.seen: set[int] = set()
        self.skip_existing()

    def skip_existing(self) -> None:
        self.seen.update(e.executionId() for e in _seq(self.sql_store.executionsList()))

    def _stage(self, sid: int) -> dict | None:
        try:
            s = self.jvm_store.lastStageAttempt(sid)
        except Py4JError:  # the store has dropped the stage
            return None
        if s.status().toString() != "COMPLETE":
            return None  # skipped: its shuffle output was reused
        return {
            "id": sid,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "shuffle_write_b": s.shuffleWriteBytes(),
            "shuffle_read_b": s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead(),
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "attempt": s.attemptId(),
        }

    def task_skew(self, stage: dict) -> float:
        """max / median executor run time of one stage's tasks."""
        tasks = _seq(self.jvm_store.taskList(stage["id"], stage["attempt"], 100_000))
        runs = [t.taskMetrics().get().executorRunTime() for t in tasks
                if t.taskMetrics().isDefined()]
        mid = statistics.median(runs) if runs else 0
        return max(runs) / mid if mid else 1.0

    def new_executions(self) -> list[Execution]:
        # the listener bus fills the stores in the background, so an
        # execution that has just returned may not read as complete yet
        deadline = time.monotonic() + 10.0
        while True:
            execs = [e for e in _seq(self.sql_store.executionsList())
                     if e.executionId() not in self.seen]
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        out = []
        for e in execs:
            eid = e.executionId()
            if not e.completionTime().isDefined():
                continue
            self.seen.add(eid)
            job_ids = sorted(int(j) for j in _seq(e.jobs().keys().toSeq()))
            group = None
            stage_ids: list[int] = []
            for jid in job_ids:
                try:
                    j = self.jvm_store.job(jid)
                except Py4JError:  # the store has dropped the job
                    continue
                # broadcast exchanges run their jobs under a group of their own
                if j.jobGroup().isDefined() and j.jobGroup().get().startswith("span-"):
                    group = j.jobGroup().get()
                stage_ids += [int(s) for s in _seq(j.stageIds())]
            graph = self.sql_store.planGraph(eid)
            values = self.sql_store.executionMetrics(eid)
            cluster = {m.id(): n.id() for n in _seq(graph.nodes())
                       if n.getClass().getSimpleName() == "SparkPlanGraphCluster"
                       for m in _seq(n.nodes())}
            nodes = []
            for n in _seq(graph.allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = metric_value(v.get())
                nodes.append({"id": n.id(), "name": n.name(), "desc": n.desc(),
                              "cluster": cluster.get(n.id()), "metrics": metrics})
            edges = [(ed.fromId(), ed.toId()) for ed in _seq(graph.edges())]
            start = e.submissionTime() / 1e3
            wall = e.completionTime().get().getTime() / 1e3 - start
            stages = [s for s in (self._stage(sid) for sid in sorted(set(stage_ids))) if s]
            out.append(Execution(eid, group, wall, len(job_ids), nodes, edges, stages))
        return out
