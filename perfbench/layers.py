"""Per-layer metrics of one traced batch, from its spans and the SQL
executions the status stores recorded for it.

Layers are the program's modules. A layer's self time is the time its
spans were open minus the time their child spans cover, so self times
add up to the batch wall time; ``trace.unattributed_s`` is the rest.
Spark executes lazily, so the fan-out query built by
``pipeline.workers`` runs inside ``pipeline.processor``'s collect; its
wall time is moved from the span it ran under to ``pipeline.workers``.
The spatial join runs inside that same fan-out query, so its operator
time is reported (``spatial.join.op_s``) but not moved.
"""

from __future__ import annotations

from spans import Execution, Span

PIPELINE_LAYERS = ("pipeline.controller", "pipeline.tiles", "spatial.join",
                   "pipeline.processor", "pipeline.workers")
QUERY_LAYERS = ("plans.construct", "plans.execute")
JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
PYTHON_TIME = "time to run Python workers"
ROWS = "number of output rows"
MB = 2.0 ** 20

# name -> unit, in print order; every traced run reports all of them
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "plans.construct_s": "s",
    "plans.execute_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.executor_run_s": "s",
    "plans.executor_cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_write_mb": "MB",
    "plans.shuffle_read_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.python_eval_s": "s",
    "pipeline.tiles.select_s": "s",
    "pipeline.tiles.jobs": "count",
    "spatial.join.candidate_rows": "count",
    "spatial.join.matched_rows": "count",
    "spatial.join.match_ratio": "ratio",
    "spatial.join.op_s": "s",
    "pipeline.workers.groups": "count",
    "pipeline.workers.tasks": "count",
    "pipeline.workers.fanout_s": "s",
    "pipeline.workers.payload_s": "s",
    "pipeline.workers.python_s": "s",
    "pipeline.workers.shuffle_write_mb": "MB",
    "pipeline.workers.task_skew": "ratio",
    "pipeline.processor.attempts": "count",
    "pipeline.processor.retried_tiles": "count",
    "pipeline.processor.retry_s": "s",
    "pipeline.processor.retry_rows_scanned": "count",
    "pipeline.output.files": "count",
    "pipeline.output.mb": "MB",
    "pipeline.controller.self_s": "s",
    "pipeline.tiles.self_s": "s",
    "spatial.join.self_s": "s",
    "pipeline.processor.self_s": "s",
    "pipeline.workers.self_s": "s",
    "plans.self_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_share": "ratio",
}


def batch_layers(spans: list[Span], execs: list[Execution], wall_s: float,
                 task_skew) -> dict[str, float]:
    """Per-layer metrics of one batch. ``spans`` are the batch's spans,
    ``execs`` the executions finished during it, ``task_skew(stage)`` reads
    a stage's task times from the store."""
    by_id = {s.id: s for s in spans}
    layer_of = {f"span-{s.id}": s.name for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s.parent in by_id:
            child_s[s.parent] = child_s.get(s.parent, 0.0) + s.end - s.start
    self_s = dict.fromkeys(PIPELINE_LAYERS + QUERY_LAYERS, 0.0)
    for s in spans:
        self_s[s.name] = self_s.get(s.name, 0.0) + s.end - s.start - child_s.get(s.id, 0.0)

    m = dict.fromkeys(PER_LAYER, 0.0)
    owned = [(layer_of.get(e.group), e) for e in execs]
    # fan-out queries, numbered per run_with_retry call: 0 is the first
    # attempt, later ones are retry rounds
    rounds: dict[str | None, int] = {}
    for layer, e in owned:
        if not e.find("FlatMapGroupsInPandas"):
            continue
        attempt = rounds[e.group] = rounds.get(e.group, -1) + 1
        groups = sum(n["metrics"].get(ROWS, 0.0) for n in e.find("FlatMapGroupsInPandas"))
        last = max(e.stages, key=lambda st: st["id"]) if e.stages else None
        self_s["pipeline.workers"] += e.wall_s
        if layer in self_s:
            self_s[layer] -= e.wall_s
        m["pipeline.workers.groups"] += groups
        m["pipeline.workers.fanout_s"] += e.wall_s
        m["pipeline.workers.python_s"] += e.metric(PYTHON_TIME, ("FlatMapGroupsInPandas",))
        m["pipeline.workers.shuffle_write_mb"] += sum(st["shuffle_write_b"] for st in e.stages) / MB
        if last:
            m["pipeline.workers.tasks"] += last["tasks"]
            if attempt == 0:
                skew = task_skew(last)
                m["pipeline.workers.task_skew"] = max(m["pipeline.workers.task_skew"], skew)
        if attempt > 0:
            m["pipeline.processor.retried_tiles"] += groups
            m["pipeline.processor.retry_s"] += e.wall_s
            m["pipeline.processor.retry_rows_scanned"] += sum(
                n["metrics"].get(ROWS, 0.0) for n in e.nodes if n["name"].startswith("Scan"))
        for join in (n for n in e.nodes if n["name"] in JOINS and "_cx" in n["desc"]):
            m["spatial.join.candidate_rows"] += e.inputs(join)
            m["spatial.join.matched_rows"] += join["metrics"].get(ROWS, 0.0)
            if join["cluster"] is not None:
                m["spatial.join.op_s"] += e.node(join["cluster"])["metrics"].get("duration", 0.0)
    if m["spatial.join.candidate_rows"]:
        m["spatial.join.match_ratio"] = m["spatial.join.matched_rows"] / m["spatial.join.candidate_rows"]

    m["pipeline.processor.attempts"] = sum(1 for s in spans if s.name == "pipeline.workers")
    m["pipeline.tiles.select_s"] = sum(s.end - s.start for s in spans if s.name == "pipeline.tiles")
    m["pipeline.tiles.jobs"] = sum(e.jobs for layer, e in owned if layer == "pipeline.tiles")

    m["plans.construct_s"] = sum(s.end - s.start for s in spans if s.name == "plans.construct")
    m["plans.execute_s"] = sum(s.end - s.start for s in spans if s.name == "plans.execute")
    for layer, e in owned:
        if layer not in QUERY_LAYERS:
            continue
        m["plans.jobs"] += e.jobs
        m["plans.stages"] += len(e.stages)
        m["plans.python_eval_s"] += e.metric(PYTHON_TIME)
        for st in e.stages:
            m["plans.tasks"] += st["tasks"]
            m["plans.executor_run_s"] += st["run_s"]
            m["plans.executor_cpu_s"] += st["cpu_s"]
            m["plans.gc_s"] += st["gc_s"]
            m["plans.shuffle_write_mb"] += st["shuffle_write_b"] / MB
            m["plans.shuffle_read_mb"] += st["shuffle_read_b"] / MB
            m["plans.spill_mb"] += st["spill_b"] / MB

    for layer in PIPELINE_LAYERS:
        m[f"{layer}.self_s"] = self_s[layer]
    m["plans.self_s"] = self_s["plans.construct"] + self_s["plans.execute"]
    m["trace.unattributed_s"] = wall_s - sum(self_s.values())
    return m
