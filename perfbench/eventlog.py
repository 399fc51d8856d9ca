"""Per-layer numbers from a Spark event log.

The traced run writes an uncompressed, non-rolling event log. Each job is
attributed to a layer by the SQL execution it runs under:

- a plan that executes ``InsertIntoHadoopFsRelationCommand`` → ``sinks``
  (parquet writes);
- a ``localCheckpoint``/``checkpoint`` description, or a child execution of
  a streaming micro-batch that is not a write (the upsert sink's merge is
  materialized by ``stage_checkpoint``) → ``checkpointing``;
- the micro-batch's own root execution → ``streaming``;
- anything else → ``operators``.

Each job also carries the benchmark operation it ran under (the ``OP_PROPERTY``
local property the workload sets before the operation), so task metrics can
be split by operation. Each stage is marked with the kinds of physical
operator it runs (``joins``, ``windows``): the stage's RDD scopes name the
plan nodes it executes, and a ``WholeStageCodegen (n)`` scope stands for the
operators fused into that node of the SQL plan.

Only jobs submitted inside the measured window are counted.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

#: Local property naming the benchmark operation a job belongs to.
OP_PROPERTY = "perfbench.op"


@dataclass
class Job:
    layer: str
    busy_ms: float  # submission → completion


@dataclass
class Task:
    op: str
    layer: str
    kinds: frozenset[str]  # operator kinds the task's stage runs
    tasks: int = 1
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    scheduler_delay_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0
    output_tasks: int = 0


@dataclass
class EventLogSummary:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)

    def total(self, attr: str, op=None, layer: str | None = None,
              kind: str | None = None) -> float:
        """Sum of a task metric over the tasks whose operation name passes
        the predicate ``op``, of ``layer``, in stages that run an operator
        of ``kind``; ``None`` selects all."""
        return sum(getattr(t, attr) for t in self.tasks
                   if (op is None or op(t.op)) and (layer is None or t.layer == layer)
                   and (kind is None or kind in t.kinds))

    def job_count(self, layer: str | None = None) -> int:
        return sum(1 for j in self.jobs if layer is None or j.layer == layer)

    def busy_ms(self, layer: str) -> float:
        return sum(j.busy_ms for j in self.jobs if j.layer == layer)


def classify(description: str, plan: str, is_child_of_stream: bool, is_stream_root: bool) -> str:
    if "InsertIntoHadoopFsRelationCommand" in plan:
        return "sinks"
    head = description.lstrip().split(" ", 1)[0]
    if head in ("localCheckpoint", "checkpoint") or is_child_of_stream:
        return "checkpointing"
    if is_stream_root:
        return "streaming"
    return "operators"


def operator_kinds(names) -> frozenset[str]:
    """Kinds of the physical operators named: ``joins`` (any ``*Join``
    node or a cartesian product) and ``windows`` (any ``Window*`` node)."""
    kinds = set()
    for n in names:
        if "Join" in n or n.startswith("CartesianProduct"):
            kinds.add("joins")
        if "Window" in n:
            kinds.add("windows")
    return frozenset(kinds)


def fused_nodes(plan: dict, out: dict[str, set[str]]) -> None:
    """Map each ``WholeStageCodegen (n)`` node of a plan tree to the names
    of the operators fused into it (down to the next ``InputAdapter``)."""
    def fused(node, names):
        for c in node.get("children", []):
            if c["nodeName"] == "InputAdapter" or c["nodeName"].startswith("WholeStageCodegen"):
                continue
            names.add(c["nodeName"])
            fused(c, names)

    def walk(node):
        if node["nodeName"].startswith("WholeStageCodegen"):
            fused(node, out.setdefault(node["nodeName"], set()))
        for c in node.get("children", []):
            walk(c)

    walk(plan)


def _is_stream(description: str) -> bool:
    # micro-batch executions carry "id = <query id> runId = ... batch = N"
    return "runId = " in description and "batch = " in description


def summarize(lines, window_ms: tuple[float, float]) -> EventLogSummary:
    """Aggregate job and task metrics for the jobs submitted within
    ``window_ms`` (epoch milliseconds, inclusive)."""
    lo, hi = window_ms
    sql: dict[int, tuple[str, str, int]] = {}
    codegen: dict[int, dict[str, set[str]]] = {}  # execution → WSC node → fused names
    scopes: dict[int, set[str]] = {}  # stage → RDD scope names
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    task_events: list[dict] = []
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            if kind.endswith("SQLExecutionStart"):
                sql[eid] = (e.get("description", ""), e.get("physicalPlanDescription", ""),
                            e.get("rootExecutionId", eid))
            if "sparkPlanInfo" in e:
                fused_nodes(e["sparkPlanInfo"], codegen.setdefault(eid, {}))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            scopes[info["Stage ID"]] = {
                json.loads(r["Scope"])["name"] for r in info.get("RDD Info", []) if r.get("Scope")}
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submitted": e["Submission Time"],
                "sql": props.get("spark.sql.execution.id"),
                "op": props.get(OP_PROPERTY) or "",
            }
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["completed"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            task_events.append(e)

    out = EventLogSummary()
    job_layer: dict[int, str] = {}
    for jid, j in jobs.items():
        if not lo <= j["submitted"] <= hi:
            continue
        layer = "operators"
        if j["sql"] is not None:
            desc, plan, root = sql.get(int(j["sql"]), ("", "", None))
            root_desc = sql.get(root, ("", "", None))[0] if root is not None else ""
            is_root = root is None or root == int(j["sql"])
            layer = classify(desc, plan, _is_stream(root_desc) and not is_root,
                             _is_stream(desc) and is_root)
        job_layer[jid] = layer
        out.jobs.append(Job(layer, j.get("completed", j["submitted"]) - j["submitted"]))

    stage_kinds: dict[int, frozenset[str]] = {}
    for t in task_events:
        sid = t["Stage ID"]
        jid = stage_job.get(sid, -1)
        layer = job_layer.get(jid)
        if layer is None:
            continue
        if sid not in stage_kinds:
            eid = jobs[jid]["sql"]
            fused = codegen.get(int(eid), {}) if eid is not None else {}
            names = set()
            for s in scopes.get(sid, ()):
                names |= fused.get(s, set()) if s.startswith("WholeStageCodegen") else {s}
            stage_kinds[sid] = operator_kinds(names)
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        duration = info["Finish Time"] - info["Launch Time"]
        run = m.get("Executor Run Time", 0)
        written = m.get("Output Metrics", {})
        out.tasks.append(Task(
            op=jobs[jid]["op"], layer=layer, kinds=stage_kinds[sid],
            run_ms=run,
            cpu_ns=m.get("Executor CPU Time", 0),
            gc_ms=m.get("JVM GC Time", 0),
            scheduler_delay_ms=max(0, duration - run - m.get("Executor Deserialize Time", 0)
                                   - m.get("Result Serialization Time", 0)
                                   - info.get("Getting Result Time", 0)),
            input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
            input_rows=m.get("Input Metrics", {}).get("Records Read", 0),
            shuffle_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
            spill_bytes=m.get("Disk Bytes Spilled", 0),
            output_bytes=written.get("Bytes Written", 0),
            output_rows=written.get("Records Written", 0),
            output_tasks=1 if written.get("Records Written", 0) else 0,
        ))
    return out
