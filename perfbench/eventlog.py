"""Per-layer stage statistics from Spark's (uncompressed) event log.

Stages are mapped to layers from outside the program:
stage -> its job's ``spark.sql.execution.id`` -> that execution's plan.
A stage that itself computes a MapInPandas operator is UDF work; each
``InsertIntoHadoopFsRelationCommand`` execution is the sink named by the
last component of its output path. Local properties set by the
benchmark (``perfbench.*``) ride along on every stage.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

# the write node's details in a formatted plan: "Arguments: file:/.../spans, false, ..."
_INSERT_RE = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:[^\n]*\n)*?Arguments: ([^,\s]+)")
_UDF_SCOPES = ("MapInPandas", "MapInArrow", "PythonMapInArrow")


@dataclass
class Stage:
    stage_id: int
    props: dict
    scopes: set = field(default_factory=set)
    task_ms: list = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    spill_bytes: int = 0

    @property
    def execution(self) -> int | None:
        raw = self.props.get("spark.sql.execution.id")
        return int(raw) if raw not in (None, "") else None

    @property
    def busy_s(self) -> float:
        return sum(self.task_ms) / 1000.0

    @property
    def max_task_share(self) -> float:
        total = sum(self.task_ms)
        return max(self.task_ms) / total if total else 0.0

    @property
    def runs_udf(self) -> bool:
        """Computes a MapInPandas itself. A stage that reads a cached
        relation lists the cached plan's operators too, so a stage with
        an InMemoryTableScan does not count."""
        return (any(s in self.scopes for s in _UDF_SCOPES)
                and "InMemoryTableScan" not in self.scopes)


@dataclass
class EventLog:
    stages: dict = field(default_factory=dict)      # stage id -> Stage
    sinks: dict = field(default_factory=dict)       # execution id -> sink name
    cached: dict = field(default_factory=dict)      # tag -> {block id: bytes}

    def sink_of(self, stage: Stage) -> str | None:
        return self.sinks.get(stage.execution)

    def select(self, **props) -> list[Stage]:
        return [s for s in self.stages.values()
                if all(s.props.get(k) == v for k, v in props.items())]


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return re.sub(r"\s*\(\d+\)$", "", json.loads(scope).get("name", ""))
    except ValueError:
        return None


def parse(path: Path, tag_key: str) -> EventLog:
    """Read an event log. Cached-block sizes (logged block updates) carry
    no job properties; they go to the ``tag_key`` value of the most
    recently submitted stage."""

    log = EventLog()
    tag = None
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                st = Stage(info["Stage ID"], ev.get("Properties") or {})
                st.scopes = {n for n in map(_scope_name, info.get("RDD Info", [])) if n}
                log.stages[st.stage_id] = st
                tag = st.props.get(tag_key)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                held = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                if info.get("Block ID", "").startswith("rdd_") and held:
                    blocks = log.cached.setdefault(tag, {})
                    blocks[info["Block ID"]] = max(blocks.get(info["Block ID"], 0), held)
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.get(ev["Stage ID"])
                task, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                if st is None or task.get("Failed"):
                    continue
                st.task_ms.append(task["Finish Time"] - task["Launch Time"])
                st.gc_ms += m.get("JVM GC Time", 0)
                st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                st.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                m = _INSERT_RE.search(ev.get("physicalPlanDescription", ""))
                if m:
                    log.sinks[ev["executionId"]] = m.group(1).rstrip("/").rsplit("/", 1)[-1]
    return log


def single_log(event_dir: Path) -> Path:
    logs = [p for p in event_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {logs}")
    return logs[0]


def summarize(stages: list[Stage]) -> dict[str, float]:
    """busy seconds, tasks, max-task share of the busiest stage, shuffle
    bytes written, GC ms and spill over a group of stages."""

    if not stages:
        return {"busy_s": 0.0, "tasks": 0, "max_task_share": 0.0,
                "shuffle_bytes": 0, "gc_ms": 0, "spill_bytes": 0}
    busiest = max(stages, key=lambda s: s.busy_s)
    return {
        "busy_s": sum(s.busy_s for s in stages),
        "tasks": sum(len(s.task_ms) for s in stages),
        "max_task_share": busiest.max_task_share,
        "shuffle_bytes": sum(s.shuffle_write for s in stages),
        "gc_ms": sum(s.gc_ms for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
    }
