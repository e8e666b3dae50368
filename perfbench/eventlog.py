"""Per-layer rows from Spark's JSON event log and the benchmark's spans.

The traced run tags every Spark job with the job group ``p<pass>:<layer>``
(see ``spans.py``) and keeps the span of each top-level call the pipeline
makes.  This module joins the two:

* a layer's Spark work (jobs, stages, tasks, task time, shuffle and
  Python-worker metrics) is everything the event log records under the
  layer's job group;
* a layer's wall time is the time of its own calls plus, inside the
  ``IceTable.write_stage`` call that runs its jobs, the time those jobs
  were running.  The rest of a ``write_stage`` call is ``icetable`` time,
  as are ``read_stage``/``stage_complete`` and the pass's final count;
* ``pipeline.unattributed_s`` is the pass time no top-level span covers.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"  # ms ("timing" SQL metric)
PY_SENT = "data sent to Python workers"  # bytes
PY_BACK = "data returned from Python workers"  # bytes
ROWS = "number of output rows"


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    shuffle_write: float
    records_written: float
    accums: set

    @property
    def ms(self) -> float:
        return self.finish - self.launch


@dataclass
class Job:
    group: str | None
    execution: int
    start: float
    stages: list
    end: float | None = None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)
    #: stage id -> the first job that lists it (later jobs skip it)
    stage_job: dict = field(default_factory=dict)
    #: completed stage id -> {accumulator id: value}, {metric name: total}
    stage_accums: dict = field(default_factory=dict)
    stage_named: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)
    #: SQL execution id -> every plan node seen (initial and AQE re-plans)
    plan_nodes: dict = field(default_factory=dict)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls.parse(f)

    @classmethod
    def parse(cls, lines) -> "EventLog":
        log = cls()
        for line in lines:
            if line.strip():
                log._add(json.loads(line))
        return log

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = Job(
                group=props.get("spark.jobGroup.id"),
                execution=int(props.get("spark.sql.execution.id", -1)),
                start=float(e["Submission Time"]),
                stages=list(e["Stage IDs"]),
            )
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = float(e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            accums, named = {}, {}
            for a in info.get("Accumulables", []):
                v = _num(a.get("Value"))
                accums[a["ID"]] = v
                named[a["Name"]] = named.get(a["Name"], 0.0) + v
            self.stage_accums[info["Stage ID"]] = accums
            self.stage_named[info["Stage ID"]] = named
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append(Task(
                stage=e["Stage ID"],
                launch=float(info["Launch Time"]),
                finish=float(info["Finish Time"]),
                shuffle_write=_num((m.get("Shuffle Write Metrics") or {})
                                   .get("Shuffle Bytes Written")),
                records_written=_num((m.get("Output Metrics") or {})
                                     .get("Records Written")),
                accums={a["ID"] for a in info.get("Accumulables", [])},
            ))
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            nodes = self.plan_nodes.setdefault(e["executionId"], [])
            todo = [e["sparkPlanInfo"]]
            while todo:
                n = todo.pop()
                nodes.append(n)
                todo.extend(n.get("children", []))

    def node_metric_ids(self, executions, match, metric: str) -> set:
        """Accumulator ids of ``metric`` on plan nodes ``match`` accepts."""
        return {
            m["accumulatorId"]
            for ex in executions for n in self.plan_nodes.get(ex, [])
            if match(n) for m in n.get("metrics", []) if m["name"] == metric
        }

    def group_work(self, group: str) -> "Work":
        ids = {i for i, j in self.jobs.items() if j.group == group}
        jobs = [self.jobs[i] for i in sorted(ids)]
        owned = {s for s, i in self.stage_job.items() if i in ids}
        stages = [s for s in self.stage_accums if s in owned]
        tasks = [t for t in self.tasks if t.stage in owned]
        execs = {j.execution for j in jobs}
        return Work(self, jobs, stages, tasks, execs)


def _is_scorer(n: dict) -> bool:
    return n["nodeName"] == "MapInPandas"


def _is_scan(n: dict) -> bool:
    """A file scan; in mention_detect's jobs the only one reads the corpus."""
    return n["nodeName"].startswith("Scan")


@dataclass
class Work:
    """The Spark work one job group did."""

    log: EventLog
    jobs: list
    stages: list
    tasks: list
    executions: set

    def intervals(self) -> list:
        return [(j.start, j.end) for j in self.jobs if j.end is not None]

    def named(self, name: str) -> float:
        return sum(self.log.stage_named[s].get(name, 0.0) for s in self.stages)

    def node_total(self, match, metric: str = ROWS) -> float:
        ids = self.log.node_metric_ids(self.executions, match, metric)
        return sum(v for s in self.stages
                   for i, v in self.log.stage_accums[s].items() if i in ids)

    def node_tasks(self, match, metric: str = ROWS) -> int:
        ids = self.log.node_metric_ids(self.executions, match, metric)
        return sum(1 for t in self.tasks if t.accums & ids)

    def task_ms(self) -> float:
        return sum(t.ms for t in self.tasks)

    def skew(self) -> float:
        """max/median task time in the stage with the most task time."""
        by_stage: dict = {}
        for t in self.tasks:
            by_stage.setdefault(t.stage, []).append(t.ms)
        if not by_stage:
            return 0.0
        heavy = max(by_stage.values(), key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def union_ms(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        a = a if lo is None else max(a, lo)
        b = b if hi is None else min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(clipped):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def pass_layers(log: EventLog, spans: list, pass_no: int,
                pass_ms: float, cores: int) -> dict:
    """Per-layer metrics of one traced pass (times in seconds).

    ``spans`` are the tracer's records; ``pass_ms`` is the pass's wall
    time as the benchmark measured it.  Ratios whose base is zero (a
    layer that did no work in this pass) read 0."""
    mine = [s for s in spans if s["pass"] == pass_no]
    work = {layer: log.group_work(f"p{pass_no}:{layer}")
            for layer in ("mention_detect", "canonicalize", "canonical_triples")}
    wall = dict.fromkeys(("corpus", *work), 0.0)
    write_self = read_ms = 0.0
    for s in mine:
        dur = s["end_ms"] - s["start_ms"]
        if s["kind"] == "call":
            wall[s["layer"]] += dur
        elif s["kind"] == "write":
            busy = union_ms(work[s["layer"]].intervals(),
                            s["start_ms"], s["end_ms"])
            wall[s["layer"]] += busy
            write_self += dur - busy
        else:
            read_ms += dur
    covered = sum(s["end_ms"] - s["start_ms"] for s in mine)

    det, can, tri = (work["mention_detect"], work["canonicalize"],
                     work["canonical_triples"])
    det_rows = det.node_total(_is_scorer)
    det_written = sum(t.records_written for t in det.tasks)
    occupancy = {k: _ratio(work[k].task_ms(), wall[k] * cores)
                 for k in ("mention_detect", "canonicalize")}
    s = 1000.0
    return {
        "corpus.scan_tasks": det.node_tasks(_is_scan),
        "corpus.rows": det.node_total(_is_scan),
        "mention_detect.wall_s": wall["mention_detect"] / s,
        "mention_detect.jobs": len(det.jobs),
        "mention_detect.tasks": len(det.tasks),
        "mention_detect.score_tasks": det.node_tasks(_is_scorer),
        "mention_detect.python_s": det.named(PY_RUN) / s,
        "mention_detect.bytes_to_python": det.named(PY_SENT),
        "mention_detect.bytes_from_python": det.named(PY_BACK),
        "mention_detect.rows_out": det_written,
        "mention_detect.core_occupancy": occupancy["mention_detect"],
        "mention_detect.task_skew": det.skew(),
        "mention_detect.useful_ratio": _ratio(det_written, det_rows),
        "canonicalize.wall_s": wall["canonicalize"] / s,
        "canonicalize.jobs": len(can.jobs),
        "canonicalize.stages": len(can.stages),
        "canonicalize.tasks": len(can.tasks),
        "canonicalize.driver_gap_s":
            (wall["canonicalize"] - union_ms(can.intervals())) / s,
        "canonicalize.core_occupancy": occupancy["canonicalize"],
        "canonicalize.shuffle_bytes": sum(t.shuffle_write for t in can.tasks),
        "canonicalize.python_s": can.named(PY_RUN) / s,
        "canonical_triples.wall_s": wall["canonical_triples"] / s,
        "canonical_triples.shuffle_bytes":
            sum(t.shuffle_write for t in tri.tasks),
        "canonical_triples.rows_out": sum(t.records_written for t in tri.tasks),
        "icetable.write_s": write_self / s,
        "icetable.read_s": read_ms / s,
        "pipeline.unattributed_s": (pass_ms - covered) / s,
        "pipeline.unattributed_frac": _ratio(pass_ms - covered, pass_ms),
        "pipeline.jobs_total": sum(
            1 for j in log.jobs.values()
            if j.group and j.group.startswith(f"p{pass_no}:")
        ),
    }
