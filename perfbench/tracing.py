"""In-memory spans and Spark status-store counters for traced runs.

Spans are kept in a list while the run goes and written out once at the
end. Counters come from the session's status stores, which Spark fills
even with the UI disabled:

* the application store (``SparkContext.statusStore``) has one record
  per stage attempt with task counts and task-metric totals;
* the SQL store (``SharedState.statusStore``) has one record per SQL
  execution with its plan graph and per-node metric values.

Both are read by id range, not by list position: a ``Mark`` remembers
the highest stage and execution id seen, and a later read keeps only
records with a higher id. Stage ids and execution ids are allocated in
submission order, and the stores evict oldest-first, so an id range
stays exact where a list-length diff would not.
"""

from __future__ import annotations

import json
import re
import time
from dataclasses import dataclass, field
from pathlib import Path

# physical-node kinds whose Spark timing metrics are summed into
# op.<kind>.time_s. Spark times neither Window, Generate nor the joins
# (their cost sits in the enclosing stage's executor time), so those get
# their output rows in op.<kind>.rows, and Window, which has no row
# metric either, the number of its nodes in op.Window.nodes.
TIMED_OPS = ["WholeStageCodegen", "Exchange", "BroadcastExchange", "HashAggregate",
             "Sort", "ScanParquet", "InsertIntoHadoopFsRelation"]
ROW_OPS = ["Generate", "SortMergeJoin", "BroadcastHashJoin"]
COUNTED_OPS = ["Window"]

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def node_kind(name: str) -> str:
    """Plan-graph node name -> metric-safe kind ("WholeStageCodegen (4)"
    -> "WholeStageCodegen", "Scan parquet " -> "ScanParquet")."""
    name = re.sub(r"\s*\(\d+\)$", "", name.strip())
    name = name.removeprefix("Execute ").removesuffix("Command")
    return "".join(w[:1].upper() + w[1:] for w in name.split())


def parse_metric(text: str) -> float:
    """A Spark SQL metric string -> number in base units (s, bytes).
    Aggregated values read "total (min, med, max ...)\\n<total> (...)";
    the total is the first value after the newline."""
    text = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


@dataclass(frozen=True)
class Mark:
    stage: int
    execution: int


@dataclass
class Counters:
    """Totals over the stages and SQL executions in one id range."""
    stages: int = 0
    tasks: int = 0
    executions: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    op_time_s: dict[str, float] = field(default_factory=dict)
    op_rows: dict[str, float] = field(default_factory=dict)
    op_nodes: dict[str, int] = field(default_factory=dict)


class StatusStore:
    def __init__(self, spark):
        self.spark = spark
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.read_s = 0.0  # time this reader spent, reported as tracing cost

    def _stage_seq(self):
        jvm = self.spark._jvm
        gw = self.spark.sparkContext._gateway
        return self._sc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False, gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList())

    @staticmethod
    def _newest(seq, key: str, floor: int):
        """Records of a store listing with id > floor, newest first. The
        listing is sorted by id; which end is newest is read off its ends,
        so each read costs py4j calls for the records in range only."""
        n = seq.size()
        if n == 0:
            return
        ascending = getattr(seq.apply(0), key)() <= getattr(seq.apply(n - 1), key)()
        for i in range(n - 1, -1, -1) if ascending else range(n):
            rec = seq.apply(i)
            if getattr(rec, key)() <= floor:
                return
            yield rec

    def _drain(self) -> None:
        # listener events are delivered asynchronously; wait until every
        # posted event has reached the stores before reading them
        self._sc.listenerBus().waitUntilEmpty()

    def mark(self) -> Mark:
        t0 = time.perf_counter()
        self._drain()
        newest_stage = next(self._newest(self._stage_seq(), "stageId", -1), None)
        newest_exec = next(self._newest(self._sql.executionsList(), "executionId", -1), None)
        stage = newest_stage.stageId() if newest_stage is not None else -1
        execution = newest_exec.executionId() if newest_exec is not None else -1
        self.read_s += time.perf_counter() - t0
        return Mark(stage, execution)

    def counters(self, *ranges: tuple[Mark, Mark]) -> list[Counters]:
        """One Counters per (since, until) range: stages with
        since.stage < id <= until.stage and SQL executions with
        since.execution < id <= until.execution. Reads the stores once."""
        t0 = time.perf_counter()
        self._drain()
        out = [Counters() for _ in ranges]

        def bins(attr: str, i: int) -> list[Counters]:
            return [c for c, (lo, hi) in zip(out, ranges)
                    if getattr(lo, attr) < i <= getattr(hi, attr)]

        for s in self._newest(self._stage_seq(), "stageId", min(lo.stage for lo, _ in ranges)):
            hit = bins("stage", s.stageId())
            if not hit or s.status().toString() in ("SKIPPED", "PENDING"):
                continue
            tasks = s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks()
            run_s, gc_s = s.executorRunTime() / 1e3, s.jvmGcTime() / 1e3
            spill, shuffle = s.diskBytesSpilled(), s.shuffleWriteBytes()
            for c in hit:
                c.stages += 1
                c.tasks += tasks
                c.executor_run_s += run_s
                c.gc_s += gc_s
                c.spill_bytes += spill
                c.shuffle_write_bytes += shuffle
        floor = min(lo.execution for lo, _ in ranges)
        for e in self._newest(self._sql.executionsList(), "executionId", floor):
            hit = bins("execution", e.executionId())
            if hit:
                self._add_op_metrics(e.executionId(), hit)
        self.read_s += time.perf_counter() - t0
        return out

    def _add_op_metrics(self, eid: int, into: list[Counters]) -> None:
        """Add one SQL execution's node metrics to each of ``into``."""
        time_s: dict[str, float] = {}
        rows: dict[str, float] = {}
        nodes_seen: dict[str, int] = {}
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            kind = node_kind(node.name())
            if kind in COUNTED_OPS:
                nodes_seen[kind] = nodes_seen.get(kind, 0) + 1
            if kind not in TIMED_OPS and kind not in ROW_OPS:
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if kind in TIMED_OPS and m.metricType() in ("timing", "nsTiming"):
                    time_s[kind] = time_s.get(kind, 0.0) + parse_metric(v.get())
                elif kind in ROW_OPS and m.name() == "number of output rows":
                    rows[kind] = rows.get(kind, 0.0) + parse_metric(v.get())
        for c in into:
            c.executions += 1
            for mine, theirs in ((c.op_time_s, time_s), (c.op_rows, rows),
                                 (c.op_nodes, nodes_seen)):
                for k, v in theirs.items():
                    mine[k] = mine.get(k, 0) + v

    def stored_bytes(self) -> float:
        """Bytes held by persisted and checkpointed RDD blocks right now."""
        infos = self._sc.getRDDStorageInfo()
        return float(sum(i.memSize() + i.diskSize() for i in infos))


class Tracer:
    """Spans kept in memory: name, start, end, parent, job id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, job: str | None = None):
        return _Span(self, name, job)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans}, indent=1) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, job: str | None):
        self.tracer, self.name, self.job = tracer, name, job

    def __enter__(self):
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        if self.job is None and parent is not None:
            self.job = t.spans[parent]["job"]
        self.index = len(t.spans)
        t.spans.append({"name": self.name, "start": time.perf_counter() - t._t0,
                        "end": None, "parent": parent, "job": self.job})
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        t.spans[self.index]["end"] = time.perf_counter() - t._t0
        t._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        s = self.tracer.spans[self.index]
        return s["end"] - s["start"]
