"""Benchmark-side tracing: in-memory spans and a Spark event-log reader.

Spans are recorded around the calls the benchmark makes into each layer
(build, plan, execute, sink write, read-back) and written out once, at
the end of a run.  Spark jobs are attributed to the span that launched
them through the job description the benchmark sets before each phase,
``pb|<op id>|<phase>``, which Spark copies into every job and SQL
execution it starts (``SparkContext.setJobDescription``).

The event log is Spark's own JSON-lines listener log (enable it with
``spark.eventLog.enabled``); reading it needs no UI or REST server.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter, defaultdict
from dataclasses import asdict, dataclass

DESC_PREFIX = "pb"


def job_description(op_id: int, phase: str) -> str:
    return f"{DESC_PREFIX}|{op_id}|{phase}"


def parse_description(desc: str | None) -> tuple[int, str] | None:
    """``pb|<op>|<phase>`` -> (op, phase); anything else -> None."""
    if not desc:
        return None
    parts = desc.split("|")
    if len(parts) != 3 or parts[0] != DESC_PREFIX:
        return None
    return int(parts[1]), parts[2]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the parent span, None at the root
    op_id: int | None


class Tracer:
    """Collects spans in memory; ``span`` is a context manager."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # span times are perf_counter seconds; + epoch gives Unix seconds,
        # the clock of the event log's timestamps
        self.epoch = time.time() - time.perf_counter()

    def span(self, name: str, op_id: int | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, op_id)

    def self_time(self) -> dict[str, float]:
        """Summed self time per span name: each span's duration minus the
        part of it that its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(children[i], key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str, ops: dict[int, str], spark: dict[tuple[int, str], "PhaseStats"]) -> None:
        """Write the spans, self time per span name, each op's label and
        the Spark counters of each (op, phase)."""
        doc = {
            "ops": ops,
            "spans": [asdict(s) for s in self.spans],
            "self_time": self.self_time(),
            "spark": [{"op": op, "phase": phase, **asdict(st)} for (op, phase), st in sorted(spark.items())],
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, op_id: int | None) -> None:
        self.tracer, self.name, self.op_id = tracer, name, op_id
        self.index = -1

    def __enter__(self) -> "_SpanCtx":
        t = self.tracer
        parent = t._stack[-1] if t._stack else None
        op_id = self.op_id if self.op_id is not None or parent is None else t.spans[parent].op_id
        t.spans.append(Span(self.name, time.perf_counter(), 0.0, parent, op_id))
        self.index = len(t.spans) - 1
        t._stack.append(self.index)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.spans[self.index].end = time.perf_counter()
        self.tracer._stack.pop()

    @property
    def seconds(self) -> float:
        s = self.tracer.spans[self.index]
        return s.end - s.start


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

# executed-plan node names counted per plan-shape metric
_EXCHANGES = {"Exchange", "BroadcastExchange"}
_BNLJ = {"BroadcastNestedLoopJoin"}
_CACHED = {"InMemoryTableScan"}


def _is_python_exec(name: str) -> bool:
    # ArrowEvalPython, BatchEvalPython, MapInArrow, MapInPandas,
    # FlatMapGroupsInPandas, ArrowWindowPython, ...
    return "Python" in name or "InPandas" in name or "InArrow" in name


def count_plan_nodes(plan: dict) -> Counter:
    """Node-name histogram of one ``sparkPlanInfo`` tree."""
    counts: Counter = Counter()
    stack = [plan]
    while stack:
        node = stack.pop()
        counts[node.get("nodeName", "")] += 1
        stack.extend(node.get("children", ()))
    return counts


@dataclass
class PhaseStats:
    """Spark-side counters of every job one (op, phase) launched."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    output_records: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    exchange_nodes: int = 0
    bnlj_nodes: int = 0
    python_exec_nodes: int = 0
    cached_scan_nodes: int = 0
    task_skews: list[float] | None = None
    job_submit_ms: list[int] | None = None  # Unix ms, one per job

    def add(self, other: "PhaseStats") -> None:
        for k, v in asdict(other).items():
            if k in ("task_skews", "job_submit_ms"):
                setattr(self, k, (getattr(self, k) or []) + (v or []))
            else:
                setattr(self, k, getattr(self, k) + v)


def read_event_log(path: str) -> dict[tuple[int, str], PhaseStats]:
    """Per (op id, phase) Spark counters from one application's event log.

    Jobs and SQL executions are attributed by the description the
    benchmark set; stages by the job that submitted them; tasks by
    stage.  Plan-shape counts come from the final plan of each SQL
    execution: the last adaptive-execution update when AQE re-planned,
    else the plan at execution start."""
    stage_owner: dict[int, tuple[int, str]] = {}
    exec_owner: dict[int, tuple[int, str]] = {}
    final_plan: dict[int, dict] = {}
    stats: dict[tuple[int, str], PhaseStats] = defaultdict(PhaseStats)
    task_times: dict[int, list[float]] = defaultdict(list)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                owner = parse_description((ev.get("Properties") or {}).get("spark.job.description"))
                if owner is None:
                    continue
                st = stats[owner]
                st.jobs += 1
                st.job_submit_ms = (st.job_submit_ms or []) + [ev.get("Submission Time", 0)]
                for sid in ev.get("Stage IDs", ()):
                    stage_owner.setdefault(sid, owner)
            elif kind == "SparkListenerStageCompleted":
                owner = stage_owner.get(ev["Stage Info"]["Stage ID"])
                if owner is not None:
                    stats[owner].stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                owner = stage_owner.get(sid)
                if owner is None:
                    continue
                st = stats[owner]
                info = ev.get("Task Info") or {}
                st.tasks += 1
                if info.get("Failed") or info.get("Killed"):
                    st.task_failures += 1
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                out = m.get("Output Metrics") or {}
                st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_records += sw.get("Shuffle Records Written", 0)
                st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.output_records += out.get("Records Written", 0)
                run_ms = m.get("Executor Run Time", 0)
                st.executor_run_s += run_ms / 1e3
                st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                task_times[sid].append(run_ms)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                owner = parse_description(ev.get("description"))
                if owner is not None:
                    exec_owner[ev["executionId"]] = owner
                    final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                if ev["executionId"] in exec_owner:
                    final_plan[ev["executionId"]] = ev.get("sparkPlanInfo") or {}
    for eid, owner in exec_owner.items():
        counts = count_plan_nodes(final_plan[eid])
        st = stats[owner]
        st.exchange_nodes += sum(counts[n] for n in _EXCHANGES)
        st.bnlj_nodes += sum(counts[n] for n in _BNLJ)
        st.cached_scan_nodes += sum(counts[n] for n in _CACHED)
        st.python_exec_nodes += sum(c for n, c in counts.items() if _is_python_exec(n))
    for sid, times in task_times.items():
        if len(times) > 1 and statistics.median(times) > 0:
            st = stats[stage_owner[sid]]
            st.task_skews = (st.task_skews or []) + [max(times) / statistics.median(times)]
    return dict(stats)


# a job's submission time is whole milliseconds: allow that much slack
# when matching it to a span
_CLOCK_SLACK_S = 0.002


def split_exec(tracer: Tracer, stats: dict[tuple[int, str], PhaseStats], first_op: int) -> tuple[float, float]:
    """(plan, execute) seconds of the ``exec`` spans of ops >= ``first_op``.

    The plan part of a span is the time from its start to the first Spark
    job submitted inside it: Catalyst optimisation, physical planning and
    AQE's first stage preparation of the execution that actually runs.
    The rest is execute.  A span that submitted no job counts wholly as
    execute."""
    plan = execute = 0.0
    for s in tracer.spans:
        if s.name != "exec" or s.op_id is None or s.op_id < first_op:
            continue
        st = stats.get((s.op_id, "exec"))
        lo, hi = tracer.epoch + s.start, tracer.epoch + s.end
        submitted = (st.job_submit_ms or []) if st is not None else []
        inside = [t / 1e3 for t in submitted if lo - _CLOCK_SLACK_S <= t / 1e3 <= hi + _CLOCK_SLACK_S]
        p = min(max(min(inside) - lo, 0.0), hi - lo) if inside else 0.0
        plan += p
        execute += (hi - lo) - p
    return plan, execute
