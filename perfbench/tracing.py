"""The traced run: spans around each layer's entry points, Spark's event
log, and streaming progress, folded into per-layer metrics.

Nothing here changes the package.  Spans are recorded from outside, by
wrapping the names the ``runner`` module calls (``probe_header``,
``rule_csv_parser_verdict``, ``write_failures_parquet``) and
``ValidationRunner.validate_csv`` itself; registry ops open their
``queries.build`` / ``queries.execute`` spans in the benchmark's own loop.
While a span is open its name is set as a Spark local property, so every
job it submits carries the name into the event log.  Each op is tagged
with ``setJobGroup``.  The event log is written uncompressed and unrolled
(Spark 4 compresses and rolls it by default) and parsed after the session
stops.  Streaming progress comes from a Python ``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

SPAN_PROPERTY = "perfbench.span"

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    info: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory; ``span`` also tags the jobs it submits."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, time.perf_counter(), parent=parent)
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, self.spans[self._stack[-1]].name if self._stack else None
            )

    @contextlib.contextmanager
    def op_scope(self, op_id: str, name: str):
        self.sc.setJobGroup(op_id, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - c
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)


@contextlib.contextmanager
def layer_wrappers(tracer: Tracer):
    """Wrap the layer entry points the runner calls; restore on exit."""
    from big_data_validator_spark import runner as runner_mod
    from big_data_validator_spark.operators import rules as rules_mod

    orig_probe = runner_mod.probe_header
    orig_verdict = rules_mod.rule_csv_parser_verdict
    orig_write = runner_mod.write_failures_parquet
    orig_validate = runner_mod.ValidationRunner.validate_csv

    def probe_header(*a, **k):
        with tracer.span("sources.probe_header"):
            return orig_probe(*a, **k)

    def rule_csv_parser_verdict(*a, **k):
        with tracer.span("operators.rules.escalation") as s:
            verdict, bad = orig_verdict(*a, **k)
            s.info["useful"] = not verdict.passed
            return verdict, bad

    def write_failures_parquet(df, output_path, *a, **k):
        with tracer.span("sinks.write") as s:
            orig_write(df, output_path, *a, **k)
        files = glob.glob(os.path.join(output_path, "**", "*.parquet"), recursive=True)
        s.info["files"] = len(files)
        s.info["bytes"] = sum(os.path.getsize(f) for f in files)

    def validate_csv(self, *a, **k):
        with tracer.span("runner"):
            return orig_validate(self, *a, **k)

    runner_mod.probe_header = probe_header
    rules_mod.rule_csv_parser_verdict = rule_csv_parser_verdict
    runner_mod.write_failures_parquet = write_failures_parquet
    runner_mod.ValidationRunner.validate_csv = validate_csv
    try:
        yield
    finally:
        runner_mod.probe_header = orig_probe
        rules_mod.rule_csv_parser_verdict = orig_verdict
        runner_mod.write_failures_parquet = orig_write
        runner_mod.ValidationRunner.validate_csv = orig_validate


class StreamProgress:
    """Collects every micro-batch's progress from a Python listener."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with sink._lock:
                    sink.batches.append(
                        {"batch_ms": p.batchDuration, "phases": dict(p.durationMs)}
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def metrics(self, passes: int) -> dict[str, float]:
        b = self.batches
        out = {
            "streaming.triggers": len(b) / passes,
            "streaming.trigger_s": sum(x["phases"].get("triggerExecution", 0) for x in b)
            / 1000
            / passes,
            "streaming.batch_p50_s": statistics.median([x["batch_ms"] for x in b]) / 1000
            if b
            else 0.0,
        }
        for ph in STREAM_PHASES:
            out[f"streaming.{ph}_s"] = sum(x["phases"].get(ph, 0) for x in b) / 1000 / passes
        return out


def wait_for_listeners(sc) -> None:
    """Block until the listener bus has delivered every queued event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


# --------------------------------------------------------------- event log


@dataclass
class JobRec:
    group: Optional[str]
    span: Optional[str]
    start: float
    end: float = 0.0


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    in_jobs_s: float = 0.0
    span_jobs: dict = field(default_factory=dict)
    span_records_written: dict = field(default_factory=dict)


def find_event_log(log_dir: str, app_id: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, f"{app_id}*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log for {app_id} in {log_dir}: {paths}")
    return paths[0]


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals (job spans overlap; never sum)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(path: str) -> dict[str, GroupStats]:
    """Per job group (one op each): jobs, stages, tasks, task and GC
    seconds, shuffle bytes written, the union of job intervals, and jobs
    and records written per span."""
    jobs: dict[int, JobRec] = {}
    stage_props: dict[int, tuple[Optional[str], Optional[str]]] = {}
    groups: dict[str, GroupStats] = {}

    def group(g):
        return groups.setdefault(g, GroupStats())

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = JobRec(
                    props.get("spark.jobGroup.id"),
                    props.get(SPAN_PROPERTY),
                    ev["Submission Time"] / 1000,
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                g = props.get("spark.jobGroup.id")
                stage_props[sid] = (g, props.get(SPAN_PROPERTY))
                if g is not None:
                    group(g).stages += 1
            elif kind == "SparkListenerTaskEnd":
                g, span = stage_props.get(ev["Stage ID"], (None, None))
                if g is None:
                    continue
                gs = group(g)
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                gs.tasks += 1
                gs.task_s += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
                gs.gc_s += m.get("JVM GC Time", 0) / 1000
                gs.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                written = (m.get("Output Metrics") or {}).get("Records Written", 0)
                gs.span_records_written[span] = gs.span_records_written.get(span, 0) + written
    intervals: dict[str, list[tuple[float, float]]] = {}
    for j in jobs.values():
        if j.group is None:
            continue
        gs = group(j.group)
        gs.jobs += 1
        gs.span_jobs[j.span] = gs.span_jobs.get(j.span, 0) + 1
        intervals.setdefault(j.group, []).append((j.start, j.end or j.start))
    for g, iv in intervals.items():
        groups[g].in_jobs_s = union_length(iv)
    return groups


def layer_metrics(
    tracer: Tracer,
    groups: dict[str, GroupStats],
    op_walls: dict[str, float],
    passes: int,
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics per pass of the workload."""
    selfs = tracer.self_times()
    out: dict[str, float] = {}

    def jobs_in(span: str) -> int:
        return sum(g.span_jobs.get(span, 0) for g in groups.values())

    out["sources.probe_header_s"] = tracer.total("sources.probe_header")
    out["sources.probe_header_jobs"] = jobs_in("sources.probe_header")
    out["runner.self_s"] = selfs.get("runner", 0.0)
    out["runner.jobs"] = jobs_in("runner")
    esc = [s for s in tracer.spans if s.name == "operators.rules.escalation"]
    out["operators.rules.escalation_s"] = sum(s.end - s.start for s in esc)
    out["operators.rules.escalations"] = len(esc)
    sinks = [s for s in tracer.spans if s.name == "sinks.write"]
    out["sinks.write_s"] = sum(s.end - s.start for s in sinks)
    out["sinks.rows"] = sum(g.span_records_written.get("sinks.write", 0) for g in groups.values())
    out["sinks.bytes_written"] = sum(s.info.get("bytes", 0) for s in sinks)
    out["sinks.files"] = sum(s.info.get("files", 0) for s in sinks)
    for part in ("build", "execute"):
        out[f"queries.{part}_s"] = tracer.total(f"queries.{part}")
        out[f"queries.{part}_jobs"] = jobs_in(f"queries.{part}")
    gs = list(groups.values())
    wall = sum(op_walls.values())
    in_jobs = sum(g.in_jobs_s for g in gs)
    task_s = sum(g.task_s for g in gs)
    out["spark.jobs"] = sum(g.jobs for g in gs)
    out["spark.stages"] = sum(g.stages for g in gs)
    out["spark.tasks"] = sum(g.tasks for g in gs)
    out["spark.in_jobs_s"] = in_jobs
    out["spark.driver_only_s"] = wall - in_jobs
    out["spark.task_s"] = task_s
    out["spark.shuffle_bytes"] = sum(g.shuffle_bytes for g in gs)
    out["spark.gc_s"] = sum(g.gc_s for g in gs)
    out = {k: v / passes for k, v in out.items()}
    # Ratios, not per-pass amounts.
    out["spark.core_util"] = task_s / wall / cores if wall else 0.0
    out["operators.rules.escalation_useful_ratio"] = (
        sum(1 for s in esc if s.info.get("useful")) / len(esc) if esc else 0.0
    )
    return out


def per_op_breakdown(
    groups: dict[str, GroupStats], op_walls: dict[str, float], op_names: dict[str, str], cores: int
) -> dict[str, dict]:
    """Median over passes of each op's Spark accounting, keyed by op name."""
    rows: dict[str, list[dict]] = {}
    for gid, wall in op_walls.items():
        g = groups.get(gid, GroupStats())
        rows.setdefault(op_names[gid], []).append(
            {
                "wall_s": wall,
                "jobs": g.jobs,
                "stages": g.stages,
                "tasks": g.tasks,
                "in_jobs_s": g.in_jobs_s,
                "driver_only_s": wall - g.in_jobs_s,
                "task_s": g.task_s,
                "core_util": g.task_s / wall / cores if wall else 0.0,
                "shuffle_bytes": g.shuffle_bytes,
                "gc_s": g.gc_s,
            }
        )
    return {
        name: {k: round(statistics.median(r[k] for r in rs), 4) for k in rs[0]}
        for name, rs in rows.items()
    }
