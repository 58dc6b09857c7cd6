"""Tests of the benchmark itself: the generator's recorded expectations, the
output checks (a wrong verdict, count or sink row set must count as a
failed op), the trace accounting and the comparison guard.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import csv
import json
import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import csvgen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _records(path: str) -> list[list[str]]:
    with open(path, newline="") as fh:
        return list(csv.reader(fh, delimiter="|", quotechar='"'))


@pytest.mark.parametrize("kind", ["clean", "ragged", "newline", "types"])
def test_generator_expectations_match_an_independent_parse(tmp_path, kind):
    t = csvgen.generate_table(random.Random(7), str(tmp_path), "T", 3_000, 8, kind)
    exp = t.expected
    header, *rows = _records(t.csv_path)
    assert header == [c[0] for c in csvgen.COLUMN_POOL[:8]]
    assert len(rows) == t.rows
    ragged = [r for r in rows if len(r) != len(header)]
    assert len(ragged) == exp.line_violations
    assert [r[0] for r in ragged] == exp.sink_ids
    with open(t.csv_path) as fh:
        assert sum(1 for _ in fh) == exp.lines
    assert exp.escalated == (kind in ("ragged", "newline"))
    assert exp.reparse_clears == (kind == "newline")
    # Recount type violations on the well-formed rows.
    counts = {c: 0 for c in header}
    for r in rows:
        if len(r) != len(header):
            continue
        for (name, ctype, _), v in zip(csvgen.COLUMN_POOL, r):
            if ctype == "NUMBER":
                try:
                    float(v)
                except ValueError:
                    counts[name] += 1
            elif ctype == "DATE":
                d, _, rest = v.partition("/")
                m, _, y = rest.partition("/")
                if not (len(d) == 2 and len(m) == 2 and len(y) == 4 and (d + m + y).isdigit()):
                    counts[name] += 1
    assert counts == exp.type_violations
    assert (sum(counts.values()) > 0) == (kind != "clean")


def test_same_seed_same_inputs(tmp_path):
    a = csvgen.generate(3, str(tmp_path / "a"), dirty=True)
    b = csvgen.generate(3, str(tmp_path / "b"), dirty=True)
    for x, y in zip(a, b):
        assert open(x.csv_path).read() == open(y.csv_path).read()
        assert x.expected == y.expected


def _correct_report(exp: csvgen.Expected) -> dict:
    total = sum(exp.type_violations.values())
    line_details = {"lines": exp.lines, "expected_arity": 4}
    if exp.escalated:
        line_details["escalated"] = True
    return {
        "table": "T",
        "ok": exp.line_passed and total == 0,
        "failure_sink_path": "/sink/T_TMP/" if exp.writes_sink else None,
        "results": [
            {"rule": "column_names", "passed": True, "violation_count": 0, "details": {}},
            {
                "rule": "field_count_quoted",
                "passed": exp.line_passed,
                "violation_count": exp.line_violations,
                "details": line_details,
            },
            {
                "rule": "type_enforcement",
                "passed": total == 0,
                "violation_count": total,
                "details": {"per_column": dict(exp.type_violations)},
            },
        ],
    }


EXP = csvgen.Expected(
    lines=101,
    line_violations=2,
    line_passed=False,
    escalated=True,
    reparse_clears=False,
    type_violations={"ID": 0, "AMOUNT": 3},
    sink_ids=["5", "17"],
)


def _fail_ratio(problems: list[str]) -> float:
    tally = run.Tally()
    tally.record("ok-op", [])
    tally.record("checked-op", problems)
    return tally.fail_ratio


def test_correct_report_passes():
    assert workloads.check_report(_correct_report(EXP), EXP) == []
    assert workloads.check_sink_ids(["17", "5"], EXP) == []
    assert _fail_ratio([]) == 0.0


def _line_rule(report: dict) -> dict:
    return report["results"][1]


@pytest.mark.parametrize(
    "tamper",
    [
        lambda r: _line_rule(r).update(passed=True),  # wrong verdict
        lambda r: r.update(ok=True),  # wrong overall verdict
        lambda r: _line_rule(r).update(violation_count=3),  # wrong line count
        lambda r: _line_rule(r)["details"].pop("escalated"),  # re-parse skipped
        lambda r: r["results"][2]["details"]["per_column"].update(AMOUNT=2),  # wrong type count
        lambda r: r.update(failure_sink_path=None),  # sink not written
    ],
)
def test_wrong_report_raises_fail_ratio(tamper):
    report = copy.deepcopy(_correct_report(EXP))
    tamper(report)
    problems = workloads.check_report(report, EXP)
    assert problems
    assert _fail_ratio(problems) == 0.5


@pytest.mark.parametrize("ids", [["5"], ["5", "17", "18"], ["5", "5", "17"], ["5", "18"]])
def test_wrong_sink_rows_raise_fail_ratio(ids):
    problems = workloads.check_sink_ids(ids, EXP)
    assert problems
    assert _fail_ratio(problems) == 0.5


def test_oracle_comparison_is_order_insensitive_and_strict():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.25)]
    assert workloads.compare_to_oracle(cols, rows, ["V", "K"], [(1.25, 2), (0.5, 1)]) == []
    assert workloads.compare_to_oracle(cols, rows, cols, [(1, 0.5), (2, 1.26)])
    assert workloads.compare_to_oracle(cols, rows, cols, rows[:1])
    assert workloads.compare_to_oracle(cols, rows, ["k", "w"], rows)


def test_quantiles_are_harrell_davis_estimates():
    vals = [float(i) for i in range(1, 21)]
    s = run.summarize([("a", v) for v in vals], rows=0)
    assert s["op_p50_s"] == pytest.approx(10.5, abs=1e-3)  # symmetric sample
    assert 17.0 < s["op_tail_s"] < 19.0
    assert s["ops_per_s"] == pytest.approx(20 / 210)
    # A smooth estimate: moving one sample across the middle moves the
    # median a little, not by the gap between neighbours.
    moved = sorted(vals[:9] + [10.9] + vals[10:])
    assert 0 < run.hd_quantile(moved, 0.5) - run.hd_quantile(vals, 0.5) < 0.2
    assert run.hd_quantile([3.0], 0.9) == 3.0


def test_union_length_does_not_double_count_overlaps():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([]) == 0


class _FakeSc:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def setJobGroup(self, g, d):
        self.props["spark.jobGroup.id"] = g


def test_self_time_subtracts_children_and_restores_span_property():
    sc = _FakeSc()
    tr = tracing.Tracer(sc)
    with tr.span("runner") as outer:
        with tr.span("sources.probe_header") as inner:
            assert sc.props[tracing.SPAN_PROPERTY] == "sources.probe_header"
        assert sc.props[tracing.SPAN_PROPERTY] == "runner"
    assert sc.props[tracing.SPAN_PROPERTY] is None
    selfs = tr.self_times()
    inner_d = inner.end - inner.start
    assert selfs["runner"] == pytest.approx(outer.end - outer.start - inner_d)
    assert selfs["sources.probe_header"] == pytest.approx(inner_d)


def test_event_log_parse(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "op0", tracing.SPAN_PROPERTY: "runner"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "op0", tracing.SPAN_PROPERTY: "runner"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Properties": {"spark.jobGroup.id": "op0", tracing.SPAN_PROPERTY: "sinks.write"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "op0", tracing.SPAN_PROPERTY: "sinks.write"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1400},
         "Task Metrics": {"JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1500, "Finish Time": 1700},
         "Task Metrics": {"Output Metrics": {"Records Written": 9, "Bytes Written": 10}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 3000,
         "Properties": {}},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = tracing.parse_event_log(str(path))["op0"]
    assert (g.jobs, g.stages, g.tasks) == (2, 2, 2)
    assert g.in_jobs_s == pytest.approx(1.0)
    assert g.task_s == pytest.approx(0.6)
    assert g.gc_s == pytest.approx(0.1)
    assert g.shuffle_bytes == 64
    assert g.span_jobs == {"runner": 1, "sinks.write": 1}
    assert g.span_records_written["sinks.write"] == 9


def _rec(workload="csv_clean", **cond):
    c = {"cores": 4, "master": "local[4]", "sf": None, "seconds": 8}
    c.update(cond)
    return {"workload": workload, "conditions": c,
            "metrics": {"op_p50_s": {"value": 1.0, "unit": "s"}}}


def test_compare_refuses_different_cores_or_scale(tmp_path):
    assert compare.check_comparable([_rec()], [_rec()]) == []
    assert compare.check_comparable([_rec()], [_rec(cores=8, master="local[8]")])
    assert compare.check_comparable(
        [_rec("registry_batch", sf="sf0.01")], [_rec("registry_batch", sf="sf0.1")]
    )
    base, new = tmp_path / "b.jsonl", tmp_path / "n.jsonl"
    base.write_text("noise\n" + json.dumps({"perfbench_record": _rec()}) + "\n")
    new.write_text(json.dumps({"perfbench_record": _rec(cores=8)}) + "\n")
    assert compare.main([str(base), str(new)]) == 2
    new.write_text(json.dumps({"perfbench_record": _rec()}) + "\n")
    assert compare.main([str(base), str(new)]) == 0


def test_validate_csv_meets_the_recorded_expectations(tmp_path):
    """The generator's expectations agree with the engine on every defect
    kind, and a tampered expectation is caught."""
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from pyspark.sql import SparkSession

    from big_data_validator_spark import TableContract, ValidationRunner

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    rng = random.Random(11)
    try:
        for kind in ("clean", "ragged", "newline", "types"):
            t = csvgen.generate_table(rng, str(tmp_path), f"T_{kind}", 1_500, 6, kind)
            report = ValidationRunner(spark).validate_csv(
                t.name, t.csv_path, TableContract.from_metadata_csv(t.meta_path)
            )
            assert workloads.check_report(report.to_dict(), t.expected) == [], kind
            if t.expected.writes_sink:
                sink = spark.read.parquet(report.failure_sink_path)
                ids = [r[0] for r in sink.select("ID").collect()]
                assert workloads.check_sink_ids(ids, t.expected) == []
                assert workloads.check_sink_ids(ids[1:], t.expected)
            wrong = copy.deepcopy(t.expected)
            wrong.type_violations["AMOUNT"] += 1
            assert workloads.check_report(report.to_dict(), wrong)
    finally:
        spark.stop()


def _sleep_ops(n):
    import time

    return [workloads.Op(f"op{i}", lambda spark, span: time.sleep(0.02), lambda spark, out: [])
            for i in range(n)]


def test_disturbed_pass_is_replaced_but_its_ops_still_count(monkeypatch):
    """A pass during which steal exceeds the limit is left out once a
    clean pass covers the run; every op run is still attempted and checked."""
    steal = iter([0.0, 1e6, 1e6, 1e6])  # the first pass disturbed, the second clean
    monkeypatch.setattr(run, "cpu_steal_s", lambda: next(steal))
    monkeypatch.setattr(run, "STEAL_WAIT", 3)  # room for a second pass
    wl = workloads.Workload(ops=_sleep_ops(3), warm=[])
    tally = run.Tally()
    ph = run.timed_passes(None, wl, 0.05, random.Random(1), tally, run.no_span)
    assert len(ph.dropped) == 1 and ph.steal == [0.0]
    assert ph.passes == 1 and len(ph.samples) == 3
    assert tally.attempted == 6 and tally.failed == 0


def test_least_disturbed_passes_are_kept_when_the_host_stays_busy(monkeypatch):
    """When no pass is clean, the phase stops after ``STEAL_WAIT`` times
    ``seconds`` and keeps the passes with the least steal."""
    steal = iter([0.0, 2e6, 2e6, 3e6, 3e6, 6e6])  # shares rank 2nd, 1st, 3rd
    monkeypatch.setattr(run, "cpu_steal_s", lambda: next(steal))
    monkeypatch.setattr(run, "STEAL_WAIT", 3)  # three passes of 0.06 s
    wl = workloads.Workload(ops=_sleep_ops(3), warm=[])
    tally = run.Tally()
    ph = run.timed_passes(None, wl, 0.05, random.Random(1), tally, run.no_span)
    assert ph.passes == 1 and len(ph.dropped) == 2
    assert ph.steal[0] < min(ph.dropped)
    assert tally.attempted == 9


def test_traced_phase_keeps_every_pass(monkeypatch):
    steal = iter([0.0, 1e6, 1e6, 2e6])
    monkeypatch.setattr(run, "cpu_steal_s", lambda: next(steal))
    wl = workloads.Workload(ops=_sleep_ops(3), warm=[])
    ph = run.timed_passes(None, wl, 0.1, random.Random(1), run.Tally(), run.no_span, select=False)
    assert ph.passes == 2 and not ph.dropped and len(ph.walls) == 6
