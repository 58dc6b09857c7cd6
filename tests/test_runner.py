"""End-to-end validation runs replaying the reference's fixture behaviors
(FIXTURES.md §A): pass case, column-typo fail case, type-enforcement case,
escalation on unbalanced quotes, failure sink on genuinely bad rows."""

from __future__ import annotations

import contextlib

import pytest

from big_data_validator_spark.contract import ColumnSpec, TableContract
from big_data_validator_spark.report import ValidationError
from big_data_validator_spark.runner import RunnerConfig, ValidationRunner


def make_contract(**kw):
    defaults = dict(
        columns=[
            ColumnSpec("ID", "VARCHAR2"),
            ColumnSpec("NAME", "VARCHAR2"),
            ColumnSpec("SURNAME", "VARCHAR2"),
            ColumnSpec("BIRTH_DATE", "DATE", "d/M/yyyy"),
        ],
        field_separator="|",
        string_separator='""""',
    )
    defaults.update(kw)
    return TableContract(**defaults)


def test_pass_case_with_escalation_embedded_newline(spark, tmp_path):
    """An embedded newline inside a quoted field splits the raw line scan
    into two short lines (count mismatch), but the multiLine CSV parser
    accepts it → overall pass via escalation (reference fallback
    big_data_validator.py:198-205; docstring :119-122 names exactly this
    case as the reason the fallback exists)."""
    p = tmp_path / "PERSON.csv"
    p.write_text(
        '"ID"|"NAME"|"SURNAME"|"BIRTH_DATE"\n'
        '"1001"|"Ada"|"Lovelace"|"10/12/1815"\n'
        '"1002"|"Multi\nline"|"Turner"|"23/1/2002"\n'
    )
    contract = make_contract(
        columns=[
            ColumnSpec("ID"),
            ColumnSpec("NAME"),
            ColumnSpec("SURNAME"),
            ColumnSpec("BIRTH_DATE"),
        ]
    )
    report = ValidationRunner(spark).validate_csv("PERSON", str(p), contract)
    assert report.ok, report.to_json()
    by_rule = {r.rule: r for r in report.results}
    assert by_rule["column_names"].passed
    assert by_rule["field_count_quoted"].passed
    assert by_rule["field_count_quoted"].details.get("escalated") is True


def test_unbalanced_quote_fails_via_csv_parser(spark, person_csv, tmp_path):
    """The unbalanced-quote fixture row miscounts (3≠4) AND is rejected by
    the CSV parser (the stray quote glues SURNAME to the rest of the line,
    leaving BIRTH_DATE unset) → validation fails and the bad row lands in
    the parquet failure sink."""
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("PERSON", person_csv, make_contract())
    assert not report.ok
    by_rule = {r.rule: r for r in report.results}
    assert by_rule["field_count_quoted"].details.get("escalated") is True
    assert report.failure_sink_path is not None
    sunk = spark.read.parquet(report.failure_sink_path)
    assert sunk.count() == 1


def test_column_typo_fails(spark, person_csv):
    """Expected column BIRH_DATE (typo) absent from header → names rule
    fails (superset semantics, reference :53-74)."""
    contract = make_contract(
        columns=[
            ColumnSpec("ID"),
            ColumnSpec("NAME"),
            ColumnSpec("SURNAME"),
            ColumnSpec("BIRH_DATE"),
        ]
    )
    report = ValidationRunner(spark).validate_csv("PERSON", person_csv, contract)
    assert not report.ok
    names = {r.rule: r for r in report.results}["column_names"]
    assert names.details["missing"] == ["BIRH_DATE"]
    with pytest.raises(ValidationError):
        report.raise_on_failure()


def test_extra_actual_columns_pass(spark, tmp_path):
    """Superset tolerance: extra actual columns pass silently."""
    p = tmp_path / "T.csv"
    p.write_text("A|B|C\n1|2|3\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B")], field_separator="|"
    )
    report = ValidationRunner(spark).validate_csv("T", str(p), contract)
    names = {r.rule: r for r in report.results}["column_names"]
    assert names.passed
    assert names.details["additional"] == ["C"]


def test_bad_arity_writes_failure_sink(spark, tmp_path):
    """A row with a genuinely wrong field count fails both the line rule and
    the CSV parser; bad rows land in the parquet sink."""
    p = tmp_path / "BAD.csv"
    p.write_text("A|B|C\n1|2|3\n1|2\n4|5|6\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("BAD", str(p), contract)
    assert not report.ok
    assert report.failure_sink_path is not None
    sunk = spark.read.parquet(report.failure_sink_path)
    assert sunk.count() == 1  # the arity-2 row


def test_failure_sink_partitioned_by_contract_column(spark, tmp_path):
    """failure_partition_by lays the sink out as <col>=<value>/ directories
    (partition pruning for triage); columns absent from the failing rows
    are ignored rather than failing the run."""
    import os

    p = tmp_path / "BADP.csv"
    p.write_text("A|B|C\n1|x|3\n1|x\n4|y\n5|z|6\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(
        spark,
        RunnerConfig(
            failure_base_dir=str(tmp_path / "sink"),
            failure_partition_by=("B", "NOT_A_COLUMN"),
        ),
    )
    report = runner.validate_csv("BADP", str(p), contract)
    assert not report.ok
    sunk = spark.read.parquet(report.failure_sink_path)
    assert sunk.count() == 2  # the two arity-2 rows
    subdirs = {
        d for d in os.listdir(report.failure_sink_path) if d.startswith("B=")
    }
    assert subdirs == {"B=x", "B=y"}


def test_naive_branch_without_string_separator(spark, tmp_path):
    """No StringSeparator in the contract → naive count branch
    (reference :273-278)."""
    p = tmp_path / "N.csv"
    p.write_text("A,B\n1,2\n3,4\n")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B")],
        field_separator=",",
        string_separator=None,
    )
    report = ValidationRunner(spark).validate_csv("N", str(p), contract)
    assert report.ok
    assert {r.rule for r in report.results} >= {"column_names", "field_count_naive"}


def test_type_enforcement_flags_bad_values(spark, tmp_path):
    """P2: NUMBER/DATE/NOT-NULL declarations are enforced (the reference
    declares them but never checks — SURVEY §1)."""
    p = tmp_path / "TYPES.csv"
    p.write_text(
        "ID|AMOUNT|DAY\n"
        "1|3,14|31/12/2020\n"
        "x|bad|99/99/9999\n"
        "|2,5|1/1/2021\n"
    )
    contract = TableContract(
        columns=[
            ColumnSpec("ID", "NUMBER", nullable=False),
            ColumnSpec("AMOUNT", "NUMBER"),
            ColumnSpec("DAY", "DATE", "d/M/yyyy"),
        ],
        field_separator="|",
        decimal_separator=",",
    )
    report = ValidationRunner(spark).validate_csv("TYPES", str(p), contract)
    te = {r.rule: r for r in report.results}["type_enforcement"]
    assert not te.passed
    per = te.details["per_column"]
    assert per["ID"] == 2      # 'x' not a number, '' violates NOT NULL
    assert per["AMOUNT"] == 1  # 'bad'
    assert per["DAY"] == 1     # 99/99/9999


# ---------------------------------------------------------------- job budget


@contextlib.contextmanager
def job_group(spark, group):
    """Tag every job started inside the block; yields a job counter."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)

    def n_jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield n_jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name, body, n_jobs, ok",
    [
        # header probe + the fused line/parse job
        ("CLEAN", '"1"|"Ada"|"Lovelace"|"10/12/1815"\n', 2, True),
        # the fused job's observed corrupt count clears the escalation
        ("NEWLINE", '"1"|"Multi\nline"|"Turner"|"23/1/2002"\n', 2, True),
        # ... plus the failure-sink write from the cached bad rows
        ("RAGGED", '"1"|"Ada"|"Lovelace"|"10/12/1815"\n"2"|"Bob"\n', 3, False),
    ],
    ids=["clean", "newline-clears", "ragged-sinks"],
)
def test_validate_csv_job_budget(spark, tmp_path, name, body, n_jobs, ok):
    p = tmp_path / f"{name}.csv"
    p.write_text('"ID"|"NAME"|"SURNAME"|"BIRTH_DATE"\n' + body)
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    spark.catalog.clearCache()
    with job_group(spark, f"job-budget-{name}") as jobs:
        report = runner.validate_csv(name, str(p), make_contract())
        assert jobs() == n_jobs
    assert report.ok is ok, report.to_json()
    assert (report.failure_sink_path is not None) is (not ok)
    assert cache_is_empty(spark)


def test_cache_released_when_sink_write_raises(spark, tmp_path):
    """A failure_base_dir that is a regular file makes the sink write fail;
    the cached bad rows must still be released."""
    p = tmp_path / "BAD.csv"
    p.write_text("A|B|C\n1|2|3\n1|2\n")
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(spark, RunnerConfig(failure_base_dir=str(blocker)))
    spark.catalog.clearCache()
    with pytest.raises(Exception):
        runner.validate_csv("BAD", str(p), contract)
    assert cache_is_empty(spark)


# ------------------------------------------- semantics on the fused job's paths


def test_trailing_unnamed_column_passes_field_count(spark, tmp_path):
    """A header ending in the delimiter names a trailing "" column; rows
    without the trailing delimiter miscount, and the reference's hotfix
    passes them (big_data_validator.py:150-158)."""
    p = tmp_path / "TRAIL.csv"
    p.write_text("A|B|C|\n1|2|3|\n4|5|6\n")
    contract = TableContract(
        columns=[ColumnSpec("A", "NUMBER"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator="|",
    )
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("TRAIL", str(p), contract)
    assert report.ok, report.to_json()
    fc = {r.rule: r for r in report.results}["field_count_naive"]
    assert fc.details["escalated"] is True
    assert fc.violation_count == 0
    assert report.failure_sink_path is None
    assert not (tmp_path / "sink").exists()
    assert cache_is_empty(spark)


def _ragged(tmp_path):
    p = tmp_path / "RAG.csv"
    p.write_text("A|B|C\n1|x|3\n1|2\n4|5|6\n7|8\n")
    return str(p)


def test_enforce_types_off_matches_default_verdict_and_sink(spark, tmp_path):
    """enforce_types=False takes the lazy path (line job, then the parse on
    mismatch) and must give the same field-count verdict and sink rows as
    the fused path."""
    csv = _ragged(tmp_path)
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B", "NUMBER"), ColumnSpec("C")],
        field_separator="|",
    )
    reports, sinks = {}, {}
    for enforce in (True, False):
        runner = ValidationRunner(
            spark,
            RunnerConfig(
                enforce_types=enforce, failure_base_dir=str(tmp_path / f"s{enforce}")
            ),
        )
        rep = runner.validate_csv("RAG", csv, contract)
        reports[enforce] = {r.rule: r for r in rep.results}
        sinks[enforce] = sorted(
            tuple(r) for r in spark.read.parquet(rep.failure_sink_path).collect()
        )
        assert cache_is_empty(spark)
    assert "type_enforcement" not in reports[False]
    assert reports[True]["type_enforcement"].details["per_column"] == {"A": 0, "B": 1, "C": 0}
    on, off = reports[True]["field_count_naive"], reports[False]["field_count_naive"]
    assert (on.passed, on.violation_count, on.details) == (
        off.passed,
        off.violation_count,
        off.details,
    )
    assert not off.passed and off.violation_count == 2
    assert off.details["escalated"] is True
    assert sinks[True] == sinks[False]
    assert [r[0] for r in sinks[False]] == ["1", "7"]


def test_names_failure_on_ragged_file_still_escalates_and_sinks(spark, tmp_path):
    """A names-rule failure skips type enforcement (lazy path) but the
    field-count escalation and the sink still run."""
    csv = _ragged(tmp_path)
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("MISSING", "NUMBER")],
        field_separator="|",
    )
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("RAG", csv, contract)
    by_rule = {r.rule: r for r in report.results}
    assert set(by_rule) == {"column_names", "field_count_naive"}
    assert by_rule["column_names"].details["missing"] == ["MISSING"]
    fc = by_rule["field_count_naive"]
    assert not fc.passed and fc.details["escalated"] is True
    assert spark.read.parquet(report.failure_sink_path).count() == 2
    assert cache_is_empty(spark)


def test_naive_count_pass_ignores_parser_corrupt_rows(spark, tmp_path):
    """Without a string separator every line below has the right naive
    field count, yet Spark's CSV parser flags a record (the stray quote).
    The parser only decides when the line rule failed, so this passes and
    no sink is written — even though the fused job parsed the file."""
    p = tmp_path / "STRAY.csv"
    p.write_text('A,B,C\n1,"x,3\n4,5,6\n')
    contract = TableContract(
        columns=[ColumnSpec("A"), ColumnSpec("B"), ColumnSpec("C")],
        field_separator=",",
        string_separator=None,
    )
    runner = ValidationRunner(
        spark, RunnerConfig(failure_base_dir=str(tmp_path / "sink"))
    )
    report = runner.validate_csv("STRAY", str(p), contract)
    assert report.ok, report.to_json()
    fc = {r.rule: r for r in report.results}["field_count_naive"]
    assert fc.passed and "escalated" not in fc.details
    assert report.failure_sink_path is None
    assert not (tmp_path / "sink").exists()
    assert cache_is_empty(spark)
