"""Validation runner: contract → rules → observed metrics → failure sink.

End-to-end equivalent of the reference CLI
(``spark-submit big_data_validator.py <TABLE>`` →
``BigDataValidator.validation_main``, ``big_data_validator.py:283-297``),
re-planned for Spark:

reference physical plan (per SURVEY.md §3): up to ~5 separate jobs, each
rescanning the file — ``first()`` for the header, a full RDD ``count()``
through a Python lambda for the field-count rule, then on mismatch a CSV
read + ``head(1)`` + parquet write.

this runner: two Spark jobs per table, three when the failure sink writes.

1. the one-row header probe;
2. one fused ``noop`` write over the union of two views: the text-line
   scan, observing the line count and the field-count mismatches, and the
   PERMISSIVE CSV parse, observing the per-column type-violation sums and
   the corrupt-record count, filtered to corrupt rows and cached.  Each CSV
   is parsed once; the parser's task runs beside the line-scan tasks, and
   the global aggregates ride ``Observation``s, so there is no shuffle;
3. only when the line rule fails and the parser confirms it: the failure
   sink, written from the cached bad rows.

The corrupt count decides the verdict only when the line rule failed.  When
no parse is needed up front (types not enforced, names rule failed, or a
contract without columns) it stays lazy: the line job runs alone and the
parse follows only on a mismatch.  No RDDs, no Python row lambdas, nothing
collected but scalar counters.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from big_data_validator_spark.contract import CORRUPT_RECORD_COL, TableContract
from big_data_validator_spark.operators import rules as R
from big_data_validator_spark.operators.typed import contract_violation_exprs
from big_data_validator_spark.report import RuleResult, ValidationReport
from big_data_validator_spark.sinks import default_failure_path, write_failures_parquet
from big_data_validator_spark.sources.csv_source import (
    probe_header,
    scan_csv_permissive,
    scan_text_lines,
)


@dataclass
class RunnerConfig:
    enforce_types: bool = True  # SURVEY §7 P2 (reference declares, never checks)
    write_failures: bool = True
    failure_base_dir: Optional[str] = None  # default: alongside the input
    # 100 TB sink hygiene (SURVEY §4): partition the failure sink by these
    # contract columns (e.g. a date column) so downstream triage prunes
    # partitions instead of scanning every failure ever written.  Columns
    # not present in the failing rows are ignored rather than erroring —
    # the sink must never be the reason a validation run dies.
    failure_partition_by: Optional[tuple[str, ...]] = None


class ValidationRunner:
    """Runs a contract's rules against one delimited-text table."""

    def __init__(self, spark: SparkSession, config: Optional[RunnerConfig] = None):
        self.spark = spark
        self.config = config or RunnerConfig()

    # ------------------------------------------------------------------ API

    def validate_csv(
        self, table: str, csv_path: str, contract: TableContract
    ) -> ValidationReport:
        report = ValidationReport(table=table)

        # 1. header probe (one-row job) + column-name rule (driver-side).
        actual_columns = probe_header(self.spark, csv_path, contract)
        name_result = R.rule_column_names(actual_columns, contract)
        report.add(name_result)

        # 2. line-level field-count rule, observed on the line scan.
        #    The reference counts the header line too (its RDD includes it,
        #    big_data_validator.py:191) — the header has the actual arity by
        #    construction, so we preserve behavior by comparing against the
        #    actual header arity, not the contract arity.
        mismatch = R.field_count_violation_expr(
            F.col("value"), contract, expected_arity=len(actual_columns)
        )
        line_obs = Observation()
        lines = scan_text_lines(self.spark, csv_path).observe(
            line_obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(mismatch.cast("long")).alias("bad"),
        )

        # Type enforcement needs the parse anyway (and only makes sense when
        # the names rule passed), so the parse rides the line scan's job.
        # Otherwise it stays lazy: parsed only if the line rule fails.
        check_types = (
            self.config.enforce_types and name_result.passed and bool(contract.columns)
        )
        bad: Optional[DataFrame] = None
        try:
            if check_types:
                bad, parse_obs = _observed_parse(
                    self.spark, csv_path, contract, actual_columns
                )
                _run_observed(lines, bad)
            else:
                _run_observed(lines)
            n_lines, n_mismatch = line_obs.get["n"], line_obs.get["bad"] or 0
            count_rule = (
                "field_count_quoted" if contract.string_separator else "field_count_naive"
            )
            line_result = RuleResult(
                rule=count_rule,
                passed=n_mismatch == 0,
                violation_count=int(n_mismatch),
                details={"lines": n_lines, "expected_arity": len(actual_columns)},
            )

            if not line_result.passed:
                # 3. escalation: the raw line count is quote/newline-blind, so
                #    defer to the full CSV parser (reference fallback,
                #    big_data_validator.py:198-205).
                if bad is None:
                    bad, parse_obs = _observed_parse(
                        self.spark, csv_path, contract, actual_columns
                    )
                    _run_observed(bad)
                verdict, bad = R.rule_csv_parser_verdict(
                    bad, parse_obs.get[CORRUPT_RECORD_COL]
                )
                line_result.details["escalated"] = True
                if verdict.passed:
                    line_result.passed = True
                    line_result.violation_count = 0
                elif self.config.write_failures:
                    sink = default_failure_path(
                        self.config.failure_base_dir or csv_path.rsplit("/", 1)[0],
                        table,
                    )
                    part_cols = [
                        c
                        for c in (self.config.failure_partition_by or ())
                        if c in bad.columns
                    ]
                    write_failures_parquet(bad, sink, partition_by=part_cols or None)
                    report.failure_sink_path = sink
            report.add(line_result)

            # 4. declared-type enforcement (P2), observed on the parse.
            if check_types:
                sums = dict(parse_obs.get)
                del sums[CORRUPT_RECORD_COL]
                report.add(_type_enforcement_result(sums))
        finally:
            if bad is not None:
                bad.unpersist()
        return report

    def validate_dataframe(
        self, table: str, df: DataFrame, contract: TableContract
    ) -> ValidationReport:
        """Validate an already-parsed DataFrame (parquet/json path): name
        conformance + declared-type enforcement; no line-level rules."""
        report = ValidationReport(table=table)
        name_result = R.rule_column_names(df.columns, contract)
        report.add(name_result)
        if self.config.enforce_types and name_result.passed and contract.columns:
            aggs = _type_violation_sums(df, contract)
            report.add(
                _type_enforcement_result(df.agg(*aggs).first().asDict() if aggs else {})
            )
        return report


def _type_violation_sums(df: DataFrame, contract: TableContract) -> list[Column]:
    """Per-column violation counts for every contract column ``df`` has.

    Case-insensitive column resolution (spark.sql.caseSensitive=false by
    default) lets contract names hit actual columns like the reference's
    uppercase matching."""
    string_cols = {c.upper() for c in df.columns}
    return [
        F.sum(expr.cast("long")).alias(name)
        for name, expr in contract_violation_exprs(contract).items()
        if name.upper() in string_cols
    ]


def _type_enforcement_result(sums: dict) -> RuleResult:
    if not sums:
        return RuleResult(rule="type_enforcement", passed=True)
    per_col = {k: int(v or 0) for k, v in sums.items()}
    total = sum(per_col.values())
    return RuleResult(
        rule="type_enforcement",
        passed=total == 0,
        violation_count=total,
        details={"per_column": per_col},
    )


def _observed_parse(
    spark: SparkSession,
    csv_path: str,
    contract: TableContract,
    actual_columns: list[str],
) -> tuple[DataFrame, Observation]:
    """The PERMISSIVE CSV parse, observing the corrupt-record count (under
    ``CORRUPT_RECORD_COL``) and the per-column type-violation sums, filtered
    to corrupt rows and cached.

    The cache keeps every column, so the scan is never pruned to only the
    corrupt-record column (Spark refuses that:
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the failure
    sink reads the bad rows from it instead of parsing the file again.
    The caller must ``unpersist()`` the returned frame.
    """
    table_df = scan_csv_permissive(spark, csv_path, contract, actual_columns)
    obs = Observation()
    observed = table_df.observe(
        obs,
        F.count_if(F.col(CORRUPT_RECORD_COL).isNotNull()).alias(CORRUPT_RECORD_COL),
        *_type_violation_sums(table_df, contract),
    )
    return R.corrupt_rows(observed).cache(), obs


def _run_observed(*frames: DataFrame) -> None:
    """Run all ``frames`` as ONE Spark job: their zero-column projections,
    unioned into the ``noop`` sink.  No shuffle, so nothing but the scans'
    own tasks; observations fire and caches fill on the way."""
    fused = reduce(lambda a, b: a.union(b), [f.select() for f in frames])
    fused.write.format("noop").mode("overwrite").save()
