"""Reference-parity validation rules.

Each rule is a pure function returning either a driver-side
:class:`~big_data_validator_spark.report.RuleResult` (for schema-level rules
that act on column *lists*, not data) or Catalyst expressions / DataFrames
(for row-level rules).  The runner observes the row-level rules on the
scans of one fused job — the reference runs one Spark job per rule and
rescans the file each time (SURVEY.md §3).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_validator_spark.contract import CORRUPT_RECORD_COL, TableContract
from big_data_validator_spark.functions.exprs import (
    field_count_naive,
    field_count_quoted,
)
from big_data_validator_spark.report import RuleResult


def rule_column_names(
    actual_columns: list[str], contract: TableContract
) -> RuleResult:
    """Header-vs-contract column-name conformance.

    Semantics of ``big_data_validator.py:26-74``, preserved exactly:

    - matching is case-insensitive (both sides uppercased);
    - **superset-tolerant**: extra actual columns pass silently, missing
      expected columns fail (``set.issuperset`` at ``:53``) — observable
      behavior, kept per SURVEY.md §7 hard-list item 3;
    - both set differences are reported for diagnostics (``:60-61,71-72``).

    Driver-side by design: it compares schema name lists, not data.
    """
    actual = [c.upper() for c in actual_columns]
    expected = contract.expected_columns_upper
    missing = sorted(set(expected).difference(actual))
    additional = sorted(set(actual).difference(expected))
    return RuleResult(
        rule="column_names",
        passed=not missing,
        violation_count=len(missing),
        details={
            "expected": expected,
            "actual": actual,
            "missing": missing,
            "additional": additional,
        },
    )


def field_count_violation_expr(
    line: Column, contract: TableContract, expected_arity: Optional[int] = None
) -> Column:
    """Boolean expression: does this raw line have the wrong field count?

    Picks the quote-aware count when the contract declares a string
    separator, else the naive count — the same branch the reference takes at
    ``big_data_validator.py:273-278``.  Evaluates entirely inside codegen.
    """
    n = expected_arity if expected_arity is not None else contract.arity
    if contract.string_separator:
        cnt = field_count_quoted(
            line, contract.field_separator, contract.regex_quote_char
        )
    else:
        cnt = field_count_naive(line, contract.field_separator)
    return cnt != F.lit(n)


def has_trailing_unnamed_column(df: DataFrame) -> bool:
    """The reference's "hotfix": if the second-to-last schema field is named
    ``\"\"`` (an unnamed trailing-delimiter column), field-count mismatches
    are ignored entirely (``big_data_validator.py:150-158``).  Quirky but
    real CSV semantics — preserved as an explicit predicate."""
    names = df.schema.names
    return len(names) >= 2 and names[-2] == ""


def corrupt_rows(df: DataFrame) -> DataFrame:
    """Rows the PERMISSIVE CSV parser could not fit to the schema
    (``big_data_validator.py:160``)."""
    return df.filter(F.col(CORRUPT_RECORD_COL).isNotNull())


def rule_csv_parser_verdict(
    bad: DataFrame, n_corrupt: int
) -> tuple[RuleResult, DataFrame]:
    """Escalated check: defer to Spark's quote/multiline-aware CSV parser.

    The reference falls back to this when the line-level count mismatches
    (``big_data_validator.py:198-205``), because a raw line split cannot see
    embedded newlines or separators inside quoted fields.  ``bad`` is the
    parser's corrupt-row frame (:func:`corrupt_rows`) and ``n_corrupt`` its
    row count, already observed on the scan that built it — the verdict runs
    no Spark job of its own, where the reference ran ``head(1)`` (``:163``).
    Returns the rule outcome and ``bad``, the rows for the failure sink.

    The runner owns ``bad``'s cache: it fills it in the same job as the line
    scan and releases it in a ``finally`` (the reference leaks its cache on
    the failure path, ``big_data_validator.py:161-169``).
    """
    if has_trailing_unnamed_column(bad):
        verdict = RuleResult(
            rule="csv_parser_verdict",
            passed=True,
            details={"note": "trailing unnamed column; mismatch ignored"},
        )
    else:
        verdict = RuleResult(rule="csv_parser_verdict", passed=n_corrupt == 0)
    return verdict, bad
