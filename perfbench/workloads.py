"""The benchmark's workloads: what one op is, and how its output is checked.

An op is one call a user of the package makes: a ``validate_csv`` over one
generated table, or one registry entry built with ``fn(spark, sf_dir)`` and
run into the ``noop`` sink the way ``bench.py`` runs it.  A workload is a
fixed list of ops (one *pass*); the seed shuffles the order within a pass
and, for the CSV workloads, drives the generator.

Checks run outside the timed span of each op.  A CSV op is checked in full
every time: every rule's verdict and count, the re-parse, the per-column
type violations and the sink rows.  A registry op in the timed loop only
has to run and keep its schema; its values are checked once per run in an
untimed verification pass against the DuckDB oracle (row count, column
names and an order-insensitive comparison of the values), or, for entries
without an oracle, for at least one row.
"""

from __future__ import annotations

import decimal
import math
import os
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import csvgen

#: Scale factor of the registry's input tables, kept under ``data/``.
SF = "sf0.01"
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", SF)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: Non-streaming registry entries timed by ``registry_batch``; the first
#: two are the warm-up.  Four light entries from different operator
#: families carry the fixed per-entry cost that dominates the full registry
#: (most of its entries finish in under a second); the other four are
#: ROADMAP targets: the region join (many jobs for little work), the
#: order-totals reconcile, the prefix-filter self-join and Fellegi-Sunter
#: linkage (compute-bound).
REGISTRY_BATCH = (
    "scan_pushdown_projection",
    "topk_order_values",
    "events_sessionize",
    "sample_hash_split",
    "join_region_revenue",
    "rule_order_totals_reconcile",
    "dedup_ssjoin_prefix",
    "link_fs_classify",
)

#: Streaming registry entries timed by ``registry_stream``; the first is
#: the warm-up.  Each drains a bounded stream through checkpointed
#: micro-batches, the per-trigger driver cost the ROADMAP targets.
REGISTRY_STREAM = (
    "streaming_windowed_violations",
    "streaming_exactly_once_sink",
    "streaming_static_enrich",
    "streaming_dedup_events",
)

REGISTRY_ENTRIES = {
    "registry_batch": REGISTRY_BATCH,
    "registry_stream": REGISTRY_STREAM,
    "registry": REGISTRY_BATCH + REGISTRY_STREAM,
}

#: Ops run in each set-up cycle.  The first CSV slot is a ragged table in
#: ``csv_dirty``, so the warm-up reaches every layer the runner calls.
CSV_WARM_SLOTS = 1
REGISTRY_WARM = {"registry_batch": 2, "registry_stream": 1, "registry": 2}


@dataclass
class Op:
    """One timed unit of work.  ``run(spark, span)`` returns what
    ``check(spark, out)`` inspects; ``span(name)`` opens a trace span."""

    name: str
    run: Callable[[Any, Any], Any]
    check: Callable[[Any, Any], list[str]]
    rows: int = 0  # input rows the op checks (CSV ops)


@dataclass
class Workload:
    ops: list[Op]
    warm: list[Op]
    #: Untimed pass that checks output values; returns problems per op.
    verify: Optional[Callable[[Any], dict[str, list[str]]]] = None
    info: dict = field(default_factory=dict)


# --------------------------------------------------------------------- CSV


def check_report(report: dict, exp: csvgen.Expected) -> list[str]:
    """Differences between a ``ValidationReport.to_dict()`` and what the
    generator recorded.  Empty when the report is correct."""
    problems: list[str] = []
    by_rule = {r["rule"]: r for r in report["results"]}
    names = by_rule.get("column_names")
    if names is None or not names["passed"] or names["violation_count"]:
        problems.append(f"column_names: {names}")
    line = by_rule.get("field_count_quoted")
    if line is None:
        problems.append("field_count_quoted missing")
    else:
        got = (line["passed"], line["violation_count"], line["details"].get("lines"))
        want = (exp.line_passed, exp.line_violations, exp.lines)
        if got != want:
            problems.append(f"field_count_quoted (passed, count, lines) {got} != {want}")
        if bool(line["details"].get("escalated")) != exp.escalated:
            problems.append(
                f"re-parse ran={bool(line['details'].get('escalated'))}, expected {exp.escalated}"
            )
    types = by_rule.get("type_enforcement")
    want_total = sum(exp.type_violations.values())
    if types is None:
        problems.append("type_enforcement missing")
    else:
        per_col = types["details"].get("per_column", {})
        if per_col != exp.type_violations or types["violation_count"] != want_total:
            problems.append(f"type violations {per_col} != {exp.type_violations}")
        if types["passed"] != (want_total == 0):
            problems.append(f"type_enforcement passed={types['passed']}")
    want_ok = exp.line_passed and want_total == 0
    if report["ok"] != want_ok:
        problems.append(f"ok={report['ok']}, expected {want_ok}")
    if bool(report["failure_sink_path"]) != exp.writes_sink:
        problems.append(
            f"sink path {report['failure_sink_path']!r}, expected a sink={exp.writes_sink}"
        )
    return problems


def check_sink_ids(got_ids: list[str], exp: csvgen.Expected) -> list[str]:
    """The sink must hold exactly the ragged rows, each once."""
    if sorted(got_ids, key=str) != sorted(exp.sink_ids, key=str):
        missing = sorted(set(exp.sink_ids) - set(got_ids))[:5]
        extra = sorted(set(got_ids) - set(exp.sink_ids))[:5]
        return [
            f"sink rows: {len(got_ids)} held, {len(exp.sink_ids)} expected; "
            f"missing {missing}, unexpected {extra}"
        ]
    return []


def sink_ids(path: str) -> list[str]:
    """``ID`` of every row in the Parquet failure sink, read with pyarrow
    rather than Spark so the check needs no Spark job."""
    import pyarrow.parquet as pq

    return [str(v) for v in pq.read_table(path, columns=["ID"]).column("ID").to_pylist()]


def csv_workload(tables: list[csvgen.Table]) -> Workload:
    from big_data_validator_spark import TableContract, ValidationRunner

    def make_op(t: csvgen.Table) -> Op:
        contract = TableContract.from_metadata_csv(t.meta_path)

        def run(spark, span):
            return ValidationRunner(spark).validate_csv(t.name, t.csv_path, contract)

        def check(spark, report):
            problems = check_report(report.to_dict(), t.expected)
            if t.expected.writes_sink and report.failure_sink_path:
                problems += check_sink_ids(sink_ids(report.failure_sink_path), t.expected)
            return problems

        return Op(f"{t.name}:{t.kind}:{t.rows}", run, check, rows=t.rows)

    ops = [make_op(t) for t in tables]
    return Workload(
        ops=ops,
        warm=ops[:CSV_WARM_SLOTS],
        info={"tables": len(tables), "rows": [t.rows for t in tables]},
    )


# ---------------------------------------------------------------- registry


def normalize(rows, columns) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, floats rounded to 9 places, decimals by their exact digits, rows
    sorted."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            return ("f", "nan") if math.isnan(v) else ("f", round(v, 9))
        if isinstance(v, int):
            return ("i", v)
        if isinstance(v, decimal.Decimal):
            return ("d", v.as_tuple())
        return ("s", str(v))

    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


def compare_to_oracle(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    sc = [c.lower() for c in spark_cols]
    dc = [c.lower() for c in duck_cols]
    if sorted(sc) != sorted(dc):
        return [f"columns {sorted(sc)} != oracle {sorted(dc)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{len(spark_rows)} rows != oracle {len(duck_rows)}"]
    if normalize([list(r) for r in spark_rows], sc) != normalize(
        [list(r) for r in duck_rows], dc
    ):
        return ["values differ from the oracle"]
    return []


def registry_workload(name: str) -> Workload:
    from big_data_validator_spark.queries import all_oracles, all_queries

    registry = all_queries()
    oracles = all_oracles()
    entries = REGISTRY_ENTRIES[name]
    schemas: dict[str, Any] = {}

    def make_op(entry: str) -> Op:
        fn = registry[entry]

        def run(spark, span):
            with span("queries.build"):
                df = fn(spark, DATA_DIR)
            with span("queries.execute"):
                df.write.mode("overwrite").format("noop").save()
            return df

        def check(spark, df):
            if entry in schemas and df.schema != schemas[entry]:
                return [f"schema changed: {df.schema.simpleString()}"]
            return []

        return Op(entry, run, check)

    def verify(spark) -> dict[str, list[str]]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'"
                )
            out = {}
            for entry in entries:
                try:
                    df = registry[entry](spark, DATA_DIR)
                    rows = df.collect()
                    schemas[entry] = df.schema
                    if entry in oracles:
                        res = con.execute(oracles[entry])
                        out[entry] = compare_to_oracle(
                            df.columns,
                            rows,
                            [d[0] for d in res.description],
                            res.fetchall(),
                        )
                    else:
                        out[entry] = [] if rows else ["no rows"]
                except Exception as e:  # an entry that raises is a failed op
                    out[entry] = [f"raised {type(e).__name__}: {str(e)[:300]}"]
            return out
        finally:
            con.close()

    ops = [make_op(e) for e in entries]
    return Workload(
        ops=ops,
        warm=ops[: REGISTRY_WARM[name]],
        verify=verify,
        info={"entries": list(entries), "oracled": sum(e in oracles for e in entries)},
    )


#: BENCHMARK.json declares ``csv_dirty`` and ``registry`` (the batch and
#: the streaming entries in one pass); the other three run on request.
#: Each run pays 12-15 s of JVM start and cold first op on a 4-core host,
#: so only two declared workloads leave room for several timed passes
#: per run within a check's time budget.
WORKLOADS = ("csv_clean", "csv_dirty", "registry_batch", "registry_stream", "registry")


def make_inputs(name: str, seed: int, input_dir: str):
    """Generate the workload's input files (CSV workloads only); the
    registry reads the fixed tables under ``data/``."""
    if name in ("csv_clean", "csv_dirty"):
        return csvgen.generate(seed, input_dir, dirty=name == "csv_dirty")
    return None


def build(name: str, inputs) -> Workload:
    """The workload's ops.  Imports the package, so it belongs to set-up."""
    if inputs is not None:
        return csv_workload(inputs)
    return registry_workload(name)
