"""Seeded CSV tables, their contracts and the results a correct run gives.

Pure Python and single-process: every value comes from
``random.Random(seed)``.  A table is a pipe-delimited file with every field
quoted, in the reference layout (header row, ``"`` string separator), plus
a metadata contract in the reference's semicolon format.  The slot list
(row count and width of each table) is fixed, so every seed does the same
amount of work; the seed decides the values and where the defects sit.

For each table the generator records what a correct ``validate_csv`` must
report: each rule's verdict and violation count, whether the CSV re-parse
runs and whether it clears, the type violations per column, and the exact
rows the failure sink must hold (their ``ID`` values).

Defect kinds (``csv_dirty`` only; never mixed within one table, so the
expected line count stays exact):

- ``ragged``: rows with one field too many or too few.  The line count
  flags them, the re-parse confirms them and the sink receives them.
- ``newline``: quoted text fields that contain a line break.  The line
  count flags the broken records, the re-parse finds nothing and clears.
- ``types``: only bad NUMBER / DATE values.

Every dirty table also carries a few bad NUMBER and DATE values on rows
that are otherwise well-formed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

#: (rows, columns, dirty defect kind) per table slot.  Rows span two orders
#: of magnitude; most tables are small, as in a real fleet of feeds.
SLOTS: tuple[tuple[int, int, str], ...] = (
    (2_000, 4, "ragged"),
    (2_000, 6, "newline"),
    (2_000, 8, "types"),
    (5_000, 11, "ragged"),
    (5_000, 4, "newline"),
    (10_000, 6, "types"),
    (20_000, 8, "ragged"),
    (50_000, 11, "newline"),
    (200_000, 6, "ragged"),
)

#: (name, declared type, format) — a table of width w uses the first w.
COLUMN_POOL: tuple[tuple[str, str, str], ...] = (
    ("ID", "NUMBER", ""),
    ("NAME", "VARCHAR2", ""),
    ("AMOUNT", "NUMBER", ""),
    ("BOOKED", "DATE", "dd/MM/yyyy"),
    ("CITY", "VARCHAR2", ""),
    ("QTY", "NUMBER", ""),
    ("CODE", "VARCHAR2", ""),
    ("SHIPPED", "DATE", "dd/MM/yyyy"),
    ("NOTE", "VARCHAR2", ""),
    ("RATE", "NUMBER", ""),
    ("STATUS", "VARCHAR2", ""),
)

WORDS = (
    "alpha bravo carbon delta ember falcon garnet harbor indigo juniper "
    "kestrel lumen meadow nectar onyx pepper quartz raven sierra timber "
    "umber velvet willow xenon yarrow zephyr north south east west"
).split()

BAD_NUMBERS = ("12x4", "n/a", "1.2.3", "--5", "ten")
BAD_DATES = ("31-12-2020", "2020/01/02", "ab/cd/efgh", "7 May 2021", "00/00/")

SEP = "|"
QUOTE = '"'


@dataclass
class Expected:
    """What a correct ``validate_csv`` reports for one table."""

    lines: int
    line_violations: int
    line_passed: bool
    escalated: bool
    reparse_clears: bool
    type_violations: dict[str, int]
    sink_ids: list[str] = field(default_factory=list)

    @property
    def writes_sink(self) -> bool:
        return bool(self.sink_ids)


@dataclass
class Table:
    name: str
    csv_path: str
    meta_path: str
    rows: int
    kind: str  # "clean" | "ragged" | "newline" | "types"
    expected: Expected


def _quote(v: str) -> str:
    return f"{QUOTE}{v}{QUOTE}"


POOL_SIZE = 4096


def _pool(rng: random.Random, ctype: str) -> list[str]:
    """Distinct-enough values of one declared type; columns draw from it."""
    if ctype == "NUMBER":
        return [
            str(rng.randint(0, 10_000))
            if rng.random() < 0.5
            else f"{rng.uniform(-5_000, 50_000):.2f}"
            for _ in range(POOL_SIZE)
        ]
    if ctype == "DATE":
        return [
            f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/{rng.randint(1990, 2030)}"
            for _ in range(POOL_SIZE)
        ]
    return [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4)))
        for _ in range(POOL_SIZE)
    ]


def write_contract(path: str, columns) -> None:
    """Metadata contract in the reference's semicolon-CSV format."""
    head = "COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT"
    body = [f'{n};{t};"""";{SEP};.;TRUE;{f}' for n, t, f in columns]
    with open(path, "w") as fh:
        fh.write("\n".join([head, *body]) + "\n")


def generate_table(
    rng: random.Random, out_dir: str, name: str, rows: int, width: int, kind: str
) -> Table:
    """Write one table and its contract; return the expected results."""
    columns = COLUMN_POOL[:width]
    n_defects = max(2, rows // 400)
    picks = rng.sample(range(rows), 3 * n_defects)
    ragged = set(picks[:n_defects]) if kind == "ragged" else set()
    newline = set(picks[:n_defects]) if kind == "newline" else set()
    bad_type_rows = picks[n_defects:] if kind != "clean" else []
    typed = [i for i, (_, t, _) in enumerate(columns) if t in ("NUMBER", "DATE") and i > 0]
    # A break in the last column would leave the first half with the full
    # field count; any earlier text column guarantees a flagged line.
    text = [
        i for i, (_, t, _) in enumerate(columns[:-1]) if t == "VARCHAR2"
    ]
    # row -> (column index, bad value); the ID column stays well-formed so
    # sink rows can be identified by it.
    bad_cells: dict[int, tuple[int, str]] = {}
    for r in bad_type_rows:
        ci = rng.choice(typed)
        pool = BAD_NUMBERS if columns[ci][1] == "NUMBER" else BAD_DATES
        bad_cells[r] = (ci, rng.choice(pool))

    type_violations = {c[0]: 0 for c in columns}
    sink_ids: list[str] = []
    extra_lines = 0
    values = [[str(r + 1) for r in range(rows)]] + [
        rng.choices(_pool(rng, t), k=rows) for _, t, _ in columns[1:]
    ]
    for r, (ci, bad) in bad_cells.items():
        values[ci][r] = bad
        type_violations[columns[ci][0]] += 1
    for r in sorted(newline):
        ci = rng.choice(text)
        values[ci][r] = values[ci][r] + "\n" + rng.choice(WORDS)
        extra_lines += 1
    sep = QUOTE + SEP + QUOTE
    out = [QUOTE + sep.join(c[0] for c in columns) + QUOTE]
    out += [QUOTE + sep.join(row) + QUOTE for row in zip(*values)]
    for r in sorted(ragged):
        sink_ids.append(values[0][r])
        if rng.random() < 0.5:
            out[r + 1] += SEP + _quote(rng.choice(WORDS))
        else:
            out[r + 1] = out[r + 1][: out[r + 1].rindex(SEP)]

    csv_path = os.path.join(out_dir, f"{name}.csv")
    meta_path = os.path.join(out_dir, f"{name}_meta.csv")
    with open(csv_path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    write_contract(meta_path, columns)

    # A ragged table has exactly its ragged lines flagged.  A newline table
    # is flagged too (see ``text`` above) but the re-parse clears it, so
    # the rule then reports no violations.
    expected = Expected(
        lines=rows + 1 + extra_lines,
        line_violations=len(ragged),
        line_passed=not ragged,
        escalated=bool(ragged or newline),
        reparse_clears=bool(newline),
        type_violations=type_violations,
        sink_ids=sink_ids,
    )
    return Table(name, csv_path, meta_path, rows, kind, expected)


def generate(seed: int, out_dir: str, dirty: bool) -> list[Table]:
    """All slots for one seed; ``dirty`` adds each slot's defects."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    return [
        generate_table(
            rng, out_dir, f"T{i:02d}", rows, width, kind if dirty else "clean"
        )
        for i, (rows, width, kind) in enumerate(SLOTS)
    ]
