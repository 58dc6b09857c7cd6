"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the standard output of any number of ``run.py`` runs; the
``perfbench_record`` lines are read and everything else is skipped.  For
every workload and metric it prints the median of each side, the ratio
new/base, and the quartile spread of the base.  Runs taken under different
conditions (core count, Spark master, scale factor, run length) are not
comparable, and the script refuses them with exit code 2.
"""

from __future__ import annotations

import json
import statistics
import sys

#: Run conditions that must match between and within the two sides.
MUST_MATCH = ("cores", "master", "sf", "seconds")


def load(path: str) -> list[dict]:
    records = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith('{"perfbench_record"'):
                records.append(json.loads(line)["perfbench_record"])
    return records


def conditions(rec: dict) -> tuple:
    return tuple((k, rec["conditions"].get(k)) for k in MUST_MATCH)


def check_comparable(base: list[dict], new: list[dict]) -> list[str]:
    """Reasons the two sides may not be compared; empty when they may."""
    problems = []
    for wl in sorted({r["workload"] for r in base + new}):
        conds = {conditions(r) for r in base + new if r["workload"] == wl}
        if len(conds) > 1:
            problems.append(f"{wl}: runs taken under different conditions: {sorted(conds)}")
    return problems


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    problems = check_comparable(base, new)
    if problems:
        print("refusing to compare:\n  " + "\n  ".join(problems), file=sys.stderr)
        return 2
    print(f"{'workload':16} {'metric':16} {'base':>12} {'new':>12} {'new/base':>9} {'base IQR':>9}")
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        b = [r for r in base if r["workload"] == wl]
        n = [r for r in new if r["workload"] == wl]
        for m in sorted(b[0]["metrics"]):
            bv = [r["metrics"][m]["value"] for r in b if r["metrics"][m]["value"] is not None]
            nv = [r["metrics"][m]["value"] for r in n if r["metrics"][m]["value"] is not None]
            if not bv or not nv:
                continue
            bm, nm = statistics.median(bv), statistics.median(nv)
            ratio = f"{nm / bm:9.3f}" if bm else f"{'-':>9}"
            print(f"{wl:16} {m:16} {bm:12.4g} {nm:12.4g} {ratio} {spread(bv):9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
