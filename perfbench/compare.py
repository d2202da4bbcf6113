"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds result records as ``perfbench/run.py`` appends them to
``.perfbench/results.jsonl``.  Prints, per workload and metric, each
side's median and quartiles and the ratio of medians; the record's
ungated wall-clock figures follow as ``wall.<name>``.  Refuses (exit 2)
when the records were taken at different core counts: Spark's local
parallelism changes every timing, so such numbers do not compare.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def figure(record: dict, name: str) -> float | None:
    if name.startswith("wall."):
        return record.get("wall", {}).get(name[len("wall."):])
    metric = record["metrics"].get(name)
    return None if metric is None else metric["value"]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cores = {r["env"]["nproc"] for r in base + new}
    if len(cores) > 1:
        print(f"refusing to compare results taken at different core "
              f"counts: {sorted(cores)}", file=sys.stderr)
        return 2
    keys = sorted({(r["workload"], r["trace"]) for r in base + new})
    for workload, trace in keys:
        sides = [[r for r in recs if r["workload"] == workload
                  and r["trace"] == trace] for recs in (base, new)]
        if not all(sides):
            continue
        print(f"{workload} (trace={trace}, runs {len(sides[0])} vs "
              f"{len(sides[1])}, nproc {min(cores)})")
        for name in [*sides[0][0]["metrics"],
                     *(f"wall.{k}" for k in sides[0][0].get("wall", {}))]:
            vals = [[figure(r, name) for r in side
                     if figure(r, name) is not None] for side in sides]
            if not all(vals):
                continue
            (b1, b2, b3), (n1, n2, n3) = map(quartiles, vals)
            ratio = n2 / b2 if b2 else float("nan")
            print(f"  {name:36s} {b2:12.5g} [{b1:.4g}, {b3:.4g}]  ->  "
                  f"{n2:12.5g} [{n1:.4g}, {n3:.4g}]  x{ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
