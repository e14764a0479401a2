"""Median and spread of each metric over a set of runs.

Reads the benchmark's result lines (a JSON object, possibly after other
text on the line) from files or standard input::

    python3 perfbench/summarize.py results-serve.txt

The spread is the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median.
"""

from __future__ import annotations

import fileinput
import json
import statistics


def main() -> None:
    values: dict = {}
    runs = failed = attempted = 0
    for line in fileinput.input():
        if "{" not in line:
            continue
        res = json.loads(line[line.index("{"):])
        runs += 1
        attempted += res["attempted"]
        failed += res["failed"]
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"{runs} runs, {attempted} operations, {failed} failed")
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>7s}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f}")


if __name__ == "__main__":
    main()
