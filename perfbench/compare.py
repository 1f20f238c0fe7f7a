"""Summarise and compare saved benchmark runs.

Usage: python3 perfbench/compare.py BASE_DIR [NEW_DIR]

Each directory holds the stdout of runs of ``run.py`` (one file per run).
Runs are grouped by workload and trace mode; for every metric the tool
prints the median, the quartiles and the spread (interquartile range as a
share of the median), and with two directories the ratio of the medians,
new / base. Where a traced and an untraced run share a workload and seed,
the tracing overhead (traced minus untraced pass time) is printed too.

Results are compared only when their host facts agree (nproc, master,
Spark and Python versions, scale factor); otherwise the tool refuses and
exits 2.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HOST_FACTS = ("nproc", "master", "spark", "python", "sf")


def load(path: str) -> list[tuple[dict, dict]]:
    """[(facts, result)] of every run file under ``path``."""
    runs = []
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            continue
        facts, result = json.loads(lines[-2])["facts"], json.loads(lines[-1])
        runs.append((facts, result))
    return runs


def summary(values: list[float]) -> tuple[float, float, float]:
    """(median, q1, q3)."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


def table(runs) -> dict:
    """{(workload, trace): {metric: [values]}}."""
    out: dict = defaultdict(lambda: defaultdict(list))
    for facts, result in runs:
        for name, m in result["metrics"].items():
            out[(facts["workload"], facts["trace"])][name].append(m["value"])
    return out


def overhead(runs) -> dict[str, list[float]]:
    by_seed = defaultdict(dict)
    for facts, result in runs:
        key = (facts["workload"], facts["seed"])
        metric = "trace.pass_s" if facts["trace"] else "pass_s"
        if metric in result["metrics"]:
            by_seed[key][metric] = result["metrics"][metric]["value"]
    out = defaultdict(list)
    for (workload, _seed), m in by_seed.items():
        if len(m) == 2:
            out[workload].append(m["trace.pass_s"] - m["pass_s"])
    return out


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__)
        return 2
    sets = [load(p) for p in argv]
    facts = {tuple(f.get(k) for k in HOST_FACTS) for runs in sets for f, _ in runs}
    if len(facts) > 1:
        print("refusing to compare runs from different hosts or settings:")
        for f in sorted(facts, key=str):
            print("  ", dict(zip(HOST_FACTS, f)))
        return 2
    tables = [table(runs) for runs in sets]
    for key in sorted(tables[0]):
        print(f"== {key[0]} (trace {key[1]})")
        for name, values in tables[0][key].items():
            med, q1, q3 = summary(values)
            spread = (q3 - q1) / med if med else 0.0
            line = (f"  {name:44s} median {med:12.4f}  q1 {q1:12.4f}  "
                    f"q3 {q3:12.4f}  spread {spread:6.3f}  n={len(values)}")
            if len(tables) == 2 and tables[1][key].get(name):
                new = summary(tables[1][key][name])[0]
                line += f"  new/base {new / med if med else float('nan'):6.3f}"
            print(line)
    for i, runs in enumerate(sets):
        for workload, diffs in sorted(overhead(runs).items()):
            print(f"tracing overhead [{argv[i]}] {workload}: median "
                  f"{statistics.median(diffs):+.3f} s over {len(diffs)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
