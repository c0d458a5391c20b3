"""Run-to-run spread of a series of benchmark results.

    python3 perfbench/spread.py results.txt

``results.txt`` holds one result line (the last stdout line of run.py) per
run, all of one workload, each run with another seed. For every metric this
prints the median and the interquartile range as a share of the median,
which is the figure compared with the metric's ``bound`` in BENCHMARK.json.
"""

from __future__ import annotations

import json
import statistics
import sys


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (Q3 - Q1) / median) with ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main(path: str) -> int:
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.startswith("{")]
    bounds = {}
    try:
        with open("BENCHMARK.json") as f:
            bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    except OSError:
        pass
    print(f"{len(runs)} runs, correct in {sum(r['correct'] for r in runs)}")
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med, iqr = spread(values)
        bound = bounds.get(name)
        note = f"  bound {bound}  (spread/bound {iqr / bound:.2f})" if bound else ""
        print(f"{name:28s} median {med:14.4f}  spread {iqr:7.4f}{note}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
