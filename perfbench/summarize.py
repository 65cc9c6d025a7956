#!/usr/bin/env python3
"""Summarize benchmark runs recorded in ``.perfbench_work/results.jsonl``.

    python3 perfbench/summarize.py [results.jsonl]

For each workload and end-to-end metric of the untraced runs: the
number of runs, the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread, (q3 - q1) / median, which is what the bounds in
``BENCHMARK.json`` are checked against. Prints one JSON object.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def summarize(lines: list[dict]) -> dict:
    out: dict = {}
    for r in lines:
        if r["trace"]:
            continue
        for k, v in r["e2e"].items():
            out.setdefault(r["workload"], {}).setdefault(k, []).append(v)
    for w, metrics in out.items():
        for k, vs in metrics.items():
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            med = statistics.median(vs)
            metrics[k] = {"n": len(vs), "median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else 0.0}
    return out


if __name__ == "__main__":
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".perfbench_work", "results.jsonl")
    with open(path) as f:
        print(json.dumps(summarize([json.loads(line) for line in f]), indent=1))
