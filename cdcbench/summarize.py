"""Median, quartiles and spread of the end-to-end metrics over a set of
untraced runs, from their side files, and the output-check outcome of
every run.

    python3 cdcbench/summarize.py .cdcbench/out/*-trace0.json

Spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``, one line per workload and metric.
"""

from __future__ import annotations

import json
import statistics
import sys


def per_run(side: dict) -> dict:
    """One run's figures: its check outcome, CPU steal and metrics."""
    return {
        "workload": side["workload"], "seed": side["seed"],
        "attempted": side["attempted"], "failed": side["failed"],
        "correct": side["failed"] == 0,
        "cpu_steal_share": round(side["cpu_steal_share"], 4),
        **{k: round(v, 4) for k, v in side["end_to_end"].items()},
    }


def summarize(paths: list[str]) -> dict:
    runs: dict[str, dict[str, list[float]]] = {}
    checks: dict[str, dict[str, int]] = {}
    for path in paths:
        with open(path) as fh:
            side = json.load(fh)
        per = runs.setdefault(side["workload"], {})
        for name, value in side["end_to_end"].items():
            per.setdefault(name, []).append(value)
        c = checks.setdefault(side["workload"], {"runs": 0, "attempted": 0, "failed": 0})
        c["runs"] += 1
        c["attempted"] += side["attempted"]
        c["failed"] += side["failed"]
    out = {}
    for workload, metrics in sorted(runs.items()):
        out[workload] = {"checks": checks[workload]}
        for name, values in metrics.items():
            q1, med, q3 = statistics.quantiles(values, n=4)
            out[workload][name] = {
                "runs": len(values), "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med,
            }
    return out


if __name__ == "__main__":
    for workload, metrics in summarize(sys.argv[1:]).items():
        c = metrics.pop("checks")
        print(f"{workload:22s} runs={c['runs']} attempted={c['attempted']} "
              f"failed={c['failed']}")
        for name, s in metrics.items():
            print(f"{workload:22s} {name:18s} n={s['runs']:2d} median={s['median']:10.4f} "
                  f"q1={s['q1']:10.4f} q3={s['q3']:10.4f} spread={s['spread']:.3f}")
