#!/usr/bin/env python3
"""Print self time per layer for traced benchmark runs.

    python3 perfbench/render_trace.py [SPANS.json ...]

Without arguments it reads every .perfbench/records/*.spans.json that
`run.py --trace 1` wrote. A layer's self time is the time its spans cover
minus the part their child spans cover; the shares add up to the traced
window (sink calls run in parallel tasks, so the sinks and spark layers can
sum to more than their parents' wall time).
"""

import glob
import json
import os
import sys

import benchstats as bs

LAYERS = ["bench", "sources", "streaming", "spark", "sinks", "jobs", "ops"]


def render(paths):
    rows = []
    for p in sorted(paths):
        with open(p) as f:
            t = json.load(f)
        layers = bs.layer_self_times(t["spans"])
        top = next(s for s in t["spans"] if s.get("parent") is None)
        rows.append((t["workload"], t["seed"], top["end"] - top["start"], layers))
    head = f"{'workload':<18}{'seed':>6}{'window_ms':>11}" + "".join(f"{l:>11}" for l in LAYERS)
    print(head)
    for w, seed, total, layers in rows:
        print(f"{w:<18}{seed:>6}{total:>11.0f}" +
              "".join(f"{layers.get(l, 0.0):>11.0f}" for l in LAYERS))


def main():
    paths = sys.argv[1:] or glob.glob(os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".perfbench", "records", "*.spans.json"))
    if not paths:
        raise SystemExit("no traces: run perfbench/run.py with --trace 1 first")
    render(paths)


if __name__ == "__main__":
    main()
