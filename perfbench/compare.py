"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py BASE_RESULT.json... --head HEAD_RESULT.json...

Each run of perfbench/run.py leaves a record at
``.perfbench/runs/<run>/result.json`` with its corpus fingerprint. This
prints, per metric, each side's median and quartile spread and the change
of the head median against the base median, flagging a change worse than
the bound in BENCHMARK.json. It refuses (exit 2) to compare records whose
fingerprints, workloads or trace modes differ: a regenerated corpus makes
the numbers incomparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("base", nargs="+")
    p.add_argument("--head", nargs="+", required=True)
    args = p.parse_args(argv)
    base, head = load(args.base), load(args.head)
    keys = {(r["fingerprint"], r["workload"], r["trace"]) for r in base + head}
    if len(keys) != 1:
        print(f"refusing to compare records of different corpora, workloads "
              f"or trace modes: {sorted(keys)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    meta = {d["name"]: d for d in declared["end_to_end"] + declared["per_layer"]}
    print(f"{'metric':40s} {'base':>12s} {'spread':>7s} {'head':>12s} {'spread':>7s} {'change':>8s}")
    worse = 0
    for name in sorted({k for r in base + head for k in r["metrics"]}):
        b = [r["metrics"][name]["value"] for r in base if name in r["metrics"]]
        h = [r["metrics"][name]["value"] for r in head if name in r["metrics"]]
        if not b or not h:
            continue
        mb, mh = statistics.median(b), statistics.median(h)
        change = (mh - mb) / mb if mb else 0.0
        d = meta.get(name, {})
        if d.get("better") == "higher":
            change = -change
        flag = ""
        if "bound" in d and change > d["bound"]:
            flag, worse = "  WORSE", worse + 1
        print(f"{name:40s} {mb:12.4f} {spread(b):7.3f} {mh:12.4f} {spread(h):7.3f} {change:+8.3f}{flag}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
