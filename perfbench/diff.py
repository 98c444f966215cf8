#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload, metric by
metric: the per-layer split of traced runs and the end-to-end metrics of
untraced ones.

    python3 perfbench/diff.py BASE NEW [--all]

BASE and NEW are run records (`.bench_build/runs/<workload>-seed<n>-trace<t>.json`,
written by every `run.py` run) or directories holding them. Records of the
same workload and trace mode are pooled by median across seeds. Each
line prints the base value, the new value and their ratio, so a change
shows where its saving landed. By default only metrics that moved by
more than 5 % (or appeared or vanished) are listed; `--all` lists every
one.
"""
import argparse
import glob
import json
import os
import re
import statistics
import sys

TAG = re.compile(r"^(?P<workload>.+)-seed(?P<seed>\d+)-trace(?P<trace>[01])\.json$")


def load(path):
    """{(workload, trace): {metric: [values]}} from a file or directory."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = {}
    for f in files:
        m = TAG.match(os.path.basename(f))
        if not m:
            continue
        with open(f) as fh:
            run = json.load(fh)
        key = (m.group("workload"), int(m.group("trace")))
        for name, value in run.get("metrics", {}).items():
            out.setdefault(key, {}).setdefault(name, []).append(float(value))
    return out


def pooled(runs):
    return {k: {m: statistics.median(v) for m, v in ms.items()}
            for k, ms in runs.items()}


def rows(base, new, show_all=False, threshold=0.05):
    """(workload, mode, metric, base, new, ratio) for each compared metric."""
    out = []
    for key in sorted(set(base) | set(new)):
        b, n = base.get(key, {}), new.get(key, {})
        mode = "per_layer" if key[1] else "end_to_end"
        for metric in sorted(set(b) | set(n)):
            bv, nv = b.get(metric), n.get(metric)
            if bv is None or nv is None:
                out.append((key[0], mode, metric, bv, nv, None))
                continue
            ratio = nv / bv if bv else (1.0 if nv == bv else float("inf"))
            if show_all or abs(ratio - 1.0) > threshold:
                out.append((key[0], mode, metric, bv, nv, ratio))
    return out


def fmt(v):
    return "-" if v is None else ("%.4g" % v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args(argv)
    base, new = pooled(load(args.base)), pooled(load(args.new))
    if not base or not new:
        print("no run records found", file=sys.stderr)
        return 2
    print("%-11s %-10s %-44s %12s %12s %8s" % (
        "workload", "mode", "metric", "base", "new", "new/base"))
    for w, mode, metric, bv, nv, ratio in rows(base, new, args.all):
        print("%-11s %-10s %-44s %12s %12s %8s" % (
            w, mode, metric, fmt(bv), fmt(nv), fmt(ratio)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
