#!/usr/bin/env python3
"""Per-layer roll-up and layer-by-layer diff of benchmark artifacts.

    python3 perfbench/rollup.py table perfbench/work/artifacts/*-t1.json
    python3 perfbench/rollup.py diff BEFORE.json AFTER.json

`table` prints, per workload, every metric of the given artifacts (the
median when several artifacts share a workload) plus each span kind's
self time. `diff` prints both artifacts' values side by side with the
after/before ratio, largest moves first.
"""
import json
import sys

import stats


def load(path):
    with open(path) as f:
        art = json.load(f)
    vals = {k: v["value"] for k, v in art["result"]["metrics"].items()}
    for k in ("latency_p90_s", "failed_share", "state_bytes_per_doc",
              "tracing_overhead_ratio", "host_steal_share"):
        if k in art["summary"]:
            vals[f"summary.{k}"] = art["summary"][k]
    return art["workload"], vals


def table(paths):
    by_wl = {}
    for p in paths:
        wl, vals = load(p)
        by_wl.setdefault(wl, []).append(vals)
    for wl, runs in sorted(by_wl.items()):
        print(f"== {wl} ({len(runs)} artifact{'s' * (len(runs) > 1)})")
        names = sorted({k for r in runs for k in r})
        for k in names:
            xs = [r[k] for r in runs if k in r]
            print(f"  {k:32s} {stats.median(xs):>16.6g}")


def diff(before, after):
    wa, a = load(before)
    wb, b = load(after)
    if wa != wb:
        sys.exit(f"different workloads: {wa} vs {wb}")
    rows = []
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k), b.get(k)
        ratio = (y / x) if x and y is not None else None
        rows.append((k, x, y, ratio))
    rows.sort(key=lambda r: -abs((r[3] or 1.0) - 1.0))
    print(f"== {wa}: {before} -> {after}")
    print(f"  {'metric':32s} {'before':>14s} {'after':>14s} {'after/before':>13s}")
    for k, x, y, r in rows:
        fx = f"{x:.6g}" if x is not None else "-"
        fy = f"{y:.6g}" if y is not None else "-"
        fr = f"{r:.3f}" if r is not None else "-"
        print(f"  {k:32s} {fx:>14s} {fy:>14s} {fr:>13s}")


def main(argv):
    if len(argv) >= 2 and argv[0] == "table":
        table(argv[1:])
    elif len(argv) == 3 and argv[0] == "diff":
        diff(argv[1], argv[2])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
