#!/usr/bin/env python3
"""Compare two sets of benchmark results (perfbench/out/result-*.json).

    python3 perfbench/compare.py BASE_DIR NEW_DIR

For every workload and metric present in both sets, prints the median
and quartiles of each side and the change of the medians as a share of
the base median, against the bound in BENCHMARK.json. Refuses (exit 2)
when the two sets come from different hosts: results are only
comparable on the same core count, memory, CPU model, heap, Java and
Spark. Exit 1 when an end-to-end median got worse by more than its bound.
"""
import glob
import json
import os
import statistics
import sys

HOST_KEYS = ("nproc", "mem_total", "cpu_model", "heap", "max_heap_mb", "java", "spark", "fixture_sf")


def load(d):
    runs = []
    for f in sorted(glob.glob(os.path.join(d, "result-*.json"))):
        with open(f) as fh:
            runs.append(json.load(fh))
    if not runs:
        sys.exit(f"no result-*.json under {d}")
    return runs


def host_key(run):
    return tuple(str(run["host"].get(k)) for k in HOST_KEYS)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    hosts = {host_key(r) for r in base + new}
    if len(hosts) != 1:
        print("refusing to compare results from different hosts:", file=sys.stderr)
        for h in sorted(hosts):
            print("  " + ", ".join(f"{k}={v}" for k, v in zip(HOST_KEYS, h)), file=sys.stderr)
        sys.exit(2)
    spec_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                             "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worse = False
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        for traced in (False, True):
            b = [r for r in base if r["workload"] == w and r["trace"] == traced]
            n = [r for r in new if r["workload"] == w and r["trace"] == traced]
            if not b or not n:
                continue
            print(f"== {w} ({'traced' if traced else 'untraced'}; {len(b)} vs {len(n)} runs)")
            for m in sorted(set(b[0]["metrics"]) & set(n[0]["metrics"])):
                bq = quartiles([r["metrics"][m] for r in b])
                nq = quartiles([r["metrics"][m] for r in n])
                change = (nq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
                flag = ""
                if m in bounds and not traced:
                    better = bounds[m]["better"]
                    regress = change > bounds[m]["bound"] if better == "lower" \
                        else -change > bounds[m]["bound"]
                    flag = "  WORSE beyond bound" if regress else ""
                    worse |= regress
                print(f"  {m:32s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                      f"new {nq[1]:.4g} [{nq[0]:.4g}, {nq[2]:.4g}]  {change:+.1%}{flag}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
