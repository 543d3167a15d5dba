#!/usr/bin/env python3
"""Summarise and compare benchmark result files.

A result file is the JSON-lines file that `perfbench/run.py --out FILE`
appends to, one record per run.

    python3 perfbench/compare.py spread A.jsonl
        per workload and metric: runs, median, quartiles and the quartile
        distance as a share of the median (the run-to-run spread)

    python3 perfbench/compare.py diff A.jsonl B.jsonl
        per workload and metric: both medians and the change. A change is
        flagged only when it is larger than the spread of either side, the
        spread being the distance between the first and third quartile.

Medians and quartiles are Python's statistics.quantiles(values, n=4).
"""
import json
import statistics
import sys


def load(path):
    """{(workload, trace): {metric: [values]}}."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = json.loads(line)
            key = (rec["workload"], rec["trace"])
            for name, m in rec["result"]["metrics"].items():
                runs.setdefault(key, {}).setdefault(name, []).append(m["value"])
    return runs


def summary(values):
    vs = [v for v in values if v is not None]
    if len(vs) < 2:
        v = vs[0] if vs else float("nan")
        return v, v, v, 0.0
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def spread(path):
    runs = load(path)
    print("%-14s %-5s %-34s %5s %14s %14s %14s %8s" %
          ("workload", "trace", "metric", "runs", "median", "q1", "q3", "iqr/med"))
    for (w, t), metrics in sorted(runs.items()):
        for name, vs in metrics.items():
            med, q1, q3, rel = summary(vs)
            print("%-14s %-5d %-34s %5d %14.6g %14.6g %14.6g %8.3f" %
                  (w, t, name, len(vs), med, q1, q3, rel))


def diff(path_a, path_b):
    a = load(path_a)
    b = load(path_b)
    print("%-14s %-5s %-34s %14s %14s %9s  %s" %
          ("workload", "trace", "metric", "median A", "median B", "change", "verdict"))
    for key in sorted(set(a) & set(b)):
        for name in a[key]:
            if name not in b[key]:
                continue
            ma, qa1, qa3, _ = summary(a[key][name])
            mb, qb1, qb3, _ = summary(b[key][name])
            delta = mb - ma
            spread_ = max(qa3 - qa1, qb3 - qb1)
            change = delta / ma if ma else 0.0
            verdict = "CHANGED" if abs(delta) > spread_ and delta != 0 else "within spread"
            print("%-14s %-5d %-34s %14.6g %14.6g %+8.1f%%  %s" %
                  (key[0], key[1], name, ma, mb, 100 * change, verdict))


def main(argv):
    if len(argv) == 3 and argv[1] == "spread":
        spread(argv[2])
    elif len(argv) == 4 and argv[1] == "diff":
        diff(argv[2], argv[3])
    else:
        print(__doc__, file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
