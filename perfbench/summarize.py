#!/usr/bin/env python3
"""Summarize saved run.py outputs, set by set: per workload and metric,
the median, the quartiles (statistics.quantiles, n=4) and the spread
(q3 - q1) / median, which is the figure each bound in BENCHMARK.json is
checked against. With more than one set, `drift` is each later set's
median against the first set's, (m - m1) / m1: two sets of the same
code agree when no metric drifts the worse way by more than its bound.

    python3 perfbench/summarize.py set1/ [set2/ ...] [--json baseline.json]

Each directory holds one set of runs, one file (*.txt) per run with the
run's standard output. A run that printed no result or was not correct
is reported and left out.
"""
import argparse
import glob
import json
import os
import statistics
import sys


def load(directory):
    runs = []
    for p in sorted(glob.glob(os.path.join(directory, "*.txt"))):
        with open(p) as fh:
            lines = [x for x in fh.read().splitlines() if x.strip()]
        if len(lines) < 2:
            print(f"{p}: no result", file=sys.stderr)
            continue
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
        if not result["correct"] or result["failed"]:
            print(f"{p}: not correct: {detail.get('failures')}", file=sys.stderr)
            continue
        runs.append((detail, result))
    return runs


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def summarize(sets):
    out = {}
    for k, runs in enumerate(sets):
        for detail, result in runs:
            w = out.setdefault(detail["workload"], {"seeds": [[] for _ in sets], "metrics": {}})
            w["seeds"][k].append(detail["seed"])
            for name, m in result["metrics"].items():
                e = w["metrics"].setdefault(name, {"unit": m["unit"], "values": [[] for _ in sets]})
                e["values"][k].append(m["value"])
    for w in out.values():
        for s in w["seeds"]:
            s.sort()
        for m in w["metrics"].values():
            m["sets"] = [stats(v) for v in m.pop("values") if v]
            first = m["sets"][0]["median"]
            if len(m["sets"]) > 1 and first:
                m["drift"] = [(s["median"] - first) / first for s in m["sets"][1:]]
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("sets", nargs="+", metavar="DIR")
    p.add_argument("--json", help="also write the summary, with the host shape, here")
    a = p.parse_args()
    sets = [load(d) for d in a.sets]
    summary = summarize(sets)
    for w, s in sorted(summary.items()):
        for name, m in s["metrics"].items():
            for k, st in enumerate(m["sets"]):
                drift = f" drift={m['drift'][k - 1]:+.3f}" if k else ""
                print(f"{w:14s} {name:14s} {m['unit']:5s} set{k + 1} n={st['n']:2d} "
                      f"median={st['median']:.4g} q1={st['q1']:.4g} q3={st['q3']:.4g} "
                      f"spread={st['spread']:.3f}{drift}")
    if a.json:
        hosts = {json.dumps(d.get("host"), sort_keys=True) for runs in sets for d, _ in runs}
        with open(a.json, "w") as fh:
            json.dump({"hosts": [json.loads(h) for h in sorted(hosts)],
                       "workloads": summary}, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
