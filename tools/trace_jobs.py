#!/usr/bin/env python3
"""Compare the job traces of two sets of traced perfbench runs.

    python3 tools/trace_jobs.py --before A1.out A2.out A3.out \\
        --after B1.out B2.out B3.out

Each file is the output of one
`python3 perfbench/run.py --workload W --seed S --trace 1 > run.out 2>&1`
run: its `{"detail": ...}` line lists every timed job as
`<layer> <- <description>` (`detail.jobs`), and its result line holds
the per-layer `<layer>.jobs` and `<layer>.wall_s` metrics. Captured with
`2>&1`, the file also holds the JVM's stderr.

Traced job counts vary from run to run on one and the same commit (AQE
splits some jobs differently), so every figure is printed as
`median [min-max]` over the runs of a side. The tool prints, side by
side:

  * per side, how many runs hold a Spark `non-existent accumulator`
    ERROR line, and how many such lines they hold (untraced runs,
    `--trace 0`, count here too, and only here);
  * jobs and wall seconds per layer, with the total over all layers;
  * job counts per description (label), for every label either side
    ran.
"""
import argparse
import collections
import json
import statistics
import sys

ACCUMULATOR_ERROR = "non-existent accumulator"


def read_run(path):
    """(per-layer metrics {layer: {"jobs": n, "wall_s": s}} or None when
    untraced, job count per (layer, description), correct flag, number
    of `non-existent accumulator` lines) of one run."""
    detail = result = None
    acc_errors = 0
    with open(path, errors="replace") as fh:
        for line in fh:
            if line.startswith('{"detail"'):
                detail = json.loads(line)["detail"]
            elif line.startswith('{"correct"'):
                result = json.loads(line)
            elif ACCUMULATOR_ERROR in line:
                acc_errors += 1
    if detail is None or result is None:
        sys.exit(f"trace_jobs: {path} is not the output of a perfbench run")
    if "jobs" not in detail:
        return None, collections.Counter(), result["correct"], acc_errors
    layers = collections.defaultdict(dict)
    for name, m in result["metrics"].items():
        layer, _, metric = name.rpartition(".")
        if metric in ("jobs", "wall_s") and layer:
            layers[layer][metric] = m["value"]
    labels = collections.Counter()
    for job in detail["jobs"]:
        layer, _, desc = job.partition(" <- ")
        labels[(layer, desc)] += 1
    return layers, labels, result["correct"], acc_errors


def spread(xs, fmt):
    """`median [min-max]` of xs, each number formatted with fmt."""
    if not xs:
        return "-"
    med, lo, hi = statistics.median(xs), min(xs), max(xs)
    if lo == hi:
        return fmt.format(med)
    return f"{fmt.format(med)} [{fmt.format(lo)}-{fmt.format(hi)}]"


def table(header, rows):
    widths = [max(len(str(r[i])) for r in [header] + rows) for i in range(len(header))]
    for r in [header] + rows:
        print("  ".join(str(c).ljust(w) for c, w in zip(r, widths)).rstrip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--before", nargs="+", required=True, help="perfbench runs of side A")
    ap.add_argument("--after", nargs="+", required=True, help="perfbench runs of side B")
    a = ap.parse_args()
    before = [read_run(p) for p in a.before]
    after = [read_run(p) for p in a.after]
    for side, runs in (("before", before), ("after", after)):
        print(f"{side}: {len(runs)} runs ({sum(r[0] is not None for r in runs)} traced, "
              f"{sum(r[2] for r in runs)} correct); '{ACCUMULATOR_ERROR}' lines "
              f"in {sum(r[3] > 0 for r in runs)} runs, {sum(r[3] for r in runs)} in all")
    # the job tables read the traced runs only
    before = [r for r in before if r[0] is not None]
    after = [r for r in after if r[0] is not None]
    if not before and not after:
        return

    # layers in the order the runs report them; the total last
    layers = list(dict.fromkeys(l for runs in (before, after) for r in runs for l in r[0]))

    def per_layer(runs, layer, metric):
        return [r[0].get(layer, {}).get(metric, 0) for r in runs]

    def total(runs, metric):
        return [sum(m.get(metric, 0) for m in r[0].values()) for r in runs]

    rows = [[l, spread(per_layer(before, l, "jobs"), "{:g}"),
             spread(per_layer(after, l, "jobs"), "{:g}"),
             spread(per_layer(before, l, "wall_s"), "{:.2f}"),
             spread(per_layer(after, l, "wall_s"), "{:.2f}")] for l in layers]
    rows.append(["all (sum)", spread(total(before, "jobs"), "{:g}"),
                 spread(total(after, "jobs"), "{:g}"),
                 spread(total(before, "wall_s"), "{:.2f}"),
                 spread(total(after, "wall_s"), "{:.2f}")])
    print()
    table(["layer", "jobs before", "jobs after", "wall_s before", "wall_s after"], rows)

    keys = sorted({k for runs in (before, after) for r in runs for k in r[1]})
    rows = [[layer, spread([r[1].get((layer, desc), 0) for r in before], "{:g}"),
             spread([r[1].get((layer, desc), 0) for r in after], "{:g}"), desc]
            for layer, desc in keys]
    print()
    table(["layer", "before", "after", "label"], rows)


if __name__ == "__main__":
    main()
