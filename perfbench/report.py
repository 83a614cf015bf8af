#!/usr/bin/env python3
"""Diff two sets of benchmark result files, per (metric, workload).

    python3 perfbench/report.py BASE NEW [--all]

BASE and NEW are each a result file, a directory of result files (such
as .bench_build/results) or a glob. For every end-to-end metric and
workload the report prints the median and quartiles of both sets and the
change of the median; beneath each row it lists the per-layer metrics
that explain that end-to-end metric, with their change (only those that
moved by more than 5% unless --all is given).
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))

# which layers move which end-to-end metric (metric-name prefixes)
EXPLAINS = {
    "setup_s": ["session.", "artifacts.build_s", "artifacts.built", "setup.",
                "jvm.jit_ms", "host."],
    "latency_p50_ms": ["plan.", "catalyst.", "sched."],
    "latency_p95_ms": ["sched.", "operators.", "jvm.gc_pause_ms"],
    "pass_s": ["exec.", "shuffle.", "operators.", "corpus.", "mr.", "heap_peak_mb",
               "jvm.jit_pass_ms", "host."],
}


def load(spec):
    if os.path.isdir(spec):
        files = glob.glob(os.path.join(spec, "*.json"))
    elif os.path.isfile(spec):
        files = [spec]
    else:
        files = glob.glob(spec)
    if not files:
        raise SystemExit(f"no result files in {spec}")
    runs = {}
    for f in sorted(files):
        with open(f) as fh:
            r = json.load(fh)
        values = dict(r["e2e"], **r["layers"])
        runs.setdefault(r["workload"], []).append(values)
    return runs


def summary(vals):
    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    med = statistics.median(vals)
    q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
    return med, q1, q3


def change(a, b):
    if a is None or b is None:
        return "n/a"
    if a[0] == 0:
        return "same" if b[0] == 0 else "new"
    return f"{100 * (b[0] / a[0] - 1):+.1f}%"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--all", action="store_true", help="list every per-layer metric")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    base, new = load(a.base), load(a.new)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    layer_names = [m["name"] for m in spec["per_layer"]]
    fmt = "{:<44} {:>26} {:>26} {:>9}"
    for wl in sorted(set(base) & set(new)):
        print(f"\n== {wl}: {len(base[wl])} base runs, {len(new[wl])} new runs")
        print(fmt.format("metric [unit]", "base median [q1, q3]", "new median [q1, q3]", "change"))

        def row(name, indent=""):
            sa = summary([r.get(name) for r in base[wl]])
            sb = summary([r.get(name) for r in new[wl]])
            show = lambda s: "-" if s is None else f"{s[0]:.4g} [{s[1]:.4g}, {s[2]:.4g}]"
            return sa, sb, fmt.format(f"{indent}{name} [{units.get(name, '')}]",
                                      show(sa), show(sb), change(sa, sb))

        for m in spec["end_to_end"]:
            print(row(m["name"])[2])
            for layer in layer_names:
                if any(layer.startswith(p) for p in EXPLAINS.get(m["name"], [])):
                    sa, sb, line = row(layer, "    ")
                    moved = sa and sb and (sa[0] != sb[0]) and (
                        sa[0] == 0 or abs(sb[0] / sa[0] - 1) > 0.05)
                    if a.all or moved:
                        print(line)


if __name__ == "__main__":
    main()
