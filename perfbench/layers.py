#!/usr/bin/env python3
"""Print the per-layer metrics of benchmark runs, or diff two sets of runs.

    python3 perfbench/layers.py RUNS            # one set
    python3 perfbench/layers.py BASE NEW        # diff, workload by workload

RUNS, BASE and NEW are run records written by run.py (a file, or a directory
of them such as .bench_build/work/results or perfbench/results). Traced
records (--trace 1) give the layer metrics, the self time of each span name
and the tracing overhead (traced pass minus untraced pass); untraced records
give the end-to-end metrics. Records of one workload and mode are combined by
taking the median of each metric.
"""
import json
import os
import statistics
import sys


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json"))
    runs = {}
    for f in files:
        with open(f) as h:
            r = json.load(h)
        runs.setdefault((r["workload"], r["trace"] == "true" or r["trace"] is True), []).append(r)
    return runs


def medians(records, key="metrics"):
    out = {}
    for name in records[0][key]:
        vals = [r[key][name]["value"] for r in records if r[key].get(name, {}).get("value") is not None]
        out[name] = (statistics.median(vals) if vals else None, records[0][key][name]["unit"])
    return out


def self_times(records):
    """Median over runs of each span name's total self time per traced pass."""
    per_run = []
    for r in records:
        passes = max(1, sum(1 for s in r["spans"] if s["name"] == "pass"))
        tot = {}
        for s in r["spans"]:
            if s["name"] != "pass":
                tot[s["name"]] = tot.get(s["name"], 0.0) + s["self_s"] / passes
        per_run.append(tot)
    names = sorted({n for t in per_run for n in t})
    return {n: statistics.median(t.get(n, 0.0) for t in per_run) for n in names}


def fmt(v):
    return "-" if v is None else f"{v:.4g}"


def show(runs):
    for (wl, traced), recs in sorted(runs.items()):
        print(f"== {wl} ({'traced' if traced else 'untraced'}, {len(recs)} run(s))")
        for name, (v, unit) in medians(recs).items():
            print(f"  {name:36s} {fmt(v):>12s} {unit}")
        if not traced:
            for name, (v, unit) in medians(recs, "summary").items():
                print(f"  summary.{name:28s} {fmt(v):>12s} {unit}")
            continue
        m = medians(recs)
        tp, up = m["trace.pass_s"][0], m["trace.untraced_pass_s"][0]
        if tp and up:
            print(f"  tracing overhead: {tp - up:+.3f} s per pass ({(tp - up) / up:+.1%} of {up:.3f} s)")
        print("  self time per pass, by span name:")
        for n, s in sorted(self_times(recs).items(), key=lambda x: -x[1]):
            print(f"    {n:34s} {s:10.3f} s")


def diff(base, new):
    for key in sorted(set(base) | set(new)):
        wl, traced = key
        if key not in base or key not in new:
            print(f"== {wl}: only in {'NEW' if key in new else 'BASE'}")
            continue
        print(f"== {wl} ({'traced' if traced else 'untraced'}): BASE {len(base[key])} run(s), NEW {len(new[key])} run(s)")
        a, b = medians(base[key]), medians(new[key])
        for name in a:
            va, unit = a[name]
            vb = b.get(name, (None, unit))[0]
            rel = "" if not va or vb is None else f"{(vb - va) / abs(va):+8.1%}"
            print(f"  {name:36s} {fmt(va):>12s} {fmt(vb):>12s} {rel:>9s} {unit}")


def main():
    if len(sys.argv) == 2:
        show(load(sys.argv[1]))
    elif len(sys.argv) == 3:
        diff(load(sys.argv[1]), load(sys.argv[2]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
