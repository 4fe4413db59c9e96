#!/usr/bin/env python3
"""Per-layer diff of two traced runs, workload by workload.

    python3 perfbench/diff.py BASE NEW

BASE and NEW are trace files or directories of them, as a traced run writes
them (`.bench_build/trace/<workload>-seed<n>.json`; copy the directory aside
before rebuilding at another commit). When a side holds several seeds of one
workload, each metric is the median over them. Every line shows the base
value, the new value and their ratio new/base with its base.
"""
import json
import pathlib
import statistics
import sys


def load(arg):
    p = pathlib.Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        d = json.loads(f.read_text())
        runs.setdefault(d["workload"], []).append(d)
    if not runs:
        sys.exit(f"diff: no trace files in {arg}")
    return runs


def medians(runs):
    out = {}
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
        out[name] = (statistics.median(vals), runs[0]["metrics"][name]["unit"], len(vals))
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    for w in sorted(set(base) | set(new)):
        if w not in base or w not in new:
            print(f"{w}: only in {'base' if w in base else 'new'}; skipped\n")
            continue
        b, n = medians(base[w]), medians(new[w])
        commits = lambda rs: ",".join(sorted({r["commit"] for r in rs}))
        print(f"{w}: base {commits(base[w])} ({len(base[w])} runs) -> "
              f"new {commits(new[w])} ({len(new[w])} runs), cores {base[w][0]['cores']}")
        print(f"  {'metric':<28} {'unit':<6} {'base':>14} {'new':>14}  ratio new/base")
        for name, (bv, unit, _) in b.items():
            if name not in n:
                continue
            nv = n[name][0]
            ratio = f"{nv / bv:.3f} of {bv:.4g}" if bv != 0 else "n/a (base is 0)"
            print(f"  {name:<28} {unit:<6} {bv:>14.4f} {nv:>14.4f}  {ratio}")
        print()


if __name__ == "__main__":
    main()
