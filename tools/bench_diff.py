#!/usr/bin/env python3
"""Diff two Bench JSON lines (target/bench.json files): per-query delta,
sorted by absolute improvement, with totals. Usage:
    bench_diff.py BEFORE.json AFTER.json [min_abs_delta]
Accepts either the raw one-line bench JSON or the driver artifact
wrapper ({"parsed": {...}}).

When both inputs are perfbench result lines ({"correct": ..., "metrics":
...}, the last stdout line of perfbench/run.py; a file holding a whole
run's output works too), prints instead, for each end-to-end metric of
BENCHMARK.json, the before -> after delta in % and whether it is worse
than the metric's bound, plus the failed/attempted ratio of each side.
Traced runs (--trace 1) carry per-layer metrics instead; those print
with their delta and no bound, except the ones 0 on both sides."""
import json, os, sys

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "..", "BENCHMARK.json")

def load(path):
    with open(path) as f:
        text = f.read()
    try:
        d = json.loads(text)
    except ValueError:
        # a whole perfbench run's output: the result is its last
        # {"correct": ...} line
        lines = [l for l in text.splitlines() if l.startswith('{"correct"')]
        if not lines:
            raise
        d = json.loads(lines[-1])
    if "parsed" in d:
        d = d["parsed"]
    return d

def is_perfbench(d):
    return isinstance(d, dict) and "correct" in d and "metrics" in d

def perfbench_diff(a, b):
    with open(BENCHMARK) as f:
        declared = json.load(f)
    for name, d in (("before", a), ("after", b)):
        print(f"{name}: correct={d['correct']}  "
              f"failed/attempted {d.get('failed')}/{d.get('attempted')}")
    for m in declared["end_to_end"] + declared["per_layer"]:
        name, bound = m["name"], m.get("bound")
        va = a["metrics"].get(name, {}).get("value")
        vb = b["metrics"].get(name, {}).get("value")
        if va is None and vb is None or bound is None and va == vb == 0:
            continue
        if va is None or vb is None:
            print(f"  {name:<12} missing ({va} -> {vb})")
            continue
        line = f"  {name:<12} {va:.4g} -> {vb:.4g} {m['unit']}"
        if va == 0:
            print(f"{line}  (no % on a 0 base)")
            continue
        change = (vb - va) / abs(va)
        if bound is None:
            print(f"{line}  ({change:+.1%})")
            continue
        worse = -change if m["better"] == "higher" else change
        verdict = "WORSE than bound" if worse > bound else "within bound"
        print(f"{line}  ({change:+.1%}; bound {bound:.0%}: {verdict})")

a = load(sys.argv[1])
b = load(sys.argv[2])
if is_perfbench(a) and is_perfbench(b):
    perfbench_diff(a, b)
    sys.exit(0)
thr = float(sys.argv[3]) if len(sys.argv) > 3 else 0.3
qa, qb = a["queries"], b["queries"]
rows = []
for k in sorted(qa.keys() | qb.keys(), key=lambda x: int(x) if x.isdigit() else 0):
    va, vb = qa.get(k), qb.get(k)
    if va is None or vb is None:
        rows.append((k, va, vb, None))
    else:
        rows.append((k, va, vb, vb - va))
print(f"total: {a['value']} -> {b['value']}  (vsb {a.get('vsb')} -> {b.get('vsb')})")
moved = [r for r in rows if r[3] is not None and abs(r[3]) >= thr]
for k, va, vb, d in sorted(moved, key=lambda r: r[3]):
    print(f"  q{k:>4}: {va:6.1f} -> {vb:6.1f}  ({d:+.1f})")
imp = sum(d for *_, d in moved if d and d < 0)
reg = sum(d for *_, d in moved if d and d > 0)
print(f"moved >= {thr}s: improved {imp:.1f}s, regressed +{reg:.1f}s")
