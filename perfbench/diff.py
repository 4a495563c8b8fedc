#!/usr/bin/env python3
"""Compare two benchmark run records (written by run.py under
.bench_build/records/).

Usage: python3 perfbench/diff.py OLD.json NEW.json

For traced records it names every op whose structural counters moved
(driver.jobs, driver.stages, driver.tasks, stage.shuffle_write_mb: any
change) or whose stage.task_cpu_s moved by more than CPU_TOL, and the
layer each belongs to. Those counters do not depend on host load, so the
verdict holds even when both runs were contended; the host stamps are
printed next to it. Two records of the same seed must also agree on
every op's output row count and row hash. Timings are listed as relative changes.
Exit code 1 when a structural counter or an output moved.
"""
import argparse
import json

STRUCTURAL = ["driver.jobs", "driver.stages", "driver.tasks", "stage.shuffle_write_mb"]
# Relative move of an op's stage.task_cpu_s that the diff names.
CPU_TOL = 0.25


def contended(rec):
    h = rec.get("host", {})
    return (h.get("during", {}).get("steal_share", 0) > 0.05
            or any(s.get("loadavg", [0])[0] > s.get("cpus", 1) or s.get("cpu_spread", 1) > 1.5
                   for k, s in h.items() if k != "during"))


def stamp(rec):
    h = rec.get("host", {}).get("before", {})
    d = rec.get("host", {}).get("during", {})
    return (f"load {h.get('loadavg', [0])[0]:.2f}, cpu_spread {h.get('cpu_spread', 0):.2f}, "
            f"steal {d.get('steal_share', 0):.1%}" + (" CONTENDED" if contended(rec) else ""))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    a = ap.parse_args()
    with open(a.old) as f:
        old = json.load(f)
    with open(a.new) as f:
        new = json.load(f)
    if old["workload"] != new["workload"]:
        raise SystemExit(f"different workloads: {old['workload']} vs {new['workload']}")
    print(f"workload {new['workload']}")
    print(f"  old: seed {old['seed']}, trace {old['trace']}, {stamp(old)}")
    print(f"  new: seed {new['seed']}, trace {new['trace']}, {stamp(new)}")

    moved = 0
    if old["seed"] == new["seed"]:
        for op, out in sorted(new.get("outputs", {}).items()):
            if old.get("outputs", {}).get(op) not in (None, out):
                print(f"  {op}: output differs on the same seed: {old['outputs'][op]} -> {out}")
                moved += 1
    for op in sorted(set(old.get("per_op", {})) | set(new.get("per_op", {}))):
        o = old.get("per_op", {}).get(op)
        n = new.get("per_op", {}).get(op)
        if o is None or n is None:
            print(f"  {op}: only in {'new' if o is None else 'old'} record")
            moved += 1
            continue
        for k in STRUCTURAL:
            if abs(o.get(k, 0) - n.get(k, 0)) > 1e-9:
                print(f"  {op}: {k} {o.get(k, 0):g} -> {n.get(k, 0):g}  (layer {k.split('.')[0]})")
                moved += 1
        oc, nc = o.get("stage.task_cpu_s", 0), n.get("stage.task_cpu_s", 0)
        if abs(nc - oc) > CPU_TOL * max(oc, 1e-3):
            print(f"  {op}: stage.task_cpu_s {oc:.3f} -> {nc:.3f}  (layer stage)")
    if not old.get("per_op") or not new.get("per_op"):
        print("  (per-op layer counters need two traced records, --trace 1)")

    print("  metrics (new / old - 1):")
    for k in sorted(set(old["metrics"]) & set(new["metrics"])):
        ov, nv = old["metrics"][k]["value"], new["metrics"][k]["value"]
        rel = f"{nv / ov - 1:+.1%}" if ov else ("same" if nv == ov else "new")
        print(f"    {k:40s} {ov:12.4f} {nv:12.4f}  {rel}")
    print(f"structural or output moves: {moved}")
    raise SystemExit(1 if moved else 0)


if __name__ == "__main__":
    main()
