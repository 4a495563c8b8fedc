#!/usr/bin/env python3
"""Benchmark driver: builds the engine from source, generates the inputs
from the seed, runs one workload in one JVM, checks the outputs and prints
one JSON result line.

Usage (from the checkout root):
  python3 perfbench/run.py --workload ingest_e1 --seed 1 --seconds 10 --trace 0

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full run record (every metric, the per-op layer breakdown and a
host-load stamp) is written under .bench_build/records/; compare two
records with perfbench/diff.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 170
# A fixed set of JIT compiler threads: none ends and takes its CPU count
# with it (pass_cpu_s leaves the JIT out, README).
JAVA_OPTS = ["-XX:-UseDynamicNumberOfCompilerThreads"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# The metrics a run prints (BENCHMARK.json lists the same), with units.
# --trace 0 prints END_TO_END; --trace 1 prints PER_LAYER plus one
# pipeline.prepare.<artifact>_s per artifact in workloads.json. Wall time
# per pass is in the record and in PER_LAYER only: on a shared host its
# run-to-run spread exceeds any bound the benchmark may set (README).
END_TO_END = {"pass_cpu_s": "s", "live_heap_mb": "MB", "setup_s": "s"}
# Calibration loop time (ns) at the reference host speed. Times in
# END_TO_END are scaled by REF_CAL_NS / (the run's median loop time), so
# that a run on a host slowed by other tenants reads as one at that speed.
REF_CAL_NS = 45e6
PER_LAYER = {
    "driver.jobs": "count", "driver.stages": "count", "driver.tasks": "count",
    "driver.outside_stage_s": "s", "driver.gc_s": "s",
    "stage.union_s": "s", "stage.task_run_s": "s", "stage.task_cpu_s": "s",
    "stage.task_gc_s": "s", "stage.shuffle_write_mb": "MB", "stage.shuffle_read_mb": "MB",
    "stage.spill_mb": "MB", "stage.core_busy_ratio": "ratio",
    "tables.input_mb": "MB", "tables.input_rows": "count",
    "tables.input_rows_per_output_row": "ratio",
    "operators.build_s": "s", "operators.action_s": "s", "operators.build_jobs": "count",
    "operators.action_jobs": "count", "operators.output_rows": "count",
    "materialize.persisted_rdds": "count", "materialize.persisted_mb": "MB",
    "plans.sql_executions": "count", "plans.actions": "count", "plans.planning_s": "s",
    "pipeline.session_s": "s", "pipeline.prepare_s": "s", "pipeline.warm_s": "s",
    "pipeline.jvm_start_s": "s", "pipeline.cold_setup_s": "s",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.overhead_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_s": "s",
    "sinks.upsert_s": "s", "sinks.rows_inserted": "count", "sinks.rows_updated": "count",
    "trace.overhead_s": "s", "trace.overhead_ratio": "ratio", "check.overhead_s": "s",
    "pass_wall_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    sbt_opts = os.environ.get("SBT_OPTS") or " ".join(
        ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
        + ([f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"]
           if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else []))
    env = dict(os.environ, SBT_OPTS=sbt_opts, COURSIER_MODE="offline")
    cmd = ["sbt", f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", "--batch",
           "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log("building engine and harness with sbt")
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def host_stamp(work):
    """Load average plus a short CPU and IO sample, so a contended run
    shows itself. cpu_spread = slowest / fastest of five identical loops.
    The record adds the steal share during the run and the spread of the
    harness's own calibration loop, timed after every pass."""
    samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(200_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        samples.append(time.perf_counter() - t0)
    path = os.path.join(work, "io_probe")
    t0 = time.perf_counter()
    with open(path, "wb") as f:
        f.write(os.urandom(8 << 20))
        f.flush()
        os.fsync(f.fileno())
    io_s = time.perf_counter() - t0
    os.remove(path)
    return {"loadavg": list(os.getloadavg()), "cpus": os.cpu_count(),
            "cpu_sample_s": min(samples), "cpu_spread": max(samples) / min(samples),
            "io_write_mb_per_s": 8 / io_s}


def cpu_ticks():
    """Aggregate /proc/stat CPU ticks (user ... steal), or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def host_share(t0, t1):
    """Busy and steal shares of all CPUs between two cpu_ticks() readings:
    steal is time the hypervisor gave our CPUs to another tenant."""
    if not t0 or not t1:
        return {}
    d = [b - a for a, b in zip(t0, t1)]
    total = max(1, sum(d))
    return {"busy_share": (total - d[3] - d[4]) / total, "steal_share": d[7] / total}


def cal_spread(rec):
    """Slowest / fastest calibration loop of the run (1.0 on a quiet host)."""
    cal = [rec["setup_cal_wall_ns"]] + [p["cal_wall_ns"] for p in rec["passes"]]
    return max(cal) / min(cal)


def run_jvm(classpath, args, work, data, out, deadline):
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java", *JAVA_OPTS, "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-cp", classpath, "graft.perfbench.Harness",
           "--workload", args.workload, "--workloads", os.path.join(HERE, "workloads.json"),
           "--data", data, "--work", work, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out]
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness failed: {rc}")
    with open(out) as f:
        rec = json.load(f)
    rec["jvm_start_s"] = rec.pop("main_entered_ms") / 1e3 - t0
    return rec


def summarize(rec, trace, artifacts):
    """End-to-end metrics (from untraced passes) and per-layer metrics (from
    traced passes, per-pass sums, median over passes)."""
    passes = rec["passes"]
    timed = [p for p in passes if not p["warm"]]
    plain = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    scale = REF_CAL_NS / statistics.median(
        [rec["setup_cal_wall_ns"]] + [p["cal_wall_ns"] for p in passes])
    e2e = {
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        # Every Java thread, ended ones included; the JIT and GC threads'
        # work varies from run to run (README).
        "pass_cpu_s": statistics.median(p["cpu_s"] - p["jit_cpu_s"] - p["gc_cpu_s"]
                                        for p in plain) * scale,
        # The median: a full GC now and then also clears soft-referenced
        # caches, and reads some 50 MB low.
        "live_heap_mb": statistics.median(p["live_heap_mb"] for p in plain),
        # Set-up CPU, counted as pass_cpu_s is; wall time in setup_wall_s.
        "setup_s": rec["setup_median"]["cpu_s"] * scale,
        "setup_wall_s": rec["setup_median"]["wall_s"],
        "host_scale": scale,
    }
    layers = {}
    per_op = {}
    if trace:
        sums = []
        for p in traced:
            s = {"driver.gc_s": p["gc_s"], "pass_s": p["wall_s"]}
            for o in p["ops"]:
                s["operators.build_s"] = s.get("operators.build_s", 0) + o["build_s"]
                s["operators.action_s"] = s.get("operators.action_s", 0) + o["action_s"]
                s["operators.output_rows"] = s.get("operators.output_rows", 0) + output_rows(o)
                for k, v in o["layers"].items():
                    s[k] = s.get(k, 0) + v
            sums.append(s)
        keys = sorted({k for s in sums for k in s})
        layers = {k: statistics.median(s.get(k, 0.0) for s in sums) for k in keys}
        layers["stage.core_busy_ratio"] = (layers["stage.task_run_s"]
                                           / (layers["pass_s"] * rec["cores"]))
        layers["tables.input_rows_per_output_row"] = (
            layers["tables.input_rows"] / max(1.0, layers["operators.output_rows"]))
        traced_pass = layers["pass_wall_s"] = layers.pop("pass_s")
        layers["trace.overhead_s"] = traced_pass - e2e["pass_s"]
        layers["trace.overhead_ratio"] = layers["trace.overhead_s"] / traced_pass
        layers["check.overhead_s"] = e2e["pass_s"] - rec["plain_pass_s"]
        layers["pipeline.jvm_start_s"] = rec["jvm_start_s"]
        layers["pipeline.cold_setup_s"] = rec["cold_setup"]["wall_s"]
        for k, v in rec["setup_median"].items():
            if k not in ("wall_s", "cpu_s"):
                layers[f"pipeline.{k}"] = v
        layers["pipeline.prepare_s"] = sum(layers.get(f"pipeline.prepare.{a}_s", 0.0)
                                           for a in artifacts)
        layers["pipeline.warm_s"] = rec["warm_s"]
        for p in traced[-1:]:
            for o in p["ops"]:
                per_op[o["name"]] = dict(o["layers"], wall_s=o["wall_s"], build_s=o["build_s"],
                                         action_s=o["action_s"], output_rows=output_rows(o))
    return e2e, layers, per_op


def output_rows(op):
    """Rows out of one op: the fingerprint's row count, or for an ingest
    window the rows it upserted."""
    fp = op.get("fingerprint", {})
    if "values" in fp:
        return float(fp["values"].get("n") or 0)
    return float(fp.get("inserted", 0) + fp.get("updated", 0))


def check(rec, data):
    """Returns (attempted, failed, findings). An op instance fails when it
    threw, when its output disagrees with the DuckDB oracle, when its row
    hash moved between passes, or (ingest) when the upsert split or the
    read-back is wrong."""
    findings = list(rec["coverage_errors"])
    bad_ops = set()
    for p in rec["passes"]:
        for o in p["ops"]:
            if o["error"]:
                findings.append(f"{o['name']}: {o['error']}")
                bad_ops.add(o["name"])
    chk = rec["checks"]
    for q in chk.get("unstable_hash", []):
        findings.append(f"{q}: row count or hash differs between passes")
        bad_ops.add(q)
    if rec["workload"] == "ingest_e1":
        days = oracle.expected_days(data)
        windows = [o for p in rec["passes"] for o in p["ops"] if not o["error"]]
        for i, o in enumerate(windows):
            want = (len(days), 0) if i == 0 else (0, len(days))
            got = (o["fingerprint"]["inserted"], o["fingerprint"]["updated"])
            if got != want:
                findings.append(f"window {i}: inserted/updated {got}, expected {want}")
                bad_ops.add("e1_window")
        if (chk["readback_ids"] != [f"daily_summary_{d}" for d in days]
                or chk["readback_missing"] or chk["readback_extra"]):
            findings.append(f"read-back differs: {chk['readback_rows']} rows, "
                            f"{chk['readback_missing']} missing, {chk['readback_extra']} extra")
            bad_ops.add("e1_window")
    else:
        last = {o["name"]: o for o in rec["passes"][-1]["ops"]}
        for name, o in last.items():
            if o["error"]:
                continue
            err = oracle.compare(data, rec["oracle_sql"].get(name), o["fingerprint"])
            if err:
                findings.append(f"{name}: {err}")
                bad_ops.add(name)
    attempted = sum(len(p["ops"]) for p in rec["passes"])
    failed = sum(1 for p in rec["passes"] for o in p["ops"] if o["name"] in bad_ops)
    if rec["coverage_errors"]:
        failed = max(failed, 1)
    return attempted, failed, findings


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        known = json.load(f)["workloads"]
    # Every traced record names the prepare time of every artifact any
    # workload builds (0 where this workload builds none of it).
    artifacts = sorted({a for w in known.values() for a in w["artifacts"]})
    if args.workload not in known:
        raise SystemExit(f"unknown workload {args.workload}; known: {', '.join(known)}")

    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        data = os.path.join(work, "input")
        gen.write(data, args.seed)
        host_before = host_stamp(work)
        t1, ticks = time.time(), cpu_ticks()
        rec = run_jvm(classpath, args, work, data, os.path.join(work, "record.json"), deadline)
        t2, during = time.time(), host_share(ticks, cpu_ticks())
        host_after = host_stamp(work)
        attempted, failed, findings = check(rec, data)
        phases = {"generate_s": t1 - t0, "jvm_s": t2 - t1, "check_s": time.time() - t2}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, layers, per_op = summarize(rec, args.trace == 1, artifacts)
    if args.trace:
        units = dict(PER_LAYER, **{f"pipeline.prepare.{a}_s": "s" for a in artifacts})
        # A layer the workload does not reach (streaming on ingest_e1) reads 0.
        values = {k: layers.get(k, 0.0) for k in units}
    else:
        units, values = END_TO_END, e2e
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "ops": rec["ops"], "correct": failed == 0,
        "attempted": attempted, "failed": failed,
        "failed_ops_ratio": failed / attempted, "findings": findings,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        "layers": layers,
        "end_to_end": e2e, "per_op": per_op,
        "outputs": {o["name"]: {k: o["fingerprint"].get("values", o["fingerprint"]).get(k)
                                for k in ("n", "h", "inserted", "updated")}
                    for o in rec["passes"][-1]["ops"]}, "phases": phases,
        "cold_setup": rec["cold_setup"], "setups": rec["setups"],
        "setup_cal_wall_ns": rec["setup_cal_wall_ns"],
        "warm_s": rec["warm_s"], "jvm_start_s": rec["jvm_start_s"],
        "passes": [{k: p.get(k) for k in ("warm", "traced", "wall_s", "cpu_s", "jit_cpu_s",
                                          "gc_cpu_s", "gc_s", "cal_wall_ns", "live_heap_mb")}
                   | {"ops": {o["name"]: o["wall_s"] for o in p["ops"]}}
                   for p in rec["passes"]],
        "host": {"before": host_before, "after": host_after,
                 "during": dict(during, cal_spread=cal_spread(rec))},
    }
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(BUILD, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    for line in findings:
        log(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


if __name__ == "__main__":
    main()
