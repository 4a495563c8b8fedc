#!/usr/bin/env python3
"""Local stand-in for the driver's t2 gate: run graft.Verify, then compare
each query's parquet output against its DuckDB oracle on the same tables.

Round-13 shape (VERDICT r12 #1 — the gate must survive a contended window):
  - graft.Verify now writes oracle_sql.json/versions.json BEFORE its query
    loop and APPENDS manifest.txt per query, so this checker OVERLAPS the
    DuckDB compare with the Spark pass: each query is compared the moment
    its parquet lands, by a pool of worker processes.
  - Every verdict is printed unbuffered as it is decided AND persisted to
    {OUT}/results.json incrementally — a killed run leaves per-query rows
    on disk instead of nothing.
  - Per-query compare seconds ride in results.json so expensive oracle
    chains name themselves.

Usage: python3 tools/check_oracle.py [sfdir] [--only name1,name2]
                                     [--skip-run] [--jobs N]
"""
import json, os, shutil, subprocess, sys, glob, time, queue
import multiprocessing as mp

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
ONLY = None
if "--only" in sys.argv:
    ONLY = set(sys.argv[sys.argv.index("--only") + 1].split(","))
try:
    JOBS = int(sys.argv[sys.argv.index("--jobs") + 1]) if "--jobs" in sys.argv \
        else min(8, (os.cpu_count() or 8))
except (IndexError, ValueError):
    sys.exit("usage: check_oracle.py [sfdir] [--only a,b] [--skip-run] [--jobs N]")
# SF-specific scratch dir: sweeps at different scales must not race each
# other (a concurrent default-gate run would rmtree this dump mid-compare).
OUT = f"/tmp/graft_verify_{os.path.basename(SF.rstrip(os.sep))}"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar"]]

def start_verify():
    # Clean slate: a stale parquet dir from a previous run must never be
    # compared as if this run produced it.
    shutil.rmtree(OUT, ignore_errors=True)
    cp = f"{REPO}/target/scala-2.13/classes:" + ":".join(glob.glob("/opt/spark/jars/*.jar"))
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # Scope the Spark dump to the requested subset too — iterating on one
    # query should not pay the whole suite's Verify pass. A subset left
    # in the caller's environment (Bench reads the same variable) must
    # not narrow a full run.
    env.pop("SPARK_GRAFT_ONLY", None)
    if ONLY:
        env["SPARK_GRAFT_ONLY"] = ",".join(sorted(ONLY))
    cmd = ["java", *ADD_OPENS, "-Xmx8g", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.Verify", SF, OUT]
    return subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL,
                            stderr=subprocess.PIPE, text=True)

# Oracle-engine pin, the DuckDB analog of AAEnvCanarySpec's Spark pin:
# every hash comparison in the gate is only as stable as the engine that
# computed the expected side, so a silent DuckDB bump must NAME itself
# as a failing check (VERDICT r8 #7) instead of surfacing as mysterious
# value diffs (or, worse, not surfacing at all while semantics shift).
EXPECTED_DUCKDB = "1.0.0"

_CON = None

def _worker_init(sf, threads):
    global _CON
    import duckdb
    _CON = duckdb.connect()
    _CON.execute(f"SET threads={threads}")
    for t in TABLES:
        _CON.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

def _compare_one(args):
    """Runs in a pool worker: one query's parquet vs its oracle SQL.

    Returns (name, status, sec, shape) where shape is the driver's own
    per-query schema — {rows_match, schema_match, hash_match, err} — so
    the committed CORRECTNESS_SELF artifact is field-for-field diffable
    against any driver-produced CORRECTNESS_r{N}.json (VERDICT r13 #6).
    """
    name, sql = args
    t0 = time.time()
    shape = {"rows_match": False, "schema_match": False,
             "hash_match": False, "err": None}
    try:
        got = _CON.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
        if sql is None:
            status = f"rows-only: {len(got)} rows" + (" EMPTY!" if len(got) == 0 else "")
            # ADVICE r14: a rows-only query has NO oracle rowcount to
            # match, so rows_match must be None (like schema/hash), not
            # a nonempty flag masquerading as a match — the nonempty
            # check rides in its own field.
            shape = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "nonempty": len(got) > 0, "err": None}
            return name, status, time.time() - t0, shape
        try:
            exp = _CON.sql(sql).df()
        except Exception as e:
            shape["err"] = f"oracle sql: {e}"[:300]
            return name, f"ORACLE SQL ERROR: {e}", time.time() - t0, shape
        got = got.reindex(sorted(got.columns), axis=1)
        exp = exp.reindex(sorted(exp.columns), axis=1)
        shape["rows_match"] = len(got) == len(exp)
        if list(got.columns) != list(exp.columns):
            return (name, f"COLUMN MISMATCH spark={list(got.columns)} duck={list(exp.columns)}",
                    time.time() - t0, shape)
        if not shape["rows_match"]:
            shape["schema_match"] = all(
                str(got[c].dtype) == str(exp[c].dtype) for c in got.columns)
            return (name, f"ROWCOUNT MISMATCH spark={len(got)} duck={len(exp)}",
                    time.time() - t0, shape)
        gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
        es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
        bad, dtype_bad = [], False
        for c in got.columns:
            a, b = gs[c], es[c]
            if str(a.dtype) != str(b.dtype):
                bad.append(f"{c}: dtype {a.dtype} vs {b.dtype}")
                dtype_bad = True
            try:
                eq = (a == b) | (a.isna() & b.isna())
            except Exception:
                eq = a.astype(str) == b.astype(str)
            if not eq.all():
                i = int((~eq).idxmax())
                bad.append(f"{c}: {int((~eq).sum())} diffs, first@{i}: {a[i]!r} vs {b[i]!r}")
        shape["schema_match"] = not dtype_bad
        shape["hash_match"] = not bad
        status = "OK" if not bad else "VALUE MISMATCH: " + "; ".join(bad[:4])
        return name, status, time.time() - t0, shape
    except Exception as e:  # a worker crash must surface as that query's FAIL
        shape["err"] = str(e)[:300]
        return name, f"COMPARE ERROR: {e}", time.time() - t0, shape

def _emit(results, timings, shapes):
    """Atomic rewrite of the incremental artifact after every verdict."""
    tmp = f"{OUT}/results.json.tmp"
    with open(tmp, "w") as f:
        json.dump({n: {"status": results[n],
                       "sec": round(timings.get(n, 0.0), 2),
                       **shapes.get(n, {})}
                   for n in sorted(results)}, f, indent=1)
    os.replace(tmp, f"{OUT}/results.json")

def _read_manifest():
    try:
        return [l for l in open(f"{OUT}/manifest.txt").read().split() if l]
    except OSError:
        return []

# A compare that produces no verdict for this long after the last sign
# of progress is treated as LOST (an OOM-killed pool worker never fires
# its callback — mp.Pool silently respawns the worker and drops the
# task). Sized ~5x the slowest known oracle chain (q125 ~250s).
WATCHDOG_SEC = 1500

def main():
    import duckdb, threading
    t_start = time.time()
    proc = start_verify() if "--skip-run" not in sys.argv else None
    results, timings, shapes, submitted, decided = {}, {}, {}, set(), set()
    done_q = queue.Queue()
    oracle = None
    registered = None  # full registry names (incl. rows-only queries)
    # DuckDB thread budget: JOBS workers share the host fairly.
    threads = max(1, (os.cpu_count() or 8) // JOBS)
    pool = mp.Pool(JOBS, initializer=_worker_init, initargs=(SF, threads))

    # Verify's stderr on its own thread: a blocking readline on a
    # stderr-quiet Spark query must not delay draining decided verdicts
    # (they would be lost if the checker were killed in that window).
    err_q = queue.Queue()
    if proc is not None:
        def _pump():
            for line in proc.stderr:
                err_q.put(line)
        threading.Thread(target=_pump, daemon=True).start()

    def submit(name):
        submitted.add(name)
        # Visible immediately: a run killed before this query's compare
        # finishes still shows WHAT was in flight, not an empty file.
        results[name] = "SUBMITTED (compare in flight)"
        _emit(results, timings, shapes)
        pool.apply_async(_compare_one, ((name, oracle.get(name)),),
                         callback=done_q.put,
                         error_callback=lambda e, n=name: done_q.put(
                             (n, f"POOL ERROR: {e}", 0.0, {"err": str(e)[:300]})))

    progress_t = [time.time()]

    def drain(block=False):
        while True:
            try:
                name, status, sec, shape = done_q.get(timeout=0.2 if block else 0.0)
            except queue.Empty:
                return
            results[name], timings[name], shapes[name] = status, sec, shape
            decided.add(name)
            progress_t[0] = time.time()
            mark = "PASS" if status == "OK" else (
                "INFO" if status.startswith("rows-only") and "EMPTY" not in status else "FAIL")
            print(f"{mark}  {name}: {status}  [{sec:.1f}s]", flush=True)
            _emit(results, timings, shapes)

    verify_done = proc is None
    while True:
        while True:
            try:
                line = err_q.get_nowait()
            except queue.Empty:
                break
            if "[verify]" in line or "Exception" in line:
                print("  !", line.rstrip(), flush=True)
            progress_t[0] = time.time()
        if proc is not None and not verify_done and proc.poll() is not None:
            verify_done = True
        if oracle is None and os.path.exists(f"{OUT}/oracle_sql.json"):
            try:
                oracle = json.load(open(f"{OUT}/oracle_sql.json"))
            except ValueError:
                oracle = None  # mid-write; retry next tick
        if registered is None and os.path.exists(f"{OUT}/registered.txt"):
            registered = set(open(f"{OUT}/registered.txt").read().split())
        if registered is None and verify_done and oracle is not None:
            # Pre-registered.txt dump (--skip-run on an old out dir):
            # fall back to the oracle keys + whatever the manifest holds.
            registered = set(oracle) | set(_read_manifest())
        if oracle is not None and registered is not None:
            for name in _read_manifest():
                # Torn-read guard (ADVICE r13): Verify appends while we
                # poll — only submit names that are in the registry; a
                # half-flushed line re-reads complete on the next tick.
                if name in registered and name not in submitted \
                        and (not ONLY or name in ONLY):
                    submit(name)
        drain()
        if verify_done and oracle is not None and not (submitted - decided):
            break
        if verify_done and oracle is None:
            print("FAIL  aa_gate: Verify produced no oracle_sql.json", flush=True)
            results["aa_gate"] = "NO ORACLE_SQL"
            break
        # Lost-task watchdog: mp.Pool drops a task when its worker is
        # OOM-killed (callback never fires) and respawns crashing
        # initializers forever — without this the gate would hang
        # instead of failing.
        if time.time() - progress_t[0] > WATCHDOG_SEC:
            for name in sorted(submitted - decided):
                results[name] = f"COMPARE LOST (no verdict in {WATCHDOG_SEC}s — worker died?)"
                decided.add(name)
                print(f"FAIL  {name}: {results[name]}", flush=True)
            _emit(results, timings, shapes)
            break
        drain(block=True)
    pool.terminate()
    pool.join()
    drain()

    # Watchdog-break orphan (ADVICE r13): Verify may still be alive on
    # that path — kill it so no JVM outlives the gate, and record the
    # kill as a FAIL (a gate that broke out early did NOT cover the
    # registry; returncode None must never read as "clean").
    if proc is not None and proc.poll() is None:
        proc.kill()
        proc.wait()
        results["aa_verify_exit"] = "VERIFY KILLED (watchdog break with Verify still running)"
        print(f"FAIL  aa_verify_exit: {results['aa_verify_exit']}", flush=True)
    # Verify itself must have exited cleanly: a crashed (OOM-killed) JVM
    # that completed only a prefix of queries must fail the gate even if
    # every completed query passed.
    elif proc is not None and proc.returncode != 0:
        results["aa_verify_exit"] = f"VERIFY EXITED {proc.returncode} (crashed mid-run?)"
        print(f"FAIL  aa_verify_exit: {results['aa_verify_exit']}", flush=True)

    # Any parquet dir NOT in the manifest = a query that failed at runtime
    # (or a stale dump) — it must fail the gate, never silently pass.
    written = set(_read_manifest())
    for p in sorted(glob.glob(f"{OUT}/*")):
        name = os.path.basename(p)
        if os.path.isdir(p) and name not in written and (not ONLY or name in ONLY):
            results[name] = "NOT IN MANIFEST (query failed at runtime?)"
            print(f"FAIL  {name}: {results[name]}", flush=True)
    # And every REGISTERED query (from Verify's registered.txt — NOT the
    # oracle keys, which would miss rows-only queries; ADVICE r13) must
    # have run: a query that failed before writing any parquet leaves no
    # dir at all, which the sweep above cannot see.
    for name in sorted((registered or set(oracle or {})) - written):
        if (not ONLY or name in ONLY) and name not in results:
            results[name] = "MISSING (registered but never completed in Verify)"
            print(f"FAIL  {name}: {results[name]}", flush=True)
    # Manifest names that never got a verdict (appended after a watchdog
    # break, or skipped as unregistered): each must fail, not vanish.
    for name in sorted(written - set(results)):
        if not ONLY or name in ONLY:
            results[name] = "IN MANIFEST BUT NEVER COMPARED (gate broke out early?)"
            print(f"FAIL  {name}: {results[name]}", flush=True)

    results["aa_env_duckdb_pin"] = ("OK" if duckdb.__version__ == EXPECTED_DUCKDB
        else f"DUCKDB VERSION DRIFT: running {duckdb.__version__}, pinned {EXPECTED_DUCKDB} "
             "— re-validate the oracle SQL surface, then bump EXPECTED_DUCKDB")
    if results["aa_env_duckdb_pin"] != "OK":
        print(f"FAIL  aa_env_duckdb_pin: {results['aa_env_duckdb_pin']}", flush=True)
    _emit(results, timings, shapes)

    npass = sum(1 for v in results.values()
                if v == "OK" or (v.startswith("rows-only") and "EMPTY" not in v))
    nfail = sum(1 for v in results.values()
                if not (v == "OK" or (v.startswith("rows-only") and "EMPTY" not in v)))
    # Version stamp: which engines produced/judged this run, so an
    # environment bump names itself in the gate output.
    versions = {"duckdb": duckdb.__version__}
    vpath = f"{OUT}/versions.json"
    if os.path.exists(vpath):
        try:
            versions.update(json.load(open(vpath)))
        except (ValueError, OSError) as e:
            # A truncated stamp (e.g. a killed Verify run) must not crash
            # the gate after the per-query lines but before the summary.
            versions["stamp_error"] = str(e)[:80]
    print(f"== versions: {json.dumps(versions, sort_keys=True)} ==")
    print(f"== {npass}/{len(results)} ok == ({time.time() - t_start:.0f}s wall, {JOBS} compare jobs)")
    # Exit non-zero on ANY FAIL line — including the duckdb version pin —
    # so automation keyed on exit status sees what stdout says (ADVICE
    # r9 #4): a gate whose failures are stdout-only is not a gate.
    return nfail

if __name__ == "__main__":
    sys.exit(min(main(), 125))
