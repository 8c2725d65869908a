#!/usr/bin/env python3
"""Benchmark entry point: TeraSort and the two operator fleets.

Usage (from the repository root):
  python3 perfbench/run.py --workload {terasort,fleet_llm,fleet_analytics}
      --seed N --seconds S --trace {0,1}

Builds the program and the harness from source into .bench_build (sbt,
offline, only when the sources changed), runs one workload in one JVM
(perfbench/src/graft/perfbench/PerfBench.scala), checks every output and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones. The
full record of the run, seed included, goes to
.bench_build/results/<workload>-seed<N>-trace<T>.json. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

START = time.monotonic()
ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
DATA = BENCH / "data"
ORACLE_ROWS = BUILD / "oracle_rows.json"
WORKLOADS = ("terasort", "fleet_llm", "fleet_analytics")
TERASORT_RECORDS = 1_000_000
# A fixed heap, touched at start: no heap resizing and no page faults on
# fresh heap inside timed operations (both moved run times by up to 40 %).
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# What spark-submit would pass on JDK 17 (JavaModuleOptions); the root
# build.sbt forks its runs with the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile program + harness; return (runtime classpath, whether built)."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources under src/main/scala; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not (Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark distribution (its jars/ directory)")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if cp_file.exists() and stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip(), False
    BUILD.mkdir(exist_ok=True)
    # sbt's per-user state, temp files and native-library unpacking stay
    # in .bench_build; no server socket, no JVM perf-data file
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={BUILD / 'sbt-global'}", f"-Djava.io.tmpdir={tmp}",
            f"-Djna.tmpdir={tmp}", f"-Dswoval.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], BENCH, env, out, 840)
    lines = [l for l in log.read_text().splitlines() if l and not l.startswith("[")]
    if r != 0 or not lines:
        fail(f"build failed (exit {r}); see {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(h.hexdigest())
    return lines[-1], True


def run_group(cmd, cwd, env, out, timeout):
    """Run cmd in its own process group; kill the whole group on timeout
    or when this process is told to stop, and wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def oracle_counts(sql_by_query, deadline):
    """Row count of each query's DuckDB oracle over the same sf0.01 tables.
    An oracle runs once per checkout, after the harness has exited, so
    outside every timed region; its count is kept with its SQL in
    .bench_build/oracle_rows.json and reused while the SQL is unchanged
    (the fleet_llm oracles take about 12 s, one of them 9 s). An oracle
    that fails, or that the run's deadline cuts off or leaves unstarted,
    has no count, so its query fails."""
    cache = json.loads(ORACLE_ROWS.read_text()) if ORACLE_ROWS.exists() else {}
    rows = {q: cache[q]["rows"] for q, sql in sql_by_query.items()
            if cache.get(q, {}).get("sql") == sql}
    todo = [q for q in sql_by_query if q not in rows]
    if not todo:
        return rows
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{DATA / 'sf0.01' / (t + '.parquet')}')")
    stop = threading.Event()

    def guard():  # from the deadline on, interrupt whatever oracle runs
        stop.wait(max(deadline - time.monotonic(), 0))
        while not stop.is_set():
            con.interrupt()
            stop.wait(0.2)

    watch = threading.Thread(target=guard, daemon=True)
    watch.start()
    try:
        for q in todo:
            if time.monotonic() >= deadline:
                print(f"perfbench: oracle {q}: not run, deadline passed", file=sys.stderr)
                continue
            try:
                rows[q] = len(con.sql(sql_by_query[q]).fetchall())
                cache[q] = {"sql": sql_by_query[q], "rows": rows[q]}
            except Exception as e:  # an oracle that cannot run fails its query
                print(f"perfbench: oracle {q}: {e}", file=sys.stderr)
    finally:
        stop.set()
        watch.join()
        con.close()
    ORACLE_ROWS.write_text(json.dumps(cache, indent=1, sort_keys=True))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (DATA / "sf0.01").is_dir() or not (DATA / "sf0.001").is_dir():
        fail(f"missing input tables under {DATA}")
    cp, built = build()
    # a run exits within 180 s, or 900 s when it had to build first
    deadline = START + (880 if built else 170)

    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    out = work / "record.json"
    cmd = ["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the program's scratch base (Scratch.init) inside the checkout
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=str(work / "scratch"))
    cmd += ["-cp", cp, "graft.perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--data", str(DATA),
            "--out", str(out), "--records", str(TERASORT_RECORDS)]
    log = results / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    try:
        with open(log, "w") as lf:
            rc = run_group(cmd, ROOT, env, lf, deadline - 15 - time.monotonic())
        if rc != 0 or not out.exists():
            fail(f"harness exited {rc}; see {log}")
        rec = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rec["ops"]
    if a.workload != "terasort":
        want = oracle_counts(rec["oracle_sql"], deadline - 5)
        for o in ops:
            w = want.get(o["name"])
            if not o["error"] and w is None:
                o["error"] = "no oracle row count"
            elif not o["error"] and o["rows"] != w:
                o["error"] = f"rows {o['rows']} != oracle {w}"
            o["oracle_rows"] = w
    failed = [o for o in ops if o["error"]]
    by_pass = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["wall_s"]
    pass_s = statistics.median(by_pass.values())
    walls = [o["wall_s"] for o in ops]
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in rec["layers"].items()}
        metrics["trace.pass_s"] = {"value": pass_s, "unit": "s"}
    else:
        metrics = {
            "pass_s": {"value": pass_s, "unit": "s"},
            "op_p50_s": {"value": statistics.median(walls), "unit": "s"},
            "setup_s": {"value": rec["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
            "peak_live_mb": {"value": rec["peak_heap_after_gc_mb"]
                             + rec["non_heap_committed_mb"], "unit": "MB"},
        }
    rec.update(failed=len(failed), attempted=len(ops), metrics=metrics)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(rec))
    for o in failed:
        print(f"perfbench: FAILED {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
    print(f"perfbench: workload={a.workload} seed={a.seed} trace={a.trace} "
          f"passes={len(by_pass)} ops={len(ops)} failed={len(failed)} "
          f"record=.bench_build/results/{a.workload}-seed{a.seed}-trace{a.trace}.json")
    print(json.dumps({"correct": not failed and len(ops) > 0, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share") or name.endswith("amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
