#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload ts_query --seed 7 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the program and the
benchmark into .bench_build/ (see build.py). Every run starts one JVM that
generates its inputs from --seed, sets up, warms up at full scale, runs the
workload's closed loop for --seconds, and checks its outputs; this script
then compares the declared query rows with their DuckDB twins, prints the
full report as one JSON line, and prints the contract line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics of a traced run (spans go to .bench_build/results/).
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ts_ingest", "ts_query", "text_dedup")
END_TO_END = ("setup_s", "throughput_per_s", "op_p50_ms", "peak_rss_mb")
# Per-layer metrics every workload measures (the full report has the rest).
PER_LAYER = (
    "session.warmup_s", "engine.jobs_per_op", "engine.stages_per_op", "engine.tasks_per_op",
    "engine.driver_gap_ms", "engine.task_busy_ms", "engine.max_task_over_median",
    "engine.single_task_stages", "engine.shuffle_write_bytes", "engine.shuffle_read_bytes",
    "engine.gc_ms", "trace.overhead_pct")
JVM_BUDGET_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def canon(v):
    """Value rendering shared by both engines' rows (tools/check.py's rule)."""
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else "%.12g" % v
    return str(v)


def rows_of(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]


def oracle_checks(report):
    """Each declared row against its SparkEntry.oracleSql twin in DuckDB."""
    if not report.get("oracle"):
        return []
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    tables = report["oracle_tables"]
    for f in sorted(os.listdir(tables)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{tables}/{f}')")
    out = []
    for name, o in sorted(report["oracle"].items()):
        try:
            got = rows_of(con.execute(f"SELECT * FROM read_parquet('{o['file']}')"))
            want = rows_of(con.execute(o["sql"]))
            ok = got == want
            detail = f"{len(got[1])} rows" + ("" if ok else f"; DuckDB has {len(want[1])}")
        except Exception as e:  # a missing result or an oracle error fails the check
            ok, detail = False, f"{type(e).__name__}: {e}"
        out.append({"name": f"oracle.{name}", "ok": ok, "detail": detail})
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    t_start = time.time()

    classpath = build.build()
    bdir = build.BUILD
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(bdir, "results")
    tmp = os.path.join(work, "tmp")
    for d in (results, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    slots = min(4, os.cpu_count() or 1)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
              "--work", work, "--out", out, "--slots", str(slots), "--commit", git_commit()])
    log = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log, "w") as lf:
            budget = max(30, JVM_BUDGET_S - (time.time() - t_start))
            rc = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=budget).returncode
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        shutil.rmtree(os.path.join(work, "warehouse"), ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log, errors="replace").read()[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"benchmark JVM failed ({rc}); log: {log}")

    report = json.load(open(out))
    report["checks"] += oracle_checks(report)
    shutil.rmtree(work, ignore_errors=True)
    report["correct"] = all(c["ok"] for c in report["checks"])
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    for c in report["checks"]:
        if not c["ok"]:
            sys.stderr.write(f"CHECK FAILED {c['name']}: {c['detail']}\n")
    for w in report["warnings"]:
        sys.stderr.write(f"WARNING {w}\n")

    names = PER_LAYER if a.trace == "1" else END_TO_END
    source = report["per_layer"] if a.trace == "1" else report["metrics"]
    print(json.dumps({k: report[k] for k in (
        "workload", "seed", "context", "warnings", "checks", "e2e", "per_layer", "ops")},
        sort_keys=True))
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"],
                      "metrics": {n: source[n] for n in names}}))


if __name__ == "__main__":
    main()
