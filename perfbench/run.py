#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.sbt), makes
the fixture tables (fixtures.py), generates the workload's operations from
the seed (workloads.py), runs them in one JVM in a closed loop, checks every
output and prints one JSON result as the last line of stdout: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. A diagnostics
line before it carries the CPU-sentinel spread of the run's window.

Output checks: relational gates against DuckDB with scripts/check.py's
strict rules; SQL answers against DuckDB running the same SQL text, in the
serialized form the client receives; unsafe SQL must be refused; ETL
tables, merge results, store search results and store facts against the
digests in expected.json (written by record_expected.py).
Any mismatch counts as a failed operation and makes the exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import report  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(HERE, ".work")
CPUS = min(4, os.cpu_count() or 1)
# a run ends within 180 s, the first one in a checkout (which builds)
# within 900 s
HARNESS_DEADLINE_S = 135.0
BUILD_DEADLINE_S = 700.0
JVM_OPTS = ["-Xmx3g", "-Xms3g", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, log, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile the engine and the harness unless the sources are unchanged
    since the last build in this checkout; returns the JVM classpath."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    if not all(os.path.exists(p) for p in sources):
        fail("engine sources not found next to perfbench/ "
             "(expected src/main and perfbench/build.sbt)")
    stamp = tree_digest([os.path.join(ROOT, "src", "main"),
                         os.path.join(HERE, "src")]) + \
        hashlib.sha256(open(os.path.join(HERE, "build.sbt"), "rb").read()
                       ).hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + (
        " -Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
        + (" -Dsbt.repository.config=" + os.path.expanduser(
            "~/.sbt/repositories")
           if os.path.exists(os.path.expanduser("~/.sbt/repositories"))
           else ""))
    log = os.path.join(WORK, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     deadline - time.time(), log, cwd=HERE, env=env)
    lines = open(log, errors="replace").read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed" if rc is not None else "build timed out", 3)
    cp = [l for l in lines if l.startswith("/") and ".jar" in l][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def ensure_fixtures():
    import fixtures
    out = os.path.join(WORK, "fixtures")
    stamp = hashlib.sha256(
        open(os.path.join(HERE, "fixtures.py"), "rb").read()).hexdigest()
    stamp_file = os.path.join(out, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        fixtures.write(out)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


# ---- output checks ------------------------------------------------------

def serialize(v):
    """A DuckDB value in the engine's ResultSink serialization."""
    import decimal
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    return str(v)


def same_value(got, want):
    """An engine-serialized value equals a DuckDB value. Doubles are
    compared as numbers, since Java and Python print some differently;
    timestamps as instants, since the engine prints TIMESTAMP as an
    instant ("...Z") and TIMESTAMP_NTZ as a local time with the seconds
    left out when they are zero."""
    import datetime
    if got is None or want is None:
        return got is None and want is None
    try:
        if isinstance(want, float):
            return float(got) == want
        if isinstance(want, datetime.datetime):
            return datetime.datetime.fromisoformat(got.rstrip("Z")) == want
    except ValueError:
        return False
    return got == serialize(want)


def check_sql(out, stream, fixtures_dir):
    """Ids of SQL operations whose answer differs from DuckDB's running
    the same SQL text, or whose plan is for another table than the
    request named."""
    import duckdb
    con = duckdb.connect()
    for t in workloads.DEMO_TABLES:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_parquet('{fixtures_dir}/{t}.parquet')")
    sql_of = {o["id"]: o for o in stream if o["kind"] == "sql"}
    expected, bad = {}, set()
    for r in out["checks"]["sql"]:
        op = sql_of[r["id"] % 100000]
        if op["unsafe"]:
            continue  # refusal is checked by the harness itself
        sql = r["sql"]
        if sql not in expected:
            cur = con.execute(sql)
            expected[sql] = ([d[0] for d in cur.description], cur.fetchall())
        cols, rows = expected[sql]
        if (r["tables_used"] != [op["table"]] or r["columns"] != cols
                or len(r["rows"]) != len(rows)
                or not all(len(a) == len(b)
                           and all(map(same_value, a, b))
                           for a, b in zip(r["rows"], rows))):
            bad.add(r["id"])
    return bad


def check_gates(out, fixtures_dir, run_dir):
    """Names of gates whose first result differs from DuckDB's, by
    scripts/check.py."""
    gates = out["checks"]["gates"]
    if not gates:
        return set()
    dumps = out["checks"]["gate_dumps"]
    with open(os.path.join(dumps, "oracle_sql.json"), "w") as f:
        json.dump(out["checks"]["oracle"], f)
    log = os.path.join(run_dir, "check.log")
    run_bounded([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                 fixtures_dir, dumps], 30, log)
    ok = set()
    for line in open(log, errors="replace"):
        if line.startswith("OK "):
            ok.add(line.split()[1])
    return set(gates) - ok


def etl_facts(out):
    """{warehouse dir: (input variant, result digests)} of every cycle."""
    variants = [u[0]["variant"] for u in out["unit_ops"]]
    return {wh: (variants[u], {k: v for k, v in out["checks"]["etl"][wh].items()
                               if k not in ("store_bytes", "store_live_rows")})
            for u, wh in out["timed"]["cycles"]}


def check_etl(out, expected):
    """Warehouse dirs of ETL cycles whose results differ from the
    committed digests of their input variant, or whose compaction
    changed the table's content."""
    want = expected.get("etl", {})
    return {wh for wh, (v, facts) in etl_facts(out).items()
            if facts != want.get(str(v))
            or facts["etl_table"] != facts["etl_table_compacted"]}


def failed_ops(out, stream, fixtures_dir, run_dir):
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    ops = out["timed"]["ops"]
    failed = {o["id"] for o in ops if not o["ok"]}
    with ThreadPoolExecutor(1) as pool:  # check.py runs as a subprocess
        gates = pool.submit(check_gates, out, fixtures_dir, run_dir)
        bad_sql = check_sql(out, stream, fixtures_dir)
        bad_gates = gates.result()
    failed |= bad_sql
    failed |= {o["id"] for o in ops if o["kind"] == "gate"
               and o["name"] in bad_gates}
    bad_cycles = set()
    if out["workload"] == "etl-store":
        bad_cycles = check_etl(out, expected)
        per_cycle = len(out["unit_ops"][0])
        for i, (_, wh) in enumerate(out["timed"]["cycles"]):
            if wh in bad_cycles:
                failed |= {o["id"] for o in
                           ops[i * per_cycle:(i + 1) * per_cycle]}
    reasons = ([f"{o['name']}: {o['error']}" for o in ops if not o["ok"]]
               + [f"sql {i} differs from DuckDB" for i in sorted(bad_sql)]
               + [f"gate {g} result is wrong" for g in sorted(bad_gates)]
               + [f"etl cycle {wh} digests differ" for wh in sorted(bad_cycles)])
    return failed, reasons


# ---- main ---------------------------------------------------------------

def run_harness(plan, seconds, trace, budget=HARNESS_DEADLINE_S):
    """Build, make the fixtures and run `plan` in the harness JVM; returns
    the harness output, the fixture dir and the run's scratch dir."""
    os.makedirs(WORK, exist_ok=True)
    cp = build(time.time() + BUILD_DEADLINE_S)
    fixtures_dir = ensure_fixtures()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = dict(plan, fixtures=fixtures_dir, work=run_dir, seconds=seconds,
                cpus=CPUS, trace=bool(trace),
                demo_tables=workloads.DEMO_TABLES)
    plan_file = os.path.join(run_dir, "plan.json")
    out_file = os.path.join(run_dir, "out.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    rc = run_bounded(["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
        plan_file, out_file],
        budget, os.path.join(run_dir, "jvm.log"), cwd=run_dir)
    if rc != 0 or not os.path.exists(out_file):
        tail = open(os.path.join(run_dir, "jvm.log"),
                    errors="replace").read()[-3000:]
        sys.stderr.write(tail + "\n")
        fail("harness failed" if rc is not None else "harness timed out", 4)
    out = json.load(open(out_file))
    out["unit_ops"] = plan["units"]
    if out["setup_failed"]:
        fail(f"set-up operations failed: {out['setup_failed'][:3]}", 5)
    return out, fixtures_dir, run_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    plan = workloads.plan(args.workload, args.seed)
    out, fixtures_dir, run_dir = run_harness(plan, args.seconds, args.trace)
    stream = [op for unit in plan["units"] for op in unit]
    failed, reasons = failed_ops(out, stream, fixtures_dir, run_dir)
    attempted = len(out["timed"]["ops"])
    sent = out["sentinel_ms"]
    print(json.dumps({
        "diagnostics": {
            "workload": args.workload, "seed": args.seed,
            "ops": attempted, "failed_frac": len(failed) / attempted,
            "timed_wall_s": out["timed"]["wall_s"],
            "sentinel_ms": sent,
            "sentinel_spread": max(sent.values()) / min(sent.values()),
            "write_amp": report.write_amp(out),
            "setup_s": out["setup_s"], "session_s": out["session_s"],
            "peak_rss_mb": out["peak_rss_mb"],
            "failures": reasons[:10]}}))
    if args.trace:
        metrics = report.per_layer(out, len(failed), CPUS)
        units = report.PER_LAYER
    else:
        metrics = report.end_to_end(out)
        units = report.END_TO_END
    print(report.result_line(not failed, attempted, len(failed), metrics,
                             units))
    # the last run's raw output and logs stay for inspection
    for name in ("out.json", "jvm.log", "check.log"):
        if os.path.exists(os.path.join(run_dir, name)):
            shutil.copy(os.path.join(run_dir, name),
                        os.path.join(WORK, f"last-{args.workload}-{name}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
