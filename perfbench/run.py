#!/usr/bin/env python3
"""Benchmark of the graft Spark library. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the harness (perfbench/build.sbt) once per source
state, starts one JVM per run, checks the outputs outside the timed
region, prints every metric by name and unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
WORK = os.path.join(OUT, "work")
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
WORKLOADS = ["ingest_star_derby", "query_relational", "lake_mor_churn"]
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src/main"):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile through perfbench/build.sbt once per source state; return
    the runtime classpath."""
    stamp_file, cp_file = os.path.join(OUT, "stamp"), os.path.join(OUT, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(OUT, exist_ok=True)
    home = os.path.expanduser("~")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.server.autostart=false", "-Xmx2g"]))
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = open(log).read().splitlines()
    cp = next((l.strip() for l in reversed(lines) if ".jar" in l and "classes" in l), None)
    if rc != 0 or cp is None:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def jvm(cp, args, work, log):
    """Start the harness in a fresh work directory, time it to
    PERFBENCH_READY (its set-up), and wait for it to end. Returns
    (set-up seconds, exit code)."""
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby", "spark-local", "scratch"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
        "-cp", cp, "graft.perfbench.Main"] + args + ["--work", work]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local",
               SPARK_GRAFT_SCRATCH=f"{work}/scratch")
    t0 = time.monotonic()
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            ready = None
            for line in p.stdout:
                if line.strip() == "PERFBENCH_READY" and ready is None:
                    ready = time.monotonic() - t0
            rc = p.wait(timeout=max(1, RUN_TIMEOUT_S - (time.monotonic() - t0)))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    return ready, rc


def norm(df):
    """check_oracle.py's normal form: columns by name, floats rounded,
    rows sorted."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle(con, sf, sql):
    """The DuckDB oracle's result for `sql` on the fixtures in `sf`,
    cached per checkout: it depends only on the SQL and the fixtures,
    and some oracle SQL takes DuckDB tens of seconds."""
    import pandas as pd
    key = hashlib.sha256(f"{sf}\n{sql}".encode()).hexdigest()
    path = os.path.join(OUT, "oracle", key + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.sql(sql).df()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_queries(checks, con):
    """Each query's checked output against its DuckDB oracle SQL (row
    count and values, order-insensitive); rows > 0 where no oracle
    exists. Returns (wrong outputs, result rows, notes)."""
    import pandas as pd
    wrong, rows, notes = 0, 0, []
    for q in checks["queries"]:
        name = q["name"]
        if q["error"]:
            notes.append(f"{name}: {q['error']}")
            continue  # already counted by the JVM
        got = con.sql(f"SELECT * FROM read_parquet('{q['dir']}/*.parquet')").df()
        rows += len(got)
        if q["oracle"] is None:
            if len(got) == 0:
                wrong += 1
                notes.append(f"{name}: no rows")
            continue
        g, e = norm(got), norm(oracle(con, checks["sf"], q["oracle"]))
        try:
            assert list(g.columns) == list(e.columns), f"columns {list(g.columns)} != {list(e.columns)}"
            assert len(g) == len(e), f"rows {len(g)} != {len(e)}"
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        except AssertionError as ex:
            wrong += 1
            notes.append(f"{name}: {str(ex)[:300]}")
    return wrong, rows, notes


def check_ingest(checks, con):
    """Derby read-back against the Parquet source: exact row count and
    numeric-column sums."""
    wrong, notes, expected = 0, [], {}
    for t in checks["tables"]:
        name = t["table"]
        if name not in expected:
            path = os.path.join(checks["sf"], f"{name}.parquet")
            cols = list(t["sums"])
            sel = ", ".join(["COUNT(*)"] + [f'SUM(CAST("{c}" AS DOUBLE))' for c in cols])
            r = con.sql(f"SELECT {sel} FROM read_parquet('{path}')").fetchone()
            expected[name] = (r[0], dict(zip(cols, r[1:])))
        n, sums = expected[name]
        bad = [c for c, v in t["sums"].items()
               if not math.isclose(v, sums[c], rel_tol=1e-9, abs_tol=1e-6)]
        if t["rows"] != n or bad:
            wrong += 1
            notes.append(f"pass {t['pass']} {name}: rows {t['rows']}/{n}, sums off: {bad}")
    return wrong, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}; run from the repository root")
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        if not os.path.isdir(os.path.join(TESTDATA, sf)):
            fail(f"fixtures not found at {TESTDATA}/{sf} (set GRAFT_TESTDATA)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    out = os.path.join(WORK, "result.json")
    log = os.path.join(WORK, "jvm.log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", TESTDATA,
            "--out", out, "--ledger", os.path.join(OUT, "ledger", f"{a.workload}-seed{a.seed}.jsonl")]
    setup, rc = jvm(cp, args, os.path.join(WORK, "jvm"), log)
    if rc != 0 or setup is None:
        fail(f"harness exited rc={rc} (set-up done: {setup is not None}); see {log}")
    r = json.load(open(out))

    import duckdb
    checks, wrong, notes = r["checks"], 0, list(r["errors"])
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = os.path.join(checks["sf"], f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    rows = r["rows_per_pass"]
    if checks["kind"] == "queries":
        wrong, rows, more = check_queries(checks, con)
        notes += more
    elif checks["kind"] == "ingest":
        wrong, more = check_ingest(checks, con)
        notes += more
    elif not checks["ok"]:
        notes.append(checks["detail"])
    for n in notes:
        print(f"check: {n}", file=sys.stderr)

    attempted = r["attempted"]
    failed = min(attempted, r["failed"] + wrong)
    e2e = dict(r["e2e"])
    e2e["setup_s"] = setup
    e2e["rows_per_s"] = rows / e2e["wall_s"] if e2e["wall_s"] > 0 else 0.0
    e2e["ops_ok_ratio"] = 1.0 - failed / attempted
    values = r["layer"] if a.trace else e2e
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            fail(f"metric {m['name']} missing from the harness output")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {r['passes']} passes, "
          f"{attempted} ops, {failed} failed")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    if a.trace:
        print(f"  per-op ledger: {args[args.index('--ledger') + 1]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
