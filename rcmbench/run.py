#!/usr/bin/env python3
"""Benchmark entry point for the RCM engine.

Usage (from the root of a checkout):

    python3 rcmbench/run.py --workload <rcm_daily|curation_dag> --seed <n> \
        --seconds <s> --trace <0|1>

It builds the engine and the benchmark from source with sbt the first time
(and again whenever a source or build file changes), runs one workload in
one JVM, checks the curation DAG's first result against the query's DuckDB
oracle, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Everything it writes stays under rcmbench/ (build/ and work/).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "build")
WORKLOADS = ("rcm_daily", "curation_dag")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"rcmbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both build definitions and all main sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building first if sources changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine to build: {need} is missing from the checkout")
    stamp, cp_file = os.path.join(BUILD, "fingerprint"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("rcmbench: building the engine and the benchmark with sbt", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    return lines[-1]


def check_oracle(work):
    """Compares the curation DAG's first result with the query's DuckDB
    oracle over the same documents: equal as multisets of rows, compared
    on the columns sorted by name. Returns a failure message or None."""
    import duckdb
    oracle = os.path.join(work, "oracle")
    try:
        sql = open(os.path.join(oracle, "oracle.sql")).read()
    except OSError:
        return "the first batch wrote no result for the oracle"
    con = duckdb.connect()
    docs = os.path.join(work, "docs", "documents.parquet", "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    con.execute(f"CREATE TABLE want AS {sql}")
    got = os.path.join(oracle, "result.parquet", "*.parquet")
    con.execute(f"CREATE TABLE got AS SELECT * FROM read_parquet('{got}')")
    cols = [sorted(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()) for t in ("want", "got")]
    if cols[0] != cols[1]:
        return f"oracle columns {cols[0]} differ from the result's {cols[1]}"
    c = ", ".join(f'"{n}"' for n in cols[0])
    n_want, n_got = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("want", "got"))
    diff = con.execute(
        f"SELECT count(*) FROM ((SELECT {c} FROM want EXCEPT ALL SELECT {c} FROM got) "
        f"UNION ALL (SELECT {c} FROM got EXCEPT ALL SELECT {c} FROM want))").fetchone()[0]
    if n_want != n_got or diff:
        return f"oracle has {n_want} rows, result {n_got}; {diff} rows differ"
    print(f"oracle: q224_curation_ledger matches DuckDB ({n_got} rows)")
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    work = os.path.join(HERE, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "rcmbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work])
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} did not finish in {RUN_TIMEOUT_S} s")
        lines = out.splitlines()
        for l in lines:
            if not l.startswith("RESULT "):
                print(l)
        result = [l for l in lines if l.startswith("RESULT ")]
        if proc.returncode != 0 or not result:
            fail(f"{args.workload} exited with code {proc.returncode} and no result")
        res = json.loads(result[-1][len("RESULT "):])
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "curation_dag":
            bad = check_oracle(work)
            if bad:
                print(f"FAILED {bad}")
                failed += 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    measured = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        if measured.get(m["name"]) is None:
            fail(f"{args.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and attempted >= 1, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
