#!/usr/bin/env python3
"""Habits ETL benchmark: one workload at one seed, one JSON result line.

Usage (from the repository root):
  python3 habitbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt on first use
(outputs under .bench_build/ and habitbench/target/), runs the workload in
a fresh JVM that checks every output against the benchmark's truth model,
compares ledger_replay's results with their DuckDB oracle, and prints
{"correct", "attempted", "failed", "metrics"} as the last line.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_cron", "ledger_replay")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"habitbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=800)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_matches(oracle_dir):
    """Compares each ledger replay's first result, as the JVM wrote it, with
    its DuckDB oracle over the same documents corpus: same columns, same
    value kinds, same rows (the comparison tools/check_oracle.py makes)."""
    try:
        import duckdb
        import pandas as pd
    except ImportError:
        fail("ledger_replay needs the duckdb and pandas Python modules")
    with open(os.path.join(oracle_dir, "oracle.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    docs = os.path.join(spec["documents"], "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    ok = True
    for q, sql in spec["queries"].items():
        files = glob.glob(os.path.join(oracle_dir, q, "*.parquet"))
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        want = canon(con.execute(sql).df())
        same = (list(got.columns) == list(want.columns) and len(got) == len(want)
                and all({got[c].dtype.kind, want[c].dtype.kind} <= {"i", "u"}
                        or got[c].dtype.kind == want[c].dtype.kind for c in got.columns)
                and got.astype(object).where(got.notna(), None).values.tolist()
                == want.astype(object).where(want.notna(), None).values.tolist())
        if not same:
            print(f"habitbench: {q} differs from its DuckDB oracle", file=sys.stderr)
            ok = False
    con.close()
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to habitbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp = classpath()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed-size heap without adaptive resizing, for steadier runs
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "habitbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work]
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM exited with {proc.returncode}")
        result = json.loads(lines[-1])
        if a.workload == "ledger_replay" and not oracle_matches(os.path.join(work, "oracle")):
            result["correct"] = False
            result["failed"] = result["attempted"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
