#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark program
and the library from the checkout's sources (sbt, in perfbench/); later runs
reuse the build while the sources are unchanged. Inputs are drawn from the
seed: the whisper workloads synthesize theirs in the benchmark JVM;
corpus-ops gets a seeded corpus (perfbench/corpus.py) and DuckDB's answers
to its queries' oracle SQL, computed here before the timed region.
Everything is written under .bench_build/ in the checkout.

Exit status 0 when every operation returned the expected result, 1 when
one did not (the result line says how many), 2 when the benchmark could
not run at all.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["whisper", "corpus-ops"]
CORPUS_SCALE = 0.01
RUN_LIMIT_S = 170  # a run, after any build, ends within this
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(stamp):
    """The benchmark's runtime classpath, building first when sources changed."""
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-error",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def java(cp, args, tmp, timeout):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    proc = subprocess.Popen(cmd + ["-cp", cp] + args, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the benchmark JVM did not finish within {timeout} s")
    return proc.returncode, out


def oracle_sql(cp, stamp, tmp):
    """The corpus-ops queries' oracle SQL, as the built library states it."""
    sql_file = os.path.join(BUILD, "oracle_sql.json")
    stamp_file = sql_file + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        code, _ = java(cp, ["perfbench.Main", "oracle-sql", sql_file], tmp, 120)
        if code != 0:
            fail("could not read the oracle SQL")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    with open(sql_file) as fh:
        return json.load(fh)


def oracle_answers(queries, corpus, oracle):
    """DuckDB's result for each query's oracle SQL, as parquet files."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        name = f[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(corpus, f)}')")
    for name, sql in queries.items():
        con.execute(f"COPY ({sql.strip().rstrip(';')}) TO "
                    f"'{os.path.join(oracle, name + '.parquet')}' (FORMAT PARQUET)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--perturb", default="0", choices=["0", "1"],
                    help="flip one bit of every expected result (the gate's negative test)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources next to perfbench/ (run from a checkout of the repository)")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark installation")

    stamp = source_stamp()
    cp = classpath(stamp)
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, a.workload)
    for d in ("inputs", "spark-local", "tmp", "corpus", "oracle", "warehouse"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    tmp, corpus, oracle = (os.path.join(work, d) for d in ("tmp", "corpus", "oracle"))
    for d in (tmp, corpus, oracle):
        os.makedirs(d)
    if a.workload == "corpus-ops":
        sys.path.insert(0, HERE)
        import corpus as corpus_gen
        corpus_gen.write(corpus, a.seed, CORPUS_SCALE)
        oracle_answers(oracle_sql(cp, stamp, tmp), corpus, oracle)

    code, out = java(cp, [
        "perfbench.Main", "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
        "--corpus", corpus, "--oracle", oracle, "--perturb", a.perturb], tmp,
        max(1.0, deadline - time.monotonic()))
    lines = out.rstrip("\n").splitlines()
    if not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"the benchmark JVM exited with {code} and no result")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
