#!/usr/bin/env python3
"""Seeded benchmark of the library, one workload per run.

    python3 perfbench/run.py --workload <corpus_batch|vector_serve|stream_ingest>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs
reuse that build while the sources are unchanged. Each run then

  1. generates the inputs from --seed (perfbench/gen.py) into a private run
     directory under perfbench/.runs/, which also holds the run's Spark
     warehouse, java.io.tmpdir and local dirs;
  2. starts one JVM (graft.perfbench.Main, local[4]) that sets the workload
     up several times, measures it for --seconds with tracing off, and with
     --trace 1 measures it again traced; then checks its outputs;
  3. compares every declared query the workload ran with its oracle SQL
     through tools/compare.py;
  4. prints one line per metric ("metric <workload> <name> <value> <unit>"),
     then the result as one JSON object on the last line.

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and keeps the spans in perfbench/out/).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("corpus_batch", "vector_serve")
DEADLINE_S = 175  # a run, build excluded, must end within 180 s
CHECK_RESERVE_S = 12  # of which the checks after the JVM may take this much
BUILD_DEADLINE_S = 880
CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_stamp():
    """Hash of every source the build compiles, to reuse a finished build."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(env):
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True, timeout=BUILD_DEADLINE_S)
    cp = [ln for ln in proc.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp[-1] + "\n")
    return cp[-1]


def compare(run_dir, env, timeout):
    """Oracle check of the declared queries: (attempted, failed)."""
    with open(os.path.join(run_dir, "check", "oracle_sql.json")) as f:
        if not json.load(f):
            return 0, 0
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare.py"),
         os.path.join(run_dir, "inputs"), os.path.join(run_dir, "check")],
        env=dict(env, GRAFT_COMPARE_PROCS="1"), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=timeout)
    lines = proc.stdout.splitlines()
    passed = [ln for ln in lines if ln.startswith("PASS ")]
    failed = [ln for ln in lines if ln.startswith("FAIL ")]
    for ln in failed:
        print(f"perfbench: oracle {ln}", file=sys.stderr)
    if proc.returncode not in (0, 1) or not (passed or failed):
        print(proc.stdout[-2000:], file=sys.stderr)
        return 1, 1
    return len(passed) + len(failed), len(failed)


def check_sinks(run_dir):
    """corpus_batch: the pipeline's five sinks checked against each other
    and against the input documents: (attempted, failed).
    """
    sink = os.path.join(run_dir, "out", "pipeline")
    con = duckdb.connect()
    for name in ("train", "holdout", "rejected", "sequences", "merges"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sink, name)}/*.parquet')")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{os.path.join(run_dir, 'inputs', 'documents.parquet')}')")
    holdout = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '10'"
    checks = {
        "every sink is non-empty": """SELECT min(n) > 0 FROM (
            SELECT count(*) n FROM train UNION ALL SELECT count(*) FROM holdout
            UNION ALL SELECT count(*) FROM rejected UNION ALL SELECT count(*) FROM sequences
            UNION ALL SELECT count(*) FROM merges)""",
        "train, holdout and rejected hold distinct docs": """SELECT count(*) = count(DISTINCT doc_id)
            FROM (SELECT doc_id FROM train UNION ALL SELECT doc_id FROM holdout
                  UNION ALL SELECT doc_id FROM rejected)""",
        "every sink doc is an input doc": """SELECT count(*) = 0 FROM (
            SELECT doc_id FROM train UNION SELECT doc_id FROM holdout
            UNION SELECT doc_id FROM rejected UNION SELECT doc_id FROM sequences
            EXCEPT SELECT doc_id FROM documents)""",
        "sequences come from train docs":
            "SELECT count(*) = 0 FROM (SELECT doc_id FROM sequences EXCEPT SELECT doc_id FROM train)",
        "the holdout split follows its md5 rule": f"""SELECT
            (SELECT count(*) FROM holdout WHERE NOT ({holdout})) = 0 AND
            (SELECT count(*) FROM train WHERE {holdout}) = 0""",
    }
    failed = [name for name, sql in checks.items() if not con.execute(sql).fetchone()[0]]
    for name in failed:
        print(f"perfbench: sink check failed: {name}", file=sys.stderr)
    return len(checks), len(failed)


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "compare.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = classpath(env)
    started = time.time()

    run_dir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        props = gen.generate(os.path.join(run_dir, "inputs"), args.seed)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, "-Xmx3g", "-XX:+UseParallelGC",
               *[x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", cp, "graft.perfbench.Main", args.workload, str(args.seed),
               str(args.seconds), str(args.trace), os.path.join(run_dir, "inputs"), run_dir]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
            try:
                proc.wait(timeout=DEADLINE_S - CHECK_RESERVE_S - (time.time() - started))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        result_path = os.path.join(run_dir, "result.json")
        if proc.returncode != 0 or not os.path.isfile(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM failed (exit {proc.returncode})")
        with open(result_path) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        a, f_ = compare(run_dir, env, max(1.0, DEADLINE_S - (time.time() - started)))
        attempted, failed = attempted + a, failed + f_
        if args.workload == "corpus_batch":
            a, f_ = check_sinks(run_dir)
            attempted, failed = attempted + a, failed + f_
        metrics = res["metrics"]
        if not args.trace:
            metrics["success_rate"] = {"value": 1.0 - failed / attempted, "unit": "fraction"}
        else:
            trace_out = os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(trace_out), exist_ok=True)
            shutil.copyfile(os.path.join(run_dir, "trace.json"), trace_out)
        declared = declared_metrics(args.trace)
        wrong = sorted(k for k, u in declared.items()
                       if k not in metrics or metrics[k]["unit"] != u)
        if wrong:
            fail(f"metrics missing or with another unit: {wrong}")
        metrics = {k: metrics[k] for k in declared}

        for k, v in props.items():
            print(f"input {args.workload} {k} {v}")
        print(f"info {args.workload} ops {res['ops']} tail_percentile p{res['tail_percentile']}")
        for k, m in metrics.items():
            print(f"metric {args.workload} {k} {m['value']!r} {m['unit']}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
