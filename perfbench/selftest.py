#!/usr/bin/env python3
"""Self-test of the benchmark's own parts. Needs no JVM and no build.

    python3 perfbench/selftest.py

Checks that
  - the generator gives byte-identical tables for one seed and different
    tables for another, and keeps the properties it records (planted
    near-duplicates at Jaccard >= 0.97, background pairs below 0.8);
  - BENCHMARK.json has the required shape, and names every metric the
    benchmark's sources emit, each with one unit;
  - the oracle check passes a correct result and flags a corrupted one.
Exits non-zero on the first failed check.
"""
import json
import os
import re
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(HERE, ".runs", "selftest")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check(cond, what):
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_generator():
    a, b, c = (os.path.join(SCRATCH, x) for x in ("a", "b", "c"))
    props = gen.generate(a, 11)
    gen.generate(b, 11)
    gen.generate(c, 12)
    fa, fb, fc = files(a), files(b), files(c)
    check(fa == fb, "same seed gives byte-identical tables")
    check(all(fa[t] != fc[t] for t in ("documents.parquet", "embeddings.parquet",
                                       "events.parquet")),
          "another seed gives different documents, embeddings and events")
    check(len(fa) == 11, "ten tables and props.json are written")
    con = duckdb.connect()
    docs = f"read_parquet('{a}/documents.parquet')"
    shingles = f"""SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s
        FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
              FROM {docs}), range(1, 200) r(i) WHERE i + 2 <= len(t)"""
    pairs = con.execute(f"""WITH s AS ({shingles}),
        n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1)
        SELECT count(*) / (any_value(na.n) + any_value(nb.n) - count(*)) AS j
        FROM s x JOIN s y ON x.s = y.s AND x.doc_id < y.doc_id
        JOIN n na ON na.doc_id = x.doc_id JOIN n nb ON nb.doc_id = y.doc_id
        GROUP BY x.doc_id, y.doc_id HAVING j >= 0.3""").fetchall()
    near = [j for (j,) in pairs if j < 1.0]
    check(len(near) >= props["near_dup_share"] * props["docs"] * 0.9,
          f"planted near-duplicate pairs are present ({len(near)})")
    check(min(near) >= 0.97, f"planted pairs keep Jaccard >= 0.97 (min {min(near):.3f})")
    check(all(j >= 0.97 for (j,) in pairs),
          "no background pair reaches Jaccard 0.3, far below the 0.8 threshold")
    exact = con.execute(f"SELECT count(*) - count(DISTINCT text) FROM {docs}").fetchone()[0]
    check(exact >= props["exact_dup_share"] * props["docs"] * 0.9,
          f"exact duplicates are present ({exact})")


def emitted_metrics(src):
    """Per-layer metric names in the Scala sources with their units: either
    `"name" -> "unit"` or `"name" -> M(<value>, "unit")`.
    """
    out = {}
    for m in re.finditer(r'"([A-Za-z]+\.[a-z0-9_]+)" ->\s*', src):
        rest = src[m.end():]
        if rest.startswith('"'):
            out[m.group(1)] = rest[1:rest.index('"', 1)]
        elif rest.startswith("M("):
            depth, i = 0, 1
            while True:
                depth += {"(": 1, ")": -1}.get(rest[i], 0)
                if depth == 0:
                    break
                i += 1
            out[m.group(1)] = re.findall(r'"([^"]*)"', rest[:i])[-1]
    return out


def test_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check(set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                        "per_layer"}, "BENCHMARK.json has exactly the required keys")
    check(spec["paths"] == ["perfbench"] and spec["command"][1] == "perfbench/run.py",
          "command and paths point at this directory")
    check(isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60,
          "run_seconds is a whole number from 1 to 60")
    check(2 <= len(spec["workloads"]) <= 8 and all(
        set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
        for w in spec["workloads"]), "workloads have a name and a one-line why")
    check(tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS,
          "the workloads are the ones run.py accepts")
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    names = [m["name"] for m in e2e + layers]
    check(len(names) == len(set(names)) and all(NAME.match(n) for n in names),
          "metric names are unique and well-formed")
    check(all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
              for m in e2e + layers), "every metric has a unit and a direction")
    check(all(set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
              for m in e2e), "end-to-end bounds are at most 0.25")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    check(setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower" and
          setup[0]["bound"] == max(m["bound"] for m in e2e),
          "setup_s is declared in seconds with the largest bound")
    check(all(set(m) == {"name", "unit", "better"} for m in layers),
          "per-layer metrics carry no bound")
    src = ""
    for d, _, fs in os.walk(os.path.join(HERE, "src")):
        for f in fs:
            src += open(os.path.join(d, f)).read()
    emitted = emitted_metrics(src)
    declared = {m["name"]: m["unit"] for m in layers}
    check(emitted == declared,
          f"the sources emit exactly the declared per-layer metrics with their units "
          f"(differ: {sorted(set(emitted.items()) ^ set(declared.items()))})")


def test_oracle_check():
    run_dir = os.path.join(SCRATCH, "oracle")
    gen.generate(os.path.join(run_dir, "inputs"), 5)
    sql = "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"
    con = duckdb.connect()
    table = con.execute(sql.replace(
        "FROM events", f"FROM read_parquet('{run_dir}/inputs/events.parquet')")).arrow()
    out = os.path.join(run_dir, "check", "q_distinct_keys")
    os.makedirs(out)
    with open(os.path.join(run_dir, "check", "oracle_sql.json"), "w") as f:
        json.dump({"q_distinct_keys": sql}, f)
    pq.write_table(table, os.path.join(out, "part-0.parquet"))
    check(run.compare(run_dir, dict(os.environ), 120) == (1, 0), "a correct result passes")
    users = table.column("user_id").to_pylist()
    users[0] += 1
    pq.write_table(table.set_column(0, "user_id", pa.array(users, pa.int64())),
                   os.path.join(out, "part-0.parquet"))
    check(run.compare(run_dir, dict(os.environ), 120) == (1, 1), "a corrupted result is flagged")


def main():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    try:
        test_generator()
        test_spec()
        test_oracle_check()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
