#!/usr/bin/env python3
"""Local pre-verification mirroring the driver's correctness gate.

Runs each oracle SQL from <outdir>/oracle_sql.json in DuckDB over the
parquet tables in <sfdir>, reads the Spark result parquet from
<outdir>/<name>/, canonicalizes both (columns sorted by name, rows sorted,
floats via repr), and diffs. Dev tool only — not part of the library.

Usage: python3 tools/compare.py <sfdir> <outdir>
"""
import json
import math
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_value(v):
    # PANDAS-faithful canonicalization (r12 verdict #2): the driver's gate
    # reads the DuckDB oracle via .df() and the Spark parquet via pandas,
    # so values must be canonicalized AFTER that coercion — r12's x239
    # passed a fetchall()-based tri-scale sweep (Decimals stay exact in
    # fetchall) and then failed the driver, whose pandas path coerces a
    # DuckDB DECIMAL(38,0) to float64 while the Spark parquet side stays
    # exact. fetchall() must never be the row source here again.
    if isinstance(v, float):  # covers numpy float64 (a float subclass)
        if math.isnan(v):
            return "NaN"
        return repr(round(float(v), 9))
    try:
        if v is None or pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass  # arrays etc. — the nested-type check rejects these earlier
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    import datetime
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        # DuckDB .df() renders DATE as datetime64 midnight; pyarrow keeps
        # datetime.date objects. Both driver-green (x32/x150 pass the
        # driver's gate), so normalize the two renderings of the same day
        # — WITHOUT touching the decimal/float asymmetry above, which the
        # driver does NOT normalize.
        return f"{v} 00:00:00"
    return str(v)


def null_nan_counts_duckdb(con, sql, cols):
    # Per-column (NULL count, NaN count) from a SECOND, fetchall()-based
    # execution (r13 advice #4): post-pandas values conflate SQL NULL and
    # genuine NaN in numeric columns, so an engine NULL-vs-NaN divergence
    # was locally undetectable. Counting is ORDER-INDEPENDENT, so the
    # second execution needs no row alignment with the .df() one — and
    # fetchall keeps None (NULL) distinct from float('nan').
    counts = {c: [0, 0] for c in cols}
    for row in con.execute(sql).fetchall():
        for c, v in zip(cols, row):
            if v is None:
                counts[c][0] += 1
            elif isinstance(v, float) and math.isnan(v):
                counts[c][1] += 1
    return {c: tuple(v) for c, v in counts.items()}


def null_nan_counts_spark(path):
    # pyarrow keeps the parquet validity bitmap: null_count is true NULLs;
    # NaNs are counted over the non-null float values only.
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    tbl = pq.read_table(path)
    out = {}
    for c in tbl.column_names:
        col = tbl.column(c)
        nnull = col.null_count
        nnan = 0
        if str(col.type) in ("float", "double", "halffloat"):
            nnan = pc.sum(pc.is_nan(col.drop_null())).as_py() or 0
        out[c] = (nnull, nnan)
    return out


def canon(df):
    cols = sorted(df.columns)
    out = []
    for r in df[cols].itertuples(index=False, name=None):
        out.append("\x01".join(canon_value(v) for v in r))
    return cols, out


def spill_root(outdir):
    """The disk-backed candidate directory with the most free space: the
    output dir, the system temp dir or the working dir. DuckDB's default
    spill dir is `.tmp` under the working dir, whose file system can be
    too small for the largest oracles (x226 at sf0.1)."""
    dirs = [d for d in (outdir, tempfile.gettempdir(), os.getcwd())
            if os.path.isdir(d) and os.access(d, os.W_OK)]
    return max(dirs, key=lambda d: shutil.disk_usage(d).free)


THREADS = 4


def _connect(sfdir, spill_dir):
    con = duckdb.connect()
    # Workers run concurrently — cap DuckDB's own intra-query threading so
    # N workers don't oversubscribe the box N*32-fold.
    con.execute(f"PRAGMA threads={THREADS}")
    # Each connection spills into its own dir, at most half the free space
    # there, so a runaway query fails with an out-of-memory error before
    # the disk is full. Rows are compared sorted, so DuckDB need not keep
    # insertion order (less memory, less spill).
    os.makedirs(spill_dir, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill_dir}'")
    con.execute(f"SET max_temp_directory_size = "
                f"'{shutil.disk_usage(spill_dir).free // 2 ** 21}MiB'")
    con.execute("SET preserve_insertion_order = false")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")
    return con


_worker_con = None
_worker_args = None


def _init_worker(sfdir, outdir, spill):
    global _worker_con, _worker_args
    _worker_con = _connect(sfdir, os.path.join(spill, str(os.getpid())))
    _worker_args = (sfdir, outdir)


def _check_worker(item):
    name, sql = item
    _, outdir = _worker_args
    try:
        return check_one(_worker_con, outdir, name, sql)
    except Exception as e:  # a worker must never take the pool down
        return name, False, [f"FAIL {name}: comparator error: {e}"]


def _oracle_frame(con, sql):
    """The oracle's result through .df(), the driver's pandas coercion —
    NOT fetchall (see canon_value). DuckDB holds a partial hash table per
    thread for every operator of a plan at once, so an oracle whose CTEs
    are inlined dozens of times over (x226 at sf0.1 re-evaluates its edge
    aggregate in every copy of r0..r3) can exhaust memory and spill space
    with several threads; such a query runs once more single-threaded."""
    try:
        return con.execute(sql).df()
    except duckdb.OutOfMemoryException:
        con.execute("PRAGMA threads=1")
        try:
            return con.execute(sql).df()
        finally:
            con.execute(f"PRAGMA threads={THREADS}")


def check_one(con, outdir, name, sql):
    """Returns (name, passed, output lines). Logic unchanged from the
    historical sequential loop — only factored out so a process pool can
    run the (embarrassingly parallel) per-query checks concurrently
    (r15 verdict #1: the sequential compare alone was ~8 min of the
    driver window; x250's recursive-closure oracle is minutes single-
    threaded)."""
    out = []
    if True:  # keep the historical loop body's indentation
        try:
            odf = _oracle_frame(con, sql)
            ocols = list(odf.columns)
            otypes = dict(r[:2] for r in con.execute(f"DESCRIBE {sql}").fetchall())
        except Exception as e:
            out.append(f"FAIL {name}: duckdb error: {e}")
            return name, False, out
        try:
            # pandas/pyarrow read — the driver's Spark-side path (decimal
            # columns arrive as exact Decimal objects, NOT float64: the
            # very asymmetry this mirror exists to reproduce).
            sdf = pd.read_parquet(f"{outdir}/{name}")
            scols = list(sdf.columns)
            ssql = f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')"
            stypes = dict(r[:2] for r in con.execute(f"DESCRIBE {ssql}").fetchall())
        except Exception as e:
            out.append(f"FAIL {name}: spark result unreadable: {e}")
            return name, False, out
        # The driver's hash gate is TYPE-sensitive (uncast DuckDB sum() ->
        # HUGEINT vs Spark BIGINT failed it in r01 while str()-canon passed),
        # so mirror that: column type names must match, not just values.
        # Duplicate column names collapse in the DESCRIBE dict and would
        # silently skip checks; spark-only columns would never be
        # type-checked — fail loudly on both.
        if len(otypes) != len(ocols) or len(stypes) != len(scols):
            out.append(f"FAIL {name}: duplicate column names "
                       f"duckdb={ocols} spark={scols}")
            return name, False, out
        extra = set(otypes) ^ set(stypes)
        if extra:
            out.append(f"FAIL {name}: column sets differ "
                       f"(symmetric diff: {sorted(extra)})")
            return name, False, out
        tdiff = {c: (otypes.get(c), stypes.get(c)) for c in otypes
                 if otypes.get(c) != stypes.get(c)}
        if tdiff:
            out.append(f"FAIL {name}: type mismatch (duckdb, spark): {tdiff}")
            return name, False, out
        # The DRIVER's pandas harness crashes on ARRAY/STRUCT/MAP-typed
        # result columns (sort_values -> unhashable numpy.ndarray), so any
        # nested output type is a guaranteed red row there even though this
        # script's canon_value handles lists. Fail here so the local gate is
        # never weaker than the driver's (r3 shipped 3 red rows this way):
        # stringify with array_join/to_json on BOTH sides instead.
        nested = {c: t for c, t in {**otypes, **stypes}.items()
                  if "[]" in t or t.startswith(("STRUCT", "MAP", "UNION"))}
        if nested:
            out.append(f"FAIL {name}: nested result column(s) {nested} — the "
                       f"driver's pandas gate cannot sort these; stringify them")
            return name, False, out
        # NULL-vs-NaN divergence gate (r13 advice #4): canon() below sees
        # post-pandas values where both canonicalize alike, so compare the
        # per-column (NULL, NaN) count pairs captured BEFORE the coercion.
        # Cheap pre-check: if neither coerced frame carries ANY NA/NaN the
        # ambiguity cannot arise — skip the second oracle execution.
        if bool(odf.isna().any().any()) or bool(sdf.isna().any().any()):
            onn = null_nan_counts_duckdb(con, sql, ocols)
            snn = null_nan_counts_spark(f"{outdir}/{name}")
            nn_diff = {c: (onn.get(c), snn.get(c)) for c in onn
                       if onn.get(c) != snn.get(c)}
            if nn_diff:
                out.append(f"FAIL {name}: NULL/NaN divergence (duckdb, spark) "
                           f"per column (n_null, n_nan): {nn_diff}")
                return name, False, out
        oc, orws = canon(odf)
        sc, srws = canon(sdf)
        if oc != sc:
            out.append(f"FAIL {name}: schema mismatch duckdb={oc} spark={sc}")
            return name, False, out
        ordered_match = orws == srws
        sorted_match = sorted(orws) == sorted(srws)
        if sorted_match:
            flag = "" if ordered_match else " (order differs, sorted match)"
            out.append(f"PASS {name}: {len(srws)} rows{flag}")
            return name, True, out
        else:
            oset, sset = set(orws), set(srws)
            only_o = [r for r in orws if r not in sset][:3]
            only_s = [r for r in srws if r not in oset][:3]
            out.append(f"FAIL {name}: rows differ (duckdb={len(orws)} spark={len(srws)})")
            for r in only_o:
                out.append(f"  duckdb-only: {r[:200]}")
            for r in only_s:
                out.append(f"  spark-only:  {r[:200]}")
            if not only_o and not only_s:
                for i, (a, b) in enumerate(zip(orws, srws)):
                    if a != b:
                        out.append(f"  first order diff at row {i}:\n   duckdb={a[:200]}\n   spark ={b[:200]}")
                        break
            return name, False, out


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    with open(f"{outdir}/oracle_sql.json") as f:
        oracle = json.load(f)
    items = [(n, oracle[n]) for n in sorted(oracle)]

    procs = int(os.environ.get("GRAFT_COMPARE_PROCS",
                               str(min(8, os.cpu_count() or 1))))
    procs = max(1, min(procs, len(items) or 1))
    spill = tempfile.mkdtemp(prefix="graft_compare_spill_", dir=spill_root(outdir))
    try:
        n_pass, n_fail = _check_all(sfdir, outdir, items, procs, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)
    print(f"\n{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


def _check_all(sfdir, outdir, items, procs, spill):
    n_pass = n_fail = 0
    if procs == 1:
        con = _connect(sfdir, spill)
        results = (check_one(con, outdir, n, s) for n, s in items)
        for _, passed, lines in results:
            for ln in lines:
                print(ln, flush=True)
            n_pass += passed
            n_fail += not passed
    else:
        # Process pool, one DuckDB connection per worker (r15 verdict #1:
        # the checks are independent; results print as they complete, so
        # a killed run still shows every finished query — per-query line
        # format and the summary/exit contract are unchanged).
        import multiprocessing as mp
        ctx = mp.get_context("fork")
        with ctx.Pool(procs, initializer=_init_worker,
                      initargs=(sfdir, outdir, spill)) as pool:
            for _, passed, lines in pool.imap_unordered(_check_worker, items):
                for ln in lines:
                    print(ln, flush=True)
                n_pass += passed
                n_fail += not passed
    return n_pass, n_fail


if __name__ == "__main__":
    main()
