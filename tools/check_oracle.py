#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Runs each SparkEntry.oracleSql in DuckDB over the same parquet tables,
loads the Spark result parquet written by graft.Verify, sorts columns by
name and rows by value, and compares. Usage:

    python3 -u tools/check_oracle.py <sf_dir> <out_dir> [--timeout S] [q ...]

Trailing query names restrict the check to those queries. `--timeout S`
runs each DuckDB mirror in a subprocess with an S-second budget, for
scaled-data runs where single mirrors can be slow: a query over budget
is reported SLOW and skipped, not silently lost. Exits 1 if any query
FAILs; SLOW-skipped queries do not fail the run.
"""
import argparse, glob, json, multiprocessing as mp, sys, time
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def connect_views(sf_dir):
    """DuckDB connection with one view per test table. Handles both the
    driver's single-file tables and Spark's directory output (scaled
    data dirs)."""
    import os
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # partial SF dirs (e.g. a docs+embeddings-only sf10 ladder dir)
        # get views only for the tables they carry — a mirror touching
        # a missing table then fails on the missing VIEW, loudly
        if not os.path.exists(p):
            continue
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # normalize timestamps to naive UTC strings for robust compare
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def compare(name, spark_df, duck_df, tol=1e-9):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA MISMATCH spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWCOUNT MISMATCH spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce")
            bv = pd.to_numeric(bv, errors="coerce")
            bad = ~((av.isna() & bv.isna()) |
                    (abs(av - bv) <= tol * (1 + abs(bv))))
            if bad.any():
                i = bad.idxmax()
                return f"VALUE MISMATCH col={c} row={i} spark={av[i]!r} oracle={bv[i]!r}"
            # exact-hash check the driver likely does: flag any non-identical float
            exact_bad = ~((av.isna() & bv.isna()) | (av == bv))
            if exact_bad.any():
                i = exact_bad.idxmax()
                print(f"  [warn] {name}: float not bit-identical col={c} row={i} "
                      f"spark={av[i]!r} oracle={bv[i]!r}")
        else:
            if not av.astype(str).equals(bv.astype(str)):
                neq = av.astype(str) != bv.astype(str)
                i = neq.idxmax()
                return f"VALUE MISMATCH col={c} row={i} spark={av[i]!r} oracle={bv[i]!r}"
    return None

def run_oracle(sf_dir, sql):
    try:
        return ("ok", connect_views(sf_dir).execute(sql).df())
    except Exception as e:
        return ("err", str(e))

def run_oracle_child(sf_dir, sql, q):
    q.put(run_oracle(sf_dir, sql))

def oracle_df(sf_dir, sql, timeout):
    """("ok", df), ("err", message), or ("slow", None) past `timeout` s."""
    if timeout is None:
        return run_oracle(sf_dir, sql)
    q = mp.Queue()
    proc = mp.Process(target=run_oracle_child, args=(sf_dir, sql, q))
    proc.start()
    # q.get BEFORE join: a large result blocks the child's queue write
    # until the parent reads — join-first deadlocks on any output
    # bigger than the pipe buffer
    try:
        result = q.get(timeout=timeout)
    except Exception:
        proc.terminate()
        proc.join()
        return ("slow", None)
    proc.join(60)
    return result

def main(sf_dir, out_dir, timeout=None, names=()):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = sorted(names or oracle)
    n_ok, slow, failed = 0, [], []
    def fail(name, msg):
        print(f"FAIL {name}: {msg}", flush=True)
        failed.append(name)
    for name in names:
        if name not in oracle:
            fail(name, "not in oracle_sql.json"); continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            fail(name, "no spark output"); continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        t0 = time.time()
        status, payload = oracle_df(sf_dir, oracle[name], timeout)
        dt = time.time() - t0
        if status == "slow":
            print(f"SLOW {name}: oracle exceeded {timeout}s (spark side: {len(spark_df)} rows)", flush=True)
            slow.append(name)
        elif status == "err":
            fail(name, f"oracle SQL error: {payload}")
        elif err := compare(name, spark_df, payload):
            fail(name, f"{err} [{dt:.1f}s]")
        else:
            n_ok += 1
            print(f"OK   {name} ({len(payload)} rows) [{dt:.1f}s]", flush=True)
    print(f"== {n_ok}/{len(names)} matched, {len(slow)} slow-skipped {slow}, "
          f"{len(failed)} failed {failed}", flush=True)
    return 1 if failed else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="Compare graft.Verify output with DuckDB oracles.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("names", nargs="*", metavar="q", help="only these queries")
    ap.add_argument("--timeout", type=float, metavar="S",
                    help="per-query DuckDB budget in seconds (subprocess); over it = SLOW")
    a = ap.parse_intermixed_args()
    sys.exit(main(a.sf_dir, a.out_dir, a.timeout, a.names))
