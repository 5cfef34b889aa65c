#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: oracle_check.py [--only name,...] [--timeout S] <verify_out_dir> <sf_dir>

For each query in oracle_sql.json: run the SQL in DuckDB (views over the
sfDir parquet tables), load the Spark parquet result, sort columns by name,
and compare row counts, dtypes (loosely), and values (exact for
ints/strings, bit-exact-or-tiny-tol reported separately for floats).

--only checks just the named queries (e.g. the ones a change touched, at
sf0.1, where a sweep of every query takes too long); a name that is in
neither oracle_sql.json nor the output dir fails. --timeout interrupts a
DuckDB oracle query after S seconds and counts it as a FAIL.
"""
import argparse, json, sys, glob, os, threading
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def run_oracle(con, sql, timeout):
    """The oracle's rows, or None when it ran past `timeout` seconds."""
    if timeout is None:
        return con.sql(sql).df()
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).df()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()

def main(out_dir, sf_dir, only=None, timeout=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    all_dirs = {os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*"))
                if os.path.isdir(p)}
    n_pass = n_fail = 0
    if only is not None:
        for name in sorted(only - set(oracle) - all_dirs):
            print(f"FAIL {name}: not in {out_dir}"); n_fail += 1
        oracle = {k: v for k, v in oracle.items() if k in only}
        all_dirs &= only
    for name in sorted(oracle):
        sql = oracle[name]
        spark_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(spark_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output");  n_fail += 1; continue
        try:
            duck = run_oracle(con, sql, timeout)
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}"); n_fail += 1; continue
        if duck is None:
            print(f"FAIL {name}: oracle timed out after {timeout:g} s")
            n_fail += 1; continue
        spark = pd.read_parquet(spark_dir)
        duck = duck.reindex(sorted(duck.columns), axis=1)
        spark = spark.reindex(sorted(spark.columns), axis=1)
        if list(duck.columns) != list(spark.columns):
            print(f"FAIL {name}: columns {list(duck.columns)} vs {list(spark.columns)}")
            n_fail += 1; continue
        if len(duck) != len(spark):
            print(f"FAIL {name}: rows {len(duck)} vs {len(spark)}")
            n_fail += 1; continue
        bad = []
        for c in duck.columns:
            dv, sv = duck[c].values, spark[c].values
            # The driver hashes serialized values, so a Decimal-object column
            # on one side vs float64 on the other fails its gate even when
            # numerically identical (e.g. '112946.20' vs '112946.2'). Mirror
            # that: treat an object(Decimal)-vs-float pairing as FAIL here.
            kinds = {duck[c].dtype.kind, spark[c].dtype.kind}
            if kinds == {'O', 'f'}:
                objside = duck[c] if duck[c].dtype.kind == 'O' else spark[c]
                # sniff the first NON-NULL value: a column whose head is all
                # nulls would otherwise smuggle Decimals past the strict gate
                if any(type(v).__name__ == 'Decimal'
                       for v in objside.dropna().head(1)):
                    bad.append(f"{c}: dtype bridge mismatch — Decimal objects vs "
                               f"float64 (driver hash would fail; cast to DOUBLE "
                               f"on both sides)")
                    continue
            if duck[c].dtype.kind == 'f' or spark[c].dtype.kind == 'f':
                d = np.asarray(dv, dtype=float); s = np.asarray(sv, dtype=float)
                both_nan = np.isnan(d) & np.isnan(s)
                exact = np.sum((d == s) | both_nan)
                if exact != len(d):
                    close = np.sum(np.isclose(d, s, rtol=1e-9, atol=1e-12) | both_nan)
                    bad.append(f"{c}: {len(d)-exact} not bit-equal"
                               f" ({len(d)-close} beyond 1e-9 rtol)"
                               f" maxdiff={np.nanmax(np.abs(d-s)):.3e}")
            else:
                try:
                    eq = (pd.Series(dv).astype(object) == pd.Series(sv).astype(object)) | \
                         (pd.Series(dv).isna() & pd.Series(sv).isna())
                    if not eq.all():
                        i = int(np.argmin(eq.values))
                        bad.append(f"{c}: {int((~eq).sum())} mismatches, first at row {i}: {dv[i]!r} vs {sv[i]!r}")
                except Exception as e:
                    bad.append(f"{c}: compare error {e}")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad)); n_fail += 1
        else:
            print(f"PASS {name} ({len(duck)} rows)"); n_pass += 1
    # queries without oracle: just check rows > 0
    for name in sorted(all_dirs - set(oracle)):
        spark = pd.read_parquet(os.path.join(out_dir, name))
        status = "PASS" if len(spark) > 0 else "FAIL"
        print(f"{status} {name} (rows-only: {len(spark)} rows)")
        if status == "PASS": n_pass += 1
        else: n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    ap = argparse.ArgumentParser(description="DuckDB-oracle check of a Verify dump")
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("--only", help="comma-separated query names to check")
    ap.add_argument("--timeout", type=float,
                    help="seconds before an oracle query is interrupted (a FAIL)")
    a = ap.parse_args()
    only = {n for n in a.only.split(",") if n} if a.only else None
    sys.exit(main(a.out_dir, a.sf_dir, only, a.timeout))
