#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify (sbt) at a
scale factor, then execute each oracle_sql.json entry in DuckDB over the
same parquet tables and compare row/schema/values."""
import json, sys, glob, os
import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# optional comma-separated key subset (re-run one heavy oracle on a
# quiet machine without repeating the other ~175)
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints/floats: everything to object via repr of rounded vals
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def main():
    con = duckdb.connect()
    # the heaviest oracles (knn_pagerank's pair-dot chain at sf0.1) spill
    # >80G to temp disk under DuckDB's default memory limit and die on
    # machines with bounded /; keep them in RAM on the 128G test box
    try:
        con.execute("PRAGMA memory_limit='100GB'")
    except Exception:
        pass
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_pass = n_fail = 0
    # a subset key with no oracle (mistyped, or not dumped by Verify)
    # was checked by nothing: count it as a failure, never skip it
    for name in sorted((ONLY or set()) - oracle.keys()):
        print(f"FAIL {name}: not in oracle_sql.json")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if ONLY is not None and name not in ONLY:
            continue
        rd = f"{OUT}/{name}"
        files = glob.glob(f"{rd}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
            try:
                duck_df = con.execute(sql).df()
            except Exception as e:
                # The heaviest sf0.1 oracles (knn_pagerank's pair-dot
                # chain) can exceed the host's temp-disk quota when
                # DuckDB spills per-thread; fewer threads = smaller
                # concurrent spill footprint. Retry once throttled.
                if "No space left" not in str(e):
                    raise
                prior = con.execute(
                    "SELECT current_setting('threads')").fetchone()[0]
                con.execute("PRAGMA threads=4")
                try:
                    duck_df = con.execute(sql).df()
                finally:
                    # restore the connection's own prior value (host
                    # core count by default) — a hardcoded restore
                    # permanently throttled every later oracle
                    con.execute(f"PRAGMA threads={int(prior)}")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        s, d = norm(spark_df.copy()), norm(duck_df.copy())
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1
            continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}")
            n_fail += 1
            continue
        bad = []
        for c in s.columns:
            a, b = s[c], d[c]
            fa, fb = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
            if fa != fb:
                # Driver hashes value reprs, so int64 0 vs float64 0.0 is a
                # FAIL there — mirror it (caught: DuckDB HUGEINT // int -> DOUBLE).
                print(f"FAIL {name}: dtype mismatch on {c}: spark={a.dtype} duck={b.dtype}")
                bad.append(f"{c} (float/int dtype mismatch)")
                continue
            if fa and fb:
                eq = (a.fillna(-1e300).astype(float) - b.fillna(-1e300).astype(float)).abs() < 1e-9
            else:
                eq = a.astype(str).fillna("<NA>") == b.astype(str).fillna("<NA>")
            if not eq.all():
                i = (~eq).idxmax()
                bad.append(f"{c} (row {i}: spark={a[i]!r} duck={b[i]!r}, {int((~eq).sum())} diffs)")
        if bad:
            print(f"FAIL {name}: value diffs: {'; '.join(bad[:4])}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows, {len(s.columns)} cols)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

sys.exit(main())
