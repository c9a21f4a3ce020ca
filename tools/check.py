#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and diff against Verify's parquet
dumps (columns sorted by name, rows sorted, values compared with a tiny
float tolerance). Dev tool only — not part of the library. Each gate's
line ends with the seconds its DuckDB oracle took.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [gate,gate,...]

With a gate list only those gates are checked; without one, every gate in
oracle_sql.json is.
"""
import json
import sys
import time

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main() -> None:
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if len(sys.argv) > 3:
        gates = [g for g in sys.argv[3].split(",") if g]
        unknown = [g for g in gates if g not in oracle]
        if unknown:
            sys.exit(f"unknown gates: {unknown}")
        oracle = {g: oracle[g] for g in gates}
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark output ({e})")
            n_bad += 1
            continue
        t0 = time.perf_counter()
        try:
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            n_bad += 1
            continue
        secs = f"oracle {time.perf_counter() - t0:.2f}s"
        g, w = norm(got), norm(want)
        if list(g.columns) != list(w.columns):
            print(f"FAIL {name}: columns {list(g.columns)} != {list(w.columns)} ({secs})")
            n_bad += 1
            continue
        if len(g) != len(w):
            print(f"FAIL {name}: rows {len(g)} != {len(w)} ({secs})")
            n_bad += 1
            continue
        bad_cols = []
        weak_cols = []
        for c in g.columns:
            a, b = g[c], w[c]
            try:
                # Strict pass first: the driver's gate hashes str() forms, so
                # a dtype/representation divergence (Decimal('1.40') vs 1.4,
                # int64 vs float64) fails it even when values match.
                strict = (a.isna() & b.isna()) | (a.astype(str) == b.astype(str))
                if strict.all():
                    continue
                if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                    am, bm = a.astype(float), b.astype(float)
                    mism = ~((am.isna() & bm.isna()) | ((am - bm).abs() <= 1e-9))
                else:
                    mism = ~strict
                if mism.any():
                    i = mism.idxmax()  # first REAL value mismatch, not a
                    # representation-only row like '1.40' vs '1.4'
                    bad_cols.append(f"{c} (row {i}: {a[i]!r} vs {b[i]!r})")
                else:
                    i = (~strict).idxmax()
                    weak_cols.append(f"{c} (row {i}: {a[i]!r} vs {b[i]!r})")
            except Exception as e:
                bad_cols.append(f"{c} (compare error {e})")
        if bad_cols:
            print(f"FAIL {name}: value mismatch in {bad_cols[:3]} ({secs})")
            n_bad += 1
        elif weak_cols:
            print(f"WEAK {name}: values match but str/dtype differs "
                  f"(driver hash would FAIL) in {weak_cols[:3]} ({secs})")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(g)} rows, {secs})")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
