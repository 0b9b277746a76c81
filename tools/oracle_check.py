#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB over the
sfDir tables, sorts columns by name, sorts rows, and compares values.
Each result line carries the oracle's wall time (DuckDB query plus the
comparison); the summary line adds the sweep's total.
"""
import sys, os, json, glob, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for comparison
    for c in df.columns:
        if df[c].dtype == "object":
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # Static pre-pass: the driver hashes DuckDB output via pandas, where
    # HUGEINT/DECIMAL render as float64/object and diverge from Spark's
    # int64 even when values are numerically equal (round-6 lesson: six
    # uncast sum(BIGINT) oracles shipped green locally, failed the
    # driver). Reject such oracles before comparing any results.
    bad_types = 0
    for name, sql in sorted(oracle.items()):
        try:
            desc = con.execute(
                f"DESCRIBE SELECT * FROM ({sql}) LIMIT 0").fetchall()
            for col, tn in [(r[0], r[1]) for r in desc]:
                if tn in ("HUGEINT", "UHUGEINT") or tn.startswith("DECIMAL"):
                    print(f"TYPEFAIL {name}: oracle column {col} is {tn} "
                          f"(cast to ::BIGINT/::DOUBLE — driver hash will diverge)")
                    bad_types += 1
        except Exception as e:
            print(f"TYPEFAIL {name}: probe error: {type(e).__name__}: {e}")
            bad_types += 1
    if bad_types:
        print(f"\n{bad_types} oracle type probe failure(s) — fix before comparing")
        sys.exit(1)
    t_sweep = time.monotonic()
    for name, sql in sorted(oracle.items()):
        t0 = time.monotonic()
        secs = lambda: f"{time.monotonic() - t0:.2f}s"
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result written")
            n_fail += 1
            continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            want = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name} [{secs()}]: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name} [{secs()}]: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name} [{secs()}]: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        # The driver's value hash is dtype-sensitive between integer and
        # float kinds (7949 vs 7949.0 hash differently) — mirror that
        # here instead of letting check_dtype=False mask it.
        kind_bad = [c for c in got.columns
                    if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}]
        if kind_bad:
            print(f"FAIL {name} [{secs()}]: int-vs-float dtype kind on {kind_bad} "
                  f"(spark {[str(got[c].dtype) for c in kind_bad]} vs "
                  f"oracle {[str(want[c].dtype) for c in kind_bad]})")
            n_fail += 1
            continue
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(got)} rows) [{secs()}]")
            n_pass += 1
        except AssertionError as e:
            msg = str(e).splitlines()
            print(f"FAIL {name} [{secs()}]: value mismatch: " + " | ".join(msg[:3]))
            # show first differing rows
            neq = (got != want) & ~(got.isna() & want.isna())
            bad = neq.any(axis=1)
            print(got[bad].head(3))
            print(want[bad].head(3))
            n_fail += 1
    print(f"\nsweep wall time {time.monotonic() - t_sweep:.1f}s")
    print(f"{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
