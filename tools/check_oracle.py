#!/usr/bin/env python3
"""Local pre-check mimicking the driver's correctness gate: run each
SparkEntry.oracleSql in DuckDB over the same parquet tables and compare
with the Spark result parquet dumped by graft.Verify.

Every name in oracle_sql.json must have a dump: a registered query with
no Spark output is a FAIL. Exit status 1 on any FAIL.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import decimal
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

import datetime

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize timestamp/date cols to us-precision datetime64
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.reset_index(drop=True)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # every registered name AND every dumped directory: a query whose dump
    # is missing (its builder threw) fails instead of going uncounted
    dirs = {n for n in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(dirs | set(oracle)):
        d = os.path.join(out_dir, name)
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = norm(pd.read_parquet(files[0]))
        if name not in oracle:
            print(f"SKIP {name}: rows-only ({len(spark_df)} rows)")
            continue
        try:
            duck_df = norm(con.execute(oracle[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        ok = True
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            ok = False
        elif len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            ok = False
        else:
            # HUGEINT/typing guard: the driver's gate hashes the pandas
            # RENDERING of each value, so an oracle aggregate that
            # reaches pandas as float64 (DuckDB sum(int) -> HUGEINT ->
            # float64) against a Spark integer column hash-misses even
            # when every value is numerically identical (round-5 q114).
            # Fail loudly on any int-vs-float kind mismatch so the
            # self-gate can never be greener than the driver's gate.
            # Round-10 extension: a Spark DECIMAL column reaches pandas
            # as OBJECT-kind decimal.Decimal while DuckDB's fetchdf()
            # converts DECIMAL(38,0) to float64 — that bridge renders
            # `92638` vs `92638.0` and hash-misses on identical values,
            # and assert_frame_equal(check_exact=True) treats
            # Decimal('92638') == 92638.0 as equal, so it is invisible
            # below. Flag any Decimal-vs-numeric (or Decimal-vs-anything
            # non-Decimal) pair the same loud way.
            def _is_decimal_col(s):
                if s.dtype.kind != "O":
                    return False
                nn = s.dropna()
                return len(nn) > 0 and isinstance(nn.iloc[0], decimal.Decimal)
            for c in spark_df.columns:
                sk, dk = spark_df[c].dtype.kind, duck_df[c].dtype.kind
                if {sk, dk} == {"i", "f"} or {sk, dk} == {"u", "f"}:
                    print(f"FAIL {name}: dtype bridge col={c} "
                          f"spark={spark_df[c].dtype} duck={duck_df[c].dtype} "
                          "(CAST the oracle aggregate to the Spark type)")
                    ok = False
                elif _is_decimal_col(spark_df[c]) != _is_decimal_col(duck_df[c]):
                    print(f"FAIL {name}: Decimal bridge col={c} "
                          f"spark_decimal={_is_decimal_col(spark_df[c])} "
                          f"duck_decimal={_is_decimal_col(duck_df[c])} "
                          "(publish BIGINT, or strings beyond 2^63 — raw "
                          "decimal columns render differently per engine)")
                    ok = False
            if ok:
                try:
                    pd.testing.assert_frame_equal(spark_df, duck_df, check_dtype=False,
                                                  check_exact=True)
                except AssertionError as e:
                    print(f"FAIL {name}: values differ\n{str(e)[:600]}")
                    ok = False
            if ok:
                # RENDERING equality — the driver hashes str() of every
                # cell, so numeric equality is not enough: compare the
                # actual hashed surface cell by cell (catches any future
                # same-value-different-rendering class, not just the two
                # seen so far).
                for c in spark_df.columns:
                    sr = spark_df[c].map(lambda v: str(v))
                    dr = duck_df[c].map(lambda v: str(v))
                    bad = sr[sr != dr]
                    if len(bad):
                        i = bad.index[0]
                        print(f"FAIL {name}: rendering differs col={c} "
                              f"row={i} spark={sr[i]!r} duck={dr[i]!r} "
                              f"({len(bad)} cells)")
                        ok = False
                        break
        if ok:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
