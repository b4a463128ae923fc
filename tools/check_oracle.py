#!/usr/bin/env python3
"""Self-check mirroring the driver's DuckDB-oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>

For each entry in <verifyOutDir>/oracle_sql.json: register every parquet in
<sfDir> as a DuckDB view named by its table, run the oracle SQL, load the
Spark dump <verifyOutDir>/<name>/*.parquet, sort columns by name, sort rows,
and compare column by column, strictly: equal dtypes and equal values
rendered as strings, with no float tolerance. A dump with no oracle entry
is a failure (every query is oracled). Ends with `N OK, R ROWS, F FAIL`;
exits 1 when F > 0.
"""
import json
import sys

import duckdb
import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    oks = 0
    rows_only = 0
    for name, sql in sorted(oracle.items()):
        try:
            expect = norm(con.execute(sql).df())
            got = norm(duckdb.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: exception {e}")
            failures += 1
            continue
        if list(expect.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != "
                  f"{list(expect.columns)}")
            failures += 1
            continue
        if len(expect) != len(got):
            print(f"FAIL {name}: rows {len(got)} != {len(expect)}")
            failures += 1
            continue
        bad = None
        for c in expect.columns:
            e, g = expect[c], got[c]
            # STRICT mode (matches the driver's exact value hash): dtypes
            # must agree and values must render identically — DuckDB's
            # pandas bridge turning HUGEINT/DECIMAL sums into float64 is a
            # real driver failure, not noise (round-1 lesson: the old
            # float-tolerant compare reported green on 7 hash-fails).
            if e.dtype != g.dtype:
                print(f"  dtype drift {name}.{c}: "
                      f"oracle={e.dtype} spark={g.dtype}")
                bad = c
                break
            ok = e.astype(str).tolist() == g.astype(str).tolist()
            if not ok:
                bad = c
                break
        if bad is not None:
            print(f"FAIL {name}: column '{bad}' differs")
            merged = pd.DataFrame({"expect": expect[bad], "got": got[bad]})
            diff = merged[merged["expect"].astype(str) !=
                          merged["got"].astype(str)]
            print(diff.head(5).to_string())
            failures += 1
        else:
            print(f"OK   {name} ({len(got)} rows)")
            oks += 1
    # dumps without an oracle entry: each one is a query that lost its
    # oracle, so it counts as a failure
    import glob
    import os
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(d.rstrip("/"))
        if name not in oracle:
            try:
                n = duckdb.sql(
                    f"SELECT count(*) FROM '{d}*.parquet'").fetchone()[0]
                print(f"ROWS {name}: {n} rows (no oracle)")
                rows_only += 1
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: unreadable dump: {e}")
            failures += 1
    print(f"{oks} OK, {rows_only} ROWS, {failures} FAIL")
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1], sys.argv[2]) else 0)
