#!/usr/bin/env python3
"""Compare two graft.Verify outputs: do both sides return the same rows?

Usage: compare_dumps.py <verifyOutA> <verifyOutB>

Checks, per query dump (every subdirectory of either output):
  - both sides have it, with the same column names and types;
  - equal row counts, and DuckDB `EXCEPT ALL` is empty in both directions;
  - `oracle_sql.json` holds the same SQL for it on both sides, after each
    side's aux-dir path (`.../target/verify_aux/<sf>`, where Verify puts
    the oracle inputs) is replaced by one token.
Then the IVF codebooks each side dumped under its aux dir
(`ivf_centroids*`) must hold equal values.

Prints one line per query and codebook, then `N SAME, D DIFF`, where N
counts queries and D counts queries and codebooks that differ; exits 1
when D > 0.
"""
import json
import os
import re
import sys

import duckdb

AUX_RE = re.compile(r"[^'\s]*/target/verify_aux/[A-Za-z0-9._-]+")
AUX_TOKEN = "<AUX>"


def load_oracles(out_dir: str):
    """(name -> SQL with the aux dir tokenised, aux dir or None)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        raw = json.load(f)
    auxes = {m for sql in raw.values() for m in AUX_RE.findall(sql)}
    if len(auxes) > 1:
        raise SystemExit(f"{out_dir}: more than one aux dir: {sorted(auxes)}")
    aux = next(iter(auxes), None)
    return {k: (v.replace(aux, AUX_TOKEN) if aux else v)
            for k, v in raw.items()}, aux


def dumps(out_dir: str):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, d))}


def same_rows(con, a: str, b: str) -> str:
    """'' when the parquet globs `a` and `b` hold the same rows, else why."""
    sa = con.execute(f"DESCRIBE SELECT * FROM '{a}'").fetchall()
    sb = con.execute(f"DESCRIBE SELECT * FROM '{b}'").fetchall()
    if [c[:2] for c in sa] != [c[:2] for c in sb]:
        return f"schema {[c[:2] for c in sa]} != {[c[:2] for c in sb]}"
    na = con.execute(f"SELECT count(*) FROM '{a}'").fetchone()[0]
    nb = con.execute(f"SELECT count(*) FROM '{b}'").fetchone()[0]
    if na != nb:
        return f"rows {na} != {nb}"
    for x, y in ((a, b), (b, a)):
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT * FROM '{x}' "
            f"EXCEPT ALL SELECT * FROM '{y}')").fetchone()[0]
        if extra:
            return f"{extra} row(s) of {x} not in {y}"
    return ""


def main(a: str, b: str) -> int:
    con = duckdb.connect()
    oracle_a, aux_a = load_oracles(a)
    oracle_b, aux_b = load_oracles(b)
    same = diff = 0
    for name in sorted(dumps(a) | dumps(b) | set(oracle_a) | set(oracle_b)):
        try:
            why = same_rows(con, f"{a}/{name}/*.parquet",
                            f"{b}/{name}/*.parquet")
        except Exception as e:  # noqa: BLE001
            why = f"exception {e}"
        if not why and oracle_a.get(name) != oracle_b.get(name):
            why = "oracle SQL differs"
        if why:
            print(f"DIFF {name}: {why}")
            diff += 1
        else:
            print(f"SAME {name}")
            same += 1
    if not aux_a or not aux_b:
        print("DIFF codebooks: no aux dir named in oracle_sql.json")
        diff += 1
    else:
        books = sorted({d for aux in (aux_a, aux_b) if os.path.isdir(aux)
                        for d in os.listdir(aux)
                        if d.startswith("ivf_centroids")})
        if not books:
            print("DIFF codebooks: none dumped")
            diff += 1
        for book in books:
            try:
                why = same_rows(con, f"{aux_a}/{book}/*.parquet",
                                f"{aux_b}/{book}/*.parquet")
            except Exception as e:  # noqa: BLE001
                why = f"exception {e}"
            print(f"DIFF codebook {book}: {why}" if why
                  else f"SAME codebook {book}")
            diff += bool(why)
    print(f"{same} SAME, {diff} DIFF")
    return 1 if diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
