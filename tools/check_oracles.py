#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: for each query dumped by
graft.Verify, run the oracle SQL in DuckDB over the same sf dir and compare
schema + rows (columns sorted by name, rows sorted, values hashed).

Usage: check_oracles.py <sf_dir> <out_dir> [<sf_dir> <out_dir>]...
Checks every (sf_dir, out_dir) pair in turn, where out_dir is what
`graft.Verify <sf_dir> <out_dir>` wrote, and exits non-zero if any pair has a
failed oracle."""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq


def check(sf_dir, out_dir):
    """Prints one line per oracle and rows-only query; returns (ok, fail)."""
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    if not os.path.isfile(f"{out_dir}/oracle_sql.json"):
        print(f"[MISS] {out_dir}/oracle_sql.json: run graft.Verify {sf_dir} {out_dir} first")
        return 0, 1
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    for name, sql in sorted(oracles.items()):
        qdir = f"{out_dir}/{name}"
        if not os.path.isdir(qdir):
            print(f"[MISS] {name}: no spark output"); fail += 1; continue
        try:
            spark_tbl = pq.read_table(qdir)
            sdf = spark_tbl.to_pandas()
            ddf = con.execute(sql).df()
            # gate semantics: sort columns by name, then compare value hashes
            sdf = sdf[sorted(sdf.columns)]
            ddf = ddf[sorted(ddf.columns)]
            if list(sdf.columns) != list(ddf.columns):
                print(f"[FAIL] {name}: columns {list(sdf.columns)} vs {list(ddf.columns)}"); fail += 1; continue
            if len(sdf) != len(ddf):
                print(f"[FAIL] {name}: rows {len(sdf)} vs {len(ddf)}"); fail += 1; continue
            s_rows = sorted(map(str, sdf.itertuples(index=False, name=None)))
            d_rows = sorted(map(str, ddf.itertuples(index=False, name=None)))
            if s_rows != d_rows:
                diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
                print(f"[FAIL] {name}: value mismatch, first diffs: {diffs}"); fail += 1; continue
            print(f"[ OK ] {name}: {len(sdf)} rows")
            ok += 1
        except Exception as e:
            print(f"[FAIL] {name}: {type(e).__name__}: {e}"); fail += 1

    # rows-only queries (no oracle): report row counts
    for qdir in sorted(glob.glob(f"{out_dir}/q*")):
        name = os.path.basename(qdir)
        if name in oracles or not os.path.isdir(qdir):
            continue
        n = pq.read_table(qdir).num_rows
        status = "ok " if n > 0 else "EMPTY"
        print(f"[rows] {name}: {n} rows ({status})")

    print(f"\n{sf_dir}: {ok} ok, {fail} failed of {len(oracles)} oracles")
    return ok, fail


args = sys.argv[1:]
if not args or len(args) % 2:
    sys.exit("usage: check_oracles.py <sf_dir> <out_dir> [<sf_dir> <out_dir>]...")
failed_pairs = []
for sf_dir, out_dir in zip(args[0::2], args[1::2]):
    print(f"== {sf_dir} vs {out_dir}")
    if check(sf_dir, out_dir)[1]:
        failed_pairs.append(sf_dir)
if len(args) > 2:
    print(f"\n{len(args) // 2 - len(failed_pairs)} of {len(args) // 2} pairs green"
          + (f"; failed: {', '.join(failed_pairs)}" if failed_pairs else ""))
sys.exit(1 if failed_pairs else 0)
