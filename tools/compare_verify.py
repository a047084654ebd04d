#!/usr/bin/env python3
"""Compare `graft.Verify` output against its DuckDB oracles, and optionally
against another Verify output directory (e.g. one built from a parent commit).

Usage:
  python3 tools/compare_verify.py <outDir> <sfDir> [--ref <refOutDir>] [query ...]

With no query names, every query in <outDir>'s `oracle_sql.json` is checked.
A query with no output dir (Verify prints a query's exception and writes no
dir for it) prints `MISSING <q>` and counts as a failure. For each query the
rows are normalised (columns sorted by name, floats rounded to 9
significant digits, binary as hex) and sorted, then compared with:
  - the oracle: `oracle_sql.json`'s SQL run in DuckDB over views of the
    parquet tables in <sfDir> (one view per `<name>.parquet`);
  - the reference dir (with --ref): the same query's rows there.
Prints one `OK`/`MISMATCH`/`MISSING` line per query and exits non-zero on a
mismatch or a missing query.
"""
import glob
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq


def norm(v):
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if hasattr(v, "as_tuple"):  # decimal.Decimal
        return float(f"{float(v):.9g}")
    return v


def canon(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def spark_rows(out_dir, q):
    t = pq.read_table(os.path.join(out_dir, q))
    cols = [t.column(n).to_pylist() for n in t.column_names]
    return canon(t.column_names, list(zip(*cols)))


def oracle_rows(con, sql):
    cur = con.execute(sql)
    return canon([d[0] for d in cur.description], cur.fetchall())


def main(argv):
    ref = None
    if "--ref" in argv:
        i = argv.index("--ref")
        ref = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    out_dir, sf_dir, queries = argv[0], argv[1], argv[2:]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    if not queries:
        queries = sorted(oracle)
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    bad = 0
    for q in queries:
        if not os.path.isdir(os.path.join(out_dir, q)):
            bad += 1
            print(f"MISSING {q}")
            continue
        got = spark_rows(out_dir, q)
        notes = []
        if oracle_rows(con, oracle[q]) != got:
            notes.append("oracle")
        if ref is not None and spark_rows(ref, q) != got:
            notes.append("ref")
        if notes:
            bad += 1
            print(f"MISMATCH {q} ({', '.join(notes)}; {len(got)} rows)")
        else:
            print(f"OK {q} ({len(got)} rows)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
