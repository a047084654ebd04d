#!/usr/bin/env python3
"""Check a Pipeline output directory against its lineage records.

Usage: python3 tools/check_lineage.py <outDir>

Checks, using parquet footers only (no data pages are read):
  * every batch=<b>/part-<p>.parquet has a _lineage/batch-<b>/part-<p>.json
    whose "rows" equals the file's footer num_rows, and every part record
    has its parquet file;
  * each _lineage/batch-<b>.json has "out_rows" equal to the sum of its part
    records' "rows" and "checksum" equal to the XOR of their "checksum"s;
  * no .tmp file is left anywhere under <outDir>;
  * every Hadoop checksum sidecar .<name>.crc sits beside its <name>.

Prints OK and exits 0, or prints the first mismatch and exits 1.
"""
import json
import os
import re
import sys

import pyarrow.parquet as pq


class Mismatch(Exception):
    pass


def load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def field(rec, key, path):
    if key not in rec:
        raise Mismatch(f"{path}: no {key!r} key")
    return rec[key]


def parts(d, ext):
    """Part number -> path of every part-<p>.<ext> in directory d."""
    found = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            m = re.match(rf"^part-(\d+)\.{ext}$", name)
            if m:
                found[int(m.group(1))] = os.path.join(d, name)
    return found


def check(out):
    for root, _, files in os.walk(out):
        for name in sorted(files):
            if name.endswith(".tmp"):
                raise Mismatch(f"leftover temp file {os.path.join(root, name)}")
            if name.startswith(".") and name.endswith(".crc") and name[1:-4] not in files:
                raise Mismatch(f"orphan checksum file {os.path.join(root, name)}: no {name[1:-4]}")

    lineage = os.path.join(out, "_lineage")
    if not os.path.isdir(lineage):
        raise Mismatch(f"no _lineage directory under {out}")
    batches = set()
    for name in os.listdir(out):
        m = re.match(r"^batch=(\d+)$", name)
        if m:
            batches.add(int(m.group(1)))
    for name in os.listdir(lineage):
        m = re.match(r"^batch-(\d+)(\.json)?$", name)
        if m:
            batches.add(int(m.group(1)))

    for b in sorted(batches):
        data_dir = os.path.join(out, f"batch={b}")
        rec_dir = os.path.join(lineage, f"batch-{b}")
        files = parts(data_dir, "parquet")
        records = parts(rec_dir, "json")
        rows = checksum = 0
        for p in sorted(set(files) | set(records)):
            if p not in records:
                raise Mismatch(f"{files[p]}: no part record {rec_dir}/part-{p}.json")
            if p not in files:
                raise Mismatch(f"{records[p]}: no parquet file {data_dir}/part-{p}.parquet")
            rec = load(records[p])
            n = field(rec, "rows", records[p])
            footer = pq.ParquetFile(files[p]).metadata.num_rows
            if n != footer:
                raise Mismatch(f"{records[p]}: rows {n}, {files[p]} footer has {footer}")
            rows += n
            checksum ^= field(rec, "checksum", records[p])

        batch_path = os.path.join(lineage, f"batch-{b}.json")
        if not os.path.exists(batch_path):
            continue  # an uncommitted batch: its parts were checked above
        rec = load(batch_path)
        if field(rec, "out_rows", batch_path) != rows:
            raise Mismatch(f"{batch_path}: out_rows {rec['out_rows']}, part records sum to {rows}")
        if field(rec, "checksum", batch_path) != checksum:
            raise Mismatch(f"{batch_path}: checksum {rec['checksum']}, part records XOR to {checksum}")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    try:
        check(sys.argv[1])
    except Mismatch as e:
        print(f"MISMATCH {e}")
        sys.exit(1)
    print("OK")


if __name__ == "__main__":
    main()
