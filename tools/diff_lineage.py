#!/usr/bin/env python3
"""Byte-compare the lineage records of two Pipeline output directories.

Usage: python3 tools/diff_lineage.py <dirA> <dirB>

Compares every batch record (_lineage/batch-<b>.json) and part record
(_lineage/batch-<b>/part-<p>.json) under the two directories' _lineage/,
ignoring Hadoop .crc side files. A record present on one side only is a
difference too.

Prints OK with the number of records compared and exits 0, or prints the
first difference (in sorted record order) and exits 1.
"""
import os
import sys


def records(out_dir):
    """Relative path -> bytes of every lineage record under out_dir."""
    root = os.path.join(out_dir, "_lineage")
    if not os.path.isdir(root):
        sys.exit(f"no _lineage directory under {out_dir}")
    found = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".json") and not f.startswith("."):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    found[os.path.relpath(p, root)] = fh.read()
    return found


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = records(argv[1]), records(argv[2])
    for rel in sorted(set(a) | set(b)):
        if rel not in a or rel not in b:
            where = argv[1] if rel not in a else argv[2]
            print(f"DIFF _lineage/{rel}: missing under {where}")
            return 1
        if a[rel] != b[rel]:
            print(f"DIFF _lineage/{rel}: {a[rel].decode(errors='replace')} "
                  f"!= {b[rel].decode(errors='replace')}")
            return 1
    print(f"OK {len(a)} records")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
