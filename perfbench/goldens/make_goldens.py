#!/usr/bin/env python3
"""Writes the golden digests of the faces the benchmark runs.

Usage: make_goldens.py <faceOutputDir> [out.json]

<faceOutputDir> holds one parquet directory per face, as written by
`graft.Verify perfbench/data/sf0.01 <dir>`; cross-check that directory
with `tools/compare.py perfbench/data/sf0.01 <dir>` first. Each face the
benchmark runs (faces.tsv) gets its row count and the md5 of its canonical
rows (the compare's sorted-repr rule); a face marked rows-only, which has
no oracle, gets the row count alone.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def faces():
    """(name, rows_only) of each face in faces.tsv, the list the harness runs."""
    with open(os.path.join(HERE, "faces.tsv")) as f:
        rows = [ln.rstrip("\n").split("\t") for ln in f if ln.strip()]
    return [(r[0], len(r) > 2 and r[2] == "rows-only") for r in rows]


def main():
    src = sys.argv[1]
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(HERE, "faces_sf0.01.json")
    goldens = {}
    for name, rows_only in faces():
        _, rows, md5 = benchlib.digest(benchlib.read_parquet_dir(os.path.join(src, name)))
        goldens[name] = {"rows": rows} if rows_only else {"rows": rows, "md5": md5}
    with open(out, "w") as f:
        json.dump(goldens, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(goldens)} goldens to {out}")


if __name__ == "__main__":
    main()
