#!/usr/bin/env python3
"""Compare two `graft.Verify` dumps entry by entry, e.g. the parent
commit's and a change's at the same scale factor:

  python3 tools/dump_diff.py <parent dump> <change dump>

Prints one line per entry, `same <entry> <rows>` or `DIFF <entry> ...`
naming what differs: the rows (in order), the arrow schema, or the
footer's key-value metadata (Spark's schema, which carries
nullability). Raw bytes are not compared: parquet-mr writes each column
chunk's encoding list in hash-set order, so two runs of the same code
differ in a few footer bytes. An entry dumped on one side only (a
failed entry writes no parquet) prints `ONLY <side> <entry>`.
Exits 1 on any DIFF or ONLY line, 0 otherwise.
"""
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def entries(dump):
    """Entry name -> its sorted part files, for entries holding any."""
    out = {}
    for d in glob.glob(os.path.join(dump, "*", "")):
        parts = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        if parts:
            out[os.path.basename(os.path.dirname(d))] = parts
    return out


def load(parts):
    table = pa.concat_tables([pq.read_table(p) for p in parts])
    return table, [pq.read_metadata(p).metadata for p in parts]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = entries(argv[1]), entries(argv[2])
    bad = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b or name not in a:
            side = argv[1] if name in a else argv[2]
            print(f"ONLY {side} {name}")
            bad += 1
            continue
        (ta, ma), (tb, mb) = load(a[name]), load(b[name])
        diffs = [what for what, same in (
            ("schema", ta.schema.equals(tb.schema)),
            ("rows", ta.schema.equals(tb.schema) and ta.equals(tb)),
            ("metadata", ma == mb)) if not same]
        if diffs:
            print(f"DIFF {name} {ta.num_rows} vs {tb.num_rows} rows: "
                  + ", ".join(diffs))
            bad += 1
        else:
            print(f"same {name} {ta.num_rows}")
    print(f"{bad} differing / {len(a.keys() | b.keys())} entries")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
