#!/usr/bin/env python3
"""Regenerate the tagged-missing oracle in this directory.

`tagged.dta` was written by `DtaWriter.writeRows` from the rows in
`graft.sources.TaggedMissing` (InformativeNullsSpec.scala): a float and a
double column holding values, Stata's extended missings `.a`, `.b`, `.z`
and the system missing `.`. `expected.json` holds what pandas 2.2.2 (its
own pure-python dta reader, no libreadstat) reads from it with
`convert_missing=True`: a number, or the missing value's text ("." or
".a"-".z"). `InformativeNullsSpec` checks our reader against those values
and re-writes the rows to a byte-identical file; it needs no Python at
test time.

Steps:

    sbt "Test/runMain graft.sources.TaggedMissing /tmp/tagged_missing"
    python3 src/test/resources/tagged_missing/generate.py /tmp/tagged_missing

pandas writes only the system missing, so the file comes from our writer
and pandas is the independent reader. The script fails, writing nothing,
unless pandas sees every tag the rows were written with.
"""
import json
import os
import shutil
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))

# what TaggedMissing.write puts in (f, d), row by row
WRITTEN = [[1.5, 2.25], [".a", ".a"], [".b", ".b"], [".z", ".z"], [".", "."], [-3.0, ".b"]]


def cell(v):
    """pandas value -> JSON: the missing value's text, else the number."""
    if isinstance(v, pd.io.stata.StataMissingValue):
        return v.string
    return float(v)


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/tagged_missing"
    path = os.path.join(src, "tagged.dta")
    theirs = pd.read_stata(path, convert_missing=True)
    cols = list(theirs.columns)
    rows = [[cell(v) for v in r] for r in theirs.itertuples(index=False)]
    if cols != ["f", "d"] or rows != WRITTEN:
        sys.exit(f"pandas read {cols} {rows}, expected {WRITTEN}; nothing written")
    shutil.copyfile(path, os.path.join(HERE, "tagged.dta"))
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump({"columns": cols, "rows": rows}, f, indent=None, separators=(",", ":"))
        f.write("\n")
    print(f"{len(rows)} rows, tags as written")


if __name__ == "__main__":
    main()
