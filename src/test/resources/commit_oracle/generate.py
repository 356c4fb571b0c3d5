#!/usr/bin/env python3
"""Regenerate the single-container commit oracle in this directory.

The four binaries here (oracle.dta, oracle.sas7bdat, oracle_rle.sas7bdat,
oracle_rdc.sas7bdat) were written by the sequential single-container sink,
before the parallel render/stitch commit replaced it, from the 300-row,
3-partition frame in `graft.sources.CommitOracle`. `expected.json` holds
what pandas 2.2.2 (its own pure-python dta and sas7bdat readers, no
libreadstat) reads from them. `CommitOracleSpec` checks our reader against
those values and re-writes the frame to byte-identical files; it needs no
Python at test time.

Steps:

    sbt "Test/runMain graft.sources.CommitOracleGen /tmp/commit_oracle"
    python3 src/test/resources/commit_oracle/generate.py /tmp/commit_oracle

The first step writes the four files plus `frame.parquet` (the source
values). This script checks every pandas cell against the source value with
`tools/corpus_crosscheck.same`, fails on any mismatch, then copies the
binaries next to itself and writes `expected.json`.

No independent SPSS reader is installed (pyreadstat is absent), so there is
no sav oracle here.
"""
import json
import os
import shutil
import sys

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "..", "..", "..", "..", "tools"))
from corpus_crosscheck import same  # noqa: E402

FILES = ["oracle.dta", "oracle.sas7bdat", "oracle_rle.sas7bdat", "oracle_rdc.sas7bdat"]


def cell(v):
    """pandas value -> JSON: None for missing, ISO text for datetimes."""
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    if isinstance(v, pd.Timestamp):
        t = v.round("ms")
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}"
    if isinstance(v, bytes):
        v = v.decode("utf-8")
    if isinstance(v, str):
        # missingStringAsNull: the reader surfaces empty strings as null
        return v if v.strip(" \x00") else None
    return float(v)


def main():
    src = sys.argv[1] if len(sys.argv) > 1 else "/tmp/commit_oracle"
    frame = pq.read_table(os.path.join(src, "frame.parquet")).to_pandas()
    expected = {}
    bad = 0
    for name in FILES:
        path = os.path.join(src, name)
        if name.endswith(".dta"):
            theirs = pd.read_stata(path, convert_categoricals=False)
        else:
            theirs = pd.read_sas(path, encoding="utf-8")
        cols = list(theirs.columns)
        assert len(theirs) == len(frame), f"{name}: {len(theirs)} rows"
        for c in cols:
            for i, (a, b) in enumerate(zip(frame[c].tolist(), theirs[c].tolist())):
                if not same(a, b):
                    bad += 1
                    print(f"MISMATCH {name} row {i} col {c}: source={a!r} pandas={b!r}")
        expected[name] = {
            "columns": cols,
            "rows": [[cell(v) for v in r] for r in theirs.itertuples(index=False)],
        }
    if bad:
        sys.exit(f"{bad} mismatches; nothing written")
    for name in FILES:
        shutil.copyfile(os.path.join(src, name), os.path.join(HERE, name))
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=None, separators=(",", ":"))
        f.write("\n")
    print(f"{len(FILES)} files, {len(frame)} rows each, 0 mismatches")


if __name__ == "__main__":
    main()
