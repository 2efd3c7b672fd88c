"""Compare two graft.Verify dumps key by key.

    python3 tools/dump_diff.py <verifyDirA> <verifyDirB>

Every key (a `<key>` parquet directory) present in either dump is
checked for its schema (column names and Arrow types), its pandas
dtypes and its canonical rows (`parity.canon`: columns sorted by name,
rows sorted by every column). Prints one line per differing key and a
last line `== N/M keys identical`; exits non-zero unless all M are.
"""

import os
import sys

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from parity import canon  # noqa: E402


def keys(d: str) -> set:
    return {k for k in os.listdir(d)
            if os.path.isdir(os.path.join(d, k)) and not k.startswith(".")}


def norm(v) -> str:
    """Exact text of one cell: floats by repr, arrays element-wise."""
    return repr(v.tolist()) if hasattr(v, "tolist") else repr(v)


def diff(a: str, b: str) -> str:
    """Empty when the two dumps of one key are identical, else why not."""
    sa = pq.ParquetDataset(a).schema
    sb = pq.ParquetDataset(b).schema
    fa = [(f.name, str(f.type)) for f in sa]
    fb = [(f.name, str(f.type)) for f in sb]
    if fa != fb:
        return f"schema {fa} != {fb}"
    ga, gb = canon(pd.read_parquet(a)), canon(pd.read_parquet(b))
    da = [str(t) for t in ga.dtypes]
    db = [str(t) for t in gb.dtypes]
    if da != db:
        return f"dtypes {da} != {db}"
    if len(ga) != len(gb):
        return f"rows {len(ga)} != {len(gb)}"
    for c in ga.columns:
        x, y = ga[c], gb[c]
        if not (x.isna() == y.isna()).all():
            return f"column {c}: nulls differ"
        if not x[x.notna()].map(norm).equals(y[y.notna()].map(norm)):
            return f"column {c}: values differ"
    return ""


def main() -> None:
    da, db = sys.argv[1], sys.argv[2]
    ka, kb = keys(da), keys(db)
    both = sorted(ka | kb)
    n_same = 0
    for k in both:
        if k not in ka or k not in kb:
            print(f"DIFF {k}: only in {da if k in ka else db}")
            continue
        why = diff(os.path.join(da, k), os.path.join(db, k))
        if why:
            print(f"DIFF {k}: {why}")
        else:
            n_same += 1
    print(f"== {n_same}/{len(both)} keys identical")
    sys.exit(0 if n_same == len(both) else 1)


if __name__ == "__main__":
    main()
