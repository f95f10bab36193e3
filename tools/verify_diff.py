#!/usr/bin/env python3
"""Output-identity check between two `graft.Verify` output dirs.

Usage: python3 tools/verify_diff.py <verifyOutA> <verifyOutB>

For every query dir in either tree: the parquet schemas (column names and
types, in order) must be equal, and the rows, sorted, must be equal value
for value (exact: floats compare by their shortest round-trip repr, no
rounding). `oracle_sql.json` must be byte-identical once each side's
absolute OMM fixture root (`read_parquet('<checkout>/fixtures/omm/`, which
the oracles embed so DuckDB can run them from any directory) is replaced
by one fixed token, so dumps from two checkouts compare equal. Prints one
line per difference and a summary; exits 1 on any difference. Use it to
show that a refactor leaves every registered query's output unchanged.
"""
import glob
import os
import re
import sys

import pyarrow.parquet as pq


def canon(v):
    """A total, exact string key for one (possibly nested) value."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return "b:" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__}:{v}"


def load(qdir):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    if not files:
        return None, None
    tables = [pq.read_table(f) for f in files]
    schema = tables[0].schema
    fields = [(f.name, str(f.type)) for f in schema]
    rows = []
    for t in tables:
        if [(f.name, str(f.type)) for f in t.schema] != fields:
            return fields, None  # part files disagree: reported as such
        cols = [c.to_pylist() for c in t.columns]
        rows.extend(tuple(canon(c[i]) for c in cols)
                    for i in range(t.num_rows))
    return fields, sorted(rows)


FIXTURE_ROOT = re.compile(rb"read_parquet\('[^']*/fixtures/omm/")


def oracle_bytes(path):
    """oracle_sql.json with the checkout's fixture root masked."""
    with open(path, "rb") as f:
        return FIXTURE_ROOT.sub(b"read_parquet('<checkout>/fixtures/omm/",
                                f.read())


def query_dirs(out_dir):
    return {os.path.basename(q.rstrip("/"))
            for q in glob.glob(os.path.join(out_dir, "*/"))}


def main(a, b):
    diffs = 0

    def fail(msg):
        nonlocal diffs
        diffs += 1
        print(f"[DIFF] {msg}")

    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    oracle_same = os.path.exists(oa) and os.path.exists(ob)
    if oracle_same:
        oracle_same = oracle_bytes(oa) == oracle_bytes(ob)
    if not oracle_same:
        fail("oracle_sql.json is missing or not byte-identical")
    qa, qb = query_dirs(a), query_dirs(b)
    for name in sorted(qa ^ qb):
        fail(f"{name}: output only in {a if name in qa else b}")
    same = 0
    for name in sorted(qa & qb):
        fa, ra = load(os.path.join(a, name))
        fb, rb = load(os.path.join(b, name))
        if fa is None or fb is None:
            fail(f"{name}: no parquet output on "
                 f"{'both sides' if fa is fb else (a if fa is None else b)}")
        elif fa != fb:
            fail(f"{name}: schema {fa} vs {fb}")
        elif ra is None or rb is None:
            fail(f"{name}: part files with differing schemas")
        elif len(ra) != len(rb):
            fail(f"{name}: rows {len(ra)} vs {len(rb)}")
        elif ra != rb:
            n = sum(x != y for x, y in zip(ra, rb))
            first = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
            fail(f"{name}: {n} of {len(ra)} sorted rows differ, "
                 f"first {ra[first]} vs {rb[first]}")
        else:
            same += 1
    print(f"{same}/{len(qa | qb)} outputs identical; oracle_sql.json "
          f"{'byte-identical' if oracle_same else 'differs'}")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
