#!/usr/bin/env python3
"""Determinism proof: compare two graft.Verify output dirs (e.g. runs at
different cpu counts) query by query.

The verdict is the decoded result: column names and types, then every row
in file order (every query ends in an explicit ORDER BY, so file order IS
semantic order). Raw parquet bytes are not a verdict: parquet-mr lists a
column chunk's encodings in an order that changes from one JVM to the
next, so equal results can differ in bytes. The byte-identical count is
reported as a secondary figure only.

Usage: check_determinism.py <verify_out_a> <verify_out_b>"""
import sys, glob, hashlib, json
import duckdb

def file_hash(p):
    h = hashlib.sha256()
    with open(p, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()

def norm(v):
    """A value with NaN made equal to itself, for row comparison."""
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(x)) for k, x in v.items())
    return v

def main(a_dir, b_dir):
    con = duckdb.connect()
    names = sorted(json.load(open(f"{a_dir}/oracle_sql.json")).keys()
                   | json.load(open(f"{b_dir}/oracle_sql.json")).keys()
                   | {d.split("/")[-1] for d in glob.glob(f"{a_dir}/q*")})
    n_same = n_diff = n_bytes = 0
    for name in names:
        fa = sorted(glob.glob(f"{a_dir}/{name}/*.parquet"))
        fb = sorted(glob.glob(f"{b_dir}/{name}/*.parquet"))
        if not fa or not fb:
            print(f"MISSING {name}"); n_diff += 1; continue
        sa, sb = (con.execute(f"DESCRIBE SELECT * FROM read_parquet({f!r})").fetchall()
                  for f in (fa, fb))
        if [c[:2] for c in sa] != [c[:2] for c in sb]:
            n_diff += 1
            print(f"DIFF {name}: schema {[c[:2] for c in sa]} vs {[c[:2] for c in sb]}")
            continue
        ra = con.execute(f"SELECT * FROM read_parquet({fa!r})").fetchall()
        rb = con.execute(f"SELECT * FROM read_parquet({fb!r})").fetchall()
        if ra != rb and norm(ra) != norm(rb):
            n_diff += 1
            bad = next((i for i, (x, y) in enumerate(zip(ra, rb)) if norm(x) != norm(y)),
                       min(len(ra), len(rb)))
            print(f"DIFF {name}: rows {len(ra)} vs {len(rb)}, first diff at {bad}")
            continue
        n_same += 1
        if [file_hash(f) for f in fa] == [file_hash(f) for f in fb]:
            n_bytes += 1
    print(f"== {n_same} identical (schema and rows), {n_diff} differ; "
          f"{n_bytes} of the identical are also byte-identical ==")
    return 1 if n_diff else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
