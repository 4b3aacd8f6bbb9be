#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate.

Runs after `graft.Verify` has dumped each query's result parquet,
oracle_sql.json and no_oracle.json: executes every oracle SQL in DuckDB
against the same test tables, then compares schema (sorted column
names), row count, and a hash of the value matrix (columns sorted by
name, rows sorted).

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os, hashlib
import duckdb

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        # full-precision round-trip repr: the driver hashes exact
        # values, so %.Ng canonicalization would mask real diffs
        # (q_haar slipped through the old %.10g form in round 11)
        return repr(v)
    return str(v)

def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    # GRAFT_COMPARE_ONLY_PRESENT=1: compare only queries whose result
    # parquet exists (pairs with SPARK_GRAFT_VERIFY_ONLY iteration);
    # full-gate runs leave it unset so a missing dump still FAILs.
    only_present = os.environ.get("GRAFT_COMPARE_ONLY_PRESENT") == "1"
    for name in sorted(oracle):
        sql = oracle[name]
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files and only_present:
            continue
        if not files:
            print(f"FAIL {name}: no spark result parquet")
            n_fail += 1
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchall()
            got_cols = [d[0] for d in con.description]
            got_types = {r[0]: r[1] for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()}
            want = con.execute(sql).fetchall()
            want_cols = [d[0] for d in con.description]
            want_types = {r[0]: r[1] for r in con.execute(
                f"DESCRIBE {sql}").fetchall()}
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        # the driver's hasher distinguishes result TYPES (HUGEINT vs
        # BIGINT, INT32 vs INT64) that value canonicalization hides —
        # compare DESCRIBE output of both sides and fail on any skew
        type_skew = {c: (got_types.get(c), want_types.get(c))
                     for c in want_types
                     if c in got_types and got_types[c] != want_types[c]}
        if sorted(got_cols) != sorted(want_cols):
            print(f"FAIL {name}: cols {sorted(got_cols)} != {sorted(want_cols)}")
            n_fail += 1
        elif type_skew:
            print(f"FAIL {name}: result-type skew {type_skew}")
            n_fail += 1
        elif len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
        elif table_hash(got_cols, got) != table_hash(want_cols, want):
            print(f"FAIL {name}: value hash mismatch ({len(got)} rows)")
            order = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
            gs = sorted("\x01".join(canon(r[i]) for i in order) for r in got)
            worder = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
            ws = sorted("\x01".join(canon(r[i]) for i in worder) for r in want)
            for a, b in zip(gs, ws):
                if a != b:
                    print(f"  first diff:\n   got  {a[:300]}\n   want {b[:300]}")
                    break
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    # structural-hole guard (round-12 lesson: q_cvm/q_energy_distance
    # shipped with result dumps but no oracle key and the gate stayed
    # green): any dumped result whose query has no oracle entry FAILS
    # unless its module declares why it has none (Verify writes those
    # reasons to no_oracle.json: approximate/seeded operators whose
    # correctness is pinned by error-bound/recall twins or specs).
    if not only_present:
        no_oracle = json.load(open(os.path.join(out_dir, "no_oracle.json")))
        dumped = {os.path.basename(p) for p in
                  glob.glob(os.path.join(out_dir, "q_*"))
                  if glob.glob(os.path.join(p, "*.parquet"))}
        unverified = sorted(dumped - set(oracle) - set(no_oracle))
        for name in unverified:
            print(f"FAIL {name}: result dumped but no oracle entry "
                  f"(add it to its module's oracles or noOracle)")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
