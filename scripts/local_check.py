#!/usr/bin/env python3
"""Local dev harness mirroring the driver's DuckDB oracle compare.

Usage: python3 scripts/local_check.py <sfDir> <verifyOutDir> [--strict]

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB against the
same sfDir parquet tables, and diffs values column-sorted-by-name.

--strict additionally compares the Arrow schema of the Spark parquet
against the Arrow schema of the oracle result. The driver's hash is
type-aware, so a value-equal result with a diverging physical type
(classically: DuckDB promoting sum(BIGINT) to HUGEINT/decimal128 where
the oracle SQL forgot a CAST) is a driver-red that plain value compare
cannot see — Python's Decimal(200) == 200. Run the strict sweep before
committing any new oracle.

Dev-only tooling — the shipped library never depends on this.
"""
import json, sys, os, glob
import duckdb

# Benign physical-type pairs (spark_type, oracle_type) that the driver's
# hash treats as equal because it canonicalizes values, not storage
# width. Add a pair ONLY when a driver round proves it safe.
# (int32, int64): Spark row_number() is int32 where DuckDB's is int64 —
# q16/q56 carried exactly this pair driver-green through rounds 1-10,
# so integer WIDTH is canonicalized; int64-vs-decimal128 is not (the
# r10 q253/q254 reds).
TYPE_ALLOW = {("int32", "int64")}

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Engine-semantics probes (PipelineQueries q60/q82): they pin the floor
# ns→µs TIMESTAMP(NANOS) conversion both engines share (measured r3-r4
# via the now-retired q59 sub-µs probe). Report separately so a future
# oracle-engine change reads as a measurement, not an operator bug.
PROBES = {"q60_probe_us_parity", "q82_probe_us_fingerprint"}

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows], [cols[i] for i in order]

def type_diff(con, res_dir, sql):
    """Arrow-schema compare, column-name-sorted. Returns list of
    (col, spark_type, oracle_type) mismatches."""
    got = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'") \
             .fetch_arrow_table().schema
    exp = con.execute(sql).fetch_arrow_table().schema
    gmap = {f.name: str(f.type) for f in got}
    emap = {f.name: str(f.type) for f in exp}
    out = []
    for c in sorted(set(gmap) | set(emap)):
        g, e = gmap.get(c, "<missing>"), emap.get(c, "<missing>")
        if g != e and (g, e) not in TYPE_ALLOW:
            out.append((c, g, e))
    return out

def main(sf_dir, out_dir, strict=False):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output", flush=True); n_fail += 1; continue
        try:
            got = con.execute(f"SELECT * FROM '{res_dir}/*.parquet'")
            got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
            exp = con.execute(oracle[name])
            exp_rows, exp_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"FAIL {name}: {e}", flush=True); n_fail += 1; continue
        g, gc = canon(got_rows, got_cols)
        e, ec = canon(exp_rows, exp_cols)
        if gc != ec:
            print(f"FAIL {name}: columns {gc} vs {ec}", flush=True); n_fail += 1; continue
        if g != e and name in PROBES:
            print(f"PROBE {name}: spark {g[:1]} vs local-duckdb {e[:1]} "
                  "(expected divergence on a ns-truncating engine)", flush=True)
            n_pass += 1
            continue
        if g != e:
            print(f"FAIL {name}: {len(g)} vs {len(e)} rows", end="")
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b]
            if diffs:
                i, a, b = diffs[0]
                print(f"; first diff row {i}:\n  got {a}\n  exp {b}", end="")
            print(flush=True)
            n_fail += 1
            continue
        if strict:
            try:
                mism = type_diff(con, res_dir, oracle[name])
            except Exception as ex:
                print(f"FAIL {name}: strict schema fetch: {ex}", flush=True)
                n_fail += 1
                continue
            if mism:
                det = "; ".join(f"{c}: spark={g} oracle={e}"
                                for c, g, e in mism)
                print(f"TYPEFAIL {name}: {det}", flush=True)
                n_fail += 1
                continue
        print(f"PASS {name} ({len(g)} rows)", flush=True)
        n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==", flush=True)
    return 1 if n_fail else 0

if __name__ == "__main__":
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    sys.exit(main(argv[0], argv[1], strict="--strict" in sys.argv))
