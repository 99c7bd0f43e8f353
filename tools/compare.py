#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run Verify output
parquet vs DuckDB oracle_sql.json on the same sf dir, compare values.

Usage: python3 tools/compare.py <sfdir> <verify_out_dir> [query ...]

With query names (as for Verify's extra arguments), only those queries
are compared; a named query with no output, or no oracle, fails.
"""
import sys, json, glob, math
import duckdb

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return repr(round(v, 9))
    return repr(v)

def main(sfdir, outdir, only=()):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(set(only) - oracle.keys()):
        print(f"NO-ORACLE {name}")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        pq = f"{outdir}/{name}"
        if not glob.glob(f"{pq}/*.parquet"):
            print(f"MISSING-OUTPUT {name}")
            n_fail += 1
            continue
        try:
            exp = con.sql(sql)
            # lint: a HUGEINT output column (DuckDB's default for
            # sum(int)) can never hash-match Spark's BIGINT even when
            # values agree — require an explicit CAST in the oracle.
            huge = [c for c, t in zip(exp.columns, exp.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                print(f"ORACLE-TYPE-LINT {name}: HUGEINT columns {huge} "
                      f"— add CAST(... AS BIGINT) in the oracle SQL")
                n_fail += 1
                continue
            exp_cols = sorted(exp.columns)
            exp_rows = con.sql(
                f"SELECT {', '.join(exp_cols)} FROM ({sql}) q").fetchall()
        except Exception as e:
            print(f"ORACLE-ERROR {name}: {str(e)[:200]}")
            n_fail += 1
            continue
        got = con.sql(f"SELECT * FROM '{pq}/*.parquet'")
        got_cols = sorted(got.columns)
        if got_cols != exp_cols:
            print(f"SCHEMA-MISMATCH {name}: spark={got_cols} oracle={exp_cols}")
            n_fail += 1
            continue
        got_rows = con.sql(
            f"SELECT {', '.join(got_cols)} FROM '{pq}/*.parquet'").fetchall()
        if len(got_rows) != len(exp_rows):
            print(f"ROWCOUNT-MISMATCH {name}: spark={len(got_rows)} oracle={len(exp_rows)}")
            n_fail += 1
            continue
        # order-insensitive compare (sorted multiset of normalized rows)
        g = sorted(tuple(norm(v) for v in r) for r in got_rows)
        e = sorted(tuple(norm(v) for v in r) for r in exp_rows)
        if g != e:
            bad = [(a, b) for a, b in zip(g, e) if a != b][:3]
            print(f"VALUE-MISMATCH {name}: first diffs {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got_rows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
