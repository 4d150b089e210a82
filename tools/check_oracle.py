#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify output
against DuckDB oracles on the same parquet fixtures and compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os, math
import duckdb
import pyarrow.parquet as pq


def _vals_eq(a, b):
    """Strict value equality mirroring the driver's hash compare: None only
    equals None, NaN only equals NaN, floats compare exactly."""
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b
    return str(a) == str(b)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):  # a table of several files, as Spark writes one
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not spark_files:
            print(f"FAIL {name}: no spark output parquet")
            n_fail += 1
            continue
        try:
            oracle = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        spark = pq.read_table(spark_files[0]).to_pandas()
        ok = True
        if sorted(oracle.columns) != sorted(spark.columns):
            print(f"FAIL {name}: schema {sorted(spark.columns)} vs oracle {sorted(oracle.columns)}")
            ok = False
        elif len(oracle) != len(spark):
            print(f"FAIL {name}: rows spark={len(spark)} oracle={len(oracle)}")
            ok = False
        else:
            cols = sorted(oracle.columns)
            o = oracle[cols].reset_index(drop=True)
            s = spark[cols].reset_index(drop=True)
            for c in cols:
                # The driver's hash compare is dtype-sensitive (19525 vs
                # 19525.0 hash differently) — mirror it by failing on any
                # numeric-kind mismatch (e.g. DuckDB HUGEINT→float64 vs
                # Spark bigint) before comparing values.
                ok_kind, sk_kind = o[c].dtype.kind, s[c].dtype.kind
                if ok_kind != sk_kind and {ok_kind, sk_kind} & {"f", "i", "u"}:
                    print(f"FAIL {name}: col {c} dtype kind spark={s[c].dtype} "
                          f"oracle={o[c].dtype} (driver hash would mismatch)")
                    ok = False
                    break
                ov, sv = o[c].tolist(), s[c].tolist()
                mism = [i for i, (a, b) in enumerate(zip(ov, sv))
                        if not _vals_eq(a, b)]
                if mism:
                    i = mism[0]
                    print(f"FAIL {name}: col {c} differs at row {i}: spark={sv[i]!r} oracle={ov[i]!r} ({len(mism)} rows)")
                    ok = False
                    break
        if ok:
            print(f"PASS {name} ({len(spark)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
