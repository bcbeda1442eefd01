#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: read Verify.scala's
parquet dumps + oracle_sql.json, run each oracle in DuckDB over the same
fixture dir, canonicalize both sides, and diff.

Usage: python3 tools/check_oracle.py <sfDir> <outDir> [only1,only2,...]
       (the optional name filter matches SPARK_GRAFT_VERIFY_ONLY runs —
       without it, every declared oracle must have a dump)
"""
import json, os, shutil, sys, math
import duckdb

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
# DuckDB spills to disk beside the dumps once it holds 6 GB (the
# operators that can spill: joins, aggregates, sorts). The x134 oracle
# at sf0.1 still outgrows a 15 GB box with it.
spill = os.path.join(out_dir, ".duckdb_spill")
con = duckdb.connect(config={"temp_directory": spill, "memory_limit": "6GB"})
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
                if v == -0.0: v = 0.0
            vals.append(str(v))
        out.append("|".join(vals))
    return out

fails = ok = 0
for name, sql in sorted(oracle.items()):
    if only is not None and name not in only:
        continue
    try:
        spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        scols, srows = spark_rel.columns, spark_rel.fetchall()
        duck_rel = con.sql(sql)
        dcols, drows = duck_rel.columns, duck_rel.fetchall()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    a, b = canon(srows, scols), canon(drows, dcols)
    if sorted(scols) != sorted(dcols):
        print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
        fails += 1
    elif a != b:
        diff = [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
        print(f"FAIL {name}: rows spark={len(a)} duck={len(b)} first_diffs={diff}")
        fails += 1
    else:
        ok += 1
        print(f"ok   {name} ({len(a)} rows)")

# rows-only entries
for name in sorted(os.listdir(out_dir)):
    p = os.path.join(out_dir, name)
    if only is not None and name not in only:
        continue
    if os.path.isdir(p) and name not in oracle and p != spill:
        try:
            n = con.sql(f"SELECT count(*) FROM '{p}/*.parquet'").fetchone()[0]
            print(f"rows {name}: {n} {'ok' if n > 0 else 'EMPTY!'}")
            if n == 0: fails += 1
        except Exception as e:
            print(f"FAIL {name} (rows-only): {e}")
            fails += 1
con.close()
shutil.rmtree(spill, ignore_errors=True)
print(f"\n{ok} oracle-ok, {fails} failures")
sys.exit(1 if fails else 0)
