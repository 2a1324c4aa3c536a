#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Reads each /tmp/verify_out/<q> parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB against the same sf dir, sorts
columns by name and rows by value, and compares cell-by-cell with a small
float tolerance. Every key of oracle_sql.json must have a result parquet: a
query that threw wrote none, and fails here as MISSING.

Type-strict: in addition to values, the DuckDB-visible column TYPES of the
oracle result must exactly match the types of the Spark parquet (after
name-sort). This catches the round-9 failure class where DuckDB sum() over
BIGINT yields HUGEINT (int128) or DECIMAL while Spark emits BIGINT/DOUBLE:
fetchall() converts both to Python ints so value compare passes locally,
but the driver's hash is computed over the raw typed cells and mismatches.
"""
import json, math, sys
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracles = json.load(open(f"{out_dir}/oracle_sql.json"))

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r)), \
        [cols[i] for i in order]

def col_types(sql):
    """name -> DuckDB column_type string for a query, via DESCRIBE."""
    rows = con.execute(f"DESCRIBE {sql}").fetchall()
    return {r[0]: r[1] for r in rows}

fails = []
# Per-query record (status, Spark rows, oracle wall seconds) → a
# committed artifact: round 14's driver-side CORRECTNESS record came
# back EMPTY, so the builder commits its own verify record at each
# close (VERIFY_CLOSE.json) and the oracle timings double as the
# profile that keeps the DuckDB half inside the driver's gate budget.
close_path = sys.argv[3] if len(sys.argv) > 3 else "VERIFY_CLOSE.json"
record = {}
import glob, os, time
for q in sorted(oracles):
    if not glob.glob(f"{out_dir}/{q}/*.parquet"):
        print(f"{q:28s} MISSING: no result parquet")
        record[q] = {"status": "MISSING", "rows": 0, "oracle_sec": 0.0}
        fails.append(q)
        continue
    r = con.execute(f"SELECT * FROM '{out_dir}/{q}/*.parquet'")
    scols = [d[0] for d in r.description]
    srows = r.fetchall()
    record[q] = {"status": "?", "rows": len(srows), "oracle_sec": 0.0}
    t0 = time.time()
    try:
        o = con.execute(oracles[q])
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
    except Exception as e:
        print(f"{q:28s} ORACLE ERROR: {e}")
        record[q]["status"] = "ORACLE_ERROR"
        fails.append(q)
        continue
    finally:
        record[q]["oracle_sec"] = round(time.time() - t0, 3)
    s, sc = canon(srows, scols)
    t, oc = canon(orows, ocols)
    if sc != oc:
        print(f"{q:28s} SCHEMA MISMATCH spark={sc} oracle={oc}")
        record[q]["status"] = "SCHEMA"
        fails.append(q)
        continue
    stypes = col_types(f"SELECT * FROM '{out_dir}/{q}/*.parquet'")
    otypes = col_types(f"({oracles[q]})")
    tdiff = {c: (stypes.get(c), otypes.get(c)) for c in stypes
             if stypes.get(c) != otypes.get(c)}
    if tdiff:
        print(f"{q:28s} TYPE MISMATCH (spark, oracle): {tdiff}")
        record[q]["status"] = "TYPE"
        fails.append(q)
        continue
    if len(s) != len(t):
        print(f"{q:28s} ROWCOUNT {len(s)} vs {len(t)}")
        record[q]["status"] = "ROWCOUNT"
        fails.append(q)
        continue
    bad = None
    for i, (a, b) in enumerate(zip(s, t)):
        for x, y in zip(a, b):
            ok = (x == y or (isinstance(x, float) and isinstance(y, float)
                  and math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)))
            if not ok:
                bad = (i, a, b)
                break
        if bad:
            break
    if bad:
        print(f"{q:28s} VALUE MISMATCH row {bad[0]}:\n  spark={bad[1]}\n  duck ={bad[2]}")
        record[q]["status"] = "VALUE"
        fails.append(q)
    else:
        print(f"{q:28s} OK ({len(s)} rows)")
        record[q]["status"] = "OK"

with open(close_path, "w") as f:
    json.dump({"n_queries": len(record), "n_fail": len(fails),
               "oracle_total_sec": round(sum(
                   r["oracle_sec"] for r in record.values()), 1),
               "queries": record}, f, indent=0, sort_keys=True)
slow = sorted(record.items(), key=lambda kv: -kv[1]["oracle_sec"])[:15]
print("\nslowest oracles: " + ", ".join(
    f"{q}={r['oracle_sec']}s" for q, r in slow))
print(f"\n{len(fails)} failures: {fails}" if fails else "\nALL OK")
sys.exit(1 if fails else 0)
