#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: dev/check.py [sfDir] [verifyOut]
Reads each <verifyOut>/<query> parquet (written by graft.Verify), runs the
matching oracle SQL from <verifyOut>/oracle_sql.json in DuckDB over the same
sfDir parquet tables, sorts columns by name + rows by all columns, and
compares values cell-by-cell. Exit 1 on any mismatch.
"""
import sys, os, json, math, datetime
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return float(v)
    except Exception:
        pass
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def load_rows_parquet(path):
    tbl = pq.read_table(path)
    cols = sorted(tbl.column_names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    n = tbl.num_rows
    rows = [tuple(norm(data[c][i]) for c in cols) for i in range(n)]
    return cols, sorted(rows, key=repr)

def load_rows_duck(con, sql):
    cur = con.sql(sql)
    names = cur.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [names[i] for i in order]
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return cols, sorted(rows, key=repr)

def cmp_cell(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))  # report near-miss
    return a == b

def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    # Oracle-engine version, ALWAYS printed: the one hash mismatch this
    # harness could not reproduce locally (r13 q111) was most plausibly a
    # driver-vs-local DuckDB version difference — make the skew visible
    # on every run. docs/history/PLANS.md lists the dialect constructs the
    # oracles avoid because they are version-sensitive.
    print(f"[oracle] duckdb {duckdb.__version__} sf={sf} out={out}")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    queries = [d for d in sorted(os.listdir(out))
               if os.path.isdir(os.path.join(out, d))]
    fail = 0
    for q in queries:
        if q not in oracle:
            n = pq.read_table(os.path.join(out, q)).num_rows
            print(f"[rows-only] {q}: {n} rows")
            continue
        try:
            scols, srows = load_rows_parquet(os.path.join(out, q))
            dcols, drows = load_rows_duck(con, oracle[q])
        except Exception as e:
            print(f"[ERROR] {q}: {e}")
            fail += 1
            continue
        if scols != dcols:
            print(f"[FAIL] {q}: columns differ spark={scols} duck={dcols}")
            fail += 1
            continue
        if len(srows) != len(drows):
            print(f"[FAIL] {q}: row counts differ spark={len(srows)} duck={len(drows)}")
            fail += 1
            continue
        bad = None
        exact = True
        for i, (sr, dr) in enumerate(zip(srows, drows)):
            for c, (a, b) in zip(scols, zip(sr, dr)):
                if not cmp_cell(a, b):
                    bad = (i, c, a, b)
                    break
                if a != b and not (a is None and b is None):
                    exact = False
            if bad:
                break
        if bad:
            i, c, a, b = bad
            print(f"[FAIL] {q}: row {i} col {c}: spark={a!r} duck={b!r}")
            fail += 1
        else:
            tag = "OK-exact" if exact else "OK-approx(<1e-9)"
            print(f"[{tag}] {q}: {len(srows)} rows x {len(scols)} cols")
    sys.exit(1 if fail else 0)

main()
