#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query dumped by
graft.Verify, run its oracle SQL in DuckDB against the same parquet tables,
sort columns by name, and compare row-by-row. Usage:
    python3 tools/parity.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, json, math, glob, os
import duckdb
import pyarrow.types as pt

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def kind(t):
    """Dtype KIND for the driver-hash asymmetry check: the driver
    stringifies pandas values before hashing, so what matters is which
    types render identically ("218.0" for float64 AND decimal128 vs
    "218" for int64), not arrow-type identity. Group the families whose
    pandas rendering agrees; benign representation differences within a
    family (string vs large_string, timestamp unit) must NOT fail a
    query whose values match."""
    if pt.is_floating(t) or pt.is_decimal(t):
        return "floatlike"
    if pt.is_integer(t):
        return "int"
    if pt.is_string(t) or pt.is_large_string(t):
        return "str"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return "list:" + kind(t.value_type)
    return str(t)

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    outputs = {os.path.basename(d) for d in glob.glob(f"{out_dir}/q_*")}
    unknown = sorted(only - set(oracle) - outputs)
    if unknown:
        print(f"unknown queries (no oracle, no Spark output): {' '.join(unknown)}")
        sys.exit(1)
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        pq = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not pq:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            o = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        s = con.execute(f"SELECT * FROM '{pq[0]}'").fetch_arrow_table()
        ocols, scols = sorted(o.column_names), sorted(s.column_names)
        if ocols != scols:
            print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            n_fail += 1
            continue
        orows = [tuple(norm(r[c]) for c in ocols) for r in o.to_pylist()]
        srows = [tuple(norm(r[c]) for c in scols) for r in s.to_pylist()]
        if len(orows) != len(srows):
            print(f"FAIL {name}: rows spark={len(srows)} oracle={len(orows)}")
            n_fail += 1
            continue
        # Driver-hash sensitivity: the driver stringifies PANDAS values
        # before hashing, and pandas renders both float64 and
        # decimal128 (DuckDB HUGEINT, e.g. a window SUM over BIGINT) as
        # "218.0" while int64 renders "218" — so a float/decimal column
        # on one side vs an integral column on the other FAILS the
        # driver hash even though Python's 218.0 == 218 passes the
        # value compare below. Flag any kind asymmetry (kind() at module
        # scope groups render-equivalent families).
        tbad = [(c, str(s.schema.field(c).type), str(o.schema.field(c).type))
                for c in ocols
                if kind(s.schema.field(c).type) != kind(o.schema.field(c).type)]
        if tbad:
            print(f"FAIL {name}: dtype-kind mismatch (driver hash breaks): "
                  f"{tbad}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(srows, orows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(srows)} rows differ; first at {i}:\n  spark : {a}\n  oracle: {b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    # queries without oracle: rows-only presence check
    for name in sorted(outputs):
        if name not in oracle and (not only or name in only):
            pq = glob.glob(f"{out_dir}/{name}/*.parquet")
            n = con.execute(f"SELECT count(*) FROM '{pq[0]}'").fetchone()[0] if pq else 0
            print(f"INFO {name}: no oracle, rows={n}")
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
