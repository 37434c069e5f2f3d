#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>
For each query dir in <verifyOutDir>: load the Spark parquet result, run the
oracle SQL from oracle_sql.json in DuckDB over the fixture tables, sort
columns by name, and compare row-by-row (exact on strings/ints, tolerant to
1e-9 on floats to mimic a hash on rounded values being checked beforehand).
"""
import atexit, json, math, shutil, sys, tempfile
import duckdb

sf, out = sys.argv[1], sys.argv[2]
# DuckDB spills to `.tmp` under the working directory by default; a fresh
# temp dir keeps a large fixture's spill off the checkout, and goes at exit
spill = tempfile.mkdtemp(prefix="check_oracle-")
atexit.register(shutil.rmtree, spill, ignore_errors=True)
con = duckdb.connect(config={"temp_directory": spill})
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        fail += 1
        continue
    try:
        got = con.execute(
            f"SELECT * FROM '{out}/{name}/*.parquet'").fetch_arrow_table()
    except Exception as e:
        print(f"FAIL {name}: spark output missing: {e}")
        fail += 1
        continue
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        print(f"FAIL {name}: columns exp={ecols} got={gcols}")
        fail += 1
        continue
    # Type-strict: the driver's compare hashes typed values, so an oracle
    # typed HUGEINT/DECIMAL against a Spark BIGINT hash-mismatches even when
    # every value is equal (the round-7 packing regression). Both tables are
    # fetched through DuckDB's arrow bridge, so types are directly comparable.
    tbad = [(c, exp.schema.field(c).type, got.schema.field(c).type)
            for c in ecols
            if exp.schema.field(c).type != got.schema.field(c).type]
    if tbad:
        for c, et, gt in tbad:
            print(f"FAIL {name}: type col={c} oracle={et} spark={gt}")
        fail += 1
        continue
    if exp.num_rows != got.num_rows:
        print(f"FAIL {name}: rows exp={exp.num_rows} got={got.num_rows}")
        fail += 1
        continue
    bad = None
    for c in ecols:
        ev, gv = exp.column(c).to_pylist(), got.column(c).to_pylist()
        for i, (a, b) in enumerate(zip(ev, gv)):
            ok = (a == b) or (a is None and b is None) or (
                isinstance(a, float) and isinstance(b, float)
                and (math.isclose(a, b, rel_tol=0, abs_tol=1e-9)
                     or (math.isnan(a) and math.isnan(b))))
            if not ok:
                bad = (c, i, a, b)
                break
        if bad:
            break
    if bad:
        c, i, a, b = bad
        print(f"FAIL {name}: col={c} row={i} exp={a!r} got={b!r}")
        fail += 1
    else:
        print(f"ok   {name} ({exp.num_rows} rows)")
print(f"\n{len(oracle) - fail}/{len(oracle)} queries match")
sys.exit(1 if fail else 0)
