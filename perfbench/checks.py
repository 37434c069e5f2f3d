"""Output checks of the graft benchmark, made with DuckDB outside the timed
region so that no check relies on the code under test alone.

* Query outputs are compared with `SparkEntry.oracleSql` run in DuckDB over
  the same fixture -- the compare `tools/check_oracle.py` makes: columns
  sorted by name, types equal, rows equal in order, floats within 1e-9.
  A query without an oracle is compared with the order-independent digest
  recorded for it in `digests.json`.
* The cdc_replicate target is compared with the generator's own answer:
  row count and an order-independent digest of every row.
"""
import hashlib
import json
import math
import os

import duckdb

FIXTURE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
# DuckDB spills under the current directory unless told otherwise
SPILL_DIR = os.path.join(os.path.dirname(HERE), ".bench_work", "duckdb-spill")


def _connect(fixture_dir=None):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{SPILL_DIR}'")
    if fixture_dir:
        for t in FIXTURE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    return con


def _same(a, b):
    return (a == b) or (a is None and b is None) or (
        isinstance(a, float) and isinstance(b, float)
        and (math.isclose(a, b, rel_tol=0, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))))


def compare_oracle(con, sql, out_dir):
    """None when the Spark output in `out_dir` equals the oracle's rows, else
    the first difference found."""
    try:
        exp = con.execute(sql).fetch_arrow_table()
    except Exception as e:  # noqa: BLE001 - any oracle failure is a finding
        return f"oracle SQL error: {e}"
    got = con.execute(f"SELECT * FROM '{out_dir}/*.parquet'").fetch_arrow_table()
    ecols, gcols = sorted(exp.column_names), sorted(got.column_names)
    if ecols != gcols:
        return f"columns exp={ecols} got={gcols}"
    for c in ecols:
        et, gt = exp.schema.field(c).type, got.schema.field(c).type
        if et != gt:
            return f"type col={c} oracle={et} spark={gt}"
    if exp.num_rows != got.num_rows:
        return f"rows exp={exp.num_rows} got={got.num_rows}"
    for c in ecols:
        for i, (a, b) in enumerate(zip(exp.column(c).to_pylist(), got.column(c).to_pylist())):
            if not _same(a, b):
                return f"col={c} row={i} exp={a!r} got={b!r}"
    return None


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def output_digest(con, out_dir):
    """Order-independent digest of a query output: columns by name, each row
    canonicalised (floats to 9 significant digits), rows sorted."""
    t = con.execute(f"SELECT * FROM '{out_dir}/*.parquet'").fetch_arrow_table()
    cols = sorted(t.column_names)
    rows = sorted("|".join(_canon(v) for v in r) for r in zip(*(t.column(c).to_pylist() for c in cols)))
    h = hashlib.sha256(",".join(cols).encode())
    for r in rows:
        h.update(r.encode() + b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


def check_queries(fixture_dir, outputs_dir, names, oracle_sql, capture_errors):
    """{query: None if correct else the reason} for every listed query."""
    with open(DIGESTS) as f:
        digests = json.load(f)
    con = _connect(fixture_dir)
    result = {}
    for name in names:
        out = os.path.join(outputs_dir, name)
        if capture_errors.get(name):
            result[name] = f"output capture failed: {capture_errors[name]}"
        elif name in oracle_sql:
            result[name] = compare_oracle(con, oracle_sql[name], out)
        elif name in digests:
            got = output_digest(con, out)
            result[name] = None if got == digests[name] else f"digest {got} != recorded {digests[name]}"
        else:
            result[name] = "no oracle and no recorded digest"
    return result


def record_digests(outputs_dir, names, oracle_sql, capture_errors):
    """Record the output digest of every listed query without an oracle.
    Run once on a commit whose outputs are known good; the fixture is fixed,
    so the digests hold for every seed."""
    with open(DIGESTS) as f:
        digests = json.load(f)
    con = _connect()
    for name in names:
        if name not in oracle_sql and not capture_errors.get(name):
            digests[name] = output_digest(con, os.path.join(outputs_dir, name))
    with open(DIGESTS, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


STATE_DIGEST = ("SELECT count(*) AS n, sum(hash(user_id, event_id, epoch_us(ts), event_type, "
                "value, props, op_type) % 1000000007) AS h FROM '{}'")


def state_digest(path_glob):
    """(rows, digest) of a CDC target state, over every column."""
    con = _connect()
    n, h = con.execute(STATE_DIGEST.format(path_glob)).fetchone()
    return int(n), int(h or 0)
