"""Seeded input generators for the graft benchmark.

Two kinds of input:

* ``write_fixture`` -- the star-schema + events + documents + embeddings
  tables the query workloads scan. Same schemas and value shapes as the
  repository's FIXTURES.md. The fixture is fixed (generated from
  ``FIXTURE_SEED``), so the recorded output digests of queries without a
  DuckDB oracle stay valid; a run's ``--seed`` only orders the queries.
* ``CdcPlan`` -- the change stream for ``cdc_replicate``: a seed file that
  the stream's own first batch loads into the target, then timed drops with
  a skewed mix of updates, inserts, deletes and redelivered duplicates. It
  also computes the generator's own answer (the expected target).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

# Row counts of the generated fixture. Near sf0.01 for the relational and
# events tables (the per-query cost at this size is mostly planning and
# scheduling, which is what the query workloads are chosen to measure) and
# larger for documents/embeddings so the text and vector kernels do real
# per-row work.
FIXTURE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 1000, "embeddings": 1000,
}

WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
PART_ADJ = "small red hot old large blue cold new".split()
PART_NOUN = "ring widget bolt gear gizmo rod plate anvil".split()
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
LANGS = (["en", "es", "zh", "de", "fr"], [0.43, 0.15, 0.15, 0.14, 0.13])
US_PER_DAY = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EPOCH_1995_MS = 788_918_400_000        # 1995-01-01T00:00:00Z


def _ts_us(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days_ms(rng, lo_day, hi_day, n):
    return pa.array(EPOCH_1995_MS + rng.integers(lo_day, hi_day, n) * 86_400_000,
                    type=pa.timestamp("ms"))


def fixture_tables(seed=FIXTURE_SEED, rows=FIXTURE_ROWS):
    """All ten fixture tables as pyarrow Tables, deterministic in `seed`."""
    rng = np.random.default_rng(seed)
    n = rows
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    k = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2),
        "c_mktsegment": segs[rng.integers(0, 5, k.size)]})
    k = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2)})
    k = np.arange(n["part"])
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, k.size), rng.integers(0, 8, k.size))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k.size)],
        "p_type": ptypes[rng.integers(0, 6, k.size)],
        "p_size": pa.array(rng.integers(1, 51, k.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})
    k = np.arange(n["orders"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k.size), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k.size)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, k.size), 2),
        "o_orderdate": _days_ms(rng, 0, 2404, k.size),
        "o_orderpriority": prio[rng.integers(0, 5, k.size)]})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days_ms(rng, 1, 2499, m)})
    m = n["events"]
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, m)) + EPOCH_2024_US
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, max(15, m * 3 // 200), m), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, m)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, m), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, m)]})
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, m):
    """Word-soup documents; 5 % are another document's text + " dup"."""
    words = np.array(WORDS)
    texts = []
    for i in range(m):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(8, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS[0])[rng.choice(5, m, p=LANGS[1])],
        "source": [f"src{i % 20}" for i in range(m)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _embeddings(rng, m, dim=64):
    """Unit vectors with a weak per-label centroid (cluster signal ~0.15)."""
    cent = rng.normal(size=(10, dim))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    label = rng.integers(0, 10, m)
    x = 0.15 * cent[label] + rng.normal(scale=1.0 / 8.0, size=(m, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write_fixture(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables().items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# cdc_replicate: the change stream and its expected target

EVENTS_PER_S = 600            # the reference's design rate (SURVEY md:176)
TRIGGER_S = 5.0               # CdcPipeline.start's fixed ProcessingTime
DROPS_PER_TRIGGER = 40        # one drop every 0.125 s, 75 events each
# Mix of a drop's events. Updates and deletes hit existing keys with a
# Zipf-like skew (a few hot documents take most writes); inserts take fresh
# keys; duplicates redeliver an earlier event of the same drop verbatim.
MIX = {"update": 0.80, "insert": 0.10, "delete": 0.05, "duplicate": 0.05}
UPDATE_TYPES = ["click", "purchase", "view"]


class CdcPlan:
    """The seeded change stream of one cdc_replicate run: the seed table,
    one warm-up drop (its batch runs the merge plan once before the measured
    intervals) and `n_drops` measured drops.

    Event times and ids increase from drop to drop, so the last write of
    every key is the same however the triggers group drops into batches.
    """

    def __init__(self, seed, target_keys, n_drops):
        self.seed, self.target_keys = seed, target_keys
        self.events_per_drop = int(EVENTS_PER_S * TRIGGER_S / DROPS_PER_TRIGGER)
        rng = np.random.default_rng([seed, 7])
        self.seed_table = self._seed_table(rng)
        drops = []
        next_id, next_key = target_keys, target_keys
        t0 = EPOCH_2024_US + 2 * US_PER_DAY
        for d in range(n_drops + 1):
            table, next_id, next_key = self._drop(rng, d, next_id, next_key, t0)
            drops.append(table)
        self.warmup, self.drops = drops[0], drops[1:]
        self.event_origin_us = self.drops[0]["ts"][0].value

    def _seed_table(self, rng):
        n = self.target_keys
        ts = EPOCH_2024_US + np.sort(rng.integers(0, US_PER_DAY, n))
        return pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts_us(ts),
            "user_id": pa.array(rng.permutation(n), pa.int64()),
            "event_type": pa.array(["signup"] * n),
            "value": np.round(rng.uniform(0.01, 500.0, n), 2),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]})

    def _drop(self, rng, d, next_id, next_key, t0):
        m = self.events_per_drop
        kind = rng.choice(4, m, p=list(MIX.values()))  # 0 upd 1 ins 2 del 3 dup
        kind[0] = 0  # a duplicate needs an earlier event to copy
        # skewed existing key: Zipf rank, scattered over the key space
        rank = np.minimum(rng.zipf(1.3, m) - 1, self.target_keys - 1)
        perm_key = (rank * 2654435761 + self.seed) % self.target_keys
        n_ins = int((kind == 1).sum())
        user = perm_key.astype(np.int64)
        user[kind == 1] = np.arange(next_key, next_key + n_ins)
        etype = np.array(UPDATE_TYPES)[rng.integers(0, 3, m)].astype(object)
        etype[kind == 1] = "signup"
        etype[kind == 2] = "error"
        ids = np.arange(next_id, next_id + m, dtype=np.int64)
        # one event per 1/600 s of event time, strictly after every earlier drop
        ts = t0 + (d * m + np.arange(m)) * (1_000_000 // EVENTS_PER_S)
        value = np.round(rng.uniform(0.01, 500.0, m), 2)
        props = rng.integers(0, 100, m)
        for i in np.nonzero(kind == 3)[0]:
            j = int(rng.integers(0, i))  # redeliver an earlier event verbatim
            ids[i], ts[i], user[i], etype[i] = ids[j], ts[j], user[j], etype[j]
            value[i], props[i] = value[j], props[j]
        table = pa.table({
            "event_id": pa.array(ids, pa.int64()), "ts": _ts_us(ts),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(list(etype), pa.string()),
            "value": value, "props": [f'{{"k": {v}}}' for v in props]})
        return table, next_id + m, next_key + n_ins

    def expected(self):
        """The generator's own answer after every drop: per key, the
        non-delete event with the greatest (ts, event_id), applied in arrival
        order; deletes dropped (the reference ignores them), redeliveries
        collapsed. Columns match the target."""
        t = pa.concat_tables([self.seed_table, self.warmup] + self.drops)
        keep = np.asarray(pa.compute.not_equal(t["event_type"], "error"))
        t = t.filter(pa.array(keep))
        order = np.lexsort((t["event_id"].to_numpy(),
                            t["ts"].cast(pa.int64()).to_numpy(),
                            t["user_id"].to_numpy()))
        t = t.take(pa.array(order))
        user = t["user_id"].to_numpy()
        last = np.ones(len(user), bool)
        last[:-1] = user[:-1] != user[1:]
        t = t.filter(pa.array(last))
        op = np.where(np.asarray(t["event_type"].to_pylist(), dtype=object) == "signup",
                      "insert", "update")
        return t.append_column("op_type", pa.array(list(op), pa.string()))

    def write(self, out_dir):
        """seed/, warmup/, drops/ (in arrival order), expected.parquet and
        the plan.properties the harness reads."""
        for d in ("seed", "warmup", "drops"):
            os.makedirs(os.path.join(out_dir, d), exist_ok=True)
        _write(self.seed_table, os.path.join(out_dir, "seed", "seed-00000.parquet"))
        _write(self.warmup, os.path.join(out_dir, "warmup", "warmup-00000.parquet"))
        for d, table in enumerate(self.drops):
            _write(table, os.path.join(out_dir, "drops", f"drop-{d:05d}.parquet"))
        _write(self.expected(), os.path.join(out_dir, "expected.parquet"))
        with open(os.path.join(out_dir, "plan.properties"), "w") as f:
            f.write(f"trigger_ms={int(TRIGGER_S * 1000)}\n"
                    f"drops_per_trigger={DROPS_PER_TRIGGER}\n"
                    f"event_origin_ms={self.event_origin_us // 1000}\n")
