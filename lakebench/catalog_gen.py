"""Seeded fixture generator for the catalog workload.

Writes the ten tables `SparkEntry.queries` read (`<dir>/<table>.parquet`,
one file each) with the schemas, row counts and value shapes of the
engine's sf0.1 test data (TESTDATA.md): a TPC-H-like star schema, an
`events` table, a word-salad `documents` corpus with planted near
duplicates, and unit-norm 64-d `embeddings`.  Everything is a pure
function of the seed, so the same seed gives the same tables.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = dict(region=5, nation=25, customer=15000, supplier=1000, part=20000, orders=150000,
            lineitem=600000, events=100000, documents=5000, embeddings=2000)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream", "value", "data",
         "small", "join", "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
         "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP = 0.05  # share of documents that copy an earlier one and append " dup"
DIM = 64
DAY_US = 86_400_000_000


def _days(start, end):
    return np.datetime64(start, "D"), (np.datetime64(end, "D") - np.datetime64(start, "D")).astype(int)


def _dates(rng, n, start, end):
    d0, span = _days(start, end)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    """The ten tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = ROWS
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(n["region"]), i32),
                            "r_name": REGIONS})
    nk = np.arange(n["nation"])
    t["nation"] = pa.table({"n_nationkey": pa.array(nk, i32),
                            "n_name": [f"NATION_{k}" for k in nk],
                            "n_regionkey": pa.array(nk % n["region"], i32)})
    ck = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, n["nation"], len(ck)), i32),
        "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), len(ck))]})
    sk = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, n["nation"], len(sk)), i32),
        "s_acctbal": _money(rng, len(sk), -999.99, 9999.99)})
    pk = np.arange(n["part"])
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), len(pk))]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), len(pk))]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(pk)).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), len(pk))],
        "p_size": pa.array(rng.integers(1, 51, len(pk)), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    ok = np.arange(n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)), i64),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, len(STATUS), len(ok))],
        "o_totalprice": _money(rng, len(ok), 1000, 500000),
        "o_orderdate": _dates(rng, len(ok), "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), len(ok))]})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900, 105000),
        "l_discount": rng.integers(0, 11, m) / 100,
        "l_tax": rng.integers(0, 9, m) / 100,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, m)],
        "l_shipdate": _dates(rng, m, "1995-01-02", "2001-11-04")})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": np.sort(start + rng.integers(0, 30 * DAY_US, e).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, e), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), e)],
        "value": np.round(np.minimum(rng.exponential(50, e), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    texts = []
    for d in range(n["documents"]):
        if d > 0 and rng.random() < NEAR_DUP:
            texts.append(texts[int(rng.integers(0, d))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))]))
    dk = np.arange(n["documents"])
    t["documents"] = pa.table({
        "doc_id": pa.array(dk, i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), len(dk), p=LANG_P)],
        "source": [f"src{k % 20}" for k in dk],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    v = rng.standard_normal((n["embeddings"], DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n["embeddings"]), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32)})
    return t


def generate(seed, out_dir):
    """Write every table to out_dir/<table>.parquet; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
