"""Seeded input generator for the benchmark.

Every table is a pure function of the seed. The shapes follow the star
schema the repository's queries are written against (uniform
TPC-H-ish dimensions, a 30-day `events` stream, and a corpus drawn from
a 30-word vocabulary with 5 % near-duplicate copies), so the queries'
oracle SQL applies unchanged.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
WORDS = np.array(("spark window merge table column vector stream value data small "
                  "join filter big group hash customer sort order slow line part "
                  "fast row the agg key query a scan batch").split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
US_PER_DAY = 86_400_000_000
BATCH_SF = 0.01


def _micros(d):
    return int((d - EPOCH).total_seconds() * 1_000_000)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path)


def _days(rng, lo, hi, n):
    lo_d, hi_d = (lo - EPOCH).days, (hi - EPOCH).days
    return rng.integers(lo_d, hi_d + 1, n).astype(np.int64) * US_PER_DAY


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(rng, out, sf):
    """lineitem/orders/customer/nation/region at scale factor `sf`."""
    n_li, n_o, n_c = int(6_000_000 * sf), int(1_500_000 * sf), int(150_000 * sf)
    li = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_li),
        "l_partkey": rng.integers(0, 20_000, n_li),
        "l_suppkey": rng.integers(0, 1000, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _ts(_days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li)),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_o),
        "o_totalprice": _money(rng, 1000, 500_000, n_o),
        "o_orderdate": _ts(_days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_o)),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_o),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_c),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    for n, t in [("lineitem", li), ("orders", orders), ("customer", customer),
                 ("nation", nation), ("region", region)]:
        _write(t, os.path.join(out, f"{n}.parquet"))


def _event_cols(rng, ids, ts_us):
    n = len(ids)
    return {
        "event_id": ids.astype(np.int64),
        "ts": _ts(ts_us),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def events(rng, out, rows):
    """A 30-day `events` stream of `rows` events."""
    start = _micros(EVENTS_START)
    ts = np.sort(start + rng.integers(0, EVENT_DAYS * US_PER_DAY, rows))
    cols = _event_cols(rng, np.arange(rows, dtype=np.int64), ts)
    _write(pa.table(cols), os.path.join(out, "events.parquet"))


def documents(rng, out, n_docs):
    """`n_docs` docs of 10-100 vocabulary words; 5 % are an earlier doc
    plus " dup" and 0.2 % exact copies (the near-dup/exact-dup mass the
    dedup queries look for)."""
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(rng.choice(WORDS, n)) for n in lens]
    picked = rng.permutation(np.arange(1, n_docs))
    n_near, n_exact = n_docs // 20, max(1, n_docs // 500)
    near = set(picked[:n_near].tolist())
    for i in sorted(picked[:n_near + n_exact].tolist()):
        texts[i] = texts[rng.integers(0, i)] + (" dup" if i in near else "")
    t = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    _write(t, os.path.join(out, "documents.parquet"))


def generate(workload, seed, out):
    """Writes the workload's inputs under `out`. crawl_tick's archives
    are written by the JVM, generation by generation, from the seed."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    if workload == "batch_queries":
        tpch(rng, out, BATCH_SF)
        events(rng, out, int(1_000_000 * BATCH_SF))
        documents(rng, out, int(50_000 * BATCH_SF))
