"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query library reads (`graft.schema.Tables.all`) as
one parquet file each, with the schemas and value distributions of the
project's reference fixtures (FIXTURES.md): a TPC-H-like star schema, an
`events` stream table, `documents` with ~5% near-duplicates (an earlier
document plus " dup") and unit-norm 64-d `embeddings`. Row counts scale
linearly with `sf`; sf=0.01 gives 60k lineitem rows.

The same (seed, sf) always gives byte-identical values.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "blue", "old", "new", "cold", "hot", "small", "large"]
NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _ts(base: dt.datetime, us: np.ndarray) -> pa.Array:
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch + us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict:
    rng = np.random.default_rng(seed)
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(10, int(100 * k)), int(2000 * k)
    n_ord, n_li, n_ev = int(15000 * k), int(60000 * k), int(10000 * k)
    # embeddings follow the fixtures: 500 rows up to sf0.01, then 200 per 0.01 sf
    n_doc, n_emb = int(500 * k), min(int(500 * k), max(500, int(200 * k)))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {n}" for a in ADJ for n in NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * DAY_US)})
    out["events"] = events(rng, n_ev)
    out["documents"] = documents(rng, n_doc)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def events(rng, n: int) -> pa.Table:
    n_users = max(10, int(n * 0.015))
    offs = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), offs),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)]})


def documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(out_dir: str, seed: int, sf: float, events_only: bool = False) -> None:
    """Writes every table, or only `events` (the ingest workload's source)."""
    import os
    os.makedirs(out_dir, exist_ok=True)
    ts = ({"events": events(np.random.default_rng(seed), int(10000 * sf / 0.01))}
          if events_only else tables(seed, sf))
    for name, t in ts.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet", compression="snappy")


if __name__ == "__main__":
    import sys
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), "--events-only" in sys.argv)
