"""Seeded fixture tables for the `queries` workload.

Writes the ten tables the query registry reads (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the column names, types and value ranges of the
sf0.001 fixture family. The seed changes every value; the row counts
stay fixed, so every seed gives the registry the same amount of work.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"lineitem": 6000, "orders": 1500, "customer": 150, "part": 200,
        "supplier": 10, "events": 1000, "documents": 500, "embeddings": 500}
WORDS = ("the a of and is data fast slow key order sort table scan merge part "
         "window small big hash join batch stream spark filter group query row "
         "column value line customer agg dup vec").split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    adj = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
    noun = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "STANDARD", "MEDIUM",
                              "SMALL", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n) * 0.1 % 20, 1)})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000, 500000, n),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, n), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2498, n), pa.timestamp("us"))})
    n = ROWS["events"]
    ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"))
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "purchase", "view"], n),
        "value": money(rng, 0.01, 330, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.10:  # near duplicate: one word changed
            w = texts[rng.integers(0, i)].split(" ")
            w[rng.integers(0, len(w))] = str(rng.choice(WORDS))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 90))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n, p=[.4, .15, .15, .15, .15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = ROWS["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.8, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out, seed):
    for name, table in tables(seed).items():
        pq.write_table(table, f"{out}/{name}.parquet")


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
