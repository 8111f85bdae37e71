"""Seeded TPC-H-shaped inputs for the benchmark.

Writes region, nation, customer, supplier, part, orders, lineitem and
embeddings as <dir>/<name>.parquet with the schema, value domains and
per-scale-factor row counts of the catalog's testdata, which the engine's
loaders read (graft.model.Tables). Every value is a splitmix64 hash of
(seed, stream, row index), so a seed fixes the inputs bit for bit.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "hot", "new", "old", "red", "small", "green", "big"]
NOUNS = ["anvil", "bolt", "gear", "ring", "rod", "widget", "nut", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BASE = {"customer": 150000, "supplier": 10000, "part": 200000,
        "orders": 1500000, "lineitem": 6000000}
DIMS = 64


def counts(sf):
    n = {t: max(10, round(b * sf)) for t, b in BASE.items()}
    n["embeddings"] = max(200, round(20000 * sf))
    return n


def _mix(x):
    x = x + np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class _Hash:
    def __init__(self, seed):
        self.seed = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)

    def u(self, stream, ids, n):
        """Uniform int64 in [0, n) for each row id of `stream`."""
        with np.errstate(over="ignore"):
            key = _mix(self.seed * np.uint64(1000003) + np.uint64(stream)) + ids.astype(np.uint64)
            return (_mix(key) % np.uint64(n)).astype(np.int64)

    def pick(self, stream, ids, vals):
        return pa.array(np.array(vals, dtype=object)[self.u(stream, ids, len(vals))], pa.string())


def _days(h, stream, ids, span, start):
    base = np.datetime64(start, "us")
    return pa.array(base + h.u(stream, ids, span).astype("timedelta64[D]").astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, name + ".parquet"))


def tpch(d, sf, seed):
    os.makedirs(d, exist_ok=True)
    h = _Hash(seed)
    n = counts(sf)
    i64, i32, f64 = pa.int64(), pa.int32(), pa.float64()
    r = np.arange(5)
    _write(d, "region", {"r_regionkey": pa.array(r, i32), "r_name": pa.array(REGIONS)})
    r = np.arange(25)
    _write(d, "nation", {"n_nationkey": pa.array(r, i32), "n_name": pa.array([f"NATION_{i}" for i in r]),
                         "n_regionkey": pa.array(r % 5, i32)})
    r = np.arange(n["customer"])
    _write(d, "customer", {
        "c_custkey": pa.array(r, i64), "c_name": pa.array([f"Customer#{i:09d}" for i in r]),
        "c_nationkey": pa.array(h.u(1, r, 25), i32),
        "c_acctbal": pa.array((h.u(2, r, 1100000) - 100000) / 100.0, f64),
        "c_mktsegment": h.pick(3, r, SEGMENTS)})
    r = np.arange(n["supplier"])
    _write(d, "supplier", {
        "s_suppkey": pa.array(r, i64), "s_name": pa.array([f"Supplier#{i:09d}" for i in r]),
        "s_nationkey": pa.array(h.u(4, r, 25), i32),
        "s_acctbal": pa.array((h.u(5, r, 1100000) - 100000) / 100.0, f64)})
    r = np.arange(n["part"])
    adj = np.array(ADJS, dtype=object)[h.u(6, r, len(ADJS))]
    noun = np.array(NOUNS, dtype=object)[h.u(7, r, len(NOUNS))]
    _write(d, "part", {
        "p_partkey": pa.array(r, i64), "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b + 1}" for b in h.u(8, r, 25)]),
        "p_type": h.pick(9, r, PART_TYPES), "p_size": pa.array(h.u(10, r, 50) + 1, i32),
        "p_retailprice": pa.array(900.0 + (r % 1000) / 10.0, f64)})
    r = np.arange(n["orders"])
    _write(d, "orders", {
        "o_orderkey": pa.array(r, i64), "o_custkey": pa.array(h.u(11, r, n["customer"]), i64),
        "o_orderstatus": h.pick(12, r, ["F", "O", "P"]),
        "o_totalprice": pa.array((h.u(13, r, 50000000) + 100000) / 100.0, f64),
        "o_orderdate": _days(h, 14, r, 2404, "1995-01-01"),
        "o_orderpriority": h.pick(15, r, PRIORITIES)})
    r = np.arange(n["lineitem"])
    qty = (h.u(20, r, 50) + 1).astype(np.float64)
    _write(d, "lineitem", {
        "l_orderkey": pa.array(h.u(16, r, n["orders"]), i64),
        "l_partkey": pa.array(h.u(17, r, n["part"]), i64),
        "l_suppkey": pa.array(h.u(18, r, n["supplier"]), i64),
        "l_linenumber": pa.array(h.u(19, r, 7) + 1, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * (900.0 + h.u(21, r, 110000) / 100.0), 2), f64),
        "l_discount": pa.array(h.u(22, r, 11) / 100.0, f64),
        "l_tax": pa.array(h.u(23, r, 9) / 100.0, f64),
        "l_returnflag": h.pick(24, r, ["A", "N", "R"]),
        "l_linestatus": h.pick(25, r, ["F", "O"]),
        "l_shipdate": _days(h, 26, r, 2500, "1995-01-02")})
    # 64-dim vectors around 10 label centroids; the per-row noise keeps
    # every stored vector distinct
    r = np.arange(n["embeddings"])
    label = h.u(32, r, 10)
    k = np.arange(DIMS)
    centre = (h.u(30, (np.arange(10)[:, None] * 1000 + k).ravel(), 2001).reshape(10, DIMS) - 1000) / 4000.0
    noise = (h.u(31, (r[:, None] * 1000 + k).ravel(), 2001).reshape(len(r), DIMS) - 1000) / 8000.0
    vecs = (centre[label] + noise).astype(np.float32)
    _write(d, "embeddings", {
        "vec_id": pa.array(r, i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
