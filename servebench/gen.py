"""Seeded TPC-H-shaped tables and an event log, written as parquet.

Sizes sit around the engine's 10k-row pin cap: region, nation and supplier
are pinned (served as local relations), customer and part sit above the cap,
orders, lineitem and events are the distributed scan tables. Columns are
ints, longs, DECIMAL(12,2), strings, dates and UTC timestamps, so every
answer compares exactly. One seed always yields the same files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime.date(1995, 1, 1)
SUPPLIERS, CUSTOMERS, PARTS = 1000, 15000, 20000
ORDERS, LINES_PER_ORDER, EVENTS = 50000, 4, 100000
DAYS, EVENT_SPAN_S = 1500, 90 * 86400
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "search", "cart", "buy", "share"]


def money(rng, lo, hi, n):
    """DECIMAL(12,2) values in [lo, hi), built from unscaled cents."""
    cents = rng.integers(lo * 100, hi * 100, n, dtype=np.int64)
    words = np.stack([cents, np.where(cents < 0, -1, 0)], axis=1).astype("<i8")
    return pa.Array.from_buffers(pa.decimal128(12, 2), n,
                                 [None, pa.py_buffer(words.tobytes())])


def pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def names(prefix, keys, width):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys])


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def generate(seed, out):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": pa.array([f"REGION{i}" for i in range(5)])})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": pa.array([f"NATION{i}" for i in range(25)]),
                          "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    keys = np.arange(1, SUPPLIERS + 1, dtype=np.int32)
    write(out, "supplier", {
        "s_suppkey": keys, "s_name": names("Supplier_", keys, 6),
        "s_nationkey": rng.integers(0, 25, SUPPLIERS, dtype=np.int32),
        "s_acctbal": money(rng, -999, 9999, SUPPLIERS)})
    keys = np.arange(1, CUSTOMERS + 1, dtype=np.int32)
    write(out, "customer", {
        "c_custkey": keys, "c_name": names("Customer_", keys, 7),
        "c_nationkey": rng.integers(0, 25, CUSTOMERS, dtype=np.int32),
        "c_mktsegment": pick(rng, SEGMENTS, CUSTOMERS),
        "c_acctbal": money(rng, -999, 9999, CUSTOMERS)})
    keys = np.arange(1, PARTS + 1, dtype=np.int32)
    write(out, "part", {
        "p_partkey": keys, "p_name": pa.array([f"part-{k}" for k in keys]),
        "p_brand": pa.array([f"Brand{b}" for b in rng.integers(1, 26, PARTS)]),
        "p_size": rng.integers(1, 51, PARTS, dtype=np.int32),
        "p_retailprice": money(rng, 900, 2000, PARTS)})
    okeys = np.arange(1, ORDERS + 1, dtype=np.int64)
    odays = rng.integers(0, DAYS, ORDERS)
    epoch = np.datetime64(EPOCH.isoformat(), "D")
    write(out, "orders", {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, CUSTOMERS + 1, ORDERS, dtype=np.int32),
        "o_orderdate": pa.array(epoch + odays),
        "o_totalprice": money(rng, 800, 500000, ORDERS),
        "o_orderstatus": pick(rng, ["F", "O", "P"], ORDERS)})
    n = ORDERS * LINES_PER_ORDER
    write(out, "lineitem", {
        "l_orderkey": np.repeat(okeys, LINES_PER_ORDER),
        "l_linenumber": np.tile(np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), ORDERS),
        "l_partkey": rng.integers(1, PARTS + 1, n, dtype=np.int32),
        "l_quantity": money(rng, 1, 51, n),
        "l_extendedprice": money(rng, 900, 100000, n),
        "l_returnflag": pick(rng, ["A", "N", "R"], n),
        "l_linestatus": pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(epoch + np.repeat(odays, LINES_PER_ORDER) +
                               rng.integers(0, 120, n))})
    ts0 = np.datetime64(EPOCH.isoformat() + "T00:00:00", "us")
    secs = rng.integers(0, EVENT_SPAN_S, EVENTS).astype("timedelta64[s]")
    write(out, "events", {
        "e_id": np.arange(EVENTS, dtype=np.int64),
        "e_user": rng.integers(1, 5001, EVENTS, dtype=np.int32),
        "e_type": pick(rng, EVENT_TYPES, EVENTS),
        "e_ts": pa.array(ts0 + secs, type=pa.timestamp("us", tz="UTC")),
        "e_value": rng.integers(0, 1000, EVENTS, dtype=np.int64)})
