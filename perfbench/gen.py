"""Seeded input generators for the benchmark.

Two kinds of input:

* CDC envelopes for ``cdc_hourly``: Debezium-style ``(timestamp, value)``
  parquet files, one directory per landing, written from ``--seed`` so
  the same seed gives byte-identical envelopes.
* The analytics tables for ``query_mix``: a fixed TPC-H-like star
  schema plus ``events``, ``documents`` and ``embeddings``, with the
  column names and types the query builders read. They do not depend on
  the run seed (the committed result fingerprints are computed over
  them); the seed only orders the queries.

Run ``python3 perfbench/gen.py <workload> <seed> <out_dir>`` to write one
workload's inputs by hand.
"""

import json
import os
import sys
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Op mix of the hourly change stream: creates, snapshot reads, updates,
# deletes.
HOURLY_OPS = (("c", 0.15), ("r", 0.05), ("u", 0.72), ("d", 0.08))

# Payload columns. A `/` and mixed case exercise name sanitizing; the
# drift column appears in every event from day 2 on.
DRIFT_COLUMN = "Risk/Score"
PRODUCTS = ("LOAN", "CARD", "DEPOSIT", "SAVINGS", "BOND", "FX", "MORTGAGE", "LEASE")

# keys: snapshot size; hours 00..catchup_hours-1 of day 1 land as one
# catch-up batch; every later hour through day 2's extra_hours is a tick.
HOURLY = {"keys": 30000, "events_per_hour": 4000, "catchup_hours": 20,
          "extra_hours": 2, "zipf_s": 0.9}

DAY1 = datetime(2024, 3, 1, tzinfo=timezone.utc)
HOUR_US = 3600 * 10 ** 6
ENVELOPE_SCHEMA = pa.schema([("timestamp", pa.timestamp("us", tz="UTC")),
                             ("value", pa.string())])


def _draw_ops(rng, n, mix):
    codes = np.array([c for c, _ in mix])
    return codes[rng.choice(len(mix), size=n, p=[p for _, p in mix])]


def _payloads(rng, keys, ops, day_index):
    """JSON change events for the given keys and op codes, built with
    vectorized string kernels."""
    n = len(keys)

    def s(ints):
        return pc.cast(pa.array(ints, pa.int64()), pa.string())

    def lit(text):
        return pa.scalar(text)

    amount = rng.integers(0, 10_000_000, n)
    parts = [lit('{"ID":"'), s(keys),
             lit('","SYSTEM_CODE":"A'), s(rng.integers(1, 10, n)),
             lit('","Client/Name":"N'), s(rng.integers(0, 36 ** 6, n)),
             lit('","Product":"'), pa.array(np.array(PRODUCTS)[rng.integers(0, len(PRODUCTS), n)]),
             lit('","Amount":"'), s(amount // 100), lit("."),
             pc.utf8_lpad(s(amount % 100), 2, "0")]
    if day_index >= 2:
        parts += [lit(f'","{DRIFT_COLUMN}":"'), s(rng.integers(0, 1000, n))]
    ops = pa.array(ops, pa.string())
    deleted = pc.if_else(pc.equal(ops, "d"), "true", "false")
    parts += [lit('","__op":"'), ops, lit('","__deleted":"'), deleted, lit('"}')]
    return pc.binary_join_element_wise(*parts, "")


def _timestamps(start_us, span_us, n):
    """n distinct, increasing timestamps spread over [start, start+span).
    Distinct timestamps keep last-writer-wins free of ties."""
    step = span_us // max(n, 1)
    assert step >= 1
    return start_us + np.arange(n, dtype=np.int64) * step


def _write_envelopes(path, name, ts_us, values):
    os.makedirs(path, exist_ok=True)
    table = pa.table({"timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
                      "value": values}, schema=ENVELOPE_SCHEMA)
    pq.write_table(table, os.path.join(path, f"{name}.parquet"), compression="snappy")


def zipf_keys(rng, n_keys, n, s):
    """n keys drawn Zipf(s) over ranks, ranks mapped to keys through a
    seeded permutation so hot keys are spread over the key space."""
    weights = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_keys, size=n, p=weights / weights.sum())
    return rng.permutation(n_keys)[ranks]


def hourly_batches(seed, p=HOURLY):
    """Yield the landings of cdc_hourly in order, as (name, day, hours,
    [(ts_us, values) per hour]):

    * ``snapshot``: one `r` event per key in the last hour of day 0;
    * ``catchup``: hours 00..catchup_hours-1 of day 1, one file per hour;
    * one tick per remaining hour of day 1 and the first hours of day 2.
    """
    rng = np.random.default_rng([seed, 1])
    k = p["keys"]
    day1_us = int(DAY1.timestamp()) * 10 ** 6
    yield ("snapshot", 0, [23], [(_timestamps(day1_us - HOUR_US, HOUR_US, k),
                                  _payloads(rng, rng.permutation(k), np.full(k, "r"), 0))])

    def hour(d, h):
        n = p["events_per_hour"]
        keys = zipf_keys(rng, k, n, p["zipf_s"])
        ops = _draw_ops(rng, n, HOURLY_OPS)
        start = day1_us + ((d - 1) * 24 + h) * HOUR_US
        return _timestamps(start, HOUR_US, n), _payloads(rng, keys, ops, d)

    c = p["catchup_hours"]
    yield ("catchup", 1, list(range(c)), [hour(1, h) for h in range(c)])
    for d, h in [(1, h) for h in range(c, 24)] + [(2, h) for h in range(p["extra_hours"])]:
        yield (f"d{d}h{h:02d}", d, [h], [hour(d, h)])


def write_cdc(seed, out):
    """Write one directory per landing under `out`, one parquet file per
    hour, plus a manifest.json listing the landings in order."""
    manifest = []
    for name, d, hours, parts in hourly_batches(seed):
        for h, (ts, vals) in zip(hours, parts):
            _write_envelopes(os.path.join(out, name), f"h{h:02d}", ts, vals)
        manifest.append({"name": name, "day": d, "hour": hours[0],
                         "events": sum(len(v) for _, v in parts)})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "day1": DAY1.date().isoformat(), "batches": manifest}, f)


# ---------------------------------------------------------------------------
# query_mix tables

TABLES_SEED = 20240301
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64

WORDS = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
         "data", "column", "join", "small", "big", "customer", "query", "order",
         "group", "filter", "stream", "plan")
COLORS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
NOUNS = ("ring", "widget", "bolt", "anvil", "gear", "valve", "spring", "bracket")


def _ts_col(days_since_epoch_us):
    return pa.array(days_since_epoch_us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(out):
    rng = np.random.default_rng(TABLES_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"])[rng.integers(0, 5, N_CUSTOMER)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{COLORS[rng.integers(0, 8)]} {NOUNS[rng.integers(0, 8)]}"
                   for _ in range(N_PART)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)})

    day_us = 86400 * 10 ** 6
    d1995 = int(datetime(1995, 1, 1).replace(tzinfo=timezone.utc).timestamp()) * 10 ** 6
    odays = rng.integers(0, 2404, N_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts_col(d1995 + odays * day_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, N_ORDERS)]})

    lines = rng.integers(1, 8, N_ORDERS)
    lok = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(lok)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_col(d1995 + (odays[lok] + rng.integers(1, 122, n)) * day_us)})

    e0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 10 ** 6
    ets = np.sort(e0 + rng.choice(30 * day_us, N_EVENTS, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": _ts_col(ets),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, N_EVENTS)],
        "value": _money(rng, 0.01, 490.0, N_EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.08:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i >= 20 and rng.random() < 0.08:  # near duplicate: one word swapped
            words = texts[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS),
                                                                   rng.integers(8, 90))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, N_DOCS)],
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    labels = rng.integers(0, 10, N_VECS)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})

    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.replace(tmp, out)


def main(argv):
    if len(argv) != 4 or argv[1] not in ("cdc_hourly", "tables"):
        sys.exit("usage: gen.py <cdc_hourly|tables> <seed> <out_dir>")
    kind, seed, out = argv[1], int(argv[2]), argv[3]
    if kind == "tables":
        build_tables(out)
    else:
        write_cdc(seed, out)


if __name__ == "__main__":
    main(sys.argv)
