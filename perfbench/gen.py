"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of (seed, size):

* ``write_tables`` — the star-schema + events/documents/embeddings tables the
  registry queries read (one snappy parquet file per table, the layout
  ``graft.core.Tables.load`` expects), with the column domains of the gate's
  test data.
* ``write_zori_csv`` — a wide raw ZORI-shaped CSV for the product path:
  ``RegionID, SizeRank, RegionName, RegionType, StateName`` and 120 ``yyyy-MM``
  month columns, ~5% null rents, ~1% of regions duplicated as exact rows, and
  state sizes following a Zipf law, as the real Zillow index does.

The same arguments give byte-identical files. The program under test never
sees the seed: it receives only the written files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATES = [
    "CA", "TX", "FL", "NY", "PA", "IL", "OH", "GA", "NC", "MI", "NJ", "VA",
    "WA", "AZ", "MA", "TN", "IN", "MO", "MD", "WI", "CO", "MN", "SC", "AL",
    "LA", "KY", "OR", "OK", "CT", "UT", "IA", "NV", "AR", "MS", "KS", "NM",
    "NE", "ID", "WV", "HI", "NH", "ME", "MT", "RI", "DE", "SD", "ND", "AK",
    "VT", "WY", "DC",
]

WORDS = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join spark line small fast group customer batch sort value "
    "hash filter big data"
).split()


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _cents(rng, lo, hi, n):
    """Uniform amounts with two decimals, exactly representable as x/100."""
    return rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n) / 100.0


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def write_tables(out_dir, seed, sf):
    """Write the ten registry tables at scale factor ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150000 * sf))
    n_supp = max(5, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(100, int(1500000 * sf))
    n_line = max(400, int(6000000 * sf))
    n_evt = max(100, int(1000000 * sf))
    n_users = max(5, int(15000 * sf))
    n_docs = max(500, int(50000 * sf))
    n_vecs = max(500, int(20000 * sf))

    r = _rng(seed, 1)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")

    r = _rng(seed, 3)
    adj = np.array(["cold", "small", "large", "hot", "red", "blue", "old", "new"])
    noun = np.array(["widget", "bolt", "plate", "ring", "rod", "gizmo", "gear", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    keys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1),
    }), f"{out_dir}/part.parquet")

    r = _rng(seed, 4)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    r = _rng(seed, 5)
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, 900.0, 105000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    }), f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 6)
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(r.choice(month_us, n_evt, replace=False))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(r.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            r.integers(0, 5, n_evt)],
        "value": np.round(r.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
    }), f"{out_dir}/events.parquet")

    r = _rng(seed, 7)
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        roll = r.random()
        if i > 10 and roll < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[r.integers(0, i)] + " dup")
        elif i > 10 and roll < 0.052:  # exact duplicate
            texts.append(texts[r.integers(0, i)])
        else:
            texts.append(" ".join(words[r.integers(0, len(words), r.integers(10, 101))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    r = _rng(seed, 8)
    labels = r.integers(0, 10, n_vecs)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + r.normal(0.0, 1.0, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


def zipf_weights(n, s=1.0):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write_zori_csv(path, seed, regions, months=120):
    """Write a wide raw ZORI CSV with ``regions`` distinct regions.

    Returns the number of rows the product path must write: non-null rents of
    distinct regions, so duplicated regions and null rents are not counted.
    """
    r = _rng(seed, 100)
    states = np.array(STATES)[r.permutation(len(STATES))]
    state_of = states[r.choice(len(states), regions, p=zipf_weights(len(states)))]
    ids = 100000 + r.permutation(regions * 4)[:regions]
    base = r.lognormal(np.log(1800.0), 0.35, regions)
    growth = r.normal(0.003, 0.002, regions)
    noise = r.normal(0.0, 0.01, (regions, months))
    rents = np.round(base[:, None] * np.exp(np.cumsum(growth[:, None] + noise, axis=1)), 1)
    null = r.random((regions, months)) < 0.05
    dup = np.flatnonzero(r.random(regions) < 0.01)
    order = np.concatenate([np.arange(regions), dup])
    order = order[r.permutation(len(order))]
    cols = [f"{2015 + m // 12:04d}-{m % 12 + 1:02d}" for m in range(months)]

    cells = np.where(null, "", rents.astype(str))
    lines = ["RegionID,SizeRank,RegionName,RegionType,StateName," + ",".join(cols)]
    for i in order:
        lines.append(f"{ids[i]},{i + 1},Region {ids[i]},msa,{state_of[i]},"
                     + ",".join(cells[i]))
    tmp = path + ".tmp"
    with open(tmp, "w", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)
    return int((~null).sum())
