"""Seeded generator for the engine's ten catalog tables.

The benchmark never reads fixture data from outside its checkout: it
writes its own parquet files, one file and one row group per table,
with the column names and types of ``catalog.TABLE_SCHEMAS`` and the
value domains the engine's queries expect (TPC-H-shaped star schema,
an ``events`` stream, word-bag ``documents`` with planted near
duplicates, unit-length 64-d ``embeddings``).

Row counts follow the test fixtures' scale factors (``sf`` 0.01 gives
15,000 orders and ~60,000 line items). Everything random comes from
one ``numpy`` generator seeded with ``seed``: the same seed writes the
same bytes. The shape that sets the iterative keys' work is fixed, not
drawn: every planted duplicate copies a distinct original, so the
near-duplicate graph is a set of 2-node components and the connected
-components loop runs the same number of rounds for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mini_sql_engine_spark.catalog import EMBEDDING_DIM

WORDS = (
    "a the big small fast slow data table row column key value query "
    "filter join group sort order merge hash scan window stream batch "
    "spark vector line part customer agg"
).split()
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
PART_ADJ = ("red", "small", "large", "hot", "cold", "old", "new", "green")
PART_NOUN = ("widget", "bolt", "plate", "ring", "rod", "gear", "pipe", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DUP_EVERY = 20  # one planted near-duplicate per 20 documents

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = int(
    (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf``."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(100, int(20_000 * sf)),
    }


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(base: np.datetime64, offset_us: np.ndarray) -> pa.Array:
    return pa.array(base + offset_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    days = rng.integers(0, _ORDER_DAYS + 1, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(_cents(rng.uniform(1000, 500_000, n))),
        "o_orderdate": _ts(_EPOCH_1995, days * _DAY_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # doc i (i % DUP_EVERY == DUP_EVERY - 1) copies a distinct original
    dups = np.arange(DUP_EVERY - 1, n, DUP_EVERY)
    originals = np.setdiff1d(np.arange(n), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups),
                                       replace=False)):
        texts[d] = texts[src] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBEDDING_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()),
                                            EMBEDDING_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for all ten tables."""
    rng = np.random.default_rng(seed)
    size = table_sizes(sf)
    nc, ns, npart, no = (size["customer"], size["supplier"], size["part"],
                         size["orders"])
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_cents(rng.uniform(-999.99, 9999.99, ns))),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(npart)]),
        "p_brand": pa.array([f"Brand#{b}"
                             for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) / 10, 1)),
    })
    orders = _orders(rng, no, nc)
    tables["orders"] = orders

    # 1-7 lines per order, line numbers 1..k so (orderkey, line) is a key
    per_order = rng.integers(1, 8, no)
    okeys = np.repeat(np.arange(no), per_order)
    nl = len(okeys)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    odays = (orders.column("o_orderdate").to_numpy()
             - _EPOCH_1995).astype("timedelta64[D]").astype(np.int64)
    ship_us = (odays[okeys] + rng.integers(1, 96, nl)) * _DAY_US
    flags = rng.choice(["N", "A", "R"], nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            _cents(qty * rng.uniform(900, 2100, nl))),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": _ts(_EPOCH_1995, ship_us),
    })

    ne = size["events"]
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.datetime64("2024-01-01", "us"), ev_us),
        "user_id": pa.array(rng.integers(0, max(15, ne // 66), ne),
                            pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(_cents(rng.exponential(50.0, ne))),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, ne)]),
    })
    tables["documents"] = _documents(rng, size["documents"])
    tables["embeddings"] = _embeddings(rng, size["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
