"""Seeded input generator for the benchmark.

Everything the program sees is made here from the run's seed: the
TPC-H-shaped star schema plus the ``events``/``documents``/
``embeddings`` tables the registry queries read, the 10x curation
corpus, the order batches with their injected dirty and dead rows,
the delete/update key lists, and the BI query order. Same seed, same
bytes. Only numpy and pyarrow are used, so generation runs before
Spark starts and counts in ``setup_s``.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
CORPUS_COPIES = 10  # as scripts/make_10x_corpus.py: key-shifted copies

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, cols: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(cols), path, compression="snappy")


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated dataset. ``sf`` follows TPC-H:
    150k customers, 1.5M orders and ~6M line items per unit."""

    sf: float
    corpus_base_docs: int
    corpus_base_vecs: int

    @property
    def customers(self) -> int:
        return max(50, int(150_000 * self.sf))

    @property
    def suppliers(self) -> int:
        return max(10, int(10_000 * self.sf))

    @property
    def parts(self) -> int:
        return max(50, int(200_000 * self.sf))

    @property
    def orders(self) -> int:
        return max(200, int(1_500_000 * self.sf))

    @property
    def events(self) -> int:
        return max(200, int(1_000_000 * self.sf))


def write_star_schema(out: str, scale: Scale, seed: int) -> None:
    """TPC-H-shaped tables plus ``events`` under ``out/<table>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = scale.customers
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = scale.suppliers
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = scale.parts
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2),
    })
    no = scale.orders
    lo, hi = _us(dt.datetime(1995, 1, 1)), _us(dt.datetime(2001, 8, 1))
    odate = lo + rng.integers(0, (hi - lo) // _DAY_US + 1, no) * _DAY_US
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype="int64"), lines)
    lnum = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype("float64")
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl) * _DAY_US
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship),
    })
    ne = scale.events
    t0 = _us(dt.datetime(2024, 1, 1))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, max(10, nc // 10), ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })


def write_corpus(out: str, base_docs: int, base_vecs: int, seed: int,
                 copies: int = CORPUS_COPIES) -> None:
    """``documents`` and ``embeddings``: a seeded base corpus (5% of
    documents are copies of an earlier one with a ``dup`` suffix), then
    ``copies`` key-shifted copies of it, so duplicate mass grows with
    the copy count exactly as in ``scripts/make_10x_corpus.py``."""
    rng = np.random.default_rng([seed, 2, 0])
    os.makedirs(out, exist_ok=True)
    texts: list[str] = []
    for i in range(base_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), base_docs)]
    ids = np.arange(base_docs * copies, dtype="int64")
    _write(f"{out}/documents.parquet", {
        "doc_id": ids,
        "text": texts * copies,
        "lang": langs * copies,
        "source": [f"src{i % 20}" for i in range(base_docs)] * copies,
        "n_chars": np.array([len(t) for t in texts] * copies, dtype="int64"),
    })
    labels = rng.integers(0, 10, base_vecs)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (base_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(np.tile(vecs.astype("float32"), (copies, 1)).ravel())
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(base_vecs * copies, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, EMBED_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(np.tile(labels, copies), pa.int32()),
    })


def write_dataset(out: str, scale: Scale, seed: int) -> None:
    write_star_schema(out, scale, seed)
    write_corpus(out, scale.corpus_base_docs, scale.corpus_base_vecs, seed)


@dataclass
class Batch:
    """One order batch with its DML plan, all as plain Python values."""

    orders: pa.Table
    dirty: int  # rows whose status is outside the silver domain
    dead: int  # rows whose customer is a dead (never-valid) parent
    mor_delete_keys: list[int] = field(default_factory=list)
    mor_update_keys: list[int] = field(default_factory=list)
    cow_delete_keys: list[int] = field(default_factory=list)


@dataclass
class WritePlan:
    customers: pa.Table
    dead_customers: list[int]
    batches: list[Batch]


def write_plan(n_customers: int, n_batches: int, rows_per_batch: int,
               seed: int) -> WritePlan:
    """Customers (1 in 17 dead: segment outside every domain) and
    ``n_batches`` disjoint order batches. Each batch carries injected
    dirty rows (status ``X``), orders of dead customers (FK misses),
    and the seeded keys of its merge-on-read delete/update and, every
    third batch starting with the first, a copy-on-write delete."""
    rng = np.random.default_rng([seed, 4])
    ck = np.arange(n_customers, dtype="int64")
    seg = np.array([SEGMENTS[i] for i in rng.integers(0, 5, n_customers)],
                   dtype=object)
    dead = ck % 17 == 5
    seg[dead] = "UNKNOWN"
    created = dt.datetime(2024, 1, 15)
    customers = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_mktsegment": seg.tolist(),
        "created_on": pa.array([created] * n_customers, pa.timestamp("us")),
    })
    dead_keys = ck[dead].tolist()
    live_keys = ck[~dead]
    lo = _us(dt.datetime(2023, 1, 1))
    batches = []
    for b in range(n_batches):
        n = rows_per_batch
        okey = np.arange(b * n, (b + 1) * n, dtype="int64")
        cust = live_keys[rng.integers(0, len(live_keys), n)]
        status = np.array([("F", "O")[i] for i in rng.integers(0, 2, n)],
                          dtype=object)
        is_dirty = rng.random(n) < 0.05
        status[is_dirty] = "X"
        is_dead = (rng.random(n) < 0.04) & ~is_dirty
        cust[is_dead] = np.array(dead_keys)[rng.integers(0, len(dead_keys),
                                                         int(is_dead.sum()))]
        odate = lo + rng.integers(0, 365, n) * _DAY_US
        orders = pa.table({
            "o_orderkey": okey,
            "o_custkey": cust,
            "o_orderstatus": status.tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n),
            "o_orderdate": _ts(odate),
        })
        picks = rng.permutation(okey)
        k = max(1, n // 50)
        batch = Batch(orders, int(is_dirty.sum()), int(is_dead.sum()),
                      sorted(picks[:k].tolist()), sorted(picks[k:2 * k].tolist()))
        if b % 3 == 0:
            batch.cow_delete_keys = sorted(picks[2 * k:3 * k].tolist())
        batches.append(batch)
    return WritePlan(customers, dead_keys, batches)
