"""Seeded synthetic inputs for the lakehouse benchmark.

Everything here is NumPy + pyarrow, so the inputs are a pure function of
(seed, scale) and are produced before any Spark job runs.

``write_corpus`` lands the TPC-H-shaped corpus the engine's ``catalog.table``
reads (one parquet file per table, the same column names and types as the
engine's test corpus): region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings.  Row counts follow the usual
scale-factor ratios (sf0.1 -> 150k orders, 600k lineitem, 100k events).

``OrdersIncrements`` produces the ``incremental_upsert`` batches and keeps
the key -> amount model the benchmark checks silver orders against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = np.array(
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the".split()
)
PART_ADJ = ["blue", "red", "green", "large", "small", "steel", "brass", "copper"]
PART_NOUN = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "pipe"]
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-02
EVENT_T0_US = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000
EMBED_DIM = 64

# Row counts per unit scale factor (TPC-H ratios; events/documents/
# embeddings follow the engine's test corpus).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
    "users": 15_000,
}


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every scaled table at ``sf`` (at least 10 rows each)."""
    return {k: max(10, int(round(v * sf))) for k, v in ROWS_PER_SF.items()}


def _days_to_ts(days: np.ndarray) -> pa.Array:
    us = (days.astype("int64") + (ORDER_DAY0 - dt.date(1970, 1, 1)).days) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Prices with exactly two decimals, as the engine's corpus has."""
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    lengths = rng.integers(10, 100, n)
    texts: list[str] = []
    for i, k in enumerate(lengths):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few tokens swapped
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = str(WORDS[rng.integers(0, len(WORDS))])
            texts.append(" ".join(toks) + " dup")
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), k)]))
    return {
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    }


def write_corpus(out_dir: str, seed: int, sf: float, bad_order_share: float = 0.0) -> dict:
    """Land the seeded corpus under ``out_dir``; returns the row counts.

    ``bad_order_share`` of the orders rows break the pipeline's
    ``ORDERS_EXPECTATIONS`` (a non-positive price or an unknown status), so
    the Silver build quarantines them.  Their keys are returned under
    ``bad_orderkeys``.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype="int64")),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0),
    })

    no = n["orders"]
    price = _money(rng, 1000.0, 500000.0, no)
    status = rng.choice(STATUSES, no)
    n_bad = int(round(no * bad_order_share))
    bad = np.sort(rng.choice(no, n_bad, replace=False)) if n_bad else np.array([], "int64")
    half = n_bad // 2
    price[bad[:half]] = -price[bad[:half]]
    status[bad[half:]] = "X"
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
        "o_orderstatus": pa.array(status),
        "o_totalprice": pa.array(price),
        "o_orderdate": _days_to_ts(rng.integers(0, ORDER_DAYS, no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), nl)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), nl)),
        "l_shipdate": _days_to_ts(rng.integers(0, ORDER_DAYS + 90, nl)),
    })

    ne = n["events"]
    ts = EVENT_T0_US + np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype="int64")),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne).astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(40.0, ne), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    _write(out_dir, "documents", _documents(rng, n["documents"]))

    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype("int32")),
    })
    return {**n, "bad_orders": n_bad, "bad_orderkeys": bad}


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, a: float = 1.2) -> np.ndarray:
    """``size`` draws in [0, n_items), rank r drawn with weight 1/(r+1)^a."""
    w = 1.0 / np.arange(1, n_items + 1) ** a
    return rng.choice(n_items, size, p=w / w.sum())


class OrdersIncrements:
    """Seeded orders upsert batches plus the model they are checked against.

    A batch mixes updates to existing keys (drawn mostly from the two most
    recent order years) with brand-new keys dated in the latest year;
    customers are Zipf-skewed over a seeded permutation of the customer
    keys.  The model maps every live order key to its price in cents, which
    is exactly what silver's ``amount`` (decimal(18,2)) must sum to.
    """

    def __init__(self, corpus_dir: str, seed: int, batch_rows: int, update_share: float = 0.6):
        orders = pq.read_table(os.path.join(corpus_dir, "orders.parquet")).to_pandas()
        self.rng = np.random.default_rng(seed + 7919)
        self.batch_rows = batch_rows
        self.update_share = update_share
        n_cust = pq.read_metadata(os.path.join(corpus_dir, "customer.parquet")).num_rows
        self.customers = self.rng.permutation(n_cust)
        self.schema = pq.read_schema(os.path.join(corpus_dir, "orders.parquet")).remove_metadata()
        # silver holds only the rows that pass ORDERS_EXPECTATIONS
        ok = (orders.o_totalprice > 0) & orders.o_orderstatus.isin(list(STATUSES))
        orders = orders[ok]
        self.model: dict[int, int] = dict(
            zip(orders.o_orderkey.tolist(), np.round(orders.o_totalprice * 100).astype("int64").tolist())
        )
        days = (orders.o_orderdate.values.astype("datetime64[D]") - np.datetime64(ORDER_DAY0)).astype("int64")
        self.recent_keys = orders.o_orderkey.values[days >= ORDER_DAYS - 730]
        self.old_keys = orders.o_orderkey.values[days < ORDER_DAYS - 730]
        self.next_key = int(orders.o_orderkey.max()) + 10_000_000

    def next_batch(self, path: str) -> int:
        """Write the next batch to ``path`` (parquet); update the model.
        Returns the batch's row count."""
        rng, n = self.rng, self.batch_rows
        n_upd = int(round(n * self.update_share))
        n_recent = int(round(n_upd * 0.8))
        upd = np.unique(np.concatenate([
            rng.choice(self.recent_keys, n_recent, replace=False),
            rng.choice(self.old_keys, n_upd - n_recent, replace=False),
        ]))
        new = np.arange(self.next_key, self.next_key + (n - len(upd)), dtype="int64")
        self.next_key += len(new)
        keys = np.concatenate([upd, new]).astype("int64")
        m = len(keys)
        price = _money(rng, 1000.0, 500000.0, m)
        days = rng.integers(ORDER_DAYS - 365, ORDER_DAYS, m)
        cols = {
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(self.customers[zipf_ranks(rng, len(self.customers), m)].astype("int64")),
            "o_orderstatus": pa.array(rng.choice(STATUSES, m)),
            "o_totalprice": pa.array(price),
            "o_orderdate": _days_to_ts(days),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, m)),
        }
        pq.write_table(pa.table(cols, schema=self.schema), path)
        for k, p in zip(keys.tolist(), np.round(price * 100).astype("int64").tolist()):
            self.model[k] = p
        return m

    def expected(self) -> tuple[int, int]:
        """(live key count, amount sum in cents) silver orders must hold."""
        return len(self.model), sum(self.model.values())
