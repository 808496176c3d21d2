"""The benchmark's workloads.

Each workload is a closed loop with one client: the next op is issued only
after the previous one and its output check have finished.  A workload
exposes

- ``setup()``: lands its seeded inputs and prepares its lake (timed as part
  of ``setup_s``, never as an op);
- ``round(r)``: the ops of round ``r``, each an :class:`Op`.  The runner
  stops at a round boundary, so every run executes the same op mix;
- ``lake_root`` (``None`` when the workload has no lake) for the write and
  space amplification figures.

An op's ``run`` is the only timed part; ``check`` validates its output
afterwards and returns ``None`` or a one-line failure reason.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import checks
import corpus
from tracer import Tracer

from delta_lake_spark.io import serving
from delta_lake_spark.pipeline.medallion import BRONZE_SOURCES, ORDERS_EXPECTATIONS, MedallionPipeline
from delta_lake_spark.queries import ORACLE, QUERIES
from delta_lake_spark.tables import ManagedTable

CLEAN_ORDERS_SQL = " AND ".join(f"({c})" for c in ORDERS_EXPECTATIONS.values())
GOLD_MARTS = {
    "client_stats": "q02_client_stats",
    "daily_metrics": "q03_daily_metrics",
    "fraud_analysis": "q04_fraud_analysis",
}
# Four of the sixteen headline registry queries of the engine's earlier
# bench.py, one from each of the relational (q), text (t), dedup (d) and
# vector (v) families.
QUERY_MIX = [
    "q01_pricing_summary", "t05_winnow_fingerprints", "d06_minhash_lsh_pairs", "v01_cosine_topk",
]

# The lake_scan model's columns and the types the counts are taken in.
MODEL_COLUMNS = {
    "transaction_id": pa.int64(), "transaction_date": pa.date32(),
    "client_id": pa.int64(), "amount": pa.float64(),
    "is_suspicious": pa.bool_(), "currency": pa.string(),
}

# Input sizes per workload; "tiny" is the smoke test's.
SIZES: dict[str, dict[str, dict[str, Any]]] = {
    "medallion_batch": {
        "full": {"sf": 0.01, "bad_order_share": 0.01},
        "tiny": {"sf": 0.001, "bad_order_share": 0.01},
    },
    "incremental_upsert": {
        "full": {"sf": 0.01, "bad_order_share": 0.01, "batch_rows": 300, "log_depth": 26},
        "tiny": {"sf": 0.001, "bad_order_share": 0.01, "batch_rows": 40, "log_depth": 6},
    },
    "lake_scan": {
        "full": {"rows": 100_000, "clients": 5_000, "files": 24, "append_rows": 2_000,
                 "log_depth": 8},
        "tiny": {"rows": 20_000, "clients": 500, "files": 8, "append_rows": 200,
                 "log_depth": 2},
    },
    "query_mix": {
        "full": {"sf": 0.01},
        "tiny": {"sf": 0.001},
    },
}
SIZES["read_mix"] = {
    k: {"lake_scan": SIZES["lake_scan"][k], "query_mix": SIZES["query_mix"][k]} for k in ("full", "tiny")
}


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], "str | None"]
    user_bytes: int = 0  # bytes of user rows the op writes (landed parquet)
    # counts read after a traced op, off the op's clock
    trace_counts: Callable[[], dict[str, float]] | None = None


class Workload:
    name = ""
    warmup_rounds = 1
    writes = False  # whether write_amp applies

    def __init__(self, spark: SparkSession, work: str, seed: int, size: dict, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.lake_root: str | None = None
        self.inputs: dict[str, Any] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def log_table(self) -> str | None:
        """Path of the table whose log the trace reports on."""
        return None

    def _corpus(self, sf: float, bad_share: float = 0.0) -> str:
        d = os.path.join(self.work, "corpus")
        info = corpus.write_corpus(d, self.seed, sf, bad_order_share=bad_share)
        self.inputs.update({"sf": sf, **{k: v for k, v in info.items() if isinstance(v, int)}})
        self.bad_orders = int(info["bad_orders"])
        return d


class MedallionArc:
    """The reference's headline arc over one corpus: ``MedallionPipeline.run()``,
    the Z-order ``optimize`` of silver orders, and an ``export_for_copy`` of
    the three Gold marts; plus the checks of its output."""

    def __init__(self, spark: SparkSession, corpus_dir: str, bad_orders: int):
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.bad_orders = bad_orders
        con = checks.duck_connection(corpus_dir, orders_where=CLEAN_ORDERS_SQL)
        self.want = {m: checks.normalize(con.execute(ORACLE[q]).fetchdf()) for m, q in GOLD_MARTS.items()}
        self.clean_orders = int(con.execute("SELECT count(*) FROM orders").fetchone()[0])
        con.close()
        self.source_bytes = sum(
            os.path.getsize(os.path.join(corpus_dir, f"{t}.parquet")) for t in BRONZE_SOURCES
        )

    def run(self, root: str, serve: str) -> dict:
        p = MedallionPipeline(self.spark, root, self.corpus_dir)
        # validate_silver reconciles silver against every bronze row, so it
        # raises once the quality gate has quarantined any
        p.run(validate=False)
        ManagedTable(self.spark, os.path.join(root, "silver", "orders")).optimize(
            zorder_by=["o_custkey", "amount", "is_priority_large"]
        )
        return {
            mart: serving.export_for_copy(p.read("gold", mart), os.path.join(serve, mart), mart)
            for mart in GOLD_MARTS
        }

    def check(self, root: str, exported: dict) -> str | None:
        p = MedallionPipeline(self.spark, root, self.corpus_dir)
        for mart in GOLD_MARTS:
            got = checks.normalize(p.read("gold", mart).toPandas())
            bad = checks.mismatch(got, self.want[mart])
            if bad:
                return f"gold {mart}: {bad}"
            csv_dir = exported[mart]["data"]
            lines = 0
            for f in os.listdir(csv_dir):
                if f.endswith(".csv"):
                    with open(os.path.join(csv_dir, f)) as fh:
                        lines += sum(1 for _ in fh) - 1  # header
            if lines != len(got[1]):
                return f"export {mart}: {lines} csv rows != {len(got[1])}"
        n_q = p.read("silver", "orders_quarantine").count()
        if n_q != self.bad_orders:
            return f"quarantine holds {n_q} rows, corpus has {self.bad_orders} bad"
        n_s = p.read("silver", "orders").count()
        if n_s != self.clean_orders:
            return f"silver orders {n_s} rows != {self.clean_orders}"
        return None


class MedallionBatch(Workload):
    """One op = a fresh :class:`MedallionArc` over the corpus."""

    name = "medallion_batch"
    writes = True

    def setup(self) -> None:
        corpus_dir = self._corpus(self.size["sf"], self.size["bad_order_share"])
        self.arc = MedallionArc(self.spark, corpus_dir, self.bad_orders)
        self.lake_root = os.path.join(self.work, "lake")
        self.serve_root = os.path.join(self.work, "serve")
        self._live: tuple[str, str] | None = None

    def round(self, r: int) -> list[Op]:
        root = os.path.join(self.lake_root, f"build-{r}")
        serve = os.path.join(self.serve_root, f"build-{r}")

        def check(exported: dict) -> str | None:
            # the previous build is dropped, so the lake holds one at a time
            for old in self._live or ():
                shutil.rmtree(old, ignore_errors=True)
            self._live = (root, serve)
            return self.arc.check(root, exported)

        return [Op("build", lambda: self.arc.run(root, serve), check, user_bytes=self.arc.source_bytes)]

    def log_table(self) -> str | None:
        return os.path.join(self._live[0], "silver", "orders") if self._live else None


class IncrementalUpsert(Workload):
    """Set-up builds the lake once; each op is one seeded
    ``ingest_orders_increment`` batch (silver MERGE + Gold refresh)."""

    name = "incremental_upsert"
    writes = True

    def setup(self) -> None:
        self.corpus_dir = self._corpus(self.size["sf"], self.size["bad_order_share"])
        self.lake_root = os.path.join(self.work, "lake")
        self.landing = os.path.join(self.work, "landing")
        os.makedirs(self.landing, exist_ok=True)
        # the lake is the output of one medallion arc, checked like an op's
        arc = MedallionArc(self.spark, self.corpus_dir, self.bad_orders)
        bad = arc.check(self.lake_root, arc.run(self.lake_root, os.path.join(self.work, "serve")))
        if bad:
            raise RuntimeError(f"set-up medallion arc: {bad}")
        self.pipeline = MedallionPipeline(self.spark, self.lake_root, self.corpus_dir)
        silver = ManagedTable(self.spark, self.silver_path())
        # Metadata-only commits put every run's first op at the same log
        # depth, a few commits before a checkpoint boundary.
        for i in range(self.size["log_depth"]):
            silver.set_property("lakebench.depth", str(i))
        self.incr = corpus.OrdersIncrements(self.corpus_dir, self.seed, self.size["batch_rows"])
        self.inputs.update(batch_rows=self.size["batch_rows"], log_depth=self.size["log_depth"])

    def silver_path(self) -> str:
        return os.path.join(self.lake_root, "silver", "orders")

    def round(self, r: int) -> list[Op]:
        path = os.path.join(self.landing, f"batch-{r}.parquet")
        self.incr.next_batch(path)
        want = self.incr.expected()

        def run() -> None:
            self.pipeline.ingest_orders_increment(self.spark.read.parquet(path))

        def check(_out) -> str | None:
            row = ManagedTable(self.spark, self.silver_path()).read().agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("o_orderkey").alias("keys"),
                F.sum("amount").alias("amount"),
            ).first()
            got = (int(row["n"]), int(row["keys"]), int(round(row["amount"] * 100)))
            if got != (want[0], want[0], want[1]):
                return f"silver (rows, keys, cents) {got} != model {(want[0], want[0], want[1])}"
            return None

        return [Op("upsert", run, check, user_bytes=os.path.getsize(path))]

    def log_table(self) -> str | None:
        return self.silver_path()


class LakeScan(Workload):
    """Selective scans over a Z-ordered, bloom-filtered transactions table
    whose log is much deeper than ``ManagedTable``'s snapshot cache
    (write, Z-order, bloom filters, one append, metadata-only commits).  Each
    op opens a fresh ``ManagedTable``, as ``MedallionPipeline.read`` does."""

    name = "lake_scan"

    def setup(self) -> None:
        from delta_lake_spark.benchmark.ref10m import gen_transactions

        n, clients = self.size["rows"], self.size["clients"]
        self.lake_root = os.path.join(self.work, "lake")
        self.path = os.path.join(self.lake_root, "transactions")
        t = ManagedTable(self.spark, self.path)
        t.write(gen_transactions(self.spark, n, clients, self.seed))
        # the model: a plain parquet read of the files the table just wrote
        base = t.read()
        self.schema = base.schema
        self.cols = self._model_columns(
            pq.ParquetDataset([urlparse(f).path for f in base.inputFiles()]).read(
                columns=list(MODEL_COLUMNS)))
        # files small enough that min/max stats and bloom filters can skip
        t.optimize(
            zorder_by=["transaction_date", "client_id", "is_suspicious"],
            target_file_bytes=max(64 * 1024, t.detail()["size_bytes"] // self.size["files"]),
        )
        # ~10 bits per row of a file, as the engine's default, without the
        # extra job that counts the largest file
        t.add_bloom_filters(["client_id"], bits=max(4096, 1 << (10 * n // self.size["files"]).bit_length()))
        self.version_rows = {v: n for v in range(t.latest_version() + 1)}
        self.clients = 100_000 + self.rng.permutation(clients)
        self.day_lo = self.cols["transaction_date"].min()
        self.day_hi = self.cols["transaction_date"].max()
        # one seeded append of new transactions
        next_id = int(self.cols["transaction_id"].max()) + 1
        m = self.size["append_rows"]
        batch = self._rows(np.arange(next_id, next_id + m))
        t.write(self.spark.createDataFrame(batch, self.schema), mode="append")
        new = self._model_columns(pa.Table.from_pandas(batch[list(MODEL_COLUMNS)]))
        self.cols = {c: np.concatenate([v, new[c]]) for c, v in self.cols.items()}
        self.version_rows[t.latest_version()] = len(self.cols["transaction_id"])
        # metadata-only commits deepen the log past a checkpoint cheaply
        for i in range(self.size["log_depth"]):
            self.version_rows[t.set_property("lakebench.depth", str(i))] = len(self.cols["transaction_id"])
        self.versions = sorted(self.version_rows)
        self.inputs.update(rows=n, clients=clients, versions=len(self.versions),
                           append_rows=m,
                           log_depth=self.size["log_depth"],
                           live_bytes=ManagedTable(self.spark, self.path).detail()["size_bytes"])

    @staticmethod
    def _model_columns(tbl: pa.Table) -> dict[str, np.ndarray]:
        """NumPy columns of the model the expected scan counts come from."""
        return {c: tbl.column(c).cast(t).to_numpy() for c, t in MODEL_COLUMNS.items()}

    def _rows(self, ids: np.ndarray) -> pd.DataFrame:
        """Transactions with the generator's columns for ``ids``, dated in
        the model's range, clients Zipf-skewed."""
        rng, k = self.rng, len(ids)
        span = int((self.day_hi - self.day_lo).astype(int))
        day = self.day_lo + rng.integers(0, span + 1, k).astype("timedelta64[D]")
        secs = rng.integers(0, 86400, k).astype("timedelta64[s]")
        amount = np.round(rng.uniform(1, 10000, k), 2)
        category = rng.choice(["payment", "transfer", "withdrawal", "deposit"], k)
        return pd.DataFrame({
            "transaction_id": ids.astype("int64"),
            "client_id": self.clients_zipf(k),
            "amount": [decimal.Decimal(f"{a:.2f}") for a in amount],
            "currency": rng.choice(["USD", "EUR", "RUB", "CNY"], k),
            "transaction_datetime": pd.to_datetime(day) + pd.to_timedelta(secs),
            "category": category,
            "transaction_date": day.astype(object),
            "is_suspicious": (amount > 5000) & np.isin(category, ["withdrawal", "transfer"]),
        })[self.schema.fieldNames()]

    def clients_zipf(self, k: int) -> np.ndarray:
        return self.clients[corpus.zipf_ranks(self.rng, len(self.clients), k)].astype("int64")

    def _day(self) -> dt.date:
        span = int((self.day_hi - self.day_lo).astype(int))
        return (self.day_lo + np.timedelta64(int(self.rng.integers(0, span + 1)), "D")).astype(dt.date)

    def _filters(self, kind: str) -> list[tuple[str, str, Any]]:
        if kind == "point":
            return [("transaction_date", "=", self._day()), ("client_id", "=", int(self.clients_zipf(1)[0]))]
        if kind == "flag":
            cur = str(self.rng.choice(["USD", "EUR", "RUB", "CNY"]))
            return [("is_suspicious", "=", True), ("currency", "=", cur)]
        if kind == "range":
            d0 = self._day()
            amt = int(self.rng.integers(1000, 9000))
            return [("transaction_date", ">=", d0), ("transaction_date", "<=", d0 + dt.timedelta(days=30)),
                    ("amount", ">", amt)]
        if kind == "in":
            return [("client_id", "in", sorted({int(c) for c in self.clients_zipf(8)}))]
        raise ValueError(kind)

    def _expected(self, filters) -> int:
        """The filters' row count on the head, from the set-up's model."""
        mask = np.ones(len(self.cols["transaction_id"]), dtype=bool)
        for col, op, val in filters:
            c = self.cols[col]
            if isinstance(val, dt.date):
                val = np.datetime64(val, "D")
            mask &= {
                "=": lambda: c == val, ">": lambda: c > val,
                ">=": lambda: c >= val, "<=": lambda: c <= val,
                "in": lambda: np.isin(c, val),
            }[op]()
        return int(mask.sum())

    def round(self, r: int) -> list[Op]:
        kinds = ["point", "flag", "range", "in", "time_travel"]
        ops = []
        for kind in self.rng.permutation(kinds):
            kind = str(kind)
            if kind == "time_travel":
                v = int(self.rng.choice(self.versions))
                ops.append(self._travel_op(v))
            else:
                ops.append(self._scan_op(kind, self._filters(kind)))
        return ops

    def _scan_op(self, kind: str, filters) -> Op:
        want = self._expected(filters)

        def run() -> int:
            df = ManagedTable(self.spark, self.path).scan(filters)
            with self.tracer.span("tables.scan.exec"):
                return df.count()

        def pruning() -> dict[str, float]:
            kept, total = ManagedTable(self.spark, self.path).pruned_file_count(filters)
            return {"tables.scan.files_kept": kept, "tables.scan.files_total": total}

        return Op(kind, run, lambda n: None if n == want else f"{kind} {filters}: {n} rows != {want}",
                  trace_counts=pruning)

    def _travel_op(self, v: int) -> Op:
        want = self.version_rows[v]

        def run() -> int:
            df = ManagedTable(self.spark, self.path).read(version=v)
            with self.tracer.span("tables.scan.exec"):
                return df.count()

        return Op("time_travel", run, lambda n: None if n == want else f"version {v}: {n} rows != {want}")

    def log_table(self) -> str | None:
        return self.path


class QueryMix(Workload):
    """Registry queries over the corpus, in seeded order; each result is
    checked against its DuckDB oracle answer."""

    name = "query_mix"

    def setup(self) -> None:
        self.corpus_dir = self._corpus(self.size["sf"])
        con = checks.duck_connection(self.corpus_dir)
        self.want = {q: checks.normalize(con.execute(ORACLE[q]).fetchdf()) for q in QUERY_MIX}
        con.close()
        self.inputs["queries"] = len(QUERY_MIX)

    def round(self, r: int) -> list[Op]:
        return [self._op(str(q)) for q in self.rng.permutation(QUERY_MIX)]

    def _op(self, q: str) -> Op:
        family = q[0]

        def run() -> pd.DataFrame:
            with self.tracer.span(f"queries.{family}.plan"):
                df = QUERIES[q](self.spark, self.corpus_dir)
            with self.tracer.span(f"queries.{family}.exec"):
                return df.toPandas()

        def check(pdf: pd.DataFrame) -> str | None:
            bad = checks.mismatch(checks.normalize(pdf), self.want[q])
            return f"{q}: {bad}" if bad else None

        return Op(q, run, check)


class ReadMix(Workload):
    """``lake_scan``'s scans and ``query_mix``'s queries from one client.  A
    round is four ``lake_scan`` rounds and one ``query_mix`` round,
    shuffled together; the warm-up round has one ``lake_scan`` round, which
    runs every plan shape once.  Both inputs are prepared in one session, so
    a run pays the JVM's start and its first-job warm-up once for both read
    paths."""

    name = "read_mix"
    scan_rounds = 4

    def __init__(self, spark: SparkSession, work: str, seed: int, size: dict, tracer: Tracer):
        super().__init__(spark, work, seed, size, tracer)
        self.scan = LakeScan(spark, os.path.join(work, "scan"), seed, size["lake_scan"], tracer)
        self.query = QueryMix(spark, os.path.join(work, "query"), seed, size["query_mix"], tracer)

    def setup(self) -> None:
        self.scan.setup()
        self.query.setup()
        self.lake_root = self.scan.lake_root
        self.inputs = {"lake_scan": self.scan.inputs, "query_mix": self.query.inputs}

    def round(self, r: int) -> list[Op]:
        scan_rounds = 1 if r < self.warmup_rounds else self.scan_rounds
        ops = [op for i in range(scan_rounds) for op in self.scan.round(i)]
        ops += self.query.round(r)
        return [ops[i] for i in self.rng.permutation(len(ops))]

    def log_table(self) -> str | None:
        return self.scan.log_table()


WORKLOADS = {w.name: w for w in (MedallionBatch, IncrementalUpsert, LakeScan, QueryMix, ReadMix)}
