"""Incremental near-dup dedup index: batch-by-batch corpus maintenance.

The corpus-scale near-dedup queries (d06/d09, functions/dedup.py) process a
FULL corpus per run.  A 100 TB ingestion pipeline cannot re-shingle 100 TB
to admit tonight's 100 GB — it needs an index that answers "does this new
document near-dup anything already seen?" touching only the new batch plus
bucket-matched candidates.  This is that index, persisted as two managed
tables:

- ``sigs``   — (doc id, shingle set, signature) for EVERY graph document
  ever seen,
- ``bands``  — (doc id, LSH band key) rows, the join-reducer.

``add_batch`` runs the batch through the MinHash-LSH stages of
functions/dedup.py: signatures for the new batch only, candidates via
band-key equi-joins (batch x batch and batch x index — never all-pairs),
exact shingle Jaccard on candidates only; then it appends the batch's
signatures (dropped docs included).  Semantics are d09's greedy rule with
d09's two gates.  The dedup GRAPH is every document with a shingle (>= 3
normalized tokens, the one gate of ``_signatures``); the KEEP set is every
document with >= 3 raw tokens.  A document is dropped iff it near-dups ANY
lower-id graph document, even one that was itself dropped or is outside
the keep set — so processing the corpus in id-ordered batches yields the
same survivor set as the one-shot query (tests/test_dedup_index.py checks
batchwise == d09).

Scale notes: per batch, the expensive map-side shingling runs over new docs
only; the index side is touched through (a) one band-key equi-join against
the bands table and (b) one candidate-only join against sigs — both prunable
by the band/bucket key, neither proportional to corpus size in shuffle
volume.  The id-ordering precondition is guarded (one scalar high-water-mark
read), because out-of-order ingestion would change which side of a pair is
"earlier" and silently diverge from the batch semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_spark.functions.dedup import _band_rows, _batch_losers, _signatures
from delta_lake_spark.tables.managed import ManagedTable


class IncrementalDedupIndex:
    def __init__(self, spark: SparkSession, path: str, min_jaccard_bp: int = 8000) -> None:
        self.spark = spark
        self.min_jaccard_bp = min_jaccard_bp
        self.sigs = ManagedTable(spark, f"{path}/sigs")
        self.bands = ManagedTable(spark, f"{path}/bands")

    def _exists(self) -> bool:
        return ManagedTable.is_managed_table(self.sigs.path)

    def seen_hwm(self):
        """Highest doc id in the dedup graph so far (None for an empty index)."""
        if not self._exists():
            return None
        row = self.sigs.read().agg(F.max("_id").alias("h")).first()
        return None if row is None else row["h"]

    def add_batch(
        self, docs: DataFrame, id_col: str, text_col: str
    ) -> DataFrame:
        """Ingest one id-ordered batch; returns the batch's surviving rows
        (original columns): those with >= 3 raw tokens that near-dup no
        earlier doc.  Appends the signatures of ALL the batch's graph docs
        to the index — the greedy rule drops against every earlier doc,
        surviving or not."""
        # a landing batch is typically one file = one input split; the
        # shingle+minhash map is the expensive stage, so spread it across
        # the cluster first (the catalog.table_parallel discipline)
        par = self.spark.sparkContext.defaultParallelism
        base = _signatures(docs.repartition(par, id_col), id_col, text_col).persist()
        banded = _band_rows(base).persist()

        hwm = self.seen_hwm()
        if hwm is not None:
            low = base.agg(F.min("_id").alias("m")).first()["m"]
            if low is not None and low <= hwm:
                raise ValueError(
                    f"add_batch: batch ids must be strictly above the "
                    f"index high-water mark ({low} <= {hwm}); out-of-order "
                    "ingestion changes greedy-dedup semantics — rebuild "
                    "instead"
                )
        earlier = None if hwm is None else (self.bands.read(), self.sigs.read(), "_sh")
        dropped = _batch_losers(base, banded, self.min_jaccard_bp, earlier)
        keep = docs.filter(F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= 3)
        survivors = keep.join(dropped, keep[id_col] == dropped["id_b"], "left_anti")

        mode = "append" if self._exists() else "overwrite"
        self.sigs.write(base.select("_id", "_sh", "_sig"), mode=mode)
        self.bands.write(banded.select("_id", "_bk"), mode=mode)
        base.unpersist()
        banded.unpersist()
        return survivors
