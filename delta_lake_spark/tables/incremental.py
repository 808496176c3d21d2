"""Batch-incremental processing patterns (SURVEY.md §2.9 / §3.3).

The reference implements incrementality as four batch patterns rather than
streaming; this module packages them as reusable utilities over
:class:`~delta_lake_spark.tables.managed.ManagedTable`:

1. **High-water mark** — ``agg(max(watermark_col))`` on the target decides
   the next fetch window (deltalake.ipynb:1495-1502).
2. **Insert-only dedup merge** — append new rows keyed on an id, dropping
   rows whose key already exists (``whenNotMatchedInsertAll``,
   deltalake.ipynb:1786-1791).
3. **Batched upsert** — modulo-bucketed MERGE (deltalake.ipynb:2937-2946)
   via :meth:`ManagedTable.merge_in_batches`.
4. **Anti-join append** — append only rows whose key is absent, computed as
   a left_anti join against the target's key projection
   (deltalake.ipynb:3227-3243).

All four are pure metadata-plus-join plans: nothing collects data rows to
the driver except the single high-water-mark scalar.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delta_lake_spark.tables.managed import ManagedTable


def high_water_mark(table: ManagedTable, col: str) -> Any:
    """Max of ``col`` in the current snapshot, or None for an empty table.

    One scalar crosses to the driver; the scan itself is distributed and
    benefits from partition pruning when ``col`` is the partition key.
    """
    row = table.read().agg(F.max(F.col(col)).alias("hwm")).first()
    return None if row is None else row["hwm"]


def insert_only_merge(
    table: ManagedTable, source: DataFrame, keys: list[str]
) -> int:
    """Dedup-on-append: insert source rows whose key is not present
    (Delta ``whenNotMatchedInsertAll``)."""
    return table.merge(
        source, keys, when_matched="ignore", when_not_matched="insert_all"
    )


def anti_join_append(
    table: ManagedTable, source: DataFrame, keys: list[str]
) -> int:
    """Append rows for keys the target has never seen.

    Same net effect as :func:`insert_only_merge` but implemented the way
    the reference's Gold refresh does it (anti-join then plain ``append``):
    no target rewrite at all — the cheapest possible incremental write when
    the target is append-only (e.g. date-keyed daily marts).

    Precondition: the source is append-only per key — rows under a key
    that has already landed never change.  A key already in the target is
    never revisited, so a later correction to its rows (an updated or moved
    order feeding an aggregate) is silently dropped; a source whose landed
    keys can change needs a MERGE or a recompute-and-replace instead.

    Keys compare NULL-SAFELY: under plain SQL equality a NULL key "never
    exists", so a NULL-keyed row (e.g. the out-of-range date bucket of a
    daily mart) would re-append on EVERY run — unbounded duplicate growth
    for an operator whose whole contract is idempotent incrementality
    (found live in the ref10m repeat-save, r5).

    The existing-side key columns are RENAMED before the join (ADVICE r5):
    when the caller derives ``source`` from this same table's ``read()``
    (shared lineage), ``source[k]``/``existing[k]`` resolve to the same
    attribute and Spark raises an ambiguous/trivially-true join analysis
    error; distinct right-side names make the eqNullSafe condition
    unambiguous regardless of lineage.
    """
    renamed = {k: f"_aj_{k}" for k in keys}
    existing = (
        table.read()
        .select(*[F.col(k).alias(renamed[k]) for k in keys])
        .distinct()
    )
    cond = None
    for k in keys:
        c = source[k].eqNullSafe(existing[renamed[k]])
        cond = c if cond is None else (cond & c)
    fresh = source.join(existing, cond, "left_anti")
    return table.write(fresh, mode="append")


def apply_changes(
    target: ManagedTable,
    source: ManagedTable,
    keys: list[str],
    last_version: int,
) -> int:
    """CDC propagation: replay the source's change feed since
    ``last_version`` onto ``target`` so it mirrors the source snapshot —
    the downstream-consumer half of the change feed (Delta CDF's
    ``readChangeFeed`` + ``foreachBatch`` merge pattern, here as the
    reference-style batch-incremental equivalent).

    Uses ``changes(include_change_type=True)``: post-image rows upsert;
    delete pre-images whose key was not re-inserted later in the range
    merge with ``when_matched='delete'``.  Upserting a post-image twice is
    idempotent, so retrying after a failure is safe (at-least-once
    consumer contract).  Returns the source version now reflected; feed it
    back as ``last_version`` on the next call.
    """
    upto = source.latest_version() or 0
    if upto <= last_version:
        return upto
    ch = source.changes(
        last_version, upto, include_change_type=True
    ).persist()
    try:
        ins = ch.filter(F.col("_change_type") == "insert").drop("_change_type")
        dels = (
            ch.filter(F.col("_change_type") == "delete")
            .drop("_change_type")
            .join(ins.select(*keys).distinct(), keys, "left_anti")
        )
        # merge_schema=True: when the SOURCE table evolved inside the
        # replayed range, the mirror evolves with it — without it the
        # upsert would silently project the new columns away (CDC data
        # loss), the exact failure mode evolution exists to prevent.
        # A first-run consumer (no mirror yet) bootstraps with a plain
        # write of the post-images.
        if ManagedTable.is_managed_table(target.path):
            target.merge(ins, keys, merge_schema=True)
        else:
            target.write(ins)
        if dels.limit(1).count():
            target.merge(
                dels, keys, when_matched="delete", when_not_matched="ignore"
            )
    finally:
        ch.unpersist()
    return upto


def external_source_refresh(
    spark,
    bronze: ManagedTable,
    silver: ManagedTable,
    fetch_fn,
    date_col: str = "date",
    value_cols: list[str] | None = None,
    schema=None,
) -> dict:
    """The reference's external-API top-up loop (deltalake.ipynb:1495-1588),
    composed from the engine's incremental primitives with an injectable
    fetcher:

    1. **HWM read** — ``max(date_col)`` of the Silver snapshot (one scalar
       to the driver); ``None`` for a fresh lake.
    2. **Fetch** — ``fetch_fn(start)`` returns a pandas DataFrame of rows
       with ``date_col >= start`` (``start`` is HWM + 1 day, or ``None`` to
       mean "from the beginning").  In production this wraps the external
       API (the reference uses yfinance); tests inject a canned fetcher —
       the composition, not the HTTP call, is the operator.
    3. **Bronze append, insert-only** — fetched rows cross the pandas→Spark
       boundary (S5) and anti-join-append into Bronze keyed on
       ``date_col``, so a sloppy fetcher returning overlapping windows
       cannot duplicate rows and a re-run is a no-op (idempotent).
    4. **Silver rebuild** — full date spine over Bronze's range, left join,
       forward-fill each value column, day-over-day change columns,
       overwrite Silver (the reference rebuilds the whole daily series; it
       is bounded by calendar days, not fact rows, so "full" is tiny).

    Returns ``{"hwm", "fetched", "appended", "rebuilt"}``.  Steps 3-4 are
    skipped entirely when the fetch returns nothing new.
    """
    from datetime import timedelta

    from delta_lake_spark.io.readers import from_pandas
    from delta_lake_spark.ops.windows import date_spine, diff_cols, gap_fill

    hwm = (
        high_water_mark(silver, date_col)
        if ManagedTable.is_managed_table(silver.path)
        else None
    )
    start = None if hwm is None else hwm + timedelta(days=1)
    pdf = fetch_fn(start)
    out = {"hwm": hwm, "fetched": 0, "appended": 0, "rebuilt": False}
    if pdf is None or len(pdf) == 0:
        return out
    out["fetched"] = len(pdf)

    new_rows = from_pandas(spark, pdf, schema)
    if ManagedTable.is_managed_table(bronze.path):
        before = bronze.read().count()
        anti_join_append(bronze, new_rows, [date_col])
        out["appended"] = bronze.read().count() - before
    else:
        bronze.write(new_rows)
        out["appended"] = out["fetched"]
    if out["appended"] == 0:
        return out

    raw = bronze.read()
    cols = value_cols or [c for c in raw.columns if c != date_col]
    spine = date_spine(raw, date_col, alias=date_col)
    series = spine.join(raw, date_col, "left")
    # Global (unpartitioned) window is safe here by construction: the series
    # has one row per calendar day — thousands of rows at most, not a fact
    # table (same reasoning as the reference's daily rates series).
    series = gap_fill(series, cols, order_by=[date_col])
    series = diff_cols(series, cols, order_by=[date_col])
    silver.write(series)
    out["rebuilt"] = True
    return out


def incremental_refresh(
    table: ManagedTable,
    source: DataFrame,
    keys: list[str],
    n_batches: int = 1,
) -> list[int]:
    """Full upsert refresh; splits into modulo batches when the source is
    large (the reference's OOM mitigation, deltalake.ipynb:2937-2946)."""
    if n_batches <= 1:
        return [table.merge(source, keys)]
    return table.merge_in_batches(source, keys, n_batches)


def near_dedup_ingest(
    table: ManagedTable,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_jaccard_bp: int = 8000,
) -> int:
    """Incremental near-duplicate-free ingest: append only the batch docs
    that near-duplicate neither the EXISTING corpus nor a lower-id batch
    doc (d09's one-pass greedy rule, applied incrementally).

    The survivors table CARRIES its MinHash signature column (``_sig``,
    16 ints/row) — new batches candidate-join against stored signatures,
    so the existing corpus is never re-tokenized; exact-Jaccard
    verification re-shingles only the candidate doc pairs.  Per batch the
    cost is O(batch) map-side + band-bucket joins + O(candidates)
    verification — the corpus-scale incremental dedup shape.

    Invariants (tested): single-batch ingest == the batch ``near_dedup``;
    re-ingest is a no-op; the table NEVER contains a verified near-dup
    pair.  NOTE the greedy rule is order-dependent across batches (a doc
    admitted yesterday keeps out today's near-dup, even if a global rerun
    would have picked today's) — the standard streaming-dedup contract.

    Docs with fewer than 3 tokens have no shingles and are excluded (route
    them through :func:`insert_only_merge` on an exact fingerprint).
    Returns the number of rows appended.
    """
    from delta_lake_spark.functions.dedup_sql import (
        band_keys_sql,
        hashed_shingles_sql,
        minhash_sig_sql,
        token_shingles_sql,
    )

    def sig_of(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_sh", F.expr(token_shingles_sql(text_col)))
            .withColumn("_hs", F.expr(hashed_shingles_sql("_sh")))
            .withColumn("_sig", F.expr(minhash_sig_sql("_hs")))
            .drop("_hs")
        )

    def bands_of(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(idc), F.explode(F.expr(band_keys_sql("_sig"))).alias("_bk")
        )

    def verified(cand: DataFrame, left: DataFrame, right: DataFrame) -> DataFrame:
        """cand(_new, _old) pairs whose exact shingle-Jaccard clears the
        threshold; shingles come from the (small) candidate sides only."""
        pairs = cand.join(
            left.select(F.col(id_col).alias("_new"), F.col("_sh").alias("_sha")), "_new"
        ).join(
            right.select(F.col(id_col).alias("_old"), F.col("_sh").alias("_shb")), "_old"
        )
        inter = F.size(F.array_intersect("_sha", "_shb"))
        union = F.size("_sha") + F.size("_shb") - inter
        return pairs.filter(
            F.floor(inter * 10000 / union).cast("long") >= min_jaccard_bp
        ).select("_new")

    prepped = sig_of(
        batch.filter(F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= 3)
    ).persist()
    empty = table.latest_version() is None
    if not empty:
        existing = table.read()
        prepped_new = prepped.join(
            existing.select(id_col), id_col, "left_anti"
        ).persist()
    else:
        prepped_new = prepped
    nb = bands_of(prepped_new, id_col)

    losers = None
    if not empty:
        eb = bands_of(existing, id_col)
        cand_ext = (
            nb.alias("n")
            .join(eb.alias("e"), F.col("n._bk") == F.col("e._bk"))
            .select(
                F.col(f"n.{id_col}").alias("_new"), F.col(f"e.{id_col}").alias("_old")
            )
            .dropDuplicates(["_new", "_old"])
        )
        ex_sh = existing.withColumn("_sh", F.expr(token_shingles_sql(text_col)))
        losers = verified(cand_ext, prepped_new, ex_sh)
    cand_int = (
        nb.alias("a")
        .join(
            nb.alias("b"),
            (F.col("a._bk") == F.col("b._bk"))
            & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("_new"), F.col(f"b.{id_col}").alias("_old"))
        .dropDuplicates(["_new", "_old"])
    )
    int_losers = verified(cand_int, prepped_new, prepped_new)
    losers = int_losers if losers is None else losers.unionByName(int_losers)

    survivors = prepped_new.join(
        losers.distinct().withColumnRenamed("_new", id_col), id_col, "left_anti"
    ).drop("_sh")
    n = survivors.count()
    if n:
        table.write(survivors, mode="append")
    prepped.unpersist()
    return n
