"""Incremental near-dup dedup index (ops/dedup_index.py): batchwise
ingestion must reproduce the one-shot greedy dedup (d09) exactly."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from delta_lake_spark.catalog import table
from delta_lake_spark.ops.dedup_index import IncrementalDedupIndex
from delta_lake_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def test_batchwise_equals_one_shot_d09(spark, tmp_path):
    docs = table(spark, SF_SMOKE, "documents")
    want = {r.doc_id for r in QUERIES["d09_near_dedup_survivors"](spark, SF_SMOKE).collect()}

    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    got: set[int] = set()
    for lo, hi in ((0, 160), (160, 340), (340, 10**9)):
        batch = docs.filter(f"doc_id >= {lo} AND doc_id < {hi}")
        got |= {r.doc_id for r in idx.add_batch(batch, "doc_id", "text").collect()}
    assert got == want


def test_drops_against_dropped_and_within_batch(spark, tmp_path):
    txt = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        Row(doc_id=1, text=txt),
        Row(doc_id=2, text=txt),          # dup of 1 (same batch) -> dropped
        Row(doc_id=3, text="totally different words here entirely now yes"),
    ]
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    s1 = {r.doc_id for r in idx.add_batch(spark.createDataFrame(rows), "doc_id", "text").collect()}
    assert s1 == {1, 3}
    # doc 4 dups the DROPPED doc 2's text: still dropped (greedy rule keys
    # on any earlier doc, not on survivors)
    s2 = {
        r.doc_id
        for r in idx.add_batch(
            spark.createDataFrame([Row(doc_id=4, text=txt)]), "doc_id", "text"
        ).collect()
    }
    assert s2 == set()
    assert idx.seen_hwm() == 4


def test_out_of_order_batch_rejected(spark, tmp_path):
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    idx.add_batch(
        spark.createDataFrame([Row(doc_id=10, text="one two three four")]),
        "doc_id", "text",
    )
    with pytest.raises(ValueError, match="high-water"):
        idx.add_batch(
            spark.createDataFrame([Row(doc_id=5, text="five six seven eight")]),
            "doc_id", "text",
        )


def test_short_docs_excluded_like_d09(spark, tmp_path):
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    out = idx.add_batch(
        spark.createDataFrame(
            [Row(doc_id=1, text="just two"), Row(doc_id=2, text="a b c d")]
        ),
        "doc_id", "text",
    )
    assert {r.doc_id for r in out.collect()} == {2}


# 1 and 2 share every normalized token (Jaccard 10000) but 1 is ONE raw
# token; 3 is three raw tokens but two normalized ones (no shingle).
GATE_DOCS = [
    (1, "alpha.beta.gamma.delta.epsilon.zeta"),
    (2, "alpha beta gamma delta epsilon zeta"),
    (3, "x !!! y"),
]


@pytest.mark.parametrize("batches", [[[1, 2, 3]], [[1], [2], [3]]], ids=["one", "per_doc"])
def test_graph_and_keep_gates_match_d09(spark, tmp_path, batches):
    """The graph is the docs with a shingle (1, 2), the keep set the docs
    with >= 3 raw tokens (2, 3): 1 is never kept but still evicts its dup
    2, so d09 keeps {3} and so must the index."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [i for i, _ in GATE_DOCS],
                "lang": ["en"] * len(GATE_DOCS),
                "text": [t for _, t in GATE_DOCS],
            }
        ),
        corpus / "documents.parquet",
    )
    want = {r.doc_id for r in QUERIES["d09_near_dedup_survivors"](spark, str(corpus)).collect()}
    assert want == {3}

    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    got: set[int] = set()
    for ids in batches:
        batch = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in GATE_DOCS if i in ids])
        got |= {r.doc_id for r in idx.add_batch(batch, "doc_id", "text").collect()}
    assert got == want


def test_shingle_less_docs_do_not_pair(spark, tmp_path):
    """Two docs with >= 3 raw but < 3 normalized tokens have no shingles:
    they must not meet as candidates (an all-NULL signature's band keys
    are all '', and their Jaccard union is 0 — DIVIDE_BY_ZERO under ANSI).
    Both are in the keep set and near-dup nothing, so both survive."""
    idx = IncrementalDedupIndex(spark, str(tmp_path / "idx"))
    batch = spark.createDataFrame(
        [Row(doc_id=1, text="x !!! y"), Row(doc_id=2, text="p ??? q"),
         Row(doc_id=3, text="one two three four")]
    )
    assert {r.doc_id for r in idx.add_batch(batch, "doc_id", "text").collect()} == {1, 2, 3}
