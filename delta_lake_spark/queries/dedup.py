"""Near-duplicate detection queries: MinHash+LSH and SimHash over documents.

The oracle SQL is *generated* from the same seeded MinHash coefficients and
polynomial shingle hash as functions/dedup_sql.py, so DuckDB reproduces the
signatures, buckets, and verified Jaccard values exactly (integer-only math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from delta_lake_spark.catalog import table, table_parallel
from delta_lake_spark.functions.dedup import (
    _band_pairs,
    _band_rows,
    _jaccard,
    _shingle_sets,
    _signatures,
    minhash_candidate_pairs,
    simhash32,
)
from delta_lake_spark.functions.dedup_sql import (
    MINHASH_BAND_SIZE,
    MINHASH_COEFFS,
    MINHASH_K,
    MINHASH_PRIME,
    hashed_shingles_sql,
    token_shingles_sql,
)
from delta_lake_spark.queries.registry import register
from delta_lake_spark.queries.text import _NORM_SQL, _NTOK_SQL

_POLY = [31**p for p in range(7, -1, -1)]


def _hash_sql(var: str) -> str:
    """DuckDB mirror of dedup_sql.shingle_hash_sql."""
    return "(" + " + ".join(
        f"ascii(substr({var}, {i}, 1))::BIGINT * {c}" for i, c in enumerate(_POLY, start=1)
    ) + ")"


_SHINGLES_SQL = f"""
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM (SELECT doc_id, {_NTOK_SQL} AS toks FROM documents)
  WHERE len(toks) >= 3
"""

_SIG_COLS = ", ".join(
    f"list_min(list_transform(sh, s -> ({a} * {_hash_sql('s')} + {b}) % {MINHASH_PRIME})) AS s{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)

_N_BANDS = MINHASH_K // MINHASH_BAND_SIZE
_BAND_SELECTS = "\nUNION ALL\n".join(
    "SELECT doc_id, {b} AS band, {key} AS key FROM sigs".format(
        b=b,
        key=" || '-' || ".join(
            f"s{b * MINHASH_BAND_SIZE + j}::VARCHAR" for j in range(MINHASH_BAND_SIZE)
        ),
    )
    for b in range(_N_BANDS)
)


# ---------------------------------------------------------------------------
# d06 — MinHash+LSH near-dup candidates with exact shingle-Jaccard verify
# ---------------------------------------------------------------------------
@register(
    "d06_minhash_lsh_pairs",
    oracle=f"""
WITH base AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, sh, {_SIG_COLS} FROM base),
banded AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       len(list_intersect(x.sh, y.sh)) AS inter_size,
       len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)) AS union_size,
       CAST(FLOOR(len(list_intersect(x.sh, y.sh)) * 10000.0 /
            (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))) AS BIGINT) AS jaccard_bp
FROM cand JOIN base x ON x.doc_id = id_a JOIN base y ON y.doc_id = id_b
ORDER BY id_a, id_b
""",
)
def d06_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graph membership (>=3 NORMALIZED tokens, matching the oracle's
    # _SHINGLES_SQL) is enforced inside minhash_candidate_pairs; a raw-token
    # pre-filter here would diverge on punctuation-joined text ('a.b.c').
    docs = table_parallel(spark, sf_dir, "documents", "doc_id")
    return minhash_candidate_pairs(docs, "doc_id", "text").orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# d07 — SimHash fingerprints per document (32-bit, integer-deterministic)
# ---------------------------------------------------------------------------
_H = _hash_sql("t")
_BITSUMS = ", ".join(
    f"list_sum(list_transform(hs, h -> ((h >> {k}) & 1) * 2 - 1)) AS bs{k}" for k in range(32)
)
_SIMHASH_EXPR = " + ".join(f"CASE WHEN bs{k} > 0 THEN {2**k} ELSE 0 END" for k in range(32))


@register(
    "d07_simhash",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_distinct({_NTOK_SQL}), t -> {_H}) AS hs
  FROM documents
),
bits AS (SELECT doc_id, {_BITSUMS} FROM toks)
SELECT doc_id, CAST({_SIMHASH_EXPR} AS BIGINT) AS simhash
FROM bits
ORDER BY doc_id
""",
)
def d07_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table_parallel(spark, sf_dir, "documents", "doc_id")
    return d.select("doc_id", simhash32("text").alias("simhash")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# d08 — exact character-3-gram Jaccard over a bounded candidate set (the
# re-rank stage of the dedup family; full-corpus variant is d06's LSH)
# ---------------------------------------------------------------------------
@register(
    "d08_ngram_jaccard",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(length({_NORM_SQL}) - 2, 0) + 1),
             i -> substr({_NORM_SQL}, i, 3))) AS gr
  FROM documents WHERE doc_id < 100
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.gr, b.gr)) AS inter_size,
       len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr)) AS union_size,
       CAST(FLOOR(len(list_intersect(a.gr, b.gr)) * 10000.0 /
            (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr)))) AS BIGINT) AS jaccard_bp
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(a.gr) > 0 AND len(b.gr) > 0
  AND FLOOR(len(list_intersect(a.gr, b.gr)) * 10000.0 /
      (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr)))) >= 1500
ORDER BY id_a, id_b
""",
)
def d08_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.functions.dedup import ngram_jaccard_pairs

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, min_jaccard_bp=1500).orderBy(
        "id_a", "id_b"
    )


# ---------------------------------------------------------------------------
# d09 — greedy near-dedup: surviving corpus after dropping every doc with a
# lower-id near-dup above threshold (one LSH pass + anti-join)
# ---------------------------------------------------------------------------
@register(
    "d09_near_dedup_survivors",
    oracle=f"""
WITH base AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, sh, {_SIG_COLS} FROM base),
banded AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b
  FROM cand JOIN base x ON x.doc_id = id_a JOIN base y ON y.doc_id = id_b
  WHERE FLOOR(len(list_intersect(x.sh, y.sh)) * 10000.0 /
        (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))) >= 8000
)
SELECT d.doc_id, d.lang
FROM documents d
WHERE len(regexp_split_to_array(trim(d.text), '\\s+')) >= 3
  AND d.doc_id NOT IN (SELECT id_b FROM verified)
ORDER BY d.doc_id
""",
)
def d09_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.functions.dedup import near_dedup

    # keep-set gate is RAW token count (matches the oracle's outer WHERE),
    # but the dedup GRAPH spans all documents with >=3 NORMALIZED tokens
    # (the oracle's _SHINGLES_SQL) — the two counts diverge on punctuation-
    # joined text, so the graph is passed separately via graph_docs.
    docs_all = table_parallel(spark, sf_dir, "documents", "doc_id")
    keepable = docs_all.filter(
        F.size(F.split(F.trim(F.col("text")), r"\s+")) >= 3
    )
    return (
        near_dedup(
            keepable, "doc_id", "text", min_jaccard_bp=8000, graph_docs=docs_all
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d10 — transitive dedup clusters: connected components (iterative label
# propagation) over the verified near-dup pairs.  The Spark side is
# iterative (label propagation to fixpoint); the oracle expresses the same
# fixpoint as a DuckDB RECURSIVE CTE computing the reachability closure —
# component = min reachable id, exactly the propagation invariant.  (Round 4:
# upgraded from rows-only to a full hash-checked oracle; the closure is
# O(cluster_size^2) per cluster, fine for an oracle because near-dup
# clusters are tiny — the Spark side stays O(E) per round for scale.)
# ---------------------------------------------------------------------------
@register(
    "d10_dedup_clusters",
    oracle=f"""
WITH RECURSIVE base AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, sh, {_SIG_COLS} FROM base),
banded AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN base x ON x.doc_id = id_a JOIN base y ON y.doc_id = id_b
  WHERE CAST(FLOOR(len(list_intersect(x.sh, y.sh)) * 10000.0 /
        (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))) AS BIGINT)
        >= 8000
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(src, node) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, MIN(src) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS cluster_size, MAX(node) AS max_id
FROM comp GROUP BY component ORDER BY component
""",
)
def d10_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.functions.dedup import connected_components

    # graph membership (normalized token count) enforced inside
    # minhash_candidate_pairs — see d06
    docs = table_parallel(spark, sf_dir, "documents", "doc_id")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text").filter(
        F.col("jaccard_bp") >= 8000
    )
    comps = connected_components(pairs)
    return (
        comps.groupBy("component")
        .agg(F.count("*").alias("cluster_size"), F.max("id").alias("max_id"))
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# d12 — SimHash near-dup PAIRS via byte banding (completes d07, which only
# computes signatures): the 32-bit simhash splits into 4 byte bands; docs
# sharing any band byte become candidates (pigeonhole: any pair within
# Hamming distance 3 shares at least one exact byte, so recall at the
# classic <=3 threshold is 100%); exact Hamming distance verifies.  The
# threshold is the classic 3 — exactly the regime the byte-band pigeonhole
# guarantees full recall for.  (Earlier corpus generations had no planted
# near-dups and used a loose demo threshold of 8; the current corpus has
# real near-dup mass, where 8 admits ~36% of ALL pairs as candidates —
# a recall-free regime no SimHash deployment would run at.)  Same scale
# contract as d06: only (id, band, key) equi-joins, never an all-pairs
# comparison.
# ---------------------------------------------------------------------------
_D12_THRESHOLD = 3


@register(
    "d12_simhash_near_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_distinct({_NTOK_SQL}), t -> {_H}) AS hs
  FROM documents
),
bits AS (SELECT doc_id, {_BITSUMS} FROM toks),
sigs AS (SELECT doc_id, CAST({_SIMHASH_EXPR} AS BIGINT) AS sig FROM bits),
bands AS (
  SELECT doc_id, sig, r.range AS band, (sig >> (r.range * 8)) & 255 AS key
  FROM sigs, range(4) r
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, bit_count(xor(sa.sig, sb.sig)) AS hamming
FROM cand c
JOIN sigs sa ON sa.doc_id = c.id_a
JOIN sigs sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.sig, sb.sig)) <= {_D12_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def d12_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table_parallel(spark, sf_dir, "documents", "doc_id")
    # simhash32 is the expensive stage (32 bit-sum passes per doc); persist
    # so both sides of the band self-join share one computation (the d06
    # persisted-signatures pattern).
    sigs = d.select("doc_id", simhash32("text").alias("sig")).persist()
    bands = sigs.select(
        "doc_id",
        "sig",
        F.explode(F.array(*[F.lit(k) for k in range(4)])).alias("band"),
    ).withColumn("key", F.expr("shiftright(sig, band * 8) & 255"))
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("band").alias("band_a"),
        F.col("key").alias("key_a"),
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("band").alias("band_b"),
        F.col("key").alias("key_b"),
    )
    # Both signatures travel through the band join, so verification is an
    # inline expression (no join back to sigs), and pair dedup is the
    # first-matching-band trick — keep a collision only at the SMALLEST
    # band where the two signatures agree — instead of a distinct() shuffle
    # over the raw candidate stream (the r3 1.65s hot spot).  One shuffle
    # total (the band self-join); everything after is row-local.
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    first_band = F.expr(
        "NOT exists(filter(sequence(0, 3), x -> x < band_a), "
        "b -> (shiftright(sig_a, CAST(b * 8 AS INT)) & 255) = "
        "(shiftright(sig_b, CAST(b * 8 AS INT)) & 255))"
    )
    return (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("key_a") == F.col("key_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("hamming", hamming)
        .filter((F.col("hamming") <= _D12_THRESHOLD) & first_band)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# d13 — benchmark decontamination scan (the GPT-3/PaLM-style n-gram overlap
# check every serious training-data pipeline runs): for each document of a
# held-out "benchmark" slice, find the corpus document sharing the most
# distinct 5-token-gram hashes and report the overlap in basis points plus
# a contaminated flag.  No reference counterpart — training-pipeline
# extension operator (SURVEY.md §7.8 family).
#
# Scale shape: one O(tokens) map stage per side (normalize -> 5-gram ->
# closed-form hash -> distinct), then a hash equi-join whose benchmark side
# is broadcast — benchmark suites are bounded (thousands of docs) while the
# corpus side streams through, exactly the asymmetric shape at 100 TB.  No
# quadratic pairing: candidates exist only where an n-gram hash matches.
# ---------------------------------------------------------------------------
_D13_N = 5
_D13_CONTAMINATED_BP = 2000
# distinct hashes of the distinct 5-token shingles — distinct AFTER hashing
# so a collision can't double-count an overlap (the oracle does the same)
_D13_HASHES = f"array_distinct({hashed_shingles_sql(token_shingles_sql('text', _D13_N))})"

_D13_GRAM = " || ' ' || ".join(f"toks[i+{j}]" for j in range(_D13_N))
_D13_HS_SQL = f"""
  SELECT doc_id,
         list_distinct(list_transform(
           list_distinct(list_transform(range(1, greatest(len(toks) - {_D13_N - 1}, 0) + 1),
               i -> {_D13_GRAM})),
           s -> {_hash_sql('s')})) AS hs
  FROM (SELECT doc_id, {_NTOK_SQL} AS toks FROM documents)
  WHERE len(toks) >= {_D13_N}
"""


@register(
    "d13_contamination_scan",
    oracle=f"""
WITH hs AS ({_D13_HS_SQL}),
bench_h AS (SELECT doc_id AS b_doc, unnest(hs) AS h FROM hs WHERE doc_id % 40 = 0),
corpus_h AS (SELECT doc_id AS c_doc, unnest(hs) AS h FROM hs WHERE doc_id % 40 <> 0),
ov AS (
  SELECT b_doc, c_doc, COUNT(*) AS overlap
  FROM bench_h JOIN corpus_h USING (h) GROUP BY 1, 2
),
sized AS (
  SELECT o.b_doc, o.c_doc, o.overlap, len(hs.hs) AS n_grams
  FROM ov o JOIN hs ON hs.doc_id = o.b_doc
),
ranked AS (
  SELECT b_doc, c_doc, overlap, n_grams,
         CAST(FLOOR(overlap * 10000.0 / n_grams) AS BIGINT) AS overlap_bp,
         ROW_NUMBER() OVER (PARTITION BY b_doc ORDER BY overlap DESC, c_doc) AS rk
  FROM sized
)
SELECT b_doc, c_doc, overlap, n_grams, overlap_bp,
       overlap_bp >= {_D13_CONTAMINATED_BP} AS contaminated
FROM ranked WHERE rk = 1
ORDER BY b_doc
""",
)
def d13_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # gate on NORMALIZED token count, matching _D13_HS_SQL (raw counts
    # diverge on punctuation-joined text — round-7 degenerate-corpus fix)
    from delta_lake_spark.functions.text import normalize_text, tokens as _toks

    d = table_parallel(spark, sf_dir, "documents", "doc_id").filter(
        F.size(_toks(normalize_text("text"))) >= _D13_N
    )
    hs = d.select(
        "doc_id", F.expr(_D13_HASHES).alias("hs")
    ).persist()  # two consumers (benchmark + corpus sides), one computation
    bench = hs.filter(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").alias("b_doc"),
        F.size("hs").alias("n_grams"),
        F.explode("hs").alias("h"),
    )
    corpus = hs.filter(F.col("doc_id") % 40 != 0).select(
        F.col("doc_id").alias("c_doc"), F.explode("hs").alias("h")
    )
    # benchmark side broadcast: held-out suites are bounded by construction
    # (like nation/region, NOT a scaling dim), so the hint is safe at 100x
    ov = (
        F.broadcast(bench)
        .join(corpus, "h")
        .groupBy("b_doc", "n_grams", "c_doc")
        .agg(F.count("*").alias("overlap"))
        .withColumn(
            "overlap_bp",
            F.floor(F.col("overlap") * 10000.0 / F.col("n_grams")).cast("long"),
        )
    )
    w = Window.partitionBy("b_doc").orderBy(F.desc("overlap"), "c_doc")
    return (
        ov.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "b_doc",
            "c_doc",
            "overlap",
            "n_grams",
            "overlap_bp",
            (F.col("overlap_bp") >= _D13_CONTAMINATED_BP).alias("contaminated"),
        )
        .orderBy("b_doc")
    )


# ---------------------------------------------------------------------------
# t10 — n-gram novelty score: per document, the fraction (basis points) of
# its distinct 5-gram hashes that occur in NO other document — the
# corpus-level "how much of this doc is boilerplate" signal that
# complements t07's within-document repetition stats.  Integer-only math
# (counts and floor), so the oracle matches bit-for-bit.
#
# Scale shape: explode to (doc, gram-hash) pairs, one groupBy(hash) for
# document frequency, join back, one groupBy(doc) — two shuffles over the
# gram stream, the same O(tokens) shape as exact dedup; no pairing.
# ---------------------------------------------------------------------------
@register(
    "t10_ngram_novelty",
    oracle=f"""
WITH hs AS ({_D13_HS_SQL}),
grams AS (SELECT doc_id, unnest(hs) AS h FROM hs),
df AS (SELECT h, COUNT(*) AS df FROM grams GROUP BY h)
SELECT g.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(FLOOR(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 10000.0
            / COUNT(*)) AS BIGINT) AS novelty_bp
FROM grams g JOIN df ON g.h = df.h
GROUP BY g.doc_id
ORDER BY g.doc_id
""",
)
def t10_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table_parallel(spark, sf_dir, "documents", "doc_id")
    hs = (
        d.select("doc_id", F.expr(_D13_HASHES).alias("hs"))
        # >=1 gram == >=_D13_N NORMALIZED tokens, the oracle's gate — a
        # raw-token pre-filter diverges on punctuation-joined text
        .filter(F.size("hs") > 0)
        .persist()  # two consumers (sizes + gram stream), hash once
    )
    sizes = hs.select("doc_id", F.size("hs").alias("n_grams"))
    grams = hs.select("doc_id", F.explode("hs").alias("h"))
    # grams are distinct per doc, so count(*) per hash IS document frequency,
    # and a df=1 hash has exactly one owner — min(doc_id) recovers it.  This
    # avoids joining the full gram stream back against the df table (the
    # naive textbook plan): after the one big groupBy(h), only the df=1
    # hashes (already reduced) flow into a per-doc count, then a doc-sized
    # left join fills in docs with zero unique grams.
    uniq = (
        grams.groupBy("h")
        .agg(F.count("*").alias("df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_unique"))
    )
    return (
        sizes.join(uniq, "doc_id", "left")
        .withColumn("n_unique", F.coalesce("n_unique", F.lit(0)).cast("long"))
        .withColumn(
            "novelty_bp",
            F.floor(F.col("n_unique") * 10000.0 / F.col("n_grams")).cast("long"),
        )
        .select("doc_id", "n_grams", "n_unique", "novelty_bp")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d14 — LSH band-tuning report: precision/recall/fan-out of the MinHash
# candidate stage at three band configurations (8x2, 4x4, 2x8 over the same
# 16-hash signatures) against exact-Jaccard ground truth.  The v07-analog
# for the dedup family: before running corpus-scale dedup you pick (bands,
# rows) from exactly this curve — more, narrower bands = higher recall but
# more candidate pairs to verify; fewer, wider bands = cheap but can miss.
# Ground truth is an exact quadratic pass — an EVAL operator run on a
# bounded slice by design (like d08's re-rank); the production candidate
# stage it tunes stays the banded equi-join.
# ---------------------------------------------------------------------------
_D14_TH = 5000  # truth threshold (jaccard basis points)
_D14_CONFIGS = (2, 4, 8)  # band sizes (rows per band) over MINHASH_K=16


def _d14_oracle() -> str:
    def band_selects(bs: int) -> str:
        return "\nUNION ALL\n".join(
            "SELECT doc_id, {b} AS band, {key} AS key FROM sigs".format(
                b=b,
                key=" || '-' || ".join(f"s{b * bs + j}::VARCHAR" for j in range(bs)),
            )
            for b in range(MINHASH_K // bs)
        )

    per_config = "\nUNION ALL\n".join(
        f"""
SELECT {bs} AS band_size, {MINHASH_K // bs} AS n_bands,
       (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT a.doc_id, b.doc_id FROM (
            {band_selects(bs)}
          ) a JOIN ({band_selects(bs)}) b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)) AS n_cand,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM (
            {band_selects(bs)}
          ) a JOIN ({band_selects(bs)}) b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ) c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_hits
"""
        for bs in _D14_CONFIGS
    )
    return f"""
WITH base AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, sh, {_SIG_COLS} FROM base),
truth AS (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b
  FROM base x JOIN base y ON x.doc_id < y.doc_id
  WHERE CAST(FLOOR(len(list_intersect(x.sh, y.sh)) * 10000.0 /
        (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh)))) AS BIGINT)
        >= {_D14_TH}
)
SELECT band_size, n_bands, n_truth, n_cand, n_hits,
       CAST(FLOOR(n_hits * 10000.0 / n_cand) AS BIGINT) AS precision_bp,
       CAST(FLOOR(n_hits * 10000.0 / n_truth) AS BIGINT) AS recall_bp
FROM ({per_config})
ORDER BY band_size
"""


@register("d14_lsh_band_tuning", oracle=_d14_oracle())
def d14_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table_parallel(spark, sf_dir, "documents", "doc_id")
    base = _signatures(docs, "doc_id", "text").persist()
    x, y = _shingle_sets(base, "a"), _shingle_sets(base, "b")
    truth = (
        _jaccard(x.join(y, F.col("id_a") < F.col("id_b")))
        .filter(F.col("jaccard_bp") >= _D14_TH)
        .select("id_a", "id_b")
        .persist()
    )
    n_truth = truth.agg(F.count("*").alias("n_truth"))

    rows = []
    for bs in _D14_CONFIGS:
        cand = _band_pairs(_band_rows(base, bs))
        hit = truth.withColumn("_hit", F.lit(1))
        stats = (
            cand.join(hit, ["id_a", "id_b"], "left")
            .agg(
                F.count("*").alias("n_cand"),
                F.count("_hit").alias("n_hits"),
            )
            .select(
                F.lit(bs).alias("band_size"),
                F.lit(MINHASH_K // bs).alias("n_bands"),
                "n_cand",
                "n_hits",
            )
        )
        rows.append(stats)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return (
        out.crossJoin(n_truth)
        .select(
            "band_size",
            "n_bands",
            "n_truth",
            "n_cand",
            "n_hits",
            F.floor(F.col("n_hits") * 10000 / F.col("n_cand")).cast("long").alias("precision_bp"),
            F.floor(F.col("n_hits") * 10000 / F.col("n_truth")).cast("long").alias("recall_bp"),
        )
        .orderBy("band_size")
    )


# ---------------------------------------------------------------------------
# d17 — exact duplicated-substring measurement (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" shape, at
# window granularity): every stride-1 window of 20 tokens is fingerprinted;
# a window whose fingerprint occurs more than once corpus-wide marks its
# token span as duplicated; per document, overlapping duplicated spans are
# merged (gaps-and-islands) and the covered token count / share reported.
# This is the EXACT-substring complement to MinHash (d06, whole-doc
# near-dup) and chunk dedup (d16, fixed non-overlapping chunks): it finds
# verbatim boilerplate at any alignment.
#
# Scale shape: the window stream is O(total tokens) rows (stride 1) —
# the same asymptotics as the suffix-array approach the paper uses; it
# shuffles twice (fingerprint-keyed duplicate marking with map-side
# window counts, then doc-keyed interval merge whose per-doc state is one
# running max).  Nothing is quadratic; memory per task is bounded by the
# longest document.
# ---------------------------------------------------------------------------
_D17_W = 20


@register(
    "d17_duplicated_spans",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_NTOK_SQL} AS arr
  FROM documents
  WHERE len({_NTOK_SQL}) >= {_D17_W}
),
wins AS (
  SELECT doc_id, len(arr) AS n, CAST(s AS BIGINT) AS s,
         md5(array_to_string(list_slice(arr, s + 1, s + {_D17_W}), ' ')) AS fp
  FROM (SELECT doc_id, arr, unnest(range(0, len(arr) - {_D17_W} + 1)) AS s
        FROM base)
),
dup AS (
  SELECT doc_id, n, s, s + {_D17_W} AS e
  FROM (SELECT *, COUNT(*) OVER (PARTITION BY fp) AS cnt FROM wins)
  WHERE cnt > 1
),
isl AS (
  SELECT doc_id, n, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                  PARTITION BY doc_id ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_i
  FROM dup
),
isl2 AS (
  SELECT doc_id, n, s, e,
         SUM(new_i) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
cov AS (
  SELECT doc_id, n, island, MAX(e) - MIN(s) AS covered
  FROM isl2 GROUP BY doc_id, n, island
)
SELECT doc_id,
       CAST(n AS BIGINT)                       AS n_tokens,
       CAST(SUM(covered) AS BIGINT)            AS dup_tokens,
       CAST((SUM(covered) * 10000) // n AS BIGINT) AS dup_share_bp
FROM cov GROUP BY doc_id, n ORDER BY doc_id
""",
)
def d17_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from delta_lake_spark.functions.text import normalize_text, tokens

    W = _D17_W
    d = table_parallel(spark, sf_dir, "documents", "doc_id")
    base = d.select("doc_id", tokens(normalize_text("text")).alias("arr")).filter(
        F.size("arr") >= W
    )
    wins = base.select(
        "doc_id",
        F.size("arr").cast("long").alias("n"),
        F.explode(F.sequence(F.lit(0), F.size("arr") - W)).alias("s"),
        "arr",
    ).select(
        "doc_id",
        "n",
        F.col("s").cast("long").alias("s"),
        F.md5(F.concat_ws(" ", F.slice("arr", F.col("s") + 1, W))).alias("fp"),
    )
    dup = (
        wins.withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("cnt") > 1)
        .select("doc_id", "n", "s", (F.col("s") + W).alias("e"))
    )
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.withColumn(
        "new_i",
        (
            F.col("s")
            > F.coalesce(F.max("e").over(w_doc), F.lit(-1))
        ).cast("long"),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl2 = isl.withColumn("island", F.sum("new_i").over(w_run))
    cov = isl2.groupBy("doc_id", "n", "island").agg(
        (F.max("e") - F.min("s")).alias("covered")
    )
    return (
        cov.groupBy("doc_id", "n")
        .agg(F.sum("covered").alias("dup_tokens"))
        .select(
            "doc_id",
            F.col("n").alias("n_tokens"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.expr("CAST((dup_tokens * 10000) DIV n AS BIGINT)").alias(
                "dup_share_bp"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# d18 — containment near-dup (asymmetric Jaccard): for the same LSH
# candidate pairs as d06, score |A∩B| / min(|A|,|B|) instead of
# |A∩B| / |A∪B|.  Jaccard misses doc-inside-doc duplication (a short doc
# quoted whole inside a long one scores low Jaccard but containment 1.0)
# — the wrapper/boilerplate case curation actually needs to catch.
# `contained` flags full engulfment.  Same scale shape as d06: banded
# candidates only, verification join pulls shingle arrays for candidates.
# ---------------------------------------------------------------------------
@register(
    "d18_containment_pairs",
    oracle=f"""
WITH base AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, sh, {_SIG_COLS} FROM base),
banded AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       len(list_intersect(x.sh, y.sh))          AS inter_size,
       len(x.sh)                                AS size_a,
       len(y.sh)                                AS size_b,
       CAST(FLOOR(len(list_intersect(x.sh, y.sh)) * 10000.0 /
            LEAST(len(x.sh), len(y.sh))) AS BIGINT) AS containment_bp,
       len(list_intersect(x.sh, y.sh)) = LEAST(len(x.sh), len(y.sh))
         AS contained
FROM cand JOIN base x ON x.doc_id = id_a JOIN base y ON y.doc_id = id_b
ORDER BY id_a, id_b
""",
)
def d18_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table_parallel(spark, sf_dir, "documents", "doc_id")
    base = _signatures(docs, "doc_id", "text").persist()
    cand = _band_pairs(_band_rows(base))
    pairs = cand.join(_shingle_sets(base, "a"), "id_a").join(
        _shingle_sets(base, "b"), "id_b"
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    smaller = F.least(F.size("_sha"), F.size("_shb"))
    return pairs.select(
        "id_a",
        "id_b",
        inter.alias("inter_size"),
        F.size("_sha").alias("size_a"),
        F.size("_shb").alias("size_b"),
        F.floor(inter * 10000 / smaller).cast("long").alias("containment_bp"),
        (inter == smaller).alias("contained"),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# d19 — edit-distance re-rank over the LSH candidate set: exact Levenshtein
# similarity on a bounded 256-char normalized prefix.  Completes the dedup
# family's metric inventory (set Jaccard d06/d08, bitwise Hamming d07/d12,
# containment d18, cosine d11/d15) with the sequence-edit metric — the one
# that catches reorder-free char-level edits the set metrics miss.
# Scale shape: Levenshtein is O(L^2) per pair, so it NEVER runs all-pairs —
# only over the LSH-banded candidates (same candidate generator as d06),
# and on a capped prefix so the per-pair cost is a constant bound.  The
# candidate join is an equi-join on band keys; no cartesian anywhere.
# Both engines have a built-in byte-exact levenshtein, so the distance and
# the floor-div similarity are hash-exact.
# ---------------------------------------------------------------------------
_D19_PREFIX = 256


@register(
    "d19_edit_distance_rerank",
    oracle=f"""
WITH base AS ({_SHINGLES_SQL}),
sigs AS (SELECT doc_id, sh, {_SIG_COLS} FROM base),
banded AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
n AS (SELECT doc_id, substr({_NORM_SQL}, 1, {_D19_PREFIX}) AS p FROM documents)
SELECT id_a, id_b,
       levenshtein(x.p, y.p)                            AS edit_dist,
       length(x.p)                                      AS len_a,
       length(y.p)                                      AS len_b,
       CAST(10000 - FLOOR(levenshtein(x.p, y.p) * 10000.0 /
            GREATEST(length(x.p), length(y.p))) AS BIGINT) AS edit_sim_bp
FROM cand JOIN n x ON x.doc_id = id_a JOIN n y ON y.doc_id = id_b
ORDER BY id_a, id_b
""",
)
def d19_edit_distance_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.functions.text import normalize_text

    docs = table_parallel(spark, sf_dir, "documents", "doc_id")
    cand = _band_pairs(_band_rows(_signatures(docs, "doc_id", "text").persist()))
    # prefixes join back against candidates only — the expensive O(L^2)
    # metric touches |cand| rows, never the corpus square
    n = table_parallel(spark, sf_dir, "documents", "doc_id").select(
        F.col("doc_id").alias("_id"),
        F.substring(normalize_text("text"), 1, _D19_PREFIX).alias("_p"),
    )
    return (
        cand.join(n.select(F.col("_id").alias("id_a"), F.col("_p").alias("_pa")), "id_a")
        .join(n.select(F.col("_id").alias("id_b"), F.col("_p").alias("_pb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_pa", "_pb").alias("edit_dist"),
            F.length("_pa").alias("len_a"),
            F.length("_pb").alias("len_b"),
            (
                F.lit(10000)
                - F.floor(
                    F.levenshtein("_pa", "_pb")
                    * 10000.0
                    / F.greatest(F.length("_pa"), F.length("_pb"))
                )
            )
            .cast("bigint")
            .alias("edit_sim_bp"),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# d20 — EXACT all-pairs Jaccard join via prefix filtering (All-Pairs/PPJoin).
#
# The lossless counterpart to d06's MinHash+LSH: documents ordered by
# rarest-first token prefixes; Jaccard >= 0.6 pairs MUST collide on a
# prefix token, so the prefix equi-join is a candidate SUPERSET (no false
# negatives), verified exactly.  The oracle is the brute-force quadratic
# join — the gate therefore proves completeness, not just precision.
# Shingle unit: distinct word BIGRAMS (unigram sets are near-degenerate on
# this corpus: ~57% of all pairs clear 0.6, while bigram sets isolate the
# 25 true near-dup pairs).
# ---------------------------------------------------------------------------
@register(
    "d20_prefix_filter_jaccard",
    oracle=f"""
WITH w AS (
  SELECT doc_id, {_NTOK_SQL} AS ws
  FROM documents WHERE length({_NORM_SQL}) > 0
),
t AS (
  SELECT doc_id, list_distinct(list_transform(
           list_transform(range(1, greatest(len(ws)-1, 0)+1),
                          i -> ws[i] || ' ' || ws[i+1]),
           t -> {_H})) AS toks
  FROM w WHERE len(ws) >= 2
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter_size,
       CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS BIGINT)
         AS union_size,
       CAST((len(list_intersect(a.toks, b.toks)) * 10000)
            // (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
            AS BIGINT) AS jaccard_bp
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE 5 * len(list_intersect(a.toks, b.toks))
      >= 3 * (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
ORDER BY id_a, id_b
""",
)
def d20_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.functions.dedup import prefix_filter_jaccard_join

    docs = table_parallel(spark, sf_dir, "documents", "doc_id")
    return prefix_filter_jaccard_join(
        docs, "doc_id", "text", n=2, tau_num=3, tau_den=5
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# d22 — cross-source duplicate overlap matrix: for every pair of sources,
# how many duplicate relations span them (and how many stay within one
# source).  The provenance report a corpus curator reads before deciding
# which feed to drop — here keyed by the SHARED-OPENING fingerprint (md5 of
# the first 3 normalized tokens): scraped feeds duplicate each other's
# openings (templates, syndication) long before full texts match, and this
# corpus has no full-text dups by construction (t01 proves that), so the
# prefix key is the boundary that actually has provenance signal.  The
# same matrix runs over any group key.  A group with k_s docs from
# source s contributes C(k_s, 2) within-source pairs and k_a*k_b pairs to
# (a, b) — computed from the bounded per-(fingerprint, source) counts, so
# no doc-level pair surface ever exists.
#
# Scale shape: one (fingerprint, source) aggregate over the corpus, a
# fingerprint-keyed self-join of the GROUP-LEVEL counts only (duplicate
# groups are rare and small — the join input is orders of magnitude below
# corpus size), and a bounded (src_a, src_b) rollup.
# ---------------------------------------------------------------------------
def _d22_oracle() -> str:
    from delta_lake_spark.queries.text import _NORM_SQL

    return f"""
WITH fp AS (
  -- zero-token docs carry no prefix content and are excluded: md5('') is
  -- not provenance signal (and array_to_string([]) is NULL in DuckDB)
  SELECT md5(array_to_string(
           {_NTOK_SQL}[1:3], ' ')) AS f,
         source
  FROM documents d
  WHERE length({_NORM_SQL}) > 0
),
gs AS (SELECT f, source, COUNT(*) AS k FROM fp GROUP BY f, source),
dup AS (SELECT f FROM gs GROUP BY f HAVING SUM(k) > 1),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         SUM(CASE WHEN a.source = b.source THEN a.k * (a.k - 1) / 2
                  ELSE a.k * b.k END) AS n_pairs
  FROM gs a JOIN gs b ON a.f = b.f AND a.source <= b.source
  JOIN dup ON dup.f = a.f
  WHERE a.source < b.source OR (a.source = b.source AND a.k > 1)
  GROUP BY a.source, b.source
)
SELECT src_a, src_b, CAST(n_pairs AS BIGINT) AS n_pairs
FROM pairs ORDER BY src_a, src_b
"""


@register("d22_cross_source_dup_matrix", oracle=_d22_oracle())
def d22_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from delta_lake_spark.functions.text import normalize_text, tokens

    d = table_parallel(spark, sf_dir, "documents", "doc_id")
    prefix_fp = F.md5(
        F.concat_ws(" ", F.slice(tokens(normalize_text("text")), 1, 3))
    )
    gs = (
        # zero-token docs excluded: an empty prefix is not provenance signal
        d.filter(F.size(tokens(normalize_text("text"))) > 0)
        .select(prefix_fp.alias("f"), "source")
        .groupBy("f", "source")
        .agg(F.count("*").alias("k"))
    )
    dup = gs.groupBy("f").agg(F.sum("k").alias("tot")).filter(F.col("tot") > 1).select("f")
    a = gs.select("f", F.col("source").alias("src_a"), F.col("k").alias("ka"))
    b = gs.select("f", F.col("source").alias("src_b"), F.col("k").alias("kb"))
    pairs = (
        a.join(b, "f")
        .join(dup, "f")
        .filter(
            (F.col("src_a") < F.col("src_b"))
            | ((F.col("src_a") == F.col("src_b")) & (F.col("ka") > 1))
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.when(
                    F.col("src_a") == F.col("src_b"),
                    F.col("ka") * (F.col("ka") - 1) / 2,
                ).otherwise(F.col("ka") * F.col("kb"))
            )
            .cast("bigint")
            .alias("n_pairs")
        )
    )
    return pairs.orderBy("src_a", "src_b")
