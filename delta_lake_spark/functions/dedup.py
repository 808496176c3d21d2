"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB (SURVEY.md §7.8):
- Exact dedup = one shuffle on an md5 fingerprint key (functions/text.py).
- MinHash+LSH: signatures are computed per-row with built-in array functions
  (no UDFs, no explode of the shingle set into a shuffle); only the tiny
  (doc_id, band_key) pairs shuffle.  Candidate verification joins back the
  shingle arrays and computes Jaccard with array_intersect sizes.  Total cost
  is O(rows) map-side + a bucket-join whose fan-out is controlled by band
  width — the standard scalable near-dup pipeline.
- SimHash: per-row 32-bit signature from token hashes; bucket by signature
  (or by rotated prefixes for hamming-distance search).

Cross-engine determinism: the shingle hash is a closed-form polynomial over
the first 8 character codes (no engine hash functions whose seeds differ),
so the DuckDB oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from delta_lake_spark.functions.dedup_sql import (
    MINHASH_BAND_SIZE,
    _shingle_transform_sql,
    band_keys_sql,
    hashed_shingles_sql,
    minhash_sig_sql,
    minhash_signature_sql,
    shingle_hash_sql,
    simhash32_sql,
    sql_arg,
    token_shingle_seq_sql,
    token_shingles_sql,
    winnow_sql,
)

# The public builders take a column name or SQL expression (str) and parse
# their one definition in dedup_sql.py with a single F.expr.


def shingle_hash(s: str) -> Column:
    """Polynomial hash of the first 8 chars (``shingle_hash_sql``)."""
    return F.expr(shingle_hash_sql(sql_arg(s, "shingle_hash")))


def token_shingles(text: str, n: int = 3) -> Column:
    """Distinct n-token shingles of the normalized text (``token_shingles_sql``)."""
    return F.expr(token_shingles_sql(sql_arg(text, "token_shingles"), n))


def token_shingle_seq(text: str, n: int = 3) -> Column:
    """In-order n-token shingles, duplicates kept (``token_shingle_seq_sql``)."""
    return F.expr(token_shingle_seq_sql(sql_arg(text, "token_shingle_seq"), n))


def minhash_signature(shingles: str) -> Column:
    """MINHASH_K permutation minima over a shingle array (``minhash_signature_sql``)."""
    return F.expr(minhash_signature_sql(sql_arg(shingles, "minhash_signature")))


def band_keys(sig: str) -> Column:
    """LSH (band, key) structs of a signature (``band_keys_sql``)."""
    return F.expr(band_keys_sql(sql_arg(sig, "band_keys")))


def simhash32(text: str) -> Column:
    """32-bit SimHash over the distinct token set (``simhash32_sql``)."""
    return F.expr(simhash32_sql(sql_arg(text, "simhash32")))


def winnow_fingerprints(text: str, window: int = 4) -> Column:
    """Winnowing fingerprint set of the token-shingle sequence (``winnow_sql``)."""
    return F.expr(winnow_sql(sql_arg(text, "winnow_fingerprints"), window))


# --------------------------------------------------------------------- #
# MinHash-LSH stages.  Batch pairs (minhash_candidate_pairs, d14, d18,
# d19), the incremental index (ops/dedup_index.py) and the dedup ingest
# (tables/incremental.py) are all built from these.
# --------------------------------------------------------------------- #


def _signatures(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    tokens_col: str | None = None,
    keep: Sequence[str] = (),
) -> DataFrame:
    """(_id, *keep, _sh, _sig): distinct 3-token shingles and MinHash
    signature of each document in the dedup graph.

    The one graph gate: a document is in the graph iff it has a shingle,
    i.e. >= 3 NORMALIZED tokens (the oracle's _SHINGLES_SQL).  Raw and
    normalized counts diverge on punctuation ('a.b.c' is 1 raw token but 3
    normalized, 'x !!! y' is 3 raw but 2), and a shingle-less document has
    an all-NULL signature: its band keys all equal '' and its Jaccard with
    another such document divides by a union of 0.  A caller whose
    keep-set differs from the graph applies its own gate to its own rows.

    ``tokens_col``: an optional pre-tokenized column (the normalized
    whitespace tokens, ``tokens(normalize_text(text))``) that skips the
    normalize+split pass; shingle values are identical.
    """
    shingles = (
        f"array_distinct({_shingle_transform_sql(tokens_col, 3)})"
        if tokens_col is not None
        else token_shingles_sql(text_col)
    )
    return (
        docs.select(F.col(id_col).alias("_id"), *keep, F.expr(shingles).alias("_sh"))
        .filter(F.size("_sh") > 0)
        # hash each shingle ONCE to a materialized column, then take the 16
        # permutation minima over the hashed array (3 expr parses in all)
        .withColumn("_hs", F.expr(hashed_shingles_sql("_sh")))
        .withColumn("_sig", F.expr(minhash_sig_sql("_hs")))
        .drop("_hs")
    )


def _band_rows(sigs: DataFrame, band_size: int = MINHASH_BAND_SIZE) -> DataFrame:
    """(_id, _bk): one row per LSH band of each signature; only these tiny
    rows shuffle for candidate generation."""
    return sigs.select("_id", F.explode(F.expr(band_keys_sql("_sig", band_size))).alias("_bk"))


def _band_pairs(banded: DataFrame, earlier: DataFrame | None = None) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b) sharing a band key: id_a < id_b
    within ``banded``, plus, when given, each ``earlier`` doc (the band rows
    of an index) as id_a against each ``banded`` doc as id_b."""
    a = banded.select(F.col("_bk").alias("_bka"), F.col("_id").alias("id_a"))
    b = banded.select(F.col("_bk").alias("_bkb"), F.col("_id").alias("id_b"))
    cand = a.join(b, (a._bka == b._bkb) & (a.id_a < b.id_b)).select("id_a", "id_b")
    if earlier is not None:
        e = earlier.select(F.col("_bk").alias("_bke"), F.col("_id").alias("id_a"))
        cand = cand.unionByName(e.join(b, e._bke == b._bkb).select("id_a", "id_b"))
    return cand.dropDuplicates(["id_a", "id_b"])


def _shingle_sets(sigs: DataFrame, side: str) -> DataFrame:
    """(id_<side>, _sh<side>) from (_id, _sh) rows: one side of a pair."""
    return sigs.select(F.col("_id").alias(f"id_{side}"), F.col("_sh").alias(f"_sh{side}"))


def _jaccard(pairs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard of pairs (id_a, id_b) carrying both sets (_sha,
    _shb): adds inter_size, union_size and jaccard_bp = floor(10000*|∩|/|∪|),
    an integer, oracle-stable.  |∪| > 0 because graph members have shingles."""
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    return pairs.select(
        "id_a",
        "id_b",
        inter.alias("inter_size"),
        union.alias("union_size"),
        F.floor(inter * 10000 / union).cast("long").alias("jaccard_bp"),
    )


def _batch_losers(
    sigs: DataFrame,
    banded: DataFrame,
    min_jaccard_bp: int,
    earlier: tuple[DataFrame, DataFrame, str] | None = None,
) -> DataFrame:
    """``id_b`` of each batch doc (``sigs``, its band rows ``banded``) that
    near-dups a lower-id batch doc or any ``earlier`` doc — d09's greedy
    rule applied to one batch.  ``earlier`` is (band rows, rows with
    ``_id``, SQL text of a row's shingle set: a stored ``_sh`` column or
    ``token_shingles_sql`` of its text).  Only the earlier rows whose ids
    are candidates are semi-joined through, so only they are shingled."""
    sha = _shingle_sets(sigs, "a")
    if earlier is None:
        cand = _band_pairs(banded)
    else:
        bands, rows, shingles = earlier
        cand = _band_pairs(banded, bands)
        ids = cand.select(F.col("id_a").alias("_id"))
        sha = sha.unionByName(
            rows.join(ids, "_id", "left_semi").select(
                F.col("_id").alias("id_a"), F.expr(shingles).alias("_sha")
            )
        )
    # the verification joins pull shingle sets back for candidates only
    pairs = cand.join(sha, "id_a").join(_shingle_sets(sigs, "b"), "id_b")
    return (
        _jaccard(pairs)
        .filter(F.col("jaccard_bp") >= min_jaccard_bp)
        .select("id_b")
        .distinct()
    )


def minhash_candidate_pairs(
    docs: DataFrame, id_col: str, text_col: str, tokens_col: str | None = None
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline -> verified candidate pairs with
    exact shingle-Jaccard (intersection/union sizes as integers).

    Returns columns: id_a, id_b, inter_size, union_size, jaccard_bp
    (jaccard in basis points, floor(10000*|∩|/|∪|) — integer, oracle-stable).
    ``tokens_col`` forwards a pre-tokenized column to ``_signatures`` (p03
    tokenizes ONCE for contamination grams, dedup shingles and LM scoring).
    """
    # materialize once: the shingle+signature computation is the expensive
    # map-side pass and feeds both sides of the bucket self-join.
    base = _signatures(docs, id_col, text_col, tokens_col).persist()
    cand = _band_pairs(_band_rows(base))
    # the verification joins pull shingle sets back for candidates only
    return _jaccard(
        cand.join(_shingle_sets(base, "a"), "id_a").join(_shingle_sets(base, "b"), "id_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard_bp: int = 0,
) -> DataFrame:
    """All-pairs character-n-gram Jaccard similarity.

    Exact quadratic variant of the dedup family: right for small/filtered
    candidate sets (a re-rank stage after LSH blocking); for full-corpus
    near-dup at scale use minhash_candidate_pairs, which replaces the
    O(n^2) self-join with band-bucket blocking.
    """
    from delta_lake_spark.functions.text import char_ngrams

    grams = F.array_distinct(char_ngrams(F.col(text_col), n))
    base = docs.select(F.col(id_col).alias("_id"), grams.alias("_g")).filter(
        F.size("_g") > 0
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_g").alias("_ga"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_g").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb"))
    union = F.size("_ga") + F.size("_gb") - inter
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.alias("inter_size"),
            union.alias("union_size"),
            F.floor(inter * 10000 / union).cast("long").alias("jaccard_bp"),
        )
        .filter(F.col("jaccard_bp") >= min_jaccard_bp)
    )


def near_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard_bp: int = 8000,
    tokens_col: str | None = None,
    graph_docs: DataFrame | None = None,
) -> DataFrame:
    """Greedy near-duplicate removal: drop every document that has a
    more-canonical (lower-id) near-dup above the threshold.

    One LSH candidate pass + one anti-join — the standard first-cut corpus
    dedup.  Chains (a~b~c with a!~c) keep their middle member; full
    transitive collapse is ``dedup_clusters`` (connected components).
    ``tokens_col`` forwards a pre-tokenized column (see
    minhash_candidate_pairs).  ``graph_docs`` optionally widens the dedup
    GRAPH beyond the survivor candidates: pairs are mined from it, while
    only rows of ``docs`` can survive — used when a caller's keep-set gate
    (e.g. raw token count) is narrower than graph membership (normalized
    token count), so a doc outside the keep-set can still evict its dups.
    """
    pairs = minhash_candidate_pairs(
        graph_docs if graph_docs is not None else docs,
        id_col,
        text_col,
        tokens_col=tokens_col,
    )
    losers = (
        pairs.filter(F.col("jaccard_bp") >= min_jaccard_bp)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return docs.join(losers, id_col, "left_anti")


def connected_components(
    edges: DataFrame, a: str = "id_a", b: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected edge list -> (id, component)
    with component = min id reachable.  Iterative label propagation: each
    round every node adopts the smallest label in its neighborhood; stops
    at fixpoint (no label changed) or ``max_iter``.

    Scale notes: each iteration is one groupBy-min over the (undirected)
    edge list joined to current labels — O(E) shuffle per round, converging
    in O(diameter) rounds (near-dup clusters are tiny, so 3-4 rounds in
    practice).  Labels are PINNED per round (eager checkpoint, the q73
    PageRank discipline — r10): persist alone bounds re-execution but not
    re-planning, so after k rounds the returned frame's logical plan nested
    k deep with the full upstream edge pipeline at every level — p05's
    committed r9 physical plan carried 2,257 Exchange nodes and every
    downstream job replanned all of it.  Pinning the vertex-sized label
    table each round (and the edge layout once) keeps every round's plan
    flat; the fixpoint check is a 1-row aggregate, the only driver
    round-trip.
    """
    from delta_lake_spark.ops.lineage import pin, unpin

    spark = edges.sparkSession
    sym = pin(
        # symmetrize in ONE pass over the (often expensive) edge plan: a
        # two-branch union re-executes the upstream per branch — for d10
        # that is the whole LSH candidate + verify pipeline twice (the
        # q101 corner-union lesson); exploding both orientations inline
        # evaluates it once
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("u"), F.col(b).alias("v")),
                    F.struct(F.col(b).alias("u"), F.col(a).alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        # pre-partition on the per-round join key (v) BEFORE pinning: the
        # cached partitioning satisfies each round's join requirement, so
        # only the vertex-sized label table shuffles per iteration; core-
        # count partitions, not shuffle.partitions — the iteration is
        # scheduling-bound (the q73 PageRank pattern, measured 3x there)
        .repartition(spark.sparkContext.defaultParallelism, "v")
    )
    labels = pin(
        sym.select(F.col("u").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    )
    for _ in range(max_iter):
        nm = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.node"), "inner")
            .groupBy(F.col("e.u").alias("node"))
            .agg(F.min("l.label").alias("nmin"))
        )
        new_labels = pin(
            labels.alias("cur")
            .join(nm.alias("nm"), F.col("cur.node") == F.col("nm.node"), "left")
            .select(
                F.col("cur.node").alias("node"),
                F.least(
                    F.col("cur.label"), F.coalesce("nm.nmin", F.col("cur.label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # pin the NEW round first, THEN release the superseded pinned frame
        # (the q73/q75 sequencing — ADVICE r8)
        unpin(labels)
        labels = new_labels
        if changed == 0:
            break
    unpin(sym)
    return labels.select(F.col("node").alias("id"), F.col("label").alias("component"))


def prefix_filter_jaccard_join(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    tau_num: int = 3,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= tau_num/tau_den over distinct n-token
    shingle sets, via prefix filtering (the All-Pairs / PPJoin family —
    Bayardo et al. WWW'07, Xiao et al. WWW'08) instead of LSH.

    Where d06's MinHash+LSH trades recall for speed, prefix filtering is
    lossless: order every document's shingles by ascending document
    frequency (rarest first, ties by token); if two sets have Jaccard >=
    tau they MUST share a token within each other's first
    ``|s| - ceil(tau*|s|) + 1`` tokens, so joining on prefix tokens alone
    generates a candidate superset — no false negatives.  Candidates then
    verify with exact intersection sizes.

    Scale shape: the shuffled volume is (a) one token-frequency aggregate,
    (b) the prefix explode — about (1-tau) of the token stream, rarest
    tokens only, so the hottest (most frequent) tokens never fan out — and
    (c) candidate verification joins.  All thresholds are exact integer
    cross-products (no float division).
    """
    # shingles hash to longs up front (d06/d09 verification convention:
    # the oracle applies the same closed-form hash, so Jaccard over hash
    # sets is the shared exact semantic) — long keys shuffle and compare
    # several times cheaper than bigram strings.
    toks_sql = f"array_distinct({hashed_shingles_sql(token_shingles_sql(text_col, n))})"
    # NO size()>0 filter here: Catalyst pushes such a filter below
    # table_parallel's exchange, re-running the whole shingle pipeline
    # single-threaded in the scan stage (measured 24 s vs 1.3 s at sf0.1).
    # explode() drops empty arrays anyway, so the filter is redundant.
    base = docs.selectExpr(
        f"{id_col} AS _id", f"{toks_sql} AS _toks"
    ).persist()  # feeds the df aggregate AND the join-back
    exploded = base.select("_id", F.explode("_toks").alias("_tok"))
    # document frequency per token orders prefixes rarest-first.  groupBy
    # does the counting map-side (partial agg), so only the vocabulary-sized
    # (token, df) table shuffles; the join back is AQE-broadcast when the
    # vocabulary is small — the full token stream is never window-sorted.
    df_tbl = exploded.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    with_df = exploded.join(df_tbl, "_tok")
    # per-doc tokens sorted by (df, token); prefix length
    # p = s - ceil(tau*s) + 1, with ceil(tau*s) = (tau_num*s + tau_den - 1) div tau_den
    sorted_docs = (
        with_df.groupBy("_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("_df", "_tok"))),
                lambda s: s["_tok"],
            ).alias("_sorted"),
        )
        .withColumn("_sz", F.size("_sorted"))
        .withColumn(
            "_prefix",
            F.slice(
                "_sorted",
                1,
                F.col("_sz")
                - F.expr(f"({tau_num} * _sz + {tau_den - 1}) div {tau_den}")
                + 1,
            ),
        )
        # consumed three times (both self-join sides + verification);
        # persist so candidates and verification reuse one computation —
        # per-doc sorted hash arrays, the same footprint d06 persists
        .persist()
    )
    pref = sorted_docs.select(
        "_id", "_sz", F.posexplode("_prefix").alias("_i", "_tok")
    ).withColumn("_pos", F.col("_i") + 1)
    a, b = pref.alias("a"), pref.alias("b")
    # candidates: shared prefix token + id order + length filter
    # (tau * max(sz) <= min(sz), as integers) + PPJoin position filter:
    # tokens are position-aligned in ONE global order, so for the first
    # common token at positions (i, j) the overlap is at most
    # 1 + min(sz_a - i, sz_b - j); a qualifying pair needs overlap >=
    # alpha = ceil(tau/(1+tau) * (sz_a + sz_b)) — cross-multiplied to
    # integers.  Lossless (the earliest collision has the loosest bound)
    # but prunes late-prefix collisions before the distinct + verify.
    cand = (
        a.join(
            b,
            (F.col("a._tok") == F.col("b._tok"))
            & (F.col("a._id") < F.col("b._id"))
            & (
                F.lit(tau_num) * F.greatest("a._sz", "b._sz")
                <= F.lit(tau_den) * F.least("a._sz", "b._sz")
            )
            & (
                F.lit(tau_num + tau_den)
                * (
                    F.lit(1)
                    + F.least(
                        F.col("a._sz") - F.col("a._pos"),
                        F.col("b._sz") - F.col("b._pos"),
                    )
                )
                >= F.lit(tau_num) * (F.col("a._sz") + F.col("b._sz"))
            ),
        )
        .select(
            F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b")
        )
        .distinct()
    )
    # exact verification on the candidate pairs only
    sets = sorted_docs.select("_id", "_sorted", "_sz")
    verified = (
        cand.join(
            sets.select(
                F.col("_id").alias("id_a"),
                F.col("_sorted").alias("_ta"),
                F.col("_sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("_id").alias("id_b"),
                F.col("_sorted").alias("_tb"),
                F.col("_sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("inter_size", F.size(F.array_intersect("_ta", "_tb")).cast("bigint"))
        .withColumn(
            "union_size",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter_size")).cast("bigint"),
        )
        .filter(
            F.lit(tau_den) * F.col("inter_size")
            >= F.lit(tau_num) * F.col("union_size")
        )
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter_size",
        "union_size",
        F.expr("CAST((inter_size * 10000) div union_size AS BIGINT)").alias(
            "jaccard_bp"
        ),
    )
