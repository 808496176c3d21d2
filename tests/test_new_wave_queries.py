"""Hand-computed differential tests for the round-4 tail wave (q71 SCD2
history, q72 triangle census, s09 leakage-safe split) — tiny corpora where
the expected output is derivable on paper, complementing the DuckDB oracle
parity.  Also ties tables/scd.py's incremental scd2_init to q71's
oracle-checked collapse on the same corpus."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from delta_lake_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def _write_events(tmp_path, rows):
    """rows: (user_id, ts, value, event_type)."""
    events = pa.table(
        {
            "event_id": list(range(1, len(rows) + 1)),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": [r[0] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [float(r[2]) for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    pq.write_table(events, str(tmp_path / "events.parquet"))


def _ts(day):
    return datetime.datetime(2024, 1, day)


def _us(day):
    return int(_ts(day).timestamp() * 1_000_000)


def test_q71_scd2_history_tiny(spark, tmp_path):
    _write_events(
        tmp_path,
        [
            (1, _ts(1), 50.0, "purchase"),   # tier 0 opens
            (1, _ts(2), 150.0, "purchase"),  # tier 1: close v1, open v2
            (1, _ts(3), 160.0, "purchase"),  # tier 1 again: collapses
            (1, _ts(4), 20.0, "purchase"),   # tier 0: close v2, open v3
            (1, _ts(5), 400.0, "click"),     # non-purchase: ignored
            (2, _ts(2), 250.0, "purchase"),  # single open version
        ],
    )
    out = [
        (r.user_id, r.version, r.tier, r.eff_from_us, r.eff_to_us, r.is_current)
        for r in QUERIES["q71_scd2_tier_history"](spark, str(tmp_path)).collect()
    ]
    assert out == [
        (1, 1, 0, _us(1), _us(2), False),
        (1, 2, 1, _us(2), _us(4), False),
        (1, 3, 0, _us(4), None, True),
        (2, 1, 2, _us(2), None, True),
    ]


def test_scd2_init_matches_q71_chain(spark, tmp_path):
    """The managed-table SCD2 op and the oracle-checked q71 collapse are the
    same semantics: building the dimension from the identical change stream
    must land the identical version chains."""
    from delta_lake_spark.catalog import EPOCH_NTZ, table
    from delta_lake_spark.tables.managed import ManagedTable
    from delta_lake_spark.tables.scd import scd2_init

    _write_events(
        tmp_path,
        [
            (1, _ts(1), 50.0, "purchase"),
            (1, _ts(2), 150.0, "purchase"),
            (1, _ts(3), 160.0, "purchase"),
            (1, _ts(4), 20.0, "purchase"),
            (2, _ts(2), 250.0, "purchase"),
        ],
    )
    changes = (
        table(spark, str(tmp_path), "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.col("value") / F.lit(100.0)).cast("bigint").alias("tier"),
            "ts",
        )
    )
    dim = ManagedTable(spark, str(tmp_path / "dim"))
    scd2_init(dim, changes, ["user_id"], ["tier"], "ts")
    us = lambda c: F.timestamp_diff("MICROSECOND", F.expr(EPOCH_NTZ), F.col(c))
    got = sorted(
        (r.user_id, r.tier, r.f, r.t, r.is_current)
        for r in dim.read()
        .select(
            "user_id", "tier", us("eff_from").alias("f"),
            us("eff_to").alias("t"), "is_current",
        )
        .collect()
    )
    want = sorted(
        (r.user_id, r.tier, r.eff_from_us, r.eff_to_us, r.is_current)
        for r in QUERIES["q71_scd2_tier_history"](spark, str(tmp_path)).collect()
    )
    assert got == want


def test_q72_triangle_census_tiny(spark, tmp_path):
    # order 1 buys parts {1,2,3} (a triangle), order 2 buys {3,4}; part 3
    # listed twice in order 1 (distinct collapses it).
    li = pa.table(
        {
            "l_orderkey": [1, 1, 1, 1, 2, 2],
            "l_partkey": [1, 2, 3, 3, 3, 4],
        }
    )
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))
    row = QUERIES["q72_triangle_census"](spark, str(tmp_path)).collect()[0]
    # edges {12,13,23,34}; degrees 1:2 2:2 3:3 4:1; wedges 1+1+3+0=5
    assert (
        row.n_vertices, row.n_edges, row.n_wedges, row.n_triangles,
        row.clustering_bp,
    ) == (4, 4, 5, 1, 3 * 1 * 10000 // 5)


def test_s09_split_is_leakage_free_and_conserves(spark, tmp_path):
    # three byte-different copies normalizing to ONE fingerprint + two
    # unique docs; the duplicated group must land whole in a single split.
    texts = [
        "Same text!",
        "same   TEXT",
        "same text",
        "unique one",
        "another unique",
    ]
    docs = pa.table(
        {
            "doc_id": list(range(1, 6)),
            "text": texts,
            "lang": ["en"] * 5,
            "source": ["s"] * 5,
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    rows = QUERIES["s09_leakage_safe_split"](spark, str(tmp_path)).collect()
    assert sum(r.n_docs for r in rows) == 5
    assert sum(r.n_groups for r in rows) == 3
    assert sum(r.n_dup_docs for r in rows) == 3  # the whole trio, one split
    assert all(r.straddling_docs == 0 for r in rows)
    # the dup trio is in exactly one split row (its split has >=3 docs)
    assert sum(1 for r in rows if r.n_dup_docs == 3) == 1


def test_q73_pagerank_matches_python_reference(spark, tmp_path):
    """Pure-Python integer PageRank on a 4-node graph (triangle 1-2-3 plus
    pendant 4 attached to 3) must match the distributed result exactly —
    the whole point of the fixed-point arithmetic."""
    li = pa.table(
        {
            "l_orderkey": [1, 1, 1, 2, 2],
            "l_partkey": [1, 2, 3, 3, 4],
        }
    )
    pq.write_table(li, str(tmp_path / "lineitem.parquet"))

    from delta_lake_spark.queries.tpch_gap import _PR_ITERS, _PR_TOTAL

    edges = {(1, 2), (1, 3), (2, 3), (3, 4)}
    adj: dict[int, list[int]] = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    n = len(adj)
    init = _PR_TOTAL // n
    base = (15 * init) // 100
    r = {p: init for p in adj}
    for _ in range(_PR_ITERS):
        incoming = {p: 0 for p in adj}
        for p, nbrs in adj.items():
            c = r[p] // len(nbrs)
            for q in nbrs:
                incoming[q] += c
        r = {p: base + (85 * incoming[p]) // 100 for p in adj}
    want = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))

    got = [
        (row.l_partkey, row.rank_pico)
        for row in QUERIES["q73_copurchase_pagerank"](spark, str(tmp_path)).collect()
    ]
    assert got == want


def test_q73_large_graph_shape_matches_broadcast_shape(spark, monkeypatch):
    """The non-broadcast (adjacency) loop used past _PR_BCAST_MAX_VERTICES
    must produce bit-identical ranks to the broadcast shape — forced here
    by dropping the cap to 0 (r10: the large shape switched from the
    src-partitioned edge layout to grouped adjacency arrays; sf10x
    head-to-head in OPTIMIZATION_r10.md §6, differential pinned here)."""
    from delta_lake_spark.queries import tpch_gap

    small = sorted(
        (r.l_partkey, r.rank_pico)
        for r in QUERIES["q73_copurchase_pagerank"](spark, SF_SMOKE).collect()
    )
    monkeypatch.setattr(tpch_gap, "_PR_BCAST_MAX_VERTICES", 0)
    large = sorted(
        (r.l_partkey, r.rank_pico)
        for r in QUERIES["q73_copurchase_pagerank"](spark, SF_SMOKE).collect()
    )
    assert small == large


def test_q74_pit_enrichment_tiny(spark, tmp_path):
    """Click at the same microsecond as a tier change gets the NEW tier
    (change-first tie rule); clicks before any purchase group under NULL."""
    _write_events(
        tmp_path,
        [
            (1, _ts(1), 50.0, "purchase"),   # tier 0 from day 1
            (1, _ts(2), 10.0, "click"),      # -> tier 0, 10000 milli
            (1, _ts(3), 150.0, "purchase"),  # tier 1 from day 3
            (1, _ts(3), 20.0, "click"),      # same instant -> NEW tier 1
            (2, _ts(1), 5.0, "click"),       # no purchase yet -> NULL tier
            (2, _ts(2), 400.0, "error"),     # other types ignored
        ],
    )
    rows = {
        r.tier_at: (r.n_clicks, r.total_value_milli)
        for r in QUERIES["q74_pit_tier_enrichment"](spark, str(tmp_path)).collect()
    }
    assert rows == {None: (1, 5000), 0: (1, 10000), 1: (1, 20000)}


def test_q75_hierarchy_rollup_matches_python_reference(spark, tmp_path):
    """Pointer-doubling must land the same (root, depth, subtree) results
    as a sequential parent-chase in pure Python."""
    import decimal

    keys = list(range(1, 40))
    cust = pa.table(
        {
            "c_custkey": keys,
            "c_acctbal": [round(k * 1.25, 2) for k in keys],
        }
    )
    pq.write_table(cust, str(tmp_path / "customer.parquet"))

    def parent(k):
        return (k * 7919 // 10) % k

    agg = {}
    for k in keys:
        a, d = k, 0
        while a >= 10:
            a, d = parent(a), d + 1
        r = agg.setdefault(a, [0, 0, decimal.Decimal(0)])
        r[0] += 1
        r[1] = max(r[1], d)
        r[2] += decimal.Decimal(str(round(k * 1.25, 2)))
    want = {
        root: (n, md, float(bal)) for root, (n, md, bal) in agg.items()
    }
    got = {
        r.root: (r.n_nodes, r.max_depth, r.subtree_balance)
        for r in QUERIES["q75_hierarchy_rollup"](spark, str(tmp_path)).collect()
    }
    assert got == want


def test_q78_longest_streak_tiny(spark, tmp_path):
    # user 1: days 1,2,3 then 5,6 -> longest 3, 5 active days, 2 streaks
    # user 2: day 2 only          -> longest 1
    _write_events(
        tmp_path,
        [
            (1, _ts(1), 1.0, "view"),
            (1, _ts(2), 1.0, "view"),
            (1, _ts(2), 2.0, "click"),   # same day twice: still ONE active day
            (1, _ts(3), 1.0, "view"),
            (1, _ts(5), 1.0, "view"),
            (1, _ts(6), 1.0, "view"),
            (2, _ts(2), 1.0, "view"),
        ],
    )
    out = [
        (r.user_id, r.longest_streak, r.active_days, r.n_streaks)
        for r in QUERIES["q78_longest_daily_streak"](spark, str(tmp_path)).collect()
    ]
    assert out == [(1, 3, 5, 2), (2, 1, 1, 1)]


def test_q79_funnel_tiny(spark, tmp_path):
    import datetime

    def at(day, hour):
        return datetime.datetime(2024, 1, day, hour)

    _write_events(
        tmp_path,
        [
            # user 1 completes: view d1 -> click d2 (within 3d) -> purchase d5
            (1, at(1, 0), 1.0, "view"),
            (1, at(2, 0), 1.0, "click"),
            (1, at(5, 0), 1.0, "purchase"),
            # user 2: view d1, click too late (d1+4d), purchase irrelevant
            (2, at(1, 0), 1.0, "view"),
            (2, at(5, 1), 1.0, "click"),
            (2, at(6, 0), 1.0, "purchase"),
            # user 3: click/purchase but never a view -> enters no step
            (3, at(1, 0), 1.0, "click"),
            (3, at(2, 0), 1.0, "purchase"),
            # user 4: no funnel event types at all -> OUTSIDE the funnel
            # population (the query filters to funnel steps before counting,
            # so denominators are "users with any funnel-step event")
            (4, at(1, 0), 1.0, "error"),
        ],
    )
    rows = QUERIES["q79_funnel_conversion"](spark, str(tmp_path)).collect()
    got = [(r.step, r.users, r.conv_from_prev_bp, r.conv_from_first_bp) for r in rows]
    # population = 3 (users 1-3); 2 viewed (10000*2//3=6666), 1 clicked in
    # window (10000*1//2=5000 of viewers), 1 purchased (10000 of clickers,
    # 5000 of viewers)
    assert got == [
        ("view", 2, 6666, 10000),
        ("click", 1, 5000, 5000),
        ("purchase", 1, 10000, 5000),
    ]


def test_s10_pps_sample_properties(spark, tmp_path):
    # Weighted Poisson sampling: selection must be (a) deterministic across
    # runs, (b) a pure per-row function of (doc_id, weight, W) — verified by
    # a pure-Python replica of the integer inclusion test.
    import hashlib

    n = 400
    texts = ["x" * ((i * 37) % 500 + 10) for i in range(1, n + 1)]
    docs = pa.table(
        {
            "doc_id": list(range(1, n + 1)),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    w_total = sum(len(t) for t in texts)
    k = 200  # _PPS_K

    def included(doc_id, w):
        u48 = int(hashlib.md5(f"pps:{doc_id}".encode()).hexdigest()[:12], 16)
        return u48 * w_total < k * w * (1 << 48)

    expect = sorted(
        i for i, t in zip(range(1, n + 1), texts) if included(i, len(t))
    )
    got = [
        r.doc_id
        for r in QUERIES["s10_weighted_pps_sample"](spark, str(tmp_path)).collect()
    ]
    assert got == expect
    # re-run: identical selection (content-addressed, no RNG state)
    again = [
        r.doc_id
        for r in QUERIES["s10_weighted_pps_sample"](spark, str(tmp_path)).collect()
    ]
    assert again == got
    # weighting is real: selected docs skew heavier than the corpus average
    sel_w = [len(texts[i - 1]) for i in got]
    assert sum(sel_w) / len(sel_w) > w_total / n


def test_t21_heavy_hitters_tiny(spark, tmp_path):
    # exact top-k must match a pure-Python count on a corpus with a clear
    # frequency gradient
    texts = (
        ["alpha beta gamma"] * 6
        + ["beta gamma delta"] * 4
        + ["gamma delta epsilon"] * 2
        + ["zeta eta theta"]
    )
    docs = pa.table(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    import collections

    exp = collections.Counter(" ".join(texts).split())
    expect = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [
        (r.word, r.cnt)
        for r in QUERIES["t21_heavy_hitters"](spark, str(tmp_path)).collect()
    ]
    assert got == expect


def test_misra_gries_candidate_guarantee(spark):
    # force trims with a tiny m: every item with global freq > N/(m+1) must
    # still be emitted by at least one partition (the two-phase exactness
    # precondition)
    import collections

    from delta_lake_spark.functions.pandas_ops import misra_gries_candidates

    words = ["hot0"] * 300 + ["hot1"] * 150 + ["hot2"] * 100
    for i in range(37):          # light tail: 10 occurrences each
        words += [f"w{i:02d}"] * 10
    rows = [(words[i : i + 5],) for i in range(0, len(words), 5)]
    df = spark.createDataFrame(rows, "toks: array<string>").repartition(4)
    m = 8
    cands = {
        r.candidate for r in misra_gries_candidates(df, "toks", m=m).collect()
    }
    counts = collections.Counter(words)
    n = sum(counts.values())
    must_have = {w for w, c in counts.items() if c > n / (m + 1)}
    assert must_have and must_have <= cands


def test_q80_pattern_match_tiny(spark, tmp_path):
    import datetime

    def at(day, minute):
        return datetime.datetime(2024, 1, day, 10, minute)

    _write_events(
        tmp_path,
        [
            # user 1 session A: view, click, purchase -> browse_to_buy
            (1, at(1, 0), 1.0, "view"),
            (1, at(1, 10), 1.0, "click"),
            (1, at(1, 20), 1.0, "purchase"),
            # user 1 session B (next day): single error -> bounce
            (1, at(2, 0), 1.0, "error"),
            # user 2 one session: 3 errors + a view -> error_riddled
            (2, at(1, 0), 1.0, "error"),
            (2, at(1, 5), 1.0, "error"),
            (2, at(1, 10), 1.0, "view"),
            (2, at(1, 15), 1.0, "error"),
        ],
    )
    rows = QUERIES["q80_session_pattern_match"](spark, str(tmp_path)).collect()
    got = [(r.pattern, r.n_sessions, r.matched, r.share_bp) for r in rows]
    assert got == [
        ("browse_to_buy", 3, 1, 3333),
        ("bounce", 3, 1, 3333),
        ("error_riddled", 3, 1, 3333),
    ]


def test_d20_prefix_filter_equals_brute_force(spark, tmp_path):
    # lossless-ness on a corpus with engineered near-dups: prefix-filter
    # result must equal the quadratic brute force computed in Python
    base = "the quick brown fox jumps over the lazy dog again and again"
    texts = [
        base,
        base + " tonight",                      # near-dup of 0
        base.replace("quick", "slow"),          # near-dup of 0
        "completely different words entirely here now",
        "another unrelated document about spark engines",
        "the quick brown fox jumps over the lazy dog again and again tonight",  # exact dup of 1
    ]
    docs = pa.table(
        {
            "doc_id": list(range(1, len(texts) + 1)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))

    def bigrams(t):
        # hashed-shingle twin of functions/dedup.py (d06/d20 convention)
        def h(s):
            return sum(
                (ord(s[i]) if i < len(s) else 0) * 31 ** (7 - i) for i in range(8)
            )

        ws = t.split()
        return set(h(f"{a} {b}") for a, b in zip(ws, ws[1:]))

    expect = []
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = bigrams(texts[i]), bigrams(texts[j])
            inter = len(a & b)
            union = len(a | b)
            if union and 5 * inter >= 3 * union:
                expect.append((i + 1, j + 1, inter, union, inter * 10000 // union))
    got = [
        (r.id_a, r.id_b, r.inter_size, r.union_size, r.jaccard_bp)
        for r in QUERIES["d20_prefix_filter_jaccard"](spark, str(tmp_path)).collect()
    ]
    assert got == sorted(expect)
    assert any(j == 10000 for *_, j in got)  # the exact dup is in there


def test_t22_decontamination_tiny(spark, tmp_path):
    # eval doc (src19) shares one exact 4-word run with train doc 1 only
    texts = [
        "alpha beta gamma delta epsilon zeta",   # train: shares 'alpha beta gamma delta'
        "one two three four five six",            # train: clean
        "alpha beta gamma delta something else",  # eval (src19)
    ]
    docs = pa.table(
        {
            "doc_id": [1, 2, 3],
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["src0", "src1", "src19"],
            "n_chars": [len(t) for t in texts],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    got = [
        (r.doc_id, r.source, r.n_collide, r.n_ngrams, r.contamination_bp)
        for r in QUERIES["t22_decontamination"](spark, str(tmp_path)).collect()
    ]
    # doc 1 has 3 distinct 4-grams, exactly 1 collides with the eval set
    assert got == [(1, "src0", 1, 3, 3333)]


def test_s12_mixture_plan_tiny(spark, tmp_path):
    # two sources: src0 (w=1), src1 (w=2); total weight 3, budget 1,000,000
    docs = pa.table(
        {
            "doc_id": [1, 2, 3],
            "text": ["a b c d", "e f", "g h i"],  # src0: 4 tokens; src1: 2+3=5
            "lang": ["en"] * 3,
            "source": ["src0", "src1", "src1"],
            "n_chars": [7, 3, 5],
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    got = [tuple(r) for r in QUERIES["s12_mixture_plan"](spark, str(tmp_path)).collect()]
    # src0: w=1 -> weight 3333bp, target 333333, repeat 333333*10000//4
    # src1: w=2 -> weight 6666bp, target 666666, repeat 666666*10000//5
    assert got == [
        ("src0", 4, 3333, 333333, 333333 * 10000 // 4),
        ("src1", 5, 6666, 666666, 666666 * 10000 // 5),
    ]


def test_q81_ab_readout_tiny(spark, tmp_path):
    from delta_lake_spark.functions.sampling import hash_bucket

    # deterministic arms: compute each user's bucket the same way the query
    # does, then build events so each arm has known conversions/revenue
    base = datetime.datetime(2024, 1, 1)
    rows = []
    # 6 users, user i emits a view; even users also purchase value 10.00
    for u in range(1, 7):
        rows.append((u, base + datetime.timedelta(minutes=u), 1.0, "view"))
        if u % 2 == 0:
            rows.append((u, base + datetime.timedelta(minutes=u + 1), 10.0, "purchase"))
    _write_events(tmp_path, rows)
    out = QUERIES["q81_ab_experiment_readout"](spark, str(tmp_path)).collect()[0]
    # recompute expectations with the same hash assignment
    arms = {
        u: ("treatment" if r < 5000 else "control")
        for u, r in (
            (u, spark.range(1).select(hash_bucket(F.lit(u).cast("long"), "ab")).first()[0])
            for u in range(1, 7)
        )
    }
    n = {"control": 0, "treatment": 0}
    conv = {"control": 0, "treatment": 0}
    rev = {"control": 0, "treatment": 0}
    for u in range(1, 7):
        n[arms[u]] += 1
        if u % 2 == 0:
            conv[arms[u]] += 1
            rev[arms[u]] += 10
    assert (out.n_control, out.n_treatment) == (n["control"], n["treatment"])
    assert (out.conv_control, out.conv_treatment) == (conv["control"], conv["treatment"])
    assert out.conv_control_bp == conv["control"] * 10000 // n["control"]
    assert out.conv_treatment_bp == conv["treatment"] * 10000 // n["treatment"]
    assert out.lift_bp == conv["treatment"] * n["control"] * 10000 // (
        n["treatment"] * conv["control"]
    )
    assert out.rev_milli_control == rev["control"] * 1000 // n["control"]
    assert out.rev_milli_treatment == rev["treatment"] * 1000 // n["treatment"]


def test_v15_diversified_topk_tiny(spark, tmp_path):
    # 7 vectors in 4 integer labels; every vec_id < 5 is a query.  For each
    # query the diversified top-k keeps at most one candidate per label;
    # vec 1 is a scaled copy of vec 0 (cosine exactly 1.0), so it must be
    # query 0's rank-1 result.
    import numpy as np

    rng = np.random.default_rng(11)
    vecs = [list(map(float, rng.normal(size=8))) for _ in range(7)]
    vecs[1] = [v * 2 for v in vecs[0]]
    emb = pa.table(
        {
            "vec_id": list(range(7)),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0, 1, 1, 2, 2, 3, 3], pa.int32()),
        }
    )
    pq.write_table(emb, str(tmp_path / "embeddings.parquet"))
    got = QUERIES["v15_label_diversified_topk"](spark, str(tmp_path)).collect()
    for qid in range(5):
        labels = [r.label for r in got if r.qid == qid]
        assert len(labels) == len(set(labels)), f"duplicate label for qid {qid}"
    q0 = [r for r in got if r.qid == 0]
    assert q0[0].vid == 1 and q0[0].rank == 1 and abs(q0[0].sim - 1.0) < 1e-12
