"""Model test of MERGE's row outcomes: after every merge the table rows, the
change feed of that commit and its ``operation_metrics`` must equal a dict
model's.  The same merges run on a change-feed table and on a plain one (whose
unconditional upsert writes the kept rows plus the source).  Derandomized and
small so that it runs in the default tier."""

from __future__ import annotations

import shutil
import tempfile
from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from delta_lake_spark.tables import ManagedTable

# name -> merge clauses; model_merge states the same rules in Python
CLAUSES = {
    "upsert": {},
    "max_wins": {"matched_condition": "s.val > t.val"},
    "add_set": {"update_set": {"val": "t.val + s.val"}},
    "pos_insert": {"when_matched": "ignore", "not_matched_condition": "s.val >= 0"},
    "cond_delete": {
        "when_matched": "delete",
        "when_not_matched": "ignore",
        "matched_condition": "t.val < 0",
    },
    "sync": {"when_not_matched_by_source": "delete"},
    # the by-source condition holds before the update and not after it
    "flag_stale": {
        "when_matched": "ignore",
        "when_not_matched": "ignore",
        "when_not_matched_by_source": "update",
        "not_matched_by_source_set": {"val": "val - 100"},
        "not_matched_by_source_condition": "val >= 0",
    },
}


def model_merge(rows: dict, src: dict, op: str):
    kw = CLAUSES[op]
    matched_applies = {
        "max_wins": lambda t, s: s > t,
        "cond_delete": lambda t, s: t < 0,
    }.get(op, lambda t, s: True)
    post = (lambda t, s: t + s) if op == "add_set" else (lambda t, s: s)
    when_matched = kw.get("when_matched", "update_all")
    by_source = kw.get("when_not_matched_by_source", "ignore")
    out, changes, n = {}, [], Counter()
    for k, t in rows.items():
        if k in src:
            if not matched_applies(t, src[k]):
                out[k] = t
            elif when_matched == "update_all":
                out[k] = post(t, src[k])
                changes += [("update_preimage", k, t), ("update_postimage", k, out[k])]
                n["updated"] += 1
            elif when_matched == "delete":
                changes.append(("delete", k, t))
                n["deleted"] += 1
            else:
                out[k] = t
                n["matched"] += 1
        elif by_source == "delete":
            changes.append(("delete", k, t))
            n["deleted_by_source"] += 1
        elif by_source == "update" and t >= 0:
            out[k] = t - 100
            changes += [("update_preimage", k, t), ("update_postimage", k, t - 100)]
            n["updated_by_source"] += 1
        else:
            out[k] = t
    for k, s in src.items():
        inserts = kw.get("when_not_matched", "insert_all") == "insert_all"
        if k not in rows and inserts and (op != "pos_insert" or s >= 0):
            out[k] = s
            changes.append(("insert", k, s))
            n["inserted"] += 1
    metrics = {
        "num_source_rows": len(src),
        "num_target_rows_matched": n["matched"] + n["updated"] + n["deleted"],
        "num_target_rows_updated": n["updated"],
        "num_target_rows_deleted": n["deleted"],
        "num_target_rows_inserted": n["inserted"],
    }
    if by_source != "ignore":
        metrics["num_target_rows_deleted_by_source"] = n["deleted_by_source"]
        metrics["num_target_rows_updated_by_source"] = n["updated_by_source"]
    return out, sorted(changes), metrics


BATCH = st.lists(
    st.tuples(st.integers(0, 6), st.integers(-50, 50)),
    max_size=4,
    unique_by=lambda kv: kv[0],  # merge precondition: unique source keys
)
SCRIPT = st.lists(st.tuples(st.sampled_from(sorted(CLAUSES)), BATCH), min_size=1, max_size=3)


@settings(
    max_examples=2,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(script=SCRIPT)
# every clause at least once, conditions true and false, and an empty source
@example(
    script=[
        ("max_wins", [(0, 3), (1, 2), (5, 4)]),
        ("add_set", [(1, 10), (6, -3)]),
        ("pos_insert", [(2, 0), (3, -1), (4, 8)]),
        ("sync", [(1, 4), (6, 6)]),
    ]
)
@example(
    script=[
        ("cond_delete", [(6, 1)]),  # no file can hold key 6: nothing to rewrite
        ("cond_delete", [(0, 1), (1, 1)]),
        ("flag_stale", [(2, 5)]),
        ("upsert", []),
        ("upsert", [(1, 2), (3, 3)]),
    ]
)
def test_merge_outcomes_match_model(spark, script):
    """Each script ends with a by-source sync from an empty source, which
    deletes every row: its counts read 0, not None."""
    root = tempfile.mkdtemp(prefix="mt_outcomes_")
    try:
        first = [(0, -5), (1, 5), (2, 7)]
        cdf, plain = ManagedTable(spark, root + "/cdf"), ManagedTable(spark, root + "/plain")
        for t in (cdf, plain):
            t.write(spark.createDataFrame(first, "id long, val long"))
        cdf.enable_cdf()
        model = dict(first)
        for op, batch in [*script, ("sync", [])]:
            src = spark.createDataFrame(batch, "id long, val long")
            model, changes, metrics = model_merge(model, dict(batch), op)
            for t in (plain, cdf):  # cdf last: v is its commit
                v = t.merge(src, ["id"], **CLAUSES[op])
                assert {r.id: r.val for r in t.read().collect()} == model, (op, batch)
                assert t.history()[0]["operation_metrics"] == metrics, (op, batch)
            feed = cdf.change_feed(v - 1, v).collect()
            assert sorted((r._change_type, r.id, r.val) for r in feed) == changes, (op, batch)
        assert model == {}
    finally:
        shutil.rmtree(root, ignore_errors=True)
