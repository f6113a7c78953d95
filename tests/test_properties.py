"""Property-based checks (hypothesis): engine operators vs plain-Python
models on randomized inputs — paginate as list slicing, shingles and
token counts as string ops, dedup as set semantics, assignment as a pure
hash function. Few examples per property (each round-trips through
Spark), but each example is adversarially shrunk on failure."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.operators import dedup as D
from realtime_voting_data_engineering_spark.operators import text as X
from realtime_voting_data_engineering_spark.operators.relational import (
    deterministic_assignment,
    paginate,
)
from tests.test_dedup import CC_ENGINES, cc_engine

SET = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,  # reproducible examples — no CI flakes
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=8
)
texts = st.lists(words, min_size=0, max_size=30).map(" ".join)


@given(vals=st.lists(st.integers(-1000, 1000), min_size=0, max_size=50, unique=True),
       page=st.integers(1, 4), size=st.integers(1, 7))
@SET
def test_paginate_is_sorted_slice(spark, vals, page, size):
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    got = [r.v for r in paginate(df, [F.col("v").asc()], page, size).collect()]
    expected = sorted(vals)[(page - 1) * size : page * size]
    assert got == expected


@given(keys=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=30, unique=True),
       n=st.integers(2, 7))
@SET
def test_assignment_in_range_and_deterministic(spark, keys, n):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    a1 = {r.k: r.b for r in deterministic_assignment(df, "k", n, "b").collect()}
    a2 = {r.k: r.b for r in deterministic_assignment(df, "k", n, "b").collect()}
    assert a1 == a2
    assert all(0 <= b < n for b in a1.values())


@given(text=texts)
@SET
def test_token_count_matches_python_split(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(X.token_count("text").alias("n")).collect()[0].n
    # SQL split semantics: blank text is one (empty) token — see token_count.
    expected = len(text.split()) if text.strip() else 1
    assert got == expected


@given(text=texts)
@SET
def test_shingles_match_python_model(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(D.word_shingles("text", n=3).alias("s")).collect()[0].s
    toks = text.split()
    expected = sorted({" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))})
    assert sorted(set(got or [])) == expected


def test_hash_sampling_is_partition_stable_and_split_is_total(spark, sf_dir):
    """The sampling contract: hash-based selection must not change under
    repartitioning (seed-based .sample() does); splits must be disjoint,
    exhaustive, and within loose tolerance of the 80/10/10 design."""
    from realtime_voting_data_engineering_spark.operators import relational as R
    from realtime_voting_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    s1 = {r.doc_id for r in R.deterministic_sample(docs, "doc_id", 0.1).collect()}
    s2 = {
        r.doc_id
        for r in R.deterministic_sample(
            docs.repartition(13, "source"), "doc_id", 0.1
        ).collect()
    }
    assert s1 == s2 and s1, "sample must be identical under repartitioning"

    labeled = R.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.9, "test": 1.0}
    )
    counts = {
        r.split: r.n
        for r in labeled.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = docs.count()
    assert sum(counts.values()) == total  # exhaustive + disjoint by construction
    assert abs(counts["train"] / total - 0.8) < 0.05
    assert abs(counts.get("val", 0) / total - 0.1) < 0.04
    assert abs(counts.get("test", 0) / total - 0.1) < 0.04


def test_staged_text_features_equal_composed_spec(spark, sf_dir):
    """The composed column helpers (lang_id, quality_score, ratios) are
    the executable SPEC; the staged projections used in the hot paths
    (text_profile, with_lang_pred, with_quality_score) are the fast
    form. They must agree row-for-row on the corpus — this pins every
    future staging refactor to the spec."""
    from pyspark.sql import functions as F

    from realtime_voting_data_engineering_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    spec_rows = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            X.lang_id("text").alias("lang_pred"),
            X.quality_score("text").alias("quality_score"),
            F.round(X.stopword_ratio("text"), 6).alias("stopword_ratio"),
            F.round(X.punct_ratio("text"), 6).alias("punct_ratio"),
            F.round(X.avg_token_len("text"), 6).alias("avg_token_len"),
        ).collect()
    }
    fast_rows = {r.doc_id: r for r in X.text_profile(docs).collect()}
    lang_fast = {
        r.doc_id: r.lang_pred
        for r in X.with_lang_pred(docs.select("doc_id", "text")).collect()
    }
    q_fast = {
        r.doc_id: r.quality_score
        for r in X.with_quality_score(docs.select("doc_id", "text")).collect()
    }
    assert set(spec_rows) == set(fast_rows)
    for doc_id, spec in spec_rows.items():
        fast = fast_rows[doc_id]
        assert spec.lang_pred == fast.lang_pred == lang_fast[doc_id], doc_id
        assert spec.quality_score == fast.quality_score == q_fast[doc_id], doc_id
        assert spec.stopword_ratio == fast.stopword_ratio, doc_id
        assert spec.punct_ratio == fast.punct_ratio, doc_id
        assert spec.avg_token_len == fast.avg_token_len, doc_id


@given(rows=st.lists(
    st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c"])),
    min_size=0, max_size=40))
@SET
def test_exact_dedup_is_set_semantics(spark, rows):
    if not rows:
        return
    df = spark.createDataFrame(rows, "user_id int, event_type string")
    got = {(r.user_id, r.event_type) for r in D.exact_dedup(df, ["user_id", "event_type"]).collect()}
    assert got == set(rows)


def test_hash_split_rejects_out_of_order_bounds(spark):
    """Mis-ordered cumulative bounds would silently mislabel rows via the
    reversed CASE chain — must be rejected up front."""
    import pytest

    from realtime_voting_data_engineering_spark.operators import relational as R

    df = spark.range(10).toDF("doc_id")
    with pytest.raises(AssertionError, match="strictly increasing"):
        R.hash_split(df, "doc_id", {"val": 0.9, "train": 0.8, "test": 1.0})


def test_asof_join_edge_semantics(spark):
    """Inclusive tie (right row AT the left time matches), most-recent
    selection among multiple updates, NULL fill when no right row
    precedes the left row, and — the subtle one — a matched right row
    whose VALUE is legitimately NULL must attach its NULL (with its own
    __asof_time), not fall back to an older row's value. DuckDB's native
    ASOF JOIN has the same semantics."""
    from realtime_voting_data_engineering_spark.operators import relational as R

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 10, 50), (4, 99, 100), (5, 10, 260)],
        "eid long, k long, t long",
    )
    right = spark.createDataFrame(
        [(10, 100, 1.0), (10, 200, 2.0), (10, 250, None), (10, 300, 3.0),
         (77, 1, 9.9)],
        "k long, t long, v double",
    )
    got = {
        r.eid: (r.v, r["__asof_time"])
        for r in R.asof_join(
            left, right, "k", "k", "t", "t", value_cols=["v"]
        ).collect()
    }
    assert got[1] == (1.0, 100)   # tie at t=100 matches inclusively
    assert got[2] == (2.0, 200)   # most recent of the two preceding updates
    assert got[3] == (None, None)  # nothing at-or-before t=50
    assert got[4] == (None, None)  # key with no right rows at all
    assert got[5] == (None, 250)  # matched row's NULL value, ITS time


def _ts(seconds: float):
    import datetime as dt

    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


@given(
    points=st.lists(st.integers(0, 120), min_size=0, max_size=25),
    ivs=st.lists(
        st.tuples(st.integers(0, 120), st.integers(0, 40)),
        min_size=0,
        max_size=15,
    ),
    bucket=st.sampled_from([1, 7, 30, 200]),
)
@SET
def test_interval_join_matches_naive_model(spark, points, ivs, bucket):
    """Bucketed range join == the naive all-pairs containment model, for
    every bucket width — narrower than the intervals (multi-bucket
    explode), wider than the whole domain (single bucket), and in
    between. Inclusive bounds on both ends; each qualifying pair appears
    exactly ONCE (the no-DISTINCT claim in the operator docstring)."""
    from realtime_voting_data_engineering_spark.operators import relational as R

    pts = spark.createDataFrame(
        [(i, _ts(s)) for i, s in enumerate(points)], "pid long, pt timestamp"
    )
    intervals = spark.createDataFrame(
        [(i, _ts(s), _ts(s + d)) for i, (s, d) in enumerate(ivs)],
        "iid long, s timestamp, e timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in R.interval_join(
            pts, intervals, "pt", "s", "e", bucket_seconds=bucket
        ).collect()
    )
    expected = sorted(
        (pi, ii)
        for pi, p in enumerate(points)
        for ii, (s, d) in enumerate(ivs)
        if s <= p <= s + d
    )
    assert got == expected  # equality also proves exactly-once emission


def test_interval_join_subsecond_boundaries(spark):
    """Seconds-truncated bucketing must not lose sub-second matches: a
    point at t=10.4s against intervals with fractional endpoints, at a
    1-second bucket width (the adversarial case — truncation moves
    bucket boundaries the most relative to the data)."""
    from realtime_voting_data_engineering_spark.operators import relational as R

    pts = spark.createDataFrame([(1, _ts(10.4))], "pid long, pt timestamp")
    intervals = spark.createDataFrame(
        [
            (1, _ts(10.5), _ts(11.5)),  # starts after the point: no match
            (2, _ts(9.5), _ts(10.4)),   # ends exactly AT the point: match
            (3, _ts(10.4), _ts(10.4)),  # zero-length at the point: match
            (4, _ts(8.0), _ts(10.3)),   # ends just before: no match
        ],
        "iid long, s timestamp, e timestamp",
    )
    got = sorted(
        r.iid
        for r in R.interval_join(
            pts, intervals, "pt", "s", "e", bucket_seconds=1
        ).collect()
    )
    assert got == [2, 3]


@given(
    changes=st.lists(
        st.tuples(
            st.integers(1, 5),            # key
            st.integers(0, 20),           # seq
            st.sampled_from(["upsert", "delete"]),
            st.floats(-10, 10, allow_nan=False),
        ),
        min_size=1,
        max_size=25,
    ),
    perm_seed=st.integers(0, 1000),
)
@SET
def test_apply_changes_latest_is_input_order_invariant(spark, changes, perm_seed):
    """CDC merge must be a pure function of the change SET: applying the
    same changes in any arrival order yields the same final state (the
    (seq, tiebreak) ordering decides, not partition/arrival order).
    Model: per key, sort by (seq, op, value) with a total tiebreak and
    keep the last non-delete-final row."""
    import random

    from realtime_voting_data_engineering_spark.operators.relational import (
        apply_changes_latest,
    )

    # make the sequencing column total per key so the winner is unique:
    # (seq, idx) where idx is the change's position in the CANONICAL
    # (sorted) list — both frames carry the same idx regardless of order.
    canon = sorted(changes)
    rows = [
        (k, seq, idx, op, v) for idx, (k, seq, op, v) in enumerate(canon)
    ]
    shuffled = rows[:]
    random.Random(perm_seed).shuffle(shuffled)

    def run(data):
        df = spark.createDataFrame(
            data, schema="k int, seq int, idx int, op string, v double"
        )
        out = apply_changes_latest(
            df, ["k"], ["seq", "idx"], delete_predicate=F.col("op") == "delete"
        )
        return {(r.k, r.seq, r.idx, r.op, r.v) for r in out.collect()}

    assert run(rows) == run(shuffled)

    # python model: winner per key = max (seq, idx); drop if delete
    winners = {}
    for k, seq, idx, op, v in rows:
        cur = winners.get(k)
        if cur is None or (seq, idx) > (cur[0], cur[1]):
            winners[k] = (seq, idx, op, v)
    expect = {
        (k, seq, idx, op, v)
        for k, (seq, idx, op, v) in winners.items()
        if op != "delete"
    }
    assert run(rows) == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0,
        max_size=18,
    ),
    engine=st.sampled_from(CC_ENGINES),
)
@SET
def test_connected_components_matches_union_find_on_random_graphs(
    spark, edges, engine
):
    """Both CC engines vs a plain-Python union-find on RANDOM multigraphs
    (duplicate edges, self-loops, both orientations all allowed) —
    directly exercises the r6 lazy-checkpoint convergence path across
    arbitrary component shapes, not just the fixed showcase graph."""
    df = spark.createDataFrame(edges, "id_a long, id_b long") if edges else (
        spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {r.id_a: r.cluster_id for r in cc_engine(df, engine).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    assert got == expected
