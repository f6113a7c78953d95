"""Every registered query vs its DuckDB oracle — the local replica of the
driver's t2 gate (BASELINE.md)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark import queries as Q
from tests.oracle_harness import compare_query

_ORACLE_CASES = sorted(Q.REGISTRY)


@pytest.mark.parametrize("name", _ORACLE_CASES)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = Q.REGISTRY[name]
    compare_query(spark, name, spec.fn, spec.oracle, sf_dir)


def test_all_queries_return_rows(spark, sf_smoke):
    for name, spec in Q.REGISTRY.items():
        df = spec.fn(spark, sf_smoke)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"event_type", "total_votes", "total_value"}


def test_salted_join_matches_plain_join(spark, sf_dir):
    from realtime_voting_data_engineering_spark.operators.relational import salted_join
    from realtime_voting_data_engineering_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    plain = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .count()
        .collect()
    )
    salted = (
        salted_join(
            li.withColumnRenamed("l_partkey", "p_partkey"),
            part,
            key="p_partkey",
            row_key="l_orderkey",
            n_salts=8,
        )
        .groupBy("p_brand")
        .count()
        .collect()
    )
    assert {(r.p_brand, r["count"]) for r in plain} == {
        (r.p_brand, r["count"]) for r in salted
    }


def test_approx_distinct_within_rsd(spark, sf_dir):
    """The raw HLL++ estimate stays within 5% of exact (tighter than the
    10% accuracy contract ``approx_distinct_users_check`` certifies),
    and the contract query itself reports every group in-tolerance with
    the exact count the oracle will recompute."""
    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    both = {
        r.event_type: (r.approx_users, r.exact_users)
        for r in events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    }
    for et, (a, n) in both.items():
        assert abs(a - n) / n < 0.05, (et, a, n)

    check = Q.REGISTRY["approx_distinct_users_check"].fn(spark, sf_dir).collect()
    assert check and all(r.within_tolerance == 1 for r in check), check
    assert {r.event_type: r.exact_users for r in check} == {
        et: n for et, (_, n) in both.items()
    }


def test_approx_percentiles_close_to_exact(spark, sf_dir):
    """Raw GK estimates within 2% of exact quartiles (tighter than the
    p±0.01 envelope the contract certifies); the contract query reports
    all groups in-tolerance and its exact quartiles match the exact
    twin ``value_quartiles_by_type``."""
    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    approx = {
        r.event_type: (r.q1, r.median, r.q3)
        for r in events.groupBy("event_type")
        .agg(
            F.approx_percentile("value", 0.25, 10_000).alias("q1"),
            F.approx_percentile("value", 0.5, 10_000).alias("median"),
            F.approx_percentile("value", 0.75, 10_000).alias("q3"),
        )
        .collect()
    }
    exact = {
        r.event_type: (r.q1, r.median, r.q3)
        for r in Q.REGISTRY["value_quartiles_by_type"].fn(spark, sf_dir).collect()
    }
    for et, (q1, med, q3) in exact.items():
        a1, amed, a3 = approx[et]
        for a, e in ((a1, q1), (amed, med), (a3, q3)):
            assert abs(a - e) <= max(0.5, 0.02 * abs(e)), (et, a, e)

    check = {
        r.event_type: r
        for r in Q.REGISTRY["approx_value_quartiles_check"].fn(spark, sf_dir).collect()
    }
    assert check and all(r.within_tolerance == 1 for r in check.values()), check
    for et, (q1, med, q3) in exact.items():
        r = check[et]
        assert (r.q1, r.median, r.q3) == (q1, med, q3), (et, r)
