"""At-rest layout proofs: bucketed joins plan without exchanges,
partitioned datasets prune at planning time. These are the plan-level
guarantees SCALE.md's 100 TB strategy rests on."""

from __future__ import annotations

import contextlib
import io
import uuid

import pytest
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.sources import layout as L
from realtime_voting_data_engineering_spark.sources.tables import load_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def two_tables(spark):
    a, b = f"bl_{uuid.uuid4().hex[:8]}", f"bo_{uuid.uuid4().hex[:8]}"
    yield a, b
    spark.sql(f"DROP TABLE IF EXISTS `{a}`")
    spark.sql(f"DROP TABLE IF EXISTS `{b}`")


def test_bucketed_join_has_no_exchange(spark, sf_dir, two_tables):
    li_t, o_t = two_tables
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    L.write_bucketed(li, li_t, ("l_orderkey",), 8, sort_cols=("l_orderkey",))
    L.write_bucketed(orders, o_t, ("o_orderkey",), 8, sort_cols=("o_orderkey",))
    assert L.bucketed_join_ready(spark, li_t, o_t)

    joined = (
        spark.table(li_t)
        .join(
            spark.table(o_t),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the join itself must need no shuffle: both sides pre-bucketed on the
    # key. The only exchange allowed is the final groupBy's. Disable
    # broadcast so the plan actually exercises the bucketed SMJ path.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(joined)
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        # one exchange for the aggregate; none keyed on the join columns
        assert not any("l_orderkey" in l or "o_orderkey" in l for l in exchanges), exchanges
        # correctness unchanged
        expected = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .count()
        )
        got = {r.o_orderpriority: r.n for r in joined.collect()}
        exp = {r.o_orderpriority: r["count"] for r in expected.collect()}
        assert got == exp
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_compact_files_reduces_file_count_preserving_rows(spark, sf_dir, tmp_path):
    """Small-file maintenance: a fragmented dataset (one file per
    micro-batch) compacts to ceil(bytes/target) files via the crash-safe
    staged swap, with identical rows and no leftover snapshot dirs."""
    import os

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = str(tmp_path / "fragmented")
    events.repartition(40).write.parquet(path)  # simulate 40 micro-batches
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_before >= 40
    before_rows = events.count()

    n_target = L.compact_files(spark, path, target_file_bytes=512 * 1024)
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after == n_target < n_before
    after = spark.read.parquet(path)
    assert after.count() == before_rows
    assert {r.event_id for r in after.select("event_id").collect()} == {
        r.event_id for r in events.select("event_id").collect()
    }
    leftovers = [p for p in os.listdir(tmp_path) if "epoch" in p]
    assert leftovers == []


def test_ivf_index_at_rest_prunes_probed_clusters(spark, sf_dir, tmp_path):
    """The IVF index as an at-rest layout: vectors written partitioned
    by their inverted-list id. A probe query filtering on the nprobe
    nearest clusters must prune the other partitions at planning time —
    at 100 TB a probe reads nprobe/n_centroids of the corpus off disk,
    not all of it."""
    from realtime_voting_data_engineering_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = S.ivf_fixed_assign(emb, dims=64, n_centroids=8)
    path = str(tmp_path / "ivf_index")
    L.write_partitioned(assigned, path, ("cluster",))

    probes = [0, 3]
    df = spark.read.parquet(path).filter(F.col("cluster").isin(probes))
    plan = plan_of(df)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("cluster" in l for l in part_lines), plan[:800]
    expected = {
        r.vec_id for r in assigned.filter(F.col("cluster").isin(probes)).collect()
    }
    got = {r.vec_id for r in df.collect()}
    assert got == expected and got


def test_partitioned_write_prunes_at_plan_time(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_part")
    L.write_partitioned(events, path, ("event_type",))
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = plan_of(df)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and any("event_type" in l for l in part_lines), plan[:800]
    # pruning is semantic too: only the one partition's rows
    n_click = events.filter(F.col("event_type") == "click").count()
    assert df.count() == n_click


def test_staged_swap_replay_with_leftover_epoch_dirs(spark, tmp_path):
    """Crash-replay scenario: a previous attempt at the SAME epoch left
    __old/__stage dirs behind (e.g. crash after the swap, before
    cleanup). Hadoop's rename-into-existing-dir would silently NEST and
    report failure only via a False return; the writer must clear the
    leftovers and still land the new snapshot."""
    target = str(tmp_path / "ds")
    L.staged_swap_write(spark.range(5).toDF("v"), target, epoch_id=1)
    # plant leftovers as a crashed epoch-2 attempt would leave them
    spark.range(99).toDF("v").write.parquet(f"{target}__old_epoch2")
    spark.range(98).toDF("v").write.parquet(f"{target}__stage_epoch2")
    L.staged_swap_write(spark.range(7).toDF("v"), target, epoch_id=2)
    assert spark.read.parquet(target).count() == 7
    import os
    leftovers = [d for d in os.listdir(tmp_path) if "__old" in d or "__stage" in d]
    assert leftovers == []
