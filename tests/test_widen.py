"""Focused pins for the r15 scale-adaptive scan widening
(``sources.tables.widen_small_scan``) and the operators whose internals
it touched.

The contract under test: widening fires iff the table's total on-disk
bytes fit inside one scan split (the session's
``spark.sql.files.maxPartitionBytes``, 128 MB by default), repartitions
to the session's default parallelism, and NEVER changes what a query computes — only the
physical layout of the rows feeding compute-heavy stages.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.operators import dedup as D
from realtime_voting_data_engineering_spark.sources.tables import (
    load_table,
    table_input_bytes,
    widen_small_scan,
)


def test_table_input_bytes_matches_stat(sf_smoke):
    import os

    want = os.stat(os.path.join(sf_smoke, "documents.parquet")).st_size
    assert table_input_bytes(sf_smoke, "documents") == want
    assert table_input_bytes(sf_smoke, "no_such_table") is None


def test_widen_fires_only_below_threshold(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    base_parts = docs.rdd.getNumPartitions()

    # Default threshold: the smoke corpus is tiny, widening fires.
    wide = widen_small_scan(docs, spark, sf_smoke, "documents")
    assert (
        wide.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    # Split size below the table size (Spark's own size grammar):
    # provably-not-small, no-op.
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1k")
    try:
        same = widen_small_scan(docs, spark, sf_smoke, "documents")
        assert same is docs and same.rdd.getNumPartitions() == base_parts
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    # Unstat-able table (no local file): not provably small, no-op.
    assert widen_small_scan(docs, spark, sf_smoke, "no_such_table") is docs


def test_widen_preserves_rows_exactly(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    wide = widen_small_scan(docs, spark, sf_smoke, "documents")
    base_rows = sorted(docs.collect())
    assert sorted(wide.collect()) == base_rows


def test_minhash_signature_parallelism_is_row_identical(spark, sf_smoke):
    """The ``signature_parallelism`` fast path (widened layout feeding
    the signature stage) must not change a single output pair —
    signatures are per-doc aggregates, invariant to partitioning."""
    docs = load_table(spark, sf_smoke, "documents")
    base = D.minhash_dedup_pairs(docs, num_hashes=16, bands=4, threshold=0.5)
    wide = D.minhash_dedup_pairs(
        docs,
        num_hashes=16,
        bands=4,
        threshold=0.5,
        signature_parallelism=spark.sparkContext.defaultParallelism,
    )
    key = [F.col("id_a"), F.col("id_b")]
    assert sorted(base.orderBy(*key).collect()) == sorted(
        wide.orderBy(*key).collect()
    )
