"""Source-layer behavior: catalog DDL + seed-once guard, JDBC gating,
rate-source vote stream, footer-derived table schemas."""

from __future__ import annotations

import os
import subprocess
import sys
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from realtime_voting_data_engineering_spark.sources import catalog as C
from realtime_voting_data_engineering_spark.sources import jdbc as J
from realtime_voting_data_engineering_spark.sources import rate as RT
from realtime_voting_data_engineering_spark.sources import tables as TB


@pytest.fixture()
def table_name(spark):
    name = f"t_{uuid.uuid4().hex[:8]}"
    yield name
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_catalog_create_and_seed_once(spark, table_name):
    schema = T.StructType(
        [
            T.StructField("candidate_id", T.StringType()),
            T.StructField("candidate_name", T.StringType()),
        ]
    )
    C.create_table_if_not_exists(spark, table_name, schema)
    assert C.table_exists(spark, table_name)
    assert C.is_empty(spark, table_name)
    # DDL is idempotent
    C.create_table_if_not_exists(spark, table_name, schema)

    def gen(s):
        return s.createDataFrame([("c1", "Ada"), ("c2", "Grace")], schema)

    assert C.seed_once(spark, table_name, gen) is True
    assert spark.table(table_name).count() == 2
    # second seed is a no-op — the reference's len(candidates)==0 guard
    assert C.seed_once(spark, table_name, gen) is False
    assert spark.table(table_name).count() == 2


def test_jdbc_gating_raises_clear_error(spark):
    with pytest.raises(J.JdbcUnavailableError):
        J.read_table(spark, "jdbc:postgresql://nohost:5432/db", "candidates").collect()
    with pytest.raises(J.JdbcUnavailableError):
        J.write_table(
            spark.range(3), "jdbc:postgresql://nohost:5432/db", "votes"
        )


def test_rate_source_vote_stream(spark, tmp_path):
    votes = RT.vote_rate_stream(spark, rows_per_second=50, n_candidates=3)
    assert votes.isStreaming
    assert set(votes.columns) == {"voter_id", "candidate_id", "voting_time", "vote"}
    q = (
        votes.writeStream.format("memory")
        .queryName("rate_votes")
        .option("checkpointLocation", str(tmp_path / "ckpt_rate"))
        .start()
    )
    try:
        # generous deadline: under full-suite load micro-batches can lag
        deadline = time.time() + 90
        while time.time() < deadline:
            if spark.sql("SELECT * FROM rate_votes").count() >= 10:
                break
            time.sleep(0.5)
    finally:
        # stop BEFORE asserting: the memory sink grows between actions,
        # so two counts on a live stream see different snapshots
        q.stop()
    rows = spark.sql("SELECT * FROM rate_votes").collect()
    assert len(rows) >= 10, f"only {len(rows)} rows; status={q.status}"
    assert {r.candidate_id for r in rows} <= {"cand-0", "cand-1", "cand-2"}
    # deterministic-per-voter: same voter never maps to two candidates
    pairs = {(r.voter_id, r.candidate_id) for r in rows}
    assert len(pairs) == len({r.voter_id for r in rows})


def test_safe_arrow_conversion_is_pinned_and_loud(spark):
    """``ensure_session_confs`` pins
    ``spark.sql.execution.pandas.convertToArrowArraySafely=true``: a
    Pandas kernel emitting an out-of-range value into a narrower
    output-schema type must FAIL the task, not silently wrap (the
    default false turned int64 2^33+7 into int32 7 — ADVICE r10 #1's
    id-corruption class; every registered query passes through
    load_table, so the driver's vanilla session gets the pin too).
    Anti-vacuity: the same kernel under the unsafe default returns the
    wrapped value — proving the conf, not the cast, is what's loud.
    Every other conf in ``session.SESSION_CONFS`` is pinned the same
    way: each is reset (the timezone moved off UTC) and comes back."""
    import pandas as pd

    from realtime_voting_data_engineering_spark.session import SESSION_CONFS
    from realtime_voting_data_engineering_spark.sources.tables import (
        ensure_session_confs,
    )

    for k in SESSION_CONFS:
        spark.conf.unset(k)
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Chatham")
    ensure_session_confs(spark)
    for k, v in SESSION_CONFS.items():
        assert spark.conf.get(k) == v, k
    conf = "spark.sql.execution.pandas.convertToArrowArraySafely"

    def emit(_batches):
        yield pd.DataFrame({"x": [(1 << 33) + 7]})

    # coalesce(1): the kernel yields one frame per PARTITION, so a
    # multi-partition range would emit one wrapped row per partition.
    one = spark.range(1).coalesce(1)
    with pytest.raises(Exception, match="(?i)overflow|invalid|unsafe|conver"):
        one.mapInPandas(emit, schema="x int").collect()
    try:
        spark.conf.set(conf, "false")
        wrapped = one.mapInPandas(emit, schema="x int").collect()
        assert [r.x for r in wrapped] == [7], "wrap class gone — update pin"
    finally:
        spark.conf.set(conf, "true")


# --- load_table: footer-derived schema ---------------------------------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _in_group(spark, group: str, fn) -> None:
    """Run ``fn`` with its Spark jobs tagged with job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _parity(spark, path: str) -> None:
    """The frame built from the footer schema has the inferred schema."""
    built = spark.read.schema(TB.footer_schema(spark, path)).parquet(path)
    assert built.schema == spark.read.parquet(path).schema, path


def test_load_table_starts_no_spark_job(spark, sf_dir):
    """Building a table's DataFrame — schema access included — runs no
    Spark job (``spark.read.parquet`` alone runs a schema-inference job
    per call). Anti-vacuity: a control inference in a LATER group must
    show up first; the listener bus delivers events in order, so by then
    any job the loads started is visible too."""
    tag = uuid.uuid4().hex[:8]

    def load_all():
        for name in TB.TABLE_NAMES:
            TB.load_table(spark, sf_dir, name).schema

    loads, control = f"loads-{tag}", f"control-{tag}"
    _in_group(spark, loads, load_all)
    path = os.path.join(sf_dir, "region.parquet")
    _in_group(spark, control, lambda: spark.read.parquet(path).schema)
    tracker = spark.sparkContext.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(control) and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(control), "control inference job unseen"
    assert list(tracker.getJobIdsForGroup(loads)) == []


def test_footer_schema_matches_inference_for_corpus_tables(spark, sf_dir):
    for name in TB.TABLE_NAMES:
        _parity(spark, os.path.join(sf_dir, f"{name}.parquet"))


def test_footer_schema_matches_inference_for_part_directories(
    spark, sf_smoke, tmp_path
):
    """The split-audit layout — a multi-part directory whose first part
    is schema-only — with the hidden entries Spark's writers leave
    (``_SUCCESS``, ``.crc``) and a partition-directory layout: the
    schema and the rows match a plain inferred read."""
    import pyarrow.parquet as pq

    for name in ("events", "documents", "embeddings"):
        tbl = pq.read_table(os.path.join(sf_smoke, f"{name}.parquet"))
        d = tmp_path / "split" / f"{name}.parquet"
        d.mkdir(parents=True)
        (d / "_SUCCESS").write_bytes(b"")
        (d / ".part-000.parquet.crc").write_bytes(b"not parquet")
        pq.write_table(tbl.slice(0, 0), d / "part-000.parquet")
        pq.write_table(tbl.slice(0, 1), d / "part-001.parquet")
        pq.write_table(tbl.slice(1), d / "part-002.parquet", row_group_size=2)
        _parity(spark, str(d))
        loaded = TB.load_table(spark, str(tmp_path / "split"), name)
        assert loaded.count() == len(tbl), name

    docs = pq.read_table(os.path.join(sf_smoke, "documents.parquet"))
    d = tmp_path / "partitioned" / "documents.parquet"
    pq.write_to_dataset(docs, str(d), partition_cols=["lang"])
    _parity(spark, str(d))
    loaded = TB.load_table(spark, str(tmp_path / "partitioned"), "documents")
    assert "lang" in loaded.columns and loaded.count() == len(docs)

    empty = tmp_path / "empty" / "events.parquet"
    empty.mkdir(parents=True)
    (empty / "_SUCCESS").write_bytes(b"")
    with pytest.raises(FileNotFoundError):
        TB.load_table(spark, str(tmp_path / "empty"), "events")


def _nanos_check(spark, sf: str) -> list:
    """Footer/inference parity on the nanos file under ``spark``'s
    session confs, then the loaded ``ts`` as UTC micros."""
    TB.ensure_session_confs(spark)
    _parity(spark, os.path.join(sf, "events.parquet"))
    df = TB.load_table(spark, sf, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    return [
        r.us
        for r in df.orderBy("event_id").select(F.unix_micros("ts").alias("us")).collect()
    ]


_VANILLA_NANOS = r"""
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession
from realtime_voting_data_engineering_spark.sources import tables as TB
from tests.test_sources import _nanos_check

spark = SparkSession.builder.master("local[1]").getOrCreate()  # vanilla
spark.sparkContext.setLogLevel("ERROR")
path = sys.argv[2] + "/events.parquet"
for read in (lambda: TB.footer_schema(spark, path),
             lambda: spark.read.parquet(path).schema):
    try:
        read()
        print("NANOS_ACCEPTED_UNPINNED")
    except Exception as e:
        print("NANOS_REJECTED_UNPINNED", "PARQUET_TYPE_ILLEGAL" in str(e))
print("NANOS_MICROS", _nanos_check(spark, sys.argv[2]))
"""


def test_footer_schema_matches_inference_for_nanos_timestamps(spark, tmp_path):
    """The footer schema follows the session conf exactly as inference
    does on a TIMESTAMP(NANOS) column: a vanilla session rejects it
    until ``ensure_session_confs`` pins ``nanosAsLong`` (both reads fail
    with the same error), then both read it alike; the builder session
    and the vanilla one load the same micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999, None]
    sf = tmp_path / "nanos"
    sf.mkdir()
    ts = pa.array(nanos, pa.timestamp("ns"))
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts}),
        sf / "events.parquet",
    )
    sf = str(sf)
    want = [n // 1000 if n is not None else None for n in nanos]
    assert _nanos_check(spark, sf) == want
    proc = subprocess.run(
        [sys.executable, "-c", _VANILLA_NANOS, REPO, sf],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        timeout=600,
    )
    assert proc.stdout.count("NANOS_REJECTED_UNPINNED True") == 2 and (
        f"NANOS_MICROS {want}" in proc.stdout
    ), (
        proc.stdout[-2000:],
        proc.stderr[-3000:],
    )


def test_sql_api_query_leaves_the_session_catalog_unchanged(spark, sf_dir):
    """The SQL-API query binds its table as a DataFrame argument, so once
    it is built the session catalog lists exactly what it listed before:
    no corpus temp views left behind for a concurrent caller on another
    corpus to race on. A fresh session keeps views from earlier tests
    out of the baseline."""
    from realtime_voting_data_engineering_spark import queries as Q

    session = spark.newSession()

    def listed():
        return sorted(
            (t.name, t.tableType, t.isTemporary)
            for t in session.catalog.listTables()
        )

    before = listed()
    df = Q.REGISTRY["grouping_sets_revenue"].fn(session, sf_dir)
    assert listed() == before
    assert df.count() > 0
