"""The registry's prepared-plan cache (``queries._prepared``): a warm call
serves a new DataFrame over the analysed plan of an earlier build, and
every part of the cache key is seen by the next call — a table rewritten
in place, the session time zone, ANSI mode, case sensitivity. A failed
build caches nothing, and threads sharing a session get correct rows.

Each test builds through a probe query of its own over a small table in
``tmp_path``, and counts the probe's builds, so it proves both the hit
and the miss it asserts."""

from __future__ import annotations

import contextlib
import inspect
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark import queries as Q
from realtime_voting_data_engineering_spark.sources.tables import load_table

TZ = "spark.sql.session.timeZone"


def _probe(name: str, build):
    """``build`` behind the prepared-plan cache, and the list its calls
    append to."""
    calls: list[int] = []

    def counted(spark, sf_dir):
        calls.append(1)
        return build(spark, sf_dir)

    return Q._prepared(name, counted), calls


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _table(tmp_path, **cols) -> str:
    pq.write_table(pa.table(cols), tmp_path / "t.parquet")
    return str(tmp_path)


def test_in_place_rewrite_is_seen_on_the_next_call(spark, tmp_path):
    """A rewrite of the same file with other rows and an added column is
    what the next call returns, schema included."""
    sf = _table(tmp_path, id=[1, 2, 3])
    serve, calls = _probe("probe_rewrite", lambda s, d: load_table(s, d, "t"))
    assert _rows(serve(spark, sf)) == [(1,), (2,), (3,)]
    assert _rows(serve(spark, sf)) == [(1,), (2,), (3,)]
    assert len(calls) == 1  # the second call was served from the cache
    inode = (tmp_path / "t.parquet").stat().st_ino
    _table(tmp_path, id=[7, 8], extra=["a", "b"])
    assert (tmp_path / "t.parquet").stat().st_ino == inode
    df = serve(spark, sf)
    assert len(calls) == 2
    assert df.columns == ["id", "extra"]
    assert _rows(df) == [(7, "a"), (8, "b")]


def test_time_zone_change_gives_the_fresh_answer(spark, tmp_path):
    """An analysed plan keeps the time zone it was analysed under: served
    after the session moved to America/New_York it would still parse
    local midnight as UTC (1704067200). The fresh answer is 1704085200.
    The probe reads its table without ``load_table``, which would pin
    the session back to UTC."""
    sf = _table(tmp_path, id=[1])

    def build(spark, sf_dir):
        return (
            spark.read.schema("id long")
            .parquet(os.path.join(sf_dir, "t.parquet"))
            .select(F.unix_timestamp(F.lit("2024-01-01 00:00:00")).alias("epoch"))
        )

    serve, calls = _probe("probe_time_zone", build)
    with _conf(spark, TZ, "UTC"):
        assert _rows(serve(spark, sf)) == [(1704067200,)]
        assert _rows(serve(spark, sf)) == [(1704067200,)]
        assert len(calls) == 1
        with _conf(spark, TZ, "America/New_York"):
            assert _rows(serve(spark, sf)) == [(1704085200,)]
            assert len(calls) == 2


def test_ansi_mode_flip_misses_the_cache(spark, tmp_path):
    """A cast of a non-number is NULL without ANSI mode and an error with
    it; a plan analysed without ANSI mode would keep returning NULL."""
    sf = _table(tmp_path, s=["x"])
    serve, calls = _probe(
        "probe_ansi", lambda s, d: load_table(s, d, "t").select(F.col("s").cast("int").alias("v"))
    )
    with _conf(spark, "spark.sql.ansi.enabled", "false"):
        assert _rows(serve(spark, sf)) == [(None,)]
        assert _rows(serve(spark, sf)) == [(None,)]
        assert len(calls) == 1
        with _conf(spark, "spark.sql.ansi.enabled", "true"):
            with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
                serve(spark, sf).collect()
            assert len(calls) == 2


def test_case_sensitivity_flip_misses_the_cache(spark, tmp_path):
    """``ID`` resolves to column ``id`` only while analysis is case
    insensitive; a plan analysed before the flip would still resolve."""
    sf = _table(tmp_path, id=[5])
    serve, calls = _probe("probe_case", lambda s, d: load_table(s, d, "t").select("ID"))
    with _conf(spark, "spark.sql.caseSensitive", "false"):
        assert _rows(serve(spark, sf)) == [(5,)]
        assert _rows(serve(spark, sf)) == [(5,)]
        assert len(calls) == 1
        with _conf(spark, "spark.sql.caseSensitive", "true"):
            with pytest.raises(AnalysisException, match="UNRESOLVED_COLUMN"):
                serve(spark, sf)
            assert len(calls) == 2


def test_a_failed_build_caches_nothing(spark, tmp_path):
    """A build that raises after its frame exists leaves nothing behind:
    the next call builds again and returns the table's rows."""
    sf = _table(tmp_path, id=[1, 2])
    fail = [True]

    def build(spark, sf_dir):
        df = load_table(spark, sf_dir, "t")
        if fail[0]:
            raise RuntimeError("injected build failure")
        return df

    serve, calls = _probe("probe_failed_build", build)
    with pytest.raises(RuntimeError, match="injected"):
        serve(spark, sf)
    fail[0] = False
    assert _rows(serve(spark, sf)) == [(1,), (2,)]
    assert len(calls) == 2
    assert _rows(serve(spark, sf)) == [(1,), (2,)]
    assert len(calls) == 2


def test_two_threads_on_one_session_get_correct_rows(spark, tmp_path):
    """Two threads call one query on one session, the second while the
    first is still building (the build sleeps once its frame exists),
    then both repeat it warm: every call returns the table's rows."""
    sf = _table(tmp_path, id=list(range(10)))

    def build(spark, sf_dir):
        df = load_table(spark, sf_dir, "t").where("id % 2 = 0")
        time.sleep(0.5)
        return df

    serve, calls = _probe("probe_threads", build)
    started = threading.Event()

    def worker(delay: float) -> list:
        if delay:
            started.wait()
            time.sleep(delay)
        else:
            started.set()
        return [_rows(serve(spark, sf)) for _ in range(4)]

    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(worker, (0.0, 0.1)))
    expected = [(i,) for i in range(0, 10, 2)]
    assert all(rows == expected for got in results for rows in got), results
    assert 1 <= len(calls) <= 2  # each thread built at most once


def test_threads_outnumbering_cores_get_correct_rows(spark, sf_smoke):
    """Stress: eight threads, more than the cores, with a short switch
    interval, call one registry query on one session: every call returns
    the fresh build's rows, whether it built, lost a race to publish its
    plan, or was served one."""
    fn = Q.REGISTRY["q3_shipping_priority"].fn
    expected = _rows(inspect.unwrap(fn)(spark, sf_smoke))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(lambda: _rows(fn(spark, sf_smoke))) for _ in range(40)]
            got = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(rows == expected for rows in got)
