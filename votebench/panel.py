"""The ``analyst_panel`` workload: one closed-loop analyst runs the 15
headline queries round-robin over a generated corpus, warmed first.

Set-up writes the corpus and runs every query once through the DuckDB
oracle gate (``tests.oracle_harness.compare_query``), which is also each
query's warm-up at the target scale; the oracle's own time is left out of
``setup_s``. The timed section then runs whole passes, at least
``MIN_PASSES``, that fit in ``--seconds``. Every timed result must equal
the query's first timed result.
"""

from __future__ import annotations

import hashlib
import os
import time

import stats
from corpus import write_corpus
from host import Ambient
from realtime_voting_data_engineering_spark import queries as Q
from tracing import STAGE_FIELDS, job_group_stats

#: Corpus scale: sf 0.02 (120k lineitem rows, 1k documents). Fixed per-query
#: costs (planning, schema inference, job launch) dominate the panel from
#: here down, and a warm pass fits the run's time budget.
SF = 0.02
#: Two passes give 30 query executions, enough for a p50.
MIN_PASSES = 2
#: Operator family of a query, by its registry tags, first match wins.
FAMILIES = ("dedup", "similarity", "search", "text")


def family(tags: "tuple[str, ...]") -> str:
    return next((f for f in FAMILIES if f in tags), "relational")


def _digest(rows) -> str:
    h = hashlib.md5()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
    return h.hexdigest()


def _oracle_gate(run, corpus_dir: str, order: "list[str]") -> float:
    """Run every query against its oracle once; returns the seconds DuckDB
    took, which the caller leaves out of set-up."""
    from tests import oracle_harness as H

    duck_s = [0.0]
    duckdb_run_typed = H.duckdb_run_typed

    def timed_duckdb(sql, sf_dir):
        t = time.perf_counter()
        try:
            return duckdb_run_typed(sql, sf_dir)
        finally:
            duck_s[0] += time.perf_counter() - t

    H.duckdb_run_typed = timed_duckdb
    try:
        for name in order:
            spec = Q.REGISTRY[name]
            run.attempted += 1
            with run.tracer.span("oracle.compare", request=f"oracle-{name}"):
                try:
                    H.compare_query(run.spark, name, spec.fn, spec.oracle, corpus_dir)
                except Exception as exc:  # a mismatch or a query error fails the gate
                    run.fail(f"{name}: oracle gate: {exc}"[:800], gate=True)
    finally:
        H.duckdb_run_typed = duckdb_run_typed
    return duck_s[0]


def analyst_panel(run) -> None:
    corpus_dir = os.path.join(run.work, "corpus")
    write_corpus(SF, corpus_dir)
    queries = Q.headline_queries()
    names = list(queries)
    start = run.seed % len(names)
    order = names[start:] + names[:start]
    oracle_s = _oracle_gate(run, corpus_dir, order)
    run.mark_setup_done()
    run.setup_done_s -= oracle_s

    tr, sc = run.tracer, run.spark.sparkContext
    ambient = Ambient()
    times: dict[str, list[float]] = {n: [] for n in names}
    digests: dict[str, str] = {}
    requests: list[tuple[str, str]] = []
    passes = 0
    t_start = time.perf_counter()
    # Whole passes only, at least MIN_PASSES, and none that would, at the
    # pace so far, end after --seconds.
    def next_pass_fits() -> bool:
        return (time.perf_counter() - t_start) * (passes + 1) / passes <= run.seconds

    while passes < MIN_PASSES or next_pass_fits():
        for name in order:
            req = f"p{passes}-{name}"
            if tr.enabled:
                sc.setJobGroup(req, req, False)
                requests.append((req, name))
            run.attempted += 1
            try:
                with tr.span("queries.execute", request=req):
                    t = time.perf_counter()
                    with tr.span("queries.build"):
                        df = queries[name](run.spark, corpus_dir)
                    with tr.span("queries.collect"):
                        rows = df.collect()
                    times[name].append((time.perf_counter() - t) * 1000.0)
            except Exception as exc:  # a failing query is counted, the panel goes on
                run.fail(f"{req}: {exc!r}"[:800])
                continue
            d = _digest(rows)
            if digests.setdefault(name, d) != d:
                run.fail(f"{req}: result differs from the first timed run", gate=True)
        passes += 1
    wall = time.perf_counter() - t_start
    run.context["timed"] = ambient.close()

    samples = [t for ts in times.values() for t in ts]
    run.named["query_p50_ms"] = stats.percentile(samples, 50)
    run.named["query_p95_ms"] = stats.percentile(samples, 95)
    run.named["panel_ms"] = sum(stats.median(ts) for ts in times.values() if ts)
    run.e2e["latency_p50_ms"] = run.named["query_p50_ms"]
    run.e2e["throughput_per_s"] = len(samples) / wall
    run.samples.update(query_executions=len(samples), passes=passes)
    if tr.enabled:
        _layers(run, requests, passes)


def _layers(run, requests: "list[tuple[str, str]]", passes: int) -> None:
    """Per-pass layer totals over the timed section."""
    tr, L = run.tracer, run.layers
    timed = [s for s in tr.spans if s.request and s.request.startswith("p")]

    def per_pass_ms(name: str) -> float:
        return sum((s.end - s.start) * 1000.0 for s in timed if s.name == name) / passes

    L["sources.tables.load_calls"] = sum(s.name == "sources.tables.load_table" for s in timed) / passes
    L["sources.tables.load_ms"] = per_pass_ms("sources.tables.load_table")
    L["queries.build_ms"] = per_pass_ms("queries.build")
    L["queries.collect_ms"] = per_pass_ms("queries.collect")
    totals = dict.fromkeys(STAGE_FIELDS, 0.0)
    for req, _ in requests:
        for k, v in job_group_stats(run.spark, req).items():
            totals[k] += v
    for k, v in totals.items():
        L[f"queries.{k}"] = v / passes
    fam_of = {req: family(Q.REGISTRY[name].tags) for req, name in requests}
    for f in (*FAMILIES, "relational"):
        L[f"operators.{f}.ms"] = sum(
            (s.end - s.start) * 1000.0
            for s in timed
            if s.name == "queries.execute" and fam_of.get(s.request) == f
        ) / passes
