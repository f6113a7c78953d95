"""One entry point for the adversary-audit suite.

Every audit class runs each of its legs in its own worker process (its
own JVM: timezone, locale, heap and master are fixed at launch), and
every class comes back as one structured result, printed as one JSON
object per line::

    {"class", "audited", "cross_checked", "matched", "flagged",
     "seconds", "details", "exit", "pass"}

A class passes when ``flagged == 0``, every count it reports
(``audited``, and ``cross_checked`` where the class has a cross-leg
check) is greater than 0 — a renamed query or an emptily-intersecting
``--only`` must not certify green having audited nothing — and every
leg's worker exited 0 (a failed sanity or teeth probe raises there).
Exit code: 0 iff every class passed.

Modes:
  python tools/run_audits.py            # full certification (~30-45 min)
  python tools/run_audits.py --quick    # smoke legs (~6-10 min): a
      representative cross-family query subset per class, one fuzz
      seed, concurrency without the 98x2 pool leg
  python tools/run_audits.py --classes tz,locale --only q1_pricing_summary
  python tools/run_audits.py --classes fuzz --seeds 4,5

The class table is ``CLASSES``; the corpus classes live in
``tools/audit_corpus.py``, the environment classes in
``tools/audit_env.py`` and the plan-shape gate in ``tools/scan_audit.py``.
Each audited query runs under the Spark job group
``audit:<class>:<query>``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import audit_corpus, audit_env, scan_audit  # noqa: E402

#: The corpus every class reads unless it names its own.
SF_DIR = "/root/testdata/sf0.001"

#: Cross-family smoke subset for --quick: a streaming-parity aggregate,
#: a TPC-H join/agg, a mapInPandas kernel path (the fused PQ ADC), a
#: banded-join dedup, the memoized BM25 index, and the timestamp-heavy
#: rollup cascade — one representative per operator family the audits
#: stress differently. It must keep at least one time-consuming and one
#: string-heavy query so the tz and locale cross-checks have work.
QUICK_ONLY = [
    "votes_per_candidate", "q1_pricing_summary", "knn_pq_adc",
    "minhash_lsh_dedup", "bm25_search_topk", "event_rollup_multires",
]

#: Class-specific --quick subsets. Spill stays at the certified
#: 16x/900m/0.15 config in BOTH modes (weaker configs can fail the
#: non-zero-spill anti-vacuity gate); quick just narrows to the heaviest
#: four queries. Scan's quick leg is the historical multi-scan offenders
#: plus one allowlisted and one exact-count (checkpointed) query, so the
#: smoke exercises the allowance paths (QUICK_ONLY holds only
#: historically-clean default-allowance queries).
QUICK = {
    "spill": [
        "q18_large_orders", "q1_pricing_summary", "minhash_lsh_dedup",
        "near_dup_clusters",
    ],
    "scan": [
        "q17_small_qty_revenue", "q18_large_orders", "q11_value_share_analog",
        "asof_last_click", "hourly_gap_filled", "benchmark_contamination",
    ],
}


@dataclass
class Run:
    """One audit run: its query filter, mode, fuzz seeds and the work
    dir every prepared corpus goes under. Class legs run the oracle
    compare through it."""

    workdir: str
    only: list[str] | None = None
    quick: bool = False
    seeds: list[int] = field(default_factory=lambda: [1, 2, 3])
    sf_dir: str = SF_DIR

    @staticmethod
    def session(app: str, level: str = "ERROR", **kw):
        """The leg's tuned session (``master``/``extra_conf`` pass
        through to ``get_spark``)."""
        from realtime_voting_data_engineering_spark.session import get_spark

        spark = get_spark(app_name=app, **kw)
        spark.sparkContext.setLogLevel(level)
        return spark

    @staticmethod
    def query(name: str):
        from realtime_voting_data_engineering_spark import queries as Q

        return Q.REGISTRY[name]

    def names(self, pool: list[str] | None = None) -> list[str]:
        """``pool`` (default: every registered query, sorted) narrowed to
        ``only``."""
        if pool is None:
            from realtime_voting_data_engineering_spark import queries as Q

            pool = sorted(Q.REGISTRY)
        return [n for n in pool if self.only is None or n in self.only]

    @staticmethod
    def group(cls: str, name: str) -> str:
        return f"audit:{cls}:{name}"

    def compare(self, spark, cls: str, name: str, sf_dir: str,
                oracle_sf_dir: str | None = None) -> dict:
        """Spark vs the DuckDB oracle for one query, under its job group:
        ``match``, ``mismatch`` or ``error`` with the detail. The audit
        must survive any query, so every exception becomes an entry."""
        from tests.oracle_harness import compare_query

        spec = self.query(name)
        sc = spark.sparkContext
        sc.setJobGroup(self.group(cls, name), name)
        try:
            compare_query(spark, name, spec.fn, spec.oracle, sf_dir,
                          oracle_sf_dir=oracle_sf_dir)
            return {"status": "match"}
        except AssertionError as exc:
            return {"status": "mismatch", "detail": str(exc)[:500]}
        except Exception as exc:  # noqa: BLE001 — audit must survive any query
            return {"status": "error", "detail": f"{type(exc).__name__}: {str(exc)[:300]}"}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def sweep(self, spark, cls: str, names: list[str], sf_dir: str,
              oracle_sf_dir: str | None = None, after=None) -> dict[str, dict]:
        """``compare`` over ``names``; ``after(name, entry)`` may amend
        each entry. Prints one progress line per query."""
        report: dict[str, dict] = {}
        for name in names:
            entry = report[name] = self.compare(spark, cls, name, sf_dir, oracle_sf_dir)
            if after is not None:
                after(name, entry)
            print(json.dumps({"class": cls, "query": name, "status": entry["status"]}),
                  flush=True)
        return report

    def corpus_sweep(self, spark, audit) -> dict[str, dict]:
        """Prepare a corpus class's corpus pair under the work dir and
        compare every query on it (Spark on the poisoned side, the oracle
        on the side the class names)."""
        spark_dir, oracle_dir = audit.prepare(self.sf_dir, self.workdir)
        return self.sweep(spark, audit.name, self.names(), spark_dir, oracle_dir)

    @staticmethod
    def result(cls: str, report: dict[str, dict], flags: dict | None = None,
               cross_checked: int | None = None, **details) -> dict:
        """The class result: every non-matching entry of ``report`` plus
        ``flags`` (class-level findings) is flagged."""
        bad = {n: f"{e['status']}: {e.get('detail', '')}"
               for n, e in report.items() if e["status"] != "match"}
        flags = {**bad, **(flags or {})}
        return {
            "class": cls,
            "audited": len(report),
            "cross_checked": cross_checked,
            "matched": len(report) - len(bad),
            "flagged": len(flags),
            "seconds": None,
            "details": {"flags": flags, **details},
        }


#: The audit classes, in run order.
CLASSES = {
    "null": audit_corpus.Null(),
    "float": audit_corpus.Float(),
    "order": audit_corpus.Order(),
    "extreme": audit_corpus.Extreme(),
    "split": audit_corpus.Split(),
    "tz": audit_env.Tz(),
    "locale": audit_env.Locale(),
    "retry": audit_env.Retry(),
    "concurrency": audit_env.Concurrency(),
    "spill": audit_env.Spill(),
    "fuzz": audit_corpus.Fuzz(),
    # Plan-shape gate, not an oracle adversary: the module is its own
    # table entry (``legs`` + ``run_leg``).
    "scan": scan_audit,
}


def invariance(audit, legs: list[dict], run: Run) -> dict:
    """Merge a cross-leg class's legs: leg 0's compare verdicts, leg 1's,
    and Spark-hash equality of every ``cross_check`` query between the
    two. A missing hash or an error sentinel is NOT invariance even when
    both legs agree on it — two same-typed failures would otherwise
    certify a hash that was never computed."""
    label_a, label_b = audit.labels
    rep_a = legs[0]["queries"]
    rep_b = legs[1]["queries"] if len(legs) > 1 else {}
    cross = run.names(audit.cross_check)
    flags: dict[str, str] = {}
    for name in cross:
        b = rep_b.get(name)
        if b is None:
            flags[name] = "missing from leg B report"
            continue
        if b["status"] != "match":
            flags[name] = f"[{label_b}] {b['status']}: {b.get('detail', '')[:300]}"
        ha, hb = rep_a.get(name, {}).get("spark_hash"), b.get("spark_hash")
        if not ha or not hb or ha.startswith("error:") or hb.startswith("error:"):
            flags.setdefault(name, f"no comparable hash: {label_a}={ha} {label_b}={hb}")
        elif ha != hb:
            flags.setdefault(name, f"cross-leg hash drift: {label_a}={ha} {label_b}={hb}")
    return run.result(
        audit.name, rep_a, flags=flags, cross_checked=len(cross),
        env=[leg["env"] for leg in legs],
    )


def passed(result: dict | None, returncode: int) -> bool:
    """The pass rule, on structured fields only."""
    return (
        returncode == 0
        and result is not None
        and result["flagged"] == 0
        and result["audited"] > 0
        and (result["cross_checked"] is None or result["cross_checked"] > 0)
    )


def launch(name: str, leg: int, run: Run) -> tuple[int, dict | None]:
    """Run one class leg in a fresh worker process with that leg's
    environment; return its exit code and JSON result. The worker's own
    output goes to stderr, so stdout carries only the class results."""
    out = os.path.join(run.workdir, f"{name}-{leg}.json")
    spec = {"class": name, "leg": leg, "out": out, "only": run.only,
            "quick": run.quick, "seeds": run.seeds}
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", json.dumps(spec)],
        env={**os.environ, **CLASSES[name].legs[leg]},
        cwd=REPO,
        stdout=sys.stderr.fileno(),
    )
    if proc.returncode != 0 or not os.path.exists(out):
        return proc.returncode, None
    with open(out) as f:
        return 0, json.load(f)


def run_class(name: str, run: Run) -> tuple[dict, bool]:
    """All legs of one class, merged into its result."""
    audit = CLASSES[name]
    t0 = time.perf_counter()
    outs, rc = [], 0
    for leg in range(len(audit.legs)):
        # An empty narrowed cross-check set SKIPS leg B (and reads as a
        # vacuous cross-check): an empty filter must never widen to the
        # full registry.
        if leg and not run.names(audit.cross_check):
            break
        rc, out = launch(name, leg, run)
        if rc != 0:
            break
        outs.append(out)
    result = None
    if rc == 0:
        result = invariance(audit, outs, run) if len(audit.legs) > 1 else outs[0]
    doc = {"class": name, **(result or {}), "seconds": round(time.perf_counter() - t0, 1)}
    ok = passed(result, rc)
    return {**doc, "exit": rc, "pass": ok}, ok


def worker(spec: dict) -> None:
    """Inside a leg's process: run the leg and write its JSON result."""
    # Under the parent's work dir, so a killed worker's corpora still go
    # when the parent exits.
    workdir = tempfile.mkdtemp(prefix=f"{spec['class']}_", dir=os.path.dirname(spec["out"]))
    run = Run(workdir=workdir,
              only=spec["only"], quick=spec["quick"], seeds=spec["seeds"])
    try:
        out = CLASSES[spec["class"]].run_leg(spec["leg"], run)
    finally:
        shutil.rmtree(run.workdir, ignore_errors=True)
    with open(spec["out"], "w") as f:
        json.dump(out, f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--quick", action="store_true", help="smoke legs only")
    ap.add_argument("--classes", default=None,
                    help="comma-separated subset of class names (default: all)")
    ap.add_argument("--only", default=None,
                    help="comma-separated query names (default: each class's set)")
    ap.add_argument("--seeds", default=None,
                    help="comma-separated fuzz seeds (default 1,2,3; quick: 1)")
    ap.add_argument("--worker", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        worker(json.loads(args.worker))
        return 0

    wanted = args.classes.split(",") if args.classes else list(CLASSES)
    unknown = set(wanted) - CLASSES.keys()
    if unknown:
        ap.error(f"unknown classes: {sorted(unknown)}")
    only = args.only.split(",") if args.only else None
    if only:
        from realtime_voting_data_engineering_spark import queries as Q

        # A stale/typo'd name must fail loudly, not silently narrow a
        # class to a vacuous sweep.
        if set(only) - Q.REGISTRY.keys():
            ap.error(f"unknown query names: {sorted(set(only) - Q.REGISTRY.keys())}")
    seeds = [int(s) for s in args.seeds.split(",")] if args.seeds else (
        [1] if args.quick else [1, 2, 3])

    sys.stderr.write(f"mode: {'quick' if args.quick else 'full'}   loadavg: "
                     f"{tuple(round(x, 2) for x in os.getloadavg())}\n")
    workdir = tempfile.mkdtemp(prefix="rtv_audits_")
    n_fail = 0
    try:
        for name in (n for n in CLASSES if n in wanted):
            class_only = only or (QUICK.get(name, QUICK_ONLY) if args.quick else None)
            run = Run(workdir=workdir, only=class_only, quick=args.quick, seeds=seeds)
            sys.stderr.write(f"-> {name} ...\n")
            doc, ok = run_class(name, run)
            n_fail += not ok
            print(json.dumps(doc), flush=True)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
