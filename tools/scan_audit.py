"""Executed-plan multi-scan sweep: flag registered queries that scan
the same table more than once at runtime (r9).

Method (learned the hard way this round): count "<table>.parquet" in
``executedPlan`` AFTER an action, and only in the text BEFORE
"== Initial Plan ==" — an executed AQE plan prints both the final and
the initial plan (double-counting every scan), and ReuseExchange only
materializes at runtime, so pre-action plans overstate scans (the r8
rollup cascade shows events ×3 before execution and ×1 after).

CHECKPOINT HANDLING (blind spot closed in r10): scans INSIDE a
``localCheckpoint``ed subtree never appear in the final executed plan
(the checkpoint shows as a LogicalRDD), so this gate cannot see an
upstream-of-checkpoint recomputation. Two compensations make the class
CI-gated anyway: EXACT entries below (allowed == required) flag the
checkpoint's REMOVAL (the count would jump), and
``tests/test_plans.py::test_checkpoint_inputs_scan_raw_tables_once``
intercepts each checkpoint's INPUT DataFrame and pins the raw-table
scan count of the subtree the checkpoint materializes — an upstream
doubling inside the checkpoint fails CI there. Do not "fix" a flagged
query by checkpointing to hide the scan from this tool —
materialization must earn its disk (small intermediate, multiple
consumers), per the jaccard_for_pairs pattern — and any NEW checkpoint
site needs a matching input pin in that test.

DOWNWARD drift (ADVICE r9 #4): EXPECTED allowances are upper bounds, so
a query whose scan count silently drops to ZERO for a table it is known
to read (renamed path, vacuously empty plan) used to pass. The
committed ``tools/scan_baseline.json`` records each query's per-table
scan counts from a green sweep; any audited query that now scans
NOTHING of a table the baseline says it reads is flagged. The
zero-check and the baseline count the INITIAL-plan section (pre-AQE),
not the final plan: several queries' FINAL plans legitimately
AQE-collapse to EmptyRelation at small SFs (an empty join side
propagates), erasing every scan and making a final-plan zero-check
vacuous for exactly the vacuously-empty-plan class it exists to catch
(r10 review finding) — the initial plan always retains the logical
scan set. The multi-scan upper bounds stay on the FINAL plan, where
runtime ReusedExchange merges legitimately reduce counts. Zero-checks
only apply when the audit runs at the baseline's sf_dir (AQE shapes
compare like-for-like); regenerate after intentional shape changes or
new registrations with ``--write-baseline``, which FIRST audits against
the existing baseline and refuses to overwrite on any BLOCKING flag
(over-scan, lost scan, query error) — otherwise regeneration would
silently bless the very drift the baseline exists to detect. ADVISORY
flags (a new query's missing entry, a removed query's stale entry) do
NOT block the write: they are the bookkeeping the write resolves, and
blocking on them would make the regen workflow circular. Cross-sf
regeneration is refused without ``--force-sf-change``, since the sf
mismatch disables every drift check before the overwrite.

A multi-scan is not automatically a bug: two DIFFERENT pushed-down
slices of one table (funnel event-type legs, a 10-row query-side kNN
scan next to the corpus scan, a broadcast dim read twice) are fine by
design. The EXPECTED map below is the triaged allowlist from the r9
sweep — each entry carries its justification. The tool exits non-zero
when a query exceeds its allowance, so an accidental recomputation
(the class that had q17/q18/q11 scanning lineitem twice, the
contamination scan tokenizing documents 3×, and the gap fill
aggregating events twice) fails loudly instead of compounding for
four rounds before a verdict flags the drift.

Run: ``python tools/run_audits.py --classes scan [--only a,b]``; regenerate
the baseline with ``python tools/scan_audit.py --write-baseline``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "lineitem",
    "orders",
    "customer",
    "supplier",
    "part",
    "nation",
    "region",
    "events",
    "documents",
    "embeddings",
)

#: (query, table) -> max allowed scans in the FINAL executed plan, with
#: the triage rationale. Anything not listed is allowed exactly 1 scan
#: per table.
EXPECTED: dict[tuple[str, str], tuple[int, str]] = {
    # Two different event-type slices, filters pushed to the scan —
    # each leg reads a fraction of the table.
    ("asof_last_click", "events"): (2, "clicks + purchases slices, pushed filters"),
    ("purchases_after_error", "events"): (2, "error + purchase slices, pushed filters"),
    ("purchase_and_error_users", "events"): (2, "two event-type slices (intersect)"),
    ("weekly_retention_cohorts", "events"): (2, "signup cohort + activity slices"),
    ("data_quality_report", "orders"): (
        2,
        "agg pass + COLUMN-PRUNED (o_custkey-only) FK anti probe; the "
        "left-join fold was measured and REJECTED r10 (full-row shuffle "
        "at scale, broadcast hint scale-unsafe — see query docstring)",
    ),
    # Query side = pushed ~10-row scan next to the one corpus scan.
    ("knn_cosine_topk", "embeddings"): (2, "pushed query-side scan + corpus scan"),
    ("knn_ann_srp", "embeddings"): (2, "pushed query-side scan + corpus scan"),
    ("embedding_near_dup_pairs", "embeddings"): (2, "band build + verify legs"),
    ("embedding_near_dup_srp", "embeddings"): (3, "bands + candidates + verify (1 reuse)"),
    # The stored-index side is simulated from the same table by design.
    ("incremental_new_docs", "documents"): (2, "corpus + simulated stored index"),
    # Tiny broadcast dims — a second copy is free.
    ("q7_nation_volume", "nation"): (2, "broadcast dim, both join sides"),
    ("q8_market_share", "nation"): (2, "broadcast dim, both join sides"),
}

#: (query, table) -> EXACT required scan count in the final plan.
#: For checkpointed queries a LOWER-than-usual count is load-bearing
#: (the raw scan lives inside the checkpoint); a different count in
#: EITHER direction means the materialization contract changed.
EXACT: dict[tuple[str, str], tuple[int, str]] = {
    ("hourly_gap_filled", "events"): (0, "raw scan lives inside the hourly-agg checkpoint"),
    ("benchmark_contamination", "documents"): (1, "train side only; bench postings checkpointed"),
    # The minhash family's corpus reads live entirely inside the
    # cands/idx (and CC pairs) checkpoints — zero scans in the final
    # plan is the CONTRACT, and the checkpoint inputs' own scan counts
    # are pinned by test_plans.py::test_checkpoint_inputs_scan_raw_tables_once.
    ("minhash_lsh_dedup", "documents"): (0, "reads live inside cands/idx checkpoints"),
    ("near_dup_clusters", "documents"): (0, "same checkpoints + CC pairs pin"),
    ("near_dup_clusters_star", "documents"): (0, "same, star engine"),
    # r15 fingerprint-index materializations: the one corpus read lives
    # inside the operator's lazy checkpoint (winnow fps / simhash sh);
    # the checkpoint inputs' own scan counts are pinned by
    # test_plans.py::test_checkpoint_inputs_scan_raw_tables_once.
    ("winnow_overlap_topk", "documents"): (0, "read lives inside the fps checkpoint"),
    ("simhash_near_dup", "documents"): (0, "read lives inside the sh checkpoint"),
}


BASELINE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "scan_baseline.json")

#: The corpus the sweep and the committed baseline use.
SF_DIR = "/root/testdata/sf0.01"

#: ``tools/run_audits.py`` table entry: one leg in a default JVM.
legs = ({},)


def run_leg(leg: int, run) -> dict:
    return sweep(SF_DIR, run.only)


def _load_baseline(sf_dir: str, write: bool, force_sf_change: bool) -> dict | None:
    """The committed baseline, or None when there is none or it was
    recorded at another sf_dir (AQE shapes compare like-for-like only).
    The existing baseline is loaded EVEN for a regeneration: the regen
    sweep must first pass the zero-checks against the old baseline, or
    regenerating for an unrelated reason would silently bless a lost
    scan as the new green reference (r10 review finding)."""
    if not os.path.exists(BASELINE_PATH):
        return None
    with open(BASELINE_PATH) as fh:
        baseline = json.load(fh)
    if baseline.get("sf_dir") == sf_dir:
        return baseline
    if write and not force_sf_change:
        # Cross-sf regen with no drift checks would launder a lost scan
        # through the sf side door (r10 review #2).
        raise SystemExit(
            f"--write-baseline at {sf_dir} but the existing baseline was "
            f"recorded at {baseline.get('sf_dir')}: every zero-check would "
            "be skipped before the overwrite. Re-run at the baseline's "
            "sf_dir first, or pass --force-sf-change to accept that"
        )
    print(
        f"# NOTE: baseline was recorded at {baseline.get('sf_dir')}, "
        f"this run is {sf_dir} — zero-scan checks SKIPPED "
        "(AQE shapes compare like-for-like only)",
        flush=True,
    )
    return None


def _progress(name: str, flag: str) -> None:
    print(json.dumps({"class": "scan", "query": name,
                      "status": "scan-shape" if flag else "match",
                      **({"detail": flag} if flag else {})}), flush=True)


def _scan(sf_dir: str, only, baseline: dict | None):
    """Run every registered query (narrowed to ``only``) and check its
    executed plan. Returns (blocking, advisory, observed, audited).

    Two flag severities (r10 review): BLOCKING (over-scan, lost scan,
    query error — real shape problems) and ADVISORY (missing/stale
    baseline entries — bookkeeping that regeneration itself resolves).
    Both fail a sweep; only blocking flags refuse a regeneration,
    otherwise the documented "regenerate after new registrations"
    workflow would be circular: the new query's missing entry would
    forbid the very write that creates it."""
    from realtime_voting_data_engineering_spark import queries as Q
    from realtime_voting_data_engineering_spark.session import get_spark

    spark = get_spark(app_name="scan-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    blocking: dict[str, str] = {}
    advisory: dict[str, str] = {}
    observed: dict[str, dict[str, int]] = {}
    errored: set[str] = set()
    audited = 0
    for name in sorted(Q.REGISTRY):
        if only is not None and name not in only:
            continue
        audited += 1
        spark.sparkContext.setJobGroup(f"audit:scan:{name}", name)
        try:
            df = Q.REGISTRY[name].fn(spark, sf_dir)
            df.collect()
            plan_txt = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — sweep must survive any query
            blocking[name] = f"error: {type(exc).__name__}: {str(exc)[:200]}"
            errored.add(name)
            _progress(name, blocking[name])
            continue
        # An executed AQE plan prints the FINAL plan, then the pre-AQE
        # "== Initial Plan ==". Upper bounds count the final section
        # (ReusedExchange merges are real savings); the zero-check and
        # the baseline count the INITIAL section, which never
        # AQE-collapses to EmptyRelation (non-adaptive plans have no
        # marker: both sections are the whole text). ENFORCED
        # assumption (ADVICE r10 #3): the top-level plan contributes
        # the only marker. A nested adaptively-executed subplan would
        # add its own, splitting BOTH sections mid-text (the final
        # side would silently undercount upper bounds — worse than the
        # initial side's overcount), so a multi-marker plan is flagged
        # blocking here and the parser extended with real plan text in
        # hand, instead of weakening the bounds quietly. Verified
        # single-marker across the registry (incl. the scalar-subquery
        # TPC-H shapes) at r11.
        sections = plan_txt.split("== Initial Plan ==")
        if len(sections) > 2:
            blocking[name] = (
                f"{len(sections) - 1} '== Initial Plan ==' markers — "
                "nested adaptive subplan; scan_audit's section parser "
                "needs extending before this query's bounds are trusted"
            )
            errored.add(name)
            _progress(name, blocking[name])
            continue
        final = sections[0]
        initial = sections[1] if len(sections) > 1 else sections[0]
        over = {}
        lost = {}
        base_counts = (baseline or {}).get("counts", {}).get(name)
        counts: dict[str, int] = {}
        for t in TABLES:
            n_fin = final.count(f"{t}.parquet")
            n_ini = initial.count(f"{t}.parquet")
            if n_ini:
                counts[t] = n_ini
            if (name, t) in EXACT:
                required = EXACT[(name, t)][0]
                if n_fin != required:
                    over[t] = (n_fin, required)
                continue
            allowed = EXPECTED.get((name, t), (1, ""))[0]
            if n_fin > allowed:
                over[t] = (n_fin, allowed)
            if n_ini == 0 and base_counts is not None and base_counts.get(t, 0):
                # Downward drift: the query used to read this table and
                # now reads NOTHING of it — renamed path, vacuously
                # empty plan, or a lost branch (ADVICE r9 #4).
                lost[t] = base_counts[t]
        observed[name] = counts
        detail = []
        if over:
            detail.append(", ".join(
                f"{t}: {n} scans (allowed {a})" for t, (n, a) in over.items()
            ))
        if lost:
            detail.append(", ".join(
                f"{t}: 0 scans (baseline {b})" for t, b in lost.items()
            ))
        if detail:
            blocking[name] = "; ".join(detail)
        if baseline is not None and base_counts is None:
            advisory[name] = (
                "no baseline entry — regenerate tools/scan_baseline.json "
                "with --write-baseline after triaging the query's shape"
            )
        _progress(name, "; ".join(
            p for p in (blocking.get(name), advisory.get(name)) if p
        ))
    if baseline is not None and only is None:
        # Errored queries ARE registered — they're reported above, not
        # here (misfiling them as stale names would direct the operator
        # to regenerate the baseline instead of fixing the query).
        stale = sorted(set(baseline.get("counts", {})) - set(observed) - errored)
        if stale:
            advisory["<baseline>"] = (
                f"baseline names not in registry: {stale} — regenerate"
            )
    return blocking, advisory, observed, audited


def sweep(sf_dir: str, only=None) -> dict:
    """The scan gate as an audit-class result (see ``tools/run_audits.py``):
    every blocking or advisory flag counts. The stale-baseline advisory
    is keyed ``<baseline>`` — it is not an audited query, so it stays
    out of the match arithmetic (ADVICE r10 #2) but still fails the
    class: a baseline naming retired queries needs a regen."""
    blocking, advisory, _observed, audited = _scan(
        sf_dir, only, _load_baseline(sf_dir, write=False, force_sf_change=False)
    )
    flags = {
        n: "; ".join(p for p in (blocking.get(n), advisory.get(n)) if p)
        for n in sorted(blocking.keys() | advisory.keys())
    }
    per_query = [n for n in flags if n != "<baseline>"]
    return {
        "class": "scan",
        "audited": audited,
        "cross_checked": None,
        "matched": audited - len(per_query),
        "flagged": len(flags),
        "seconds": None,
        "details": {"flags": flags},
    }


def write_baseline(sf_dir: str, force_sf_change: bool = False) -> int:
    """Record a full sweep's per-table scan counts as the zero-check
    baseline. Refused (exit 1, file untouched) on any BLOCKING flag;
    ADVISORY flags are the bookkeeping this write resolves. A baseline
    recorded at another sf_dir is only replaced with
    ``force_sf_change``, since the mismatch disables every drift check
    before the overwrite."""
    baseline = _load_baseline(sf_dir, write=True, force_sf_change=force_sf_change)
    blocking, advisory, observed, _audited = _scan(sf_dir, None, baseline)
    if blocking:
        print("# --write-baseline REFUSED: sweep has blocking flags "
              f"({json.dumps(blocking)})")
        return 1
    for n, d in sorted(advisory.items()):
        print(f"# advisory (resolved by this write): {n}: {d}")
    empty = sorted(n for n, c in observed.items() if not c)
    if empty:
        # Visibility, not a failure: with initial-plan counting the
        # only legitimately empty entries are checkpoint-hidden shapes
        # (the EXACT map must cover those). Anything else here means the
        # zero-check will be vacuous for that query.
        print(f"# NOTE: empty baseline counts (zero-check vacuous, "
              f"must be EXACT-covered): {empty}")
    with open(BASELINE_PATH, "w") as fh:
        json.dump({"sf_dir": sf_dir, "counts": observed}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"# baseline written: {BASELINE_PATH} ({len(observed)} queries)")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Regenerate the scan baseline; the gate itself runs as "
        "`python tools/run_audits.py --classes scan`."
    )
    ap.add_argument(
        "--write-baseline", action="store_true",
        help="record a full sweep's observed per-table scan counts as the "
        "zero-check baseline (refused on over-scan, lost-scan, or error "
        "flags — missing/stale baseline entries are exactly what "
        "regeneration resolves and do not block it)",
    )
    ap.add_argument(
        "--force-sf-change", action="store_true",
        help="allow --write-baseline when the existing baseline was "
        "recorded at a different sf_dir",
    )
    args = ap.parse_args()
    if not args.write_baseline:
        result = sweep(SF_DIR)
        print(json.dumps(result))
        return 1 if result["flagged"] else 0
    return write_baseline(SF_DIR, args.force_sf_change)


if __name__ == "__main__":
    sys.exit(main())
