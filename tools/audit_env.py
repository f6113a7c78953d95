"""Environment adversary classes: the corpus stays clean and the process
running the engine is made hostile — host timezone, JVM locale, task
retries, memory pressure, and concurrent use of one session.

A class lists its ``legs``: the environment each leg's worker process is
launched with (a JVM's timezone, locale, heap and master are fixed at
launch, so every leg gets its own JVM). ``run_leg`` runs inside that
worker; it starts the session, proves the adversary has teeth, and runs
the oracle compare through the ``run`` handle ``tools/run_audits.py``
passes in.
"""

from __future__ import annotations

import os
import random
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JJavaError

#: Queries whose results involve timestamps or dates anywhere in the
#: plan — the tz cross-leg invariance set. Superset source:
#: tests/test_registry_order.py's ts-consumer pin, plus the DATE-typed
#: TPC-H/date-part queries (DATE is tz-free in both engines, but the
#: audit asserts that rather than assuming it).
TIME_QUERIES = [
    "activation_funnel",
    "asof_last_click",
    "cdc_latest_state",
    "daily_activity_reconciliation",
    "event_rollup_multires",
    "event_window_suite",
    "hourly_gap_filled",
    "hourly_vote_counts",
    "latest_vote_per_user",
    "purchase_with_prior_view",
    "purchases_after_error",
    "user_sessions",
    "weekly_retention_cohorts",
    "order_date_parts",
    "q1_pricing_summary",
    "q3_shipping_priority",
]

#: String-processing queries — the locale cross-leg invariance set:
#: case folds, tokenization, text fingerprints/md5 over folded text,
#: term matching, shingling, and string ORDER BY / GROUP BY keys.
STRING_QUERIES = [
    "text_profile",
    "top_words",
    "doc_fingerprint_clusters",
    "bm25_search_topk",
    "minhash_lsh_dedup",
    "ngram_near_dup_pairs",
    "simhash_near_dup",
    "winnow_overlap_topk",
    "document_chunks",
    "corpus_curation_pipeline",
    "incremental_new_docs",
    "voters_by_segment",
    "scalar_function_profile",
    "vote_share",
]

#: The shuffle/sort/window/join-heavy subset — queries whose physical
#: plans contain the operators that own spill files (external sort,
#: hash-aggregate fallback, shuffle join build sides, window buffers),
#: plus the Arrow-kernel and index paths to prove the Python boundary
#: survives memory pressure too.
HEAVY_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q18_large_orders",
    "top_orders_per_priority",
    "asof_last_click",
    "purchases_after_error",
    "user_sessions",
    "weekly_retention_cohorts",
    "cdc_latest_state",
    "event_rollup_multires",
    "activation_funnel",
    "minhash_lsh_dedup",
    "near_dup_clusters",
    "doc_fingerprint_clusters",
    "bm25_search_topk",
    "text_profile",
    "knn_pq_adc",
]


def stage_total(spark, group: str, metric: str) -> int | None:
    """Sum of ``metric`` (a ``StageData`` getter such as
    ``numFailedTasks``) over every stage the jobs of job group ``group``
    ran, read from the status store — readable with the UI off. None
    when the store holds no job for the group: an unmeasured signal is
    reported as None, never as 0."""
    sc = spark.sparkContext
    # Status-store updates arrive through the listener bus; drain it so
    # the jobs that just finished are visible.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    total, seen = 0, False
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        seen = True
        for sid in info.stageIds:
            try:
                total += getattr(store.lastStageAttempt(sid), metric)()
            except Py4JJavaError:  # stage skipped (shuffle reuse): no attempt ran
                continue
    return total if seen else None


# --- tz / locale: two legs, cross-leg hash invariance ------------------------


class CrossLegAudit:
    """Leg 0 compares the registry with its oracles under the first
    environment; leg 1 re-runs ``cross_check`` under the second. Both
    legs record a canonical Spark hash for every ``cross_check`` query;
    ``tools/run_audits.py`` requires the two to be equal."""

    name = ""
    legs: tuple[dict, ...] = ()
    labels: tuple[str, ...] = ()
    cross_check: list[str] = []

    def start(self, leg: int, run):
        """Start the leg's session and prove the adversary is real;
        return (spark, facts about the environment)."""
        raise NotImplementedError

    def run_leg(self, leg: int, run) -> dict:
        from tests.oracle_harness import spark_result_hash

        spark, env = self.start(leg, run)
        names = run.names() if leg == 0 else run.names(self.cross_check)

        def record_hash(name: str, entry: dict) -> None:
            if name in self.cross_check:
                try:
                    entry["spark_hash"] = spark_result_hash(
                        run.query(name).fn(spark, run.sf_dir)
                    )
                except Exception as exc:  # noqa: BLE001 — flagged by the invariance check
                    entry["spark_hash"] = f"error:{type(exc).__name__}"

        queries = run.sweep(spark, self.name, names, run.sf_dir, after=record_hash)
        return {"env": env, "queries": queries}


class Tz(CrossLegAudit):
    """Host-timezone audit: operator-vs-oracle agreement and result
    invariance when the PROCESS timezone is adversarial.

    At 100 TB the engine does not get to choose where it runs: driver
    and executors may sit in machines whose host timezone is anything,
    and a correctness harness that silently assumes UTC hosts reports
    false mismatches (or worse, false matches) the day it runs in
    ap-southeast. The engine pins ``spark.sql.session.timeZone=UTC`` at
    the session boundary (``session.py`` /
    ``sources.tables.ensure_session_confs``) so SQL-level timestamp
    semantics are host-independent; this audit proves the pin actually
    reaches every query END TO END — including the collect/canonicalize
    path, where PySpark's row-based ``collect()`` renders TIMESTAMP
    values through the process-local timezone (the leak that motivated
    the Arrow-based collection in ``tests.oracle_harness``).

    - **Leg A (engine vs oracle, adversarial host):** the full oracled
      registry runs under ``TZ=Pacific/Chatham`` (+12:45/+13:45, DST, a
      non-whole-hour offset — maximally adversarial) and every query
      must still match its DuckDB oracle, whose own connection inherits
      the same host timezone.
    - **Leg B (cross-host invariance):** the timestamp/date-consuming
      queries re-run under ``TZ=America/New_York`` and their canonical
      Spark result hashes must be byte-identical to leg A's — the result
      is a pure function of the data, not of where the cluster happens
      to be deployed.

    Each leg asserts its JVM default timezone actually IS the
    adversarial one before auditing anything — a silently-ignored TZ
    env var would reduce the audit to a UTC re-run — and that the
    harness's pre-fix row-collect rendering differs from the Arrow path
    under it (the adversary's teeth).
    """

    name = "tz"
    labels = ("Pacific/Chatham", "America/New_York")
    legs = tuple({"TZ": tz} for tz in labels)
    cross_check = TIME_QUERIES

    def start(self, leg: int, run):
        want_tz = self.labels[leg]
        time.tzset()
        spark = run.session("tz-audit")
        jvm_tz = spark.sparkContext._jvm.java.util.TimeZone.getDefault().getID()
        # Sanity: the adversary must be real on every layer we control.
        assert jvm_tz == want_tz, (
            f"JVM default timezone is {jvm_tz!r}, wanted {want_tz!r} — the "
            "audit would silently degrade to a UTC re-run"
        )
        assert time.strftime("%z") not in ("+0000", "Z", ""), (
            "python process timezone still UTC — TZ env var did not take"
        )
        import duckdb

        duck_tz = duckdb.connect().execute(
            "SELECT current_setting('TimeZone')"
        ).fetchone()[0]

        # Detection-power proof: under this adversarial tz, the
        # harness's PRE-fix collection path (row-based collect(),
        # process-local fromtimestamp rendering) must canonicalize a
        # known instant DIFFERENTLY from the Arrow path the harness now
        # uses. If the two agree, the host tz never reached the collect
        # layer and the whole audit is a UTC re-run in disguise.
        from tests.oracle_harness import _canon

        probe = spark.sql("SELECT TIMESTAMP '2024-03-01 12:30:45.123456' AS ts")
        via_row = _canon(probe.collect()[0][0])
        via_arrow = _canon(probe.toArrow().column(0).to_pylist()[0])
        assert via_arrow == "2024-03-01 12:30:45.123456", via_arrow
        assert via_row != via_arrow, (
            f"row-collect and Arrow canon agree ({via_row!r}) under "
            f"TZ={want_tz} — the adversary has no teeth on this host"
        )
        return spark, {
            "tz": want_tz,
            "jvm_tz": jvm_tz,
            "duckdb_tz": duck_tz,
            "row_vs_arrow_probe": [via_row, via_arrow],
        }


def _locale_env(lang: str, country: str) -> dict:
    return {
        # Belt: the env locale too (a host without the glibc locale
        # makes the JVM ignore LANG — user.language is the lever
        # that actually works, asserted by the leg's sanity gate).
        "LANG": f"{lang}_{country}.UTF-8",
        "LC_ALL": f"{lang}_{country}.UTF-8",
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Duser.language={lang} '
            f'-Duser.country={country}" pyspark-shell'
        ),
    }


class Locale(CrossLegAudit):
    """Host-locale audit: operator-vs-oracle agreement and result
    invariance when the JVM's DEFAULT LOCALE is adversarial.

    The classic hazard is the Turkish dotless i: under ``tr_TR``,
    ``"TITLE".toLowerCase()`` produces ``tıtle`` and
    ``"i".toUpperCase()`` produces ``İ`` in any JVM code that uses the
    default locale, and locale-sensitive collators order ``ı`` BEFORE
    ``i`` while binary ordering puts it after ``z``. Spark deliberately
    routes its SQL string functions through ``Locale.ROOT`` / binary
    collation (a decade of Turkish-locale bug fixes, e.g. SPARK-20156),
    and this repo's operators add their own case folds (ASCII fold in
    the text fingerprints) — but nothing certifies the claim END TO END
    for THIS engine's 98 queries. This audit does: every string-touching
    pipeline (tokenization, case folding, md5 fingerprints over folded
    text, BM25 term matching, shingling, ORDER BY on strings) must
    produce oracle-exact results on a JVM whose default locale would
    corrupt each of those steps if any code path consulted it.

    Two legs (a JVM's default locale is launch-fixed, via
    ``--driver-java-options -Duser.language=…``):

    - **Leg A (engine vs oracle, Turkish JVM):** the full oracled
      registry under ``tr_TR`` — the most dangerous locale for case
      mapping.
    - **Leg B (cross-locale invariance):** the string-heavy queries
      re-run under ``lt_LT`` (Lithuanian — its own special-case i-dot
      rules) and their canonical Spark hashes must be byte-identical to
      leg A's.

    Sanity gates: each leg asserts the JVM default locale really is the
    adversarial one, and proves the adversary has TEETH on this JVM —
    the default-locale ``java.text.Collator`` must order ``ı``
    differently from the ``Locale.ROOT`` collator (measured: default
    says ``ı < i``, ROOT says ``ı > j``) while a Spark ``ORDER BY``
    stays binary. A leg whose probe shows no difference is running a
    crippled locale and would certify nothing.
    """

    name = "locale"
    labels = ("tr_TR", "lt_LT")
    legs = (_locale_env("tr", "TR"), _locale_env("lt", "LT"))
    cross_check = STRING_QUERIES

    def start(self, leg: int, run):
        want = self.labels[leg]
        spark = run.session("locale-audit")
        jvm = spark.sparkContext._jvm
        jvm_locale = jvm.java.util.Locale.getDefault().toString()
        assert jvm_locale == want, (
            f"JVM default locale is {jvm_locale!r}, wanted {want!r} — the "
            "audit would silently degrade to an en_US re-run"
        )
        # Teeth probe: default-locale-sensitive JVM APIs must actually
        # behave differently from Locale.ROOT here, else the locale is
        # crippled and certifies nothing. The Turkish/Lithuanian
        # collators both move dotless ı relative to binary order.
        dflt = jvm.java.text.Collator.getInstance()
        root = jvm.java.text.Collator.getInstance(jvm.java.util.Locale.ROOT)
        probe = (dflt.compare("ı", "j"), root.compare("ı", "j"))
        assert probe[0] != probe[1], (
            f"default and ROOT collators agree on ı-vs-j ({probe}) under "
            f"{jvm_locale} — the adversary has no teeth on this JVM"
        )
        # ...while the ENGINE must stay binary-ordered regardless.
        ordered = [
            r[0]
            for r in spark.sql(
                "SELECT x FROM VALUES ('i'),('ı'),('j') AS t(x) ORDER BY x"
            ).collect()
        ]
        assert ordered == ["i", "j", "ı"], (
            f"Spark ORDER BY followed the host locale: {ordered}"
        )
        return spark, {"jvm_locale": jvm_locale, "collator_probe": list(probe)}


# --- retry -------------------------------------------------------------------


def with_fail_once(df):
    """Append an identity mapInPandas stage that fails each task's first
    attempt. Schema is preserved exactly; retried attempts stream the
    batches through untouched."""

    def kernel(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0:
            raise RuntimeError("retry audit: injected first-attempt failure")
        yield from batches

    return df.mapInPandas(kernel, schema=df.schema)


def retry_verdict(spark, group: str, entry: dict) -> int:
    """Per-query anti-vacuity: a query whose job group shows no failed
    task attempt was a clean un-injected re-run — its data loading
    bypassed the patched choke point — and must turn the audit red, not
    ride on other queries' failures. Returns the group's failed-task
    count (0 when unmeasured)."""
    failed = stage_total(spark, group, "numFailedTasks")
    if not failed and entry["status"] == "match":
        entry.clear()
        entry.update(
            status="uninjected",
            detail="no task failure fired during this query — "
            "its scans bypassed the patched load_table",
        )
    return failed or 0


class Retry:
    """Task-retry fault-injection audit: operator-vs-oracle agreement
    when EVERY task's first attempt fails and is retried.

    On a 1000-executor cluster task retries are not an edge case:
    executors are preempted, spot nodes vanish, speculative execution
    races duplicate attempts, and fetch failures replay whole map
    stages. Correctness then rests on a property local runs never
    exercise: RECOMPUTATION must be deterministic. A plan with a
    nondeterministic step (unseeded sampling, first-wins tie-breaks over
    arbitrary partition order, a cached frame whose branches could cache
    divergent rows) silently returns different answers depending on
    which attempt survived. This repo's contracts say that can't happen
    — every registered plan is a pure function of the row set (the
    order audit proves set-purity; the lazy-localCheckpoint sites
    document plan determinism as their precondition). This audit makes
    the claim empirical.

    Mechanism (own process, because the master string is launch-fixed):
    ``local[8,4]`` allows 4 attempts per task; the leg monkeypatches
    ``sources.tables.load_table`` — the single choke point every
    registered query loads data through — to append an identity
    ``mapInPandas`` stage whose kernel RAISES on
    ``TaskContext.attemptNumber() == 0`` and passes batches through
    untouched on retry. Every scan-stage task of every query therefore
    fails once and recomputes, including the eager index-build jobs
    (BM25 stats, IVF assignment) that run during query construction.
    Anti-vacuity: each query runs under its own job group, and a query
    whose group shows no failed task in the status store is flagged
    ``uninjected``.
    """

    name = "retry"
    legs = ({},)
    master = "local[8,4]"

    def run_leg(self, leg: int, run) -> dict:
        # Patch the choke point BEFORE the queries modules import it:
        # they bind the name at import time (`from ...tables import
        # load_table`).
        import realtime_voting_data_engineering_spark.sources.tables as T

        orig_load_table = T.load_table
        T.load_table = lambda spark, sf_dir, name: with_fail_once(
            orig_load_table(spark, sf_dir, name)
        )
        # 4 attempts per task — first-attempt failures retry instead of
        # killing the job (plain local[N] has maxFailures=1). Log level
        # OFF, not ERROR: every injected first-attempt failure logs a
        # full executor stack trace that would drown the audit's output.
        spark = run.session("retry-audit", level="OFF", master=self.master)
        injected = 0

        def after(name: str, entry: dict) -> None:
            nonlocal injected
            injected += retry_verdict(spark, run.group(self.name, name), entry)

        report = run.sweep(spark, self.name, run.names(), run.sf_dir, after=after)
        return run.result(
            self.name, report, master=self.master, injected_failures=injected
        )


# --- spill -------------------------------------------------------------------

#: Tables worth replicating — the big/fact side of every heavy query.
REPLICATED = {"lineitem", "orders", "events", "documents", "embeddings"}


def replicate(sf_dir: str, k: int, workdir: str) -> str:
    """Copy ``sf_dir`` into a fresh dir under ``workdir`` with the
    ``REPLICATED`` tables concatenated ``k`` times, verbatim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tempfile.mkdtemp(prefix="spill_", dir=workdir)
    for fname in os.listdir(sf_dir):
        if not fname.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(sf_dir, fname))
        if fname[: -len(".parquet")] in REPLICATED and k > 1:
            tbl = pa.concat_tables([tbl] * k)
        # Default row-group sizing (NOT one giant group): multiple row
        # groups → parallel scan tasks → genuine concurrent memory
        # pressure, the shape a real cluster always has.
        pq.write_table(tbl, os.path.join(out, fname))
    return out


class Spill:
    """Memory-pressure (spill) audit: operator-vs-oracle agreement when
    the working set EXCEEDS executor memory and Tungsten must spill.

    Partitions that fit comfortably in memory on a laptop-scale test
    corpus are exactly the thing a 100 TB deployment never sees: at
    scale every sort, hash aggregate, and shuffle join runs against a
    fixed per-task memory budget and SPILLS the overflow to disk.
    Correctness then depends on code paths a small local run never
    executes — external sort merge, spill-file readback in aggregation,
    build-side spilling — and on every operator's semantics being
    insensitive to the extra merge passes (ordering, tie-breaks,
    accumulation order). This repo's determinism contracts
    (fixed-association-order double arithmetic, total-order top-k)
    claim exactly that insensitivity; this audit makes it empirical.

    Mechanism (own process, because the JVM heap is launch-fixed): the
    leg replicates the heavy sf0.1 tables VERBATIM 16× (duplicate rows
    change answers, but the DuckDB oracle reads the same replicated
    files, and the duplicate-row audits already certify operator
    totality) and runs under a 900m ``--driver-memory`` (local mode:
    the driver IS the executor, so this caps Tungsten execution memory)
    with ``spark.memory.fraction=0.15`` — the certified configuration
    (151 MB spilled, 18/18 match); 16x/500m maps the loud-OOM boundary,
    never silent wrong data. Anti-vacuity gates: the leg asserts the
    heap cap actually took (``Runtime.maxMemory`` <= the cap), and the
    sum of ``diskBytesSpilled`` over the audited queries' stages, read
    from the status store, must be non-zero — a run that never spilled
    is a clean re-run, not a memory-pressure audit, and an unreadable
    counter (None) fails the class too.
    """

    name = "spill"
    sf_dir = "/root/testdata/sf0.1"
    copies = 16
    heap_mb = 900
    legs = ({"PYSPARK_SUBMIT_ARGS": f"--driver-memory {heap_mb}m pyspark-shell"},)

    def run_leg(self, leg: int, run) -> dict:
        corpus = replicate(self.sf_dir, self.copies, run.workdir)
        # local[8], not local[32]: 8 concurrent tasks against a sub-1g
        # heap is sustained pressure that spills; 32 would tip into OOM
        # noise. Shrinking spark.memory.fraction squeezes the MANAGED
        # (spillable) pool specifically, driving more external-sort/agg
        # spill passes while leaving unmanaged headroom (broadcast
        # buffers, codegen) alone — the 16x/500m probe showed unmanaged
        # allocation is what OOMs first, and that failure is LOUD,
        # never silent wrongness.
        spark = run.session(
            "spill-audit",
            master="local[8]",
            extra_conf={"spark.memory.fraction": "0.15"},
        )
        jvm_max = int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
        # Runtime.maxMemory() is always BELOW -Xmx (survivor-space
        # slack), so no tolerance factor: a slack multiplier wide enough
        # to admit Spark's default 1g driver heap would let a
        # silently-dropped PYSPARK_SUBMIT_ARGS turn this into a
        # full-memory re-run.
        assert jvm_max <= self.heap_mb << 20, (
            f"JVM max heap {jvm_max/1e6:.0f} MB exceeds the --driver-memory "
            f"cap ({self.heap_mb}m) — the cap did not take; this would be a "
            "full-memory re-run"
        )
        spilled: list[int | None] = []

        def after(name: str, entry: dict) -> None:
            spilled.append(
                stage_total(spark, run.group(self.name, name), "diskBytesSpilled")
            )

        report = run.sweep(
            spark, self.name, run.names(HEAVY_QUERIES), corpus, after=after
        )
        total = None if None in spilled else sum(spilled)
        flags = {}
        if not total:
            flags["<spill>"] = (
                "anti-vacuity: no disk spill was recorded"
                if total == 0
                else "anti-vacuity: spill counters unreadable"
            )
        return run.result(
            self.name, report, flags=flags,
            jvm_max_heap_mb=round(jvm_max / 1e6), disk_bytes_spilled=total,
        )


# --- concurrency -------------------------------------------------------------

THREADS = 8


def stop_between_triggers(q) -> None:
    """Stop streaming query ``q`` while no micro-batch is running. A stop
    that lands during a batch's commit aborts its write and leaves
    ``Aborting commit`` and Hadoop temp-file stack traces in stderr. Wait
    until a batch newer than the current one has reported progress and no
    trigger is active, then stop; after 30 s stop anyway."""
    seen = (q.lastProgress or {}).get("batchId")
    deadline = time.monotonic() + 30.0
    while q.isActive and time.monotonic() < deadline:
        if (q.lastProgress or {}).get("batchId") != seen \
                and not q.status["isTriggerActive"]:
            break
        time.sleep(0.01)
    q.stop()


def persisted_rdd_count(spark) -> int:
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


class Concurrency:
    """Concurrent-execution audit: correctness when ONE shared
    SparkSession serves many queries at once.

    A 100 TB deployment is multi-tenant by default: a Thrift server,
    notebook gateway, or serving tier funnels concurrent requests
    through a shared session. Spark's own engine is thread-safe; the
    hazards are in OUR Python-side shared state — the BM25 index memo
    (check-evict-insert sequences a second thread can interleave), the
    SQL API's table binding (two corpora on one session), and one-time
    per-context setup (package shipping). The memo and the setup are
    lock-protected, and the SQL API shares no named session state; this
    audit hammers them and the whole registry from a thread pool and
    requires bit-identical answers to the sequential run.

    Legs:

    - **A (concurrent engine-vs-oracle):** every oracled query submitted
      to an 8-thread pool over one shared session, two seeded-shuffled
      rounds; each must still match its DuckDB oracle exactly as it does
      sequentially. Quick mode skips it.
    - **B (memo stress):** 8 threads × 6 iterations hammer
      ``bm25_search_topk`` alternating two corpora. Every result must
      hash-equal its corpus's sequential reference; afterwards the memo
      must hold EXACTLY one entry per (session, corpus) and the JVM's
      persisted-RDD count must equal the live projections — a lost
      insert race that leaks a persisted duplicate index fails here.
    - **B2 (eviction-race storm):** the hammer repeats while a mutator
      thread rewrites the corpus mtime on a private copy, so token churn
      forces evict+rebuild storms mid-flight — the pre-lock
      list-then-pop eviction KeyErrors here.
    - **C (mixed-corpus SQL API):** ``grouping_sets_revenue`` (the SQL
      API, its table bound as a DataFrame argument) alternates corpora
      concurrently; each result must hash-equal its OWN corpus's
      reference — cross-talk between the two corpora is the failure
      mode. Views are no longer shared: PySpark binds the argument
      under a unique view name and drops it after analysis.
    - **D (mixed workload):** a LIVE rate-source streaming aggregate
      (update-mode memory sink, 1 s trigger) runs on the session while
      ten representative batch queries execute concurrently; batch
      answers must stay oracle-exact and the stream must stay active,
      exception-free, and processing rows throughout.
    """

    name = "concurrency"
    legs = ({},)
    sf_dir_b = "/root/testdata/sf0.01"

    def run_leg(self, leg: int, run) -> dict:
        spark = run.session("concurrency-audit")
        report: dict[str, dict] = {}
        if not run.quick:
            self.leg_a(spark, run, report)
        self.leg_b(spark, run.sf_dir, self.sf_dir_b, report)
        self.leg_b2(spark, run.sf_dir, run.workdir, report)
        self.leg_c(spark, run.sf_dir, self.sf_dir_b, report)
        self.leg_d(spark, run, report)
        return run.result(self.name, report)

    def leg_a(self, spark, run, report: dict) -> None:
        names = run.names()

        for rnd in (1, 2):
            order = names[:]
            random.Random(rnd).shuffle(order)
            with ThreadPoolExecutor(max_workers=THREADS) as pool:
                entries = pool.map(
                    lambda n: run.compare(spark, self.name, n, run.sf_dir), order
                )
                for name, entry in zip(order, entries):
                    report[f"{name}@r{rnd}"] = entry

    @staticmethod
    def hammer(spark, fn, ref: dict[str, str], iters: int) -> list[str]:
        """THREADS threads each run ``fn`` ``iters`` times, alternating
        over the corpora of ``ref``; returns every run whose result hash
        differs from its corpus's sequential reference, or that raised
        (the race WAS the bug)."""
        from tests.oracle_harness import spark_result_hash

        corpora = list(ref)

        def one(tid: int) -> list[str]:
            errs = []
            for i in range(iters):
                sf = corpora[(tid + i) % len(corpora)]
                try:
                    h = spark_result_hash(fn(spark, sf))
                    if h != ref[sf]:
                        errs.append(f"t{tid}i{i} {sf}: {h} != {ref[sf]}")
                except Exception as exc:  # noqa: BLE001
                    errs.append(f"t{tid}i{i} {sf}: {type(exc).__name__}: {str(exc)[:120]}")
            return errs

        with ThreadPoolExecutor(max_workers=THREADS) as pool:
            return [e for es in pool.map(one, range(THREADS)) for e in es]

    @staticmethod
    def leg_b(spark, sf_a: str, sf_b: str, report: dict) -> None:
        from realtime_voting_data_engineering_spark import queries as Q
        from realtime_voting_data_engineering_spark.queries_pipeline import (
            _BM25_MEMO,
        )
        from tests.oracle_harness import spark_result_hash

        fn = Q.REGISTRY["bm25_search_topk"].fn
        ref = {sf: spark_result_hash(fn(spark, sf)) for sf in (sf_a, sf_b)}
        # Reset so the stress exercises concurrent FIRST builds too — the
        # double-build insert race only exists on a cold memo.
        for k in list(_BM25_MEMO):
            try:
                _BM25_MEMO.pop(k)[1].unpersist()
            except Exception:  # noqa: BLE001
                pass
        base_persisted = persisted_rdd_count(spark)
        errs = Concurrency.hammer(spark, fn, ref, 6)
        entries = sum(1 for k in _BM25_MEMO if k[0] is spark)
        leaked = persisted_rdd_count(spark) - base_persisted - 2
        # The surviving index projections must still BE cached: a
        # race-loss path that unpersisted its "duplicate" build would —
        # via CacheManager plan-dedupe — have evicted the winner's
        # shared entry.
        uncached = [
            k[1]
            for k, v in _BM25_MEMO.items()
            if k[0] is spark
            and not (v[1].storageLevel.useMemory or v[1].storageLevel.useDisk)
        ]
        ok = not errs and entries == 2 and leaked <= 0 and not uncached
        report["bm25_memo_stress"] = {
            "status": "match" if ok else "fail",
            "detail": f"wrong_hashes={errs[:3]} memo_entries={entries} "
            f"leaked_persisted={leaked} uncached={uncached}",
        }

    @staticmethod
    def leg_b2(spark, sf_a: str, workdir: str, report: dict) -> None:
        """Eviction-race stress: hammer the memo while a mutator thread
        rewrites the corpus mtime (token changes force evict+rebuild
        storms on a private copy). The pre-lock list-then-pop eviction
        could KeyError or hit "dict changed size during iteration" here;
        results must also stay correct throughout (content never
        changes, only the token)."""
        import shutil
        import threading

        from realtime_voting_data_engineering_spark import queries as Q
        from tests.oracle_harness import spark_result_hash

        work = tempfile.mkdtemp(prefix="conc_corpus_", dir=workdir)
        for f in os.listdir(sf_a):
            if f.endswith(".parquet"):
                shutil.copy2(os.path.join(sf_a, f), os.path.join(work, f))
        fn = Q.REGISTRY["bm25_search_topk"].fn
        ref = {work: spark_result_hash(fn(spark, work))}
        stop = threading.Event()

        def mutate() -> None:
            doc = os.path.join(work, "documents.parquet")
            while not stop.is_set():
                os.utime(doc)  # new mtime ⇒ new token ⇒ eviction + rebuild
                time.sleep(0.05)

        mutator = threading.Thread(target=mutate)
        mutator.start()
        try:
            errs = Concurrency.hammer(spark, fn, ref, 8)
        finally:
            stop.set()
            mutator.join(timeout=30)
        report["bm25_memo_eviction_race"] = {
            "status": "match" if not errs else "fail",
            "detail": "; ".join(errs[:4]),
        }

    @staticmethod
    def leg_c(spark, sf_a: str, sf_b: str, report: dict) -> None:
        from realtime_voting_data_engineering_spark import queries as Q
        from tests.oracle_harness import spark_result_hash

        fn = Q.REGISTRY["grouping_sets_revenue"].fn
        ref = {sf: spark_result_hash(fn(spark, sf)) for sf in (sf_a, sf_b)}
        errs = Concurrency.hammer(spark, fn, ref, 6)
        report["sql_view_mixed_corpus"] = {
            "status": "match" if not errs else "fail",
            "detail": "cross-talk: " + "; ".join(errs[:3]) if errs else "",
        }

    MIXED_QUERIES = [
        "q1_pricing_summary",
        "q5_revenue_by_nation",
        "asof_last_click",
        "votes_per_candidate",
        "bm25_search_topk",
        "knn_pq_adc",
        "minhash_lsh_dedup",
        "event_rollup_multires",
        "doc_fingerprint_clusters",
        "grouping_sets_revenue",
    ]

    def leg_d(self, spark, run, report: dict) -> None:
        """Mixed workload: a LIVE streaming aggregate (rate source →
        watermark → update-mode memory sink, 1 s processing trigger) runs
        on the session while batch queries execute concurrently. The
        serving tier's steady state is exactly this mix; batch answers
        must stay oracle-exact and the stream must stay healthy (active,
        no exception, progress observed) throughout."""
        from pyspark.sql import functions as F

        from realtime_voting_data_engineering_spark.sources.rate import (
            vote_rate_stream,
        )
        from realtime_voting_data_engineering_spark.streaming import pipeline as P

        ckpt = tempfile.mkdtemp(prefix="conc_stream_", dir=run.workdir)
        stream = vote_rate_stream(spark, rows_per_second=500)
        agg = (
            stream.withWatermark("voting_time", "1 minute")
            .groupBy("candidate_id")
            .agg(F.sum("vote").alias("total_votes"))
        )
        q = P.start_update_aggregate(
            agg,
            "conc_audit_stream",
            ckpt,
            trigger_available_now=False,
            processing_time="1 second",
        )
        errs: list[str] = []
        try:
            time.sleep(2)  # let the first micro-batches land
            with ThreadPoolExecutor(max_workers=4) as pool:
                entries = pool.map(
                    lambda n: run.compare(spark, self.name, n, run.sf_dir),
                    self.MIXED_QUERIES,
                )
                errs = [
                    f"{n}: {e['status']}: {e.get('detail', '')[:200]}"
                    for n, e in zip(self.MIXED_QUERIES, entries)
                    if e["status"] != "match"
                ]
            if not q.isActive or q.exception() is not None:
                errs.append(f"stream unhealthy: active={q.isActive} exc={q.exception()}")

            def rows_seen() -> int:
                return sum(p.get("numInputRows", 0) for p in (q.recentProgress or []))

            if rows_seen() == 0:
                # One more beat — the first non-empty micro-batch may not
                # have reported yet.
                time.sleep(2)
            if rows_seen() == 0:
                # "Progressing" means ROWS processed, not just committed
                # empty batches — a stalled rate source must fail the leg.
                errs.append("stream processed zero input rows during the mix")
        finally:
            stop_between_triggers(q)
        report["mixed_stream_batch"] = {
            "status": "match" if not errs else "fail",
            "detail": "; ".join(errs[:4]),
        }
