"""Corpus adversary classes: each one rewrites a copy of the corpus so
that data the clean driver corpus never exercises reaches every query.

A class has a ``poison(sf_dir, out_dir)`` that writes the adversarial
copy and a ``sanity(sf_dir, out_dir)`` that proves the poison is really
there — a silently-broken injector would let every query trivially
"match" on effectively-clean data (r7 review). ``prepare`` puts each
copy in a fresh directory under the caller's work dir, so two runs (a
pytest pin and a manual sweep) never share a live corpus.

The classes hold no Spark code: ``run_leg`` runs in the class's worker
process and compares every query on the prepared corpus pair through
the ``run`` handle ``tools/run_audits.py`` passes in.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _tables(sf_dir: str):
    """(table name, file name) of every parquet table in ``sf_dir``."""
    for fname in os.listdir(sf_dir):
        if fname.endswith(".parquet"):
            yield fname[: -len(".parquet")], fname


def _write_split(tbl: pa.Table, path: str, split: int) -> None:
    """Write ``tbl`` to ``path``, as ``split`` part files under a
    ``<name>.parquet/`` directory when ``split`` > 1 and the table has
    at least that many rows."""
    if split <= 1 or len(tbl) < split:
        pq.write_table(tbl, path)
        return
    os.makedirs(path)
    step = (len(tbl) + split - 1) // split
    for p in range(split):
        chunk = tbl.slice(p * step, step)
        if len(chunk):
            pq.write_table(chunk, os.path.join(path, f"part-{p:03d}.parquet"))


class CorpusAudit:
    """One corpus adversary. ``oracle_reads_clean`` makes the compare an
    invariance check: Spark reads the rewritten corpus while the DuckDB
    oracle reads the clean one."""

    name = ""
    oracle_reads_clean = False
    legs = ({},)

    def run_leg(self, leg: int, run) -> dict:
        """The class's one leg: poison, check, compare every query."""
        spark = run.session(f"{self.name}-audit")
        return run.result(self.name, run.corpus_sweep(spark, self))

    def poison(self, sf_dir: str, out_dir: str) -> None:
        raise NotImplementedError

    def sanity(self, sf_dir: str, out_dir: str) -> None:
        """Extra proof the poison is present; by default the poisoner's
        own asserts are the proof."""

    def dirs(self, sf_dir: str, out_dir: str) -> tuple[str, str]:
        return out_dir, (sf_dir if self.oracle_reads_clean else out_dir)

    def prepare(self, sf_dir: str, workdir: str) -> tuple[str, str]:
        """Poison a fresh copy under ``workdir``, check it, and return
        the (Spark corpus, oracle corpus) pair."""
        out_dir = tempfile.mkdtemp(prefix=f"{self.name}_", dir=workdir)
        self.poison(sf_dir, out_dir)
        self.sanity(sf_dir, out_dir)
        return self.dirs(sf_dir, out_dir)


# --- null --------------------------------------------------------------------


def _det_mask(table_rows: int, table: str, col: str, salt: str, frac: float):
    """Deterministic per-row mask from md5(table|col|salt|row) — stable
    across runs, independent of numpy RNG versions."""
    out = []
    for i in range(table_rows):
        h = hashlib.md5(f"{table}|{col}|{salt}|{i}".encode()).digest()
        out.append((h[0] / 255.0) < frac)
    return pa.array(out, type=pa.bool_())


class Null(CorpusAudit):
    """NULL-injection audit: operator-vs-oracle agreement on data the
    clean driver corpus never exercises.

    Both latent divergences found by review so far (CDC tombstones with
    NULL event_type; fingerprints of NULL text) were NULL-semantics
    edges that sf* testdata leaves dormant because its columns happen
    to be fully populated. This class makes that class of bug visible
    on demand: it copies sf0.001, deterministically NULL-ing ~5% of the
    values in every analytic (non-key) column — plus a few empty
    strings in text columns, which are a distinct edge (``''`` vs
    NULL) — and every oracled query runs through the same Spark-vs-
    DuckDB compare the correctness suite uses.

    A mismatch here is not automatically a bug — some operators have a
    documented non-null contract (e.g. embedding kernels) — but every
    mismatch must be either fixed or documented as contractual. Keys
    (doc_id, *_orderkey, vec_id, ...) are left intact: the audit probes
    value/measure/dimension semantics, not referential integrity.
    """

    name = "null"

    #: Columns to poison, per table. Keys and join columns stay intact.
    INJECT: dict[str, list[str]] = {
        "documents": ["text", "lang", "source", "n_chars"],
        # ts joined the poison set in r7: the event-time validity window
        # (functions.scalar.valid_event_ts) folds extreme timestamps to
        # NULL, making NULL-ts a first-class flow every time-consuming
        # query must handle — windows over ts pin NULLS FIRST/LAST
        # explicitly because the engines' ASC defaults differ.
        "events": ["event_type", "value", "props", "user_id", "ts"],
        "lineitem": [
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
        "orders": ["o_orderdate", "o_totalprice", "o_orderpriority", "o_orderstatus"],
        "customer": ["c_name", "c_acctbal", "c_mktsegment", "c_nationkey"],
        "part": ["p_brand", "p_type", "p_size", "p_retailprice"],
        "supplier": ["s_acctbal"],
        "embeddings": ["embedding"],
        # region/nation: tiny dims, poisoning them breaks half of TPC-H's
        # premise without exercising anything new. NULL embeddings are
        # fair game since r6: vector operators EXCLUDE invalid rows at
        # the boundary (similarity.valid_vectors) instead of crashing
        # the job, and the oracles declare the same exclusion.
    }

    NULL_FRACTION = 0.05
    EMPTY_FRACTION = 0.03  # string columns also get empty strings

    def poison(self, sf_dir: str, out_dir: str) -> None:
        for tname, fname in _tables(sf_dir):
            tbl = pq.read_table(os.path.join(sf_dir, fname))
            for col in self.INJECT.get(tname, []):
                idx = tbl.schema.get_field_index(col)
                arr = tbl.column(idx).combine_chunks()
                null_mask = _det_mask(len(tbl), tname, col, "null", self.NULL_FRACTION)
                arr = pc.if_else(null_mask, pa.scalar(None, type=arr.type), arr)
                if pa.types.is_string(arr.type) or pa.types.is_large_string(arr.type):
                    empty_mask = _det_mask(
                        len(tbl), tname, col, "empty", self.EMPTY_FRACTION
                    )
                    arr = pc.if_else(empty_mask, pa.scalar("", type=arr.type), arr)
                tbl = tbl.set_column(idx, tbl.schema.field(idx), arr)
            pq.write_table(tbl, os.path.join(out_dir, fname))

    def sanity(self, sf_dir: str, out_dir: str) -> None:
        tbl = pq.read_table(os.path.join(out_dir, "events.parquet"))
        n_null = tbl.column("value").null_count + tbl.column("user_id").null_count
        assert n_null > 0, "NULL injection produced no NULLs"


# --- float -------------------------------------------------------------------


def _bucket(table: str, col: str, i: int) -> float:
    """Deterministic uniform [0,1) per (table, col, row)."""
    h = hashlib.md5(f"{table}|{col}|{i}".encode()).digest()
    return h[0] / 255.0


class Float(CorpusAudit):
    """Non-finite-float audit: operator-vs-oracle agreement on NaN /
    ±Inf — the float analogue of the NULL audit.

    At 100 TB non-finite floats are as certain as NULLs: NaN from 0/0
    in an upstream derivation, ±Inf from overflow or a log(0), and
    poisoned embedding components from a failed encoder batch.
    Cross-engine probes show Spark and DuckDB AGREE
    on total ordering (NaN greatest, above +Inf, in both ORDER BY and
    min/max), on comparison filters, and on NaN-propagating sum/avg —
    but DIVERGE on interpolated percentiles over a NaN-bearing run
    (Spark percentile → the finite-run answer vs DuckDB quantile_cont →
    an Inf/NaN-shifted pick) and DuckDB ERRORS outright where Spark
    yields NULL/NaN (CAST(NaN AS DECIMAL), STDDEV over non-finite). So
    agreement must be measured, not assumed.

    What gets poisoned (deterministic md5 masks, like the NULL audit):

    - ``events.value``: ~2% NaN, ~1% +Inf, ~1% −Inf — exercises
      quartile / window-rank / running-sum / gap-fill / reconciliation
      semantics.
    - ``embeddings.embedding``: one component of ~4% of vectors set to
      NaN or ±Inf — exercises every vector-kernel boundary (a
      non-finite component turns a cosine into NaN, and NaN sorts ABOVE
      every real score in descending top-k in BOTH engines — garbage
      neighbors would win identically on both sides, hash-matching
      while being semantically wrong, which is why the vector boundary
      must EXCLUDE non-finite vectors rather than rank them).

    What deliberately stays clean: TPC-H monetary columns. They carry
    the repo's decimal-cast determinism contract (see ``queries.py``
    module docstring); DuckDB cannot even CAST a NaN to DECIMAL (hard
    error), i.e. non-finite money is a schema-contract violation that
    belongs to ingest validation, not to every downstream aggregate.
    PARITY.md records this as the documented finiteness contract of the
    decimal family.
    """

    name = "float"

    NAN_FRACTION = 0.02
    POS_INF_FRACTION = 0.01
    NEG_INF_FRACTION = 0.01
    EMB_POISON_FRACTION = 0.04

    def _poison_value(self, u: float, orig):
        """Map the uniform draw to NaN / +Inf / −Inf / unchanged."""
        if u < self.NAN_FRACTION:
            return float("nan")
        if u < self.NAN_FRACTION + self.POS_INF_FRACTION:
            return float("inf")
        if u < self.NAN_FRACTION + self.POS_INF_FRACTION + self.NEG_INF_FRACTION:
            return float("-inf")
        return orig

    def poison(self, sf_dir: str, out_dir: str) -> None:
        for tname, fname in _tables(sf_dir):
            src = os.path.join(sf_dir, fname)
            dst = os.path.join(out_dir, fname)
            if tname == "events":
                tbl = pq.read_table(src)
                j = tbl.schema.get_field_index("value")
                vals = [
                    None if v is None
                    else self._poison_value(_bucket("events", "value", i), v)
                    for i, v in enumerate(tbl.column(j).to_pylist())
                ]
                tbl = tbl.set_column(
                    j, tbl.schema.field(j), pa.array(vals, tbl.schema.field(j).type)
                )
                pq.write_table(tbl, dst)
            elif tname == "embeddings":
                tbl = pq.read_table(src)
                j = tbl.schema.get_field_index("embedding")
                out = []
                for i, vec in enumerate(tbl.column(j).to_pylist()):
                    u = _bucket("embeddings", "embedding", i)
                    if vec and u < self.EMB_POISON_FRACTION:
                        vec = list(vec)
                        # which component and which poison, also deterministic
                        h = hashlib.md5(f"emb|pick|{i}".encode()).digest()
                        comp = h[1] % len(vec)
                        vec[comp] = [float("nan"), float("inf"), float("-inf")][h[2] % 3]
                    out.append(vec)
                tbl = tbl.set_column(
                    j, tbl.schema.field(j), pa.array(out, tbl.schema.field(j).type)
                )
                pq.write_table(tbl, dst)
            else:
                shutil.copy(src, dst)

    def sanity(self, sf_dir: str, out_dir: str) -> None:
        tbl = pq.read_table(os.path.join(out_dir, "events.parquet"))
        vals = [v for v in tbl.column("value").to_pylist() if v is not None]
        n_nan = sum(1 for v in vals if isinstance(v, float) and math.isnan(v))
        n_inf = sum(1 for v in vals if isinstance(v, float) and math.isinf(v))
        assert n_nan and n_inf, (n_nan, n_inf)


# --- extreme -----------------------------------------------------------------

#: Extreme timestamps in MICROSECONDS since the epoch (events.ts is
#: timestamp[us]). Kept clear of int64 max/min (DuckDB's ±infinity
#: sentinels — a separate, documented engine boundary).
TS_EXTREMES_US = (
    0,                                   # epoch 0
    -62_135_596_800_000_000,             # 0001-01-01
    253_402_300_799_999_999,             # 9999-12-31 23:59:59.999999
    1_152_921_504_606_846_976,           # 2^60 us ≈ year 38503
    -12_219_292_800_000_000,             # 1582-10-15 (Gregorian cutover)
)

#: A TIMESTAMP(NANOS) column cannot represent most of the µs extremes
#: (its int64 span is only 1677–2262), and blindly casting the µs
#: numbers into a ns column would divide every extreme by 1000 and land
#: them all IN-window — auditing nothing (r7 review finding). The ns
#: corruption class is the representable boundary instead.
TS_EXTREMES_NS = (
    0,                                   # epoch 0
    -9_223_372_036_854_000_000,          # ~1677-09-21 (ns range floor)
    9_223_372_036_854_000_000,           # ~2262-04-11 (ns range ceiling)
    4_611_686_018_427_387_904,           # 2^62 ns ≈ 2116
    -4_611_686_018_427_387_904,          # ≈ 1823
)


def _ts_extremes_for(unit: str):
    if unit == "us":
        return TS_EXTREMES_US
    if unit == "ns":
        return TS_EXTREMES_NS
    if unit == "ms":
        return tuple(v // 1000 for v in TS_EXTREMES_US)
    if unit == "s":
        return tuple(v // 1_000_000 for v in TS_EXTREMES_US)
    raise ValueError(f"unsupported timestamp unit {unit!r}")


#: 12345678901.234567 sits in the double->DECIMAL(18,6) divergence
#: window (|v| > 2^53/10^6 ≈ 9.0e9 but inside the decimal domain):
#: DuckDB's native conversion multiplies by 10^scale in FLOATING POINT
#: and rounds to the double grid (spacing 128 at 1e18) where Spark
#: converts via the shortest decimal string (exact) — a real silent
#: divergence this probe value permanently catches; oracles mirror
#: Spark with TRY_CAST(CAST(x AS VARCHAR) AS DECIMAL(...)).
VALUE_EXTREMES = (
    1e308, -1e308, 5e-324, 1.1e12, -1.1e12,
    12345678901.234567, -98765432109.87654,
)

ID_EXTREMES = (
    9_223_372_036_854_775_807,           # int64 max
    -9_223_372_036_854_775_807,          # int64 min + 1
    4_611_686_018_427_387_904,           # 2^62
    -4_611_686_018_427_387_904,
)


def _draw(table: str, col: str, i: int) -> tuple[float, int]:
    """Deterministic (uniform [0,1), pick-index) per (table, col, row)."""
    h = hashlib.md5(f"{table}|{col}|{i}".encode()).digest()
    return h[0] / 255.0, h[1]


def _poison_column(tbl: pa.Table, tname: str, col: str, fraction: float, extremes):
    j = tbl.schema.get_field_index(col)
    field = tbl.schema.field(j)
    out = []
    n_poisoned = 0
    for i, v in enumerate(tbl.column(j).to_pylist()):
        u, pick = _draw(tname, col, i)
        if v is not None and u < fraction:
            v = extremes[pick % len(extremes)]
            n_poisoned += 1
        out.append(v)
    assert n_poisoned > 0, f"no rows poisoned in {tname}.{col}"
    if pa.types.is_timestamp(field.type):
        arr = pa.array(
            [None if v is None else int(v) for v in out], pa.int64()
        ).cast(field.type)
    else:
        arr = pa.array(out, field.type)
    return tbl.set_column(j, field, arr)


class Extreme(CorpusAudit):
    """Extreme-value audit: operator-vs-oracle agreement on in-range but
    EXTREME values — the third adversary class after NULLs and
    non-finite floats.

    At 100 TB, extreme-but-representable values are as certain as
    NULLs: a corrupted sensor emits epoch-0 or year-9999 timestamps, an
    upstream serializer writes int64 extremes where an id belongs, a
    unit bug yields 1e308 where dollars belong. Unlike NaN (which both
    engines can at least detect uniformly), these values are VALID for
    their types — every operator happily computes with them, so the
    failure modes are silent divergence (overflowing arithmetic,
    sentinel collisions) or resource explosion (data-derived grids
    spanning 300k years).

    What gets poisoned (deterministic md5 masks, like the sibling
    classes):

    - ``events.ts`` (~1.5%): epoch 0, 0001-01-01, 9999-12-31, year
      ~33658 (2^60 us), and a pre-Gregorian 1582 date — exercises every
      time bucketing / windowing / sessionization / gap-fill path.
      Notably the gap-fill grid is DERIVED from min/max(ts): one
      year-33658 row asks ``sequence()`` for ~300M hourly buckets per
      series, the one-malformed-row-kills-the-job class in resource
      form.
    - ``events.value`` (~2%): ±1e308 (finite, but sums overflow to Inf
      and any DECIMAL cast is out of range in BOTH engines — ANSI Spark
      throws, the whole job dies), 5e-324 denormal, and ±1.1e12 (just
      above the decimal(18,6) domain the ``dec()`` contract casts into).
    - ``events.event_id`` / ``events.user_id`` / ``documents.doc_id`` /
      ``embeddings.vec_id`` (~2%): int64 max, min+1, ±2^62 — exercises
      group-by/join/window keys, hash derivations (xxhash64/md5 must not
      pre-round), Arrow id transport (float64 coercion silently rounds
      ids above 2^53), and id tie-breaks. min+1 rather than min:
      abs(min) overflows int64 and min is pandas' NaT/NA sentinel —
      poisoning it would audit pandas, not the engine contract.

    Poisoned ids may collide (two rows drawn to the same extreme) —
    that is intentional; the duplicate-row totality contract (r6) must
    hold under extreme keys too. The sanity proof is the per-column "no
    rows poisoned" assert inside the poisoner.
    """

    name = "extreme"

    TS_FRACTION = 0.015
    VALUE_FRACTION = 0.02
    ID_FRACTION = 0.02

    def poison(self, sf_dir: str, out_dir: str) -> None:
        for tname, fname in _tables(sf_dir):
            src = os.path.join(sf_dir, fname)
            dst = os.path.join(out_dir, fname)
            if tname == "events":
                tbl = pq.read_table(src)
                # ts arrives as datetimes from to_pylist; round-trip via int64
                j = tbl.schema.get_field_index("ts")
                ts_field = tbl.schema.field(j)
                extremes = _ts_extremes_for(ts_field.type.unit)
                raw = tbl.column(j).cast(pa.int64()).to_pylist()
                tbl = tbl.set_column(
                    j, ts_field,
                    pa.array(
                        [
                            v if v is None
                            or _draw("events", "ts", i)[0] >= self.TS_FRACTION
                            else extremes[_draw("events", "ts", i)[1] % len(extremes)]
                            for i, v in enumerate(raw)
                        ],
                        pa.int64(),
                    ).cast(ts_field.type),
                )
                tbl = _poison_column(
                    tbl, "events", "value", self.VALUE_FRACTION, VALUE_EXTREMES
                )
                for col in ("event_id", "user_id"):
                    tbl = _poison_column(
                        tbl, "events", col, self.ID_FRACTION, ID_EXTREMES
                    )
                pq.write_table(tbl, dst)
            elif tname in ("documents", "embeddings"):
                col = "doc_id" if tname == "documents" else "vec_id"
                tbl = _poison_column(
                    pq.read_table(src), tname, col, self.ID_FRACTION, ID_EXTREMES
                )
                pq.write_table(tbl, dst)
            else:
                shutil.copy(src, dst)


# --- order -------------------------------------------------------------------


class Order(CorpusAudit):
    """Row-order audit: operator-vs-oracle agreement on a row-PERMUTED
    corpus.

    At 100 TB nothing guarantees ingest order: files arrive from
    thousands of writers, compaction rewrites partitions, and retries
    interleave. A query whose answer depends on the incidental order of
    rows in the parquet file — a ``first()`` without an ordering, an
    argmax with a non-total tie-break, a limit without a sort — is
    nondeterministic at scale even if it looks stable on a single-file
    local corpus where scan order happens to be row order.

    This audit is an INVARIANCE check, deliberately cross-corpus: Spark
    runs on a deterministically md5-PERMUTED copy of every table while
    the DuckDB oracle runs on the ORIGINAL corpus. Same-corpus
    comparison would miss a query and an oracle that are
    order-dependent in the same way (the analogue of the NaN
    garbage-agreement failure mode the float class documents);
    requiring the permuted-input result to hash-equal the clean-input
    oracle proves the declared semantics are a pure function of the ROW
    SET, not the row sequence — which is exactly the property a
    1000-executor shuffle-ordered execution needs.

    With ``split`` > 1 each permuted table is additionally written as
    ``split`` part files under a ``<name>.parquet/`` directory. The
    driver corpus is single-file single-row-group, so every scan is
    SERIAL locally — splitting makes Spark plan a genuinely parallel
    multi-partition scan with arbitrary file-to-task assignment, the
    shape a 1000-executor cluster always sees.
    """

    name = "order"
    oracle_reads_clean = True

    def __init__(self, split: int = 1):
        self.split = split

    def poison(self, sf_dir: str, out_dir: str) -> None:
        for tname, fname in _tables(sf_dir):
            tbl = pq.read_table(os.path.join(sf_dir, fname))
            # Deterministic permutation: sort rows by md5(table|index).
            keys = [
                hashlib.md5(f"{tname}|{i}".encode()).hexdigest()
                for i in range(len(tbl))
            ]
            order = sorted(range(len(tbl)), key=keys.__getitem__)
            tbl = tbl.take(pa.array(order, pa.int64()))
            _write_split(tbl, os.path.join(out_dir, fname), self.split)

    def sanity(self, sf_dir: str, out_dir: str) -> None:
        """The permutation (and split) must actually have happened — a
        silently-broken permuter would reduce the audit to a same-order
        re-run (r7 review)."""
        src = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        dst_path = os.path.join(out_dir, "events.parquet")
        if os.path.isdir(dst_path):
            assert self.split > 1 and len(os.listdir(dst_path)) > 1, "split missing"
            parts = sorted(glob.glob(os.path.join(dst_path, "*.parquet")))
            dst = pq.read_table(parts[0])
        else:
            dst = pq.read_table(dst_path)
        head_src = src.column("event_id").to_pylist()[:50]
        head_dst = dst.column("event_id").to_pylist()[:50]
        assert head_src != head_dst, "permutation produced identical row order"


# --- split -------------------------------------------------------------------


class Split(CorpusAudit):
    """Degenerate-file-layout audit: operator-vs-oracle agreement when
    every table arrives as a multi-part directory containing EMPTY part
    files, single-row parts, and micro row groups.

    At 100 TB the file layout is hostile by default: streaming sinks
    write empty parts on idle triggers, compaction jobs leave 1-row
    remainders, failed-and-retried writers leave schema-only files, and
    row-group sizes vary per writer config. A query whose result (or
    survival) depends on "every scan partition has rows" breaks in ways
    a clean single-file corpus can never show:

    - ``mapInPandas`` / ``applyInPandas`` kernels receive zero batches
      for empty partitions — per-batch code must not assume a first
      batch.
    - Aggregations see partitions contributing no groups (partial-agg
      merge paths with empty sides).
    - Scan planning sees files much smaller than ``maxPartitionBytes``
      and files whose footer says 0 rows.

    Layout written per table (rows are NOT mutated — same logical row
    set and order, so the single-file oracle is the referee and any
    divergence is a layout sensitivity, never a data edge):

    - ``part-000.parquet`` — 0 rows, schema only (idle streaming trigger)
    - ``part-001.parquet`` — exactly 1 row (compaction remainder)
    - ``part-002.parquet`` — 0 rows again (retried writer)
    - ``part-003.parquet`` — next 7 rows, written with
      ``row_group_size=2`` (micro row groups, one writer's bad config)
    - ``part-004+.parquet`` — the remaining rows over 3 parts
    """

    name = "split"
    oracle_reads_clean = True

    def poison(self, sf_dir: str, out_dir: str) -> None:
        for _tname, fname in sorted(_tables(sf_dir)):
            tbl = pq.read_table(os.path.join(sf_dir, fname))
            part_dir = os.path.join(out_dir, fname)  # <name>.parquet/ dir
            os.makedirs(part_dir)

            def write(piece, idx: int, **kw) -> None:
                pq.write_table(
                    piece, os.path.join(part_dir, f"part-{idx:03d}.parquet"), **kw
                )

            write(tbl.slice(0, 0), 0)                      # empty, schema only
            write(tbl.slice(0, 1), 1)                      # exactly 1 row
            write(tbl.slice(0, 0), 2)                      # empty again
            write(tbl.slice(1, 7), 3, row_group_size=2)    # micro row groups
            rest = tbl.slice(8)
            step = max(1, (len(rest) + 2) // 3)
            for p in range(3):
                write(rest.slice(p * step, step), 4 + p)   # may be 0-row for tiny tables

    def sanity(self, sf_dir: str, out_dir: str) -> None:
        """The layout must actually be degenerate AND lossless — a
        silently single-part or row-dropping rewriter would reduce the
        audit to a plain re-run."""
        for tname in ("events", "documents", "nation"):
            src = pq.read_table(os.path.join(sf_dir, f"{tname}.parquet"))
            parts = sorted(
                glob.glob(os.path.join(out_dir, f"{tname}.parquet", "*.parquet"))
            )
            assert len(parts) >= 7, f"{tname}: expected >=7 parts, got {len(parts)}"
            sizes = [pq.read_metadata(p).num_rows for p in parts]
            assert sizes[0] == 0 and sizes[2] == 0, f"{tname}: empty parts missing"
            assert sizes[1] == 1, f"{tname}: 1-row part missing"
            assert pq.read_metadata(parts[3]).num_row_groups >= 3, (
                f"{tname}: micro row groups missing"
            )
            assert sum(sizes) == len(src), f"{tname}: row count changed"


# --- fuzz --------------------------------------------------------------------


def _h(seed: int, *parts) -> bytes:
    return hashlib.md5("|".join(str(p) for p in (seed, *parts)).encode()).digest()


def _u(seed: int, *parts) -> float:
    """Deterministic uniform [0, 1) with 32-bit granularity."""
    return int.from_bytes(_h(seed, *parts)[:4], "big") / 2**32


_SCRIPT_SUFFIXES = (" ßİı", " 你好", " пр", " \U0001f600")
_NONFINITE = {"nan": float("nan"), "pinf": float("inf"), "ninf": float("-inf")}


class Fuzz(CorpusAudit):
    """Seeded random-composition audit: operator-vs-oracle agreement on
    corpora where EVERY adversary class this repo has catalogued is
    applied at once, with seed-varied masks and rates.

    The sibling classes are fixed-mask: the NULL class always NULLs the
    same ~5% of rows, the float class always NaNs the same ~2%, the
    extreme class always picks the same extreme per row. Fixed masks
    prove the classes are handled, but a mask-POSITION-dependent bug
    stays invisible — e.g. an argmax whose tie-break only breaks when
    the NULL lands on the group's winning row, or a window frame that
    only misbehaves when the extreme timestamp is the per-key minimum.
    This class samples that space: each seed derives fresh
    per-(table, column, class) rates AND fresh per-row masks, so every
    seed is a new composition of the same certified adversary classes.

    Two classes appear here at full-registry scope:

    - **Duplicate rows + hot-key skew**: after cell mutation, ~1-3% of
      rows are replicated verbatim 1-3x and two "hot" rows per table
      are replicated tens of times (the r6 duplicate-row totality
      contract — set-semantics indexes, total tie-breaks — was
      previously pinned only on the text/embedding pytest corpora, not
      across all 98 oracles). Replication is VERBATIM and post-mutation
      on purpose: id-colliding rows with differing payloads are already
      injected by the extreme-id class, under the documented
      ``unique_by_id`` / totality contracts.
    - **Text-content mutation**: case-swapped, whitespace-only, and
      mixed-script variants of document/dimension strings (the r6
      Unicode-case corpus generalized beyond the fingerprint family).
      Both engines compare strings bytewise, so agreement is expected —
      but measured, not assumed, exactly like the NaN-ordering facts.

    Corpus layout follows the order class's cross-corpus invariance
    design: Spark reads the mutated corpus md5-PERMUTED and SPLIT into
    a seeded number of part files (the multi-writer layout a
    1000-executor cluster always sees); the DuckDB oracle reads a
    single-file, unpermuted copy of the SAME row set. A hash match
    therefore certifies, per seed, that the declared semantics are a
    pure function of the mutated row SET under the full adversary
    composition. The sanity proof is the poisoner's own asserts: cells
    mutated in events, documents and lineitem.
    """

    name = "fuzz"

    #: Per-class base rate bounds (lo, hi); the seed draws each column's
    #: actual rate uniformly inside its bound, so total mutation density
    #: varies run to run but stays low enough that the data keeps meaning.
    RATE_BOUNDS = {
        "null": (0.01, 0.06),
        "empty": (0.005, 0.03),
        "ws": (0.005, 0.02),       # whitespace-only string
        "case": (0.01, 0.04),      # case-swapped string
        "script": (0.005, 0.02),   # mixed-script suffix
        "nan": (0.005, 0.02),
        "pinf": (0.003, 0.01),
        "ninf": (0.003, 0.01),
        "extreme": (0.005, 0.02),
        "emb_null": (0.01, 0.04),
        "emb_nonfinite": (0.01, 0.03),
        "emb_ragged": (0.005, 0.02),
        "dup": (0.01, 0.03),
    }

    #: Which mutation classes apply to which (table, column). Mirrors the
    #: union of the sibling classes' poison sets; TPC-H monetary columns
    #: stay finite (the decimal-domain ingest contract, see ``Float``)
    #: but do get NULLs, and keys get extremes-with-collisions, never
    #: NULLs.
    PLAN: dict[str, dict[str, tuple[str, ...]]] = {
        "events": {
            "ts": ("null", "extreme"),
            "value": ("null", "nan", "pinf", "ninf", "extreme"),
            "event_type": ("null", "empty", "case"),
            "props": ("null", "empty"),
            "user_id": ("null", "extreme"),
            "event_id": ("extreme",),
        },
        "documents": {
            "doc_id": ("extreme",),
            "text": ("null", "empty", "ws", "case", "script"),
            "lang": ("null", "empty"),
            "source": ("null", "empty"),
            "n_chars": ("null",),
        },
        "embeddings": {
            "vec_id": ("extreme",),
            "embedding": ("emb_null", "emb_nonfinite", "emb_ragged"),
        },
        "lineitem": {
            "l_quantity": ("null",),
            "l_extendedprice": ("null",),
            "l_discount": ("null",),
            "l_tax": ("null",),
            "l_returnflag": ("null", "case"),
            "l_linestatus": ("null", "case"),
            "l_shipdate": ("null",),
        },
        "orders": {
            "o_orderdate": ("null",),
            "o_totalprice": ("null",),
            "o_orderpriority": ("null", "case"),
            "o_orderstatus": ("null",),
        },
        "customer": {
            "c_name": ("null", "case"),
            "c_acctbal": ("null",),
            "c_mktsegment": ("null", "case"),
            "c_nationkey": ("null",),
        },
        "part": {
            "p_brand": ("null", "case"),
            "p_type": ("null", "case"),
            "p_size": ("null",),
            "p_retailprice": ("null",),
        },
        "supplier": {
            "s_acctbal": ("null",),
        },
        # region/nation stay clean (tiny dims; see the Null rationale).
    }

    #: Tables that get duplicate-row + hot-key injection. Dimension
    #: tables are excluded: duplicating a nation row is a
    #: referential-integrity violation (fan-out in every join), which is
    #: ingest validation's problem, not per-query semantics.
    DUP_TABLES = ("events", "documents", "embeddings", "lineitem", "customer")

    def __init__(self, seed: int | None = None):
        self.seed = seed

    def run_leg(self, leg: int, run) -> dict:
        """Every seed of the run in one JVM; the table entry's own seed
        is unused."""
        spark = run.session("fuzz-audit")
        report, per_seed = {}, {}
        for seed in run.seeds:
            rep = run.corpus_sweep(spark, Fuzz(seed))
            report.update({f"{n}@seed{seed}": e for n, e in rep.items()})
            per_seed[seed] = sum(e["status"] != "match" for e in rep.values())
        return run.result(self.name, report, flagged_per_seed=per_seed)

    def _rate(self, table: str, col: str, cls: str) -> float:
        lo, hi = self.RATE_BOUNDS[cls]
        return lo + (hi - lo) * _u(self.seed, "rate", table, col, cls)

    def _pick(self, table: str, col: str, i: int, classes):
        """The (class, pick bytes) a cell draws, or (None, _) to keep it."""
        pick = _h(self.seed, "pick", table, col, i)
        off = 0.0
        u = _u(self.seed, "cell", table, col, i)
        for cls in classes:
            r = self._rate(table, col, cls)
            if u < off + r:
                return cls, pick
            off += r
        return None, pick

    def _mutate(self, table, col, i, v, classes, extremes):
        """One cell after the mutation class it draws (if any)."""
        cls, pick = self._pick(table, col, i, classes)
        if cls in ("null", "emb_null"):
            return None
        if cls == "empty":
            return ""
        if cls == "ws":
            return " \t\n " * (1 + pick[2] % 3)
        if cls == "script":
            return (v or "") + _SCRIPT_SUFFIXES[pick[3] % len(_SCRIPT_SUFFIXES)]
        if cls is None or v is None:
            return v
        if cls == "case":
            return v.swapcase()
        if cls in _NONFINITE:
            return _NONFINITE[cls]
        if cls == "extreme":
            return extremes[pick[2] % len(extremes)]
        if cls == "emb_nonfinite":
            out = list(v)
            out[pick[2] % len(out)] = (
                float("nan"), float("inf"), float("-inf")
            )[pick[3] % 3]
            return out
        if cls == "emb_ragged":
            return list(v)[: 1 + pick[2] % (len(v) - 1)]
        raise AssertionError(cls)

    def _mutate_column(self, tbl: pa.Table, tname: str, col: str, classes):
        j = tbl.schema.get_field_index(col)
        field = tbl.schema.field(j)
        t = field.type
        column = tbl.column(j)
        if pa.types.is_timestamp(t):
            # ts arrives as datetimes from to_pylist; round-trip via int64
            column = column.cast(pa.int64())
            extremes = _ts_extremes_for(t.unit)
        else:
            extremes = VALUE_EXTREMES if pa.types.is_floating(t) else ID_EXTREMES
        out = [
            self._mutate(tname, col, i, v, classes, extremes)
            for i, v in enumerate(column.to_pylist())
        ]
        return tbl.set_column(j, field, pa.array(out, column.type).cast(t))

    def _duplicate_rows(self, tbl: pa.Table, tname: str) -> pa.Table:
        """Verbatim post-mutation replication: ~1-3% of rows 1-3x extra,
        plus two hot rows replicated 20-60x (hot-key skew)."""
        n = len(tbl)
        if n == 0:
            return tbl
        p_dup = self._rate(tname, "_row", "dup")
        idx: list[int] = []
        for i in range(n):
            idx.append(i)
            h = _h(self.seed, "dup", tname, i)
            if int.from_bytes(h[:4], "big") / 2**32 < p_dup:
                idx.extend([i] * (1 + h[4] % 3))
        for j in range(2):
            h = _h(self.seed, "hot", tname, j)
            hot_i = int.from_bytes(h[:4], "big") % n
            idx.extend([hot_i] * (20 + h[4] % 41))
        return tbl.take(pa.array(idx, pa.int64()))

    def _permute(self, tbl: pa.Table, tname: str) -> pa.Table:
        keys = [_h(self.seed, "perm", tname, i) for i in range(len(tbl))]
        order = sorted(range(len(tbl)), key=keys.__getitem__)
        return tbl.take(pa.array(order, pa.int64()))

    def dirs(self, sf_dir: str, out_dir: str) -> tuple[str, str]:
        return os.path.join(out_dir, "spark"), os.path.join(out_dir, "oracle")

    def poison(self, sf_dir: str, out_dir: str) -> None:
        """Build the seed's corpus pair: ``spark/`` permuted+split,
        ``oracle/`` single-file with the same rows."""
        spark_dir, oracle_dir = self.dirs(sf_dir, out_dir)
        os.makedirs(spark_dir)
        os.makedirs(oracle_dir)
        n_mutated = 0
        for tname, fname in sorted(_tables(sf_dir)):
            tbl = pq.read_table(os.path.join(sf_dir, fname))
            before = tbl
            for col, classes in self.PLAN.get(tname, {}).items():
                tbl = self._mutate_column(tbl, tname, col, classes)
            # Small tables (supplier is ~10 rows at sf0.001) can draw zero
            # mutations at these rates; require the poison to be visibly
            # present only where the law of large numbers guarantees it.
            if tname in ("events", "documents", "lineitem") and tbl.equals(before):
                raise AssertionError(f"seed {self.seed}: no cells mutated in {tname}")
            n_mutated += int(tname in self.PLAN and not tbl.equals(before))
            if tname in self.DUP_TABLES:
                tbl = self._duplicate_rows(tbl, tname)
            pq.write_table(tbl, os.path.join(oracle_dir, fname))
            # Spark side: permute the expanded table, split into 1-8 files.
            split = 1 + _h(self.seed, "split", tname)[0] % 8
            _write_split(
                self._permute(tbl, tname), os.path.join(spark_dir, fname), split
            )
        assert n_mutated > 0, "fuzz poison touched no tables"
