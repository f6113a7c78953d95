"""Text-analysis operators over document tables — the large-scale
training-data-pipeline surface (BASELINE.json north star): token
counting, quality scoring, language-ID heuristic, fingerprinting.

All hot-path logic is built-in JVM expressions (codegen'd, no Python);
every formula is restricted to +,-,*,/ and string/regex builtins with
identical semantics in ANSI SQL so a DuckDB oracle can replay it exactly
(no libm transcendentals whose bits differ across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny multilingual marker-word lists for the language-ID heuristic.
#: Real deployments plug in a proper n-gram model; the operator shape
#: (tokenize → per-language evidence count → argmax) is what scales.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "una", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}

#: English stopwords for the quality-score stopword ratio.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "of", "and", "or", "is", "are", "to", "in",
    "on", "for", "with", "at", "by", "from", "as", "that", "this", "it",
)

#: DuckDB IN-list of ``STOPWORDS``: oracles that count stopwords inline
#: it as ``lower(t) IN ({ORACLE_STOPWORDS})``.
ORACLE_STOPWORDS = ", ".join(f"'{w}'" for w in STOPWORDS)

_PUNCT_PATTERN = r"[.,;:!?]"
_BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: split trimmed text on runs of whitespace.
    Matches ``regexp_split_to_array(trim(x), '\\s+')`` in ANSI SQL."""
    col = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(col), r"\s+")


def token_count(text: Column | str) -> Column:
    """Count of whitespace tokens. Boundary semantics follow SQL split:
    empty/whitespace-only text counts as 1 (the empty token), matching
    ``len(regexp_split_to_array(trim(x), '\\s+'))`` in the DuckDB oracle
    — unlike Python's ``str.split()`` which yields 0."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: alpha runs count 1, digits count 1 each,
    other symbols 1 each — a cheap stand-in for BPE token budgeting with
    a portable regex (``regexp_count`` / ``len(regexp_extract_all)``)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(_BPE_ISH_PATTERN))


def punct_ratio(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    n_punct = F.regexp_count(col, F.lit(_PUNCT_PATTERN))
    return n_punct / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def avg_token_len(text: Column | str) -> Column:
    col = F.col(text) if isinstance(text, str) else text
    toks = tokens(col)
    total = F.length(col) - (F.size(toks) - 1)  # chars minus separators
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1]: rewards stopword
    presence and mid-length tokens, penalizes punctuation soup and very
    short docs. Linear+clamp only (no exp/log) → bit-portable to SQL."""
    col = F.col(text) if isinstance(text, str) else text
    length_term = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - punct_ratio(col) * 10.0, F.lit(0.0))
    return F.round((length_term + stop_term + punct_term) / 3.0, 6)


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts over lowercase tokens."""
    toks = F.transform(tokens(text), F.lower)
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """Argmax language with deterministic tiebreak (language-code order),
    'und' when no marker hits at all."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # Build reverse-order CASE so earlier language codes win ties.
    for lang in sorted(scores, reverse=True):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    return F.when(best == 0, F.lit("und")).otherwise(result)


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Sliding token-window chunking — the standard LLM-ingest shape:
    chunk i covers tokens [i·stride, i·stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk is short rather than
    padded, and every token is covered. Output one row per (doc, chunk):
    (id, chunk_idx, chunk_text, n_chunk_tokens).

    Pure expressions over a staged token projection (explode of a
    sequence + array slice) — no shuffle, corpus-linear, and the row
    amplification is bounded by ~n_tokens/stride. Arithmetic is small-int
    exact so a DuckDB oracle replays it bit-for-bit. Empty/whitespace
    text yields one empty chunk (SQL split semantics: the empty token)."""
    assert 0 <= overlap < chunk_tokens
    stride = chunk_tokens - overlap
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - chunk_tokens) / F.lit(stride)).cast("int")
    )
    staged = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    exploded = staged.select(
        F.col(id_col),
        toks,
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    piece = F.slice(
        toks, F.col("chunk_idx") * stride + 1, F.lit(chunk_tokens)
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def with_lang_pred(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Append the lang-ID argmax as a column via staged projections.
    The composed ``lang_id`` expression references the token array ~25×
    (once per language score per CASE branch) and Catalyst does not CSE
    inside a projection — this computes the lowered token array and each
    language score exactly once per row. Same formula/tiebreak as
    ``lang_id``."""
    ltoks = F.col("__ltoks")
    staged = (
        df.withColumn("__ltoks", F.transform(tokens(text_col), F.lower))
        .withColumns(
            {
                f"__s_{lang}": F.size(
                    F.filter(ltoks, lambda t: t.isin(*markers))
                )
                for lang, markers in LANG_MARKERS.items()
            }
        )
        .withColumn(
            "__best", F.greatest(*[F.col(f"__s_{lg}") for lg in LANG_MARKERS])
        )
    )
    pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when(
            F.col(f"__s_{lang}") == F.col("__best"), F.lit(lang)
        ).otherwise(pred)
    pred = F.when(F.col("__best") == 0, F.lit("und")).otherwise(pred)
    return staged.withColumn(out_col, pred).drop(
        "__ltoks", "__best", *[f"__s_{lg}" for lg in LANG_MARKERS]
    )


def with_quality_score(
    df: DataFrame, text_col: str = "text", out_col: str = "quality_score"
) -> DataFrame:
    """Append the quality score as a column via staged projections —
    the composed ``quality_score`` expression re-tokenizes per term.
    Same formula as ``quality_score``."""
    col = F.col(text_col)
    toks = F.col("__toks_q")
    staged = (
        df.withColumn("__toks_q", tokens(text_col))
        .withColumn(
            "__n_stop_q",
            F.size(
                F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
            ),
        )
        .withColumn("__n_punct_q", F.regexp_count(col, F.lit(_PUNCT_PATTERN)))
    )
    n_tokens_f = F.greatest(F.size(toks), F.lit(1))
    raw_stop = F.col("__n_stop_q") / n_tokens_f
    raw_punct = F.col("__n_punct_q") / F.greatest(F.length(col), F.lit(1))
    score = F.round(
        (
            F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
            + F.least(raw_stop * 4.0, F.lit(1.0))
            + F.greatest(F.lit(1.0) - raw_punct * 10.0, F.lit(0.0))
        )
        / 3.0,
        6,
    )
    return staged.withColumn(out_col, score).drop(
        "__toks_q", "__n_stop_q", "__n_punct_q"
    )


#: ASCII case-fold tables for the portable normalization below.
_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalized_text(text: Column | str) -> Column:
    """Canonical form for exact-dup fingerprinting: ASCII-case-fold,
    collapse whitespace runs, trim.

    ASCII folding (``translate``), NOT full ``lower()``: Unicode case
    mapping is engine-dependent — measured on this container, Spark
    (Java) lowers ``İ`` to ``i`` + combining dot and applies Greek
    final-sigma context (``ΟΣ`` → ``ος``) while DuckDB (utf8proc) gives
    ``i`` and per-char ``οσ`` — so an md5 over ``lower()`` output is NOT
    a portable dedup key. ``translate`` over the 26 ASCII letters is
    bit-identical everywhere; non-ASCII case variants stay distinct,
    which errs in the conservative no-false-merge direction."""
    col = F.col(text) if isinstance(text, str) else text
    folded = F.translate(col, _ASCII_UPPER, _ASCII_LOWER)
    return F.trim(F.regexp_replace(folded, r"\s+", " "))


def fingerprint(text: Column | str) -> Column:
    """Content fingerprint = md5 of the normalized text. md5 is available
    and bit-identical in Spark, DuckDB, and most engines — the portable
    choice for cross-system dedup keys.

    NULL text fingerprints as the EMPTY string (md5('')), not NULL: a
    NULL key would silently break dedup semantics downstream (NULL never
    equi-joins, so a LEFT ANTI against the fingerprint index would admit
    every NULL-text doc as "new"). NULL-text and empty-text docs are
    exact duplicates of each other under this contract. Every oracle
    that re-derives fp applies the same coalesce(text, '')."""
    col = F.col(text) if isinstance(text, str) else text
    return F.md5(normalized_text(F.coalesce(col, F.lit(""))))


#: Winnowing parameters: Rabin-Karp base/modulus for the k-gram
#: polynomial hash and a Knuth multiplicative mix. All arithmetic stays
#: exact in int64 ((acc*257 + c) < 2^39 before each mod; mixed product
#: < 2^63), so Spark and the DuckDB oracle compute identical values.
WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_647  # 2^31 - 1
WINNOW_MIX = 2_654_435_761  # Knuth's 2^32 / phi


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    window: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., "Winnowing:
    Local Algorithms for Document Fingerprinting"): rolling-hash every
    character ``k``-gram of the normalized text, slide a ``window`` over
    consecutive k-gram hashes, keep each window's minimum, dedup. Two
    documents sharing any sufficiently long passage (≥ k + window - 1
    chars) are guaranteed to share a fingerprint — the *partial-overlap*
    detector that whole-document fingerprints and document-level MinHash
    are blind to.

    Spark-first shape: char-code array projected once per doc, then the
    k-gram hashes and window minima are array expressions over it —
    corpus-linear, zero shuffle, whole-stage codegen. The hash is a
    base-257 polynomial mod 2^31-1 with a Knuth multiplicative mix
    (computed by ``F.aggregate`` fold — semantically the rolling hash,
    evaluated per position). Every step is exact int64 arithmetic, so
    the DuckDB oracle replays fingerprints bit-for-bit (list_reduce with
    a prepended 0 matches the fold's zero init).

    Returns (id_col, fp): one row per distinct selected fingerprint per
    document. Docs shorter than ``k`` normalized chars yield no rows.
    """
    codes = F.transform(
        F.split(normalized_text(text_col), ""),
        lambda c: F.ascii(c).cast("bigint"),
    )
    staged = df.select(F.col(id_col), codes.alias("__codes")).filter(
        F.size("__codes") >= k
    )
    kh = F.transform(
        F.sequence(F.lit(1), F.size("__codes") - (k - 1)),
        lambda i: (
            F.aggregate(
                F.slice("__codes", i, k),
                F.lit(0).cast("bigint"),
                lambda acc, c: (acc * WINNOW_BASE + c) % WINNOW_MOD,
            )
            * WINNOW_MIX
        )
        % WINNOW_MOD,
    )
    hashed = staged.select(F.col(id_col), kh.alias("__kh"))
    mins = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size("__kh") - (window - 1), F.lit(1))
        ),
        lambda j: F.array_min(F.slice("__kh", j, window)),
    )
    # distinct() guards duplicate doc_id rows the same way the shingle
    # index does (dedup.shingle_index): without it a doubled row doubles
    # every per-doc fingerprint and inflates overlap counts AND the
    # document-frequency cut (r6 duplicate-row audit). The per-row
    # array_distinct alone only covers within-document repeats.
    return hashed.select(
        F.col(id_col),
        F.explode(F.array_distinct(mins)).alias("fp"),
    ).distinct()


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full per-document text-analysis profile — staged projections,
    entirely whole-stage-codegen; scales linearly with no shuffle.

    Staging matters: composing the per-feature helpers inline would
    duplicate the ``tokens()`` split expression at every reference site
    (the lang-ID argmax alone references the token array ~25×, and
    Catalyst does not CSE inside a single projection) — measured ~10×
    slower. Each expensive array is projected once as a real column;
    CollapseProject keeps the stages because the expressions are
    non-cheap. Formulas are identical to the standalone helpers."""
    col = F.col(text_col)
    toks = F.col("__toks")
    ltoks = F.col("__ltoks")
    staged = (
        df.select(
            F.col(id_col),
            F.length(col).alias("n_chars"),
            bpe_ish_token_count(col).alias("n_bpe_tokens"),
            F.regexp_count(col, F.lit(_PUNCT_PATTERN)).alias("__n_punct"),
            fingerprint(col).alias("fingerprint"),
            tokens(col).alias("__toks"),
        )
        .withColumn("__ltoks", F.transform(toks, F.lower))
        .withColumn("n_tokens", F.size(toks))
        .withColumn(
            "__n_stop",
            F.size(F.filter(ltoks, lambda t: t.isin(*STOPWORDS))),
        )
        .withColumns(
            {
                f"__s_{lang}": F.size(
                    F.filter(ltoks, lambda t: t.isin(*markers))
                )
                for lang, markers in LANG_MARKERS.items()
            }
        )
        .withColumn(
            "__best", F.greatest(*[F.col(f"__s_{lg}") for lg in LANG_MARKERS])
        )
    )
    # From here everything is cheap arithmetic over materialized ints.
    n_tokens_f = F.greatest(F.col("n_tokens"), F.lit(1))
    n_chars_f = F.greatest(F.col("n_chars"), F.lit(1))
    raw_stop = F.col("__n_stop") / n_tokens_f
    raw_punct = F.col("__n_punct") / n_chars_f
    lang_pred = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        lang_pred = F.when(
            F.col(f"__s_{lang}") == F.col("__best"), F.lit(lang)
        ).otherwise(lang_pred)
    lang_pred = F.when(F.col("__best") == 0, F.lit("und")).otherwise(lang_pred)
    return staged.select(
        id_col,
        "n_chars",
        "n_tokens",
        "n_bpe_tokens",
        F.round(
            (F.col("n_chars") - (F.col("n_tokens") - 1)) / n_tokens_f, 6
        ).alias("avg_token_len"),
        F.round(raw_punct, 6).alias("punct_ratio"),
        F.round(raw_stop, 6).alias("stopword_ratio"),
        F.round(
            (
                F.least(F.col("n_chars") / F.lit(500.0), F.lit(1.0))
                + F.least(raw_stop * 4.0, F.lit(1.0))
                + F.greatest(F.lit(1.0) - raw_punct * 10.0, F.lit(0.0))
            )
            / 3.0,
            6,
        ).alias("quality_score"),
        lang_pred.alias("lang_pred"),
        "fingerprint",
    )
