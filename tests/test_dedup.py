"""Dedup operator behavior beyond the oracle harness: LSH recall against
the exact measure, SimHash sanity, exact dedup semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_voting_data_engineering_spark.operators import dedup as D
from realtime_voting_data_engineering_spark.sources.tables import load_table

#: The two connected-components engines. ``connected_components``
#: reaches the driver union-find at test sizes, and star contraction
#: once the edge gate is below every pair count (-1, so an empty graph
#: reaches it too).
CC_ENGINES = ("driver", "star")


def cc_engine(df, engine):
    """``D.connected_components`` through one named engine."""
    with pytest.MonkeyPatch.context() as mp:
        if engine == "star":
            mp.setattr(D, "_CC_DRIVER_MAX_EDGES", -1)
        return D.connected_components(df)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_minhash_lsh_full_recall_on_corpus(spark, sf_dir):
    """At jaccard ≥ 0.5 the corpus's planted near-dups (~0.99) must all
    survive LSH banding — 4 bands of 4 rows has vanishing miss
    probability at that similarity ((1-j^4)^4 ≈ 1e-5)."""
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.5).collect()
    }
    assert exact, "corpus should contain planted near-dup pairs"
    assert lsh == exact, f"LSH missed {exact - lsh} / invented {lsh - exact}"


def test_jaccard_for_pairs_matches_all_pairs_measure(spark, sf_dir):
    """The pair-driven verification (semi-join pruned, candidate-linear)
    must produce exactly the all-pairs measure restricted to the given
    pairs — same jaccard values, nothing extra, nothing lost (pairs with
    zero intersection excepted: jaccard 0 never passes a threshold)."""
    docs = _docs(spark, sf_dir)
    all_pairs = D.ngram_jaccard_pairs(docs, threshold=0.0)
    # Use every pair that shares ≥1 shingle as the candidate set.
    cands = all_pairs.select("id_a", "id_b")
    driven = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.jaccard_for_pairs(docs, cands).collect()
    }
    expected = {(r.id_a, r.id_b): r.jaccard for r in all_pairs.collect()}
    assert driven == expected


def test_simhash_finds_planted_near_dups(spark, sf_dir):
    """The ~0.99-jaccard planted pairs differ in a few tokens, so their
    SimHashes should collide within the banding radius."""
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.9).collect()
    }
    sim = {
        (r.id_a, r.id_b)
        for r in D.simhash_near_dup_pairs(_docs(spark, sf_dir), max_hamming=8).collect()
    }
    assert exact
    found = exact & sim
    recall = len(found) / len(exact)
    assert recall >= 0.8, f"simhash recall {recall:.2f} on planted near-dups"


def test_simhash_is_deterministic(spark, sf_dir):
    t1 = {(r.doc_id, r.sh) for r in D.simhash_table(_docs(spark, sf_dir)).collect()}
    t2 = {(r.doc_id, r.sh) for r in D.simhash_table(_docs(spark, sf_dir)).collect()}
    assert t1 == t2


def test_winnow_detects_planted_passage_overlap(spark):
    """Two documents sharing one long passage but otherwise disjoint
    must pair up (the winnowing guarantee: any shared run of at least
    k + window - 1 chars shares a fingerprint); fully disjoint docs must
    not. Also pins the ubiquity guard: a passage pasted into MORE than
    max_df docs is dropped by the document-frequency cut, so boilerplate
    alone creates no pairs."""
    passage = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, "alpha beta gamma delta " + passage + " epsilon zeta"),
        (2, passage + " omicron pi rho sigma tau upsilon entirely"),
        (3, "unrelated filler content with no repeated passages at all"),
        (4, "completely different words everywhere nothing shared here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in D.winnow_overlap_pairs(df, min_shared=2).collect()
    }
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)

    # Ubiquity guard: the same passage in every doc of a corpus larger
    # than max_df produces ZERO pairs — its fingerprints are cut.
    many = spark.createDataFrame(
        [(i, f"doc number {i} distinct words " + passage) for i in range(30)],
        "doc_id long, text string",
    )
    cut = D.winnow_overlap_pairs(many, max_df=10, min_shared=2).collect()
    common_only = {
        (r.id_a, r.id_b)
        for r in cut
    }
    assert not common_only, f"ubiquitous-passage pairs survived the df cut: {common_only}"


def test_connected_components_match_union_find(spark):
    """Both CC engines (driver union-find and star contraction) and the
    size-gated dispatch vs a plain-Python union-find on a graph with
    chains (exercises multi-round contraction), a triangle, an isolated
    pair, two disjoint long paths, and a node appearing only in a
    self-loop pair (each engine must emit it as its own singleton
    cluster)."""
    pairs = [
        (1, 2), (2, 3), (3, 4), (4, 5),      # chain of 5
        (10, 11), (11, 12), (10, 12),        # triangle
        (20, 21),                            # isolated pair
        (30, 31), (31, 32), (32, 33),        # path of 4
        (40, 40),                            # self-loop only
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.id_a: r.cluster_id for r in D.connected_components(df).collect()}
    for engine in CC_ENGINES:
        via = {r.id_a: r.cluster_id for r in cc_engine(df, engine).collect()}
        assert via == got, engine

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    assert got == expected


def test_chunking_covers_every_token_with_declared_overlap(spark, sf_dir):
    """Reassembling chunks must reproduce the exact token sequence:
    chunk i starts at i*stride, overlaps its predecessor by `overlap`
    tokens, the last chunk is short (never padded), and dropping each
    chunk's leading overlap (except the first) concatenates back to the
    original tokens."""
    from realtime_voting_data_engineering_spark.operators import text as X

    chunk_tokens, overlap = 32, 8
    stride = chunk_tokens - overlap
    docs = load_table(spark, sf_dir, "documents").limit(50)
    chunks = {}
    for r in X.chunk_documents(
        docs, chunk_tokens=chunk_tokens, overlap=overlap
    ).collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_idx] = (
            r.chunk_text,
            r.n_chunk_tokens,
        )
    originals = {r.doc_id: r.text.strip().split() for r in docs.collect()}
    assert set(chunks) == set(originals)
    for doc_id, toks in originals.items():
        by_idx = chunks[doc_id]
        assert sorted(by_idx) == list(range(len(by_idx)))
        rebuilt: list[str] = []
        for i in range(len(by_idx)):
            text_i, n_i = by_idx[i]
            piece = text_i.split(" ") if text_i else [""]
            assert piece == toks[i * stride : i * stride + chunk_tokens] or (
                toks == [] and piece == [""]
            )
            assert n_i == len(piece)
            rebuilt.extend(piece if i == 0 else piece[overlap:])
        assert rebuilt == (toks if toks else [""])


def test_exact_dedup_keeps_one_row_per_key(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    deduped = D.exact_dedup(events, ["user_id", "event_type"])
    assert (
        deduped.groupBy("user_id", "event_type").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_connected_components_star_matches_propagate(spark):
    """Star contraction, the distributed engine that replaced min-label
    propagation, produces the same clusters as the driver union-find on
    a mixed-shape graph (chains, triangle, isolated pair, and a node
    appearing only in a self-loop pair — both engines must emit it as
    its own singleton cluster)."""
    pairs = [
        (1, 2), (2, 3), (3, 4), (4, 5),
        (10, 11), (11, 12), (10, 12),
        (20, 21),
        (30, 31), (31, 32), (32, 33),
        (40, 40),
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    driver = {(r.id_a, r.cluster_id) for r in cc_engine(df, "driver").collect()}
    star = {(r.id_a, r.cluster_id) for r in cc_engine(df, "star").collect()}
    assert star == driver
    assert (40, 40) in star


def test_connected_components_star_converges_logarithmically_on_path(
    spark, monkeypatch
):
    """Planted 1000-node path graph with the edge gate below its 999
    edges, so ``connected_components`` must answer distributed: the
    diameter is 999, a label-propagation fixpoint would need ~999
    rounds, and large-star/small-star contraction must finish within
    ~log2(n) alternating rounds — pinned by a round cap of 15
    (2**15 >> 1000). All nodes collapse to cluster 0."""
    monkeypatch.setattr(D, "_CC_MAX_ROUNDS", 15)
    n = 1000
    monkeypatch.setattr(D, "_CC_DRIVER_MAX_EDGES", n // 2)
    df = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                               "id_a long, id_b long")
    got = {r.id_a: r.cluster_id for r in D.connected_components(df).collect()}
    assert got == {i: 0 for i in range(n)}


def test_fingerprint_null_text_is_empty_string_dup(spark):
    """NULL-text contract: fingerprint(NULL) == fingerprint('') ==
    md5('') — never NULL. A NULL fp would break dedup semantics (NULL
    never equi-joins, so the incremental LEFT ANTI would admit every
    NULL-text doc as new). Checked end to end: the DuckDB oracle
    fragment computes the identical fp, and incremental_dedup rejects a
    NULL-text incoming doc when an empty-text doc already exists."""
    import duckdb

    rows = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "real text")],
        "doc_id long, text string",
    )
    from realtime_voting_data_engineering_spark.operators.text import fingerprint

    got = {r.doc_id: r.fp for r in rows.select("doc_id", fingerprint("text").alias("fp")).collect()}
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"  # md5('')
    assert got[1] == got[2] == got[3] == empty_md5
    assert got[4] not in (None, empty_md5)
    # The oracle-side fragment re-derives identical fps, NULL included.
    oracle = duckdb.sql(
        r"""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))) AS fp
        FROM (VALUES (1, NULL), (2, ''), (3, '   '), (4, 'real text'))
             t(doc_id, text)
        """
    ).fetchall()
    assert {d: fp for d, fp in oracle} == got
    # Incremental dedup: NULL-text incoming is a dup of empty-text existing.
    incoming = spark.createDataFrame([(10, None), (11, "fresh doc")], "doc_id long, text string")
    existing = spark.createDataFrame([(1, "")], "doc_id long, text string")
    admitted = {r.doc_id for r in D.incremental_dedup(incoming, existing).collect()}
    assert admitted == {11}


def test_connected_components_empty_and_self_loop_graphs(spark):
    """Degenerate graphs through both engines: an EMPTY pair set must
    yield an empty cluster map (not an error — the r6 lazy-checkpoint
    rounds still converge on round 1), and a self-loop-only pair set
    must emit each node as its own singleton cluster. Guards the
    localCheckpoint(eager=False) convergence path added in r6."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    for engine in CC_ENGINES:
        assert cc_engine(empty, engine).count() == 0, engine

    loops = spark.createDataFrame([(7, 7), (9, 9)], "id_a long, id_b long")
    for engine in CC_ENGINES:
        got = {r.id_a: r.cluster_id for r in cc_engine(loops, engine).collect()}
        assert got == {7: 7, 9: 9}, engine


def test_connected_components_driver_string_ids_and_null_fallback(spark):
    """The driver union-find must preserve a non-long id type (string
    doc ids cluster by lexicographic min, same as star contraction's
    F.min/least) and must FALL BACK to star contraction — not crash on
    a Python None comparison — if a NULL id ever reaches it. The NULL
    id is its own cluster, as in the recursive-CTE closure oracle
    (``NULL = x`` never joins)."""
    pairs = [("b", "c"), ("a", "b"), ("x", "y")]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    got = {r.id_a: r.cluster_id for r in cc_engine(df, "driver").collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert (
        cc_engine(df, "driver").schema["cluster_id"].dataType.simpleString()
        == "string"
    )
    nulls = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    # NULL ids: the driver engine declines and star contraction answers.
    got = {r.id_a: r.cluster_id for r in cc_engine(nulls, "driver").collect()}
    assert got == {1: 1, 2: 1, 3: 3, None: None}


def test_minhash_pipeline_on_identical_corpus(spark):
    """All-identical docs (the dup-farm regime the scale probe stresses
    at 16x): every pair must verify at jaccard 1.0 and collapse to ONE
    cluster under the min doc id."""
    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again") for i in range(6)],
        "doc_id long, text string",
    )
    pairs = D.minhash_dedup_pairs(docs, num_hashes=16, bands=4, threshold=0.5)
    rows = pairs.collect()
    assert len(rows) == 15  # C(6,2) — banding cannot miss identical docs
    assert all(abs(r.jaccard - 1.0) < 1e-9 for r in rows)
    clusters = {r.id_a: r.cluster_id for r in D.connected_components(pairs).collect()}
    assert clusters == {i: 0 for i in range(6)}


def test_winnow_kernel_handles_giant_and_degenerate_docs(spark):
    """A multi-megabyte document, an empty one, and a single-repeated-
    token one must neither crash nor blow up the winnower (the
    straggler class: the expression form costs ~7 s/MB), and extreme
    ids must come through exactly."""
    from realtime_voting_data_engineering_spark.operators import text as X

    words = ["alpha", "beta", "gamma", "delta", "spark", "merge"]
    big = " ".join(words[i % 6] + str(i % 977) for i in range(150_000))  # ~1.1MB
    rows = [(1, big), (2, ""), (3, "spam " * 50_000), (4, None),
            (None, "a real document with a NULL id and plenty of text"),
            # 2^53+1: not float64-representable — the id must survive
            # exactly, not rounded to 2^53
            (9007199254740993, "precision test document with enough text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = X.winnow_fingerprints(df).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert len(by_doc.get(1, ())) > 1_000  # rich doc → many fingerprints
    assert 2 not in by_doc  # shorter than k → no rows
    assert len(by_doc.get(3, ())) <= 4  # degenerate repetition collapses
    assert 4 not in by_doc
    # NULL-id docs keep a NULL id, not a garbage sentinel.
    assert None in by_doc and len(by_doc[None]) > 0
    assert -9223372036854775808 not in by_doc
    assert 9007199254740993 in by_doc  # not rounded to 2^53


def test_winnow_kernel_preserves_id_type(spark):
    """String doc ids (common in real corpora: UUIDs, URL keys),
    including a NULL one, come back as strings, and int ids narrower
    than long come back as int."""
    from realtime_voting_data_engineering_spark.operators import text as X

    rows = [("doc-aa", "the quick brown fox jumps over the lazy dog today"),
            ("urn:doc/7", "another document with plenty of text to fingerprint"),
            (None, "null string id document with enough words to window")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    fps = X.winnow_fingerprints(df)
    assert fps.schema["doc_id"].dataType.simpleString() == "string"
    got = {r.doc_id for r in fps.collect()}
    assert got == {"doc-aa", "urn:doc/7", None}, "string ids must survive"
    df_int = spark.createDataFrame(
        [(7, "an integer id document with enough words to fingerprint")],
        "doc_id int, text string",
    )
    fps_int = X.winnow_fingerprints(df_int)
    assert fps_int.schema["doc_id"].dataType.simpleString() == "int"
    assert {r.doc_id for r in fps_int.collect()} == {7}
