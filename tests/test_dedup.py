"""Dedup operators: kernel parity + LSH recall properties."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openllm_ocr_annotator_spark.kernel import dedup as K
from openllm_ocr_annotator_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
)

from .conftest import SF_DIR

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and merges sorted runs into "
    "final output files for downstream consumers every single day"
)
NEAR = BASE.replace("lazy dog", "sleepy cat")  # small edit
OTHER = (
    "completely different content about databases and query optimization "
    "with columnar storage vectorized execution and adaptive planning "
    "nothing in common with the animal sentence above at all whatsoever"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER), (4, ""), (5, "tiny doc")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_identical(spark, corpus):
    got = {r.digest: (r.keep_id, r.n_dups) for r in exact_dedup(corpus).collect()}
    dup_groups = [v for v in got.values() if v[1] > 1]
    assert dup_groups == [(0, 2)]  # docs 0 and 1 identical, keep min id


def test_ngram_jaccard_exact_pairs(spark, corpus):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(corpus, 0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any({a, b} & {3} for a, b in pairs)  # OTHER matches nothing


def test_minhash_signature_kernel_parity(spark, corpus):
    sigs = {r.doc_id: np.array(r.signature, dtype=np.int64)
            for r in minhash_signatures(corpus, num_perm=32).collect()}
    a, b = K.perm_params(32, 42)
    for doc_id, text in [(0, BASE), (2, NEAR), (3, OTHER), (4, ""), (5, "tiny doc")]:
        want = K.minhash_signature(K.shingle_hashes(text, 3), a, b).astype(np.int64)
        assert (sigs[doc_id] == want).all(), f"doc {doc_id}"


def test_minhash_estimates_track_exact_jaccard():
    a, b = K.perm_params(128, 42)
    sa = K.minhash_signature(K.shingle_hashes(BASE), a, b)
    sn = K.minhash_signature(K.shingle_hashes(NEAR), a, b)
    so = K.minhash_signature(K.shingle_hashes(OTHER), a, b)
    assert K.estimate_jaccard(sa, sa) == 1.0
    exact = K.exact_jaccard(BASE, NEAR)
    assert abs(K.estimate_jaccard(sa, sn) - exact) < 0.2
    assert K.estimate_jaccard(sa, so) < 0.2


def test_minhash_lsh_finds_dups_not_strangers(spark, corpus):
    pairs = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(corpus, threshold=0.5).collect()}
    assert (0, 1) in pairs  # exact dup always found
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup found
    assert not any(3 in p for p in pairs)


def test_minhash_lsh_incremental_equals_full_minus_history(spark, corpus):
    """The incremental pass over (new batch, stored history signatures)
    must produce EXACTLY the full-corpus pairs that touch the new slice —
    same params, history never re-tokenized (it enters as signatures)."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        minhash_lsh_incremental,
    )

    new = corpus.filter("doc_id IN (1, 2)")      # a dup of 0 + the near-dup
    history = corpus.filter("doc_id NOT IN (1, 2)")
    caches: list = []
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_incremental(
            new, minhash_signatures(history), threshold=0.5, caches=caches
        ).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(corpus, threshold=0.5).collect()
    }
    want = {p: v for p, v in full.items() if p[0] in (1, 2) or p[1] in (1, 2)}
    assert got == want
    assert (0, 1) in got, "new×history exact dup must surface"
    assert any(p in got for p in [(1, 2), (0, 2)]), "near dup must surface"
    assert caches, "caller-owned cache hand-back"
    for c in caches:
        c.unpersist()


def test_minhash_lsh_incremental_null_history_signature(spark, corpus):
    """A NULL stored signature does not fail the run: it buckets with the
    other NULLs (xxhash64 of a NULL band is its seed), and any pair it
    reached would have a NULL estimate that the threshold filter drops, so
    the pair set equals the run without it."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        minhash_lsh_incremental,
    )

    new = corpus.filter("doc_id IN (1, 2)")
    history = minhash_signatures(corpus.filter("doc_id NOT IN (1, 2)"))
    nulls = spark.createDataFrame(
        [(900, None), (901, None)], "doc_id long, signature array<long>"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_incremental(
            new, history.unionByName(nulls), threshold=0.5
        ).collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_incremental(new, history, threshold=0.5).collect()
    }
    assert got == want and (0, 1) in got


def test_simhash_kernel_properties():
    h_base = K.simhash64(BASE)
    assert K.simhash64(BASE) == h_base  # deterministic
    assert K.hamming64(h_base, K.simhash64(NEAR)) <= 16  # small edit, near hash
    assert K.hamming64(h_base, K.simhash64(OTHER)) > 16


def test_simhash_pairs_spark(spark, corpus):
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(corpus, max_hamming=16).collect()}
    assert pairs.get((0, 1)) == 0
    assert (0, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_lsh_recall_on_testdata(spark):
    """LSH candidates must cover the exact-jaccard pairs at the threshold."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, num_perm=128, num_bands=32, threshold=0.6).collect()
    }
    if exact:
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_batch_kernels_match_per_doc():
    """Batch shingle/signature kernels are bit-identical to the
    per-document oracles."""
    import numpy as np

    from openllm_ocr_annotator_spark.kernel import dedup as K

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "one two",  # shorter than the shingle width → padded
        "",         # empty → padded to a single shingle
        "spark batch stream query join merge sort table data",
        "the quick brown fox jumps over the lazy dog",  # duplicate of 0
    ]
    a, b = K.perm_params(64)
    allsh, counts = K.shingle_hashes_batch(texts, 3)
    sigs = K.minhash_signatures_batch(allsh, counts, a, b)
    off = 0
    for i, t in enumerate(texts):
        want_sh = K.shingle_hashes(t, 3)
        got_sh = allsh[off : off + counts[i]]
        off += counts[i]
        assert np.array_equal(got_sh, want_sh), f"doc {i} shingles differ"
        want_sig = K.minhash_signature(want_sh, a, b)
        assert np.array_equal(sigs[i], want_sig), f"doc {i} signature differs"
    # duplicates produce identical signatures
    assert np.array_equal(sigs[0], sigs[4])


def test_simhash_batch_matches_per_doc():
    import numpy as np

    from openllm_ocr_annotator_spark.kernel import dedup as K

    texts = [
        "the quick brown fox",
        "",
        "   ",
        "spark join merge sort query table stream batch",
        "the quick brown fox",
    ]
    got = K.simhash64_batch(texts)
    want = np.array([K.simhash64(t) for t in texts], dtype=np.uint64)
    assert np.array_equal(got, want)
    assert got[1] == 0 and got[2] == 0
    assert got[0] == got[4]


def test_decontaminate_drops_ngram_overlap(spark):
    """Planted benchmark overlap: a train doc sharing one 5-gram with the
    benchmark is dropped; disjoint docs survive."""
    from openllm_ocr_annotator_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps right here"),  # shares 5-gram
            (2, "completely different words with no shared phrases at all"),
            (3, "quick brown fox jumps over"),  # exactly one shared 5-gram
        ],
        "doc_id long, text string",
    )
    clean = decontaminate(train, bench, n=5)
    assert {r.doc_id for r in clean.collect()} == {2}


def test_decontaminate_whitespace_variant_still_matches(spark):
    """A doubled space must not hide contamination: ngram_tokens drops
    empty split tokens before gram construction, so 'quick  brown fox'
    and 'quick brown fox' build the same grams. Unfixed, a benchmark
    passage with any whitespace drift passes decontaminate uncleaned."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        decontaminate,
        ngram_tokens,
    )
    from pyspark.sql import functions as F

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "so the quick  brown fox jumps here"),   # doubled space
            (2, " the quick brown fox jumps over all"),  # leading space
            (3, "totally disjoint content in every way"),
        ],
        "doc_id long, text string",
    )
    clean = decontaminate(train, bench, n=5)
    assert {r.doc_id for r in clean.collect()} == {3}
    # and the gram builder itself is whitespace-normalized
    df = spark.createDataFrame(
        [("foo  bar baz",), ("foo bar baz",)], "text string"
    )
    grams = [
        set(r.g) for r in df.select(ngram_tokens(F.col("text"), 3).alias("g")).collect()
    ]
    assert grams[0] == grams[1] == {"foo bar baz"}


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "doc_a long, doc_b long")


def test_dedup_clusters_transitive_chain(spark):
    """A~B, B~C (A and C never paired directly) ⇒ one cluster, one keeper."""
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup_clusters(_pairs_df(spark, [(1, 2), (2, 3)])).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False)}


def _replay_cc_rounds(pairs):
    """Pure-Python min-label propagation plus pointer jumping, the rounds
    ``dedup_clusters`` runs: stops at the first round that changes no label
    and returns how many rounds ran, that one included."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    rounds = 0
    while True:
        rounds += 1
        stepped = {n: min(labels[n], min(labels[m] for m in adj[n])) for n in adj}
        jumped = {n: min(lab, stepped[lab]) for n, lab in stepped.items()}
        if jumped == labels:
            return rounds
        labels = jumped


def test_dedup_clusters_long_chain_and_multiple_components(spark):
    """A 12-node path (worst case for naive propagation — pointer jumping
    must converge it inside max_iter) plus a disjoint triangle and a star.
    The reported round count is exactly the replay's: the loop stops at the
    first round that changes no label."""
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(10, 21)]            # path 10..21
    tri = [(100, 101), (101, 102), (100, 102)]             # triangle
    star = [(200, 201), (200, 202), (200, 203)]            # star
    metrics: dict = {}
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup_clusters(_pairs_df(spark, chain + tri + star),
                                   max_iter=8, metrics=metrics).collect()}
    assert all(out[i] == (10, i == 10) for i in range(10, 22))
    assert all(out[i] == (100, i == 100) for i in (100, 101, 102))
    assert all(out[i] == (200, i == 200) for i in (200, 201, 202, 203))
    assert metrics == {"rounds": _replay_cc_rounds(chain + tri + star)}
    # path 10..14 converges on round 3: the loop must stop on an odd round too
    short = chain[:4]
    assert _replay_cc_rounds(short) == 3
    metrics = {}
    dedup_clusters(_pairs_df(spark, short), max_iter=8, metrics=metrics)
    assert metrics == {"rounds": 3}


def test_dedup_clusters_with_docs_includes_singletons(spark):
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(5)],
                                 "doc_id long, text string")
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup_clusters(_pairs_df(spark, [(1, 3)]), docs=docs).collect()}
    assert out == {0: (0, True), 1: (1, True), 2: (2, True),
                   3: (1, False), 4: (4, True)}


def test_dedup_clusters_empty_pairs(spark):
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame([(i, "x") for i in range(3)],
                                 "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    out = {r.doc_id: (r.cluster_id, r.keep)
           for r in dedup_clusters(empty, docs=docs).collect()}
    assert out == {0: (0, True), 1: (1, True), 2: (2, True)}


def test_dedup_clusters_composes_with_minhash(spark, corpus):
    """End-to-end near-dup dedup: LSH pairs → clusters → keep list drops
    the exact duplicate and the near-duplicate, keeps everything else."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(corpus, threshold=0.5)
    out = {r.doc_id: r.keep for r in dedup_clusters(pairs, docs=corpus).collect()}
    assert out[0] is True and out[1] is False       # exact dup of 0
    assert out[2] is False                          # near dup joins 0's cluster
    assert out[3] is True and out[4] is True and out[5] is True


def test_dedup_corpus_keeps_one_canonical_per_cluster(spark, corpus):
    from openllm_ocr_annotator_spark.operators.dedup import (
        dedup_corpus,
        minhash_lsh_pairs,
    )

    pairs = minhash_lsh_pairs(corpus, threshold=0.5)
    kept = {r.doc_id: r.cluster_id for r in dedup_corpus(corpus, pairs).collect()}
    # docs 0/1/2 form one near-dup cluster → only canonical 0 survives
    assert 0 in kept and 1 not in kept and 2 not in kept
    assert kept[0] == 0
    # singletons survive as their own cluster
    assert kept[3] == 3 and kept[4] == 4 and kept[5] == 5
    # all input columns preserved plus cluster_id
    out_cols = dedup_corpus(corpus, pairs).columns
    assert set(out_cols) == {"doc_id", "text", "cluster_id"}


def test_dedup_clusters_iteration_guard(spark):
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    chain = [(i, i + 1) for i in range(0, 40)]  # diameter 40 > 2^1 reach
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(_pairs_df(spark, chain), max_iter=1)


def test_repetition_score_values(spark):
    import duckdb
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.functions.text import gopher_gates, repetition_score
    from openllm_ocr_annotator_spark.queries_catalog import ORACLES

    rows = [
        ("rep", "a b c a b c a b c"),     # 7 grams, 3 distinct → 4/7
        ("uniq", "one two three four five"),  # 3 grams, all distinct → 0
        ("tiny", "x y"),                   # < n words → 0
        ("spaced", "a  b c d"),            # the doubled space is no token → 0
    ]
    want = {"rep": round(4 / 7, 6), "uniq": 0.0, "tiny": 0.0, "spaced": 0.0}
    df = spark.createDataFrame(rows, "id string, text string")
    got = {r.id: round(r.r, 6) for r in
           df.select("id", repetition_score(F.col("text"), 3).alias("r")).collect()}
    assert got == want
    # the DuckDB twins split the same way: text_repetition's per-source mean
    # (one doc per source here) and gopher_gates' g_repetition gate
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, source VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)",
                    [(i, s, t) for i, (s, t) in enumerate(rows)])
    duck = dict(con.execute(
        f"SELECT source, avg_repetition FROM ({ORACLES['text_repetition']})"
    ).fetchall())
    assert duck == want
    spark_gate = {r.id: r.g for r in df.select(
        "id", gopher_gates(F.col("text"))["g_repetition"].alias("g")).collect()}
    duck_gate = dict(con.execute(
        f"SELECT source, g_repetition FROM ({ORACLES['gopher_gates']})"
    ).fetchall())
    assert duck_gate == spark_gate == {k: v <= 0.2 for k, v in want.items()}


def test_caches_handback_and_release(spark):
    """VERDICT r3 #8: every persist site offers caller-owned release, and
    releasing actually drops the retained RDDs (checked via the JVM-side
    persistent-RDD registry, which sees cache() and persist() entries)."""
    from openllm_ocr_annotator_spark.operators.dedup import contamination_score
    from openllm_ocr_annotator_spark.operators.extract import ensemble_extract
    from openllm_ocr_annotator_spark.operators.similarity import (
        embedding_near_dups,
        semantic_dedup,
    )
    from openllm_ocr_annotator_spark.synth import synthesize_documents

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog {i % 3}")
         for i in range(20)],
        "doc_id long, text string",
    )
    span_docs = synthesize_documents(spark, SF_DIR).limit(20)
    rng = np.random.RandomState(3)
    vectors = spark.createDataFrame(
        [(i, rng.normal(size=64).tolist()) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    # (run, whether the call persists nothing besides the handed-back
    # relation): semantic_dedup's dedup_clusters rounds also leave
    # localCheckpoint RDDs, which the ContextCleaner releases, not the caller
    runs = [
        (lambda caches: minhash_lsh_pairs(docs, caches=caches), True),
        (lambda caches: simhash_pairs(docs, caches=caches), True),
        (lambda caches: ngram_jaccard_pairs(docs, caches=caches), True),
        (lambda caches: contamination_score(docs, docs.limit(2), caches=caches), True),
        (lambda caches: ensemble_extract(
            span_docs, [("default", 1.0, None), ("twin", 1.0, None)], caches=caches
        ), True),
        (lambda caches: semantic_dedup(vectors, n_cells=4, caches=caches), False),
        (lambda caches: embedding_near_dups(vectors, caches=caches), True),
    ]
    for run, sole_persist in runs:
        base = persistent_ids()
        caches = []
        run(caches).count()
        assert len(caches) == 1  # the persisted relation is handed back
        added = persistent_ids() - base
        assert added  # the persist is visible in the JVM registry
        before = persistent_ids()
        for c in caches:
            c.unpersist(blocking=True)
        released = before - persistent_ids()
        assert released and released <= added  # ...and release removes it
        assert not any(c.storageLevel.useMemory or c.storageLevel.useDisk for c in caches)
        if sole_persist:
            assert not (persistent_ids() & added)


def test_dedup_clusters_unpersists_edges_on_failure(spark):
    """ADVICE r3 (low): the persisted edges relation is released even when
    the iteration loop raises (non-convergence) — try/finally, not a leak."""
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    def persistent_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    base = persistent_ids()
    chain = [(i, i + 1) for i in range(0, 40)]
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(_pairs_df(spark, chain), max_iter=1)
    # no NEW persistent RDD survives the failure (localCheckpoint frames are
    # ContextCleaner-owned and may linger briefly; the explicit edges persist
    # must be gone). Filter to non-checkpoint leftovers via blocking GC grace.
    leaked = persistent_ids() - base
    if leaked:  # give ContextCleaner one GC cycle for checkpoint frames
        import gc
        import time

        gc.collect()
        time.sleep(2.0)
        spark.sparkContext._jvm.System.gc()
        time.sleep(2.0)
        leaked = persistent_ids() - base
    assert not leaked


def test_dedup_corpus_keep_by_survivorship(spark):
    """keep_by picks the cluster member with the MAX column value (tie →
    min doc id) instead of the min-id canonical."""
    from openllm_ocr_annotator_spark.operators.dedup import dedup_corpus

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 7), (9, 1)],
        "doc_id long, n_chars long",
    )
    # cluster {1,2,3} (label 1), cluster {4} via no pairs? give 4 a pair with 9
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 9)], "doc_a long, doc_b long"
    )
    default = {r.doc_id: r.cluster_id for r in dedup_corpus(docs, pairs).collect()}
    assert default == {1: 1, 4: 4}  # min-id canonical
    best = {r.doc_id: r.cluster_id
            for r in dedup_corpus(docs, pairs, keep_by="n_chars").collect()}
    # {1,2,3}: max n_chars is 9 shared by docs 2 and 3 → tie breaks to 2;
    # {4,9}: doc 4 (7 chars) beats doc 9 (1 char).
    assert best == {2: 1, 4: 4}


def test_line_dedup_first_occurrence_semantics(spark):
    """Global first occurrence by (doc_id, line_no) wins; within-doc repeats
    are dropped too; blank lines never participate; text is rebuilt in
    original order."""
    from openllm_ocr_annotator_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\n\nalpha"),   # within-doc repeat of alpha
            (2, "beta\ngamma"),            # beta already seen in doc 1
            (3, "alpha"),                  # fully duplicated doc
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert (got[1].n_lines, got[1].n_kept) == (4, 3)
    assert got[1].text == "alpha\nbeta\n"   # blank kept, trailing dup dropped
    assert (got[2].n_lines, got[2].n_kept) == (2, 1)
    assert got[2].text == "gamma"
    assert (got[3].n_lines, got[3].n_kept) == (1, 0)
    assert got[3].text == ""                # survives as an emptied row


def test_line_dedup_min_line_chars_gate(spark):
    """Lines shorter than min_line_chars are always kept — they are
    separators/structure, not content."""
    from openllm_ocr_annotator_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "x\nlong line here"), (2, "x\nlong line here")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs, min_line_chars=2).collect()}
    assert got[1].text == "x\nlong line here"
    assert got[2].text == "x"               # short 'x' survives everywhere
    assert got[2].n_kept == 1


def test_line_dedup_regex_meaningful_separator_is_literal(spark):
    """``sep`` is a literal in BOTH the split and the rebuild: a
    regex-meaningful separator ('|', '.') must split on the character,
    not on the pattern (pre-fix, F.split treated '.' as match-anything
    and produced an array of empty strings)."""
    import pytest as _pytest

    from openllm_ocr_annotator_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "alpha|beta|alpha"), (2, "beta|gamma")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in line_dedup(docs, sep="|").collect()}
    assert (got[1].n_lines, got[1].n_kept, got[1].text) == (3, 2, "alpha|beta")
    assert (got[2].n_lines, got[2].n_kept, got[2].text) == (2, 1, "gamma")

    dotted = spark.createDataFrame(
        [(1, "one.two.one"), (2, "two.three")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in line_dedup(dotted, sep=".").collect()}
    assert (got[1].n_lines, got[1].text) == (3, "one.two")
    assert (got[2].n_lines, got[2].text) == (2, "three")

    with _pytest.raises(ValueError, match=r"may not contain"):
        line_dedup(docs, sep="\\E")


def test_substring_dedup_exactsubstr_semantics(spark):
    """Lee et al. ExactSubstr, deterministic variant: the globally-first
    occurrence of a duplicated k-gram survives; later occurrences lose all
    k covered positions; overlapping duplicate runs merge via the position
    cover; docs shorter than k pass through."""
    from openllm_ocr_annotator_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),    # source of the duplicated run
            (2, "x a b c d y"),    # contains a b c d (dup of doc 1 pos 0..3)
            (3, "a b"),            # shorter than k → untouched
            (4, "a b c d e f"),    # exact copy of doc 1 → fully covered
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in substring_dedup(docs, k=4).collect()}
    # doc 1: all its grams are first occurrences → nothing removed
    assert (got[1].n_removed, got[1].text) == (0, "a b c d e f")
    # doc 2: gram (a b c d) at pos 1 duplicates doc 1 pos 0 → covers idx 1-4
    assert got[2].n_removed == 4
    assert got[2].text == "x y"
    # doc 3: n < k → untouched
    assert (got[3].n_removed, got[3].text) == (0, "a b")
    # doc 4: every gram duplicates doc 1 → all 6 positions covered
    assert (got[4].n_removed, got[4].text) == (6, "")
    assert got[4].n_tokens == 6


def test_substring_dedup_within_doc_repeat(spark):
    """A k-gram repeated WITHIN one document is also deduped (the second
    occurrence is removed), and first-occurrence is by position order."""
    from openllm_ocr_annotator_spark.operators.dedup import substring_dedup

    docs = spark.createDataFrame(
        [(1, "p q r s m p q r s")], "doc_id long, text string")
    got = substring_dedup(docs, k=4).collect()[0]
    # pos 5 gram (p q r s) duplicates pos 0 → covers idx 5-8
    assert got.n_removed == 4
    assert got.text == "p q r s m"


# ---------------------------------------------------------------------------
# URL-level dedup (RefinedWeb first-stage) — functions/urls.canonical_url
# ---------------------------------------------------------------------------


def test_canonical_url_collapses_dressings(spark):
    from openllm_ocr_annotator_spark.functions.urls import canonical_url

    dressings = [
        "https://site1.example.com/docs/9",
        "http://www.site1.example.com/docs/9/",
        "https://site1.example.com:443/docs/9?utm_source=rss&utm_medium=feed",
        "https://SITE1.EXAMPLE.COM/docs/9#section-2",
        "HTTPS://site1.example.com:443/docs/9",
        "https://site1.example.com/docs/9?gclid=zzz",
    ]
    df = spark.createDataFrame([(u,) for u in dressings], "url string")
    got = {r[0] for r in df.select(canonical_url(F.col("url"))).collect()}
    assert got == {"https://site1.example.com/docs/9"}


def test_canonical_url_preserves_real_params_and_path_case(spark):
    from openllm_ocr_annotator_spark.functions.urls import canonical_url

    cases = {
        # a real id param survives; tracking params around it are stripped
        "https://www.a.com/p?id=7&utm_campaign=x&fbclid=abc": "https://a.com/p?id=7",
        "https://a.com/p?utm_source=rss&id=7": "https://a.com/p?id=7",
        "https://a.com/p?utm_source=rss": "https://a.com/p",
        # path case is identity; host case is not
        "https://A.com/CaseSensitive/Path": "https://a.com/CaseSensitive/Path",
        # default port of the URL's OWN scheme strips (before the
        # http->https rewrite) ...
        "http://a.com:80/x": "https://a.com/x",
        "https://a.com:443": "https://a.com",
        # ... but a nonstandard scheme/port pairing names a DIFFERENT
        # origin and must survive canonicalization distinct; http with an
        # explicit port keeps its scheme (the http->https merge is only
        # safe on default ports, and rewriting would break idempotence)
        "https://a.com:80/x": "https://a.com:80/x",
        "http://a.com:443/x": "http://a.com:443/x",
        "http://a.com:8080/x": "http://a.com:8080/x",
        "http://www.a.com:8080/x/": "http://a.com:8080/x",
        # bare host, trailing slash, fragment
        "https://a.com/": "https://a.com",
        "https://a.com#frag": "https://a.com",
        # non-default port is identity (it names a different origin)
        "https://a.com:8443/x": "https://a.com:8443/x",
        # a param merely ENDING in a tracking name is NOT a tracking param
        "https://a.com/p?xutm_source=1&id=2": "https://a.com/p?xutm_source=1&id=2",
        # runs of tracking params collapse in one pass, middle and edges
        "https://a.com/p?utm_a=1&utm_b=2&id=3&utm_c=4": "https://a.com/p?id=3",
        "https://a.com/p?utm_a=1&utm_b=2&utm_c=3": "https://a.com/p",
    }
    df = spark.createDataFrame([(k,) for k in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == list(cases.values())


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) for every dressing combo —
    the fixed-point property incremental ingests rely on (a key column
    canonicalized twice must not re-split or re-merge groups). Pre-fix
    counterexample: http://a.com:443/x -> https://a.com:443/x -> second
    pass stripped the now-ambiguous :443."""
    import itertools

    from openllm_ocr_annotator_spark.functions.urls import canonical_url

    urls = []
    for scheme, www, port, path, query, frag in itertools.product(
        ["http://", "https://", "HTTP://"],
        ["", "www.", "WWW.", "www.www."],
        ["", ":80", ":443", ":8080"],
        ["", "/", "//", "/Docs/9", "/Docs/9/", "/Docs/9//"],
        ["", "?id=7", "?utm_source=rss", "?id=7&utm_a=1&fbclid=z", "?utm_a=1&utm_b=2"],
        ["", "#frag"],
    ):
        urls.append(f"{scheme}{www}Site.Example.com{port}{path}{query}{frag}")
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = canonical_url(F.col("url"))
    twice = canonical_url(canonical_url(F.col("url")))
    bad = df.select("url", once.alias("c1"), twice.alias("c2")).filter(
        "c1 != c2"
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_url_dedup_group_and_survivor(spark):
    from openllm_ocr_annotator_spark.operators.dedup import url_dedup

    rows = [
        (1, "https://x.com/a"),
        (2, "http://www.x.com/a/"),
        (3, "https://x.com/a?utm_source=s"),
        (4, "https://x.com/b"),
    ]
    out = url_dedup(
        spark.createDataFrame(rows, "doc_id long, url string")
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].group_size == 3 and by_id[1].keep
    assert by_id[2].group_size == 3 and not by_id[2].keep
    assert by_id[3].canonical_url == "https://x.com/a"
    assert by_id[4].group_size == 1 and by_id[4].keep


def test_url_dedup_single_exchange_plan(spark):
    # scale shape: ONE hash exchange, on the dedup key itself
    from openllm_ocr_annotator_spark.operators.dedup import url_dedup

    df = url_dedup(
        spark.createDataFrame([(1, "https://x.com/a")], "doc_id long, url string")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(canonical_url") == 1
    assert "Exchange rangepartitioning" not in plan


def test_domain_blocklist_suffix_semantics(spark):
    from openllm_ocr_annotator_spark.operators.dedup import domain_blocklist_filter

    rows = [
        (1, "https://bad.example.com/x"),        # exact entry
        (2, "https://a.b.bad.example.com/y"),    # deep subdomain
        (3, "http://WWW.BAD.EXAMPLE.COM:80/z"),  # case + port + www
        (4, "https://notbad.example.com/x"),     # suffix of the NAME, not the domain
        (5, "https://good.example.com/x"),
        (6, "https://bad.example.com.evil.org/x"),  # entry as a LEFT part only
        (7, "https://anything@bad.example.com/p"),  # userinfo evasion dressing
        (8, "https://u:pw@sub.bad.example.com:8443/p"),  # userinfo + port
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r.doc_id: (r.host, r.blocked)
        for r in domain_blocklist_filter(df, ["bad.example.com"]).collect()
    }
    assert out[1] == ("bad.example.com", True)
    assert out[2] == ("a.b.bad.example.com", True)
    assert out[3] == ("www.bad.example.com", True)
    assert out[4] == ("notbad.example.com", False)
    assert out[5] == ("good.example.com", False)
    assert out[6] == ("bad.example.com.evil.org", False)
    # userinfo is not part of the host: 'user@blocked.com' must still block
    assert out[7] == ("bad.example.com", True)
    assert out[8] == ("sub.bad.example.com", True)


def test_domain_blocklist_dataframe_path_matches_list_path(spark):
    from openllm_ocr_annotator_spark.operators.dedup import domain_blocklist_filter

    rows = [(i, f"https://site{i % 5}.example.com/p") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = ["site2.example.com", "site4.example.com"]
    via_list = {
        (r.doc_id, r.blocked)
        for r in domain_blocklist_filter(df, bl).collect()
    }
    bl_df = spark.createDataFrame([(b,) for b in bl], "domain string")
    via_join = {
        (r.doc_id, r.blocked)
        for r in domain_blocklist_filter(df, bl_df).collect()
    }
    assert via_list == via_join
    assert sum(1 for _, b in via_list if b) == 8


def test_domain_blocklist_list_path_is_join_free(spark):
    from openllm_ocr_annotator_spark.operators.dedup import domain_blocklist_filter

    df = spark.createDataFrame([(1, "https://a.b.c/x")], "doc_id long, url string")
    plan = (
        domain_blocklist_filter(df, ["b.c"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Exchange" not in plan


def test_viral_bucket_star_escape_hatch_minhash(spark):
    """Planted viral cluster LARGER than max_bucket_size (VERDICT r4 #6):
    pre-r5 the oversized buckets dropped every pair and the cluster never
    resolved; now the min-id hub star-links the bucket, the cluster
    resolves to ONE component, and the drop accounting is visible in the
    stats hand-back."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    viral = "the same viral boilerplate text repeated over and over " * 3
    rows = [(i, viral) for i in range(30)]
    rows += [(100 + i, f"totally unique text number {i} with words {i * 7} {i * 13}")
             for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stats: list = []
    pairs = minhash_lsh_pairs(
        docs, threshold=0.7, max_bucket_size=10, stats=stats
    ).cache()
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(0, i) for i in range(1, 30)} <= got, "hub star edges missing"
    assert all(a < 100 and b < 100 for a, b in got), "unique docs dragged in"
    comp = dedup_clusters(pairs)
    labels = {r.doc_id: r.cluster_id for r in comp.collect()}
    assert len({labels[i] for i in range(30)}) == 1, "viral cluster split"
    # identical signatures -> every one of the 16 bands had the same
    # oversized bucket: 30 members, 29 star edges, C(30,2)-29 skipped
    st = stats[0].collect()
    assert len(st) == 16
    assert all(
        (r.n_members, r.pairs_materialized, r.pairs_skipped) == (30, 29, 406)
        for r in st
    )
    pairs.unpersist()


def test_viral_bucket_star_escape_hatch_chunks(spark):
    """chunk_band_pairs (SimHash/pHash shared core): an oversized chunk
    bucket star-links through its hub; star edges still pass the EXACT
    hamming filter, so a collision-mixture member (shares one chunk,
    far everywhere else) is filtered while true near-dups survive."""
    from openllm_ocr_annotator_spark.operators.dedup import chunk_band_pairs

    viral = 0x0123456789ABCDEF
    near = viral ^ 1  # hamming 1 (differs in chunk 0 only)
    # shares chunk 1 (bits 16..31) with the viral hash, far elsewhere
    far = (viral & 0x00000000FFFF0000) | 0x5A5A00000000A5A5
    assert bin(viral ^ far).count("1") > 3
    rows = [(i, viral) for i in range(20)] + [(100, near), (200, far)]
    hashes = spark.createDataFrame(rows, "k long, h long")
    stats: list = []
    pairs = chunk_band_pairs(
        hashes, "k", "h", max_hamming=3, max_bucket_size=5, stats=stats
    )
    got = {(r.key_a, r.key_b): r.hamming for r in pairs.collect()}
    # hub 0 connects every viral member (hamming 0) and the near dup
    # (hamming 1); the collision-mixture member appears in NO pair
    assert {(0, i) for i in range(1, 20)} <= set(got)
    assert got[(0, 100)] == 1
    assert all(got[(0, i)] == 0 for i in range(1, 20))
    assert not any(200 in (a, b) for a, b in got)
    # stats: chunks 1..3 bucket the 20+near+far / 20+near members; chunk 0
    # splits near (bit flip) off -> 20-member bucket; all exceed cap=5
    st = {(r.chunk_idx, r.n_members) for r in stats[0].collect()}
    assert len(st) == 4 and all(n > 5 for _, n in st)


def test_viral_bucket_incremental_matches_full_minus_history(spark):
    """The incremental LSH twin applies the SAME star escape hatch to the
    combined banding relation, so with a tiny cap its output is still
    exactly the full-corpus pairs minus history×history."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    viral = "shared viral boilerplate body text for every mirror page " * 3
    rows = [(i, viral) for i in range(24)]
    rows += [(50 + i, f"singular document {i} about topic {i * 11}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = docs.filter("doc_id % 3 = 0")
    history = docs.filter("doc_id % 3 != 0")
    full = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.7, max_bucket_size=7).collect()
    }
    hist_ids = {r.doc_id for r in history.select("doc_id").collect()}
    want = {p for p in full if not (p[0] in hist_ids and p[1] in hist_ids)}
    inc = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_incremental(
            new, minhash_signatures(history), threshold=0.7, max_bucket_size=7
        ).collect()
    }
    assert inc == want


def test_hash_token_scalar_equals_batch():
    """The scalar hash_token runs its splitmix finalizer in plain Python
    ints (perf: no one-element numpy round-trip); this pins it bit-equal
    to the vectorized hash_tokens numpy path for ASCII, unicode, empty-ish
    and long tokens — the invariant every golden that hashed grams with
    either variant depends on."""
    toks = ["a", "hello world", "üñïçødé-ταλ", "0", " ", "x" * 4096,
            "\t\n", "the", "the quick brown fox"]
    batch = K.hash_tokens(toks)
    for t, expect in zip(toks, batch):
        got = K.hash_token(t)
        assert isinstance(got, np.uint64)
        assert int(got) == int(expect), t


def test_null_text_is_not_the_string_none(spark):
    """NULL text is absence-of-text: stringifying it as 'None' made a
    NULL-text doc a perfect near-duplicate of any real document whose text
    is the word 'none' — dedup_corpus would then DELETE the real doc."""
    from openllm_ocr_annotator_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, "None"), (3, "none none none")],
        "doc_id long, text string",
    )
    mh = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert not any(1 in p for p in mh), f"NULL doc must not pair with 'None' text: {mh}"
    sh = {(r.doc_a, r.doc_b) for r in simhash_pairs(docs, max_hamming=3).collect()}
    assert not any(1 in p for p in sh), f"NULL doc must not simhash-match 'None': {sh}"


def test_line_dedup_keeps_null_text_docs(spark):
    """One row per input document includes NULL-text docs (split(NULL)
    explodes to nothing — unguarded, such docs vanish from the result)."""
    from openllm_ocr_annotator_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "keep me\nshared line"), (2, None), (3, "shared line\nunique")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert set(rows) == {1, 2, 3}, "every input doc gets a row"
    assert rows[2].text == "" and rows[2].n_kept == 1  # one empty non-participating line
