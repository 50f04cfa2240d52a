"""Similarity search: brute-force exactness vs numpy, LSH recall."""

from __future__ import annotations

import numpy as np
import pytest

from openllm_ocr_annotator_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dups,
    lsh_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_brute_force_matches_numpy(spark, emb):
    rows = emb.collect()
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in rows])
    ids = np.array([r.vec_id for r in rows])
    norms = np.linalg.norm(mat, axis=1)
    got = brute_force_topk(emb.filter("vec_id < 5"), emb, k=3).collect()
    by_q: dict[int, list] = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    for qid, neigh in by_q.items():
        qi = int(np.where(ids == qid)[0][0])
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        cos[qi] = -np.inf
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))[:3]
        want = [(int(ids[i]), round(float(cos[i]), 6)) for i in order]
        assert [n for n, _ in neigh] == [n for n, _ in want]
        for (_, c_got), (_, c_want) in zip(neigh, want):
            assert abs(c_got - c_want) < 1e-5


def test_lsh_xor_probes_equal_kernel_replay(spark, emb):
    """The JVM multi-probe expansion (``xor_probes`` over exploded
    buckets) emits exactly the (vec_id, bucket) set the Python kernel
    used to emit: per table, the exact sign-bit code plus its XOR-1
    neighbors, replayed here in numpy."""
    from openllm_ocr_annotator_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket_ids,
        xor_probes,
    )

    num_planes, num_tables = 6, 4
    planes = hyperplanes(num_planes, num_tables)
    vecs = emb.filter("vec_id < 300")
    got = {
        (r.vec_id, r.bucket)
        for r in lsh_bucket_ids(vecs, planes)
        .select("vec_id", xor_probes("bucket", num_planes)).collect()
    }
    rows = vecs.collect()
    ids = [r.vec_id for r in rows]
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    xor_bits = 1 << np.arange(num_planes, dtype=np.int64)
    want = set()
    for t in range(num_tables):
        codes = (((mat @ planes[t].T) > 0) * xor_bits).sum(axis=1).astype(np.int64)
        probes = np.concatenate([codes[:, None], codes[:, None] ^ xor_bits[None, :]], axis=1)
        want |= {(i, int((t << num_planes) | p)) for i, row in zip(ids, probes) for p in row}
    assert got == want
    assert len(got) == len(rows) * num_tables * (1 + num_planes)


def test_lsh_topk_recall(spark, emb):
    k = 5
    exact = brute_force_topk(emb.filter("vec_id < 50"), emb, k=k).collect()
    # near-random embeddings are LSH's worst case (no cluster structure):
    # 8 tables × 6 planes + multi-probe buys usable recall on them
    approx = lsh_topk(emb.filter("vec_id < 50"), emb, k=k, num_planes=6, num_tables=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q, want in exact_sets.items():
        hits += len(want & approx_sets.get(q, set()))
        total += len(want)
    assert hits / total >= 0.5, f"ANN recall {hits / total:.2f}"


def test_near_dups_finds_planted_duplicates(spark, emb):
    # plant two near-identical vectors: copy of vec 0 with tiny noise
    import pyspark.sql.functions as F

    base = emb.filter("vec_id = 0").first()
    v = np.array(base.embedding, dtype=np.float32)
    planted = spark.createDataFrame(
        [(10001, (v + 1e-4).tolist(), 0), (10002, v.tolist(), 0)],
        "vec_id long, embedding array<float>, label int",
    )
    all_vecs = emb.select("vec_id", "embedding", "label").unionByName(planted)
    pairs = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dups(all_vecs, 0.99).collect()}
    assert (0, 10001) in pairs and (0, 10002) in pairs and (10001, 10002) in pairs
    assert all(c > 0.99 for c in pairs.values())
    del F


def test_near_dups_cover_codes_within_hamming_one(spark):
    """Coverage of ``embedding_near_dups`` on near-dups that are NOT
    scaled copies: 200 planted pairs at cosine 0.95 (a unit base plus an
    orthogonal tilt of 18.2°), so their sign-bit codes differ in ~10% of
    the bits. The output is exactly a numpy replay of the coverage rule:
    a pair is a candidate iff its two codes are within Hamming 1 in at
    least one of the 4 tables (8 seed-42 planes each), and it is kept iff
    its cosine is ≥ the threshold. Measured recall on the planted pairs:
    200/200 (the per-pair estimate is 1 − (1 − 0.81)⁴ ≈ 0.999)."""
    rng = np.random.RandomState(7)
    n, dim, cos = 200, 64, 0.95
    base = rng.normal(size=(n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    tilt = rng.normal(size=(n, dim))
    tilt -= (tilt * base).sum(axis=1, keepdims=True) * base
    tilt /= np.linalg.norm(tilt, axis=1, keepdims=True)
    twin = cos * base + np.sqrt(1 - cos * cos) * tilt
    mat = np.concatenate([base, twin])
    ids = list(range(n)) + [1000 + i for i in range(n)]
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in zip(ids, mat)],
        "vec_id long, embedding array<double>",
    )
    got = {(r.id_a, r.id_b): r.cosine for r in embedding_near_dups(vecs, 0.9).collect()}

    planes = np.random.RandomState(42).normal(size=(4, 8, dim))
    codes = ((np.einsum("nd,tpd->ntp", mat, planes) > 0) * (1 << np.arange(8))).sum(axis=2)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cosines = unit @ unit.T
    want = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] >= ids[j] or cosines[i, j] < 0.9:
                continue
            if min(bin(int(x)).count("1") for x in codes[i] ^ codes[j]) <= 1:
                want[(ids[i], ids[j])] = cosines[i, j]
    assert set(got) == set(want)
    assert all(abs(got[p] - want[p]) < 1e-5 for p in want)
    found = sum((i, 1000 + i) in got for i in range(n))
    assert found == n, f"recall {found}/{n}"


def test_near_dups_cap_identical_embeddings(spark, monkeypatch):
    """2,000 identical vectors fill every one of the 32 deletion-key
    buckets (4 tables × 8 bits): each is over the 1,000 cap, so the
    self-join gets no rows and each bucket star-links through hub 0 —
    at most 32 × 1,999 candidate rows before the cosine check, where the
    uncapped probe join emitted 4 × C(2000, 2) = 7,996,000. The hub star
    keeps the cluster connected: one component."""
    import pyspark.sql.functions as F

    from openllm_ocr_annotator_spark.operators import dedup

    seen = {"stats": []}
    banded = dedup._banded_candidates

    def spy(*args, **kw):
        seen["cand"] = banded(*args, stats=seen["stats"], **kw)
        return seen["cand"]

    monkeypatch.setattr(dedup, "_banded_candidates", spy)
    v = np.random.RandomState(3).normal(size=64).tolist()
    n = 2000
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"), F.array(*[F.lit(x) for x in v]).alias("embedding")
    )
    caches = []
    pairs = embedding_near_dups(vecs, caches=caches).cache()
    (st,) = seen["stats"]
    buckets = st.collect()
    assert len(buckets) == 32 and {r.n_members for r in buckets} == {n}
    assert sum(r.pairs_materialized for r in buckets) == 32 * (n - 1)
    assert {(r.a_vec_id, r.b_vec_id) for r in seen["cand"].collect()} == {
        (0, i) for i in range(1, n)
    }
    assert pairs.count() == n - 1
    labels = dedup.dedup_clusters(
        pairs.select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    ).collect()
    assert len(labels) == n and {r.cluster_id for r in labels} == {0}
    for frame in [pairs, *caches]:
        frame.unpersist()


def test_near_dups_keep_pairs_in_over_cap_bucket_of_distinct_vectors(spark):
    """A deletion-key bucket over the 1,000 cap that holds distinct
    vectors keeps every pair: 1,001 unrelated vectors share one table-0
    code, so all 8 table-0 keys hold 1,003 members, and a pair planted
    among them at cosine 0.95 (ids far above the hub) shares no key in
    tables 1-3 (its codes there differ in ≥ 2 bits). A star-linked bucket
    would keep only hub pairs and lose it; the copy split keeps the
    self-join, so the output is exactly the numpy replay of the coverage
    rule (Hamming ≤ 1 in one of the 4 tables, cosine ≥ 0.9)."""
    rng = np.random.RandomState(11)
    dim = 64
    planes = np.random.RandomState(42).normal(size=(4, 8, dim))

    def codes(m):
        return ((np.einsum("nd,tpd->ntp", m, planes) > 0) * (1 << np.arange(8))).sum(axis=2)

    # draws biased toward u land in u's table-0 code ~7% of the time and
    # stay unrelated to each other (pairwise cosine ≤ ~0.8)
    u = rng.normal(size=dim)
    draws = rng.normal(size=(20_000, dim)) + u
    code0 = codes(u[None])[0, 0]
    cone = draws[codes(draws)[:, 0] == code0][:1003]
    x = cone[-1] / np.linalg.norm(cone[-1])
    tilt = rng.normal(size=(20_000, dim))
    tilt -= np.outer(tilt @ x, x)
    tilt /= np.linalg.norm(tilt, axis=1, keepdims=True)
    twins = 0.95 * x + np.sqrt(1 - 0.95**2) * tilt
    diff = np.vectorize(lambda v: bin(int(v)).count("1"))(codes(twins) ^ codes(x[None])[0])
    twin = twins[(diff[:, 0] == 0) & (diff[:, 1:] >= 2).all(axis=1)][0]
    mat = np.concatenate([cone[:1001], [x, twin]])
    ids = list(range(1001)) + [5000, 5001]
    cm = codes(mat)
    assert (cm[:, 0] == code0).all()
    vecs = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<double>",
    )
    got = {(r.id_a, r.id_b) for r in embedding_near_dups(vecs, 0.9).collect()}

    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    close = np.triu(unit @ unit.T >= 0.9, 1)
    want = {
        (ids[i], ids[j])
        for i, j in zip(*np.nonzero(close))
        if min(bin(int(v)).count("1") for v in cm[i] ^ cm[j]) <= 1
    }
    assert (5000, 5001) in got
    assert got == want


def test_ivf_topk_recall_and_determinism(spark, emb):
    from openllm_ocr_annotator_spark.operators.similarity import ivf_topk

    k = 5
    exact = brute_force_topk(emb.filter("vec_id < 30"), emb, k=k).collect()
    approx = ivf_topk(emb.filter("vec_id < 30"), emb, k=k, n_cells=8, nprobe=4).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q, want in exact_sets.items():
        hits += len(want & approx_sets.get(q, set()))
        total += len(want)
    # nprobe/n_cells = half the cells probed → recall well above half even
    # on near-random vectors
    assert hits / total >= 0.6, f"IVF recall {hits / total:.2f}"
    # per-query result count is exactly k (candidate pool ≥ k at these params)
    counts = {q: len(s) for q, s in approx_sets.items()}
    assert all(c == k for c in counts.values())
    # deterministic: same centroids (seedless first-k init) → same output
    again = ivf_topk(emb.filter("vec_id < 30"), emb, k=k, n_cells=8, nprobe=4).collect()
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in approx) == sorted(
        (r.query_id, r.rank, r.neighbor_id) for r in again
    )


def test_ivf_pq_topk_recall_and_determinism(spark, emb):
    from openllm_ocr_annotator_spark.operators.similarity import ivf_pq_topk

    k = 5
    exact = brute_force_topk(emb.filter("vec_id < 30"), emb, k=k).collect()
    approx = ivf_pq_topk(
        emb.filter("vec_id < 30"), emb, k=k, n_cells=8, nprobe=4, rerank=40
    ).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = total = 0
    for q, want in exact_sets.items():
        hits += len(want & approx_sets.get(q, set()))
        total += len(want)
    # near-random vectors are PQ's worst case (residuals carry no cluster
    # structure, so the ADC cut is noisy); rerank is the documented recall
    # knob — measured curve at these params: 20→0.46, 40→0.59, 60→0.71
    assert hits / total >= 0.55, f"IVF-PQ recall {hits / total:.2f}"
    assert all(len(s) == k for s in approx_sets.values())
    # bit-deterministic across partitionings / Arrow batch heights
    again = ivf_pq_topk(
        emb.filter("vec_id < 30").repartition(7), emb.repartition(13),
        k=k, n_cells=8, nprobe=4, rerank=40,
    ).collect()
    assert sorted((r.query_id, r.rank, r.neighbor_id, r.cosine) for r in approx) == sorted(
        (r.query_id, r.rank, r.neighbor_id, r.cosine) for r in again
    )


def test_ivf_pq_degenerates_to_ivf_flat_with_full_rerank(spark, emb):
    """With rerank ≥ the candidate pool, the ADC ordering becomes
    irrelevant and IVF-PQ must emit exactly IVF-Flat's result for the same
    coarse quantizer (same bounded sample → same centroids) — pinning that
    candidate generation and the exact-rerank tail are shared, and that PQ
    only ever changes WHICH candidates reach the rerank, never the final
    scoring."""
    from openllm_ocr_annotator_spark.operators.similarity import ivf_pq_topk, ivf_topk

    flat = ivf_topk(emb.filter("vec_id < 20"), emb, k=5, n_cells=8, nprobe=3).collect()
    full = ivf_pq_topk(
        emb.filter("vec_id < 20"), emb, k=5, n_cells=8, nprobe=3, rerank=10**6
    ).collect()
    assert sorted(map(tuple, flat)) == sorted(map(tuple, full))
    # 8-bit × 8 subspaces = 64 code bits — sign-unsafe in an int64, so this
    # config takes the array<int> transport + aggregate-fold ADC instead of
    # the packed-long path; under full rerank it must STILL equal IVF-Flat
    wide = ivf_pq_topk(
        emb.filter("vec_id < 20"), emb, k=5, n_cells=8, nprobe=3,
        ksub=256, rerank=10**6,
    ).collect()
    assert sorted(map(tuple, flat)) == sorted(map(tuple, wide))


def test_ivf_pq_clustered_recall_tracks_code_budget(spark):
    """The realistic regime (clustered embeddings) and the sizing rule the
    operator docstring documents: within-cluster cosine gaps (~1e-3) are
    below the 32-bit default's quantization error, so its ADC cut is
    nearly arbitrary among same-cluster members — while a 256-bit budget
    (m_sub=32 × 8-bit) resolves them and tracks IVF-Flat. Pins both ends
    so a codebook/ADC regression shows up as a recall cliff."""
    import numpy as np

    from openllm_ocr_annotator_spark.operators.similarity import ivf_pq_topk

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(20, 64)) * 3.0
    rows = [
        (i, (centers[i % 20] + rng.normal(size=64) * 0.5).astype(np.float32).tolist())
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    try:
        exact = brute_force_topk(df.filter("vec_id < 20"), df, k=10).collect()
        want = {}
        for r in exact:
            want.setdefault(r.query_id, set()).add(r.neighbor_id)

        def recall(**kw):
            got = ivf_pq_topk(
                df.filter("vec_id < 20"), df, k=10, n_cells=20, nprobe=2,
                rerank=40, **kw,
            ).collect()
            sets = {}
            for r in got:
                sets.setdefault(r.query_id, set()).add(r.neighbor_id)
            hits = sum(len(want[q] & sets.get(q, set())) for q in want)
            return hits / sum(len(v) for v in want.values())

        fine = recall(m_sub=32, ksub=256)  # 256-bit codes resolve the gaps
        coarse = recall(m_sub=8, ksub=16)  # 32-bit default cannot
        assert fine >= 0.85, f"fine-code recall {fine:.2f}"
        assert fine > coarse + 0.3, f"coarse {coarse:.2f} vs fine {fine:.2f}"
    finally:
        df.unpersist()


def test_pq_index_lifecycle_incremental_equals_batch(spark, emb, tmp_path):
    """Train-once/add-forever: with the quantizer trained on the FIRST
    increment, (a) encoding increments separately yields row-for-row the
    one-shot index; (b) committing both increments to a SnapshotTable and
    searching the read-back index (parquet round-trip — packed-long codes
    survive, transport auto-detected from the schema) equals searching the
    in-memory union; (c) pq_save/pq_load round-trips the quantizer
    bit-exactly."""
    from openllm_ocr_annotator_spark.operators.similarity import (
        bounded_sample,
        ivf_pq_search,
        pq_index,
        pq_load,
        pq_save,
        pq_train,
    )
    from openllm_ocr_annotator_spark.sources.tables import SnapshotTable

    first = emb.filter("vec_id < 250")
    second = emb.filter("vec_id >= 250")
    centroids, codebooks = pq_train(bounded_sample(first), 8, 2, 8, 16)
    # (c) quantizer persistence is exact (through Spark's Hadoop FS — the
    # same storage layer the SnapshotTable index rows land on)
    qpath = str(tmp_path / "quantizer.parquet")
    pq_save(spark, qpath, centroids, codebooks)
    c2, cb2 = pq_load(spark, qpath)
    assert (c2 == centroids).all() and (cb2 == codebooks).all()
    # (a) incremental union == one-shot encode (batch-split invariance e2e)
    inc = pq_index(first, centroids, codebooks).unionByName(
        pq_index(second, centroids, codebooks)
    )
    batch = pq_index(emb, centroids, codebooks)
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, batch.collect()))
    # (b) committed index round-trip searches identically
    table = SnapshotTable(spark, str(tmp_path / "pq_index_table"))
    table.commit(pq_index(first, c2, cb2))
    table.commit(pq_index(second, c2, cb2))
    committed = table.read_committed()
    q = emb.filter("vec_id < 10")
    direct = ivf_pq_search(q, inc, emb, centroids, codebooks, k=5, nprobe=3).collect()
    via_table = ivf_pq_search(q, committed, emb, c2, cb2, k=5, nprobe=3).collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_table))
    assert len(direct) == 50


def test_pq_search_guards_quantizer_index_mismatch(spark, emb, tmp_path):
    """A packed-long index searched with a quantizer whose bit budget says
    array-transport (or vice versa) was built with a DIFFERENT quantizer;
    unpacking at the wrong stride would silently corrupt every ADC score,
    so the mismatch raises. Likewise a truncated quantizer file raises a
    named error instead of leaving uninitialized codebook slots."""
    from openllm_ocr_annotator_spark.operators.similarity import (
        bounded_sample,
        ivf_pq_search,
        pq_index,
        pq_load,
        pq_save,
        pq_train,
    )

    vecs = emb.filter("vec_id < 100")
    centroids, codebooks = pq_train(bounded_sample(vecs), 4, 1, m_sub=8, ksub=16)
    index = pq_index(vecs, centroids, codebooks)  # packed long at 4×8 bits
    # a quantizer on the OTHER side of the 63-bit packing boundary
    # (4 bits × 16 subspaces = 64 bits -> array transport expected)
    _, wide_codebooks = pq_train(bounded_sample(vecs), 4, 1, m_sub=16, ksub=16)
    with pytest.raises(ValueError, match="different quantizer"):
        ivf_pq_search(vecs.limit(3), index, vecs, centroids, wide_codebooks)
    # corrupt persistence: drop one codebook row -> named error on load
    qpath = str(tmp_path / "q.parquet")
    pq_save(spark, qpath, centroids, codebooks)
    truncated = spark.read.parquet(qpath).filter(
        "NOT (kind = 'codebook' AND sub = 3 AND idx = 7)"
    )
    tpath = str(tmp_path / "q_truncated.parquet")
    truncated.write.parquet(tpath)
    with pytest.raises(ValueError, match="corrupt quantizer"):
        pq_load(spark, tpath)


def test_pq_search_guards_same_transport_stride_mismatch(spark, emb, tmp_path):
    """Two quantizers can BOTH take the packed-long transport yet differ in
    bit stride (5-bit codes at ksub=32 vs 4-bit at ksub=16): the structural
    packability check passes, so only the schema-stamped quantizer
    fingerprint catches it — wrong-stride unpacking would silently corrupt
    every ADC score. The stamp must survive a SnapshotTable parquet commit
    (identity rides column metadata, not rows)."""
    from openllm_ocr_annotator_spark.operators.similarity import (
        bounded_sample,
        ivf_pq_search,
        pq_index,
        pq_train,
    )
    from openllm_ocr_annotator_spark.sources.tables import SnapshotTable

    vecs = emb.filter("vec_id < 100")
    c5, cb5 = pq_train(bounded_sample(vecs), 4, 1, m_sub=8, ksub=32)  # 5-bit
    c4, cb4 = pq_train(bounded_sample(vecs), 4, 1, m_sub=8, ksub=16)  # 4-bit
    index = pq_index(vecs, c5, cb5)
    assert index.schema["codes"].metadata.get("pq_ksub") == 32
    with pytest.raises(ValueError, match="different quantizer"):
        ivf_pq_search(vecs.limit(3), index, vecs, c4, cb4)
    # identity survives the committed-parquet round trip and still guards
    table = SnapshotTable(spark, str(tmp_path / "stride_idx"))
    table.commit(index)
    committed = table.read_committed()
    assert committed.schema["codes"].metadata.get("pq_fp") == \
        index.schema["codes"].metadata["pq_fp"]
    with pytest.raises(ValueError, match="different quantizer"):
        ivf_pq_search(vecs.limit(3), committed, vecs, c4, cb4)
    # and the RIGHT quantizer still searches the committed index fine
    assert ivf_pq_search(
        vecs.limit(3), committed, vecs, c5, cb5, k=3, nprobe=2
    ).count() == 9


def test_pq_load_refuses_negative_grid_indices(spark, emb, tmp_path):
    """Codebook rows with negative sub/idx satisfy count+distinctness
    (max+1 arithmetic) yet would write codebooks[-1] over the last slot and
    leave slot 0 as np.empty garbage — pq_load's full-grid check refuses."""
    from openllm_ocr_annotator_spark.operators.similarity import (
        bounded_sample,
        pq_load,
        pq_save,
        pq_train,
    )

    vecs = emb.filter("vec_id < 50")
    centroids, codebooks = pq_train(bounded_sample(vecs), 4, 1, m_sub=2, ksub=4)
    qpath = str(tmp_path / "q_ok.parquet")
    pq_save(spark, qpath, centroids, codebooks)
    # rewrite sub 0 -> -1: still 8 rows, 8 distinct (sub,idx), m_sub still 2
    evil = spark.read.parquet(qpath).selectExpr(
        "kind", "idx",
        "CASE WHEN kind = 'codebook' AND sub = 0 THEN -1 ELSE sub END AS sub",
        "values",
    )
    epath = str(tmp_path / "q_evil.parquet")
    evil.write.parquet(epath)
    with pytest.raises(ValueError, match="corrupt quantizer"):
        pq_load(spark, epath)


def test_quantizer_training_sample_validation(spark, emb):
    """Empty corpus -> named error (not numpy's opaque stack failure);
    sample smaller than n_cells -> named error instead of silently training
    fewer coarse cells than requested."""
    import numpy as np

    from openllm_ocr_annotator_spark.operators.similarity import (
        bounded_sample,
        lloyd_centroids,
        pq_train,
    )

    with pytest.raises(ValueError, match="empty"):
        bounded_sample(emb.filter("vec_id < 0"))
    sample = np.random.RandomState(1).normal(size=(6, 8))
    with pytest.raises(ValueError, match="smaller than n_cells"):
        lloyd_centroids(sample, 8, 1)
    with pytest.raises(ValueError, match="smaller than n_cells"):
        pq_train(sample, 8, 1, m_sub=2, ksub=4)


def test_pq_train_parameter_validation(spark, emb):
    import numpy as np

    from openllm_ocr_annotator_spark.operators.similarity import pq_train

    sample = np.random.RandomState(0).normal(size=(64, 64))
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(sample, 4, 1, m_sub=7, ksub=16)
    with pytest.raises(ValueError, match="smaller than ksub"):
        pq_train(sample[:8], 4, 1, m_sub=8, ksub=16)


def test_semantic_dedup_planted_components(spark, emb):
    """SemDeDup: scaled copies (cosine 1 to the original) resolve into one
    component each; the member FARTHEST from its cell centroid survives;
    everything untouched stays a kept singleton."""
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.operators.similarity import semantic_dedup

    base = emb.filter("vec_id < 100").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    c1 = base.filter("vec_id < 10").select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    c2 = base.filter("vec_id < 4").select(
        (F.col("vec_id") + 2000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.003).alias("embedding"),
    )
    union = base.unionByName(c1).unionByName(c2)
    out = semantic_dedup(union, eps=0.9, n_cells=4).collect()
    by_id = {r.vec_id: r for r in out}
    assert len(by_id) == 114
    # copies cluster with their original under the min-id label
    for v in range(10):
        assert by_id[v + 1000].cluster_id == v
    for v in range(4):
        assert by_id[v + 2000].cluster_id == v
    # survivorship ranks on the UNROUNDED centroid_sim (the output column
    # is 6-dp rounded, so scaled copies can tie there) — replay it exactly
    import numpy as np

    from openllm_ocr_annotator_spark.operators.similarity import (
        assign_cells,
        ivf_train_centroids,
    )

    centroids = ivf_train_centroids(union, n_cells=4, iters=2)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    rows = sorted(union.collect(), key=lambda r: r.vec_id)
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    _, sims = assign_cells(mat, cn, 1, with_sim=True)
    sim_of = {r.vec_id: float(s) for r, s in zip(rows, sims)}
    # exactly one keeper per component: the min-(unrounded sim, id) member
    for v in range(10):
        members = [by_id[v], by_id[v + 1000]] + ([by_id[v + 2000]] if v < 4 else [])
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1
        want = min(members, key=lambda m: (sim_of[m.vec_id], m.vec_id))
        assert keepers[0].vec_id == want.vec_id
        assert round(sim_of[keepers[0].vec_id], 6) == keepers[0].centroid_sim
    # untouched rows are kept singletons
    for v in range(10, 100):
        assert by_id[v].keep and by_id[v].cluster_id == v


def test_ivf_with_sim_batch_height_invariance(spark, emb):
    """centroid_sim must be bit-identical regardless of partitioning /
    Arrow batch height — the property the golden replay relies on."""
    from openllm_ocr_annotator_spark.operators.similarity import (
        assign_cells,
        ivf_assignments,
        ivf_train_centroids,
    )

    vecs = emb.filter("vec_id < 200")
    centroids = ivf_train_centroids(vecs, n_cells=8, iters=2)
    one = {
        r.vec_id: (r.cell, r.centroid_sim)
        for r in ivf_assignments(vecs.coalesce(1), centroids, with_sim=True).collect()
    }
    many = {
        r.vec_id: (r.cell, r.centroid_sim)
        for r in ivf_assignments(vecs.repartition(13), centroids, with_sim=True).collect()
    }
    assert one == many  # exact float equality, not approx
    # and equal to the pure full-matrix replay (golden path)
    import numpy as np

    rows = sorted(vecs.collect(), key=lambda r: r.vec_id)
    mat = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cells, sims = assign_cells(mat, cn, 1, with_sim=True)
    for r, c, s in zip(rows, cells[:, 0], sims):
        assert one[r.vec_id] == (int(c), float(s))


def test_ivf_with_sim_rejects_multiprobe(spark, emb):
    from openllm_ocr_annotator_spark.operators.similarity import (
        ivf_assignments,
        ivf_train_centroids,
    )

    vecs = emb.filter("vec_id < 32")
    centroids = ivf_train_centroids(vecs, n_cells=4, iters=1)
    with pytest.raises(ValueError, match="nprobe=1"):
        ivf_assignments(vecs, centroids, nprobe=2, with_sim=True)


def test_pq_lifecycle_across_processes(tmp_path):
    """The train-once/append-forever lifecycle across PROCESS boundaries
    (VERDICT r4 #7): phase1 trains + commits increment 1 and dies; phase2
    is a fresh interpreter + Spark session that pq_loads the quantizer,
    append-encodes increment 2, proves the committed union row-identical
    to a one-shot batch encode, and searches it. Driven through the same
    scripts/pq_lifecycle_smoke.py that produces the 120k-vector BASELINE
    record — here at N=2000 for CI wall-time."""
    import json as _json
    import os
    import subprocess
    import sys

    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "pq_lifecycle_smoke.py",
    )
    root = str(tmp_path / "pq_root")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    outs = []
    for phase in ("phase1", "phase2"):
        p = subprocess.run(
            [sys.executable, script, phase, root, "2000"],
            capture_output=True, text=True, timeout=600, env=env,
        )
        assert p.returncode == 0, f"{phase} failed:\n{p.stderr[-2000:]}"
        outs.append(_json.loads(p.stdout.strip().splitlines()[-1]))
    p1, p2 = outs
    assert p1["pid"] != p2["pid"]
    assert p2["committed_rows"] == 2000
    assert p2["incremental_vs_batch_mismatches"] == 0
    assert p2["result_sets_ok"]
