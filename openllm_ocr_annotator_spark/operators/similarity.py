"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: JVM-side expression math (zip_with + aggregate,
  whole-stage codegen) — the exactness baseline and the oracle target.
- LSH-bucketed ANN: random-hyperplane signatures (numpy per Arrow batch,
  deterministic seed) → bucket equi-join → exact rerank within buckets.
  Multi-probe via XOR-1 neighbors of the bucket code (a JVM explode)
  raises recall without widening the join fan-out quadratically.

Every numpy kernel here (LSH codes, IVF cells, PQ codes, PQ query tables)
is a column UDF over the vector column alone (``_per_vector``) that
returns one value per vector; ids stay in the JVM, which also explodes
array results into rows.

Scale: brute force is O(Q×N×d) — fine for Q small (a probe set), never for
N×N. The LSH path shuffles on bucket id only; at 10^12 rows bucket width is
tuned via ``num_planes`` (buckets ≈ 2^planes uniformly filled).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._common import column_udf, spread_partitions


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine_col(a, b):
    """Cosine similarity between two array<double> columns (codegen'd)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _vectors(df: DataFrame, id_as: str, vec_as: str) -> DataFrame:
    """(vec_id, embedding) as (``id_as``, ``vec_as``), vectors as array<double>."""
    return df.select(
        F.col("vec_id").alias(id_as), F.col("embedding").cast("array<double>").alias(vec_as)
    )


def _exact_rerank(
    cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: int,
) -> DataFrame:
    """Shared ANN tail: join raw vectors onto a (query_id, neighbor_id)
    candidate relation, exact-cosine score (JVM left-fold), window top-k.
    The candidate relation bounds the join fan-out — this stage never sees
    more rows than the bucketing/probing stage emitted."""
    q = _vectors(queries, "query_id", "qv")
    c = _vectors(corpus, "neighbor_id", "cv")
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", cosine_col(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self)."""
    q = _vectors(queries, "query_id", "qv")
    c = _vectors(corpus, "neighbor_id", "cv")
    scored = (
        q.crossJoin(F.broadcast(c))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_col(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def hyperplanes(num_planes: int, num_tables: int = 1) -> np.ndarray:
    """(num_tables, num_planes, 64) seed-42 planes over 64-dim embeddings —
    multiple independent hash tables."""
    return np.random.RandomState(42).normal(size=(num_tables, num_planes, 64))


def _per_vector(
    vectors: DataFrame, dim: int, return_type: str, kernel,
) -> DataFrame:
    """(vec_id, ..., out): ``kernel(mat)`` maps one Arrow batch of vectors,
    as an (n, dim) float64 matrix, to one ``return_type`` value per vector
    (a sequence, or a ``pd.DataFrame`` for a struct). Only the vector
    column crosses into Python, and the other input columns ride along;
    callers explode array results JVM-side.

    The UDF is marked nondeterministic only to stop filter pushdown: the
    ``isnotnull`` a join infers on ``cell`` and the ``size(out) > 0`` an
    explode infers would otherwise be pushed through the projection (and
    below ``spread_partitions``' exchange) and run the kernel twice."""
    udf = column_udf(
        return_type,
        lambda vecs, _: kernel(np.array(vecs.tolist(), dtype=np.float64).reshape(-1, dim)),
        arg=None,
    ).asNondeterministic()
    return vectors.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        *[c for c in vectors.columns if c not in ("vec_id", "embedding")],
        udf("embedding").alias("out"),
    )


def lsh_bucket_ids(vectors: DataFrame, planes: np.ndarray) -> DataFrame:
    """(vec_id, ..., bucket) rows over L independent tables:
    bucket = (table_idx << num_planes) | sign-bit code. The kernel returns
    each vector's L buckets (one matmul per table per batch); the JVM
    explodes them, and input columns other than ``embedding`` ride along.
    ``xor_probes`` adds the query-side neighbor codes."""
    n_tables, n_planes, dim = planes.shape
    weights = 1 << np.arange(n_planes, dtype=np.int64)  # (planes,)
    bases = np.arange(n_tables, dtype=np.int64) << n_planes  # (tables,)

    def buckets(mat: np.ndarray) -> list:
        codes = np.stack(
            [((mat @ planes[t].T) > 0) * weights for t in range(n_tables)], axis=1
        ).sum(axis=2)  # (n, tables)
        return list(bases | codes)

    out = _per_vector(spread_partitions(vectors, "vec_id"), dim, "array<long>", buckets)
    return out.select(*out.columns[:-1], F.explode("out").alias("bucket"))


def xor_probes(bucket: str, num_planes: int):
    """Explode ``bucket`` into itself plus its ``num_planes`` XOR-1
    neighbor codes (multi-probe LSH). Table bits sit above the code bits,
    so every probe stays in its own table; probes(x) ∩ buckets(y) ≠ ∅ ⇔
    the codes of x and y differ in at most one bit in some table."""
    b = F.col(bucket)
    return F.explode(
        F.array(b, *[b.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)])
    ).alias(bucket)


def lsh_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    num_planes: int = 6, num_tables: int = 4,
) -> DataFrame:
    """ANN top-k: bucket join (queries multi-probed) + exact rerank.

    num_tables × num_planes tunes recall vs candidate fan-out: more tables
    raise recall multiplicatively (1-(1-p)^L); more planes shrink buckets.
    """
    planes = hyperplanes(num_planes, num_tables)
    qb = lsh_bucket_ids(queries, planes).select(
        F.col("vec_id").alias("query_id"), xor_probes("bucket", num_planes)
    )
    cb = lsh_bucket_ids(corpus, planes).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    cand = (
        qb.join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_rerank(cand, queries, corpus, k)


def ivf_assignments(
    vectors: DataFrame, centroids: np.ndarray,
    nprobe: int = 1, with_sim: bool = False,
) -> DataFrame:
    """(vec_id, cell) rows: nearest-``nprobe`` coarse cells per vector.

    Centroids ship to executors inside the column UDF's closure, which
    returns each vector's cells as an array the JVM explodes (the IVF
    coarse quantizer is small by design — even 2^18 cells × 64 dims is
    ~128 MB, driver-holdable; it is trained on a sample, never the corpus).

    ``with_sim=True`` (nprobe=1 only) adds ``centroid_sim`` — the cosine
    to the assigned centroid, the ranking signal SemDeDup survivorship
    needs; the UDF then returns a ``struct<cell, centroid_sim>`` per vector.
    The value is NOT taken from the ``mat @ cnorm.T`` argmax product
    (BLAS blocks matmul by matrix height, so those floats drift in the last
    ulp across Arrow batch sizes — measured, not hypothetical); instead the
    assigned centroid row is gathered and the dot recomputed as a per-row
    ``(mat * cnorm[cell]).sum(axis=1)``, where each row reduces over its
    own 64-element buffer — bit-identical at any batch height, which is
    the property the pure-Python golden replay relies on.
    """
    if with_sim and nprobe != 1:
        raise ValueError("with_sim requires nprobe=1 (one assigned cell)")
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    spread = spread_partitions(vectors.select("vec_id", "embedding"), "vec_id")
    dim = centroids.shape[1]
    if with_sim:
        def with_sims(mat: np.ndarray) -> pd.DataFrame:
            cells, sims = assign_cells(mat, cnorm, 1, with_sim=True)
            return pd.DataFrame({"cell": cells[:, 0].astype(np.int64), "centroid_sim": sims})

        return _per_vector(
            spread, dim, "struct<cell:long,centroid_sim:double>", with_sims
        ).select("vec_id", "out.cell", "out.centroid_sim")
    return _per_vector(
        spread, dim, "array<long>",
        lambda mat: list(assign_cells(mat, cnorm, nprobe).astype(np.int64)),
    ).select("vec_id", F.explode("out").alias("cell"))


def assign_cells(
    mat: np.ndarray, cnorm: np.ndarray, nprobe: int, with_sim: bool = False
):
    """Nearest-``nprobe`` cells per row of ``mat`` (cosine over pre-normalized
    centroids). Shared verbatim by the Spark kernel and the pure-Python
    golden replay, so the assignment arithmetic has one source of truth.
    ``with_sim=True`` (nprobe=1) also returns the winning cosine per row."""
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    sims = mat @ cnorm.T  # (n, n_cells)
    if nprobe == 1:
        cells = sims.argmax(axis=1)[:, None]
        if with_sim:
            # recompute the winning dot per row (gather + own-buffer sum):
            # unlike the matmul above, this is bit-identical at any batch
            # height, so the Spark kernel and the full-matrix golden replay
            # produce the same float even though Arrow batches differ
            return cells, (mat * cnorm[cells[:, 0]]).sum(axis=1)
        return cells
    return np.argsort(-sims, axis=1)[:, :nprobe]


def lloyd_centroids(sample: np.ndarray, n_cells: int, iters: int) -> np.ndarray:
    """Deterministic numpy Lloyd over a training sample: init = first
    ``n_cells`` rows, then ``iters`` assign/mean rounds (empty cell keeps
    its centroid). Raises when the sample is smaller than ``n_cells`` —
    slicing would otherwise silently train fewer coarse cells than
    requested (same explicit-validation style as ``_lloyd_l2``'s ksub
    check). Pure function — also the golden-generation twin."""
    if len(sample) < n_cells:
        raise ValueError(
            f"coarse quantizer training sample ({len(sample)}) smaller "
            f"than n_cells ({n_cells})"
        )
    centroids = sample[:n_cells].copy()
    for _ in range(iters):
        cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
        cells = assign_cells(sample, cnorm, 1)[:, 0]
        for c in range(n_cells):
            members = sample[cells == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def bounded_sample(corpus: DataFrame) -> np.ndarray:
    """The 4,096 lowest-id vectors as a float64 matrix — the
    quantizer-training sample (seedless determinism, bounded driver memory
    at any corpus size; the FAISS training rule). Shared by the coarse
    (IVF) and product (PQ) quantizer trainers."""
    sample = (
        corpus.orderBy("vec_id").limit(4096)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    if not sample:
        raise ValueError(
            "quantizer training sample is empty: the corpus has no rows"
        )
    return np.stack([np.asarray(r.v, dtype=np.float64) for r in sample])


def ivf_train_centroids(corpus: DataFrame, n_cells: int = 32, iters: int = 2) -> np.ndarray:
    """Deterministic coarse quantizer trained on a BOUNDED sample.

    IVF quantizers are universally trained on samples (a few hundred
    vectors per cell suffice — the FAISS training rule), so the trainer
    collects the 4,096 lowest vec_ids (seedless determinism,
    bounded driver memory at any corpus size) and runs numpy Lloyd
    driver-side. This replaces the previous distributed-mean Lloyd, whose
    partition-order-dependent float sums made centroids irreproducible
    outside Spark — sample training is both the standard practice AND what
    lets the driver's golden oracle replay the quantizer bit-for-bit.
    Assignment of the full corpus stays distributed (``ivf_assignments``).
    """
    return lloyd_centroids(
        bounded_sample(corpus), n_cells, iters
    )


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    n_cells: int = 32, nprobe: int = 4,
) -> DataFrame:
    """IVF ANN top-k: coarse-quantize the corpus into inverted cells; probe
    the ``nprobe`` nearest cells per query; exact cosine rerank inside.

    The scale path for corpus×corpus-sized N where brute force's O(Q×N×d)
    is out of reach: the join fans out only within probed cells
    (E[candidates] ≈ Q × nprobe × N / n_cells).
    """
    centroids = ivf_train_centroids(corpus, n_cells)
    cb = ivf_assignments(corpus, centroids, nprobe=1).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    qb = ivf_assignments(queries, centroids, nprobe=nprobe).withColumnRenamed(
        "vec_id", "query_id"
    )
    cand = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_rerank(cand, queries, corpus, k)


def _lloyd_l2(sample: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Plain squared-L2 Lloyd for PQ sub-quantizer training: init = first
    ``k`` rows, assign by L2 argmin, mean update (empty cell keeps its
    centroid). Cosine normalization (``lloyd_centroids``) would be wrong
    here — coarse residuals are small, direction-less displacement
    vectors whose NORMS carry the information PQ must preserve. Pure
    function — also the golden-generation twin."""
    if len(sample) < k:
        raise ValueError(f"PQ training sample ({len(sample)}) smaller than ksub ({k})")
    cb = sample[:k].astype(np.float64).copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        for j in range(k):
            members = sample[a == j]
            if len(members):
                cb[j] = members.mean(axis=0)
    return cb


def pq_train(
    sample: np.ndarray, n_cells: int, iters: int,
    m_sub: int, ksub: int, pq_iters: int = 2,
) -> tuple[np.ndarray, np.ndarray]:
    """Train the IVF-PQ index driver-side on a BOUNDED sample: the coarse
    quantizer (cosine Lloyd, as ``ivf_train_centroids``) plus ``m_sub``
    product sub-quantizers over the coarse RESIDUALS of the normalized
    sample (FAISS IVFPQ residual encoding — residuals are much lower
    variance than raw vectors, so 4-bit/8-bit codes spend their levels
    where the distances actually live).

    Returns ``(centroids (n_cells, d), codebooks (m_sub, ksub, d/m_sub))``.
    Pure numpy — the golden replay calls this same function, making every
    downstream float reproducible outside Spark."""
    d = sample.shape[1]
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible into {m_sub} subspaces")
    dsub = d // m_sub
    centroids = lloyd_centroids(sample, n_cells, iters)
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    sn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cells = assign_cells(sample, cnorm, 1)[:, 0]
    resid = sn - cnorm[cells]
    codebooks = np.stack(
        [_lloyd_l2(resid[:, m * dsub:(m + 1) * dsub], ksub, pq_iters)
         for m in range(m_sub)]
    )
    return centroids, codebooks


def pq_encode(
    mat: np.ndarray, cnorm: np.ndarray, codebooks: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(cells, codes): nearest coarse cell per row + per-subspace codeword
    of the normalized-vector residual. Every reduction is an own-buffer
    sum over ``dsub`` elements per output scalar — bit-identical at any
    Arrow batch height (the property the golden replay relies on; the
    matmul argmax for the cell shares the accepted IVF assumption).
    Shared verbatim by the Spark kernel and the golden twin."""
    m_sub, ksub, dsub = codebooks.shape
    cells = assign_cells(mat, cnorm, 1)[:, 0]
    mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    resid = mn - cnorm[cells]
    codes = np.empty((len(mat), m_sub), dtype=np.int32)
    for m in range(m_sub):
        r = resid[:, m * dsub:(m + 1) * dsub]
        d2 = ((r[:, None, :] - codebooks[m][None, :, :]) ** 2).sum(axis=2)
        codes[:, m] = d2.argmin(axis=1)
    return cells, codes


def pq_query_tables(
    mat: np.ndarray, cnorm: np.ndarray, codebooks: np.ndarray, nprobe: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-query ADC precomputation: probed cells (cosine argsort), the
    query·centroid dot per probe, and the flattened lookup table
    ``lut[m*ksub + j] = q_sub[m] · codeword[m][j]`` — so a candidate's
    approximate inner product is ``cell_dot + Σ_m lut[m*ksub+code_m]``
    (exact given the quantization: q·(c+r̂) = q·c + q·r̂). All reductions
    are own-buffer sums over ``dsub`` (or d) elements — batch-height
    independent. Shared verbatim with the golden twin."""
    m_sub, ksub, dsub = codebooks.shape
    n = len(mat)
    mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    cells = assign_cells(mat, cnorm, nprobe)  # (n, nprobe)
    cell_dots = (mn[:, None, :] * cnorm[cells]).sum(axis=2)  # (n, nprobe)
    luts = (
        (mn.reshape(n, m_sub, 1, dsub) * codebooks[None]).sum(axis=3)
        .reshape(n, m_sub * ksub)
    )
    return cells, cell_dots, luts


def ivf_pq_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5,
    n_cells: int = 32, nprobe: int = 4,
    m_sub: int = 8, ksub: int = 16,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011) ANN top-k — the memory-footprint
    scale path: corpus vectors live in the index as ``m_sub`` sub-quantizer
    codes — ONE packed int64 at the defaults (4 bits × 8 subspaces), a
    24-byte fixed-width index row vs 256+ bytes for raw float32×64 —
    scored against per-query lookup tables, with exact-cosine rerank of
    only the top-``rerank`` ADC candidates.

    Plan shape at 10^12 vectors: train driver-side on a bounded sample
    (``pq_train`` — the FAISS rule, and what makes the whole path replay
    bit-for-bit outside Spark); one narrow Arrow pass encodes the corpus
    to ``(cell, codes)``; queries carry their LUT (m_sub×ksub doubles)
    through a cell equi-join — fan-out E[Q × nprobe × N / n_cells], same
    as IVF-Flat but each candidate row costs an m_sub-term JVM left-fold
    over the LUT instead of a d-term dot over raw floats, and the raw
    corpus vectors are touched ONLY for the ≤ Q×rerank rerank join. The
    ADC sum runs JVM-side (transform + element_at + aggregate left fold:
    fixed addition order, whole-stage codegen, bit-reproducible by the
    pure-Python golden).

    Sizing rule (measured, tests/test_similarity.py): the code budget
    must RESOLVE the cosine gaps the ADC has to rank. On tightly
    clustered corpora the true top-k are same-cluster members whose
    cosine gaps are ~1e-3, far below the quantization error of the
    32-bit default — recall at nprobe=2/20 cells, k=10, rerank=40:
    m_sub×ksub 8×16 (32 bits) 0.26, 8×256 (64 b) 0.32, 16×256 (128 b)
    0.51, 32×256 (256 b) 0.96, IVF-Flat 1.00; deepening rerank is the
    cheaper lever when codes stay small (rerank=100 lifts 32-bit to
    0.54). On spread-out corpora (near-random directions) the default
    32-bit budget already tracks IVF-Flat. Same knobs and trade-offs as
    FAISS IVFPQ — pick bits-per-vector by the discrimination scale of
    the embedding space, not corpus size."""
    centroids, codebooks = pq_train(bounded_sample(corpus), n_cells, 2, m_sub, ksub)
    index = pq_index(corpus, centroids, codebooks)
    return ivf_pq_search(
        queries, index, corpus, centroids, codebooks,
        k=k, nprobe=nprobe, rerank=rerank,
    )


def _pq_fingerprint(centroids: np.ndarray, codebooks: np.ndarray) -> str:
    """Content fingerprint of a trained quantizer (shape + float64 bytes,
    sha256/16 hex). Stamped onto the index's ``codes`` column metadata by
    ``pq_index`` and verified by ``ivf_pq_search``, so an index searched
    with a quantizer other than the one that encoded it raises instead of
    silently mis-unpacking — including same-transport mismatches (e.g.
    5-bit vs 4-bit strides that are BOTH packed longs), which the
    structural packability check alone cannot see. Deterministic across
    save/load: ``pq_save`` round-trips float64 bit-exactly."""
    import hashlib

    h = hashlib.sha256()
    h.update(np.int64(centroids.shape + codebooks.shape).tobytes())
    h.update(np.ascontiguousarray(centroids, dtype=np.float64).tobytes())
    h.update(np.ascontiguousarray(codebooks, dtype=np.float64).tobytes())
    return h.hexdigest()[:16]


def _code_bits(ksub: int, m_sub: int) -> tuple[int, bool]:
    """(bits_per_code, fits_in_one_long) for a PQ code vector. Codewords
    need ceil(log2(ksub)) bits each; at the defaults (16×8 = 32 bits) all
    codes pack into one LONG and the index row is (id, cell, packed) = 24
    fixed bytes — the 10^12-row shuffle/storage shape PQ exists for. Wide
    configs (e.g. 8-bit × 8 subquantizers = 64 bits, sign-unsafe in an
    int64) take the array<int> transport instead."""
    bpc = max(1, int(ksub - 1).bit_length())
    return bpc, bpc * m_sub <= 63


def pq_index(
    vectors: DataFrame, centroids: np.ndarray, codebooks: np.ndarray,
) -> DataFrame:
    """Encode vectors against a TRAINED quantizer into the persistable PQ
    index relation ``(vec_id, cell, codes)`` — one cheap spread
    repartition (``spread_partitions`` exchanges when the input has fewer
    splits than the session shuffle width) followed by one column UDF that
    returns ``struct<cell, codes>`` per vector. ``codes`` is a packed long
    when the bit budget fits (``_code_bits``), else ``array<int>``.

    This is the append side of the train-once/add-forever index
    lifecycle: train the quantizer ON THE FIRST increment's bounded
    sample, commit these rows (e.g. ``SnapshotTable.commit``), and each
    later ingest encodes ONLY its new vectors — encoding is batch-split
    invariant (property-pinned), so incremental unions are row-identical
    to a one-shot encode and history is never re-read. Search the
    committed union with ``ivf_pq_search``.

    The index is keyed by ``vec_id`` and must stay UNIQUE per id: gate
    re-ingests with ``SnapshotTable.resume_filter`` (or commit ``keys``)
    so a retried batch is not encoded twice. ``ivf_pq_search`` collapses
    duplicate candidates before the rerank, so a violated precondition
    degrades recall (duplicates crowd the ADC cut) rather than producing
    duplicate ranks."""
    m_sub, ksub, _ = codebooks.shape
    bpc, packed = _code_bits(ksub, m_sub)
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    shifts = np.int64(1) << (bpc * np.arange(m_sub, dtype=np.int64))

    def encode(mat: np.ndarray) -> pd.DataFrame:
        cells, codes = pq_encode(mat, cnorm, codebooks)
        return pd.DataFrame({
            "cell": cells.astype(np.int64),
            "codes": (codes.astype(np.int64) * shifts).sum(axis=1) if packed else list(codes),
        })

    return _per_vector(
        spread_partitions(vectors.select("vec_id", "embedding"), "vec_id"),
        centroids.shape[1],
        f"struct<cell:long,codes:{'long' if packed else 'array<int>'}>", encode,
    ).select("vec_id", "out.cell", "out.codes").withMetadata(
        # quantizer identity rides the schema, not the rows: survives
        # parquet round-trips (SnapshotTable commits), unions of
        # increments, and projections — zero bytes per row
        "codes", {"pq_m_sub": m_sub, "pq_ksub": ksub,
                  "pq_fp": _pq_fingerprint(centroids, codebooks)},
    )


def ivf_pq_search(
    queries: DataFrame, index: DataFrame, corpus: DataFrame,
    centroids: np.ndarray, codebooks: np.ndarray,
    k: int = 5, nprobe: int = 4, rerank: int | None = None,
) -> DataFrame:
    """ANN top-k against a PREBUILT ``(vec_id, cell, codes)`` PQ index —
    the search half of ``ivf_pq_topk``, accepting an index that may be
    freshly encoded, read back from a committed snapshot table, or an
    incremental union of both. The codes transport (packed long vs
    array<int>) is detected from the index schema, so a parquet
    round-trip needs no flags — and cross-checked against the quantizer:
    an index whose transport disagrees with what ``pq_index`` would emit
    for these codebooks was built with a DIFFERENT quantizer, and
    unpacking it at the wrong bit stride would silently corrupt every
    ADC score, so that mismatch raises instead. ``corpus`` supplies raw
    vectors for the exact rerank only."""
    from pyspark.sql.types import LongType

    if rerank is None:
        rerank = 4 * k
    m_sub, ksub, _ = codebooks.shape
    bpc, packable = _code_bits(ksub, m_sub)
    packed = isinstance(index.schema["codes"].dataType, LongType)
    if packed != packable:
        raise ValueError(
            f"index codes transport ({'packed long' if packed else 'array<int>'}) "
            f"does not match this quantizer (m_sub={m_sub}, ksub={ksub} -> "
            f"{'packable' if packable else 'not packable'}): the index was "
            "built with a different quantizer"
        )
    meta = index.schema["codes"].metadata or {}
    if "pq_fp" in meta:
        # the strong check: the stamped identity must be THIS quantizer.
        # Catches same-transport mismatches the structural check above
        # cannot (e.g. a 5-bit-stride index searched at a 4-bit stride —
        # both packed longs, every ADC score silently wrong otherwise).
        fp = _pq_fingerprint(centroids, codebooks)
        if (meta.get("pq_m_sub"), meta.get("pq_ksub"), meta["pq_fp"]) != (
            m_sub, ksub, fp
        ):
            raise ValueError(
                f"index was encoded by a different quantizer (index "
                f"m_sub={meta.get('pq_m_sub')}, ksub={meta.get('pq_ksub')}, "
                f"fp={meta['pq_fp']}; search quantizer m_sub={m_sub}, "
                f"ksub={ksub}, fp={fp})"
            )
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def query_tables(mat: np.ndarray) -> pd.DataFrame:
        cells, cell_dots, luts = pq_query_tables(mat, cnorm, codebooks, nprobe)
        return pd.DataFrame(
            {"cells": list(cells.astype(np.int64)), "cell_dots": list(cell_dots), "lut": list(luts)}
        )

    cb = index.select(F.col("vec_id").alias("neighbor_id"), "cell", "codes")
    # one struct per query; the JVM fans it out to one row per probed cell,
    # each carrying the query's LUT
    qb = _per_vector(
        queries.select("vec_id", "embedding"), centroids.shape[1],
        "struct<cells:array<long>,cell_dots:array<double>,lut:array<double>>",
        query_tables,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.inline(F.arrays_zip(
            F.col("out.cells").alias("cell"), F.col("out.cell_dots").alias("cell_dot")
        )),
        F.col("out.lut").alias("lut"),
    )
    # ADC score per candidate, JVM-side: left-associated sum over the m_sub
    # code lookups in subspace order — the SAME addition order on both the
    # packed path (explicit expression chain) and the array path
    # (aggregate's left fold starts at lit(0.0) too), so the golden replay
    # covers both transports with one arithmetic
    if packed:
        mask = F.lit((1 << bpc) - 1)
        acc = F.lit(0.0)
        for m in range(m_sub):
            code_m = F.shiftright(F.col("codes"), bpc * m).bitwiseAND(mask)
            acc = acc + F.element_at(F.col("lut"), (code_m + F.lit(m * ksub + 1)).cast("int"))
    else:
        contrib = F.transform(
            F.col("codes"),
            lambda c, i: F.element_at(F.col("lut"), i * F.lit(ksub) + c + F.lit(1)),
        )
        acc = F.aggregate(contrib, F.lit(0.0), lambda a, x: a + x)
    adc = F.col("cell_dot") + acc
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cand = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
        .withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= rerank)
        # collapse duplicate candidates (a violated vec_id-uniqueness
        # precondition — e.g. a batch committed twice) BEFORE the rerank,
        # so a duplicated neighbor can never hold two final ranks; cost is
        # a distinct over ≤ Q×rerank rows, not the candidate fan-out
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_rerank(cand, queries, corpus, k)


def pq_save(
    spark: SparkSession, path: str,
    centroids: np.ndarray, codebooks: np.ndarray,
) -> None:
    """Persist a trained quantizer as one small parquet directory THROUGH
    Spark's Hadoop filesystem — the same storage layer ``SnapshotTable``
    commits the code rows to, so the two halves of a committed index stay
    co-located on cluster storage (S3/HDFS roots work; a driver-local
    pyarrow write would strand the quantizer — which every future
    increment must reuse — on one driver's disk). Row layout:
    kind='centroid' rows carry (idx=cell, sub=-1, values=centroid);
    kind='codebook' rows carry (idx=codeword, sub=subspace,
    values=codeword vector). float64 columns round-trip bit-exactly, so
    a reloaded quantizer reproduces every index code and ADC score."""
    rows = [
        ("centroid", i, -1, [float(x) for x in c])
        for i, c in enumerate(centroids)
    ]
    m_sub, ksub, _ = codebooks.shape
    rows += [
        ("codebook", j, m, [float(x) for x in codebooks[m][j]])
        for m in range(m_sub)
        for j in range(ksub)
    ]
    spark.createDataFrame(
        pa.table(list(zip(*rows)), names=["kind", "idx", "sub", "values"]),
        "kind string, idx int, sub int, values array<double>",
    ).coalesce(1).write.mode("errorifexists").parquet(path)


def pq_load(spark: SparkSession, path: str) -> tuple[np.ndarray, np.ndarray]:
    """Reload a quantizer persisted by ``pq_save`` — exact inverse, with
    the completeness checks a train-once artifact deserves: a truncated
    or foreign file raises a named ValueError instead of leaving
    uninitialized codebook slots that would silently corrupt every
    subsequent encode."""
    t = [r.asDict() for r in spark.read.parquet(path).collect()]
    cents = sorted((r for r in t if r["kind"] == "centroid"), key=lambda r: r["idx"])
    cbs = [r for r in t if r["kind"] == "codebook"]
    if not cents or not cbs:
        raise ValueError(f"corrupt quantizer file {path}: missing centroid/codebook rows")
    if [r["idx"] for r in cents] != list(range(len(cents))):
        raise ValueError(f"corrupt quantizer file {path}: non-contiguous centroid ids")
    centroids = np.array([r["values"] for r in cents], dtype=np.float64)
    m_sub = max(r["sub"] for r in cbs) + 1
    ksub = max(r["idx"] for r in cbs) + 1
    dsub = len(cbs[0]["values"])
    seen = {(r["sub"], r["idx"]) for r in cbs}
    # full-grid equality, not count/distinctness: negative sub/idx values
    # (e.g. sub ∈ {-1, 1}) satisfy count checks yet index the numpy array
    # from the END, leaving a slot as uninitialized np.empty garbage — the
    # exact silent corruption this loader exists to refuse
    grid = {(s, i) for s in range(m_sub) for i in range(ksub)}
    if len(cbs) != m_sub * ksub or seen != grid:
        raise ValueError(
            f"corrupt quantizer file {path}: expected the full codebook grid "
            f"range({m_sub})×range({ksub}) exactly once, found {len(cbs)} rows "
            f"covering {len(seen & grid)} grid cells"
        )
    if any(len(r["values"]) != dsub for r in cbs):
        raise ValueError(f"corrupt quantizer file {path}: ragged codeword widths")
    codebooks = np.empty((m_sub, ksub, dsub), dtype=np.float64)
    for r in cbs:
        codebooks[r["sub"], r["idx"]] = r["values"]
    return centroids, codebooks


def embedding_near_dups(
    vectors: DataFrame, threshold: float = 0.95,
    caches: list | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact verify.

    A pair is a candidate iff its 8-bit sign codes are within Hamming 1 in
    at least one of the 4 tables: per table and bit k the deletion key is
    ``(bucket with bit k cleared, k)``, which two such codes always share,
    so candidates are the bucket self-join of ``dedup._banded_candidates``.

    The 1,000 cap splits on an exact-copy fingerprint (``xxhash64`` of the
    vector): copies of one vector in an over-cap key star-link through
    their min-id hub (k−1 rows, not k²) while distinct vectors still join
    each other. A size cap alone would lose pairs: each (table, bit) has
    only 128 keys, so uniform codes push every key past 1,000 at n ≈ 128k
    and a star keeps only hub pairs. The join over distinct vectors stays
    unbounded (~n²/8 rows for uniform codes), as before the cap;
    ``semantic_dedup``'s ``n_cells`` is the bounded path at corpus scale.

    The bucket relation is cached so the LSH kernel runs once; pass
    ``caches=[]`` to receive it and ``unpersist()`` it after the result is
    materialized.
    """
    from .dedup import _banded_candidates

    buckets = lsh_bucket_ids(
        vectors.select("vec_id", "embedding", F.xxhash64("embedding").alias("copy")),
        hyperplanes(8, 4),
    ).cache()
    if caches is not None:
        caches.append(buckets)
    cleared = [F.col("bucket").bitwiseAND(F.lit(~(1 << k))) for k in range(8)]
    keys = buckets.select("vec_id", "copy", F.posexplode(F.array(*cleared)).alias("bit", "key"))
    cand = _banded_candidates(
        keys, ["bit", "key"], "vec_id", [], 1000, split=["copy"]
    ).select(F.col("a_vec_id").alias("id_a"), F.col("b_vec_id").alias("id_b"))
    va = _vectors(vectors, "id_a", "va")
    vb = _vectors(vectors, "id_b", "vb")
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def semantic_dedup(
    vectors: DataFrame, eps: float = 0.95,
    n_cells: int = 16,
    caches: list | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic-level dedup
    over an embedding column — k-means-partition the embedding space with
    the sample-trained coarse quantizer, find within-cell pairs with cosine
    ≥ ``eps``, resolve them to connected components, and keep per component
    the member FARTHEST from its cell centroid (lowest ``centroid_sim``,
    ties → min id) — the paper's "keep the least prototypical example"
    survivorship, which preserves diversity where exact/near dedup keeps
    arbitrary canonicals.

    Returns a complete keep/drop list:
    ``(vec_id, cell, centroid_sim, cluster_id, keep)`` — singletons keep
    themselves; ``centroid_sim`` is rounded to 6 dp for a stable surface.

    Scale shape: the quantizer trains on a BOUNDED driver sample
    (``ivf_train_centroids`` — the FAISS rule); assignment is one narrow
    Arrow pass; the pair scan is a cell-key equi-join whose fan-out is
    Σ|cell|² — ``n_cells`` is the knob that bounds it (the paper uses 50k
    clusters at LAION scale; at 10^12 docs pick n_cells so E[|cell|] stays
    ~10^4-10^5). Unlike the LSH pair paths it takes no bucket cap
    (``dedup._banded_candidates``): star-linking an over-cap cell would
    drop the within-cell pairs that the keep rule below depends on.
    Component resolution reuses ``dedup_clusters``
    (min-label propagation + pointer jumping, no driver union-find), and
    survivorship is one mergeable max(struct) groupBy (``survivors``).

    The assignment relation is cached (consumed by the pair scan twice,
    the cluster node list, and survivorship — one narrow Arrow pass
    instead of four); pass ``caches=[]`` to receive it and ``unpersist()``
    after the result is materialized — the caller-owned-release contract
    shared with ``minhash_lsh_pairs``/``ngram_jaccard_pairs``.
    """
    from .dedup import dedup_clusters, survivors

    centroids = ivf_train_centroids(vectors, n_cells)
    assign = ivf_assignments(
        vectors, centroids, nprobe=1, with_sim=True
    ).cache()
    if caches is not None:
        caches.append(assign)
    # within-cell candidate pairs → exact cosine (JVM left-fold) ≥ eps
    a = assign.select(F.col("vec_id").alias("id_a"), "cell")
    b = assign.select(F.col("vec_id").alias("id_b"), "cell")
    cand = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    va = _vectors(vectors, "id_a", "va")
    vb = _vectors(vectors, "id_b", "vb")
    pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= eps)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    )
    clusters = dedup_clusters(
        pairs, docs=assign.select(F.col("vec_id").alias("doc_id"))
    )
    # SemDeDup survivorship: max(-centroid_sim) = farthest-from-centroid.
    # centroid_sim is bit-identical between the Spark kernel and the golden
    # replay (per-row own-buffer sum — see assign_cells), so ties resolve
    # identically (-doc_id struct field → min id) on both sides.
    ranked = assign.select(
        F.col("vec_id").alias("doc_id"), (-F.col("centroid_sim")).alias("neg_sim")
    )
    keepers = survivors(clusters, ranked, keep_by="neg_sim").select(
        F.col("doc_id").alias("vec_id"), F.lit(True).alias("keep")
    )
    return (
        assign.join(clusters.select(F.col("doc_id").alias("vec_id"), "cluster_id"), "vec_id")
        .join(keepers, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.round("centroid_sim", 6).alias("centroid_sim"),
            "cluster_id",
            F.coalesce("keep", F.lit(False)).alias("keep"),
        )
    )
