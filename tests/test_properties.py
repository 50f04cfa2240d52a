"""Property-based robustness tests (hypothesis) over the pure kernels.

No SparkSession needed — these pin the kernel invariants the distributed
operators rely on: total-order determinism, permutation invariance (any
shuffle layout yields identical output), and no-crash on adversarial input.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from openllm_ocr_annotator_spark.kernel.html import classify_blocks, tokenize_html
from openllm_ocr_annotator_spark.kernel.merge import extract_document

html_text = st.text(
    alphabet=st.sampled_from(list("abc <>/&;\"'=!-\n\tpdivnavh1")), max_size=400
)


@settings(max_examples=300, deadline=None)
@given(html_text)
def test_tokenizer_never_crashes_and_is_well_formed(s):
    items = tokenize_html(s)
    for it in items:
        assert it[0] in ("text", "media")
        if it[0] == "text":
            _, text, density, chrome = it
            assert text == " ".join(text.split()) and text  # normalized, non-empty
            assert 0.0 <= density
            assert isinstance(chrome, bool)
    kept = classify_blocks(items)
    # classification only drops items, never reorders or invents
    kept_payloads = [(k, p) for k, p, *_ in kept]
    seq = [(it[0], it[1]) for it in items]
    i = 0
    for k, p in kept_payloads:
        while i < len(seq) and seq[i] != (k, p):
            i += 1
        assert i < len(seq), "classified item not in tokenized order"
        i += 1


span_strategy = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["text", "html", "pdf", "image", "audio", "weird", ""]),
        "text": st.text(max_size=120),
        "media_ref": st.sampled_from(["", "s3://x/a.png", "s3://x/b.flac"]),
        "offset": st.integers(min_value=-3, max_value=40),
    }
)


@settings(max_examples=200, deadline=None)
@given(st.lists(span_strategy, max_size=12), st.randoms())
def test_extract_document_is_permutation_invariant(spans, rnd):
    base = extract_document(spans)
    shuffled = list(spans)
    rnd.shuffle(shuffled)
    assert extract_document(shuffled) == base
    # output offsets are exactly the 0..n-1 sequence ranks
    assert [s["offset"] for s in base] == list(range(len(base)))


@settings(max_examples=300, deadline=None)
@given(
    st.one_of(
        st.text(max_size=300),
        # brace-heavy: JSON fragments that often nest a decodable object
        # right after a brace that fails to decode
        st.lists(
            st.sampled_from(['{', '}', '{}', '{"a": 1}', '"', ':', ',', '[', ']', 'x', ' ', '\n']),
            max_size=60,
        ).map("".join),
    )
)
def test_json_brace_scan_never_crashes(s):
    """The in-place scan returns what slicing the tail at every '{' and
    decoding it returns, on arbitrary and on brace-heavy text."""
    import json

    from openllm_ocr_annotator_spark.functions.json_extract import _scan_first_json

    def sliced(text):
        decoder = json.JSONDecoder()
        for i, ch in enumerate(text):
            if ch != "{":
                continue
            try:
                parsed, end = decoder.raw_decode(text[i:])
            except json.JSONDecodeError:
                continue
            if isinstance(parsed, dict):
                return text[i : i + end]
        return None

    out = _scan_first_json(s)
    assert out == sliced(s)
    if out is not None:
        json.loads(out)  # whatever it returns must be valid JSON


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.text(alphabet=st.sampled_from(list("ab c")), max_size=60), max_size=8),
    st.integers(min_value=1, max_value=37),
)
def test_minhash_slab_size_never_changes_signatures(texts, slab):
    """The slab-bounded batch minhash must be bit-identical to the per-doc
    kernel for EVERY slab size — the memory bound cannot change results."""
    import numpy as np

    from openllm_ocr_annotator_spark.kernel import dedup as K

    allsh, counts = K.shingle_hashes_batch(texts, 3)
    a, b = K.perm_params(16)
    got = K.minhash_signatures_batch(allsh, counts, a, b, slab=slab)
    expected = (
        np.stack([K.minhash_signature(K.shingle_hashes(t, 3), a, b) for t in texts])
        if texts else np.empty((0, 16), dtype=np.uint64)
    )
    assert np.array_equal(got, expected)


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=40),
    frames=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=40, deadline=None)
def test_imagecodec_roundtrip_property(w, h, frames):
    """encode→decode is identity for every builtin format and geometry."""
    from openllm_ocr_annotator_spark.kernel import imagecodec as C

    assert C.decode_geometry(C.encode_bmp(w, h)) == (w, h, 1)
    assert C.decode_geometry(C.encode_ppm(w, h)) == (w, h, 1)
    assert C.decode_geometry(C.encode_ppm_stream(w, h, frames)) == (w, h, frames)
    assert C.decode_geometry(C.encode_gif(w, h, frames)) == (w, h, frames)


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=100, deadline=None)
def test_imagecodec_never_escapes_valueerror(data):
    """Arbitrary bytes — incl. ones starting with valid magic — either
    decode or raise ValueError; no struct/index error ever escapes (the
    lenient media path relies on this contract)."""
    from openllm_ocr_annotator_spark.kernel import imagecodec as C

    for prefix in (b"", b"BM", b"P6", b"GIF89a"):
        try:
            wid, hgt, nfr = C.decode_geometry(prefix + data)
            assert wid >= 0 and hgt >= 0 and nfr >= 1
        except ValueError:
            pass


@given(
    words=st.lists(st.text(alphabet="abcdef", min_size=1, max_size=8),
                   min_size=1, max_size=30),
    merges=st.integers(min_value=0, max_value=40),
)
@settings(max_examples=40, deadline=None)
def test_bpe_count_bounds_property(words, merges):
    """For any corpus and merge count: every word costs ≥1 token, at most
    len(word)+1 symbols; more merges never increase the count; training
    is deterministic."""
    from collections import Counter

    from openllm_ocr_annotator_spark.kernel import bpe as B

    vocab = Counter(words)
    m1 = B.train_bpe(vocab, merges)
    assert m1 == B.train_bpe(vocab, merges)
    r1 = B.merge_ranks(m1)
    r2 = B.merge_ranks(B.train_bpe(vocab, merges + 10))
    text = " ".join(words)
    n_words = len(text.split())
    c1 = B.count_tokens(text, r1, {})
    assert n_words <= c1 <= sum(len(w) + 1 for w in text.split())
    assert B.count_tokens(text, r2, {}) <= c1


@given(st.lists(st.tuples(st.integers(0, 60), st.integers(0, 60)),
                min_size=1, max_size=40))
@settings(max_examples=10, deadline=None)
def test_dedup_cluster_labels_match_union_find(spark, pairs):
    """Pure-Python union-find is the oracle for the DataFrame min-label
    propagation — for ANY random pair set the (cluster_id = component min)
    convention must agree. (Session-scoped spark fixture: allowed with
    hypothesis; examples share the JVM.)"""
    from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters

    pairs = [(a, b) for a, b in pairs if a != b]
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
    want = {x: find(x) for x in parent}
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(df).collect()}
    assert got == want


@given(st.integers(0, 2**32 - 1), st.integers(1, 61))
@settings(max_examples=80, deadline=None)
def test_pq_encode_is_batch_split_invariant(seed, split):
    """pq_encode over a full matrix must equal pq_encode over any split of
    it — THE invariant that makes the Spark encode kernel's output
    independent of partitioning / Arrow batch height (cells use argmax,
    whose first-index tie rule is per-row; every other reduction is an
    own-buffer sum over dsub elements)."""
    import numpy as np

    from openllm_ocr_annotator_spark.operators.similarity import pq_encode, pq_train

    rng = np.random.RandomState(seed)
    mat = rng.normal(size=(62, 16))
    centroids, codebooks = pq_train(mat[:32], n_cells=4, iters=2, m_sub=4, ksub=8)
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cells, codes = pq_encode(mat, cnorm, codebooks)
    assert codes.min() >= 0 and codes.max() < 8
    i = split % len(mat)
    c1, k1 = pq_encode(mat[:i], cnorm, codebooks) if i else (cells[:0], codes[:0])
    c2, k2 = pq_encode(mat[i:], cnorm, codebooks)
    assert (np.concatenate([c1, c2]) == cells).all()
    assert (np.concatenate([k1, k2]) == codes).all()


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_pq_adc_equals_reconstructed_inner_product(seed):
    """The ADC identity: cell_dot + Σ_m lut[m*ksub+code_m] must equal the
    direct inner product q̂ · (centroid + decoded residual) — i.e. ADC is
    EXACT for the quantized reconstruction, approximate only in the
    quantization itself (Jégou et al. 2011, eq. 12)."""
    import numpy as np

    from openllm_ocr_annotator_spark.operators.similarity import (
        pq_encode,
        pq_query_tables,
        pq_train,
    )

    rng = np.random.RandomState(seed)
    mat = rng.normal(size=(40, 16))
    centroids, codebooks = pq_train(mat[:24], n_cells=3, iters=2, m_sub=4, ksub=8)
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    cells, codes = pq_encode(mat, cnorm, codebooks)
    q = mat[:5]
    qc, qd, ql = pq_query_tables(q, cnorm, codebooks, nprobe=3)
    qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
    for qi in range(len(q)):
        probed = {int(c): float(qd[qi, p]) for p, c in enumerate(qc[qi])}
        for xi in range(len(mat)):
            cell = int(cells[xi])
            if cell not in probed:
                continue
            adc = probed[cell]
            acc = 0.0
            for m in range(4):
                acc = acc + float(ql[qi, m * 8 + int(codes[xi, m])])
            adc = adc + acc
            recon = cnorm[cell] + np.concatenate(
                [codebooks[m][codes[xi, m]] for m in range(4)]
            )
            assert np.isclose(adc, float(qn[qi] @ recon), rtol=1e-10, atol=1e-12)


@given(
    st.integers(0, 2**32 - 1),
    st.integers(2, 64),
    st.sampled_from([1, 2, 4, 8]),
)
@settings(max_examples=120, deadline=None)
def test_pq_code_packing_roundtrip(seed, ksub, m_sub):
    """The packed-long transport (encode kernel) and the JVM unpack
    (shiftright + mask) are inverses for every code vector whenever the
    bit budget fits — replayed here in numpy with the same bit layout."""
    import numpy as np

    bpc = max(1, int(ksub - 1).bit_length())
    if bpc * m_sub > 63:
        return  # the operator takes the array<int> transport here
    rng = np.random.RandomState(seed)
    codes = rng.randint(0, ksub, size=(50, m_sub)).astype(np.int64)
    shifts = np.int64(1) << (bpc * np.arange(m_sub, dtype=np.int64))
    packed = (codes * shifts).sum(axis=1)
    mask = (1 << bpc) - 1
    unpacked = np.stack(
        [(packed >> (bpc * m)) & mask for m in range(m_sub)], axis=1
    )
    assert (unpacked == codes).all()
    assert packed.min() >= 0  # sign-safe: never touches bit 63
