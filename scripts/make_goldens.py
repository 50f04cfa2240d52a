#!/usr/bin/env python
"""Generate golden parquet for every query whose semantics DuckDB cannot
restate in SQL (sink formats, the extraction kernel, BPE counts,
MinHash/SimHash/LSH pairs, ANN top-k).

Every golden is produced by a SEQUENTIAL PURE-PYTHON chain (synth.make_spans
→ kernel extract_document / kernel.bpe / kernel.dedup → literal
formatting) — never by the Spark engine — so the driver's DuckDB oracles
for these queries are real value checks instead of rows-only: the oracle
SQL just scans the committed golden files. What the check pins is the
DISTRIBUTED side: mapInArrow plumbing, ordering windows, banding joins,
bucket caps, vote aggregation — everything between the shared kernel and
the final rows. Cross-engine float hazards are handled at generation time
(cosine folds replicate Spark's left-fold addition order; the ensemble
vote is tie-free by construction, asserted below).

Regenerate (only needed if the synthesis rules or sink formats change):

    python scripts/make_goldens.py [sf_dir] [out_dir]

defaults: /root/testdata/sf0.01 → /root/repo/golden (the driver's
correctness gate runs at sf0.01; scripts/verify_contract.py skips the two
golden-backed value compares at other scales).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from openllm_ocr_annotator_spark.kernel.merge import extract_document
from openllm_ocr_annotator_spark.synth import make_documents_pdf

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "golden"
)

flat = pq.read_table(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]).to_pandas()
docs = make_documents_pdf(flat)

tsv_lines: list[str] = []
json_rows: list[tuple[str, str]] = []
for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
    out_spans = extract_document(list(spans))
    if not out_spans:
        continue  # empty docs produce no extracted rows → absent from sinks
    for s in out_spans:
        # sinks/export.tsv_span_lines: concat_ws("\t", doc_id, offset, kind,
        # text, media_ref) — all fields non-null strings/ints
        tsv_lines.append(
            f"{doc_id}\t{s['offset']}\t{s['kind']}\t{s['text']}\t{s['media_ref']}"
        )
    # sinks/export.doc_json_payload over renest_spans: to_json of
    # {"spans": [struct(kind, text, media_ref, offset), ...]} (the field
    # order renest_spans re-projects) — Jackson compact form == json.dumps
    # with ':'/',' separators, non-ASCII kept
    payload = json.dumps(
        {
            "spans": [
                {
                    "kind": s["kind"],
                    "text": s["text"],
                    "media_ref": s["media_ref"],
                    "offset": s["offset"],
                }
                for s in out_spans
            ]
        },
        separators=(",", ":"),
        ensure_ascii=False,
    )
    json_rows.append((doc_id, payload))

os.makedirs(OUT_DIR, exist_ok=True)
pq.write_table(
    pa.table({"value": pa.array(tsv_lines, pa.string())}),
    os.path.join(OUT_DIR, "tsv_span_sink.parquet"),
)
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([r[0] for r in json_rows], pa.string()),
            "payload": pa.array([r[1] for r in json_rows], pa.string()),
        }
    ),
    os.path.join(OUT_DIR, "doc_json_payloads.parquet"),
)
# --- real-BPE token counts (kernel/bpe.py, pure Python — no Spark) ---------
# trained with the SAME deterministic rule as operators/tokenize.
# train_bpe_from_corpus: first 200 docs by doc_id, 200 merges.
from openllm_ocr_annotator_spark.kernel import bpe as B  # noqa: E402

flat_all = pq.read_table(
    f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
).to_pandas().sort_values("doc_id")
sample = [str(t) for t in flat_all.head(200)["text"]]
ranks = B.merge_ranks(B.train_bpe(B.word_vocab(sample), 200))
cache: dict[str, int] = {}
counts = [
    (int(d), B.count_tokens(str(t), ranks, cache))
    for d, t in zip(flat_all["doc_id"], flat_all["text"])
]
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([c[0] for c in counts], pa.int64()),
            "n_tokens": pa.array([c[1] for c in counts], pa.int64()),
        }
    ),
    os.path.join(OUT_DIR, "bpe_token_counts.parquet"),
)
print(
    f"golden: {len(tsv_lines)} tsv lines, {len(json_rows)} json payloads, "
    f"{len(counts)} bpe counts → {OUT_DIR}"
)

# ---------------------------------------------------------------------------
# Extraction-family goldens: the span sequences themselves (pure-Python
# synth + kernel chain, sequential — no Spark). One golden serves
# extract_spans, extract_spans_wide (row-identical by contract), and
# streaming_increment (the committed table holds the same rows).
# ---------------------------------------------------------------------------
span_rows: list[tuple[str, str, str, str, int]] = []
for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
    for s in extract_document(list(spans)):
        span_rows.append((doc_id, s["kind"], s["text"], s["media_ref"], s["offset"]))
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([r[0] for r in span_rows], pa.string()),
            "kind": pa.array([r[1] for r in span_rows], pa.string()),
            "text": pa.array([r[2] for r in span_rows], pa.string()),
            "media_ref": pa.array([r[3] for r in span_rows], pa.string()),
            "offset": pa.array([r[4] for r in span_rows], pa.int32()),
        }
    ),
    os.path.join(OUT_DIR, "extract_spans.parquet"),
)

# --- ensemble_extract: per-doc weighted vote over leg span sequences -------
from openllm_ocr_annotator_spark.kernel.merge import extract_span  # noqa: E402

LEGS = [
    ("default", 1.0, None),
    ("default_twin", 1.0, None),
    ("strict", 1.5, {"strong_words": 25, "max_link_density": 0.15}),
]


def _extract_with_params(spans, params):
    ordered = sorted(
        spans,
        key=lambda s: (
            s.get("offset") or 0,
            s.get("kind") or "",
            s.get("media_ref") or "",
            s.get("text") or "",
        ),
    )
    out = []
    for s in ordered:
        for kind, text, ref in extract_span(
            s.get("kind") or "", s.get("text") or "", s.get("media_ref") or "", params
        ):
            out.append((kind, text, ref, len(out)))
    return tuple(out)


ens_rows: list[tuple[str, str, str, str, int, float]] = []
total_w = sum(w for _, w, _ in LEGS)
for doc_id, spans in zip(docs["doc_id"], docs["spans"]):
    by_seq: dict[tuple, list[tuple[str, float]]] = {}
    for name, w, params in LEGS:
        seq = _extract_with_params(list(spans), params)
        by_seq.setdefault(seq, []).append((name, w))
    if not any(seq for seq in by_seq):  # empty doc: every leg emits nothing
        continue
    scores = {seq: sum(w for _, w in legs) for seq, legs in by_seq.items()}
    # with weights (1.0 twin-legs + 1.5) ties are impossible: twins always
    # agree, so scores are {3.5} or {2.0, 1.5} — assert the invariant that
    # makes the pure vote reproducible without Spark's digest tie-break
    ranked = sorted(scores.values(), reverse=True)
    assert len(ranked) == 1 or ranked[0] != ranked[1], f"vote tie in {doc_id}"
    win_seq = max(scores, key=lambda s: scores[s])
    consensus = scores[win_seq] / total_w
    if not win_seq:
        continue  # winner is the empty sequence → no output rows
    for kind, text, ref, off in win_seq:
        ens_rows.append((doc_id, kind, text, ref, off, consensus))
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([r[0] for r in ens_rows], pa.string()),
            "kind": pa.array([r[1] for r in ens_rows], pa.string()),
            "text": pa.array([r[2] for r in ens_rows], pa.string()),
            "media_ref": pa.array([r[3] for r in ens_rows], pa.string()),
            "offset": pa.array([r[4] for r in ens_rows], pa.int32()),
            "consensus_weight": pa.array([r[5] for r in ens_rows], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "ensemble_extract.parquet"),
)

# ---------------------------------------------------------------------------
# MinHash-LSH / SimHash pair goldens (kernel/dedup.py pure functions,
# replaying the operator's banding + bucket-cap + threshold logic
# sequentially; batch≡per-doc kernel parity is pytest-pinned).
# ---------------------------------------------------------------------------
import numpy as np  # noqa: E402

from openllm_ocr_annotator_spark.kernel import dedup as K  # noqa: E402

doc_ids = [int(d) for d in flat_all["doc_id"]]
texts = [str(t) for t in flat_all["text"]]

# minhash_lsh_pairs(threshold=0.5, num_perm=64, num_bands=16, cap=1000)
a_p, b_p = K.perm_params(64, 42)
sigs = {d: K.minhash_signature(K.shingle_hashes(t, 3), a_p, b_p)
        for d, t in zip(doc_ids, texts)}
# the engine buckets on xxhash64 of each 4-slot band; the exact relation
# that hash stands for is equality of the band's slot tuple
buckets: dict[tuple[int, tuple], list[int]] = {}
for d in doc_ids:
    for band_idx in range(16):
        band = tuple(int(v) for v in sigs[d][4 * band_idx : 4 * band_idx + 4])
        buckets.setdefault((band_idx, band), []).append(d)
cand = set()
for members in buckets.values():
    ms = sorted(members)
    if len(ms) > 1000:
        # viral-bucket star escape hatch, same as the operator: min-id hub
        # linked to every other member instead of the bucket² expansion
        cand.update((ms[0], m) for m in ms[1:])
        continue
    for i in range(len(ms)):
        for j in range(i + 1, len(ms)):
            cand.add((ms[i], ms[j]))
mh_rows = []
for da, db in sorted(cand):
    est = float(np.mean(sigs[da] == sigs[db]))
    if est >= 0.5:
        mh_rows.append((da, db, round(est, 6)))
pq.write_table(
    pa.table(
        {
            "doc_a": pa.array([r[0] for r in mh_rows], pa.int64()),
            "doc_b": pa.array([r[1] for r in mh_rows], pa.int64()),
            "est_jaccard": pa.array([r[2] for r in mh_rows], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "minhash_lsh_pairs.parquet"),
)

# simhash_pairs(max_hamming=3, cap=1000): 4 chunks × 16 bits
hashes = {d: int(K.simhash64(t)) for d, t in zip(doc_ids, texts)}
sh_buckets: dict[tuple[int, int], list[int]] = {}
for d in doc_ids:
    for ci in range(4):
        sh_buckets.setdefault((ci, (hashes[d] >> (ci * 16)) & 0xFFFF), []).append(d)
sh_cand = set()
for members in sh_buckets.values():
    ms = sorted(members)
    if len(ms) > 1000:
        sh_cand.update((ms[0], m) for m in ms[1:])  # star escape hatch
        continue
    for i in range(len(ms)):
        for j in range(i + 1, len(ms)):
            sh_cand.add((ms[i], ms[j]))
sh_rows = []
for da, db in sorted(sh_cand):
    hd = bin(hashes[da] ^ hashes[db]).count("1")
    if hd <= 3:
        sh_rows.append((da, db, hd))
pq.write_table(
    pa.table(
        {
            "doc_a": pa.array([r[0] for r in sh_rows], pa.int64()),
            "doc_b": pa.array([r[1] for r in sh_rows], pa.int64()),
            "hamming": pa.array([r[2] for r in sh_rows], pa.int32()),
        }
    ),
    os.path.join(OUT_DIR, "simhash_pairs.parquet"),
)

# ---------------------------------------------------------------------------
# LSH ANN top-k golden (similarity_lsh_topk: queries = vec_id < 20, k=5,
# 6 planes × 4 tables, dim 64, seed 42, multi-probe on the query side).
# Cosine replicated as the SAME left-fold Spark's F.aggregate computes —
# order-sensitive double addition, so np.dot (pairwise/SIMD order) would
# drift in the last ulp and could flip a 6-dp rounding or a rank.
# ---------------------------------------------------------------------------
emb = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"]).to_pandas()
vecs = {int(v): [float(x) for x in e] for v, e in zip(emb["vec_id"], emb["embedding"])}
planes = np.random.RandomState(42).normal(size=(4, 6, 64))


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a):
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return acc ** 0.5


def _codes(vid):
    mat = np.asarray(vecs[vid], dtype=np.float64)
    out = []
    for t in range(4):
        bits = (mat @ planes[t].T) > 0
        code = int((bits * (1 << np.arange(6))).sum())
        out.append((t << 6) | code)
    return out


q_ids = sorted(v for v in vecs if v < 20)
corpus_buckets: dict[int, list[int]] = {}
for v in vecs:
    for bkt in _codes(v):
        corpus_buckets.setdefault(bkt, []).append(v)
lsh_rows = []
for qid in q_ids:
    probes = set()
    for bkt in _codes(qid):
        probes.add(bkt)
        base, code = bkt & ~0x3F, bkt & 0x3F
        for p in range(6):
            probes.add(base | (code ^ (1 << p)))
    cands = {n for b in probes for n in corpus_buckets.get(b, []) if n != qid}
    qv = vecs[qid]
    qn = _fold_norm(qv)
    scored = []
    for n in sorted(cands):
        cv = vecs[n]
        scored.append((n, _fold_dot(qv, cv) / (qn * _fold_norm(cv))))
    scored.sort(key=lambda t: (-t[1], t[0]))
    for rank, (n, cos) in enumerate(scored[:5], start=1):
        lsh_rows.append((qid, n, rank, round(cos, 6)))
pq.write_table(
    pa.table(
        {
            "query_id": pa.array([r[0] for r in lsh_rows], pa.int64()),
            "neighbor_id": pa.array([r[1] for r in lsh_rows], pa.int64()),
            "rank": pa.array([r[2] for r in lsh_rows], pa.int32()),
            "cosine": pa.array([r[3] for r in lsh_rows], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "similarity_lsh_topk.parquet"),
)
print(
    f"golden extra: {len(span_rows)} spans, {len(ens_rows)} ensemble rows, "
    f"{len(mh_rows)} minhash pairs, {len(sh_rows)} simhash pairs, "
    f"{len(lsh_rows)} lsh-topk rows"
)

# ---------------------------------------------------------------------------
# IVF ANN top-k golden (similarity_ivf_topk: queries = vec_id < 20, k=5,
# n_cells=16, nprobe=4, iters=2). The quantizer trains on a bounded
# driver-side sample via the SAME lloyd_centroids/assign_cells numpy
# functions the operator uses — sample training is what makes the whole
# IVF path reproducible outside Spark.
# ---------------------------------------------------------------------------
from openllm_ocr_annotator_spark.operators.similarity import (  # noqa: E402
    assign_cells,
    lloyd_centroids,
)

ids_sorted = sorted(vecs)
mat_all = np.stack([np.asarray(vecs[v], dtype=np.float64) for v in ids_sorted])
centroids = lloyd_centroids(mat_all[:4096], 16, 2)
cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
corpus_cells = assign_cells(mat_all, cnorm, 1)[:, 0]
cell_members: dict[int, list[int]] = {}
for v, c in zip(ids_sorted, corpus_cells):
    cell_members.setdefault(int(c), []).append(v)
q_rows_idx = [i for i, v in enumerate(ids_sorted) if v < 20]
q_cells = assign_cells(mat_all[q_rows_idx], cnorm, 4)
ivf_rows = []
for qi, row in zip(q_rows_idx, q_cells):
    qid = ids_sorted[qi]
    cands = {n for c in row for n in cell_members.get(int(c), []) if n != qid}
    qv = vecs[qid]
    qn = _fold_norm(qv)
    scored = [(n, _fold_dot(qv, vecs[n]) / (qn * _fold_norm(vecs[n])))
              for n in sorted(cands)]
    scored.sort(key=lambda t: (-t[1], t[0]))
    for rank, (n, cos) in enumerate(scored[:5], start=1):
        ivf_rows.append((qid, n, rank, round(cos, 6)))
pq.write_table(
    pa.table(
        {
            "query_id": pa.array([r[0] for r in ivf_rows], pa.int64()),
            "neighbor_id": pa.array([r[1] for r in ivf_rows], pa.int64()),
            "rank": pa.array([r[2] for r in ivf_rows], pa.int32()),
            "cosine": pa.array([r[3] for r in ivf_rows], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "similarity_ivf_topk.parquet"),
)
print(f"golden extra: {len(ivf_rows)} ivf-topk rows")

# ---------------------------------------------------------------------------
# IVF-PQ ANN top-k golden (similarity_ivf_pq_topk: queries = vec_id < 20,
# k=5, n_cells=16, nprobe=4, m_sub=8, ksub=16, pq_iters=2, rerank=20).
# Replays the SAME pq_train/pq_encode/pq_query_tables numpy functions the
# operator kernels call, then the ADC sum in Spark's exact addition order:
# aggregate's left fold over the m_sub LUT lookups from 0.0, then one add
# of the query·centroid dot — JVM and Python doubles are both IEEE-754
# binary64 with a fixed order, so the candidate cut at rerank and every
# rank are reproduced bit-for-bit, not approximately.
# ---------------------------------------------------------------------------
from openllm_ocr_annotator_spark.operators.similarity import (  # noqa: E402
    pq_encode,
    pq_query_tables,
    pq_train,
)

M_SUB, KSUB, NPROBE_PQ, RERANK_PQ = 8, 16, 4, 20


def _pq_golden(train_mat, out_name):
    """One IVFADC replay: train on the given sample, one-shot encode the
    full corpus (≡ any incremental union, by pq_encode's pinned
    batch-split invariance), ADC + rerank, write the golden parquet."""
    pq_centroids, pq_codebooks = pq_train(train_mat, 16, 2, M_SUB, KSUB, 2)
    pq_cnorm = pq_centroids / np.linalg.norm(pq_centroids, axis=1, keepdims=True)
    pq_cells, pq_codes = pq_encode(mat_all, pq_cnorm, pq_codebooks)
    pq_members: dict[int, list[int]] = {}
    for i, c in enumerate(pq_cells):
        pq_members.setdefault(int(c), []).append(i)
    qc, qd, ql = pq_query_tables(
        mat_all[q_rows_idx], pq_cnorm, pq_codebooks, NPROBE_PQ
    )
    out_rows = []
    for row, qi in enumerate(q_rows_idx):
        qid = ids_sorted[qi]
        cands = []
        for pi in range(qc.shape[1]):
            cell_dot = float(qd[row, pi])
            for n_idx in pq_members.get(int(qc[row, pi]), []):
                nid = ids_sorted[n_idx]
                if nid == qid:
                    continue
                acc = 0.0  # Spark's left-fold/expression-chain order
                for m in range(M_SUB):
                    acc = acc + float(ql[row, m * KSUB + int(pq_codes[n_idx, m])])
                cands.append((nid, cell_dot + acc))
        cands.sort(key=lambda t: (-t[1], t[0]))  # adc desc, neighbor_id asc
        qv = vecs[qid]
        qn = _fold_norm(qv)
        scored = [(n, _fold_dot(qv, vecs[n]) / (qn * _fold_norm(vecs[n])))
                  for n, _ in cands[:RERANK_PQ]]
        scored.sort(key=lambda t: (-t[1], t[0]))
        for rank, (n, cos) in enumerate(scored[:5], start=1):
            out_rows.append((qid, n, rank, round(cos, 6)))
    pq.write_table(
        pa.table(
            {
                "query_id": pa.array([r[0] for r in out_rows], pa.int64()),
                "neighbor_id": pa.array([r[1] for r in out_rows], pa.int64()),
                "rank": pa.array([r[2] for r in out_rows], pa.int32()),
                "cosine": pa.array([r[3] for r in out_rows], pa.float64()),
            }
        ),
        os.path.join(OUT_DIR, f"{out_name}.parquet"),
    )
    return len(out_rows)


n_pq = _pq_golden(mat_all[:4096], "similarity_ivf_pq_topk")
# incremental lifecycle: quantizer trained on the FIRST increment only
# (vec_id < 250 = the 250 lowest sorted ids); the one-shot encode above
# the rerank equals the two-increment union by batch-split invariance
n_pqi = _pq_golden(mat_all[:250], "similarity_pq_incremental")
print(f"golden extra: {n_pq} ivf-pq-topk rows, {n_pqi} pq-incremental rows")

# ---------------------------------------------------------------------------
# Global lineage golden: (doc_count, span_count, checksum) where checksum =
# xor-fold of Spark-compatible XXH64 row hashes (kernel/xxh64.py — pinned
# against F.xxhash64 in tests/test_xxh64.py). Partition-layout-independent
# by construction, so the pure sequential fold equals any cluster run.
# ---------------------------------------------------------------------------
from openllm_ocr_annotator_spark.kernel import xxh64 as X  # noqa: E402

checksum = 0
for did, kind, text, ref, off in span_rows:
    checksum ^= X.xxhash64_row([did, kind, text, ref, ("int", off)]) & ((1 << 64) - 1)
checksum_signed = checksum - (1 << 64) if checksum >= (1 << 63) else checksum
pq.write_table(
    pa.table(
        {
            "doc_count": pa.array([len({r[0] for r in span_rows})], pa.int64()),
            "span_count": pa.array([len(span_rows)], pa.int64()),
            "checksum": pa.array([checksum_signed], pa.int64()),
        }
    ),
    os.path.join(OUT_DIR, "lineage_global.parquet"),
)
print(f"golden extra: lineage_global checksum {checksum_signed}")

# ---------------------------------------------------------------------------
# Model-based quality classifier golden (quality_classifier driver query):
# same bounded training sample rule + the shared kernel/classify.py
# functions, replayed sequentially. Weak labels are CCNet-style reference
# source membership (balanced 1:3 on this corpus).
# ---------------------------------------------------------------------------
from openllm_ocr_annotator_spark.kernel import classify as CLF  # noqa: E402

# CCNet-style weak labels: positives = the reference source set
# (src0..src4), negatives = the rest — 50/200 positive on this corpus.
REF_SOURCES = {"src0", "src1", "src2", "src3", "src4"}
flat_src = pq.read_table(
    f"{SF_DIR}/documents.parquet", columns=["doc_id", "text", "source"]
).to_pandas().sort_values("doc_id")
sample_rows = list(zip(flat_src["doc_id"], flat_src["text"]))[:200]
labels = [1 if s in REF_SOURCES else 0 for s in flat_src.head(200)["source"]]
w_clf, b_clf = CLF.train_logreg(
    [str(t) for _, t in sample_rows], labels, n_features=1 << 18, steps=200
)
clf_rows = [
    (int(d), round(CLF.score_text(str(t), w_clf, b_clf), 6))
    for d, t in zip(flat_all["doc_id"], flat_all["text"])
]
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([r[0] for r in clf_rows], pa.int64()),
            "model_quality": pa.array([r[1] for r in clf_rows], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "quality_classifier.parquet"),
)
n_pos = sum(labels)
print(f"golden extra: {len(clf_rows)} classifier scores ({n_pos}/200 positive labels)")

# ---------------------------------------------------------------------------
# Perplexity-filter golden (perplexity_filter driver query): bigram
# stupid-backoff LM trained on the reference-source slice of the first 200
# docs (kernel/lm.py, shared verbatim), every doc scored sequentially.
# ---------------------------------------------------------------------------
from openllm_ocr_annotator_spark.kernel import lm as LM  # noqa: E402

ref_texts = [
    str(t)
    for _, t, s in zip(
        flat_src["doc_id"], flat_src["text"], flat_src["source"]
    )
    if s in REF_SOURCES
][:200]
lm_model = LM.train_bigram_lm(ref_texts)
lm5_model = LM.train_ngram_lm(ref_texts, order=5)
ppl_rows = [
    ("bigram", int(d), round(LM.perplexity(str(t), lm_model), 6))
    for d, t in zip(flat_src["doc_id"], flat_src["text"])
] + [
    ("5gram", int(d), round(LM.ngram_perplexity(str(t), lm5_model), 6))
    for d, t in zip(flat_src["doc_id"], flat_src["text"])
]
pq.write_table(
    pa.table(
        {
            "model": pa.array([r[0] for r in ppl_rows], pa.string()),
            "doc_id": pa.array([r[1] for r in ppl_rows], pa.int64()),
            "perplexity": pa.array([r[2] for r in ppl_rows], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "perplexity.parquet"),
)
import statistics  # noqa: E402

vals = [r[2] for r in ppl_rows if r[0] == "bigram"]
print(
    f"golden extra: {len(ppl_rows)} perplexities "
    f"(min {min(vals):.1f} median {statistics.median(vals):.1f} max {max(vals):.1f})"
)

# ---------------------------------------------------------------------------
# Perceptual media-dedup golden (media_phash_dedup driver query): replay
# synth.media_variant_rows (base image payloads + planted cross-container
# re-encodes + retouched near-dups), decode pixels and dHash each payload
# with the shared kernels, then compute exact buckets, EXHAUSTIVE all-pairs
# Hamming near counts (1..3) and canonical-copy survivorship sequentially.
# The Spark plan's 4-band pigeonhole bucketing has perfect recall for
# Hamming <= 3, so this exhaustive answer is exactly what the bucketed
# engine must produce.
# ---------------------------------------------------------------------------
import itertools  # noqa: E402
from collections import Counter  # noqa: E402

from openllm_ocr_annotator_spark.kernel import imagecodec as IC  # noqa: E402
from openllm_ocr_annotator_spark.kernel import phash as PH  # noqa: E402
from openllm_ocr_annotator_spark.synth import media_variant_rows  # noqa: E402

ph_rows = []  # (doc_id, media_ref, unsigned hash)
for d, s in zip(flat_src["doc_id"], flat_src["source"]):
    d = int(d)
    if d % 3 == 0:
        continue  # videos carry no perceptual-hash contract (GIF/LZW)
    for doc_id, ref, _kind, payload in media_variant_rows(d, str(s)):
        w, h, gray = IC.decode_gray(payload)
        ph_rows.append((doc_id, ref, PH.dhash64(w, h, gray)))

ph_buckets = Counter(h for _, _, h in ph_rows)
ph_keeper: dict[int, str] = {}
for _, ref, h in ph_rows:
    ph_keeper[h] = min(ph_keeper.get(h, ref), ref)
ph_near: Counter = Counter()
for (ra, ha), (rb, hb) in itertools.combinations(
    [(r, h) for _, r, h in ph_rows], 2
):
    if 1 <= K.hamming64(ha, hb) <= 3:
        ph_near[ra] += 1
        ph_near[rb] += 1
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([r[0] for r in ph_rows], pa.string()),
            "media_ref": pa.array([r[1] for r in ph_rows], pa.string()),
            "phash": pa.array(
                [PH.to_signed64(r[2]) for r in ph_rows], pa.int64()
            ),
            "n_exact": pa.array(
                [ph_buckets[r[2]] - 1 for r in ph_rows], pa.int64()
            ),
            "n_near": pa.array(
                [ph_near.get(r[1], 0) for r in ph_rows], pa.int64()
            ),
            "keep": pa.array(
                [ph_keeper[r[2]] == r[1] for r in ph_rows], pa.bool_()
            ),
        }
    ),
    os.path.join(OUT_DIR, "media_phash_dedup.parquet"),
)
print(
    f"golden extra: {len(ph_rows)} phash rows "
    f"({sum(1 for r in ph_rows if ph_buckets[r[2]] > 1)} with exact dups, "
    f"{len(ph_near)} with near dups)"
)

# ---------------------------------------------------------------------------
# SemDeDup golden (semantic_dedup driver query): corpus = embeddings
# vec_id < 500 plus planted scaled copies (×1.001 for vec_id < 50 at
# +1_000_000, ×1.003 for vec_id < 20 at +2_000_000 — cosine to the original
# is 1.0 up to rounding, so the size-3 components exercise the transitive
# closure). Replays the SAME lloyd_centroids/assign_cells numpy functions
# the operator uses (centroid_sim is a per-row own-buffer sum — bit-equal
# at any Arrow batch height), pair cosines as the Spark left-fold, then a
# pure-Python union-find + farthest-from-centroid survivorship.
# ---------------------------------------------------------------------------
sem_vecs: dict[int, list[float]] = {v: vecs[v] for v in vecs if v < 500}
for v in sorted(vecs):
    if v < 50:
        sem_vecs[v + 1_000_000] = [x * 1.001 for x in vecs[v]]
    if v < 20:
        sem_vecs[v + 2_000_000] = [x * 1.003 for x in vecs[v]]
sem_ids = sorted(sem_vecs)
sem_mat = np.stack([np.asarray(sem_vecs[v], dtype=np.float64) for v in sem_ids])
sem_centroids = lloyd_centroids(sem_mat[:4096], 16, 2)
sem_cn = sem_centroids / np.linalg.norm(sem_centroids, axis=1, keepdims=True)
sem_cells_arr, sem_sims_arr = assign_cells(sem_mat, sem_cn, 1, with_sim=True)
sem_cell = {v: int(c) for v, c in zip(sem_ids, sem_cells_arr[:, 0])}
sem_sim = {v: float(s) for v, s in zip(sem_ids, sem_sims_arr)}

_parent = {v: v for v in sem_ids}


def _find(x: int) -> int:
    while _parent[x] != x:
        _parent[x] = _parent[_parent[x]]
        x = _parent[x]
    return x


sem_norm = {v: _fold_norm(sem_vecs[v]) for v in sem_ids}
_members: dict[int, list[int]] = {}
for v in sem_ids:
    _members.setdefault(sem_cell[v], []).append(v)
SEM_EPS = 0.9
n_sem_pairs = 0
for cell_ids in _members.values():
    for i in range(len(cell_ids)):
        for j in range(i + 1, len(cell_ids)):
            a_, b_ = cell_ids[i], cell_ids[j]
            cos = _fold_dot(sem_vecs[a_], sem_vecs[b_]) / (sem_norm[a_] * sem_norm[b_])
            if cos >= SEM_EPS:
                n_sem_pairs += 1
                ra, rb = _find(a_), _find(b_)
                if ra != rb:
                    _parent[max(ra, rb)] = min(ra, rb)

_comp: dict[int, list[int]] = {}
for v in sem_ids:
    _comp.setdefault(_find(v), []).append(v)
sem_rows = []
for mem in _comp.values():
    cluster_id = min(mem)
    # survivors(keep_by=neg_sim): max(struct(-sim, -id)) = min (sim, id)
    keeper = min(mem, key=lambda m: (sem_sim[m], m))
    for m in mem:
        sem_rows.append((m, sem_cell[m], round(sem_sim[m], 6), cluster_id, m == keeper))
sem_rows.sort()
pq.write_table(
    pa.table(
        {
            "vec_id": pa.array([r[0] for r in sem_rows], pa.int64()),
            "cell": pa.array([r[1] for r in sem_rows], pa.int64()),
            "centroid_sim": pa.array([r[2] for r in sem_rows], pa.float64()),
            "cluster_id": pa.array([r[3] for r in sem_rows], pa.int64()),
            "keep": pa.array([r[4] for r in sem_rows], pa.bool_()),
        }
    ),
    os.path.join(OUT_DIR, "semantic_dedup.parquet"),
)
print(
    f"golden extra: {len(sem_rows)} semantic-dedup rows, "
    f"{n_sem_pairs} pairs, {sum(1 for r in sem_rows if r[4])} keepers, "
    f"{len(_comp)} components"
)

# ---------------------------------------------------------------------------
# DSIR golden (dsir_select driver query): target = src0-src4, raw = whole
# pool, k=100, seed 42. Sequential replay of the SAME kernel/dsir.py
# functions — integer-count distribution training, per-doc sparse fold,
# hash-keyed Gumbel noise — so every float is bit-equal to the Spark pass.
# ---------------------------------------------------------------------------
from openllm_ocr_annotator_spark.kernel import dsir as DS  # noqa: E402

_dsir_tbl = pq.read_table(
    f"{SF_DIR}/documents.parquet",
    columns=["doc_id", "text", "lang", "source", "n_chars"],
).to_pandas()
_dsir_rows = sorted(
    _dsir_tbl.itertuples(index=False), key=lambda r: int(r.doc_id)
)
_target_texts = [str(r.text) for r in _dsir_rows
                 if r.source in {"src0", "src1", "src2", "src3", "src4"}][:500]
_raw_texts = [str(r.text) for r in _dsir_rows][:500]
_diff = DS.train_ngram_dist(_target_texts) - DS.train_ngram_dist(_raw_texts)
_scored = []
for r in _dsir_rows:
    lw = DS.log_importance(str(r.text), _diff)
    key = lw + DS.gumbel_key(str(int(r.doc_id)), 42)
    _scored.append((key, int(r.doc_id), r.lang, r.source, int(r.n_chars), lw))
_scored.sort(key=lambda t: (-t[0], t[1]))
_sel = _scored[:100]
pq.write_table(
    pa.table(
        {
            "doc_id": pa.array([t[1] for t in _sel], pa.int64()),
            "lang": pa.array([t[2] for t in _sel], pa.string()),
            "source": pa.array([t[3] for t in _sel], pa.string()),
            "n_chars": pa.array([t[4] for t in _sel], pa.int64()),
            "log_w": pa.array([round(t[5], 6) for t in _sel], pa.float64()),
            "sel_key": pa.array([round(t[0], 6) for t in _sel], pa.float64()),
        }
    ),
    os.path.join(OUT_DIR, "dsir_select.parquet"),
)
_by_src = {}
for t in _sel:
    _by_src[t[3]] = _by_src.get(t[3], 0) + 1
_curated = sum(v for s, v in _by_src.items()
               if s in {"src0", "src1", "src2", "src3", "src4"})
print(
    f"golden extra: 100 dsir-selected of {len(_scored)} docs "
    f"({_curated} from the 125-doc curated target slice)"
)
