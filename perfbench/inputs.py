"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so the
same seed gives byte-identical inputs. The seed varies content (which words,
which doc ids, which values the annotation legs give); the properties each
workload's cost depends on (mega-doc share, the annotation format mix,
near-dup group size) are fixed per workload, so two seeds do the same
amount of work and differ only in what the work is done on.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from openllm_ocr_annotator_spark.synth import EMPTY_MOD, MEGA_MOD
from scripts.scale_smoke import VIRAL_TEXT, chunk_lines


def vocabulary(rng: random.Random, size: int = 3000) -> list[str]:
    """Distinct lowercase pseudo-words of 2-4 syllables."""
    syl = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(syl) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def base_texts(rng: random.Random, n: int, lo: int, hi: int) -> list[str]:
    vocab = vocabulary(rng)
    return [" ".join(rng.choices(vocab, k=rng.randint(lo, hi))) for _ in range(n)]


def write_parquet(path: str, columns: dict[str, pa.Array], parts: int = 1) -> None:
    """One parquet file, or with ``parts > 1`` a directory of that many
    files of contiguous rows, so that Spark's scan splits into ``parts``
    tasks (it does not split a file this small)."""
    table = pa.table(columns)
    if parts == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


# -- extraction (extract_batch) ----------------------------------------------


def is_empty_doc(doc_id: int) -> bool:
    return doc_id % EMPTY_MOD == 7


def span_doc_ids(rng: random.Random, n: int, mega_share: float) -> list[int]:
    """``n`` distinct doc ids of which exactly ``round(n * mega_share)`` fall
    in the synth rules' mega-doc class (``id % MEGA_MOD == 13``) and are not
    empty (the empty rule wins over the mega rule). Empty-span and
    duplicate-offset docs keep their synth-rule rates: both are keyed on
    the id too."""
    n_mega = round(n * mega_share)
    span = MEGA_MOD * n
    mega_class = [i for i in range(13, span, MEGA_MOD) if not is_empty_doc(i)]
    mega = rng.sample(mega_class, n_mega)
    rest: set[int] = set()
    while len(rest) < n - n_mega:
        i = rng.randrange(span)
        if i % MEGA_MOD != 13:
            rest.add(i)
    return sorted(mega + sorted(rest))


def write_flat_documents(path: str, seed: int, n: int, mega_share: float) -> list[int]:
    """The flat ``documents.parquet`` (doc_id, text) that
    ``synth.synthesize_documents`` expands into the span table. Returns the
    doc ids in ascending order."""
    rng = random.Random(seed)
    ids = span_doc_ids(rng, n, mega_share)
    texts = base_texts(rng, n, 20, 120)
    write_parquet(
        path, {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    return ids


# -- annotation legs (annotate_vote) -----------------------------------------

FIELDS = ("status", "amount", "currency", "vendor")
# dyadic weights and confidences: every weighted sum is exact in binary
# floating point, so the Spark vote and the pure-Python restatement agree on
# every tie regardless of summation order
ANNOTATORS = (("gpt_a", 1.0), ("qwen_b", 2.0), ("gemini_c", 1.5))
CONFIDENCES = (0.5, 0.625, 0.75, 0.875, 1.0)
RESULT_SCHEMA = (
    "struct<result struct<fields array<struct<"
    "field_name string, value string, confidence double>>>>"
)


@dataclass
class AnnotationSet:
    """Generated legs plus the facts the pure-Python oracle needs."""

    gt: dict[tuple[str, str], str] = field(default_factory=dict)
    # (doc_id, annotator) -> list of (field_name, value, confidence), or None
    # when the leg's text holds no decodable JSON object
    legs: dict[tuple[str, str], list | None] = field(default_factory=dict)


def _gt_value(rng: random.Random, fname: str, vocab: list[str]) -> str:
    if fname == "status":
        return rng.choice(("open", "filled", "pending", "void"))
    if fname == "amount":
        return str(rng.randint(10, 99999))
    if fname == "currency":
        return rng.choice(("USD", "EUR", "CNY", "JPY", "GBP"))
    return rng.choice(vocab)


def write_annotations(
    legs_path: str,
    gt_path: str,
    seed: int,
    n_docs: int,
    parts: int,
    disagree_rate: float = 1 / 3,
) -> AnnotationSet:
    """Raw LLM-style answers per (doc, annotator, sample 0) and the ground
    truth, in the mix of the catalog's ``annotation_pipeline`` query: leg
    ``j`` of doc ``d`` answers in format ``(d + j) % 3`` -- a fenced
    ```json block after reasoning prose, plain JSON, or text the fenced and
    whole-text probes both reject, so a third of the legs take the chain's
    pandas-UDF fallback -- and every 4th doc's legs carry one extra
    empty-valued (falsy) field, which never votes. Within the fallback
    third, even docs get the catalog's refusal text (no JSON object: the
    leg parses to NULL) and odd docs the payload buried in prose (the scan
    finds it); that even split is assumed, as is ``disagree_rate``, the
    chance that a leg's field value differs from the ground truth (the
    catalog has one leg disagree on one doc in three)."""
    rng = random.Random(seed)
    vocab = vocabulary(rng, 400)
    out = AnnotationSet()
    doc_ids, ann_ids, texts = [], [], []
    for d in range(n_docs):
        did = f"inv_{d:07d}"
        for f in FIELDS:
            out.gt[(did, f)] = _gt_value(rng, f, vocab)
        for j, (ann, _w) in enumerate(ANNOTATORS):
            fields = []
            for f in FIELDS:
                v = out.gt[(did, f)]
                if rng.random() < disagree_rate:
                    v = _gt_value(rng, f, vocab)
                fields.append((f, v, rng.choice(CONFIDENCES)))
            if d % 4 == 0:
                fields.append(("empty_f", "", 0.5))
            payload = json.dumps(
                {"result": {"fields": [
                    {"field_name": f, "value": v, "confidence": c} for f, v, c in fields
                ]}}
            )
            out.legs[(did, ann)] = fields
            mode = (d + j) % 3
            if mode == 0:
                text = f"<think>reading the invoice</think>\n```json\n{payload}\n```"
            elif mode == 1:
                text = payload
            elif d % 2 == 0:
                text = "the model refused to answer in json"
                out.legs[(did, ann)] = None
            else:
                text = f"Here is what I found on the page: {payload} Let me know if you need more."
            doc_ids.append(did)
            ann_ids.append(ann)
            texts.append(text)
    n = len(doc_ids)
    write_parquet(legs_path, {
        "doc_id": pa.array(doc_ids, pa.string()),
        "annotator_id": pa.array(ann_ids, pa.string()),
        "sample_id": pa.array([0] * n, pa.int32()),
        "raw_text": pa.array(texts, pa.string()),
    }, parts)
    keys = sorted(out.gt)
    write_parquet(gt_path, {
        "doc_id": pa.array([k[0] for k in keys], pa.string()),
        "field_name": pa.array([k[1] for k in keys], pa.string()),
        "value": pa.array([out.gt[k] for k in keys], pa.string()),
    }, parts)
    return out


def vote_oracle(ann: AnnotationSet) -> dict[tuple[str, str], tuple[str, float]]:
    """Pure-Python weighted vote: falsy values skipped, score = weight x
    confidence summed per value, winner by (score desc, value asc),
    confidence = winner score / total score."""
    weights = dict(ANNOTATORS)
    scores: dict[tuple[str, str], dict[str, float]] = {}
    for (did, ann_id), fields in ann.legs.items():
        for fname, value, conf in fields or ():
            if value:
                per = scores.setdefault((did, fname), {})
                per[value] = per.get(value, 0.0) + weights[ann_id] * conf
    voted = {}
    for key, per in scores.items():
        value, score = min(per.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(per.values())
        voted[key] = (value, score / total if total > 0 else 0.0)
    return voted


def accuracy_oracle(
    ann: AnnotationSet, voted: dict[tuple[str, str], tuple[str, float]]
) -> dict[str, tuple[int, int]]:
    """field_name -> (n_correct, n_total); a missing vote is incorrect."""
    acc: dict[str, list[int]] = {}
    for key, gt_value in ann.gt.items():
        row = acc.setdefault(key[1], [0, 0])
        row[0] += int(key in voted and voted[key][0] == gt_value)
        row[1] += 1
    return {f: (c, t) for f, (c, t) in acc.items()}


# -- near-dup corpus (dedup_near) --------------------------------------------

VIRAL_MOD = 101
EXACT_PER_GROUP = 3


def near_dup_corpus(
    seed: int, n_base: int, replicate: int, group_size: int
) -> tuple[list[int], list[str]]:
    """``scale_smoke.amplified_path``'s corpus in plain Python (that one
    reads an sf0.1 table; this one makes its base docs from the seed), with
    its boilerplate text, line chunking and literals: base doc ``b`` spawns
    ``replicate`` docs ``b * replicate + k`` in groups of ``group_size``
    (``k // group_size``). Each group rewrites every 5th word (a
    group-dependent phase) with a group token, so groups of one base doc
    sit near est-Jaccard 0.4; members ``0..2`` of a group are exact copies
    and the rest append one member token (near-dups above 0.7). Base docs
    with ``b % VIRAL_MOD == 0`` all carry one shared boilerplate text: one
    planted viral cluster. Text is re-chunked into 10-word lines."""
    rng = random.Random(seed)
    texts = base_texts(rng, n_base, 14, 60)
    viral = VIRAL_TEXT.strip()
    ids, out = [], []
    for b, text in enumerate(texts):
        words = text.split()
        for k in range(replicate):
            g = k // group_size
            if b % VIRAL_MOD == 0:
                body = viral
            else:
                mutated = [
                    f"v{g}w{i}" if (i + g) % 5 == 0 else w for i, w in enumerate(words)
                ]
                if k % group_size >= EXACT_PER_GROUP:
                    mutated.append(f"tail{k}")
                body = " ".join(mutated)
            ids.append(b * replicate + k)
            out.append(chunk_lines(body))
    return ids, out


def planted_group(doc_id: int, replicate: int, group_size: int) -> tuple[int, int]:
    """The planted cluster a doc belongs to: (base, group), with every
    viral base doc mapped to the single group (-1, -1)."""
    b, k = divmod(doc_id, replicate)
    if b % VIRAL_MOD == 0:
        return (-1, -1)
    return (b, k // group_size)


def write_near_dups(
    path: str, seed: int, n_base: int, replicate: int, group_size: int, parts: int
) -> list[int]:
    ids, texts = near_dup_corpus(seed, n_base, replicate, group_size)
    write_parquet(
        path, {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}, parts
    )
    return ids
