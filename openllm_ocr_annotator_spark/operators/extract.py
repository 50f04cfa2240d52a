"""The flagship operator: vectorized span extraction (U1 replacement).

Replaces the reference's per-image LLM ``annotate`` loop
(reference: src/openllm_ocr_annotator/pipeline/curator_processor.py:138-168,
annotators/base.py:73-75) with one ``mapInArrow`` kernel: per Arrow batch,
loop documents, run the pure-Python DOM/layout kernel, emit ordered
``(doc_id, kind, text, media_ref, offset)`` rows.

Scale design (the part that matters at 100 TB):
- the kernel is embarrassingly parallel per document → NO shuffle is needed
  for extraction itself; partitioning comes straight from the parquet/Iceberg
  scan splits;
- heavy-tail mega-docs are the skew hazard: ``extract_pipeline`` can
  hash-repartition on doc_id BEFORE the CPU-heavy kernel, which spreads
  documents uniformly and independently of the scan's file layout, so one
  scan split full of mega-docs can't straggle (at cluster scale use ~2-3×
  total cores as ``num_partitions``); a single mega-doc stays one task's
  work; ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch
  memory (one doc is the floor unit — documented limit);
- lineage: every output row carries the executing partition id;
  ``lineage_metrics`` aggregates (doc_count, span_count, checksum) per
  partition JVM-side (xxhash64 + bit_xor — order-insensitive), giving the
  per-partition audit trail the reference lacks (its acknowledged gap:
  /root/reference/docs/architecture.md:259).
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.merge import extract_span

EXTRACTED_SCHEMA = "doc_id string, kind string, text string, media_ref string, offset int"


def extract_spans(
    docs: DataFrame, params: dict | None = None, on_error: str = "fail"
) -> DataFrame:
    """documents(doc_id, spans) → ordered extracted spans (exploded rows).

    Narrow (no shuffle): one ``mapInArrow`` stage over the scan partitioning.

    ``on_error="skip"`` replicates the reference's per-image log-and-continue
    (run_annotation.py:119-121): a document whose extraction raises is
    dropped (its partial output discarded, a warning logged to the executor
    stderr) instead of failing the task — at 10^12 docs one poison document
    must not kill a stage. Done-ness bookkeeping is unaffected: the snapshot
    layer's ``keys=`` commit marks inputs processed independently of output
    rows, so skipped docs are not retried forever. Default "fail" preserves
    fail-fast semantics for pipelines that prefer loud errors. Anything
    else raises at plan-build time — a typo'd 'ignore'/'SKIP' silently
    meaning fail-fast would defeat the knob's purpose.

    Arrow, not pandas, on purpose: converting ``array<struct>`` through
    pandas materializes one Python dict per span (measured ~2× slower and
    far more allocation traffic). Here the list offsets + flat child arrays
    come straight out of the RecordBatch; the only Python objects built are
    the strings the kernel actually reads. Semantics are identical to
    ``kernel.merge.extract_document`` (the pytest oracle): spans sorted by
    the pinned (offset, kind, media_ref, text) order, expanded, then ranked
    0..n-1 per document.
    """
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            spans = batch.column(1)
            list_off = spans.offsets.to_numpy(zero_copy_only=False)
            vals = spans.values
            kinds = vals.field(0).to_pylist()
            texts = vals.field(1).to_pylist()
            refs = vals.field(2).to_pylist()
            offs = vals.field(3).to_pylist()
            o_doc: list[str] = []
            o_kind: list[str] = []
            o_text: list[str] = []
            o_ref: list[str] = []
            o_off: list[int] = []
            for i, did in enumerate(doc_ids):
                lo, hi = int(list_off[i]), int(list_off[i + 1])
                order = sorted(
                    range(lo, hi),
                    key=lambda j: (
                        offs[j] or 0,
                        kinds[j] or "",
                        refs[j] or "",
                        texts[j] or "",
                    ),
                )
                mark = len(o_doc)  # rollback point for poison-doc isolation
                try:
                    rank = 0
                    for j in order:
                        for kind, text, ref in extract_span(
                            kinds[j] or "", texts[j] or "", refs[j] or "", params
                        ):
                            o_doc.append(did)
                            o_kind.append(kind)
                            o_text.append(text)
                            o_ref.append(ref)
                            o_off.append(rank)
                            rank += 1
                except Exception as exc:
                    if on_error != "skip":
                        raise
                    del o_doc[mark:], o_kind[mark:], o_text[mark:]
                    del o_ref[mark:], o_off[mark:]
                    print(
                        f"extract_spans: skipping doc {did!r}: {exc!r}",
                        file=sys.stderr,
                    )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_doc, pa.string()),
                    pa.array(o_kind, pa.string()),
                    pa.array(o_text, pa.string()),
                    pa.array(o_ref, pa.string()),
                    pa.array(o_off, pa.int32()),
                ],
                names=["doc_id", "kind", "text", "media_ref", "offset"],
            )

    return docs.select("doc_id", "spans").mapInArrow(kernel, schema=EXTRACTED_SCHEMA)


def extract_spans_wide(docs: DataFrame) -> DataFrame:
    """Span-level parallel variant: removes the one-doc-per-task floor.

    ``extract_spans`` processes a document's spans serially inside one task
    — fine until a single mega-doc dominates a partition's wall-clock. This
    variant explodes spans to rows first, runs the SAME per-span kernel on
    whatever partition each span lands on, then rebuilds the exact sequence
    with two windows:

        posexplode(spans)
        → span_rank = row_number over (doc_id ORDER BY offset, kind,
                                       media_ref, text, pos)
        → repartition → mapInArrow(extract_span per row)
        → offset = row_number over (doc_id ORDER BY span_rank, item_idx) − 1

    The sort key replays the sequential kernel's pinned total order:
    ``(offset, kind, media_ref, text)`` with the original array position
    (``pos``) as the stable tie-break (Python ``sorted`` stability) and
    ``item_idx`` preserving within-span expansion order — output is
    row-for-row identical to ``extract_spans`` (pinned by
    tests/test_extract_e2e.py).

    Cost: one shuffle of the expanded items (≈ output size). Use it when
    the heavy tail is extreme (single docs that would straggle a stage);
    the narrow path stays the default.

    Residual floor (documented limit): the final renumber window
    re-collects each doc's OUTPUT items onto one task for the int-keyed
    sort — the kernel work (the dominant cost, measured 2.1× at 50% skew
    in scripts/skew_bench.py) is spread, but a giga-doc's output still
    single-threads through that sort.
    """

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids = batch.column(0).to_pylist()
            ranks = batch.column(1).to_pylist()
            kinds = batch.column(2).to_pylist()
            texts = batch.column(3).to_pylist()
            refs = batch.column(4).to_pylist()
            out: dict[str, list] = {
                "doc_id": [], "span_rank": [], "item_idx": [],
                "kind": [], "text": [], "media_ref": [],
            }
            for i, did in enumerate(doc_ids):
                for idx, (kind, text, ref) in enumerate(
                    extract_span(kinds[i] or "", texts[i] or "", refs[i] or "")
                ):
                    out["doc_id"].append(did)
                    out["span_rank"].append(ranks[i])
                    out["item_idx"].append(idx)
                    out["kind"].append(kind)
                    out["text"].append(text)
                    out["media_ref"].append(ref)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["doc_id"], pa.string()),
                    pa.array(out["span_rank"], pa.int32()),
                    pa.array(out["item_idx"], pa.int32()),
                    pa.array(out["kind"], pa.string()),
                    pa.array(out["text"], pa.string()),
                    pa.array(out["media_ref"], pa.string()),
                ],
                names=list(out.keys()),
            )

    from pyspark.sql import Window

    exploded = docs.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    # Rank INPUT spans first (few, pre-expansion): the expensive string-keyed
    # sort runs over input spans only; the post-kernel window then orders by
    # two ints — the expanded item stream (which can be 100× larger and
    # carries the extracted text payloads) never sorts by strings.
    # Keys are null-coalesced to mirror the narrow kernel's coercion
    # (`offs[j] or 0`, `kinds[j] or ""`, …): without this, Spark's NULLS
    # FIRST would sort a NULL-offset span before an offset-0 sibling while
    # the kernel ties them — breaking row-for-row equivalence.
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.coalesce(F.col("offset"), F.lit(0)),
        F.coalesce(F.col("kind"), F.lit("")),
        F.coalesce(F.col("media_ref"), F.lit("")),
        F.coalesce(F.col("text"), F.lit("")),
        "pos",
    )
    ranked = exploded.select(
        "doc_id",
        F.row_number().over(rank_w).cast("int").alias("span_rank"),
        "kind", "text", "media_ref",
    )
    # the rank window co-located each doc on one partition — round-robin the
    # ranked spans back out so the giga-doc's spans actually spread across
    # cores (the whole point of the wide path)
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranked = ranked.repartition(n_part)
    items = ranked.mapInArrow(
        kernel,
        schema=(
            "doc_id string, span_rank int, item_idx int, "
            "kind string, text string, media_ref string"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("span_rank", "item_idx")
    return items.select(
        "doc_id", "kind", "text", "media_ref",
        (F.row_number().over(w) - 1).cast("int").alias("offset"),
    )


def extract_pipeline(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """doc_id hash-repartition → extract → tag partition lineage (``part_id``)."""
    if num_partitions:
        docs = docs.repartition(num_partitions, "doc_id")
    return extract_spans(docs).withColumn("part_id", F.spark_partition_id())


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Per-partition lineage rows: (partition_id, doc_count, span_count, checksum).

    Checksum = bit_xor of xxhash64 over the full output row — order- and
    partition-layout-insensitive, so two runs with different parallelism
    produce identical per-doc checksums when re-aggregated globally.
    """
    src = extracted
    if "part_id" not in src.columns:
        src = src.withColumn("part_id", F.spark_partition_id())
    row_hash = F.xxhash64("doc_id", "kind", "text", "media_ref", "offset")
    return src.groupBy(F.col("part_id").alias("partition_id")).agg(
        F.countDistinct("doc_id").alias("doc_count"),
        F.count(F.lit(1)).alias("span_count"),
        F.bit_xor(row_hash).alias("checksum"),
    )


def lineage_global(extracted: DataFrame) -> DataFrame:
    """Partition-layout-INDEPENDENT lineage rollup: one row of
    (doc_count, span_count, checksum) for the whole output.

    The per-partition rows (``lineage_metrics``) depend on the physical
    layout by design (that is what they audit); the xor-fold checksum is
    associative + commutative, so the global rollup is identical for ANY
    partitioning and parallelism — the invariant two runs compare to decide
    "same output". The checksum is reproducible outside Spark via the
    pure-Python Spark-compatible XXH64 (kernel/xxh64.py), which is what
    lets the driver value-check it against a golden.
    """
    row_hash = F.xxhash64("doc_id", "kind", "text", "media_ref", "offset")
    return extracted.agg(
        F.countDistinct("doc_id").alias("doc_count"),
        F.count(F.lit(1)).alias("span_count"),
        F.bit_xor(row_hash).alias("checksum"),
    )


def ensemble_extract(
    docs: DataFrame,
    legs: list[tuple[str, float, dict | None]],
    caches: list | None = None,
) -> DataFrame:
    """SURVEY §7.0 ensemble line: N extractor VARIANTS vote per document.

    Each leg = (name, weight, kernel_params) runs the extraction kernel with
    its own boilerplate thresholds. Per document, the legs weighted-vote on
    the full span-sequence digest (xxhash64 fold over ordered rows — the
    analog of the reference's per-field vote, lifted to whole sequences
    since our extraction atom is the ordered sequence, not a key/value
    field). The winning digest's spans are emitted; ties break
    (weight DESC, digest ASC) deterministically. Output adds
    ``consensus_weight`` ∈ (0,1]: winning weight / total weight.

    Plan: legs are a tagged union of narrow kernel passes; the vote is two
    hash-aggs + one window — no per-leg driver round-trips. The union is
    persisted (memory-and-disk) because it is consumed twice — by the digest
    aggregation and by the winner join; without it each leg's kernel (the
    most expensive stage in the engine) would run 2×. The cache lives until
    Spark LRU-evicts it; long-lived drivers pass ``caches=[]`` to receive
    the persisted union and unpersist it once the result is consumed (a
    caller-owned list survives further transformations of the returned
    frame, unlike a DataFrame attribute).
    """
    from pyspark import StorageLevel

    tagged = None
    weights = {name: w for name, w, _ in legs}
    for name, _w, params in legs:
        leg_df = extract_spans(docs, params).withColumn("leg", F.lit(name))
        tagged = leg_df if tagged is None else tagged.unionByName(leg_df)
    tagged = tagged.persist(StorageLevel.MEMORY_AND_DISK)

    row_hash = F.xxhash64("kind", "text", "media_ref", "offset")
    digests = tagged.groupBy("doc_id", "leg").agg(
        # order-insensitive fold is fine: offset is part of every row hash,
        # so two different orderings cannot collide except by hash collision
        F.bit_xor(row_hash).alias("digest"),
    )
    w_expr = F.create_map(
        *[x for name, w in weights.items() for x in (F.lit(name), F.lit(w))]
    )
    scored = (
        digests.withColumn("w", w_expr[F.col("leg")])
        .groupBy("doc_id", "digest")
        .agg(F.sum("w").alias("score"), F.min("leg").alias("rep_leg"))
    )
    from pyspark.sql import Window

    field_w = Window.partitionBy("doc_id")
    rank_w = field_w.orderBy(F.col("score").desc(), F.col("digest").asc())
    winners = (
        scored.withColumn("_total", F.sum("score").over(field_w))
        .withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            F.col("rep_leg").alias("leg"),
            (F.col("score") / F.col("_total")).alias("consensus_weight"),
        )
    )
    out = tagged.join(winners, ["doc_id", "leg"]).select(
        "doc_id", "kind", "text", "media_ref", "offset", "consensus_weight"
    )
    if caches is not None:
        caches.append(tagged)
    return out


def renest_spans(extracted: DataFrame) -> DataFrame:
    """Exploded rows → documents(doc_id, spans) with order restored.

    ``sort_array`` on (offset, …) rebuilds the sequence without a
    per-document sort shuffle beyond the groupBy itself.
    """
    span = F.struct("offset", "kind", "text", "media_ref")
    return (
        extracted.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(span)).alias("_s"))
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )
