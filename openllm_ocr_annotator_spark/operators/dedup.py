"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its "dedup" is only the file-existence cache,
pipeline/image_dataset.py:43-47) — added as first-class engine capability:

- exact_dedup:      hash-groupBy on content digest, keep canonical row.
- ngram_jaccard:    exact n-gram-set Jaccard over all pairs (oracle-able;
                    the quadratic self-join is the *verifier*, not the scale
                    path).
- minhash_lsh:      MinHash signatures (numpy kernel per Arrow batch) →
                    LSH banding (a JVM posexplode of xxhash64 over each
                    band's signature slice) → candidate pairs via
                    band-bucket self-join → signature-estimated Jaccard
                    filter. The scale path: cost is O(docs × bands) +
                    Σ bucket², never all-pairs.
- simhash_pairs:    64-bit SimHash + pigeonhole banding (k chunks; hamming
                    distance ≤ d pairs must share ≥1 of d+1 chunks).

Every LSH-style pair path — MinHash (full and incremental), SimHash,
pHash (``media.phash_dedup``) and embedding LSH
(``similarity.embedding_near_dups``) — builds its candidate pairs with
ONE primitive, ``_banded_candidates``: posting rows → capped bucket
self-join + hub star → distinct pairs. Each caller keeps only its verify
step (estimated Jaccard, exact Hamming, cosine).

Scale notes (100 TB):
- signatures are computed in one narrow column-UDF pass over the text
  column (no shuffle);
  banding is a JVM projection of those signatures, with no Python stage;
- the only shuffles are the band-bucket exchanges, keyed by (band_idx,
  band_hash) — uniformly distributed by construction; a pathological bucket
  (identical boilerplate across millions of docs) is bounded by
  ``max_bucket_size``: oversized buckets star-link through their min-id
  hub (O(n) rows, cluster stays connected) instead of being dropped, with
  per-bucket accounting via the ``stats`` hand-back
  (``_banded_candidates``);
- pair emission uses a < b on the member id to halve the join and dedups
  the join and star pairs with one distinct.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..kernel import bloom as B
from ..kernel import dedup as K
from ._common import column_udf, spread_partitions


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup: md5 digest groupBy; canonical = min doc_id per digest."""
    return (
        docs.select(F.col("doc_id"), F.md5(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def ngram_tokens(text_col, n: int = 3):
    """Distinct word n-grams as an array column (JVM-side, codegen).

    Empty tokens are dropped BEFORE gram construction: a raw split keeps
    '' for every extra space, so 'foo  bar baz' and 'foo bar baz' would
    share zero grams — decontamination would miss a benchmark passage over
    one doubled space. Same normalization as drift.token_counts and
    bm25_search."""
    words = F.filter(F.split(F.lower(text_col), " "), lambda w: w != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    # guard: Spark's sequence(1, x) runs DESCENDING for x < 1 — short docs
    # must yield an empty gram set, not junk grams.
    return F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8,
    max_df: int | None = None,
    caches: list | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard similar pairs (inverted-index join, not cross).

    Inverted index on shingles → equi-join on the gram → count common grams
    per pair → |A∩B| / (|A|+|B|−|A∩B|). Only pairs sharing ≥1 gram are ever
    materialized.

    ``max_df``: drop shingles occurring in more than max_df documents before
    anything else (Jaccard over *discriminative* grams). Without it, a
    boilerplate gram shared by M docs contributes M² join rows — the
    classic inverted-index hot-key blowup; with it, the join fan-out is
    bounded by Σ min(df, max_df)². None = exact all-gram semantics (small
    corpora / verification).

    Physical shape: with ``max_df`` set (the scale path) shingles are hashed
    to int64 (``xxhash64``) right after the explode, so every downstream
    exchange/join moves 8-byte keys instead of multi-word strings; the df
    cap is a window count over the gram key (one exchange, partial-agg'd) —
    NOT a broadcast of the rare-gram set, which is most of the vocabulary
    and would melt the driver at scale. With ``max_df=None`` (verification
    mode) the join keys stay the gram STRINGS: hashed keys could collide
    (2⁻⁶⁴ per pair) and flip a borderline pair, which would silently break
    this mode's exact-all-gram contract (the role PLANS.md assigns it).
    The gram relation is persisted: it feeds three subtrees (sizes + both
    sides of the self-join) and recomputing the explode 3× was ~10% of
    suite wall-time. The cache lives until Spark LRU-evicts it (short-lived
    driver sessions — the common case — never notice); long-lived drivers
    pass ``caches=[]`` to receive the persisted gram relation and
    unpersist it once the result has been consumed (a caller-owned list
    survives further transformations of the returned frame, unlike a
    DataFrame attribute).
    """
    from pyspark import StorageLevel

    docs = spread_partitions(docs, "doc_id")
    grams = docs.select(
        "doc_id",
        F.explode(ngram_tokens(F.col("text"), 3)).alias("g"),
    ).filter(F.col("g") != "")
    if max_df is not None:
        grams = grams.select("doc_id", F.xxhash64("g").alias("gh"))
        w = Window.partitionBy("gh")
        grams = (
            grams.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    else:
        grams = grams.select("doc_id", F.col("g").alias("gh"))
    grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    if caches is not None:
        caches.append(grams)
    return out


def _banded_candidates(
    postings: DataFrame,
    bucket_keys: list[str],
    member: str,
    carry: list[str],
    max_bucket_size: int,
    stats: list | None = None,
    pair_pred=None,
    split: tuple = (),
) -> DataFrame:
    """The one banded-candidate primitive behind every LSH-style pair path
    (MinHash bands, SimHash/pHash chunks, embedding deletion keys): bucket
    the posting rows on ``bucket_keys``, self-join each bucket, star-link
    the buckets over ``max_bucket_size`` through their hub, and return the
    distinct pairs as flat columns ``a_<c>``/``b_<c>`` for ``c`` in
    ``(member, *carry)``, with ``a_<member> < b_<member>``. Callers verify
    the pairs; ``pair_pred`` (over those columns) drops join and star pairs
    alike before the distinct.

    A bucket over the cap contributes STAR pairs — its min-member hub with
    every other member — instead of the bucket² self-join: O(n) rows, and a
    viral cluster stays CONNECTED through the hub, so components still
    resolve; the price is pairwise completeness within the bucket. It is
    deterministic, so the pure-Python goldens replay it, and it bounds the
    hot key where the pairs are built (DS2, ICDE 2021). Bucket sizes are a
    map-side-combinable count, the small over-cap key set is joined onto
    the postings once as a flag, and the hub is ``min(struct(member,
    *carry))`` grouped over the flagged rows only — never a window sort
    over a 10⁷-member bucket.

    ``split`` narrows the star to members that agree on these columns: an
    over-cap bucket gets one hub per split value, and the hubs self-join
    like a bucket under the cap.

    ``stats``: pass ``[]`` to receive one row per oversized bucket with
    ``n_members``, ``pairs_materialized`` (star edges plus hub pairs: n−1
    without ``split``) and ``pairs_skipped`` (the rest of bucket²).
    """
    side = [member, *carry]
    sizes = postings.groupBy(*bucket_keys).agg(F.count(F.lit(1)).alias("_n"))
    over = sizes.filter(F.col("_n") > max_bucket_size)
    rows = postings.join(over, bucket_keys, "left")  # _n flags the star rows
    viral = rows.filter(F.col("_n").isNotNull())
    hubs = viral.groupBy(*bucket_keys, *split).agg(F.min(F.struct(*side)).alias("_hub"))
    star = (
        viral.join(hubs, [*bucket_keys, *split])
        .filter(F.col(member) != F.col(f"_hub.{member}"))
        .select(
            *[F.col(f"_hub.{c}").alias(f"a_{c}") for c in side],
            *[F.col(c).alias(f"b_{c}") for c in side],
        )
    )
    joined = rows.filter(F.col("_n").isNull()).select(*bucket_keys, *side)
    if split:  # an over-cap bucket self-joins its hubs, one per split value
        joined = joined.unionByName(
            hubs.select(*bucket_keys, *[F.col(f"_hub.{c}").alias(c) for c in side])
        )
    cand = (
        joined.select(*bucket_keys, *[F.col(c).alias(f"a_{c}") for c in side])
        .join(joined.select(*bucket_keys, *[F.col(c).alias(f"b_{c}") for c in side]), bucket_keys)
        .filter(F.col(f"a_{member}") < F.col(f"b_{member}"))
        .drop(*bucket_keys)
        .unionByName(star)
    )
    if pair_pred is not None:
        cand = cand.filter(pair_pred)
    if stats is not None:
        per_bucket = over.join(
            hubs.groupBy(*bucket_keys).agg(F.count(F.lit(1)).alias("s")), bucket_keys
        )
        n, s = F.col("_n").cast("long"), F.col("s")
        # n−s star edges plus s(s−1)/2 hub pairs, in long arithmetic (a
        # double would round past ~10^8 members: n² > 2^53)
        pairs = n - s + F.shiftright(s * (s - F.lit(1)), 1)
        stats.append(per_bucket.select(
            *bucket_keys, n.alias("n_members"), pairs.alias("pairs_materialized"),
            (F.shiftright(n * (n - F.lit(1)), 1) - pairs).alias("pairs_skipped"),
        ))
    return cand.distinct()


def minhash_signatures(docs: DataFrame, num_perm: int = 64) -> DataFrame:
    """Narrow pass: text → MinHash signature (numpy kernel per Arrow batch)."""
    a, b = K.perm_params(num_perm, 42)
    sign = column_udf(
        "array<long>",
        lambda texts, _: list(
            K.minhash_signatures_batch(
                *K.shingle_hashes_batch(texts, 3), a, b
            ).astype(np.int64)
        ),
    )
    return spread_partitions(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        sign("text").alias("signature"),
    )


def _band_rows(sigs: DataFrame, num_perm: int, num_bands: int) -> DataFrame:
    """JVM projection: (doc_id, signature, ...) → one row per (doc, band)
    whose bucket key is ``xxhash64`` of the band's ``num_perm // num_bands``
    signature slots — the LSH posting relation. Every column except
    ``signature`` rides the explode row-aligned (the incremental path's
    ``_new`` flag), so callers never join back to the signature relation;
    ``signature`` itself stays behind, or num_perm longs per row would
    enter the band-bucket exchange."""
    r = num_perm // num_bands
    band_keys = [
        F.xxhash64(F.slice("signature", i * r + 1, r)) for i in range(num_bands)
    ]
    return sigs.select(
        *[c for c in sigs.columns if c != "signature"],
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_hash"),
    )


def _jaccard_estimates(sigs: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Verify step of the MinHash LSH family: signature-estimated Jaccard
    ≥ threshold over ``_banded_candidates`` pairs. One implementation for
    the full-corpus and incremental paths — a fix to the estimate
    arithmetic, rounding, or threshold semantics applied to one must reach
    the other (they are contractually bit-equal on the shared pair set)."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size("sig_a")
    return (
        cand.select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


def minhash_lsh_pairs(
    docs: DataFrame, num_perm: int = 64, num_bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
    caches: list | None = None,
    stats: list | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding + signature-estimated Jaccard.

    rows-per-band = num_perm/num_bands tunes the S-curve: with 64 perms /
    16 bands (4 rows), P(candidate) ≈ 1-(1-j^4)^16 — steep near j≈0.6.

    Candidates come from ``_banded_candidates`` over the (band_idx,
    band_hash) postings: buckets over ``max_bucket_size`` are star-linked
    through their min-id hub instead of dropped; pass ``stats=[]`` to
    receive the per-bucket drop-accounting relation.

    The signature relation is cached (consumed by banding AND the estimate
    join); pass ``caches=[]`` to receive it and ``unpersist()`` after the
    result is materialized — same caller-owned-release contract as
    ``ngram_jaccard_pairs``. Long-lived drivers should always pass it;
    short-lived ones may rely on context teardown.
    """
    sigs = minhash_signatures(docs, num_perm).cache()
    if caches is not None:
        caches.append(sigs)

    cand = _banded_candidates(
        _band_rows(sigs, num_perm, num_bands), ["band_idx", "band_hash"],
        "doc_id", [], max_bucket_size, stats,
    )
    return _jaccard_estimates(sigs, cand, threshold)


def minhash_lsh_incremental(
    new_docs: DataFrame,
    history_sigs: DataFrame,
    threshold: float = 0.7,
    max_bucket_size: int = 1000,
    caches: list | None = None,
    stats: list | None = None,
) -> DataFrame:
    """Near-dup candidates of an INCOMING batch against committed history —
    the incremental-ingest twin of ``minhash_lsh_pairs`` (the near-dup
    analog of ``bloom_incremental_dedup``'s exact check): at 100 TB you
    persist the signature relation (64 × 8 B per doc, ~0.1% of the
    text) at commit time and never re-tokenize history. Only the new
    batch runs the shingle→MinHash kernel; history enters as its stored
    ``(doc_id, signature)`` rows.

    Returns (doc_a, doc_b, est_jaccard) pairs where at least one side is
    new — EXACTLY the full-corpus ``minhash_lsh_pairs`` output minus its
    history×history pairs, provided the parameters match the ones history
    was signed with (the bucket cap is applied to the combined banding
    relation, as one corpus-wide run would). new/history doc ids must be
    disjoint. Compose with ``dedup_clusters`` + ``survivors`` to resolve
    keeps; a new doc with any history match is always a drop.

    Pass ``caches=[]`` for caller-owned release of the cached combined
    signature relation (same contract as ``minhash_lsh_pairs``).
    """
    new_sigs = minhash_signatures(new_docs)
    sigs = (
        new_sigs.select("doc_id", "signature", F.lit(True).alias("_new"))
        .unionByName(
            history_sigs.select(
                "doc_id", "signature", F.lit(False).alias("_new")
            )
        )
        .cache()
    )
    if caches is not None:
        caches.append(sigs)

    # the combined banding relation sees the buckets of a one-shot run, so
    # the hubs match and the output stays exactly full-minus-history×history
    cand = _banded_candidates(
        _band_rows(sigs, 64, 16), ["band_idx", "band_hash"], "doc_id", ["_new"],
        max_bucket_size, stats, pair_pred=F.col("a__new") | F.col("b__new"),
    )
    return _jaccard_estimates(sigs, cand, threshold)


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3,
    caches: list | None = None,
    stats: list | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole chunk banding.

    With (max_hamming+1) chunks, any pair within the distance budget shares
    at least one identical chunk — join on chunks, verify exact hamming
    (``chunk_band_pairs``). Chunk buckets over 1,000 docs (mega-boilerplate
    clusters → bucket² join rows) are pathological: the one banded-candidate
    primitive, ``_banded_candidates``, star-links them through their hub,
    as on the MinHash path (``stats=[]`` for the drop accounting). Pass ``caches=[]`` to receive the cached hash
    relation for caller-owned ``unpersist()`` (same contract as
    ``ngram_jaccard_pairs``).
    """
    simhash = column_udf(
        # stored as signed int64 (two's complement view)
        "long", lambda texts, _: K.simhash64_batch(texts).view(np.int64)
    )
    hashes = spread_partitions(docs.select("doc_id", "text"), "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        simhash("text").alias("simhash"),
    ).cache()
    if caches is not None:
        caches.append(hashes)

    return chunk_band_pairs(
        hashes, "doc_id", "simhash", max_hamming, 1000, stats
    ).select(
        F.col("key_a").alias("doc_a"),
        F.col("key_b").alias("doc_b"),
        "hamming",
    )


def chunk_band_pairs(
    hashes: DataFrame,
    key_col: str,
    hash_col: str,
    max_hamming: int,
    max_bucket_size: int,
    stats: list | None = None,
) -> DataFrame:
    """Pigeonhole chunk banding for 64-bit Hamming near-dup search — the
    shared core of ``simhash_pairs`` (text) and ``media.phash_dedup``
    (images), factored so bucket-cap / banding semantics can never diverge
    between the two paths.

    Split the 64-bit hash into (max_hamming+1) chunks that COVER all 64
    bits (widths differ by at most one bit when max_hamming+1 does not
    divide 64 — pre-refactor, simhash_pairs floor-divided the width and
    silently left the top bits un-banded, a recall hole for e.g.
    max_hamming=16): any pair within the distance budget has all its
    differing bits in at most max_hamming chunks, so it shares at least
    one identical chunk (pigeonhole) and the bucket equi-join on
    (chunk_idx, chunk_val) has PERFECT recall with no all-pairs join.
    The chunk rows, carrying the hash, go through ``_banded_candidates``,
    the one primitive of every banded pair path; ``max_bucket_size``
    bounds pathological buckets (mega-boilerplate text / viral images →
    bucket² join rows): oversized buckets are star-linked through their
    min-key hub instead of dropped — star pairs still pass the exact hamming
    filter, so a viral cluster wider than the cap stays connected while a
    hash-collision mixture is filtered edge-by-edge. Pass ``stats=[]``
    for the per-bucket drop-accounting relation.

    Returns distinct ``(key_a, key_b, hamming)`` with ``key_a < key_b``
    and ``hamming <= max_hamming`` (0 included — callers slice the range
    they need).
    """
    n_chunks = max_hamming + 1
    if not 0 < max_hamming < 64:
        raise ValueError("max_hamming must be in 1..63 for a 64-bit hash")
    bounds = [64 * i // n_chunks for i in range(n_chunks + 1)]
    chunks = hashes.select(
        key_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(hash_col, bounds[i])
                        .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                        .alias("chunk_val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(key_col, hash_col, "c.chunk_idx", "c.chunk_val")

    hamming = F.bit_count(
        F.col(f"a_{hash_col}").bitwiseXOR(F.col(f"b_{hash_col}"))
    )
    return (
        _banded_candidates(
            chunks, ["chunk_idx", "chunk_val"], key_col, [hash_col],
            max_bucket_size, stats,
        )
        .select(
            F.col(f"a_{key_col}").alias("key_a"),
            F.col(f"b_{key_col}").alias("key_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _propagate_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: neighbor-min (join + partial-agg'd groupBy on
    node id) then pointer jump (``label ← label[label]``). Returns ``(node,
    label, prev)``, where ``prev`` is the node's label before the round, so
    the caller counts changed labels without joining two rounds. Pure plan
    — the caller checkpoints. Exchange count per round is bounded and
    pinned by tests/test_plan_shapes.py."""
    nbr = (
        edges.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
        .groupBy("src")
        .agg(F.min("label").alias("nbr_label"))
    )
    stepped = labels.join(
        nbr.select(F.col("src").alias("node"), "nbr_label"), "node", "left"
    ).select(
        "node",
        F.least("label", F.coalesce("nbr_label", "label")).alias("label"),
        F.col("label").alias("prev"),
    )
    hop = stepped.select(
        F.col("node").alias("label_node"), F.col("label").alias("label2")
    )
    return stepped.join(hop, stepped["label"] == hop["label_node"], "left").select(
        "node",
        F.least(stepped["label"], F.coalesce("label2", stepped["label"])).alias("label"),
        stepped["prev"],
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    max_iter: int = 30,
    metrics: dict | None = None,
) -> DataFrame:
    """Resolve near-dup *pairs* into connected components → a keep/drop list.

    ``metrics``: pass ``{}`` to receive ``{"rounds": n}`` — the number of
    propagation rounds actually executed, the scale-audit number (at any
    corpus size the round count, not the row count, is what the iterative
    plan multiplies).

    The pair generators (``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` /
    ``simhash_pairs``) stop at similar pairs; an actual dedup pass needs the
    transitive closure (A~B, B~C ⇒ one keeper among {A,B,C}). Returns
    ``(doc_id, cluster_id, keep)`` where ``cluster_id`` is the minimum
    doc_id in the component and ``keep = (doc_id == cluster_id)`` — the same
    canonical-is-min convention as ``exact_dedup``. When ``docs`` is given,
    singleton documents (no near-dup pair) appear with their own id and
    ``keep = true``, so the output is a complete corpus keep/drop list.

    Algorithm: iterative min-label propagation, entirely in DataFrame ops
    (no driver-side union-find, no collect): each round takes the min label
    over neighbors (one join + one partial-agg'd groupBy on node id), then
    pointer-jumps (``label ← label[label]``, one more join) so long chains
    converge in O(log diameter) rounds rather than O(diameter). Labels are
    ``localCheckpoint``-ed eagerly each round to truncate lineage — the
    standard guard for iterative Spark jobs (on a real cluster with
    unreliable executors, swap in ``checkpoint()`` + a checkpoint dir).
    Convergence = the first round that changes no label (an exact count of
    ``label != prev``; a sum(label) fixpoint probe would overflow int64 at
    10^12-doc id ranges). The count rides the round's checkpoint as a
    ``DataFrame.observe`` metric, so one round is one Spark action.

    Scale shape: per round a CONSTANT number of exchanges (4 joins/aggs →
    ~11 physical Exchange nodes incl. both join sides; pinned in
    tests/test_plan_shapes.py), all hash-partitioned on node/label ids
    (uniform by construction — no cartesian or nested-loop join anywhere);
    the labels relation is one row per doc that appears in any pair — for
    typical near-dup rates (<30%) a small fraction of the corpus.
    ``max_iter`` bounds the loop; log2(longest chain) ≤ 30 covers any
    physically possible component.
    """
    und = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = (
        und.union(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    # try/finally (ADVICE r3): the persisted edges relation must be released
    # even when the loop raises (non-convergence, executor failure) — a
    # long-lived driver would otherwise leak it until LRU eviction. Old
    # localCheckpoint label frames are released by Spark's ContextCleaner
    # once the previous-round Python reference drops (the designed GC path
    # for checkpointed RDDs); only the explicit persist needs manual release.
    try:
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
            .localCheckpoint(eager=True)
        )
        for it in range(max_iter):
            changed = Observation()
            labels = (
                _propagate_round(edges, labels)
                .observe(changed, F.count_if(F.col("label") != F.col("prev")).alias("n"))
                .select("node", "label")
                .localCheckpoint(eager=True)
            )
            if metrics is not None:
                metrics["rounds"] = it + 1
            if changed.get["n"] == 0:
                break
        else:
            raise RuntimeError(
                f"dedup_clusters did not converge in {max_iter} iterations — "
                "component diameter exceeds 2^max_iter, which indicates corrupt "
                "pair input rather than a real corpus"
            )
    finally:
        edges.unpersist()
    clustered = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    if docs is not None:
        clustered = (
            docs.select("doc_id")
            .join(clustered, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")
            )
        )
    return clustered.withColumn("keep", F.col("doc_id") == F.col("cluster_id"))


def dedup_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    keep_by: str | None = None,
) -> DataFrame:
    """Full near-dup dedup pass: pairs → clusters → kept corpus rows.

    The convenience composition a user actually runs: resolve the pair
    relation (from any of ngram_jaccard_pairs / minhash_lsh_pairs /
    simhash_pairs) into connected components via ``dedup_clusters``, then
    keep exactly one canonical document per cluster plus all singletons.
    Output = input columns + ``cluster_id`` (which group the kept doc
    represents).

    Survivorship policy:
    - ``keep_by=None`` (default): canonical = min doc id (the cluster
      label itself — zero extra work).
    - ``keep_by="<col>"``: canonical = the cluster member with the MAX
      value of that column (ties → min doc id) — e.g. ``n_chars`` for
      keep-longest, a quality score for keep-best. One extra mergeable
      groupBy on cluster_id over the clustered subset: max(struct(value,
      -id, id)) partial-aggregates map-side, so a pathological mega-cluster
      costs a hot *map-side* combine, not a hot reducer.

    Scale shape: the cluster resolution works on the pair-touched subset
    only; the final filter is one join of the corpus against the keep list
    on doc id (broadcastable when near-dup rate is low, sort-merge
    otherwise — the planner's call).
    """
    clusters = dedup_clusters(pairs, docs=docs)
    keep = survivors(clusters, docs, keep_by=keep_by)
    return docs.join(keep, "doc_id")


def survivors(
    clusters: DataFrame,
    docs: DataFrame,
    keep_by: str | None = None,
) -> DataFrame:
    """Keep list (id, cluster_id) for a resolved cluster assignment —
    factored out of ``dedup_corpus`` so one ``dedup_clusters`` resolution
    (the expensive iterative part) can feed several survivorship policies.
    See ``dedup_corpus`` for the policy semantics."""
    if keep_by is None:
        return clusters.filter(F.col("keep")).select("doc_id", "cluster_id")
    scored = clusters.join(docs.select("doc_id", keep_by), "doc_id")
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col(keep_by).alias("_v"),
                    (-F.col("doc_id")).alias("_negid"),
                    F.col("doc_id").alias("keep_id"),
                )
            ).alias("best")
        )
        .select(F.col("best.keep_id").alias("doc_id"), "cluster_id")
    )


def line_dedup(
    docs: DataFrame,
    sep: str = "\n",
    min_line_chars: int = 1,
) -> DataFrame:
    """CCNet-style line-level (paragraph-level) corpus dedup.

    The standard web-corpus pass (CCNet, RefinedWeb, Dolma all run a
    variant): split every document into lines/paragraphs, and for each
    DISTINCT line keep only its globally-first occurrence — ordered by
    (doc id, line position) — dropping every other occurrence corpus-wide
    (including repeats *within* one document). Lines whose trimmed length
    is < ``min_line_chars`` never participate and are always kept (blank
    separators survive). Returns one row per input document:
    ``(id, n_lines, n_kept, text)`` with ``text`` rebuilt from the kept
    lines in original order (may be empty when every line was a dup).

    Scale shape (the boilerplate-skew story is the whole design):
    - one narrow posexplode, then lines are keyed by ``xxhash64(line)`` so
      the first-occurrence groupBy shuffles 8-byte keys, not line text;
    - first-occurrence = min(struct(doc, line_no)) per key — a MERGEABLE
      partial agg, so the pathological key (a boilerplate line occurring
      10^8 times: "Home", cookie banners) collapses map-side instead of
      melting one reducer;
    - the join back on the hash key IS skewed at those keys — that one is
      AQE skew-join territory (split the fat partition), not salting,
      because the build side (one row per distinct line) is tiny per key;
    - rebuild is a groupBy on the doc id with array_sort(collect_list) —
      bounded by document size, the natural partitioning key.
    64-bit hash collisions (~n²/2^65) would drop a non-dup line; at 10^12
    lines that is ~0.03 expected false drops — the trade every production
    line-dedup makes (exact-string verify would shuffle full text).
    """
    # ``sep`` is a LITERAL separator in BOTH roles — F.split takes a Java
    # regex while concat_ws takes a literal, so the regex side is quoted
    # (\Q…\E) to keep them consistent: sep='.' or '|' splits on the
    # character, not on the pattern.
    if "\\E" in sep:
        raise ValueError(r"line_dedup: separator may not contain '\E'")
    # coalesce first: split(NULL) is NULL and posexplode(NULL) emits no
    # rows, which would silently drop NULL-text docs from the returned
    # relation — breaking the one-row-per-input-document contract the
    # docstring promises (substring_dedup passes such docs through)
    lines = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\\Q" + sep + "\\E")
        ).alias("line_no", "line"),
    )
    partic = F.length(F.trim(F.col("line"))) >= min_line_chars
    keyed = lines.where(partic).withColumn("_h", F.xxhash64("line"))
    first = keyed.groupBy("_h").agg(
        F.min(F.struct("doc_id", "line_no")).alias("first")
    )
    kept_partic = (
        keyed.join(first, "_h")
        .where(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("line_no") == F.col("first.line_no"))
        )
        .select("doc_id", "line_no", "line")
    )
    kept = lines.where(~partic).unionByName(kept_partic)
    totals = lines.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_lines"))
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_sort(F.collect_list(F.struct("line_no", "line"))).alias("_ls"),
        )
        .select(
            "doc_id",
            "n_kept",
            F.concat_ws(sep, F.transform("_ls", lambda s: s.line)).alias("text"),
        )
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("text", F.lit("")).alias("text"),
        )
    )


def substring_dedup(docs: DataFrame, k: int = 50) -> DataFrame:
    """Exact-substring dedup (the ExactSubstr pass of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    k-token run that already occurred earlier in the corpus is REMOVED
    from the document (the reference implementation removes one side of
    each duplicated span; we pin the deterministic variant — the globally
    first occurrence by (doc id, position) survives, every later
    occurrence's k token positions are cut). Overlapping duplicated runs
    merge naturally through the position-cover union. Documents shorter
    than k tokens pass through untouched. Returns one row per document:
    ``(id, n_tokens, n_removed, text)`` with text rebuilt from surviving
    tokens.

    Lee et al. build a single-machine suffix array; the Spark-native
    equivalent is an overlapping-k-gram exchange, and the design lives or
    dies on what crosses the shuffle:

    - no position ever materializes its k-gram as a string: each token is
      hashed ONCE into a long array, and a position's fingerprint is
      ``xxhash64`` over the k-long slice (seed-chained element hashing) —
      measured 1.31× faster than the concat_ws(string)→hash shape at 600k
      docs / 30M tokens with an identical dup set
      (BASELINE.md, "Gram fingerprint swap, measured"), because the string
      shape allocates ~k×token bytes per position before hashing; the
      shuffle carries 8-byte fingerprints + (doc, pos) either way;
    - first-occurrence = min(struct(doc, pos)) per hash: MERGEABLE, so a
      corpus-wide boilerplate k-gram partial-aggregates map-side;
    - the join-back on the hash is AQE skew-join territory (same argument
      as ``line_dedup``);
    - cover positions collapse per doc (collect_set bounded by doc size),
      and the rebuild is a two-arg-lambda ``filter((tok, i) -> ...)`` over
      the original token array — one doc-keyed join, no second corpus
      explode.
    """
    w = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = docs.select("doc_id", w.alias("w")).withColumn(
        "n", F.size("w")
    )
    keyed = (
        toks.where(F.col("n") >= k)
        .withColumn("hw", F.transform("w", lambda t: F.xxhash64(t)))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - k),
                    lambda i: F.xxhash64(F.slice("hw", i + 1, F.lit(k))),
                )
            ).alias("pos", "_h"),
        )
    )
    first = keyed.groupBy("_h").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    dups = (
        keyed.join(first, "_h")
        .where(
            (F.col("doc_id") != F.col("first.doc_id"))
            | (F.col("pos") != F.col("first.pos"))
        )
        .select("doc_id", "pos")
    )
    cover = (
        dups.select(
            "doc_id", F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("idx")
        )
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("_cov"))
    )
    return (
        toks.join(cover, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce(F.size("_cov"), F.lit(0)).cast("long").alias("n_removed"),
            F.concat_ws(
                " ",
                F.filter(
                    "w",
                    lambda tok, i: F.coalesce(
                        ~F.array_contains("_cov", i), F.lit(True)
                    ),
                ),
            ).alias("text"),
        )
    )


def decontaminate(
    train: DataFrame, benchmark: DataFrame, n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing ANY word
    n-gram with an evaluation/benchmark set — the standard n-gram overlap
    rule for keeping eval sets out of pretraining corpora.

    Physical shape: benchmark grams are DISTINCT and usually tiny relative
    to the corpus (an eval set), so the semi-join broadcasts them when
    small and sort-merges otherwise — the planner's call; the train side
    explodes grams once and anti-joins on the gram key. Returns the CLEAN
    train rows (contaminated docs removed).
    """
    tg = train.select(
        F.col("doc_id").alias("_did"), F.explode(ngram_tokens(F.col("text"), n)).alias("g")
    ).filter(F.col("g") != "")
    bg = (
        benchmark.select(F.explode(ngram_tokens(F.col("text"), n)).alias("g"))
        .filter(F.col("g") != "")
        .distinct()
    )
    contaminated = tg.join(bg, "g", "left_semi").select(F.col("_did").alias("doc_id")).distinct()
    return train.join(contaminated, "doc_id", "left_anti")


def contamination_score(
    train: DataFrame, benchmark: DataFrame, n: int = 5,
    caches: list | None = None,
) -> DataFrame:
    """Graded benchmark contamination: for each training document, the
    fraction of its DISTINCT word n-grams that appear anywhere in the
    benchmark set — the GPT-3-appendix-style overlap *score*, where
    ``decontaminate`` is the boolean ANY-overlap rule. Downstream policy
    (drop / flag / weight) thresholds on the fraction instead of a hard
    drop.

    Returns (id, total_grams, hit_grams, contamination) for EVERY train
    row; contamination = 0.0 when the doc has no grams.

    Physical shape (scales like ``decontaminate``): per-doc totals come
    narrow from ``size()`` of the gram array BEFORE the explode, so the
    groupBy only aggregates the semi-join *survivors* (benchmark-matched
    grams — tiny for a clean corpus); benchmark grams are distinct and
    broadcast when small. One explode, one semi-join, one doc-keyed count,
    one doc-keyed left join. The per-doc (id, total, gram-hash array)
    relation is PERSISTED because both the totals branch and the hits
    branch consume it — unpersisted, the split→transform→array_distinct
    gram kernel (the dominant cost) runs twice over the full corpus.
    Cache ownership follows ``ngram_jaccard_pairs``: pass ``caches=[]``
    to receive the persisted frame and unpersist after consumption.

    Grams are hashed to int64 (``xxhash64``) right after construction, so
    the semi-join exchanges/broadcasts 8-byte keys instead of n-word
    strings. A 2⁻⁶⁴-per-pair hash collision could count a miss as a hit;
    at any realistic benchmark size that is below float noise in the
    returned fraction — same trade ``ngram_jaccard_pairs`` documents for
    its ``max_df`` scale path.
    """
    from pyspark import StorageLevel

    grams = ngram_tokens(F.col("text"), n)
    tg = train.select(
        F.col("doc_id"),
        F.transform(
            F.filter(grams, lambda g: g != ""), lambda g: F.xxhash64(g)
        ).alias("_gh"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    totals = tg.select(
        "doc_id", F.size("_gh").cast("bigint").alias("total_grams")
    )
    bg = (
        benchmark.select(F.explode(ngram_tokens(F.col("text"), n)).alias("g"))
        .filter(F.col("g") != "")
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    hits = (
        tg.select(F.col("doc_id"), F.explode("_gh").alias("gh"))
        .join(bg, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hit_grams"))
    )
    if caches is not None:
        caches.append(tg)
    return (
        totals.join(hits, "doc_id", "left")
        .withColumn("hit_grams", F.coalesce(F.col("hit_grams"), F.lit(0).cast("bigint")))
        .withColumn(
            "contamination",
            F.when(
                F.col("total_grams") > 0,
                F.col("hit_grams").cast("double") / F.col("total_grams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


def _bloom_positions(m_bits: int, k: int):
    """The k Bloom bit positions of each text, ``pmod(xxhash64(text, i), m)``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(F.xxhash64(F.col("text"), i), F.lit(m_bits)),
    )


def bloom_bitmap(docs: DataFrame, m_bits: int, k: int) -> np.ndarray:
    """Packed Bloom bitmap (``kernel/bloom`` layout) of ``docs``' texts,
    built by one mergeable JVM aggregate. Spark bitmaps index values from
    1 in 32768-bit (4096-byte) buckets with the same bit order as
    kernel/bloom (bit i: byte i>>3, mask 1<<(i&7)), so each aggregated
    chunk is copied into place; an empty input gives the zero bitmap."""
    value = F.explode(F.transform(_bloom_positions(m_bits, k), lambda p: p + 1))
    chunks = (
        docs.select(value.alias("_v"))
        .groupBy(F.bitmap_bucket_number("_v").alias("bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("_v")).alias("bits"))
        .collect()
    )
    bitmap = B.empty_bitmap(m_bits)
    for r in chunks:
        start = (r["bucket"] - 1) * 4096
        bitmap[start:start + 4096] = np.frombuffer(r["bits"], np.uint8)[: bitmap.size - start]
    return bitmap


def bloom_incremental_dedup(
    new_docs: DataFrame,
    history: DataFrame,
    m_bits: int = 1 << 23,
    k: int = 5,
) -> DataFrame:
    """Incremental-ingest exact dedup: return the ``new_docs`` rows whose
    text does NOT already appear in the committed ``history`` corpus,
    using a distributed-built Bloom filter as a broadcast prefilter so the
    exact verification anti-join only shuffles Bloom-POSITIVE rows.

    EXACT by construction (result ≡ plain md5 anti-join, any m/k):
    Bloom filters have no false negatives, so Bloom-negative rows are
    provably new and bypass the join entirely; false positives are removed
    by the exact digest anti-join over the candidate subset. ``m_bits``/
    ``k`` tune COST only, never the answer.

    Physical shape:

    1. positions: ``pmod(xxhash64(text, i), m)`` for i in 0..k-1, JVM-side
       on BOTH build and probe paths — one hashing implementation, zero
       cross-language replication (kernel/bloom.py only packs and probes
       bitmaps).
    2. build: one mergeable JVM aggregate. Positions explode, group by
       ``bitmap_bucket_number(pos + 1)`` and OR into 4 KB chunks with
       ``bitmap_construct_agg(bitmap_bit_position(pos + 1))`` (partial
       aggregation map-side, one exchange). The driver collects at most
       ⌈m/32768⌉ chunks — m/8 bytes in all, whatever the partition count —
       and places them into the bitmap.
    3. probe: broadcast bitmap (read once per task) + a column UDF over
       the positions (vectorized numpy gather, no per-row Python).
    4. verify: anti-join of candidates only. At a 1% duplicate rate the
       join input shrinks ~99% + fpp; the Bloom pays for itself whenever
       history is too big to broadcast but m/8 bytes is not.

    Applicability window (documented honestly): m/8 bytes must fit in one
    executor + the driver. 10^9 history docs at 1% fpp ≈ 1.2 GB — fine;
    10^12 needs either fpp relaxation (prefilter still exact end-to-end)
    or the bucketed-storage anti-join (`sources/tables.py` resume path),
    which is the beyond-Bloom scale answer.
    """
    if m_bits % 8 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 8, got {m_bits}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    pos_expr = _bloom_positions(m_bits, k)
    bitmap = bloom_bitmap(history, m_bits, k)
    bc = new_docs.sparkSession.sparkContext.broadcast(bitmap.tobytes())

    might_contain = column_udf(
        "boolean",
        lambda pos, bm: B.probe_rows(bm, np.array(pos.tolist(), dtype=np.int64).reshape(-1, k)),
        lambda: np.frombuffer(bc.value, dtype=np.uint8),
        arg=None,
    )
    probed = new_docs.withColumn("_maybe", might_contain(pos_expr))
    definitely_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    candidates = probed.filter(F.col("_maybe")).drop("_maybe")
    hist_digests = history.select(F.md5(F.col("text")).alias("_digest")).distinct()
    verified_new = (
        candidates.withColumn("_digest", F.md5(F.col("text")))
        .join(hist_digests, "_digest", "left_anti")
        .drop("_digest")
    )
    return definitely_new.unionByName(verified_new)


def url_dedup(docs: DataFrame) -> DataFrame:
    """URL-level exact dedup over the canonicalized URL — the first (and
    cheapest) dedup stage of a web-corpus pipeline (RefinedWeb §3.2 runs
    it before any content dedup; the reference pipeline's incremental
    scan dedups on file path the same way, core/annotation_manager.py's
    cached-result skip).

    ``functions/urls.canonical_url`` collapses scheme / www / default
    port / tracking-param / fragment / trailing-slash dressings entirely
    in JVM expressions, then ONE hash exchange on the canonical key
    (the window partition) counts each group and marks the survivor —
    deterministically the smallest ``doc_id``, the same pinned tie-break
    every other dedup stage in this package uses.

    Scale: the single shuffle is on the dedup key itself — the minimum
    any exact dedup can do; group sizes are crawl-frequency distributed
    (heavy head), which AQE skew handling absorbs because the window
    aggregates are tiny fixed-width values, not carried payloads.

    Returns (doc_id, url, canonical_url, group_size, keep).
    """
    from ..functions.urls import canonical_url

    w = Window.partitionBy("canonical_url")
    return (
        docs.select("doc_id", "url")
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .withColumn("keep", F.col("doc_id") == F.min("doc_id").over(w))
    )


def domain_blocklist_filter(docs: DataFrame, blocklist: list[str] | DataFrame) -> DataFrame:
    """Domain-blocklist filtering (the C4 / RefinedWeb badlist stage):
    mark every document whose URL host is a blocklisted domain OR any
    subdomain of one.

    Suffix semantics without suffix scans: ``functions/urls.host_suffixes``
    expands the host into its >= 2-label suffixes (a bounded handful per
    row), so matching is set membership —

    - ``blocklist`` as a Python list (the common case: badlists are small
      enough to inline) compiles to a pure ``exists``/``isin`` expression:
      ZERO joins, ZERO shuffles, rides whole-stage codegen;
    - ``blocklist`` as a DataFrame (one ``domain`` column, for lists too
      large to inline) becomes an exploded equi-join against the
      broadcast list, then a flag re-join on ``doc_id`` — still no
      prefix-LIKE scan and nothing non-broadcast shuffles but the
      (small) matched subset.

    Returns ``docs`` + (host, blocked). Callers filter on ``~blocked``.
    """
    from ..functions.urls import host_of, host_suffixes

    with_host = docs.withColumn("host", host_of(F.col("url")))
    suffixes = host_suffixes(F.col("host"))
    if isinstance(blocklist, list):
        bl = [b.lower() for b in blocklist]
        return with_host.withColumn(
            "blocked", F.exists(suffixes, lambda s: s.isin(bl))
        )
    matched = (
        with_host.select("doc_id", F.explode(suffixes).alias("domain"))
        .join(F.broadcast(blocklist.select(F.lower("domain").alias("domain"))), "domain")
        .select("doc_id")
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return with_host.join(matched, "doc_id", "left").withColumn(
        "blocked", F.coalesce(F.col("blocked"), F.lit(False))
    )
