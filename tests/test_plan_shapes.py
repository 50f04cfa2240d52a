"""Plan-shape regressions: the physical plans the engine is designed around.

At 100 TB, the difference between these plans and naive ones is the job:
filters/projections must reach the parquet scan, small dims must broadcast,
top-1-per-group must use WindowGroupLimit (no full sort of losers), and the
extraction stage must stay shuffle-free. ``explain`` output is asserted so
an innocent refactor can't silently regress the physical strategy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from openllm_ocr_annotator_spark import queries_catalog as qc
from openllm_ocr_annotator_spark.operators.extract import extract_spans
from openllm_ocr_annotator_spark.synth import synthesize_documents

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _n_exchanges(plan: str) -> int:
    # formatted plans list each node twice (tree + "(n) Exchange" details)
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))


def _n_python(plan: str) -> int:
    import re

    return len(re.findall(
        r"^\(\d+\) (?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython"
        r"|FlatMapGroupsInPandas)",
        plan, flags=re.M,
    ))


def test_weighted_vote_plan(spark):
    plan = _plan(qc.QUERIES["weighted_vote"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "weights dim must broadcast"
    assert "PushedFilters" in plan
    # falsy-field filter must reach the scan (P4 below the derivation)
    assert "l_returnflag" in plan.split("PushedFilters")[1][:200]
    assert "WindowGroupLimit" in plan, "top-1 must not full-sort each group"
    assert _n_exchanges(plan) == 2, "agg + window shuffles only"


def test_literal_frames_plan_as_local_table_scan(spark, tmp_path):
    """Driver-built literal frames (vote weights, the empty legs frame) plan
    as a JVM LocalTableScan. A Python-list createDataFrame plans as
    ``Scan ExistingRDD`` and runs Python tasks just to deserialize its rows."""
    from openllm_ocr_annotator_spark.sources.json_load import load_annotation_legs

    for df in (
        qc.QUERIES["weighted_vote"](spark, SF_DIR),
        qc.QUERIES["annotation_pipeline"](spark, SF_DIR),
        load_annotation_legs(spark, {"ann_A": str(tmp_path / "missing")}),
    ):
        plan = _plan(df)
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan


def test_json_parse_chain_is_one_python_pass(spark):
    plan = _plan(qc.QUERIES["json_parse_chain"](spark, SF_DIR))
    # formatted plans list each node twice; count the detail headers
    import re

    assert len(re.findall(r"^\(\d+\) ArrowEvalPython", plan, flags=re.M)) == 1
    for jvm_probe in ("regexp_extract", "regexp_replace", "get_json_object"):
        assert jvm_probe not in plan


def test_scan_limit_projection_pruned(spark):
    plan = _plan(qc.QUERIES["scan_limit"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, "unused wide text column must be pruned"
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan


def test_resume_anti_join_stays_join(spark):
    plan = _plan(qc.QUERIES["resume_anti_join"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_extract_is_shuffle_free(spark):
    docs = synthesize_documents(spark, SF_DIR)
    plan = _plan(extract_spans(docs))
    assert "Exchange" not in plan, "extraction must be a narrow map stage"
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "PythonMapInArrow" in plan


def test_eval_join_pushes_filters(spark):
    plan = _plan(qc.QUERIES["eval_field_accuracy"](spark, SF_DIR))
    assert "PushedFilters" in plan


def test_topk_uses_broadcast_and_group_limit(spark):
    plan = _plan(qc.QUERIES["similarity_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_ivf_pq_adc_scoring_is_jvm_side(spark):
    plan = _plan(qc.QUERIES["similarity_ivf_pq_topk"](spark, SF_DIR))
    # exactly two Python stages — the corpus encode and the query LUT
    # column UDFs; the per-candidate ADC fold must compile to JVM expressions
    # (transform/element_at/aggregate), never a third Python pass.
    # (formatted explain prints each node twice: tree + detail section —
    # count the uniquely-numbered detail headers)
    import re

    nodes = re.findall(r"\(\d+\) ArrowEvalPython", plan)
    assert len(nodes) == 2, nodes
    assert "WindowGroupLimit" in plan, "ADC cut and top-k must group-limit"


def test_majority_vote_partial_aggregation(spark):
    plan = _plan(qc.QUERIES["majority_vote"](spark, SF_DIR))
    # partial_count before the exchange = map-side combine
    assert "partial_count" in plan


@pytest.mark.parametrize("name", ["dedup_exact", "split_assignment", "text_token_stats"])
def test_single_shuffle_aggregations(spark, name):
    plan = _plan(qc.QUERIES[name](spark, SF_DIR))
    assert _n_exchanges(plan) <= 1, f"{name} needs at most one shuffle"


def test_lineage_checksum_is_jvm_side(spark):
    docs = synthesize_documents(spark, SF_DIR)
    from openllm_ocr_annotator_spark.operators.extract import (
        extract_pipeline,
        lineage_metrics,
    )

    plan = _plan(lineage_metrics(extract_pipeline(docs, num_partitions=4)))
    assert "xxhash64" in plan
    assert "bit_xor" in plan


def test_session_defaults(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) <= 1024


def test_broadcast_threshold_effective(spark):
    small = spark.range(10).withColumnRenamed("id", "k")
    big = spark.range(100000).withColumnRenamed("id", "k")
    plan = _plan(big.join(F.broadcast(small), "k"))
    assert "BroadcastHashJoin" in plan


def test_ngram_dedup_no_driver_broadcast_of_grams(spark):
    """The df-cap must be a window over the gram key, not a broadcast of the
    rare-gram set (most of the vocabulary — would melt the driver at scale);
    join keys must be hashed int64, not multi-word strings."""
    from openllm_ocr_annotator_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(docs, threshold=0.8, max_df=50))
    assert "xxhash64" in plan
    assert "Window" in plan
    # At sf0.001 the planner may broadcast by SIZE — that is its call. What
    # must never happen is a hard-coded broadcast hint: with the threshold
    # off (how a 100 TB gram table plans), everything must go sort-merge.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big_plan = _plan(ngram_jaccard_pairs(docs, threshold=0.8, max_df=50))
        assert "BroadcastExchange" not in big_plan
        assert "SortMergeJoin" in big_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_split_parquet_partition_pruning(spark, tmp_path):
    """K4's split-partitioned layout must prune at the scan: a split='train'
    filter becomes a PartitionFilter, not a post-scan filter over all rows."""
    from openllm_ocr_annotator_spark.sinks.export import write_split_parquet

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    out = str(tmp_path / "dataset")
    write_split_parquet(docs, out)
    scan = spark.read.parquet(out).filter(F.col("split") == "train")
    plan = _plan(scan)
    assert "PartitionFilters: [isnotnull(split" in plan
    # and the data files actually partition by split on disk
    import os

    assert sorted(
        d for d in os.listdir(out) if d.startswith("split=")
    ) == ["split=test", "split=train", "split=validation"]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on doc_id with equal bucket counts must join
    with NO exchange (and no sort — bucket files are sorted): the
    co-location strategy for the engine's recurring doc-keyed joins
    (evaluation gt⋈pred, annotation fan-in) at 100 TB."""
    from openllm_ocr_annotator_spark.sinks.export import write_bucketed_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    gt = docs.selectExpr("doc_id", "source AS value")
    pred = docs.selectExpr("doc_id", "lang AS value")
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed_table(gt, "gt_b", buckets=4, path=str(tmp_path / "gt"))
        write_bucketed_table(pred, "pred_b", buckets=4, path=str(tmp_path / "pred"))
        # at sf0.001 the planner would broadcast by size; the 100 TB case is
        # the SMJ path — force it to inspect co-location behavior
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("gt_b").join(spark.table("pred_b"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert "Bucketed: true" in plan
        # sorted-bucket scan ordering is gated since Spark 3.0 behind the
        # legacy flag (sortBy files stay sorted on disk either way); with it
        # on and one file per bucket (write_bucketed_table guarantees that),
        # the per-bucket Sort disappears too
        import re

        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        plan2 = _plan(
            spark.table("gt_b").join(spark.table("pred_b"), "doc_id")
        )
        assert not re.search(r"^\(\d+\) Sort\b", plan2, flags=re.M), (
            "one-file-per-bucket sortBy'd buckets must not re-sort"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
        spark.sql("DROP TABLE IF EXISTS gt_b")
        spark.sql("DROP TABLE IF EXISTS pred_b")


def test_dedup_clusters_round_bounded_exchanges(spark):
    """Each min-label propagation round must be a constant-size plan of
    key-partitioned joins/aggs — no cartesian products, no nested-loop
    joins, and a bounded exchange count regardless of pair count. This is
    what makes the iterative clustering viable at 10^12 docs: per-round
    cost is O(edges) shuffled on uniform ids, times O(log diameter) rounds."""
    from openllm_ocr_annotator_spark.operators.dedup import _propagate_round

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    und = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the 100 TB shape: nothing broadcastable
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(_propagate_round(edges, labels))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert _n_exchanges(plan) <= 12, "per-round exchange count must stay constant"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_bpe_counting_is_one_narrow_pass(spark):
    """Broadcast-rank BPE counting must stay a single narrow Python stage
    over the spread partitioning: exactly one exchange (the spread
    repartition), no joins — the whole point of broadcasting the merges
    instead of joining a vocabulary table."""
    from openllm_ocr_annotator_spark.operators.tokenize import (
        bpe_token_counts,
        train_bpe_from_corpus,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    merges = train_bpe_from_corpus(docs, num_merges=20, sample_docs=20)
    plan = _plan(bpe_token_counts(docs, merges))
    assert _n_exchanges(plan) <= 1
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" not in plan  # a column UDF, not grouped


def _one_column_operators(spark):
    """The seven per-row Python kernels declared through
    ``operators._common.column_udf``: name → (output frame, Python input
    columns, exchanges, Python nodes, output DDL). The counts are the
    ones the whole-row ``mapInPandas`` versions planned."""
    import numpy as np

    from openllm_ocr_annotator_spark.kernel import lm as L
    from openllm_ocr_annotator_spark.operators import (
        classify, dedup, dsir, media, perplexity, tokenize,
    )
    from openllm_ocr_annotator_spark.synth import synthesize_media_variants

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept = "doc_id:bigint,lang:string,source:string,n_chars:bigint"
    return {
        "score_documents": (
            lambda: classify.score_documents(docs, np.zeros(classify.N_FEATURES), 0.0),
            {"text"}, 1, 1, f"struct<{kept},model_quality:double>"),
        # sel_key's Gumbel noise is keyed on the doc id
        "importance_weights": (
            lambda: dsir.importance_weights(docs, np.zeros(dsir.N_BUCKETS)),
            {"text", "doc_id"}, 1, 1, f"struct<{kept},log_w:double,sel_key:double>"),
        "score_perplexity": (
            lambda: perplexity.score_perplexity(docs, L.train_bigram_lm(["a b"])),
            {"text"}, 1, 1, f"struct<{kept},perplexity:double>"),
        "bpe_token_counts": (
            lambda: tokenize.bpe_token_counts(docs, [("a", "b")]),
            {"text"}, 1, 1, f"struct<{kept},n_tokens:bigint>"),
        "simhash_pairs": (
            lambda: dedup.simhash_pairs(docs),
            {"text"}, 7, 1, "struct<doc_a:bigint,doc_b:bigint,hamming:int>"),
        "minhash_signatures": (
            lambda: dedup.minhash_signatures(docs),
            {"text"}, 1, 1, "struct<doc_id:bigint,signature:array<bigint>>"),
        # media_ref is read JVM-side only, by the NULL-payload error; the
        # second Python node is the payload synthesis
        "perceptual_hash": (
            lambda: media.perceptual_hash(synthesize_media_variants(spark, SF_DIR)),
            {"payload", "media_ref"}, 1, 2,
            "struct<doc_id:string,media_ref:string,phash:bigint>"),
    }


_ONE_COLUMN_OPS = [
    "score_documents", "importance_weights", "score_perplexity",
    "bpe_token_counts", "simhash_pairs", "minhash_signatures", "perceptual_hash",
]


def _udf_args(plan: str) -> list[list[str]]:
    """Per ArrowEvalPython node: the column names each top-level argument
    of its (single) UDF call reads."""
    import re

    out = []
    for call in re.findall(
        r"^\(\d+\) ArrowEvalPython\n(?:.*\n)*?Arguments: \[\w+\((.*)\)#\d+L?\], \[",
        plan, flags=re.M,
    ):
        args, depth, cur = [], 0, ""
        for ch in call:
            depth += (ch == "(") - (ch == ")")
            if ch == "," and depth == 0:
                args.append(cur)
                cur = ""
            else:
                cur += ch
        args.append(cur)
        out.append([sorted(set(re.findall(r"(\w+)#\d+", a))) for a in args])
    return out


@pytest.mark.parametrize("name", _ONE_COLUMN_OPS)
def test_one_column_kernels_ship_only_their_input(spark, name):
    """Each per-row kernel is one ArrowEvalPython node whose UDF reads only
    its text/payload column: pass-through columns stay in the JVM (a
    whole-row mapInPandas took every column). Exchange and Python-node
    counts stay those of the mapInPandas plans."""
    build, inputs, n_exchanges, n_python, _ = _one_column_operators(spark)[name]
    # an equal plan left persisted by another test (phash_dedup persists
    # its hashes) would plan as an InMemoryRelation listing it twice
    spark.catalog.clearCache()
    plan = _plan(build())
    calls = _udf_args(plan)
    assert len(calls) == 1, f"{name}: {len(calls)} ArrowEvalPython nodes"
    assert {c for arg in calls[0] for c in arg} == inputs
    # one UDF argument per input, except the payload guard's error text
    assert len(calls[0]) == len(inputs - {"media_ref"})
    assert _n_exchanges(plan) == n_exchanges
    assert _n_python(plan) == n_python


@pytest.mark.parametrize("name", _ONE_COLUMN_OPS)
def test_one_column_kernels_output_schema(spark, name):
    """Output DDL (names, types, order) as the mapInPandas versions
    declared it: input columns minus the text, then the outputs; the
    fixed-schema passes keep ``doc_id`` long (minhash, simhash) or string
    (perceptual hash)."""
    build, *_, ddl = _one_column_operators(spark)[name]
    assert build().schema.simpleString() == ddl


def test_media_payload_decode_is_shuffle_free(spark):
    """synthesize payload bytes (mapInPandas) → real decode (a column UDF
    over media_ref, kind and payload): NO exchange — decode must never
    move media bytes across a shuffle."""
    from openllm_ocr_annotator_spark.operators.media import extract_media_features
    from openllm_ocr_annotator_spark.synth import synthesize_media_payloads

    payloads = synthesize_media_payloads(spark, SF_DIR)
    plan = _plan(extract_media_features(payloads, strict=True))
    assert "Exchange" not in plan, "media payload bytes crossed a shuffle"


def test_phash_payload_shuffles_only_from_a_narrow_input(spark):
    """perceptual_hash spreads a narrow input before the decode: from one
    split, the (doc_id, media_ref, payload) rows cross exactly one hash
    exchange on media_ref; an input that already has
    spark.sql.shuffle.partitions splits hashes in place, with none."""
    import re

    from openllm_ocr_annotator_spark.kernel import imagecodec as C
    from openllm_ocr_annotator_spark.operators.media import perceptual_hash

    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def media(splits):
        return spark.range(0, 2 * n, 1, splits).select(
            F.col("id").cast("string").alias("doc_id"),
            F.format_string("media://p/%d.png", "id").alias("media_ref"),
            F.when(F.col("id") % 2 == 0, F.lit(bytearray(C.encode_png(8, 8))))
            .otherwise(F.lit(bytearray(C.encode_bmp(8, 8)))).alias("payload"),
        )

    narrow = _plan(perceptual_hash(media(1)))
    assert _n_exchanges(narrow) == 1
    exchange = re.search(r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (.*)", narrow, flags=re.M)
    assert exchange.group(1).startswith("hashpartitioning(media_ref#")
    assert "payload#" in exchange.group(0)
    assert _n_exchanges(_plan(perceptual_hash(media(n)))) == 0


# (exchanges, Python nodes) summed over each query's plan and the plans it
# collects while being built (quantizer training samples, the Bloom
# build). The exchanges are those the mapInPandas / applyInPandas versions
# planned; the Bloom probe UDF runs in both legs of its union.
# embedding_near_dups builds its candidates with the capped banded
# primitive: the key-size count under the over-cap flag join and the hub
# aggregate over the flagged rows are planned once for each consumer (both
# join sides and the star), which adds eight exchanges. The LSH kernel and
# its spread exchange are planned once, under the cached bucket relation;
# the uncapped probe join planned them on each join side.
_FORMER_PANDAS_MAP_PLANS = {
    "similarity_lsh_topk": (4, 2),
    "similarity_ivf_topk": (4, 2),
    "similarity_ivf_pq_topk": (2, 2),
    "embedding_near_dups": (11, 1),
    "semantic_dedup": (8, 2),
    "media_features": (0, 1),
    "dedup_bloom_incremental": (2, 2),
}


@pytest.mark.parametrize("name", sorted(_FORMER_PANDAS_MAP_PLANS))
def test_no_pandas_map_or_grouped_stage(spark, monkeypatch, name):
    """The vector kernels and media decode cross into Python only through
    column UDFs, and the Bloom build not at all: no MapInPandas or
    FlatMapGroupsInPandas node in the query's plan or in any plan it
    collects while being built, each kernel evaluated once, and no
    exchange beyond those of the mapInPandas versions."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    collect = DataFrame.collect

    def recording_collect(self):
        plans.append(_plan(self))
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    spark.catalog.clearCache()
    plans.append(_plan(qc.QUERIES[name](spark, SF_DIR)))
    for plan in plans:
        assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    got = (sum(map(_n_exchanges, plans)), sum(map(_n_python, plans)))
    assert got == _FORMER_PANDAS_MAP_PLANS[name]


def test_pack_sequences_single_exchange(spark):
    """Boundary packing = one window cumsum: exactly one exchange keyed on
    the stream column (plus the rollup agg); the dense leg is one
    FlatMapGroupsInPandas over the same key (plus its rollup). The two-leg
    union may not add anything beyond those four."""
    from openllm_ocr_annotator_spark.operators.pack import (
        pack_sequences,
        pack_sequences_dense,
        pack_summary,
    )

    docs = spark.createDataFrame(
        [("a", "d1", 5)], "source string, doc_id string, n_tokens long")
    boundary = _plan(pack_summary(pack_sequences(docs, budget=256)))
    assert _n_exchanges(boundary) <= 2  # window + rollup only
    assert "Window" in boundary
    dense = _plan(pack_summary(pack_sequences_dense(docs, budget=256)))
    assert _n_exchanges(dense) <= 2  # groupBy-key + rollup only
    assert "FlatMapGroupsInPandas" in dense
    union = _plan(qc.QUERIES["pack_sequences"](spark, SF_DIR))
    assert _n_exchanges(union) <= 4


def test_line_dedup_stays_jvm_side(spark):
    """Line dedup is pure JVM: explode → hash-keyed mergeable agg →
    join-back → per-doc rebuild. No Python stage may appear, and the
    shuffle count stays at the three structural exchanges (first-occurrence
    agg + the two doc-keyed rollups; the join-back key side is
    broadcastable at this scale)."""
    plan = _plan(qc.QUERIES["line_dedup"](spark, SF_DIR))
    for py in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
               "BatchEvalPython"):
        assert py not in plan, f"line_dedup grew a Python stage: {py}"
    assert _n_exchanges(plan) <= 4


def test_substring_dedup_stays_jvm_side(spark):
    """ExactSubstr dedup is pure JVM: the k-gram strings live only inside
    one narrow projection (posexplode → concat_ws → xxhash64); what
    shuffles is 8-byte hashes + (doc, pos). No Python stage may appear,
    and the exchange count stays structural (first-occurrence agg on _h +
    cover rollup on doc_id; both join-backs broadcast at this scale)."""
    plan = _plan(qc.QUERIES["substring_dedup"](spark, SF_DIR))
    for py in ("FlatMapGroupsInPandas", "MapInPandas", "ArrowEvalPython",
               "BatchEvalPython"):
        assert py not in plan, f"substring_dedup grew a Python stage: {py}"
    assert _n_exchanges(plan) <= 4
    # the gram string must be hashed before any exchange: no Exchange may
    # carry the gram column itself
    assert "gram" not in plan.split("Exchange")[1][:400]


@pytest.mark.parametrize(
    "name,sig_passes,max_exchanges",
    [("dedup_minhash_lsh", 1, 7), ("dedup_lsh_incremental", 2, 8)],
)
def test_minhash_banding_stays_jvm_side(spark, name, sig_passes, max_exchanges):
    """MinHash LSH banding is one JVM projection (posexplode over
    xxhash64 of signature slices): the only Python stages left are the
    signature passes (one per signed input — the incremental query signs
    its new batch and its history), and banding adds no exchange."""
    plan = _plan(qc.QUERIES[name](spark, SF_DIR))
    assert "xxhash64" in plan, "band keys must be hashed JVM-side"
    n_py = _n_python(plan)
    assert n_py == sig_passes, f"{name}: {n_py} Python stages"
    assert _n_exchanges(plan) <= max_exchanges


def test_source_mixing_is_scan_level_filter(spark):
    """Stratified sampling must stay a shuffle-free filter (plus its one
    rollup agg): the mixing step cannot cost an exchange per stratum."""
    plan = _plan(qc.QUERIES["source_mixing"](spark, SF_DIR))
    assert _n_exchanges(plan) <= 1, "filter + single rollup only"


def test_training_pipeline_bounded_shuffles(spark):
    """curation gate → dedup → pack → rollup: the composite may shuffle at
    the dedup groupBy, the pack window, and the final rollup — nothing else."""
    plan = _plan(qc.QUERIES["training_pipeline"](spark, SF_DIR))
    assert _n_exchanges(plan) <= 3
    assert "PushedFilters" in plan


def test_quality_classifier_scoring_is_shuffle_free(spark):
    """Model scoring = broadcast weights + one narrow Python pass over the
    spread partitioning: ≤1 exchange (the spread repartition), no joins —
    the model ships to the data, never the reverse."""
    import numpy as np

    from openllm_ocr_annotator_spark.operators.classify import (
        N_FEATURES,
        score_documents,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    plan = _plan(score_documents(docs, np.zeros(N_FEATURES), 0.0))
    assert _n_exchanges(plan) <= 1
    assert "Join" not in plan


def test_gopher_gates_single_projection(spark):
    """The whole Gopher rule bank is ONE codegen'd projection over the
    scan — no exchange, no Python, no join."""
    plan = _plan(qc.QUERIES["gopher_gates"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "ReadSchema" in plan


def test_contamination_score_shape(spark):
    """Totals come narrow from the pre-explode array size; the only
    aggregation input is the semi-join survivors. Pin: semi-join present,
    bounded exchange count, and the benchmark gram side broadcasts at
    this scale (distinct eval grams ≪ corpus)."""
    plan = _plan(qc.QUERIES["contamination_score"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan, "distinct benchmark grams must broadcast"
    assert _n_exchanges(plan) <= 5


def test_bloom_dedup_probe_and_verify_shape(spark):
    """Probe = broadcast bitmap + Arrow-batched UDF (no join for
    Bloom-negatives); verify = anti-join over candidates only. The build
    runs before this plan exists: a JVM bitmap aggregate whose driver
    traffic is at most m/8 bytes (pinned in test_bloom.py and by
    test_no_pandas_map_or_grouped_stage)."""
    plan = _plan(qc.QUERIES["dedup_bloom_incremental"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    assert _n_exchanges(plan) <= 3


def test_budget_select_threshold_avoids_global_sort(spark):
    """The scale path's windows run over the tiny histogram relation and
    the one boundary bin — the cutoff classification joins back by
    BROADCAST, and the exchange count stays bounded (no full-corpus
    per-source sort for the whole-bin keeps)."""
    plan = _plan(qc.QUERIES["budget_select"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, "bin classes must broadcast back"
    assert _n_exchanges(plan) <= 7


def test_bm25_prunes_postings_before_tf_groupby(spark):
    """The query-term filter must run on the exploded posting rows BEFORE
    the (doc, term) tf aggregation — cost scales with the query's posting
    lists, not vocabulary. df relation and corpus stats broadcast."""
    plan = _plan(qc.QUERIES["bm25_search"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the array_contains prune sits below the first exchange: the hash
    # aggregate's child filter mentions the literal query terms
    assert "array_contains" in plan
    assert _n_exchanges(plan) <= 6


def test_fixed_windows_single_exchange(spark):
    """Fixed-window chunking = the pack_sequences plan: one hash exchange
    on the stream key for the window cumsum, then a narrow explode and the
    summary's partial agg. No second corpus-sized shuffle."""
    plan = _plan(qc.QUERIES["fixed_windows"](spark, SF_DIR))
    assert "Generate" in plan, "explode(sequence) must stay in the plan"
    assert _n_exchanges(plan) <= 2, "window cumsum + summary agg only"


def test_corpus_drift_shuffles_vocab_not_corpus(spark):
    """Drift joins two vocabulary-sized count relations; the scalar totals
    broadcast. The corpus itself is only scanned + exploded (map-side
    combined agg), never re-shuffled."""
    plan = _plan(qc.QUERIES["corpus_drift"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("FullOuter") >= 1 or "full_outer" in plan
    assert _n_exchanges(plan) <= 5


def test_skew_report_top_k_is_take_ordered(spark):
    """The global top-k must run as TakeOrderedAndProject over the
    key-cardinality-sized count relation: each partition forwards its own
    top-k to the single merge point (a global row_number window gets no
    WindowGroupLimit rewrite - measured, hence this shape)."""
    plan = _plan(qc.QUERIES["skew_report"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan, "scalar total must broadcast"


def test_cardinality_audit_partial_aggregates(spark):
    """Both the exact distinct and the HLL sketch must partial-aggregate
    map-side (HashAggregate pairs), never collect raw values."""
    plan = _plan(qc.QUERIES["cardinality_audit"](spark, SF_DIR))
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert _n_exchanges(plan) <= 3
