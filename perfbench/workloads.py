"""The workloads: input set-up, the timed job, its output check and its
traced per-layer ladder.

Each workload owns a work directory inside the run's scratch area. ``job``
is what the closed loop times; ``before_job`` / ``after_job`` run outside
the timed window (restoring state, collecting what the check needs).
``check`` compares every job's result with an oracle computed after the
loop, so the oracle costs neither set-up nor job time.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Iterator
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.ledger import Ledger, StageMeter, dir_stats, kernel_timings, noop

MB = 2**20


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    scale: str  # "full" or "smoke"
    nproc: int


def arrow_identity(df: DataFrame) -> DataFrame:
    """Bench-owned ``mapInArrow`` that passes batches through untouched:
    the cost of moving rows JVM -> Python worker -> JVM."""

    def passthrough(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        yield from batches

    return df.mapInArrow(passthrough, schema=df.schema)


def arrow_pylist(df: DataFrame) -> DataFrame:
    """Bench-owned ``mapInArrow`` that converts every column to Python
    objects and back, the way the extraction kernel reads and builds its
    batches."""

    def roundtrip(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c.to_pylist(), type=c.type) for c in b.columns], schema=b.schema
            )

    return df.mapInArrow(roundtrip, schema=df.schema)


def pandas_identity(df: DataFrame) -> DataFrame:
    """Bench-owned ``mapInPandas`` that passes frames through untouched."""

    def passthrough(frames):
        yield from frames

    return df.mapInPandas(passthrough, schema=df.schema)


def sample_spans(ctx: Ctx, n: int = 200) -> list[list[dict]]:
    """A seeded sample of synth span documents for the kernel timings
    (same generator and mega-doc share as the extraction workloads)."""
    from openllm_ocr_annotator_spark.synth import make_spans

    rng = random.Random(ctx.seed)
    ids = inputs.span_doc_ids(rng, n, ExtractBatch.MEGA_SHARE)
    texts = inputs.base_texts(rng, n, 20, 120)
    return [make_spans(i, t) for i, t in zip(ids, texts)]


class Workload:
    name = ""
    sizes: dict[str, dict] = {}
    # untimed jobs before the loop, counted in setup_s: enough for the
    # JIT-compile CPU of the first jobs to have died down
    warmup_jobs = 1
    docs_per_job = 0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.size = self.sizes[ctx.scale]
        self.dir = os.path.join(ctx.work, self.name)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def before_job(self) -> None:
        pass

    def job(self):
        raise NotImplementedError

    def after_job(self, result):
        return result

    def check(self, results: list) -> list[bool]:
        raise NotImplementedError

    def trace(self, ledger: Ledger, meter: StageMeter, seconds: float) -> dict[str, float]:
        raise NotImplementedError

    # outputs a traced run checks besides the loop's jobs (one bool each)
    trace_checks: list[bool] = []


# -- extraction ---------------------------------------------------------------


def fold_lineage(rows) -> tuple[int, int, int]:
    """Per-partition lineage rows -> (doc_count, span_count, checksum);
    the xor fold is layout-independent, exactly like ``lineage_global``."""
    docs = spans = chk = 0
    for r in rows:
        docs += r["doc_count"]
        spans += r["span_count"]
        chk ^= r["checksum"]
    return docs, spans, chk


class ExtractBatch(Workload):
    """scan -> extract_pipeline(num_partitions=None) -> lineage_metrics."""

    name = "extract_batch"
    sizes = {"full": {"docs": 20000}, "smoke": {"docs": 300}}
    warmup_jobs = 2
    MEGA_SHARE = 0.01  # the synth rules' own rate is 1/97

    def setup(self) -> None:
        from openllm_ocr_annotator_spark.synth import synthesize_documents

        flat = self.path("flat")
        os.makedirs(flat, exist_ok=True)
        self.ids = inputs.write_flat_documents(
            os.path.join(flat, "documents.parquet"), self.ctx.seed, self.size["docs"],
            self.MEGA_SHARE,
        )
        self.input = self.path("docs")
        synthesize_documents(self.spark, flat, partitions=2 * self.ctx.nproc).write.parquet(
            self.input
        )
        self.docs_per_job = len(self.ids)

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.input)

    def job(self):
        from openllm_ocr_annotator_spark.operators.extract import extract_pipeline, lineage_metrics

        return fold_lineage(lineage_metrics(extract_pipeline(self.docs())).collect())

    def reference(self) -> tuple[int, int, int]:
        """One-shot ``lineage_global`` of the full extraction."""
        from openllm_ocr_annotator_spark.operators.extract import extract_spans, lineage_global

        r = lineage_global(extract_spans(self.docs())).first()
        return r["doc_count"], r["span_count"], r["checksum"]

    def sample_matches_oracle(self, n: int = 60) -> bool:
        """Spark's rows for a seeded doc sample (always including mega and
        empty docs) equal the pure-Python kernel ``extract_document`` over
        the synth rule's spans for the same docs."""
        import pyarrow.parquet as pq

        from openllm_ocr_annotator_spark.kernel.merge import extract_document
        from openllm_ocr_annotator_spark.operators.extract import extract_pipeline
        from openllm_ocr_annotator_spark.synth import MEGA_MOD, make_spans

        flat = pq.read_table(self.path("flat", "documents.parquet")).to_pydict()
        text = dict(zip(flat["doc_id"], flat["text"]))
        rng = random.Random(self.ctx.seed + 1)
        special = [i for i in self.ids if i % MEGA_MOD == 13][:3] + [
            i for i in self.ids if inputs.is_empty_doc(i)
        ][:2]
        sample = sorted(set(rng.sample(self.ids, min(n, len(self.ids))) + special))
        names = [f"doc_{i:010d}" for i in sample]
        rows = (
            extract_pipeline(self.docs().filter(F.col("doc_id").isin(names)))
            .select("doc_id", "kind", "text", "media_ref", "offset")
            .collect()
        )
        got: dict[str, list] = {d: [] for d in names}
        for r in rows:
            got[r["doc_id"]].append((r["offset"], r["kind"], r["text"], r["media_ref"]))
        for i, d in zip(sample, names):
            want = [
                (o["offset"], o["kind"], o["text"], o["media_ref"])
                for o in extract_document(make_spans(i, text[i]))
            ]
            if sorted(got[d]) != want:
                return False
        return True

    def check(self, results: list) -> list[bool]:
        ref = self.reference()
        sample_ok = self.sample_matches_oracle()
        return [sample_ok and r == ref for r in results]

    def trace(self, ledger: Ledger, meter: StageMeter, seconds: float) -> dict[str, float]:
        """Job ladder: scan -> identity mapInArrow (transfer) -> to_pylist
        round trip (conversion) -> extract_pipeline (kernel) ->
        lineage_metrics collected. Then the commit layer off the job's path:
        ``SnapshotTable.commit`` of the cached extraction into a fresh table,
        ``latest``, and the resume anti-join of the input against it; then
        the near-dup dedup layers (``DedupNear.trace``)."""
        from openllm_ocr_annotator_spark.operators.extract import extract_pipeline, lineage_metrics
        from openllm_ocr_annotator_spark.sources.tables import SnapshotTable

        lineage_rows: list = []
        t = ledger.ladder(
            [
                ("sources.scan", lambda: noop(self.docs())),
                ("boundary.arrow", lambda: noop(arrow_identity(self.docs()))),
                ("boundary.pylist", lambda: noop(arrow_pylist(self.docs()))),
                ("operators.extract", lambda: noop(extract_pipeline(self.docs()))),
                ("operators.extract.lineage", lambda: lineage_rows.append(
                    lineage_metrics(extract_pipeline(self.docs())).collect())),
            ],
            # one pass: with the dedup ladder below, a second one would take
            # the traced run too close to its 180 s limit on a slow host
            seconds=0,
            min_passes=1,
        )
        docs_in, spans_out, _ = fold_lineage(lineage_rows[-1])
        m = {
            "sources.scan_s": t["sources.scan"],
            "sources.scan_mb": dir_stats(self.input)[0] / MB,
            "boundary.arrow_transfer_s": t["boundary.arrow"] - t["sources.scan"],
            "boundary.arrow_to_python_s": t["boundary.pylist"] - t["boundary.arrow"],
            "operators.extract.kernel_s": t["operators.extract"] - t["boundary.pylist"],
            "operators.extract.lineage_s": t["operators.extract.lineage"] - t["operators.extract"],
            "operators.extract.task_skew": meter.heaviest_stage_skew(
                ledger.groups("operators.extract")[-1]
            ),
            "operators.extract.docs_in": docs_in,
            "operators.extract.spans_out": spans_out,
            "trace.layers_s": t["operators.extract.lineage"],
        }
        m.update(kernel_timings(sample_spans(self.ctx)))
        extracted = extract_pipeline(self.docs()).cache()
        extracted.count()
        root = self.path("table")
        for _ in range(2):
            shutil.rmtree(root, ignore_errors=True)
            table = SnapshotTable(self.spark, root)
            before = dir_stats(root)
            with ledger.span("sources.tables.commit"):
                table.commit(
                    extracted, lineage=lineage_metrics(extracted),
                    keys=self.docs().select("doc_id"),
                )
            after = dir_stats(root)
            with ledger.span("sources.tables.latest"):
                table.latest()
            with ledger.span("sources.tables.resume_filter"):
                noop(table.resume_filter(self.docs(), "doc_id"))
        extracted.unpersist()
        m["sources.tables.commit_s"] = ledger.median("sources.tables.commit")
        m["sources.tables.latest_s"] = ledger.median("sources.tables.latest")
        m["sources.tables.resume_filter_s"] = ledger.median("sources.tables.resume_filter")
        m["sources.tables.bytes_written_mb"] = (after[0] - before[0]) / MB
        m["sources.tables.files_written"] = after[1] - before[1]
        dedup = DedupNear(self.ctx)
        dedup.setup()
        m.update(dedup.trace(ledger, meter, seconds))
        self.trace_checks = dedup.trace_checks
        return m


# -- annotation vote ----------------------------------------------------------

VOTED_SCHEMA = "doc_id string, field_name string, value string, confidence double"


class AnnotateVote(Workload):
    """parse_result -> explode_annotation_fields -> weighted_vote ->
    write_jsonl -> evaluate_fields + field_accuracy on the export."""

    name = "annotate_vote"
    sizes = {"full": {"docs": 5000}, "smoke": {"docs": 200}}
    warmup_jobs = 3

    def setup(self) -> None:
        self.legs_path = self.path("legs.parquet")
        self.gt_path = self.path("gt.parquet")
        self.ann = inputs.write_annotations(
            self.legs_path, self.gt_path, self.ctx.seed, self.size["docs"], 2 * self.ctx.nproc
        )
        self.docs_per_job = self.size["docs"]
        self.weights = self.spark.createDataFrame(
            list(inputs.ANNOTATORS), "annotator_id string, weight double"
        ).cache()
        self.weights.count()
        self.out = self.path("voted")

    def legs(self) -> DataFrame:
        return self.spark.read.parquet(self.legs_path)

    def parsed_col(self):
        from openllm_ocr_annotator_spark.functions.json_extract import parse_result

        return parse_result(F.col("raw_text"), inputs.RESULT_SCHEMA)["result"]

    def parsed_col_and_fallback_input(self):
        """``parsed_col`` plus the column the program's chain feeds its
        pandas-UDF fallback scan (NULL on rows the fenced or whole-text
        probe already decoded), captured from the chain's own call."""
        from openllm_ocr_annotator_spark.functions import json_extract

        scan = json_extract.first_decodable_json
        fed: list = []

        def capture(col):
            fed.append(col)
            return scan(col)

        json_extract.first_decodable_json = capture
        try:
            parsed = self.parsed_col()
        finally:
            json_extract.first_decodable_json = scan
        (fallback_input,) = fed
        return parsed, fallback_input

    def parsed(self) -> DataFrame:
        return self.legs().select(
            "doc_id", "annotator_id", "sample_id", self.parsed_col().alias("result")
        )

    def voted(self) -> DataFrame:
        from openllm_ocr_annotator_spark.operators.vote import (
            explode_annotation_fields,
            weighted_vote,
        )

        return weighted_vote(explode_annotation_fields(self.parsed()), self.weights)

    def export(self) -> None:
        from openllm_ocr_annotator_spark.sinks.export import write_jsonl

        write_jsonl(self.voted(), self.out)

    def evaluate(self) -> dict[str, tuple[int, int]]:
        from openllm_ocr_annotator_spark.operators.evaluate import evaluate_fields, field_accuracy

        pred = self.spark.read.schema(VOTED_SCHEMA).json(self.out)
        gt = self.spark.read.parquet(self.gt_path)
        rows = field_accuracy(evaluate_fields(gt, pred)).collect()
        return {r["field_name"]: (r["n_correct"], r["n_total"]) for r in rows}

    def job(self):
        self.export()
        return self.evaluate()

    def read_export(self) -> dict[tuple[str, str], tuple[str, float]]:
        import json

        out = {}
        for name in sorted(os.listdir(self.out)):
            if name.endswith(".json"):
                with open(os.path.join(self.out, name)) as f:
                    for line in f:
                        r = json.loads(line)
                        out[(r["doc_id"], r["field_name"])] = (r["value"], r["confidence"])
        return out

    def after_job(self, accuracy):
        return accuracy, self.read_export()

    def check(self, results: list) -> list[bool]:
        voted = inputs.vote_oracle(self.ann)
        acc = inputs.accuracy_oracle(self.ann, voted)

        def same_votes(got) -> bool:
            return got.keys() == voted.keys() and all(
                got[k][0] == voted[k][0] and abs(got[k][1] - voted[k][1]) < 1e-9 for k in voted
            )

        return [a == acc and same_votes(v) for a, v in results]

    def trace(self, ledger: Ledger, meter: StageMeter, seconds: float) -> dict[str, float]:
        t = ledger.ladder(
            [
                ("sources.scan", lambda: noop(self.legs())),
                ("functions.json_extract", lambda: noop(self.parsed())),
                ("operators.vote", lambda: noop(self.voted())),
                ("sinks.export", self.export),
                ("operators.evaluate", self.evaluate),
            ],
            seconds,
        )
        parsed, fallback_input = self.parsed_col_and_fallback_input()
        counts = (
            self.legs()
            .select(fallback_input.isNotNull().alias("fb"), parsed.alias("result"))
            .agg(
                F.sum(F.col("fb").cast("long")).alias("fallback"),
                F.sum(F.col("result").isNull().cast("long")).alias("nulls"),
            )
            .first()
        )
        m = {
            "sources.scan_s": t["sources.scan"],
            "sources.scan_mb": dir_stats(self.legs_path)[0] / MB,
            "functions.json_extract.parse_s": t["functions.json_extract"] - t["sources.scan"],
            "functions.json_extract.fallback_rows": counts["fallback"],
            "functions.json_extract.null_rows": counts["nulls"],
            "operators.vote.vote_s": t["operators.vote"] - t["functions.json_extract"],
            "operators.vote.groups_out": len(self.read_export()),
            "sinks.export.write_s": t["sinks.export"] - t["operators.vote"],
            "sinks.export.bytes_mb": dir_stats(self.out)[0] / MB,
            "operators.evaluate.eval_s": t["operators.evaluate"],
        }
        m["trace.layers_s"] = t["sinks.export"] + t["operators.evaluate"]
        return m


# -- near-dup dedup -----------------------------------------------------------


class DedupNear(Workload):
    """minhash_lsh_pairs -> dedup_clusters -> survivors.

    Not a workload of its own: one job runs ~60 Spark jobs and takes
    ~10 s flat, and a cold one ~25 s, so a run with enough jobs to take a
    median of does not fit the benchmark's time budget. extract_batch's
    traced run measures these layers on a near-dup corpus (``trace``) and
    checks the output of the warm-up job it runs first."""

    name = "dedup_near"
    sizes = {
        "full": {"base": 160, "replicate": 16, "max_bucket": 16},
        "smoke": {"base": 24, "replicate": 16, "max_bucket": 8},
    }
    GROUP_SIZE = 8

    def setup(self) -> None:
        self.input = self.path("docs.parquet")
        self.ids = inputs.write_near_dups(
            self.input, self.ctx.seed, self.size["base"], self.size["replicate"], self.GROUP_SIZE,
            2 * self.ctx.nproc,
        )
        self.docs_per_job = len(self.ids)

    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.input)

    def pairs(self, threshold: float = 0.7, stats: list | None = None, caches: list | None = None):
        from openllm_ocr_annotator_spark.operators.dedup import minhash_lsh_pairs

        return minhash_lsh_pairs(
            self.docs(), threshold=threshold, max_bucket_size=self.size["max_bucket"],
            stats=stats, caches=caches,
        )

    def job(self, stats: list | None = None):
        from openllm_ocr_annotator_spark.operators.dedup import dedup_clusters, survivors

        caches: list = []
        pairs = self.pairs(stats=stats, caches=caches).persist()
        docs = self.docs()
        kept = [r["doc_id"] for r in survivors(dedup_clusters(pairs, docs=docs), docs).collect()]
        return kept, pairs, caches

    def after_job(self, result):
        kept, pairs, caches = result
        edges = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
        pairs.unpersist()
        for c in caches:
            c.unpersist()
        return sorted(kept), edges

    def check(self, results: list) -> list[bool]:
        rep, gs = self.size["replicate"], self.GROUP_SIZE
        planted = {inputs.planted_group(i, rep, gs) for i in self.ids}

        def ok(kept: list[int], edges: list[tuple[int, int]]) -> bool:
            parent = {i: i for i in self.ids}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            # union by min id: every root is its component's minimum id
            expect = sorted(i for i in self.ids if find(i) == i)
            groups = [inputs.planted_group(i, rep, gs) for i in kept]
            return kept == expect and len(set(groups)) == len(groups) == len(planted)

        return [ok(k, e) for k, e in results]

    def trace(self, ledger: Ledger, meter: StageMeter, seconds: float) -> dict[str, float]:
        from openllm_ocr_annotator_spark.operators.dedup import (
            dedup_clusters,
            minhash_signatures,
            survivors,
        )

        # one job first, checked like a loop job: it warms the code the
        # ladder's prefixes run (a cold first pass would skew the self times)
        # and reports the viral-bucket side channel
        stats: list = []
        result = self.job(stats=stats)
        star = stats[0].agg(F.sum("pairs_materialized").alias("s")).first()["s"] or 0
        kept, edges = self.after_job(result)
        self.trace_checks = self.check([(kept, edges)])
        metrics: dict = {}

        def clusters():
            return dedup_clusters(self.pairs(), docs=self.docs(), metrics=metrics)

        t = ledger.ladder(
            [
                ("operators.dedup.scan", lambda: noop(self.docs())),
                ("operators.dedup.arrow_identity", lambda: noop(arrow_identity(self.docs()))),
                ("operators.dedup.pandas_identity", lambda: noop(pandas_identity(self.docs()))),
                ("operators.dedup.signature", lambda: noop(minhash_signatures(self.docs()))),
                ("operators.dedup.band_join", lambda: noop(self.pairs())),
                ("operators.dedup.cluster", lambda: noop(clusters())),
                ("operators.dedup.survivors", lambda: survivors(clusters(), self.docs()).collect()),
            ],
            seconds=0,
            min_passes=1,
        )
        pairs_out = len(edges)
        candidates = self.pairs(threshold=0.0).count()
        scan = t["operators.dedup.scan"]
        return {
            "boundary.arrow_transfer_s": t["operators.dedup.arrow_identity"] - scan,
            "boundary.pandas_to_python_s": (
                t["operators.dedup.pandas_identity"] - t["operators.dedup.arrow_identity"]
            ),
            "operators.dedup.signature_s": t["operators.dedup.signature"] - scan,
            "operators.dedup.band_join_s": (
                t["operators.dedup.band_join"] - t["operators.dedup.signature"]
            ),
            "operators.dedup.cluster_s": (
                t["operators.dedup.cluster"] - t["operators.dedup.band_join"]
            ),
            "operators.dedup.survivors_s": (
                t["operators.dedup.survivors"] - t["operators.dedup.cluster"]
            ),
            "operators.dedup.candidate_pairs": candidates,
            "operators.dedup.pairs_out": pairs_out,
            "operators.dedup.pair_yield": pairs_out / candidates if candidates else 0.0,
            "operators.dedup.cc_rounds": metrics["rounds"],
            "operators.dedup.star_edges": star,
            "operators.dedup.kept_docs": len(kept),
        }


WORKLOADS = {w.name: w for w in (ExtractBatch, AnnotateVote)}
