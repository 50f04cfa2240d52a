"""JSON result loading (SURVEY §2.1 S5/S6/S7/S8).

The reference's persistence layer is "one JSON file per document" laid out
as ``<task>/<annotator>/<model>/[sample_i/]<stem>.json``; loading walks
directories, attaches the filename stem as the document id, skips corrupt
files with a warning, and tolerates missing annotator legs
(reference: voters/manager.py:35-97 collect_annotations,
utils/dataset_converter.py:21-46 load_voted_results,
utils/formatter.py:84-108 read_jsonl).

Spark restatement: declarative JSON scans —
- PERMISSIVE mode + a corrupt-record side column replaces try/except-skip
  (corrupt rows are *counted and dropped*, not silently lost);
- ``input_file_name()`` + a stem regexp replaces the Path.stem bookkeeping
  (F8);
- per-annotator directory fan-in becomes a tagged ``unionByName`` (O3/J1) —
  a missing leg directory contributes zero rows, exactly like the
  reference's warn-and-skip.

At scale these scans parallelize over file splits for free; one JSON file
per doc is preserved as a *compatibility* reader — the engine's native
persistence is the snapshot parquet table (sources/tables.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

CORRUPT_COL = "_corrupt_record"

#: minimal annotation-record schema (reference contract:
#: docs/architecture.md:130-152 — result.fields + metadata)
ANNOTATION_SCHEMA = T.StructType(
    [
        T.StructField(
            "result",
            T.StructType(
                [
                    T.StructField(
                        "fields",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("field_name", T.StringType()),
                                    T.StructField("value", T.StringType()),
                                    T.StructField("confidence", T.DoubleType()),
                                ]
                            )
                        ),
                    )
                ]
            ),
        ),
        T.StructField("model", T.StringType()),
        T.StructField("task", T.StringType()),
    ]
)


def _with_corrupt(schema: T.StructType) -> T.StructType:
    return T.StructType([*schema.fields, T.StructField(CORRUPT_COL, T.StringType())])


def read_json_docs(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """S6/S8: read per-doc JSON files; corrupt files dropped, stem attached.

    Each file holds one pretty-printed JSON object (``multiLine``; the
    reference's ``json.dump(indent=2)`` layout).
    Output: declared columns + ``filename`` + ``doc_id`` (the stem).
    """
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    # input_file_name() returns a URI-encoded path: a stem with spaces or
    # non-ASCII comes back percent-encoded and would diverge from the
    # reference's Path.stem (silently breaking every stem-keyed join).
    # url_decode inverts it — with '+' pre-escaped to %2B first, because
    # url_decode speaks form-encoding where bare '+' means space, while in
    # a URI path a '+' is literal.
    stem = F.regexp_extract(F.col("filename"), r"([^/]+)\.[A-Za-z0-9]+$", 1)
    return (
        df.filter(F.col(CORRUPT_COL).isNull())
        .drop(CORRUPT_COL)
        .withColumn("filename", F.input_file_name())
        .withColumn(
            "doc_id",
            F.url_decode(F.regexp_replace(stem, r"\+", "%2B")),
        )
    )


def corrupt_count(
    spark: SparkSession, path: str, schema: T.StructType
) -> int:
    """Accounting twin of ``read_json_docs``: how many files were dropped."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        .cache()  # Spark disallows corrupt-column-only queries on raw scans
    )
    try:
        return df.filter(F.col(CORRUPT_COL).isNotNull()).count()
    finally:
        df.unpersist()


def _glob_exists(spark: SparkSession, pattern: str) -> bool:
    """True iff the path/glob matches at least one filesystem entry."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(pattern)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    matches = fs.globStatus(p)
    return matches is not None and len(matches) > 0


def load_annotation_legs(spark: SparkSession, legs: dict[str, str]) -> DataFrame:
    """S5/J1: per-annotator directory fan-in → one table tagged annotator_id.

    ``legs``: annotator_id → directory glob. A missing/empty leg directory
    contributes zero rows (the reference warns and skips,
    voters/manager.py:63-68). Equivalent N-way equi-join on doc_id is the
    downstream ``groupBy("doc_id")``.
    """
    parts: list[DataFrame] = []
    for annotator_id, path in legs.items():
        if not _glob_exists(spark, path):  # warn-and-skip semantics
            continue
        leg = read_json_docs(spark, path, ANNOTATION_SCHEMA)
        parts.append(leg.withColumn("annotator_id", F.lit(annotator_id)))
    if not parts:
        return (
            spark.createDataFrame(
                to_arrow_schema(ANNOTATION_SCHEMA).empty_table(), ANNOTATION_SCHEMA
            )
            .withColumn("filename", F.lit(""))
            .withColumn("doc_id", F.lit(""))
            .withColumn("annotator_id", F.lit(""))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S7: line-delimited JSON (blank/corrupt lines dropped, like the
    reference's blank-line skip in utils/formatter.py:95-107)."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
