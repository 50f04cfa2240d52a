"""openllm_ocr_annotator_spark — a PySpark-native extraction engine.

A from-scratch re-expression of the query/data-processing capabilities of
``diqiuzhuanzhuan/openllm-ocr-annotator`` (the reference checkout is cited by
``file:line`` in SURVEY.md, not present in this repository) as idiomatic
Spark: DataFrame/SQL plans optimized by Catalyst, with a single vectorized
Arrow kernel (``mapInArrow``) replacing the reference's per-image LLM
annotation loop
(reference: src/openllm_ocr_annotator/pipeline/run_annotation.py:157-208).

Layout
------
- ``kernel/``     pure-Python/NumPy extraction kernel (DOM tokenizer,
                  boilerplate scorer, layout segmenter, span merge) — shared
                  between the Spark operator and the pytest oracle.
- ``operators/``  Spark operators: extract, vote, evaluate, dedup,
                  similarity, resume.
- ``functions/``  column-expression libraries: field matchers, JSON
                  extraction chain, text-analysis functions.
- ``sources/``    table registry + snapshot/manifest layer (Iceberg-style
                  resume semantics on plain parquet).
- ``sinks/``      JSONL / TSV-span / split-parquet exports.
- ``streaming/``  incremental (readStream + foreachBatch) variant of the
                  resume anti-join.
- ``_pyworker.py`` stat-guards ``zipimporter.invalidate_caches``, which
                  PySpark's worker calls before every Python task; imported
                  here so every worker that unpickles an engine function
                  stops re-reading pyspark.zip on each task.
"""

from openllm_ocr_annotator_spark import _pyworker

_pyworker.install()

__version__ = "0.1.0"
