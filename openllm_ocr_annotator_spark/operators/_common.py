"""Shared physical-plan and Python-boundary helpers for operator modules."""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread_partitions(df: DataFrame, *keys: str) -> DataFrame:
    """Ensure a CPU-heavy stage has at least shuffle.partitions partitions.

    Small-byte inputs (one parquet file, a narrow projection) arrive as a
    single scan split, which would serialize any Python kernel downstream on
    one core — AQE coalesces by bytes, not CPU cost. One cheap row shuffle
    up front parallelizes the whole map side. No-op when the scan already
    has enough splits (the 100 TB case: thousands of file splits).
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < n_part:
        df = df.repartition(n_part, *keys) if keys else df.repartition(n_part)
    return df


def text_or_empty(value) -> str:
    """The engine's NULL-text rule: a NULL text is the empty document.

    Bare ``str()`` would turn NULL into the word 'None': a NULL-text doc
    would then be a near-dup of any real document whose text is 'none',
    and a driver-side trainer would learn from a token its scorer never
    sees. Every Python kernel and trainer that reads a text column goes
    through this one definition."""
    return "" if value is None else str(value)


def column_udf(
    return_type: str,
    kernel: Callable[..., object],
    setup: Callable[[], object] = lambda: None,
    arg: Callable[[object], object] | None = text_or_empty,
):
    """Iterator pandas UDF over one (or a few) columns: one value per row.

    ``kernel(values, state)`` maps a batch's values (each passed through
    ``arg`` — the NULL-text rule unless the column is not text; with
    ``arg=None`` the kernel gets the batch's pandas Series as is) to a
    same-length sequence, or to a ``pd.DataFrame`` for a struct return
    type; called with k columns, the kernel gets k value lists before
    ``state``. ``setup()`` runs once per task and its result is ``state``
    (broadcast ``.value`` reads, per-task memos). Only the argument
    columns cross into Python (one ``ArrowEvalPython`` node); the caller's
    pass-through columns stay in the JVM, and so does any fan-out: a
    kernel that returns an array per row is exploded by the caller."""

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        state = setup()
        for batch in batches:
            cols = batch if isinstance(batch, tuple) else (batch,)
            out = kernel(*(c if arg is None else [arg(v) for v in c] for c in cols), state)
            yield out if isinstance(out, pd.DataFrame) else pd.Series(out)

    return F.pandas_udf(run, return_type)
