"""Structured Streaming validation: the same compiled Column
expressions applied to a streaming DataFrame.

The reference has no streaming operators (Reactor is a local thread
pool, SURVEY.md §4); this extends the engine the way a Spark-first
design naturally does — validation expressions are stateless, so
``readStream → withColumn(valid/violations) → writeStream`` needs no
custom stateful operator. Late data is handled with watermarked
event-time windows for the violation-rate aggregation; the per-batch
ledger runs inside ``foreachBatch`` so each micro-batch appends its
own pass/fail metrics row (micro-batch id = the resume lineage).
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, functions as F

from ..plans.runner import SparkValidator

__all__ = [
    "validate_stream",
    "windowed_violation_rates",
    "stream_ledger_writer",
    "stream_dedup",
    "running_violation_totals",
]


def validate_stream(stream_df: DataFrame, validator: SparkValidator,
                    columns: Optional[Iterable[str]] = None,
                    doc_col: Optional[str] = None,
                    with_violations: bool = True) -> DataFrame:
    """Add ``valid``/``violations`` to a streaming DataFrame. Exactly
    one of ``columns`` (typed-row mode) or ``doc_col`` (JSON mode)."""
    if (columns is None) == (doc_col is None):
        raise ValueError("pass exactly one of columns= or doc_col=")
    if doc_col is not None:
        return validator.apply_json(stream_df, doc_col, with_violations=with_violations)
    return validator.apply_table(stream_df, columns=columns, with_violations=with_violations)


def windowed_violation_rates(validated: DataFrame, ts_col: str,
                             window: str = "1 minute",
                             watermark: str = "2 minutes") -> DataFrame:
    """Event-time windowed pass/fail rates with a watermark for late
    rows; emits one row per (window) with rows, violations, rate."""
    return (
        validated.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((~F.coalesce(F.col("valid"), F.lit(False))).cast("long")).alias("violation_rows"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "rows",
            "violation_rows",
            (F.col("violation_rows") / F.col("rows")).alias("violation_rate"),
        )
    )


def stream_dedup(stream_df: DataFrame, key_cols: Iterable[str], ts_col: str,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: state-store-backed
    ``dropDuplicatesWithinWatermark`` — duplicates arriving within the
    watermark horizon are dropped, state is evicted past it (bounded
    memory at any throughput; the streaming analogue of
    ``checks.duplicate_keys``, which reports duplicates instead of
    dropping them)."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )


def running_violation_totals(validated: DataFrame, key_col: str,
                             timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: running
    per-key row/violation totals carried across micro-batches in the
    state store (the pattern for stateful logic the built-in operators
    can't express). Output mode: update."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, rows long, violation_rows long"
    state_schema = "rows long, violation_rows long"

    def update(key, pdfs, state: GroupState):
        rows = viols = 0
        for pdf in pdfs:
            rows += len(pdf)
            v = pdf["valid"].fillna(False).astype(bool)
            viols += int((~v).sum())
        if state.exists:
            r0, v0 = state.get
            rows += r0
            viols += v0
        state.update((rows, viols))
        yield pd.DataFrame(
            {key_col: [key[0]], "rows": [rows], "violation_rows": [viols]}
        )

    return (
        validated.select(F.col(key_col).cast("string").alias(key_col), "valid")
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            getattr(GroupStateTimeout, timeout),
        )
    )


def stream_ledger_writer(ledger_path: str, key_col: str = "row_id"):
    """``foreachBatch`` function appending a per-micro-batch ledger
    (batch id + the per-partition JVM ledger rows) — the streaming
    analogue of the batch partition ledger."""
    from ..operators.ledger import partition_ledger

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (partition_ledger(batch_df, key_col=key_col)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(ledger_path))

    return write_batch
