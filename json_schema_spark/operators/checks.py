"""Table-level validators: column stats, uniqueness, referential
integrity (SURVEY.md §2.9 — the cross-row checks the north_star adds
over the reference's per-document keywords).

All operators are single-purpose DataFrame transforms returning
DataFrames, so Catalyst fuses them with up/downstream plans; nothing
collects to the driver.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "column_stats",
    "length_histogram",
    "duplicate_keys",
    "duplicate_keys_salted",
    "uniqueness_report",
    "orphans",
    "referential_report",
    "ensure_parallelism",
]


def ensure_parallelism(df: DataFrame, min_parts: Optional[int] = None) -> DataFrame:
    """Repartition ONLY if the plan has fewer partitions than the
    session's parallelism — a local single-file parquet scan otherwise
    pins per-row-heavy plans to one core. At cluster scale the input
    already has ≥ parallelism partitions and this is a no-op (no
    shuffle inserted)."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ------------------------------------------------------------------ stats

def column_stats(df: DataFrame, cols: Optional[Iterable[str]] = None,
                 exact_distinct: bool = False, hll_rsd: float = 0.05) -> DataFrame:
    """One row per column: count, nulls, null_rate, distinct
    (HyperLogLog++ via ``approx_count_distinct`` by default — the 100 TB
    path; ``exact_distinct=True`` switches to exact for oracle tests).

    Single aggregation pass over the table (all columns at once), then a
    ``stack`` unpivot — one job, one shuffle-free scan + final reduce.

    Exact mode Expands each row N+1 ways (one per distinct-count), so a
    single-row-group local parquet file would pin that multiplied work
    to one core — repartition the slim projection up to the session
    parallelism first (a no-op at cluster scale, where the scan already
    has ≥ parallelism splits).
    """
    names = list(cols) if cols is not None else df.columns
    if exact_distinct:
        df = ensure_parallelism(df.select(*names))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in names:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
        else:
            aggs.append(F.approx_count_distinct(F.col(c), hll_rsd).alias(f"__dist_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__nulls_{c}`, `__dist_{c}`" for c in names
    )
    return wide.select(
        F.col("__n").alias("row_count"),
        F.expr(f"stack({len(names)}, {stack_args}) as (column, null_count, distinct_count)"),
    ).select(
        "column",
        "row_count",
        "null_count",
        (F.col("null_count") / F.col("row_count")).alias("null_rate"),
        "distinct_count",
    )


def length_histogram(df: DataFrame, col: str, bucket_width: int = 64,
                     bytes_mode: bool = False) -> DataFrame:
    """Histogram of string length (code points) or byte length
    (``octet_length``) in fixed-width buckets — map-side partial
    aggregation makes this one narrow shuffle of #buckets rows."""
    ln = F.octet_length(F.col(col)) if bytes_mode else F.length(F.col(col))
    bucket = F.floor(ln / bucket_width).cast("long")
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            (F.col("bucket") * bucket_width).alias("lo"),
            ((F.col("bucket") + 1) * bucket_width).alias("hi"),
            "cnt",
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------------- uniqueness

def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys occurring more than once: hash-partitioned groupBy (Spark
    does partial map-side counting automatically)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def duplicate_keys_salted(df: DataFrame, keys: Sequence[str], salt_buckets: int = 16) -> DataFrame:
    """Skew-resistant two-phase variant: pre-aggregate on (keys, salt)
    so a hot key spreads over ``salt_buckets`` reducers, then combine.
    Same result as :func:`duplicate_keys`; use when one key dominates
    (mega-repo skew per north_rule)."""
    salt = F.pmod(F.xxhash64(*[F.col(k) for k in keys], F.monotonically_increasing_id()),
                  F.lit(salt_buckets))
    phase1 = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        phase1.groupBy(*keys)
        .agg(F.sum("c").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_report(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Aggregate verdict: total rows, distinct keys, duplicate keys,
    duplicated rows — all four derived from ONE ``groupBy(keys).count()``
    pass (map-side partial counts, then a final narrow reduce of one row
    per distinct key) instead of scanning the table twice.

    NULL-key semantics match SQL ``COUNT(DISTINCT keys)``: rows where
    any key is NULL are counted in ``row_count`` but excluded from
    ``distinct_keys``/``duplicate_keys``/``duplicated_rows`` (SQL NULLs
    are pairwise unequal, so a NULL-key group is not a duplicate)."""
    per_key = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("c"))
    key_ok = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in keys])
    dup = key_ok & (F.col("c") > 1)
    return per_key.agg(
        F.sum("c").alias("row_count"),
        F.sum(key_ok.cast("long")).alias("distinct_keys"),
        F.sum(dup.cast("long")).alias("duplicate_keys"),
        F.coalesce(F.sum(F.when(dup, F.col("c"))), F.lit(0)).alias("duplicated_rows"),
    )


# ------------------------------------------------------------ referential

def orphans(child: DataFrame, parent: DataFrame, on: Sequence[str] | str,
            broadcast_parent: Optional[bool] = None) -> DataFrame:
    """Child rows whose key is absent from the parent (left-anti join).

    ``broadcast_parent=True`` forces a broadcast hash anti-join (small
    dimension — no shuffle of the 100 TB fact side); ``None`` lets
    Catalyst/AQE decide from statistics; ``False`` forces shuffle
    (sort-merge / shuffled-hash) for big-big."""
    keys = [on] if isinstance(on, str) else list(on)
    p = parent.select(*keys).dropDuplicates(keys)
    if broadcast_parent is True:
        p = F.broadcast(p)
    elif broadcast_parent is False:
        p = p.hint("shuffle_hash")
    cond = reduce(
        lambda a, b: a & b, [child[k].eqNullSafe(p[k]) for k in keys]
    )
    return child.join(p, cond, "left_anti")


def referential_report(child: DataFrame, parent: DataFrame, on: Sequence[str] | str,
                       broadcast_parent: Optional[bool] = None) -> DataFrame:
    keys = [on] if isinstance(on, str) else list(on)
    o = orphans(child, parent, keys, broadcast_parent)
    return o.groupBy(*keys).agg(F.count(F.lit(1)).alias("orphan_rows"))
