"""Per-partition pass/fail + metrics ledger (north_rule).

One output row per Spark input partition: rows scanned, violation
count, elapsed ms, and a sha256 digest of the partition's sorted
violation set — the distributed analogue of the reference's result-tree
sink (``results/ValidationResultFactory.java:240-262``), emitted in a
single narrow pass (``mapInPandas``: no shuffle, no driver collect).

Digest determinism: violations are digested as sorted
``row_key|path|keyword`` lines within each partition, so re-running the
same input with the same partitioning yields byte-identical ledger rows
(checkpoint/resume verification relies on this). A global
order-insensitive digest is also provided via :func:`global_digest`
(bit-XOR of per-row hashes — partitioning-independent).
"""

from __future__ import annotations

import hashlib
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..session import install_zip_cache_check

__all__ = ["partition_ledger", "global_digest"]

LEDGER_SCHEMA = (
    "partition_id int, rows_scanned long, valid_rows long, violation_rows long, "
    "violations long, elapsed_ms double, violations_sha256 string"
)


def partition_ledger(validated: DataFrame, key_col: str = "row_id",
                     timed: bool = False, part_col: str | None = None) -> DataFrame:
    """``validated`` must carry ``valid: boolean`` and ``violations:
    array<struct<path,keyword,message>>`` (from SparkValidator) plus a
    stable per-row key column.

    Default path is a pure-JVM aggregation (groupBy partition_id with a
    sha256 over the sorted flattened violation lines — whole-stage
    codegen, no Arrow transfer); ``timed=True`` switches to the
    ``mapInPandas`` variant that additionally measures per-partition
    wall clock in ``elapsed_ms`` (the metrics-ledger mode; it pays the
    Arrow round trip for the timing).

    ``part_col`` replaces the physical ``spark_partition_id`` with a
    caller-supplied deterministic bucket column (e.g. ``key % N``) so
    ledger rows are stable across repartitionings — the resumable-run
    and oracle-checkable form."""
    if not timed:
        pid = (F.col(part_col).cast("int") if part_col is not None
               else F.spark_partition_id())
        # the per-row projection holds no higher-order function, so it
        # stays in the scan's whole-stage-codegen stage: only invalid
        # rows reach the aggregate, as (key, paths, keywords), and the
        # ``key|path|keyword`` lines are built once per partition after it
        n = F.coalesce(F.array_size("violations"), F.lit(0))
        slim = validated.select(
            pid.alias("partition_id"),
            F.coalesce(F.col("valid"), F.lit(False)).alias("v"),
            n.alias("n"),
            F.when(n > 0, F.struct(
                F.col(key_col).cast("string").alias("k"),
                F.col("violations.path").alias("p"),
                F.col("violations.keyword").alias("w"),
            )).alias("r"),
        )
        lines = F.flatten(F.transform(
            F.col("rs"),
            lambda r: F.transform(r["p"], lambda x, i: F.concat_ws(
                "|", r["k"], x, F.element_at(r["w"], i + 1)))))
        return (
            slim.groupBy("partition_id")
            .agg(
                F.count(F.lit(1)).alias("rows_scanned"),
                F.sum(F.col("v").cast("long")).alias("valid_rows"),
                F.sum((~F.col("v")).cast("long")).alias("violation_rows"),
                F.sum(F.col("n").cast("long")).alias("violations"),
                F.collect_list("r").alias("rs"),
            )
            .select(
                "partition_id", "rows_scanned", "valid_rows", "violation_rows",
                "violations", F.lit(None).cast("double").alias("elapsed_ms"),
                F.sha2(F.concat_ws("\n", F.sort_array(lines)), 256)
                .alias("violations_sha256"),
            )
        )

    pid = (F.col(part_col).cast("int") if part_col is not None
           else F.spark_partition_id())
    slim = validated.select(
        pid.alias("pid"),
        F.col(key_col).cast("string").alias("k"),
        F.col("valid"),
        F.coalesce(
            F.transform(F.col("violations"), lambda v: F.concat_ws("|", v["path"], v["keyword"])),
            F.array(),
        ).alias("vkeys"),
    )
    if part_col is not None:
        # co-locate each logical bucket in one physical partition so its
        # sorted-line digest is computed whole (identical to the untimed
        # path and stable across input repartitionings); the slim
        # projection keeps the shuffle to 4 narrow columns
        slim = slim.repartition("pid")

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Group by the ledger id WITHIN the kernel: with part_col, one
        # physical partition can carry several logical buckets (they
        # only align after an explicit repartition, which we don't
        # require) — labeling the whole partition with the first id
        # would lump buckets together. The physical partition's wall
        # clock is APPORTIONED across the buckets it carried by row
        # share, so SUM(elapsed_ms) over the ledger equals total
        # partition wall clock (duplicating the full clock onto every
        # bucket over-counted the sum).
        install_zip_cache_check()
        t0 = time.perf_counter()
        acc: dict[int, list] = {}  # pid -> [rows, valid, viol_rows, viols, lines]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = pdf["valid"].fillna(False)
            for pid_, ok, k, vk in zip(pdf["pid"], v, pdf["k"], pdf["vkeys"]):
                st = acc.setdefault(int(pid_), [0, 0, 0, 0, []])
                st[0] += 1
                if ok:
                    st[1] += 1
                else:
                    st[2] += 1
                if vk is not None and len(vk):
                    st[3] += len(vk)
                    st[4].extend(f"{k}|{x}" for x in vk)
        if not acc:
            return
        elapsed = (time.perf_counter() - t0) * 1000.0
        total_rows = sum(st[0] for st in acc.values())
        out = {"partition_id": [], "rows_scanned": [], "valid_rows": [],
               "violation_rows": [], "violations": [], "elapsed_ms": [],
               "violations_sha256": []}
        for pid_ in sorted(acc):
            rows, valid_rows, viol_rows, viols, lines = acc[pid_]
            lines.sort()
            out["partition_id"].append(pid_)
            out["rows_scanned"].append(rows)
            out["valid_rows"].append(valid_rows)
            out["violation_rows"].append(viol_rows)
            out["violations"].append(viols)
            out["elapsed_ms"].append(elapsed * rows / total_rows)
            out["violations_sha256"].append(
                hashlib.sha256("\n".join(lines).encode()).hexdigest())
        yield pd.DataFrame(out)

    return slim.mapInPandas(per_partition, schema=LEDGER_SCHEMA)


def global_digest(validated: DataFrame, key_col: str = "row_id") -> DataFrame:
    """Order-insensitive global violation digest: XOR of per-violation
    64-bit hashes + total count. Partitioning-independent, single
    aggregation, no sort at scale."""
    v = validated.select(
        F.col(key_col).cast("string").alias("k"),
        F.explode_outer("violations").alias("viol"),
    ).select(
        F.when(
            F.col("viol").isNotNull(),
            F.xxhash64(F.concat_ws("|", F.col("k"), F.col("viol.path"), F.col("viol.keyword"))),
        ).alias("h")
    )
    return v.agg(
        F.count("h").alias("violation_count"),
        F.coalesce(
            F.expr("conv(cast(bit_xor(h) as string), 10, 16)"), F.lit("0")
        ).alias("violations_xor64"),
    )
