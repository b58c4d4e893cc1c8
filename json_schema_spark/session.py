"""SparkSession factory tuned for the validation workload, and the
set-up of the Python workers that run the fallback kernel.

Defaults follow the local-mode guidance in the public Spark docs:
AQE on, Arrow on, shuffle partitions sized to cores (not 200).
On a real cluster the same builder args apply unchanged; only
``master`` and memory sizing differ (spark-submit supplies them).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_driver_memory", "install_zip_cache_check"]


def install_zip_cache_check() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size)`` changed since that importer
    last read it. Idempotent; called from the executor entry points,
    never at import time.

    PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task, and before Python 3.13 each cached zipimporter then
    re-parses its archive's whole central directory in pure Python:
    16 importers over ``pyspark.zip``, the py4j zip and the Spark core
    jar, 0.15-0.4 s per task before the first Arrow batch. A changed
    or unseen archive is still re-read, so stale entries never serve."""
    if sys.version_info >= (3, 13):  # zipimport re-reads lazily there
        return
    eager = zipimport.zipimporter.invalidate_caches
    if getattr(eager, "stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or self.__dict__.get("_read_stamp") != stamp:
            eager(self)
            self._read_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def default_driver_memory(physical_bytes: int | None = None) -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 40% of
    physical memory, whole GiB, at least 1g and at most 24g. 24g is
    where 16+ local threads stop losing CPU to GC (BASELINE.md round 2,
    run 3); a larger share of a small host lets the JVM outgrow it."""
    if physical_bytes is None:
        physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, int(physical_bytes * 0.4) >> 30))}g"


def get_spark(app: str = "json_schema_spark", cores: int | None = None,
              shuffle_partitions: int | None = None, ui: bool = False,
              extra: dict | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # InferFiltersFromGenerate copies the generator's INPUT expression
        # into a `size(e) > 0` filter that predicate-pushdown then sinks
        # below the projection that computes it, so a computed generator
        # input re-evaluates there: `violations_df` explodes the
        # violations array, and with the rule on its optimized plan
        # carries a second copy of that array's expression as a filter.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        # Start G1 concurrent marking early (default IHOP 45%): mixed
        # query sequences otherwise accumulate ~10g of old-gen garbage
        # in a 24g heap, and the first allocation-heavy stage after that
        # hits a concurrent-mark/mixed-GC storm mid-stage (measured: the
        # MinHash verify stage at 3-6x its clean time, 650s of GC pause
        # across 32 tasks). IHOP=30 keeps marking ahead of the burst.
        .config("spark.driver.extraJavaOptions",
                "-XX:InitiatingHeapOccupancyPercent=30 -XX:G1ReservePercent=15")
        # try_parse_json keeps the last of duplicate keys, as the kernel
        # does; off, it rejects the document (apply_json then falls back)
        .config("spark.sql.variant.allowDuplicateKeys", "true")
        # DataFrame debugging records the Python call site of every
        # Column call in the JVM: ten more py4j round trips per call
        # (``F.col`` 3 → 13), about half the compiler's driver time
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
