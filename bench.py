"""Round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (COMPACT — the driver parses the stdout tail, and
round-3's line with per-query min/max spreads inline overflowed its
capture window, recording parsed=null; spreads now go to the
``bench_details.json`` sidecar next to this script):
  {"metric": "bench_total", "value": <total sec>, "unit": "sec",
   "queries": {...per-query cold sec...}, "warm_total": <sec>,
   "sf": <sf>, "files_per_sec": <flagship validated files/sec>, "cpus": N}
(per-query warm times + spreads: bench_details.json)

The flagship workload is the north-rule job: draft-07 validation of
the synthetic source-code table (rows ∝ sf), typed-row Column
expression path + per-partition ledger. Every query is materialized
through the noop sink so nothing is pruned away by a count().
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from json_schema_spark.session import get_spark  # noqa: E402
from json_schema_spark.flagship import validate_source_table  # noqa: E402
from json_schema_spark.operators.ledger import partition_ledger  # noqa: E402
from json_schema_spark.sources.synth import source_code_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
FLAGSHIP_ROWS_PER_SF = 2_000_000  # 200k files at sf0.1

HEADLINE = [
    "validate_documents",
    "validate_documents_kernel",
    "validate_events_json",
    "column_stats_lineitem",
    "duplicate_keys_events",
    "anti_join_customers_without_events",
    "psi_events_click_vs_view",
    "ks_orders_totalprice",
    "snapshot_diff_orders",
    "incremental_validate_documents",
    "incremental_changelog_documents",
    "agg_pricing_summary",
]


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    import shutil
    import tempfile

    sf = _sf_of(SF_DIR)
    spark = get_spark(app="bench", cores=CPUS)
    qs = E.queries()
    times: dict[str, float] = {}

    # setup (untimed): materialize the synthetic source-code table to
    # parquet so the flagship measures validation-over-files (the
    # real workload shape), not row generation; also JIT-warms the JVM.
    rows = max(10_000, int(FLAGSHIP_ROWS_PER_SF * sf))
    tmp = tempfile.mkdtemp(prefix="bench_src_")
    src_path = f"{tmp}/source_files.parquet"
    source_code_table(spark, rows, partitions=CPUS * 4).write.parquet(src_path)
    t_all = time.perf_counter()

    # flagship: draft-07 validation of the source-code file table + ledger
    t0 = time.perf_counter()
    validated = validate_source_table(spark.read.parquet(src_path))
    _materialize(partition_ledger(validated))
    t_flag = time.perf_counter() - t0
    times["flagship_validation"] = round(t_flag, 3)

    # bench-only perf variant (not a driver query): the skew-salted
    # flagship over a Zipf-skewed repo distribution.
    def _salted_flagship(spark, sf_dir):
        # skew-mitigated layout: repartition(N, repo, salt) over the
        # Zipf-shaped repo distribution (the largest repo holds ~15% of
        # rows), then validate + ledger — the plan a cluster runs when
        # downstream per-repo work follows validation (SURVEY §4.2)
        return partition_ledger(validate_source_table(
            spark.read.parquet(src_path), salt_partitions=CPUS * 4))

    EXTRAS = {"flagship_salted": _salted_flagship}

    for name in HEADLINE:
        t0 = time.perf_counter()
        _materialize(qs[name](spark, SF_DIR))
        times[name] = round(time.perf_counter() - t0, 3)
    for name, fn in EXTRAS.items():
        t0 = time.perf_counter()
        _materialize(fn(spark, SF_DIR))
        times[name] = round(time.perf_counter() - t0, 3)

    total = time.perf_counter() - t_all

    # Warm passes, BEST-OF-3 with recorded spread (separately reported):
    # the cold pass above keeps the round-over-round methodology (single
    # shot, JIT-cold stages), but single-shot numbers on this shared
    # host swing 2-5x with co-tenant windows (r02's warm pass came out
    # SLOWER than cold — pure noise). Best-of-3 + min/max spread makes
    # regressions attributable: a real regression moves the MIN; noise
    # only widens the spread.
    runs: list[dict[str, float]] = []
    for _ in range(3):
        w: dict[str, float] = {}
        t0 = time.perf_counter()
        validated = validate_source_table(spark.read.parquet(src_path))
        _materialize(partition_ledger(validated))
        w["flagship_validation"] = time.perf_counter() - t0
        for name in HEADLINE:
            t0 = time.perf_counter()
            _materialize(qs[name](spark, SF_DIR))
            w[name] = time.perf_counter() - t0
        for name, fn in EXTRAS.items():
            t0 = time.perf_counter()
            _materialize(fn(spark, SF_DIR))
            w[name] = time.perf_counter() - t0
        runs.append(w)
    warm = {k: round(min(r[k] for r in runs), 3) for k in runs[0]}
    spread = {k: [round(min(r[k] for r in runs), 3),
                  round(max(r[k] for r in runs), 3)] for k in runs[0]}
    t_flag_warm = warm["flagship_validation"]

    payload = {
        "metric": "bench_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": times,
        "queries_warm": warm,
        "warm_total": round(sum(warm.values()), 3),
        "sf": sf,
        "files_per_sec": round(rows / t_flag, 1),
        "files_per_sec_warm": round(rows / t_flag_warm, 1),
        "flagship_rows": rows,
        "cpus": CPUS,
    }
    # full record incl. per-query best-of-3 min/max spreads → sidecar
    side = dict(payload)
    side["queries_warm_spread"] = spread
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_details.json")
    with open(sidecar, "w") as f:
        json.dump(side, f, indent=1)
    # the machine-readable line the driver captures: compact separators,
    # 2-decimal per-query COLD times only — the per-query warm map lives
    # in the sidecar (warm_total + files_per_sec_warm stay inline). At
    # 28 queries the cold+warm line hit ~1.9 KB, a new query away from
    # the ~2 KB tail window that nulled BENCH_r03 — keep headroom.
    compact = dict(payload)
    compact["queries"] = {k: round(v, 2) for k, v in times.items()}
    del compact["queries_warm"]
    print(json.dumps(compact, separators=(",", ":")))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
