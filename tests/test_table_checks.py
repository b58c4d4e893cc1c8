"""Known-answer tests for table-level validators over the planted
synthetic source-code table (FIXTURES.md §1/§4)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from json_schema_spark.flagship import validate_source_table
from json_schema_spark.operators.checks import (
    column_stats,
    duplicate_keys,
    duplicate_keys_salted,
    ensure_parallelism,
    length_histogram,
    orphans,
    uniqueness_report,
)
from json_schema_spark.operators.checkpoint import ResumableRun
from json_schema_spark.operators.drift import ks_bucketed, ks_exact, psi
from json_schema_spark.operators.ledger import global_digest, partition_ledger
from json_schema_spark.sources.synth import ORPHAN_REPO_IDS, N_ORGS, repos_dim, source_code_table

N = 12000


@pytest.fixture(scope="module")
def table(spark):
    df = source_code_table(spark, N, partitions=6).cache()
    df.count()
    yield df
    df.unpersist()


def test_planted_violation_counts(spark, table):
    v = validate_source_table(table).cache()
    kw = {
        (r["keyword"], r["path"]): r["cnt"]
        for r in (
            v.filter(~F.col("valid"))
            .select(F.explode("violations").alias("x"))
            .groupBy(F.col("x.keyword").alias("keyword"), F.col("x.path").alias("path"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
    }
    # ONE joined error per row listing every missing name
    # (RequiredCompiler.java:40,52-54 — reference-parity messages), so
    # row 0, planted with BOTH missing columns, counts once
    planted_required = set(range(0, N, 997)) | set(range(0, N, 1009))
    assert kw[("required", "")] == len(planted_required)
    assert kw[("pattern", "/commit")] == len(range(0, N, 499))
    assert kw[("enum", "/lang")] == len(range(0, N, 503))
    assert kw[("maxLength", "/path")] == len(range(0, N, 991))
    v.unpersist()


def test_sha256_invariant(spark, table):
    """input_hint: per-row sha256(content) must equal an independent
    (non-Spark) computation — cross-engine invariant."""
    v = validate_source_table(table, with_violations=False)
    rows = v.filter(F.col("content").isNotNull()).orderBy("row_id").limit(200).collect()
    for r in rows:
        assert r["content_sha256"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_column_stats(spark, table):
    stats = {r["column"]: r for r in column_stats(table, exact_distinct=True).collect()}
    assert stats["repo"]["null_count"] == len(range(0, N, 997))
    assert stats["content"]["null_count"] == len(range(0, N, 1009))
    assert stats["row_id"]["distinct_count"] == N
    # lang: 8 enum values + planted 'golang'
    assert stats["lang"]["distinct_count"] == 9
    approx = {r["column"]: r for r in column_stats(table).collect()}
    assert abs(approx["lang"]["distinct_count"] - 9) <= 1


def test_ensure_parallelism_fans_out_only_narrow_plans(spark):
    """A plan with fewer partitions than asked for is repartitioned,
    rows intact; one that already has enough is returned as is."""
    narrow = spark.range(0, 100, numPartitions=1)
    wide = ensure_parallelism(narrow, min_parts=4)
    assert wide.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in wide.collect()) == list(range(100))
    assert ensure_parallelism(wide, min_parts=4) is wide
    parallel = spark.range(0, 100, numPartitions=6)
    assert ensure_parallelism(parallel, min_parts=4) is parallel


def test_ensure_parallelism_defaults_to_session_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    out = ensure_parallelism(spark.range(0, 10, numPartitions=1))
    assert out.rdd.getNumPartitions() == target


def test_uniqueness(spark, table):
    keys = ["repo", "path", "commit"]
    dups = duplicate_keys(table.filter(F.col("repo").isNotNull()), keys)
    expected_dup_keys = len(range(1013, N, 1013))  # row 0 has no predecessor
    assert dups.count() == expected_dup_keys
    assert dups.agg(F.max("dup_count")).collect()[0][0] == 2
    salted = duplicate_keys_salted(table.filter(F.col("repo").isNotNull()), keys)
    assert salted.count() == expected_dup_keys
    rep = uniqueness_report(table.filter(F.col("repo").isNotNull()), keys).collect()[0]
    assert rep["duplicate_keys"] == expected_dup_keys
    assert rep["duplicated_rows"] == 2 * expected_dup_keys


def test_referential_orphans(spark, table):
    dim = repos_dim(spark)
    orphan_names = {f"org{r % N_ORGS}/repo{r}" for r in ORPHAN_REPO_IDS}
    o = orphans(table.filter(F.col("repo").isNotNull()), dim, "repo", broadcast_parent=True)
    got = {r["repo"] for r in o.select("repo").distinct().collect()}
    assert got == orphan_names
    expected_rows = table.filter(F.col("repo").isin(list(orphan_names))).count()
    assert o.count() == expected_rows


def test_length_histogram(spark, table):
    hist = length_histogram(table, "content", bucket_width=128).collect()
    assert sum(r["cnt"] for r in hist) == table.filter(F.col("content").isNotNull()).count()
    assert all(r["hi"] - r["lo"] == 128 for r in hist)


def test_drift_detects_shift(spark):
    base = source_code_table(spark, 8000, plant=False, drift=False).select(
        F.length("content").alias("len")
    )
    cur = source_code_table(spark, 8000, plant=False, drift=True).select(
        F.length("content").alias("len")
    )
    same = source_code_table(spark, 8000, plant=False, drift=False).select(
        F.length("content").alias("len")
    )
    psi_shift = psi(cur, base, "len", 0, 4096, 32).collect()[0]["psi"]
    psi_same = psi(same, base, "len", 0, 4096, 32).collect()[0]["psi"]
    assert psi_same < 1e-9
    assert psi_shift > 0.001, psi_shift
    ks_b = ks_bucketed(cur, base, "len", 0, 4096, 256).collect()[0]["ks"]
    ks_e = ks_exact(cur, base, "len").collect()[0]["ks"]
    assert ks_b > 0
    assert abs(ks_b - ks_e) < 0.01
    assert ks_exact(same, base, "len").collect()[0]["ks"] == 0.0


def test_ledger_and_digest_deterministic(spark, table):
    v = validate_source_table(table)
    l1 = {r["partition_id"]: r for r in partition_ledger(v).collect()}
    l2 = {r["partition_id"]: r for r in partition_ledger(v).collect()}
    assert sum(r["rows_scanned"] for r in l1.values()) == N
    for pid, r in l1.items():
        assert r["violations_sha256"] == l2[pid]["violations_sha256"]
    g1 = global_digest(v).collect()[0]
    g2 = global_digest(v.repartition(3)).collect()[0]
    assert g1["violations_xor64"] == g2["violations_xor64"]  # partitioning-independent
    assert g1["violation_count"] == g2["violation_count"]


def test_ledger_fast_matches_timed(spark, table):
    """The JVM-aggregation ledger and the mapInPandas timed ledger must
    agree on every metric and on the per-partition violation digest."""
    v = validate_source_table(table)
    fast = {r["partition_id"]: r for r in partition_ledger(v).collect()}
    timed = {r["partition_id"]: r for r in partition_ledger(v, timed=True).collect()}
    assert fast.keys() == timed.keys()
    for pid in fast:
        for field in ("rows_scanned", "valid_rows", "violation_rows",
                      "violations", "violations_sha256"):
            assert fast[pid][field] == timed[pid][field], (pid, field)
        assert timed[pid]["elapsed_ms"] is not None


def test_ledger_timed_part_col_misaligned(spark, table):
    """ADVICE r02: with part_col, logical buckets normally do NOT align
    with physical partitions — the timed kernel must still emit one
    correct row per bucket (it repartitions on the bucket and groups by
    it inside the kernel), byte-identical digests to the untimed path."""
    v = validate_source_table(table).withColumn(
        "bucket", F.pmod(F.col("row_id"), F.lit(5)))
    # deliberately scramble the physical layout so buckets straddle
    # partitions before the ledger runs
    v = v.repartition(7)
    fast = {r["partition_id"]: r for r in
            partition_ledger(v, key_col="row_id", part_col="bucket").collect()}
    timed = {r["partition_id"]: r for r in
             partition_ledger(v, key_col="row_id", part_col="bucket",
                              timed=True).collect()}
    assert set(fast) == set(timed) == set(range(5))
    for pid in fast:
        for field in ("rows_scanned", "valid_rows", "violation_rows",
                      "violations", "violations_sha256"):
            assert fast[pid][field] == timed[pid][field], (pid, field)


def test_flagship_outputs_pinned(spark, tmp_path):
    """Byte-identity pin of the flagship's ``(row_id, valid,
    violations)`` and of its untimed ledger over one partition: a
    rewrite of how the violations array or the ledger lines are built
    must not move a byte."""
    p = str(tmp_path / "src")
    source_code_table(spark, 20000, seed=3, partitions=4).write.parquet(p)
    df = spark.read.parquet(p)
    rows = F.to_json(F.struct("row_id", "valid", "violations"))
    digest = validate_source_table(df).agg(F.sha2(F.concat_ws(
        "\n", F.sort_array(F.collect_list(rows))), 256)).first()[0]
    assert digest == "33c19f759f47a7b9ca46efa14f97e475848ac70f4ed3d4d9ec26a9a3c7c12fbe"
    [led] = partition_ledger(validate_source_table(df.coalesce(1))).collect()
    assert led.asDict() == {
        "partition_id": 0, "rows_scanned": 20000, "valid_rows": 19861,
        "violation_rows": 139, "violations": 142, "elapsed_ms": None,
        "violations_sha256":
            "51d7347f985d150a427929b5a2f3bd32cbb4ed6f0fab44d6654bbdebb57f70bf",
    }


_LEDGER_EDGE_ROWS = [
    # (row_id, bucket, valid, violations)
    (1, 0, True, None),
    (2, 0, True, []),
    (3, 0, False, [("/a", None, "m1"), (None, "type", "m2")]),
    (4, 0, False, [("/b", "enum", "m3")]),
    (5, 0, None, [("", "required", "m4")]),
    (6, 1, True, None),
    (7, 1, True, []),
]


def _python_ledger(rows, part) -> dict:
    """The documented ledger, in plain Python: per partition, sorted
    ``row_key|path|keyword`` lines (NULL parts skipped) under sha256."""
    out: dict = {}
    for rid, bucket, valid, viols in rows:
        st = out.setdefault(part(bucket), {
            "rows_scanned": 0, "valid_rows": 0, "violation_rows": 0,
            "violations": 0, "lines": []})
        st["rows_scanned"] += 1
        st["valid_rows" if valid else "violation_rows"] += 1
        for path, kw, _ in viols or []:
            st["violations"] += 1
            st["lines"].append("|".join(
                x for x in (str(rid), path, kw) if x is not None))
    for st in out.values():
        st["violations_sha256"] = hashlib.sha256(
            "\n".join(sorted(st.pop("lines"))).encode()).hexdigest()
    return out


@pytest.mark.parametrize("part_col", [None, "bucket"])
def test_ledger_edge_cases_match_timed_and_python(spark, part_col):
    """NULL and empty ``violations``, NULL ``path``/``keyword``
    elements, a NULL verdict and (by bucket) a partition of valid rows
    only: the untimed ledger equals the timed one and a plain-Python
    digest of the documented lines, field by field."""
    v = spark.createDataFrame(
        _LEDGER_EDGE_ROWS,
        "row_id long, bucket int, valid boolean, violations "
        "array<struct<path:string,keyword:string,message:string>>",
    ).coalesce(1)
    fast = {r["partition_id"]: r.asDict() for r in
            partition_ledger(v, part_col=part_col).collect()}
    timed = {r["partition_id"]: r.asDict() for r in
             partition_ledger(v, part_col=part_col, timed=True).collect()}
    want = _python_ledger(_LEDGER_EDGE_ROWS,
                          (lambda b: b) if part_col else (lambda b: 0))
    assert fast.keys() == timed.keys() == want.keys()
    for pid, exp in want.items():
        for field, value in exp.items():
            assert fast[pid][field] == timed[pid][field] == value, (pid, field)
        assert fast[pid]["elapsed_ms"] is None


def test_tp_cache_drops_stopped_sessions(spark, tmp_path, monkeypatch):
    """A stopped session's memoized tables are evicted on the next
    ``_tp`` call instead of pinning that session forever."""
    import __spark_entry__ as E

    class _Stopped:
        sparkContext = type("SC", (), {"_jsc": None})()

    stale = (_Stopped(), "/gone", "documents")
    monkeypatch.setattr(E, "_TP_CACHE", {stale: object()})
    spark.range(10).write.parquet(str(tmp_path / "documents.parquet"))
    df = E._tp(spark, str(tmp_path), "documents")
    try:
        assert list(E._TP_CACHE) == [(spark, str(tmp_path), "documents")]
        assert E._tp(spark, str(tmp_path), "documents") is df
    finally:
        df.unpersist()


def test_checkpoint_crash_rerun_no_duplicates(spark, tmp_path):
    """ADVICE r02: a crash between the bucket data write and the
    manifest append must not leave duplicate rows after the rerun — the
    per-bucket write is a dynamic partition OVERWRITE, so the manifest
    always certifies exactly what's on disk. reconcile() agrees."""
    import shutil

    df = source_code_table(spark, 1000, partitions=4)
    run = ResumableRun(str(tmp_path / "runcr"), n_buckets=4)
    validate = lambda d: validate_source_table(d, with_sha=False).select(
        "row_id", "valid", F.to_json("violations").alias("violations_json")
    )
    run.run(df, validate, max_buckets=1)
    # simulate the crash: data landed, manifest append "lost"
    shutil.rmtree(run.manifest_dir)
    run.run(df, validate)  # reruns ALL buckets incl. the orphaned one
    assert run.results(spark).count() == 1000  # no duplicated bucket rows
    assert run.results(spark).select("row_id").distinct().count() == 1000
    assert run.reconcile(spark).count() == 0  # manifest == disk


def test_checkpoint_resume(spark, tmp_path):
    df = source_code_table(spark, 3000, partitions=4)
    run = ResumableRun(str(tmp_path / "run"), n_buckets=8)
    validate = lambda d: validate_source_table(d, with_sha=False).select(
        "row_id", "valid", F.to_json("violations").alias("violations_json")
    )
    first = run.run(df, validate, max_buckets=3)  # simulate crash after 3 buckets
    assert len(first) == 3
    m1 = {r["bucket"]: r for r in run.manifest(spark).collect()}
    second = run.run(df, validate)  # resume
    assert set(first).isdisjoint(second)
    assert len(first) + len(second) == 8
    m2 = {r["bucket"]: r for r in run.manifest(spark).collect()}
    for b in first:  # completed buckets untouched on resume
        assert m2[b]["digest_xor64"] == m1[b]["digest_xor64"]
        assert m2[b]["rows"] == m1[b]["rows"]
    assert run.results(spark).count() == 3000
    assert run.run(df, validate) == []  # idempotent: nothing left


def test_checkpoint_single_pass_per_bucket(spark, tmp_path):
    """The manifest metrics ride on the write job via observe(): each
    bucket costs exactly 2 Spark jobs (verdict write + tiny manifest
    write) — no re-read of the written parquet, no extra aggregation
    job (the pre-observe() shape paid 3+ with a full second scan)."""
    df = source_code_table(spark, 1000, partitions=4)
    run = ResumableRun(str(tmp_path / "runjp"), n_buckets=4)
    validate = lambda d: validate_source_table(d, with_sha=False).select(
        "row_id", "valid", F.to_json("violations").alias("violations_json")
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    all_ids_before = set(tracker.getJobIdsForGroup(None) or [])
    processed = run.run(df, validate)
    assert len(processed) == 4
    all_ids_after = set(tracker.getJobIdsForGroup(None) or [])
    new_jobs = len(all_ids_after - all_ids_before)
    assert new_jobs <= 2 * len(processed) + 1, (
        f"{new_jobs} jobs for {len(processed)} buckets — bucket work is "
        "re-reading its own output"
    )


def test_checkpoint_empty_buckets_reconcile_clean(spark, tmp_path):
    """An empty bucket appends a manifest row (rows=0, digest "0") but
    dynamic partition overwrite writes no __bucket directory — the
    audit must read that as zero rows on disk, not a mismatch (and must
    survive the all-buckets-empty case, where the verdict dir has no
    parquet schema at all)."""
    df = source_code_table(spark, 10, partitions=2)  # 10 rows, 32 buckets
    run = ResumableRun(str(tmp_path / "runeb"), n_buckets=32)
    validate = lambda d: validate_source_table(d, with_sha=False).select(
        "row_id", "valid", F.to_json("violations").alias("violations_json")
    )
    run.run(df, validate)
    man = run.manifest(spark)
    assert man.count() == 32
    assert man.filter(F.col("rows") == 0).count() > 0  # some buckets ARE empty
    assert run.reconcile(spark).count() == 0

    # all-empty run: zero input rows, nothing ever written
    empty = df.filter(F.lit(False))
    run2 = ResumableRun(str(tmp_path / "runempty"), n_buckets=4)
    run2.run(empty, validate)
    assert run2.manifest(spark).count() == 4
    assert run2.reconcile(spark).count() == 0
