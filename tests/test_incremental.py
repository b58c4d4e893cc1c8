"""incremental_validate — delta-bounded re-validation between snapshots
(operators/incremental.py). The driver oracle (incremental_validate_documents)
gates the end-to-end identity against a full validation in DuckDB; here we
pin the properties it can't see: the validator genuinely runs on ONLY the
added/changed rows (delta-boundedness), verdict flips propagate both
directions, removed rows drop, NULL-keyed and NULL-valued rows survive
the semi/anti joins, digest modes agree, and the revalidated marker
matches the diff classification exactly."""

import pytest
from pyspark.sql import functions as F

from json_schema_spark.operators.incremental import (
    apply_changelog,
    incremental_validate,
)


def _validator(counter):
    """Per-row toy validator (valid = v >= 0) that records how many rows
    it was actually asked to validate — the delta-boundedness probe."""

    def validate(df):
        counter.append(df)
        return df.select(
            "k", F.coalesce(F.col("v") >= 0, F.lit(False)).alias("valid")
        )

    return validate


@pytest.fixture()
def snaps(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0),   # stays unchanged
         (2, "b", -1.0),   # invalid -> changed to valid in new
         (3, "c", 30.0),   # valid -> changed to invalid in new
         (4, "d", 40.0),   # removed in new
         (None, "n", 7.0), # NULL key, unchanged
         (6, "z", None)],  # NULL value, unchanged (valid=false: NULL >= 0)
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),
         (2, "b", 2.0),
         (3, "c", -3.0),
         (None, "n", 7.0),
         (6, "z", None),
         (9, "q", -9.0)],  # added, invalid
        "k long, s string, v double",
    )
    return old, new


@pytest.mark.parametrize("digest", ["xxhash64", "sha256", None])
def test_equals_full_validation(spark, snaps, digest):
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    calls.clear()
    out = incremental_validate(
        old, new, ["k"], validate, prior, digest=digest
    )
    got = {(r.k, r.valid) for r in out.collect()}
    want = {(r.k, r.valid) for r in validate(new).collect()}
    assert got == want
    # keys 2 and 3 flipped verdicts in opposite directions; both must
    # come from the fresh path, not the carried prior
    assert (2, True) in got and (3, False) in got
    # removed key 4 must not survive via the prior
    assert all(k != 4 for k, _ in got)


def test_delta_boundedness(spark, snaps):
    """The expensive validator sees EXACTLY the added+changed rows."""
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    calls.clear()
    out = incremental_validate(old, new, ["k"], validate, prior)
    out.collect()
    assert len(calls) == 1
    seen = {r.k for r in calls[0].select("k").collect()}
    assert seen == {2, 3, 9}  # changed, changed, added — nothing else


def test_revalidated_marker(spark, snaps):
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    out = incremental_validate(
        old, new, ["k"], validate, prior, mark_revalidated="revalidated"
    )
    marks = {r.k: r.revalidated for r in out.collect()}
    assert marks == {1: False, 2: True, 3: True, None: False,
                     6: False, 9: True}


def test_null_key_and_null_value_carry(spark, snaps):
    """NULL-keyed rows and NULL-valued unchanged rows must be carried,
    not dropped, by the semi/anti joins (eqNullSafe everywhere)."""
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    out = incremental_validate(old, new, ["k"], validate, prior)
    got = {(r.k, r.valid) for r in out.collect()}
    assert (None, True) in got   # NULL key carried
    assert (6, False) in got     # NULL value carried with prior verdict


def test_prior_missing_key_raises(spark, snaps):
    old, new = snaps
    prior = old.select("s")
    with pytest.raises(ValueError, match="key column"):
        incremental_validate(old, new, ["k"], lambda d: d, prior)


def test_content_cols_subset(spark, snaps):
    """With content_cols restricted to v, an s-only change is invisible
    (documented contract: digest must cover what the validator reads)."""
    old, new = snaps
    new2 = new.withColumn(
        "s", F.when(F.col("k") == 1, F.lit("A")).otherwise(F.col("s"))
    )
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    calls.clear()
    out = incremental_validate(
        old, new2, ["k"], validate, prior, content_cols=["v"]
    )
    out.collect()
    seen = {r.k for r in calls[0].select("k").collect()}
    assert 1 not in seen  # s-change not in digest -> carried, not re-run


def test_provided_delta_fast_path(spark, snaps):
    """Iceberg/changelog mode: with delta_keys supplied, the digest
    diff is skipped (old never touched) and the result still equals
    full validation when the provided delta is complete."""
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    calls.clear()
    delta = spark.createDataFrame([(2,), (3,), (9,)], "k long")
    poisoned = old.withColumn("v", F.lit(None).cast("double"))
    out = incremental_validate(
        poisoned, new, ["k"], validate, prior, delta_keys=delta
    )
    got = {(r.k, r.valid) for r in out.collect()}
    seen = {r.k for r in calls[-1].select("k").collect()}
    assert seen == {2, 3, 9}
    want = {(r.k, r.valid) for r in validate(new).collect()}
    assert got == want  # old is ignored — poisoning it changes nothing


def test_provided_delta_missing_key_raises(spark, snaps):
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    delta = spark.createDataFrame([("x",)], "s string")
    with pytest.raises(ValueError, match="delta_keys"):
        incremental_validate(
            old, new, ["k"], validate, prior, delta_keys=delta
        )


def test_apply_changelog_equals_full(spark, snaps):
    """Pure changelog mode: the new snapshot is never an input — only
    the changed rows + removed keys — and the maintained verdict table
    still equals full validation of the new snapshot."""
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    calls.clear()
    changed = new.filter(F.col("k").isin(2, 3, 9))   # upserted rows
    removed = spark.createDataFrame([(4,)], "k long")
    out = apply_changelog(prior, changed, ["k"], validate,
                          removed_keys=removed,
                          mark_revalidated="revalidated")
    got = {(r.k, r.valid, r.revalidated) for r in out.collect()}
    seen = {r.k for r in calls[-1].select("k").collect()}
    assert seen == {2, 3, 9}
    want_valid = {(r.k, r.valid) for r in validate(new).collect()}
    assert {(k, v) for k, v, _ in got} == want_valid
    assert {(k, rv) for k, _, rv in got} == {
        (1, False), (2, True), (3, True), (None, False),
        (6, False), (9, True)}


def test_apply_changelog_overapproximation_safe(spark, snaps):
    """A row listed as changed but actually identical is merely
    re-validated — the result is unchanged."""
    old, new = snaps
    calls = []
    validate = _validator(calls)
    prior = validate(old)
    changed = new.filter(F.col("k").isin(1, 2, 3, 9))  # 1 is unchanged
    removed = spark.createDataFrame([(4,)], "k long")
    out = apply_changelog(prior, changed, ["k"], validate,
                          removed_keys=removed)
    got = {(r.k, r.valid) for r in out.collect()}
    want = {(r.k, r.valid) for r in validate(new).collect()}
    assert got == want


def test_no_python_in_expression_path_plan(spark, snaps):
    """With an expression-only validator, the whole incremental plan
    stays JVM-side: no Python evaluation nodes anywhere."""
    old, new = snaps

    def validate(df):
        return df.select("k", (F.col("v") >= 0).alias("valid"))

    prior = validate(old)
    out = incremental_validate(old, new, ["k"], validate, prior)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


def test_persist_swap_is_bounded_not_leaked(spark):
    """The per-call-site persist cache keeps the last ``_PERSIST_SLOTS``
    plans (interleaved invocations over different inputs don't evict
    each other before their joins consume them), reuses the entry of an
    identical plan, and releases the oldest entry past that bound
    instead of accumulating for the session's lifetime."""
    from json_schema_spark.operators import incremental as I

    key = "test_persist_swap_bound"

    def cached_rdd_ids():
        sc = spark.sparkContext
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    def frame(n):
        # DIFFERENT plans → distinct cache entries (an identical plan
        # would dedupe in the CacheManager and mask a leak)
        return spark.range(n).select((F.col("id") * 3).alias("k"))

    I._LAST_PERSISTED.pop(key, None)
    before = cached_rdd_ids()
    I._persist_swap(key, frame(100)).count()
    first_ids = cached_rdd_ids() - before
    assert first_ids, "_persist_swap should persist its frame"
    # a second, different frame must NOT evict the first while within
    # the slot bound
    I._persist_swap(key, frame(120)).count()
    assert first_ids <= cached_rdd_ids() - before, \
        "earlier entry was evicted while within the slot bound"
    # an identical plan reuses the existing entry
    slot = I._LAST_PERSISTED[key]
    n_entries = len(slot)
    again = frame(120)
    assert I._persist_swap(key, again) is not again
    assert len(slot) == n_entries, "identical plan should reuse its slot entry"
    # past the bound the OLDEST entry is released
    for i in range(I._PERSIST_SLOTS):
        I._persist_swap(key, frame(130 + i)).count()
    assert not (first_ids & (cached_rdd_ids() - before)), \
        "oldest cache entry was never released"
    assert len(slot) == I._PERSIST_SLOTS
    for df in I._LAST_PERSISTED.pop(key).values():
        df.unpersist(False)
