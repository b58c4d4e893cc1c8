"""Incremental re-validation between table snapshots: run the (expensive)
validator only over rows that were added or changed since the previous
snapshot, splice the previous run's verdicts for unchanged rows, and drop
verdicts for removed rows. The result is provably identical to validating
the new snapshot from scratch — that identity IS the correctness oracle —
but the validator cost is proportional to the churn, not the corpus.

This is the resume/delta story of the north rule ("resumable from
Iceberg-snapshot checkpoints"): on a 10^12-file source table where a
daily snapshot touches ~0.1% of files, full re-validation reads 100 TB;
incremental re-validation reads two slim (key, digest) projections plus
only the delta's content. It composes with
:mod:`json_schema_spark.operators.checkpoint` (which makes one run
resumable mid-flight) and :mod:`~.reconcile` (which it builds on).

The reference engine (georgeakulov/json-schema) validates one document
per call and keeps no cross-run state; incremental table re-validation is
part of the cross-row analytics layer this repo adds (SURVEY.md §2.9).

Scale shape
-----------
* The change classification is :func:`~json_schema_spark.operators.
  reconcile.snapshot_diff`: both snapshots reduce to ``(keys…, digest)``
  before the full-outer join, so the wide content column never rides
  that shuffle.
* The slim delta-key frame is persisted (it feeds both the semi-join
  that selects rows to validate and the anti-join that carries prior
  verdicts); at 10^12 rows it is ~16 bytes/row — small next to the
  corpus, and the alternative is computing the diff join twice.
* The semi/anti joins and the diff hash-partition on the same keys, so
  AQE/exchange-reuse keeps the extra joins cheap; with both snapshots
  and the verdict table bucketed by key (the Iceberg layout) every join
  here is co-located.
* Not streaming-composable (a full-outer join needs two complete
  snapshots); for streams, validate the stream and reconcile
  materialized snapshots instead.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from functools import reduce
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from .reconcile import snapshot_diff

__all__ = ["incremental_validate", "apply_changelog"]

# Bounded per-call-site cache of persisted delta-key frames: the persist
# is what stops the semi- and anti-join from recomputing the diff join,
# but a long-lived session (bench best-of-N loops, notebooks) would
# otherwise accumulate one orphaned cache per invocation until LRU
# eviction starts thrashing. Keeping a few slots per call site (not
# one) means interleaved invocations of the SAME operator over
# different inputs no longer evict each other's cache before it is
# consumed; only the oldest plan past the slot bound is unpersisted. A
# lock makes the bookkeeping safe under concurrent driver threads
# (Spark jobs themselves are thread-safe).
_PERSIST_SLOTS = 4
_PERSIST_LOCK = threading.Lock()
_LAST_PERSISTED: dict[str, OrderedDict[int, DataFrame]] = {}


def _persist_swap(key: str, df: DataFrame) -> DataFrame:
    with _PERSIST_LOCK:
        slot = _LAST_PERSISTED.setdefault(key, OrderedDict())
        for h, prev in list(slot.items()):
            try:
                if prev.sameSemantics(df):
                    # identical plan (warm re-run of the same query):
                    # reuse the entry — the CacheManager would dedupe
                    # the persist anyway, and unpersisting first would
                    # throw away the warm hit for zero memory benefit
                    slot.move_to_end(h)
                    return prev
            except Exception:
                pass
        out = df.persist()
        slot[id(out)] = out
        while len(slot) > _PERSIST_SLOTS:
            _, old = slot.popitem(last=False)
            try:
                old.unpersist(False)
            except Exception:
                pass
        return out


def _key_cond(left, right, keys: Sequence[str]):
    # NULL-safe on every key: a NULL-keyed row must select/carry like
    # any other (plain `=` would silently drop it from BOTH the fresh
    # and the carried side, losing the row from the result entirely).
    return reduce(
        lambda a, b: a & b,
        [left[k].eqNullSafe(right[k]) for k in keys],
    )


def incremental_validate(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    validate: Callable[[DataFrame], DataFrame],
    prior: DataFrame,
    content_cols: Optional[Sequence[str]] = None,
    digest: Optional[str] = "xxhash64",
    mark_revalidated: Optional[str] = None,
    delta_keys: Optional[DataFrame] = None,
) -> DataFrame:
    """Verdicts for ``new``, validating only rows added/changed vs ``old``.

    ``validate`` maps a slice of ``new`` to its verdict rows and must
    retain the key columns (e.g. ``lambda df: validator.apply_table(df)
    .select("doc_id", "valid")``). ``prior`` is the verdict table of a
    previous run over ``old`` — normally ``validate(old)`` materialized
    by that run — with the same schema as ``validate``'s output.

    Correctness contract: the returned frame equals ``validate(new)``
    row-for-row, PROVIDED ``validate`` is per-row (verdict depends only
    on that row) and ``prior`` is consistent with ``old``. Change
    detection inherits :func:`snapshot_diff`'s digest semantics:
    ``digest='xxhash64'`` is the slim 100 TB default, ``'sha256'`` the
    oracle-replicable twin, ``None`` exact struct compare (wider
    shuffle, zero hash-aliasing risk).

    ``keys`` must be unique per snapshot (same precondition as
    :func:`snapshot_diff`; run ``uniqueness_report`` when in doubt).
    ``content_cols`` defaults to every non-key column shared by both
    snapshots and should cover every column the validator reads — a
    column the validator reads but the digest skips is a missed
    re-validation.

    ``mark_revalidated``: optional column name appended to the output —
    ``True`` on rows the validator actually ran on this call, ``False``
    on carried verdicts. Useful for ledgers and for oracle-gating the
    delta boundary itself.

    ``delta_keys``: optional pre-computed frame of the added/changed
    keys — the Iceberg/changelog fast path. When table metadata already
    names the changed files (an Iceberg incremental scan between two
    snapshot ids, a CDC feed, a commit log), change detection is free
    and the digest diff — the only part of this operator that reads
    BOTH snapshots end-to-end — is skipped entirely; cost becomes
    churn-proportional plus one slim key-semi/anti join pass.
    Correctness then rests on the caller's delta being complete: a
    changed key missing from it is silently carried stale (exactly the
    contract of trusting the table format's changelog). ``old`` and
    ``digest`` are ignored in this mode.
    """
    keys = list(keys)
    missing = [k for k in keys if k not in prior.columns]
    if missing:
        raise ValueError(f"prior verdicts lack key column(s) {missing}")

    if delta_keys is None:
        diff = snapshot_diff(
            old, new, keys, compare_cols=content_cols, mode="rows",
            digest=digest,
        )
        delta_keys = diff.filter(
            F.col("status").isin("added", "changed")
        ).select(*keys)
    else:
        missing = [k for k in keys if k not in delta_keys.columns]
        if missing:
            raise ValueError(f"delta_keys lacks key column(s) {missing}")
        delta_keys = delta_keys.select(*keys)
    # Slim (keys…,) frame of rows whose content is new to this snapshot.
    # Persisted: it feeds two joins below, and recomputing it means
    # running the full-outer diff join twice. ~(key width) bytes/row.
    delta_keys = _persist_swap("incremental_validate", delta_keys)

    dk = delta_keys.alias("dk")
    n = new.alias("n")
    fresh = validate(
        n.join(dk, _key_cond(n, dk, keys), "left_semi")
    )

    p = prior.alias("p")
    # Carried verdicts: prior rows whose key is NOT in the delta AND is
    # still present in the new snapshot (anti-join drops re-validated
    # keys; semi-join drops removed keys).
    nk = new.select(*keys).alias("nk")
    carried = (
        p.join(dk, _key_cond(p, dk, keys), "left_anti")
        .join(nk, _key_cond(p, nk, keys), "left_semi")
    )

    if mark_revalidated is not None:
        fresh = fresh.withColumn(mark_revalidated, F.lit(True))
        carried = carried.withColumn(mark_revalidated, F.lit(False))
    return fresh.unionByName(carried)


def apply_changelog(
    prior: DataFrame,
    changed_rows: DataFrame,
    keys: Sequence[str],
    validate: Callable[[DataFrame], DataFrame],
    removed_keys: Optional[DataFrame] = None,
    mark_revalidated: Optional[str] = None,
) -> DataFrame:
    """Maintain a verdict table from a changelog WITHOUT scanning the
    new snapshot at all — the fully churn-proportional path.

    Where :func:`incremental_validate` takes both snapshots (or the new
    snapshot + delta keys) and therefore scans the new snapshot at
    least once, this variant takes what an Iceberg incremental scan /
    CDC feed delivers directly: ``changed_rows`` (the full rows of
    every added-or-changed key, upserted) and ``removed_keys``. Nothing
    here touches the corpus — the inputs are the churn itself plus the
    slim prior verdict table, so at 10^12 files with 0.1% daily churn
    the whole job reads ~10^9 content rows + one keys-and-verdicts
    projection.

    Returns the verdict table of the new snapshot: ``validate`` runs
    over ``changed_rows``; prior verdicts are dropped for keys in
    ``changed_rows`` (superseded) and ``removed_keys`` (gone), carried
    otherwise. Equals ``validate(new)`` PROVIDED the changelog is
    complete and ``changed_rows`` carries the post-change row images
    (an upsert/merge feed; over-approximation is safe — an unchanged
    row listed as changed is merely re-validated).

    ``mark_revalidated``: as in :func:`incremental_validate`.
    """
    keys = list(keys)
    missing = [k for k in keys if k not in prior.columns]
    if missing:
        raise ValueError(f"prior verdicts lack key column(s) {missing}")

    fresh = validate(changed_rows)
    drop = changed_rows.select(*keys)
    if removed_keys is not None:
        drop = drop.unionByName(removed_keys.select(*keys))
    # Slim union of superseded + removed keys feeds one anti-join; at
    # changelog scale it is broadcast-able and Spark's AQE will pick
    # BroadcastHashJoin for it without an explicit hint.
    p = prior.alias("p")
    d = drop.alias("d")
    carried = p.join(d, _key_cond(p, d, keys), "left_anti")

    if mark_revalidated is not None:
        fresh = fresh.withColumn(mark_revalidated, F.lit(True))
        carried = carried.withColumn(mark_revalidated, F.lit(False))
    return fresh.unionByName(carried)
