"""Physical-plan regression guards: the scale-critical plan properties
documented in PLANS.md, asserted on the real executed plans so a
refactor cannot silently reintroduce a Python node, a corpus shuffle,
or a lost pushdown.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from json_schema_spark.flagship import FLAGSHIP_SCHEMA, validate_source_table
from json_schema_spark.operators import dedup as D, similarity as S
from json_schema_spark.plans.runner import SparkValidator
from json_schema_spark.sources.synth import source_code_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def src(spark):
    return source_code_table(spark, 2000, partitions=4)


def test_flagship_plan_python_free_no_shuffle(spark, src):
    out = validate_source_table(src, with_sha=True)
    plan = _plan(out)
    assert "Python" not in plan          # zero UDFs on the typed-row path
    assert "Exchange" not in plan        # pure projection over the scan


def test_flagship_column_pruning_reaches_scan(spark, src, tmp_path):
    p = str(tmp_path / "files")
    src.write.parquet(p)
    df = spark.read.parquet(p)
    v = SparkValidator(FLAGSHIP_SCHEMA, dialect="draft7")
    out = v.apply_table(df, columns=["repo", "commit", "lang"],
                        with_violations=False).select("valid")
    plan = _plan(out)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "content" not in scan, f"unreferenced column scanned: {scan}"


def test_simhash_plan_single_exchange_python_free(spark, src):
    sh = D.simhash(src.select("row_id", F.col("content").alias("text")),
                   text_col="text", id_col="row_id")
    plan = _plan(sh)
    assert "Python" not in plan
    assert plan.count("Exchange") <= 1   # only the id aggregate shuffle


def test_ivf_assignment_no_corpus_exchange(spark):
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.pmod(F.col("id") * (j + 7), F.lit(97)) / 97.0).cast("double")
                  for j in range(8)]).alias("embedding"),
    )
    assigned, cents = S.build_ivf(emb, n_centroids=4, iters=2)
    plan = _plan(assigned)
    assert "Exchange" not in plan        # argmax is a single projection
    assert "Python" not in plan


def test_embedding_gemm_sketch_zero_corpus_exchange(spark):
    """Past the dim×bands×planes unroll threshold the sign sketch is ONE
    Arrow-batched gemm over the scan: exactly one Python stage and ZERO
    Exchange between the corpus scan and the (id, band, bucket) banding
    output (the decimal path pays a groupBy(id) Exchange; at dim 768+
    it would also carry ~74k plane literals — round-3 "What's wrong #3")."""
    dim, bands, planes = 768, 8, 12
    emb = spark.range(50).select(
        F.col("id"),
        F.array(*[
            ((F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(101)) - 50)
             / 50.0).cast("double")
            for j in range(dim)
        ]).alias("cv"),
    )
    sk = D._sketch_buckets_udf(seed=42, bands=bands, planes=planes, dim=dim)
    banded = emb.select("id", F.posexplode(sk(F.col("cv"))).alias("band", "bucket"))
    plan = _plan(banded)
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    # and it actually executes: 8 bucket strings of 12 bits per vector
    r = banded.groupBy("id").count().collect()
    assert all(row["count"] == bands for row in r)


def test_minhash_corpus_side_never_broadcast(spark, src):
    pairs = D.minhash_lsh_pairs(
        src.select("row_id", F.col("content").alias("text")),
        text_col="text", id_col="row_id", threshold=0.5,
    )
    plan = _plan(pairs)
    assert "Python" not in plan
    # the broadcast build side must be the slim pair projection, never a
    # relation carrying the shingle arrays: every BroadcastExchange in
    # the plan tree must sit above a plan WITHOUT the shingle transform
    import re

    for m in re.finditer(r"BroadcastExchange[^\n]*\n((?:[ :+|-]+[^\n]*\n)*)", plan):
        subtree = m.group(0)
        assert "array_distinct" not in subtree.split("BroadcastExchange")[1][:2000] \
            or "id_a" in subtree, "broadcasting a shingle-carrying relation"


def test_minhash_no_pair_broadcast_above_threshold(spark, src):
    """Verify-stage size gate (round-2 "What's wrong #3"): when the
    candidate pair set exceeds max_broadcast_pairs, the verify join must
    be a shuffle join — the pair set scales with corpus × dup-rate, so
    broadcasting it is an unbounded build at the 10^12-doc target."""
    pairs = D.minhash_lsh_pairs(
        src.select("row_id", F.col("content").alias("text")),
        text_col="text", id_col="row_id", threshold=0.5,
        max_broadcast_pairs=0,  # force the above-threshold path
    )
    plan = _plan(pairs)
    assert "Python" not in plan
    import re

    # the verify join (the only join keyed on bare `id`) must NOT be a
    # broadcast join; band self-joins key on (band, bh) and may
    # legitimately broadcast their slim (id, band, bh) side
    assert not re.search(r"BroadcastHashJoin \[id#\d+L?\], \[id#\d+L?\]", plan), (
        "pair relation broadcast despite exceeding max_broadcast_pairs")
    assert re.search(r"(ShuffledHashJoin|SortMergeJoin) \[id#\d+L?\], \[id#\d+L?\]", plan)


def test_column_stats_exact_spreads_expand(spark):
    """Exact-distinct column_stats Expands each row N+1 ways; on a
    narrow local scan (1 partition) that multiplied work must be
    repartitioned up to session parallelism, not pinned to one core.
    At cluster scale the input already has >= parallelism splits and
    no round-robin Exchange is inserted."""
    from json_schema_spark.operators.checks import column_stats

    one_part = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("a")).coalesce(1)
    plan = _plan(column_stats(one_part, exact_distinct=True))
    assert "Expand" in plan
    assert "RoundRobinPartitioning" in plan, (
        "exact-mode Expand left on a single input partition")
    # already-parallel input: no round-robin shuffle inserted
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism).select(
        F.col("id"), (F.col("id") % 7).alias("a"))
    plan2 = _plan(column_stats(wide, exact_distinct=True))
    assert "RoundRobinPartitioning" not in plan2.split("Expand")[0]


def test_multimodal_feature_plan_single_python_stage(spark):
    """The multimodal feature kernels are ONE MapInPandas over the
    (pruned) scan: no Exchange, no extra Python stages, and column
    pruning reaches the parquet scan through the kernel's projection."""
    import tempfile

    from json_schema_spark.operators.multimodal import (
        image_features, synth_binary_column)

    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/docs"
        spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.lit("x").alias("text")).write.parquet(p)
        docs = spark.read.parquet(p)
        out = image_features(
            synth_binary_column(docs.select("doc_id"), id_col="doc_id"),
            decode="fake")
        plan = _plan(out)
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan
        scan = plan[plan.index("ReadSchema"):].splitlines()[0]
        assert "text" not in scan, f"unreferenced column scanned: {scan}"

def test_prepare_training_pipeline_single_dedup_exchange(spark):
    """The composed corpus-assembly pipeline (dedup -> quality -> lang
    -> filter -> redact -> split) must shuffle ONLY for the exact-dedup
    groupBy/semi-join — every other stage is a codegen projection. A
    second Exchange would mean a stage re-partitioned data it already
    had co-located; Python anywhere would mean an expression fell off
    the JVM path."""
    import __spark_entry__ as E

    df = E.queries()["prepare_training_data"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    # dedup = one shuffle boundary: the hash-aggregate pair plus the
    # semi-join back may reuse the same exchange; allow at most the
    # aggregate + join exchanges, never more
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 3, f"{n_exchange} exchanges:\n{plan[:4000]}"
    assert "BroadcastExchange" not in plan or plan.count("BroadcastExchange") <= 1



def test_composed_pipelines_run_parallel(spark):
    """Round-4 "What's wrong #4": the no-shuffle guards below prove the
    ABSENCE of corpus shuffles but accepted a ONE-task plan — exactly
    how v2 shipped 70% of the round-4 driver bench on a single core
    (predicate pushdown sank the interpreted Gopher filter below the
    fan-out repartition, back onto the single-file scan partition).
    Every composed pipeline's heavy tail stage (filter chain → redact →
    split; no shuffle after the dedup join, so the OUTPUT partitioning
    IS the heavy-stage partitioning) must carry >= defaultParallelism
    partitions."""
    import __spark_entry__ as E

    want = spark.sparkContext.defaultParallelism
    for name in ("prepare_training_data", "prepare_training_data_v2"):
        df = E.queries()[name](spark, "/root/testdata/sf0.001")
        got = df.rdd.getNumPartitions()
        assert got >= want, f"{name}: heavy tail stage has {got} partition(s)"


def test_prepare_training_v2_no_extra_corpus_shuffle(spark):
    """The v2 composition adds the Gopher repetition filter (pure
    projection — must add ZERO exchanges) and benchmark decontamination
    (broadcast-only: benchmark gram distinct + matched-rows aggregate
    may shuffle, the corpus may not). Budget: the v1 dedup exchanges
    plus at most two slim decontamination exchanges; still no Python
    anywhere."""
    import __spark_entry__ as E

    df = E.queries()["prepare_training_data_v2"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "Python" not in plan and "ArrowEval" not in plan
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange <= 5, f"{n_exchange} exchanges:\n{plan[:4000]}"
    assert "BroadcastHashJoin" in plan  # decontamination joins broadcast


# six properties shaped like the JSON workload's documents: strings with
# pattern/maxLength/enum, a bounded integer, an array with items and
# uniqueItems
_DOC_SCHEMA = {
    "type": "object",
    "required": ["repo", "path", "commit", "lang", "tokens", "tags"],
    "properties": {
        "repo": {"type": "string", "pattern": "^org[0-9]+/repo[0-9]+$"},
        "path": {"type": "string", "maxLength": 512},
        "commit": {"type": "string", "pattern": "^[0-9a-f]{40}$"},
        "lang": {"enum": ["python", "java", "sql"]},
        "tokens": {"type": "integer", "minimum": 16, "maximum": 120},
        "tags": {"type": "array", "items": {"type": "string"},
                 "uniqueItems": True},
    },
}


def _call_args(plan: str, call: str) -> list[str]:
    """The argument text of every ``call(...)`` in ``plan``."""
    out, i = [], plan.find(call)
    while i >= 0:
        start = i + len(call)
        depth = 1
        j = start
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[start:j - 1])
        i = plan.find(call, start)
    return out


def test_apply_json_extracts_each_variant_path_once(spark):
    """The hoisted plan navigates each property once and type-tags each
    row-level value once; every check reads the slot columns. Inline,
    ``$.tokens`` alone was navigated 183 times."""
    df = spark.createDataFrame([(1, '{"tokens": 3}')], "id long, doc string")
    out = SparkValidator(_DOC_SCHEMA).apply_json(df, "doc")
    key = "spark.sql.debug.maxToStringFields"  # no "... more fields"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000000")
    try:
        plan = out._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    for name in _DOC_SCHEMA["properties"]:
        assert plan.count(f"$.{name},") == 1, name
    # type tags of row-level values; those of lambda-variable values
    # (array elements) stay inline by design (lambda scope)
    tags = [a for a in _call_args(plan, "schemaOfVariant(") if "lambda " not in a]
    assert len(tags) <= len(_DOC_SCHEMA["properties"]) + 1, tags


def test_apply_json_keeps_caller_columns_named_like_temps(spark):
    df = spark.createDataFrame(
        [(1, '{"tokens": 200}', "mine", 7)],
        "id long, doc string, __jss_variant string, __JSS_S1 int")
    out = SparkValidator(_DOC_SCHEMA).apply_json(df, "doc")
    assert out.columns == df.columns + ["valid", "violations"]
    r = out.collect()[0]
    assert (r["__jss_variant"], r["__JSS_S1"], r["valid"]) == ("mine", 7, False)
