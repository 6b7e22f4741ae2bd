"""Physical-plan assertions: the shapes that matter at 100 TB must be in
the plan, not just hoped for (SURVEY §4.2)."""

import re

import pytest

from pii_redaction_pipeline_spark.queries import (
    q_pricing_summary,
    q_quality_flags,
    q_top_suppliers,
)

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_top_suppliers_broadcasts_dims(spark):
    plan = plan_of(q_top_suppliers(spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_agg_and_pushdown(spark):
    plan = plan_of(q_pricing_summary(spark, SF))
    assert "HashAggregate" in plan
    # filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan \
        or "LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(q_quality_flags(spark, SF))
    # quality flags touch only doc_id + text → scan must not read the rest
    read_schema = plan.split("ReadSchema:")[-1]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "n_chars" not in read_schema and "source" not in read_schema


def test_hash_once_invariants(spark):
    """Hash-projection regression guards: the digest must appear ONCE per
    element in the physical plan — Catalyst does not CSE across aggregate
    expressions, so a second md5() in the plan means per-element
    recomputation is back (the round-1 simhash computed it 16×)."""
    from pii_redaction_pipeline_spark.queries import (
        q_doc_fingerprint,
        q_minhash_signatures,
        q_simhash,
    )

    assert plan_of(q_simhash(spark, SF)).count("md5(") == 1
    # minhash derives all 8 hash functions from one double-digest
    assert plan_of(q_minhash_signatures(spark, SF)).count("md5(") == 2
    assert plan_of(q_doc_fingerprint(spark, SF)).count("md5(") == 1


def test_simhash64_hash_once(spark):
    """The 64-bit simhash projects its digest(s) ONCE per token before
    the 64-sum aggregate (Catalyst does not CSE across aggregate
    expressions): xxhash64 mode = exactly one xxhash64() in the plan;
    md5 mode = two textual md5() occurrences in the SAME projection (one
    per 32-bit half of a single digest — operator-local subexpression
    elimination evaluates it once), and NO digest inside the aggregate
    expressions."""
    from pii_redaction_pipeline_spark.functions.dedup import spark_simhash64

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan_xx = plan_of(spark_simhash64(docs, hash_impl="xxhash64"))
    assert plan_xx.count("xxhash64(") == 1
    plan_md5 = plan_of(spark_simhash64(docs, hash_impl="md5"))
    assert plan_md5.count("md5(") == 2
    agg_part = plan_md5.split("HashAggregate")[1]
    assert "md5(" not in agg_part.split("Project")[0]


def test_dedup_similarity_no_interpreted_lambdas_or_cartesian(spark):
    """The dedup/similarity family must stay in codegen joins+aggs: no
    interpreted lambdafunction() expressions, no cartesian products."""
    from pii_redaction_pipeline_spark.queries import (
        q_ann_cosine_topk,
        q_embedding_neardup,
        q_jaccard_pairs,
        q_minhash_signatures,
        q_simhash,
    )

    for q in (q_simhash, q_minhash_signatures, q_ann_cosine_topk,
              q_embedding_neardup):
        plan = plan_of(q(spark, SF))
        assert "lambdafunction" not in plan, q.__name__
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__
        assert "BatchEvalPython" not in plan, q.__name__  # no per-row python
    # jaccard legitimately uses array_intersect/union (codegen builtins),
    # but still no cartesian
    assert "CartesianProduct" not in plan_of(q_jaccard_pairs(spark, SF))


def _clips_parquet(spark, tmp_path):
    from pii_redaction_pipeline_spark import datagen

    src = str(tmp_path / "clips")
    datagen.clips_df(spark, 10, seed=1, partitions=1,
                     with_audio=False).write.parquet(src)
    return spark.read.parquet(src)


def _python_udfs(plan: str) -> list[str]:
    """Names of the UDFs each ArrowEvalPython node evaluates."""
    return [re.findall(r"(\w+)\(", line.split("ArrowEvalPython [", 1)[1]
                       .split("]", 1)[0])
            for line in plan.splitlines() if "ArrowEvalPython [" in line]


def test_scrub_pipeline_python_stages_fused(spark, tmp_path):
    """Quality and grade stay JVM-side (WholeStageCodegen over the
    parquet scan); Catalyst fuses the langid, scrub and ppl pandas UDFs
    (and the redactions UDF, when `redactions` is kept) into a single
    ArrowEvalPython stage — one Python round trip total."""
    from pii_redaction_pipeline_spark.pipeline import PipelineConfig, apply_pipeline

    out = apply_pipeline(_clips_parquet(spark, tmp_path),
                         PipelineConfig(with_audio_verify=False))
    plan = plan_of(out)
    # WholeStageCodegen renders as "*(n)" stage prefixes in plan strings
    assert "*(" in plan
    assert plan.count("ArrowEvalPython") == 1


def test_dropped_redactions_never_run(spark, tmp_path):
    """`redactions` is its own UDF column: once the caller drops it (job.py,
    streaming, perfbench, bench.py's text headline, scaling_bench.py's
    timed job), Catalyst prunes the UDF and the one Python stage runs
    exactly langid, scrub and ppl; deid_json_df keeps it."""
    import scaling_bench
    from pii_redaction_pipeline_spark.pipeline import (
        PipelineConfig,
        apply_pipeline,
        deid_json_df,
    )

    clips = _clips_parquet(spark, tmp_path)
    out = apply_pipeline(clips, PipelineConfig(with_audio_verify=False))
    for job in (out.drop("redactions"), scaling_bench.job_plan(clips)):
        assert _python_udfs(plan_of(job)) == [
            ["langid_udf", "_detect_and_scrub", "ppl_udf"]]
    deid = [u for node in _python_udfs(plan_of(deid_json_df(out)))
            for u in node]
    assert "_scrub_redactions" in deid


def test_fuzzy_vocab_join_is_hash_not_nested_loop(spark):
    """The vocabulary fuzzy matcher's length gate |len(token)−len(term)|≤2
    expressed as a theta join is a BroadcastNestedLoopJoin — |vocab|×175
    condition evaluations with the un-thresholded levenshtein re-inlined
    into every pushed-down conjunct (measured 143 s over a 4M-token
    vocabulary at local[32]). The production shape explodes each
    candidate over its 5 admissible token lengths and equi-joins on
    length(token): a broadcast HASH join producing the identical pair
    set (~20× less work). This pin keeps the theta join from coming
    back."""
    from pii_redaction_pipeline_spark.functions.fuzzy_sql import (
        spark_fuzzy_vocab,
    )

    docs = spark.createDataFrame(
        [("the febuary meeting in huston",), ("phenix soup",)], ["text"])
    out = spark_fuzzy_vocab(docs, spark)
    plan = plan_of(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # thresholded levenshtein: banded DP with early exit, not full DP
    # (the physical plan prints the threshold as Some(2))
    assert "levenshtein(token" in plan and "Some(2))" in plan


def test_fuzzy_vocab_normalizes_per_distinct_token_not_per_occurrence(spark):
    """Two-level distinct with a pushdown barrier: the 3-regex
    normalization chain + 57-term INSET gate must price by VOCABULARY
    (rows out of the raw-token distinct), not by corpus size. Catalyst
    actively undoes the naive forms — it prunes an unreferenced
    barrier column, constant-folds rand()>=0 via expression bounds,
    and RemoveRedundantAggregates deletes a distinct-over-distinct —
    which re-inlines the norm chain into a filter at the scan
    (measured 385 s vs 9 s over a 487M-occurrence corpus at
    local[32]). This pin fails loudly if a future optimizer erases the
    monotonically_increasing_id() >= 0 barrier too."""
    from pii_redaction_pipeline_spark.functions.fuzzy_sql import (
        spark_fuzzy_vocab,
    )

    docs = spark.createDataFrame(
        [("the febuary meeting in huston",), ("phenix soup",)], ["text"])
    plan = plan_of(spark_fuzzy_vocab(docs, spark))
    # both distincts survive: 2 aggregates x (partial + final)
    assert plan.count("HashAggregate") == 4
    # nothing between the bottom-most aggregate and the scan evaluates
    # the normalization chain (plans print top-down; the tail below the
    # last HashAggregate is the raw-token distinct's map side + scan)
    tail = plan[plan.rfind("HashAggregate"):]
    assert "regexp_replace" not in tail


def test_quality_columns_split_each_text_once(spark):
    """with_quality's generated code holds one split call site. Subexpression
    elimination shares only what every row evaluates: with distinct_ratio
    inside a CASE WHEN word_cnt > 0 branch, its split was generated a
    second time."""
    from pii_redaction_pipeline_spark.functions.quality import with_quality

    df = with_quality(spark.createDataFrame(
        [("a b A",), ("",), ("  ",), (None,)], "transcript string"))
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    code = "".join(seq.apply(i)._2() for i in range(seq.size()))
    assert code.count(".split(") == 1
    got = [(r.word_cnt, r.distinct_ratio) for r in df.collect()]
    assert got == [(3, 2 / 3), (0, 0.0), (0, 0.0), (0, 0.0)]
