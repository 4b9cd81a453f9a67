"""dataflow_spark.plans: programmatic plan QA (audit / assert_scalable)."""

import pytest

from pyspark.sql import functions as F

from dataflow_spark import audit, assert_scalable, PlanScaleError


def test_audit_reports_scan_facts(spark):
    df = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .filter(F.col("lang") == "en").select("doc_id", "n_chars"))
    a = audit(df)
    [scan] = a["scans"]
    assert scan["table"] == "documents"
    assert set(scan["columns"]) == {"doc_id", "lang", "n_chars"}
    assert "lang" in scan["pushed"]
    assert a["exchanges"] == 0 and not a["row_python"]


def test_assert_scalable_passes_broadcast_join(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dim = spark.createDataFrame([("en", 1), ("de", 2)], ["lang", "gid"])
    out = docs.join(F.broadcast(dim), "lang")
    a = assert_scalable(out)
    assert a["broadcasts"] >= 1


def test_assert_scalable_rejects_cartesian(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    with pytest.raises(PlanScaleError, match="Cartesian|NestedLoop"):
        assert_scalable(a.crossJoin(b))
    # ...unless the caller says the tiny-broadcast shape is intended
    stats = spark.range(1).select(F.lit(5).alias("n"))
    ok = a.crossJoin(F.broadcast(stats))
    assert assert_scalable(ok, allow_nested_loop=True)


def test_assert_scalable_rejects_row_python(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda s: s + 1, "long")
    df = spark.range(10).select(slow(F.col("id")).alias("x"))
    with pytest.raises(PlanScaleError, match="BatchEvalPython"):
        assert_scalable(df)


def test_assert_scalable_flags_single_shard_pack(spark):
    """An explicit num_shards=1 pack pushes the whole corpus through one
    unpartitioned running-sum window — the lint must fire."""
    from dataflow_spark.core.registry import get_operator

    df = spark.createDataFrame([(i, 100) for i in range(10)],
                               "doc_id long, n_tokens long")
    out = get_operator("SequencePackingOperator",
                       {"budget": 300, "num_shards": 1}).run(df)
    with pytest.raises(PlanScaleError, match="unpartitioned Window"):
        assert_scalable(out)
    # escape hatch for genuinely small frames (the global window also
    # plans an Exchange SinglePartition, so both flags apply)
    a = assert_scalable(out, allow_global_window=True,
                        allow_single_partition=True)
    assert a["unpartitioned_windows"] == 1


def test_assert_scalable_passes_partitioned_window(spark):
    from dataflow_spark.core.registry import get_operator

    df = spark.createDataFrame([(i, 100) for i in range(40)],
                               "doc_id long, n_tokens long")
    out = get_operator("SequencePackingOperator",
                       {"budget": 300, "num_shards": 4}).run(df)
    a = assert_scalable(out)
    assert a["unpartitioned_windows"] == 0


def test_window_lint_disambiguates_two_group_argstring(spark):
    """Catalyst omits empty lists from a Window node's argString, so
    BOTH an unpartitioned-ordered window and a partitioned-unordered
    window print 2 bracket groups. The lint must tell them apart by the
    ASC/DESC tokens only an orderSpec carries (advisor-reported
    miscount: a scalable group-total shape used to raise)."""
    from pyspark.sql import Window as W

    from dataflow_spark.plans import audit

    df = spark.range(100).withColumn("k", F.col("id") % 5)
    # partitioned-but-unordered group total: 2 groups, NO order tokens
    part_only = df.withColumn("s", F.sum("id").over(W.partitionBy("k")))
    assert audit(part_only)["unpartitioned_windows"] == 0
    assert_scalable(part_only)  # must not raise
    # unpartitioned-but-ordered: 2 groups WITH order tokens — must fire
    ord_only = df.withColumn("r", F.row_number().over(W.orderBy("id")))
    assert audit(ord_only)["unpartitioned_windows"] == 1
    # unpartitioned AND unordered global total — must fire
    glob = df.withColumn("s", F.sum("id").over(W.partitionBy()))
    assert audit(glob)["unpartitioned_windows"] == 1


def test_sequence_packing_default_shards_derived(spark):
    """Default num_shards=None derives from cluster parallelism — the
    single-task footgun default is gone."""
    from dataflow_spark.core.registry import get_operator

    df = spark.createDataFrame([(i, 10) for i in range(100)],
                               "doc_id long, n_tokens long")
    out = get_operator("SequencePackingOperator", {"budget": 100}).run(df)
    n_par = spark.sparkContext.defaultParallelism
    shards = {r.pack_id.split("-")[0] for r in out.collect()}
    assert len(shards) > 1  # local[32] => 32 derived shards
    assert all(0 <= int(s) < n_par for s in shards)
    assert_scalable(out)


def test_assert_scalable_flags_single_partition_exchange(spark):
    df = spark.range(1000).repartition(1).selectExpr("id * 2 AS x")
    with pytest.raises(PlanScaleError, match="SinglePartition"):
        assert_scalable(df)
    a = assert_scalable(df, allow_single_partition=True)
    assert a["single_partition_exchanges"] == 1


def test_exact_dedup_plans_as_aggregate_not_window(spark):
    """Keep-first must stay a min_by hash-aggregate: the aggregate gets
    map-side partial combine (duplicates collapse before the shuffle),
    a row_number window ships and sorts every row — a silent revert
    would be a 100 TB regression invisible to correctness tests."""
    from dataflow_spark.core.registry import get_operator
    from dataflow_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(i, "dup" if i % 2 else "uniq%d" % i) for i in range(20)],
        "doc_id long, text string")
    out = get_operator("HashDeduplicateFilter",
                       {"input_keys": "text", "order_key": "doc_id"}).run(df)
    plan = formatted_plan(out)
    assert "min_by" in plan or "HashAggregate" in plan
    assert "Window" not in plan
    a = assert_scalable(out)
    assert a["exchanges"] <= 2


def test_exact_dedup_aggregate_prunes_columns(spark, tmp_path):
    """The r5 regression: min_by(struct(*cols)) carried every column
    through one opaque struct, so a downstream select() still scanned
    the full table. The per-column min_by shape must let ColumnPruning
    narrow the parquet scan to exactly the columns downstream needs."""
    import re

    from dataflow_spark.core.registry import get_operator

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "t%d" % (i % 3), "en", "web", i * 10) for i in range(30)],
        "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    out = get_operator("HashDeduplicateFilter",
                       {"input_keys": "text", "order_key": "doc_id"}
                       ).run(df).select("doc_id", "text")
    physical = out._jdf.queryExecution().executedPlan().toString()
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", physical)
    if not scans:  # fallback: FileScan column list form
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", physical)
    assert scans, physical
    for s in scans:
        cols = {c.split(":")[0].split("#")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, (cols, physical)
    # and the pruned plan still computes keep-first correctly
    rows = {(r.doc_id, r.text) for r in out.collect()}
    assert rows == {(0, "t0"), (1, "t1"), (2, "t2")}


def _curate(docs):
    """The refine -> filter -> score -> filter -> dedup -> split chain."""
    from dataflow_spark import Pipeline, get_operator

    stopwords = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
                 "for", "with"]
    return Pipeline([
        get_operator("RemoveExtraSpacesRefiner", {"input_key": "text"}),
        get_operator("ContentNullFilter", {"input_key": "text"}),
        get_operator("WordNumberFilter", {"input_key": "text", "min_words": 5}),
        get_operator("QualityScoreEvaluator",
                     {"input_key": "text", "stopwords": stopwords}),
        get_operator("GeneralFilter", {"predicates": ["quality_score >= 0.7"]}),
        get_operator("HashDeduplicateFilter",
                     {"input_keys": "text", "order_key": "doc_id"}),
        get_operator("SplitAssignOperator",
                     {"key": "doc_id",
                      "splits": {"train": 0.9, "val": 0.05, "test": 0.05}}),
    ]).forward(docs)


def test_curate_chain_has_no_python_stage(spark, docs):
    """The curate chain runs entirely in the JVM: no Python worker is
    needed to execute it."""
    from dataflow_spark import get_operator

    out = _curate(docs)
    assert audit(out)["python_ops"] == []
    # positive control: a pandas-UDF operator on the same chain is seen
    langid = get_operator("LanguageIdEvaluator", {}).run(out)
    assert audit(langid)["python_ops"] == ["ArrowEvalPython"]


def test_curate_chain_computes_each_derived_column_once(spark, docs):
    """The filters after the refiner and the score read the stored
    columns: the optimized plan holds the whitespace squash and the score
    once each (``withColumn`` columns are re-substituted into every
    pushed-down conjunct)."""
    plan = _curate(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(") == 1
    assert plan.count("regexp_replace(") == 1
