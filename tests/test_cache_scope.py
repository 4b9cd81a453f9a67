"""Caches must not outlive one operator invocation.

Spark's CacheManager substitutes a cached plan into ANY later query
whose analyzed plan ``sameResult``-matches it. An operator that persists
a deterministic intermediate and never unpersists it therefore makes
every subsequent invocation over the same input silently read the first
invocation's rows instead of recomputing — re-executions must compute
from source (the bench and the oracle both rely on that), and the cache
must not accumulate across a long session.

Guard: after a near-dup run() returns, the session holds zero cached
RDDs and the CacheManager is empty; so it is after every operator that
runs jobs inside run() (the near-dup family, the exact set-similarity
join, the order-2 diversity evaluators). A mixture-sampler
``cache_input`` run leaves no CacheManager entry either (it
materializes via localCheckpoint, which is invocation-local by
construction).
"""

import pytest
from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator


def _n_cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.fixture()
def docs(spark):
    rows = [(i, f"some shared boilerplate text piece number {i % 7} "
                f"with a distinct tail {i}") for i in range(60)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_run_leaves_no_cache(spark, docs):
    spark.catalog.clearCache()  # isolate from other tests' cache state
    base = _n_cached_rdds(spark)  # lingering checkpoint blocks allowed
    op = get_operator("MinHashDeduplicateFilter",
                      {"input_key": "text", "order_key": "doc_id"})
    out1 = op.run(docs)
    assert _n_cached_rdds(spark) <= base
    assert _cache_manager_empty(spark)
    n1 = out1.count()
    # second invocation recomputes and agrees (nothing cached to serve it)
    out2 = op.run(docs)
    assert _n_cached_rdds(spark) <= base
    assert out2.count() == n1


def test_simhash_run_leaves_no_cache(spark, docs):
    spark.catalog.clearCache()  # isolate from other tests' cache state
    base = _n_cached_rdds(spark)  # lingering checkpoint blocks allowed
    op = get_operator("SimHashDeduplicateFilter",
                      {"input_key": "text", "order_key": "doc_id"})
    out = op.run(docs)
    assert _n_cached_rdds(spark) <= base
    assert _cache_manager_empty(spark)
    out.count()
    assert _n_cached_rdds(spark) <= base


def test_incremental_minhash_run_leaves_no_cache(spark, docs):
    spark.catalog.clearCache()  # isolate from other tests' cache state
    op = get_operator("IncrementalMinHashDedupFilter",
                      {"input_key": "text", "order_key": "doc_id"})
    existing = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    out1 = op.run(new, existing=existing)
    # the signature persists are released inside run() (the eager
    # matched checkpoint is their last consumer); only checkpoint
    # blocks may remain, and those are never CacheManager-matched
    assert _cache_manager_empty(spark)
    n1 = out1.count()
    out2 = op.run(new, existing=existing)
    assert _cache_manager_empty(spark)
    assert out2.count() == n1


def test_incremental_minhash_failed_checkpoint_leaves_no_cache(
        spark, docs, monkeypatch):
    """A job that fails inside run() must release the signature caches
    too: the eager checkpoint is their last consumer, so run() drops
    them in a ``finally``."""
    spark.catalog.clearCache()  # isolate from other tests' cache state

    def failing_checkpoint(self, eager=True):
        raise RuntimeError("checkpoint job failed")

    # the concrete DataFrame class: it overrides the abstract one's method
    monkeypatch.setattr(type(docs), "localCheckpoint", failing_checkpoint)
    op = get_operator("IncrementalMinHashDedupFilter",
                      {"input_key": "text", "order_key": "doc_id"})
    with pytest.raises(RuntimeError, match="checkpoint job failed"):
        op.run(docs.filter(F.col("doc_id") % 3 != 0),
               existing=docs.filter(F.col("doc_id") % 3 == 0))
    assert _cache_manager_empty(spark)


def test_mixture_sampler_cache_input_no_cache_manager_entry(spark):
    spark.catalog.clearCache()  # isolate from other tests' cache state
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    op = get_operator("DomainMixtureSampler", {
        "weights": {"a": 0.5, "b": 0.3, "c": 0.2}, "cache_input": True})
    out_cached = op.run(df.withColumn("doc_id", F.col("doc_id")))
    assert _cache_manager_empty(spark)
    op_plain = get_operator("DomainMixtureSampler", {
        "weights": {"a": 0.5, "b": 0.3, "c": 0.2}})
    out_plain = op_plain.run(df)
    # cache_input changes materialization, never results
    a = sorted(r.doc_id for r in out_cached.collect())
    b = sorted(r.doc_id for r in out_plain.collect())
    assert a == b


def _embeddings(spark):
    rows = [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, embedding array<double>")


def _near_dup(name, **args):
    def run(spark, docs):
        op = get_operator(name, {"order_key": "doc_id", **args})
        if name == "SemDeduplicateFilter":
            return op.run(_embeddings(spark))
        return op.run(docs)
    return run


def _fuzzy_join(dense_vocab_max):
    def run(spark, docs):
        op = get_operator("FuzzyJoinOperator", {
            "threshold": 0.6, "dense_vocab_max": dense_vocab_max})
        return op.run(docs.filter(F.col("doc_id") % 4 == 0), right=docs)
    return run


def _diversity(name):
    def run(spark, docs):
        # no id_key: the order-2 path pins generated ids with a persist
        return get_operator(name, {"order": 2}).run(_embeddings(spark))
    return run


# (case, run(spark, docs), whether the run may leave checkpoint blocks:
# the sparse fuzzy join's result is an eager localCheckpoint)
SCOPED_RUNS = [
    ("sem", _near_dup("SemDeduplicateFilter", embedding_key="embedding"),
     False),
    ("ngram_jaccard_dense", _near_dup("NgramJaccardDeduplicateFilter",
                                      input_key="text",
                                      dense_vocab_max=8192), False),
    ("ngram_jaccard_sparse", _near_dup("NgramJaccardDeduplicateFilter",
                                       input_key="text",
                                       dense_vocab_max=0), False),
    ("substring", _near_dup("SubstringDeduplicateFilter", input_key="text"),
     False),
    ("fuzzy_join_dense", _fuzzy_join(8192), False),
    ("fuzzy_join_sparse", _fuzzy_join(0), True),
    ("vendi_order2", _diversity("VendiDatasetEvaluator"), False),
    ("task2vec_order2", _diversity("Task2VecDatasetEvaluator"), False),
]


@pytest.mark.parametrize("run,checkpoints", [c[1:] for c in SCOPED_RUNS],
                         ids=[c[0] for c in SCOPED_RUNS])
def test_run_leaves_no_cache(spark, docs, run, checkpoints):
    spark.catalog.clearCache()  # isolate from other tests' cache state
    base = _n_cached_rdds(spark)
    outs = []
    for _ in range(2):
        out = run(spark, docs)
        assert _cache_manager_empty(spark)
        if not checkpoints:
            assert _n_cached_rdds(spark) <= base
        outs.append(sorted(tuple(r) for r in out.collect()))
    # the second invocation recomputes and agrees
    assert outs[0] == outs[1]
    assert outs[0]  # non-vacuous
