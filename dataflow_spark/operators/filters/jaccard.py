"""Exact n-gram Jaccard near-dup removal: the self-join case of the exact
set-similarity join in ``operators/fuzzy_join.py``.

Two docs are near-duplicates when the Jaccard similarity of their
distinct char-n-gram sets is >= t. Finding every such pair is a
similarity self-join, so this operator runs the same kernels as
FuzzyJoinOperator (``ExactSetJoin``) with no right side: the dense
broadcast-bitset GEMM when the corpus vocabulary is small, else PPJoin
prefix/positional blocking (Xiao et al., WWW'08) with complete recall,
both with the exact verify and the same budget guards. The pairs feed
connected components, and the shared near-dup tail keeps the min id of
each component.

Scale: one explode (prefix elements) + one equi-join + verify; skew on
hot shingles handled by AQE skew-join splitting.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import BudgetExceededError
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import hashing as H
from dataflow_spark.operators.filters.dedup import _NearDupBase, connected_components
from dataflow_spark.operators.fuzzy_join import (
    FALLBACK_NUM_PERM, ExactSetJoin, shingle_sets)


@OPERATOR_REGISTRY.register()
class NgramJaccardDeduplicateFilter(ExactSetJoin, _NearDupBase):
    """Drop docs whose distinct char-n-gram Jaccard similarity with an
    earlier doc is >= threshold; keep-first semantics, exact result.
    """

    def __init__(self, input_key: str = "text", threshold: float = 0.8,
                 shingle_n: int = 5, order_key: str | None = None,
                 dense_vocab_max: int = 8192,
                 max_candidate_pairs: float = 5e9,
                 dense_flop_budget: float = 2e13,
                 on_budget_exceeded: str = "raise"):
        super().__init__(input_key, order_key)
        self._set_budgets(dense_vocab_max, max_candidate_pairs,
                          dense_flop_budget, on_budget_exceeded)
        self.threshold = threshold
        self.shingle_n = shingle_n

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        df, order_col = self._ordered(df)
        df, keyed = self._nd_rows(df, order_col)
        # project-then-dedup: only (id, shingle hashes) flows through
        # the join; full rows join back at the end
        sets = shingle_sets(keyed, "_nd_id", self.input_key, "char",
                            self.shingle_n).persist()
        pins: list[DataFrame] = [sets]
        # connected_components consumes the pair lineage EAGERLY (driver
        # union-find probe, or per-round eager localCheckpoint
        # contraction), so every pinned frame can be released before
        # returning — no cached blocks outlive run()
        try:
            try:
                pairs = self._try_dense(sets)
                if pairs is None:
                    pairs = self._sparse_pairs(sets, None, pins)
            except BudgetExceededError:
                if self.on_budget_exceeded != "minhash":
                    raise
                pairs = self._minhash_pairs(sets)
            comp = connected_components(pairs.select("left_id", "right_id"))
        finally:
            for p in pins:
                p.unpersist()
        return self._keep_components(df, comp, order_col)

    def _minhash_pairs(self, sets: DataFrame) -> DataFrame:
        """Opt-in approximate fallback (``on_budget_exceeded='minhash'``):
        MinHash-LSH band buckets generate candidate pairs, the shared
        exact verify checks each one on the true shingle sets. Precision
        is exact (every emitted pair truly meets the threshold); recall
        is probabilistic per the banding S-curve. Buckets expand to STAR
        pairs anchored at the bucket-min id (linear in bucket size —
        the same shape MinHashDeduplicateFilter uses), so transitive
        clusters merge through connected components exactly as in the
        exact paths."""
        from pyspark.sql import Window

        bands, rows = H.optimal_bands(min(max(self.threshold, 0.05), 0.95),
                                      FALLBACK_NUM_PERM)
        sig_udf = H.minhash_from_hashes_udf(FALLBACK_NUM_PERM)
        b = (sets.select("_id", sig_udf(F.col("_sh")).alias("_sig"))
             .selectExpr("_id",
                         f"inline({H.band_hashes_sql('_sig', bands, rows)})"))
        # star expansion via a streaming window (never a collect_list of
        # an unbounded bucket): anchor = bucket-min id
        w = Window.partitionBy("band", "h").orderBy("_id")
        cand = (b.withColumn("_anchor", F.first("_id").over(w))
                .filter(F.col("_id") != F.col("_anchor"))
                .select(F.col("_anchor").alias("_lid"),
                        F.col("_id").alias("_rid"))
                .distinct())
        return self._verify_candidates(cand, sets, sets)
