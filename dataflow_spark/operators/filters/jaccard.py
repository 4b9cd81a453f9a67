"""Exact n-gram Jaccard near-dup removal: the self-join case of the exact
set-similarity join in ``operators/fuzzy_join.py``.

Two docs are near-duplicates when the Jaccard similarity of their
distinct char-n-gram sets is >= t. Finding every such pair is a
similarity self-join, so this operator runs the same kernels as
FuzzyJoinOperator (``ExactSetJoin``) with no right side: the dense
broadcast-bitset GEMM when the corpus vocabulary is small, else PPJoin
prefix/positional blocking (Xiao et al., WWW'08) with complete recall,
both with the exact verify and the same budget guards. The result is
exact or refused: a corpus shape the budgets refuse raises
``BudgetExceededError`` naming the budget to raise, and approximate
near-dup removal is MinHashDeduplicateFilter. The pairs are this
filter's ``_edges``; the shared near-dup tail (``_NearDupBase._dedup``)
runs connected components and keeps the min id of each component.

Scale: one explode (prefix elements) + one equi-join + verify; skew on
hot shingles handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.operators.filters.dedup import _NearDupBase
from dataflow_spark.operators.fuzzy_join import ExactSetJoin, shingle_sets


@OPERATOR_REGISTRY.register()
class NgramJaccardDeduplicateFilter(ExactSetJoin, _NearDupBase):
    """Drop docs whose distinct char-n-gram Jaccard similarity with an
    earlier doc is >= threshold; keep-first semantics, exact result.
    """

    def __init__(self, input_key: str = "text", threshold: float = 0.8,
                 shingle_n: int = 5, order_key: str | None = None,
                 dense_vocab_max: int = 8192,
                 max_candidate_pairs: float = 5e9,
                 dense_flop_budget: float = 2e13):
        super().__init__(input_key, order_key)
        self._set_budgets(dense_vocab_max, max_candidate_pairs,
                          dense_flop_budget)
        self.threshold = threshold
        self.shingle_n = shingle_n

    def _edges(self, keyed: DataFrame, pins: list[DataFrame]) -> DataFrame:
        # project-then-dedup: only (id, shingle hashes) flows through
        # the join; full rows join back at the end
        sets = shingle_sets(keyed, "_nd_id", self.input_key, "char",
                            self.shingle_n).persist()
        pins.append(sets)
        pairs = self._try_dense(sets)
        if pairs is None:
            pairs = self._sparse_pairs(sets, None, pins)
        return pairs.select("left_id", "right_id")
