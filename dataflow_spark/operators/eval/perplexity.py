"""Perplexity scoring + threshold filter.

Reference: PerplexitySampleEvaluator (text_pt/eval/
perplexity_sample_evaluator.py:50-80, HF causal LM) and its paired
PerplexityFilter (text_pt/filter/perplexity_filter.py:44-60). A model
backend is a pluggable pandas_udf; the engine default is a
**corpus unigram language model** computed distributedly in two passes —
self-contained, deterministic, and fully SQL-expressible:

  p(w) = count(w) / total_tokens      (over the whole input corpus)
  ppl(row) = exp( mean_w -ln p(w) )   (over the row's tokens)

Shuffle plan: explode words -> groupBy(word) count (map-side combined)
-> broadcast-or-shuffle join back -> groupBy(row) mean. The vocabulary
table is tiny relative to the corpus (Heaps' law), so at 100 TB the
count table broadcasts and the join stays narrow.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator, ROW_ID, with_row_id
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T


@OPERATOR_REGISTRY.register()
class PerplexitySampleEvaluator(Operator):
    """Add a unigram-LM perplexity column (lower = more typical text)."""

    def __init__(self, input_key: str = "text", output_key: str = "perplexity",
                 order_key: str | None = None):
        self.input_key, self.output_key = input_key, output_key
        self.order_key = order_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        id_col = self.order_key or ROW_ID
        if self.order_key is None:
            df = with_row_id(df)
        words = T.words(F.lower(F.col(self.input_key)))
        toks = df.select(F.col(id_col).alias("_pid"), F.explode(words).alias("_w"))
        counts = toks.groupBy("_w").agg(F.count("*").alias("_c"))
        total = counts.agg(F.sum("_c").alias("_total"))
        scored = (
            toks.join(F.broadcast(counts), "_w")
            .crossJoin(F.broadcast(total))
            .groupBy("_pid")
            .agg(F.exp(F.avg(-F.log(F.col("_c") / F.col("_total")))).alias(self.output_key))
        )
        out = df.join(scored.withColumnRenamed("_pid", id_col), id_col, "left")
        return out.drop(ROW_ID) if self.order_key is None else out


@OPERATOR_REGISTRY.register()
class PerplexityFilter(Operator):
    """Keep rows whose perplexity lies in [min_score, max_score] —
    the reference's evaluator+range composition
    (perplexity_filter.py:44-60)."""

    def __init__(self, min_score: float = 0.0, max_score: float = float("inf"),
                 input_key: str = "text", order_key: str | None = None):
        self.evaluator = PerplexitySampleEvaluator(input_key, "_ppl", order_key)
        self.min_score, self.max_score = min_score, max_score
        self.input_keys = (input_key,)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        scored = self.evaluator.run(df)
        return scored.filter(
            F.col("_ppl").between(self.min_score, self.max_score)
        ).drop("_ppl")
