"""Dataset-level evaluators: aggregate metrics over the whole table.

Reference: BenchDatasetEvaluator (accuracy over per-row matches,
core_text/eval/bench_dataset_evaluator.py:24-60) and the distribution
statistics evaluators (reasoning/eval/*_dataset_evaluator.py). Spark
shape: per-row expression + groupBy/agg — partial aggregation map-side,
single reduce.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T


def norm_answer(col):
    """Benchmark answer normaliser: lowercase, trim, strip characters
    other than word characters, whitespace, '.' and '-', and collapse
    whitespace runs to one space."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"[^\w\s.-]", "")
    return F.regexp_replace(c, T.WS_RE, " ")


@OPERATOR_REGISTRY.register()
class AccuracyDatasetEvaluator(Operator):
    """Exact-match accuracy: avg(model == golden) after trim/lower
    normalization. Returns a 1-row DataFrame [n_rows, n_correct, accuracy]."""

    def __init__(self, answer_key: str = "model_answer",
                 golden_key: str = "golden_answer"):
        self.answer_key, self.golden_key = answer_key, golden_key
        self.input_keys = (answer_key, golden_key)
        self.output_keys = ("n_rows", "n_correct", "accuracy")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        match = (
            F.lower(F.trim(F.col(self.answer_key)))
            == F.lower(F.trim(F.col(self.golden_key)))
        ).cast("int")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(match).alias("n_correct"),
            F.avg(match).alias("accuracy"),
        )


@OPERATOR_REGISTRY.register()
class DistributionDatasetEvaluator(Operator):
    """Category distribution + text-length stats per group.

    Reference: ReasoningCategory/Difficulty/TokenDatasetEvaluator — all
    are groupBy(col).count() / avg(len) shapes.
    """

    def __init__(self, group_key: str, text_key: str | None = "text"):
        self.group_key, self.text_key = group_key, text_key
        self.input_keys = (group_key,) + ((text_key,) if text_key else ())
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        if self.text_key:
            aggs += [
                F.avg(F.length(F.col(self.text_key))).alias("avg_chars"),
                F.avg(T.word_count(F.col(self.text_key))).alias("avg_words"),
            ]
        return df.groupBy(self.group_key).agg(*aggs)


@OPERATOR_REGISTRY.register()
class UnifiedBenchDatasetEvaluator(Operator):
    """Multi-mode benchmark evaluator in one operator
    (core_text/eval/unified_bench_dataset_evaluator.py:31,592,893 — the
    reference's largest operator; its modes collapse to one per-row
    match expression + one aggregate here).

    match_mode: 'exact' (normalized string equality), 'contains'
    (golden substring of answer, normalized), 'numeric' (try_cast both
    to double). Optional group_key adds a per-group accuracy breakdown
    row set instead of the single-row overall aggregate — partial
    aggregation keeps both map-side combined.
    """

    def __init__(self, answer_key: str = "answer", gt_key: str = "gold",
                 match_mode: str = "exact", group_key: str | None = None):
        if match_mode not in ("exact", "contains", "numeric"):
            raise ValueError(f"unknown match_mode: {match_mode}")
        self.answer_key, self.gt_key = answer_key, gt_key
        self.match_mode = match_mode
        self.group_key = group_key
        self.input_keys = (answer_key, gt_key) + ((group_key,) if group_key else ())
        self.output_keys = ("n", "accuracy")

    def match_expr(self):
        a, g = norm_answer(F.col(self.answer_key)), norm_answer(F.col(self.gt_key))
        if self.match_mode == "contains":
            m = (F.length(g) > 0) & a.contains(g)
        elif self.match_mode == "numeric":
            an, gn = a.try_cast("double"), g.try_cast("double")
            m = an.isNotNull() & gn.isNotNull() & (an == gn)
        else:
            m = a == g
        return m.cast("int")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        scored = df.withColumn("_m", self.match_expr())
        aggs = [F.count("*").alias("n"),
                F.round(F.avg("_m"), 6).alias("accuracy")]
        if self.group_key:
            return scored.groupBy(self.group_key).agg(*aggs)
        return scored.agg(*aggs)


@OPERATOR_REGISTRY.register()
class BenchDatasetEvaluatorQuestion(Operator):
    """Question-level accuracy: a question counts correct when any (or
    all) of its sampled answers match
    (core_text/eval/bench_dataset_evaluator_question.py). Two-level
    aggregate: max/min of per-row match within question, then avg."""

    def __init__(self, question_key: str = "question_id",
                 answer_key: str = "answer", gt_key: str = "gold",
                 match_mode: str = "exact", require_all: bool = False):
        self.question_key = question_key
        self.require_all = require_all
        self._inner = UnifiedBenchDatasetEvaluator(
            answer_key=answer_key, gt_key=gt_key, match_mode=match_mode)
        self.input_keys = (question_key, answer_key, gt_key)
        self.output_keys = ("n_questions", "accuracy")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        per_q = F.min("_m") if self.require_all else F.max("_m")
        scored = df.withColumn("_m", self._inner.match_expr())
        return (
            scored.groupBy(self.question_key).agg(per_q.alias("_q_ok"))
            .agg(F.count("*").alias("n_questions"),
                 F.round(F.avg("_q_ok"), 6).alias("accuracy"))
        )
