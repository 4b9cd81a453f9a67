"""Reasoning operator pack (reference: dataflow/operators/reasoning/*,
SURVEY.md §2.9 domain generators + §2.6 dataset evaluators).

Generators are thin LLM-maps; the pseudo-answer generator reproduces the
reference's majority-vote-over-k-samples column
(reasoning/generate/reasoning_pseudo_answer_generator.py) as a
distributed fan-out -> extract -> groupBy-mode, and answer extraction
(reasoning_answer_extraction_qweneval_generator.py) is a pure regex
Column so it stays in whole-stage codegen. Dataset evaluators
(reasoning/eval/*dataset_evaluator.py) are plain groupBy aggregations.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator, with_row_id
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T
from dataflow_spark.serving.base import LLMServing


@OPERATOR_REGISTRY.register()
class ReasoningAnswerExtractionGenerator(Operator):
    """Extract the final answer from a model solution column.

    Cascade: ``\\boxed{...}`` -> 'answer is ...' -> last numeric literal.
    Pure Column expressions (regexp_extract / regexp_extract_all), fully
    oracle-able in SQL.
    """

    def __init__(self, input_key: str = "solution", output_key: str = "final_answer"):
        self.input_key, self.output_key = input_key, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        src = F.coalesce(F.col(self.input_key), F.lit(""))
        boxed = F.regexp_extract(src, r"\\boxed\{([^{}]*)\}", 1)
        stated = F.regexp_extract(src, r"(?i)answer is[:\s]*([^\n.]+)", 1)
        nums = F.regexp_extract_all(src, F.lit(r"(-?[0-9]+\.?[0-9]*)"), 1)
        last_num = F.when(F.size(nums) > 0, F.element_at(nums, -1))
        return df.withColumn(
            self.output_key,
            F.when(boxed != "", F.trim(boxed))
            .when(stated != "", F.trim(stated))
            .otherwise(last_num),
        )


@OPERATOR_REGISTRY.register()
class ReasoningQuestionGenerator(Operator):
    """LLM synthesizes a new question from a seed question
    (reasoning/generate/reasoning_question_generator.py)."""

    def __init__(self, serving: LLMServing, input_key: str = "question",
                 output_key: str = "synth_question",
                 prompt: str = "Write a new math question inspired by: {q}"):
        self.serving = serving
        self.input_key, self.output_key = input_key, output_key
        self.prompt = prompt
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        tmp = df.withColumn("_q", F.col(self.input_key))
        out = llm_map(tmp, self.serving, self.prompt.replace("{q}", "{_q}"), "_q",
                      self.output_key)
        return out.drop("_q")


@OPERATOR_REGISTRY.register()
class ReasoningAnswerGenerator(Operator):
    """LLM answers each question; final answer extracted alongside the
    raw chain-of-thought (reasoning/generate/reasoning_answer_generator.py)."""

    def __init__(self, serving: LLMServing, input_key: str = "question",
                 output_key: str = "solution", answer_key: str = "final_answer"):
        self.serving = serving
        self.input_key, self.output_key = input_key, output_key
        self.answer_key = answer_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key, answer_key)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        out = llm_map(df, self.serving, "Solve step by step: {%s}" % self.input_key,
                      self.input_key, self.output_key)
        return ReasoningAnswerExtractionGenerator(
            self.output_key, self.answer_key).run(out)


@OPERATOR_REGISTRY.register()
class ReasoningPseudoAnswerGenerator(Operator):
    """k samples per question -> extract answers -> majority vote.

    Reference (reasoning_pseudo_answer_generator.py) loops k model calls
    and takes the modal answer. Spark shape: explode sequence(1..k) ->
    LLM-map -> regex extract -> groupBy(question) count -> keep the
    (count desc, answer asc) winner — deterministic tie-break, no
    driver-side loop.
    """

    def __init__(self, serving: LLMServing, input_key: str = "question",
                 output_key: str = "pseudo_answer", k: int = 3,
                 id_key: str = "_row_id"):
        self.serving = serving
        self.input_key, self.output_key = input_key, output_key
        self.k = k
        self.id_key = id_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from pyspark.sql.window import Window

        from dataflow_spark.operators.generate.llm_map import llm_map

        df = with_row_id(df) if self.id_key == "_row_id" else df
        fanned = (
            df.select(self.id_key, self.input_key)
            .withColumn("_sample_i", F.explode(F.sequence(F.lit(1), F.lit(self.k))))
            .withColumn("_p", F.concat(
                F.lit("Solve (attempt "), F.col("_sample_i").cast("string"),
                F.lit("): "), F.col(self.input_key)))
        )
        gen = llm_map(fanned, self.serving, "{_p}", "_p", "_sol")
        extracted = ReasoningAnswerExtractionGenerator("_sol", "_ans").run(gen)
        votes = extracted.groupBy(self.id_key, "_ans").agg(F.count("*").alias("_votes"))
        w = Window.partitionBy(self.id_key).orderBy(F.desc("_votes"), F.asc("_ans"))
        winner = (votes.withColumn("_rk", F.row_number().over(w))
                  .filter(F.col("_rk") == 1)
                  .select(self.id_key, F.col("_ans").alias(self.output_key)))
        out = df.join(winner, self.id_key, "left")
        return out.drop("_row_id") if self.id_key == "_row_id" else out


@OPERATOR_REGISTRY.register()
class ReasoningFormatConvertGenerator(Operator):
    """Project (question, solution) into a pretrain text format
    (reasoning_pretrain_format_convert_generator.py) — pure concat."""

    TEMPLATE = "Question: %s\nAnswer: %s"

    def __init__(self, question_key: str = "question", answer_key: str = "solution",
                 output_key: str = "text"):
        self.question_key, self.answer_key = question_key, answer_key
        self.output_key = output_key
        self.input_keys = (question_key, answer_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        return df.withColumn(
            self.output_key,
            F.format_string(self.TEMPLATE, F.col(self.question_key), F.col(self.answer_key)),
        )


@OPERATOR_REGISTRY.register()
class ReasoningCategoryDatasetEvaluator(Operator):
    """Category distribution: groupBy(category).count + ratio
    (reasoning/eval/reasoning_category_dataset_evaluator.py)."""

    def __init__(self, input_key: str = "category"):
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = (input_key, "count", "ratio")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        total = df.count()  # dataset-level evaluator: action is the contract
        return (df.groupBy(self.input_key).agg(F.count("*").alias("count"))
                .withColumn("ratio", F.round(F.col("count") / F.lit(total), 6))
                .orderBy(self.input_key))


@OPERATOR_REGISTRY.register()
class ReasoningDifficultyDatasetEvaluator(Operator):
    """Difficulty-score distribution stats: avg/stddev/min/max + histogram
    bucket counts (reasoning_difficulty_dataset_evaluator.py)."""

    def __init__(self, input_key: str = "difficulty"):
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = ("n", "avg_difficulty", "std_difficulty",
                            "min_difficulty", "max_difficulty")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        c = F.col(self.input_key).cast("double")
        return df.agg(
            F.count(c).alias("n"),
            F.round(F.avg(c), 6).alias("avg_difficulty"),
            F.round(F.coalesce(F.stddev_samp(c), F.lit(0.0)), 6).alias("std_difficulty"),
            F.min(c).alias("min_difficulty"),
            F.max(c).alias("max_difficulty"),
        )


@OPERATOR_REGISTRY.register()
class ReasoningTokenDatasetEvaluator(Operator):
    """Whitespace-token-count stats over a text column
    (reasoning_token_dataset_evaluator.py)."""

    def __init__(self, input_key: str = "text"):
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = ("n", "total_tokens", "avg_tokens", "min_tokens", "max_tokens")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        toks = T.word_count(F.col(self.input_key))
        return df.select(toks.alias("_t")).agg(
            F.count("*").alias("n"),
            F.sum("_t").alias("total_tokens"),
            F.round(F.avg("_t"), 6).alias("avg_tokens"),
            F.min("_t").alias("min_tokens"),
            F.max("_t").alias("max_tokens"),
        )


@OPERATOR_REGISTRY.register()
class ReasoningQuestionFusionGenerator(Operator):
    """Fuse consecutive groups of ``fuse_n`` questions into one harder
    composite question (reasoning/generate/
    reasoning_question_fusion_generator.py:110).

    Spark shape: bucket by floor(rank/fuse_n) over a stable order key,
    groupBy bucket + sort_array collect, one LLM-map per fused group —
    the fan-in mirror of the fan-out generators.

    Scale note: the global row_number window funnels through one
    partition; acceptable for curated question sets (<~10M rows), which
    is this operator's domain. For dense integer order keys, pass
    dense_keys=True to bucket arithmetically with no global sort.
    """

    def __init__(self, serving: LLMServing, input_key: str = "question",
                 order_key: str = "doc_id", fuse_n: int = 2,
                 output_key: str = "fused_question", dense_keys: bool = False):
        self.serving = serving
        self.input_key, self.order_key = input_key, order_key
        self.fuse_n = fuse_n
        self.output_key = output_key
        self.dense_keys = dense_keys
        self.input_keys = (input_key, order_key)
        self.output_keys = (output_key, "fuse_group")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from pyspark.sql import Window

        from dataflow_spark.operators.generate.llm_map import llm_map

        if self.dense_keys:
            bucketed = df.withColumn(
                "fuse_group",
                F.floor(F.col(self.order_key) / F.lit(self.fuse_n)))
        else:
            w = Window.orderBy(self.order_key)
            bucketed = df.withColumn(
                "fuse_group",
                F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(self.fuse_n)))
        grouped = (
            bucketed.groupBy("fuse_group")
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col(self.order_key).alias("k"),
                F.col(self.input_key).alias("q")))).alias("_qs"))
            .withColumn("_joined", F.array_join(
                F.transform(F.col("_qs"), lambda s: s["q"]), " ||| "))
        )
        out = llm_map(grouped, self.serving,
                      "Fuse into one question requiring all parts: {_joined}",
                      "_joined", self.output_key)
        return out.drop("_qs", "_joined")


@OPERATOR_REGISTRY.register()
class ReasoningQuestionDifficultySampleEvaluator(Operator):
    """LLM rates question difficulty 1-10; numeric column extracted from
    the response (reasoning/eval/reasoning_question_difficulty_sample_
    evaluator.py:109)."""

    def __init__(self, serving: LLMServing, input_key: str = "question",
                 output_key: str = "difficulty_score"):
        self.serving = serving
        self.input_key, self.output_key = input_key, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        out = llm_map(df, self.serving,
                      "Rate the difficulty 1-10, reply 'difficulty: <n>': {%s}"
                      % self.input_key,
                      self.input_key, "_diff_raw")
        s = F.regexp_extract(F.col("_diff_raw"),
                             r"(?i)difficulty\s*[:=]\s*(-?[0-9]+(\.[0-9]+)?)", 1)
        return (out.withColumn(self.output_key,
                               F.when(s != "", s).try_cast("double"))
                .drop("_diff_raw"))


@OPERATOR_REGISTRY.register()
class ReasoningQuestionSolvableSampleEvaluator(Operator):
    """LLM judges whether a question is well-posed/solvable; boolean
    column from a yes/no reply (reasoning/eval/reasoning_question_
    solvable_sample_evaluator.py:89)."""

    def __init__(self, serving: LLMServing, input_key: str = "question",
                 output_key: str = "solvable"):
        self.serving = serving
        self.input_key, self.output_key = input_key, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        out = llm_map(df, self.serving,
                      "Is this solvable as stated? Reply yes or no: {%s}"
                      % self.input_key,
                      self.input_key, "_solv_raw")
        return (out.withColumn(
            self.output_key,
            F.lower(F.col("_solv_raw")).rlike(r"\byes\b"))
            .drop("_solv_raw"))
