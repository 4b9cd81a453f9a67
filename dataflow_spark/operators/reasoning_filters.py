"""Reasoning answer/question filters (reference:
dataflow/operators/reasoning/filter/*.py — the gate stages of every
reasoning pipeline, e.g.
statics/pipelines/api_pipelines/reasoning_pipeline.py).

Spark-first shapes: the deterministic gates (formatter, token length,
n-gram repetition, ground-truth match) are Column expressions or one
Arrow-batched pandas_udf, so they fuse with neighbouring stages; the
LLM-backed gates (model judge, question filter) are llm_map + regex
parse, identical in plan shape to the other judge operators.
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import FilterOperator, Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T
from dataflow_spark.functions.text import py_words


def _extract_final_answer(src: Column) -> Column:
    """Boxed -> 'answer is' -> last numeric literal cascade (same as
    ReasoningAnswerExtractionGenerator, reference
    reasoning/generate/reasoning_answer_extraction_qweneval_generator.py)."""
    s = F.coalesce(src, F.lit(""))
    boxed = F.regexp_extract(s, r"\\boxed\{([^{}]*)\}", 1)
    stated = F.regexp_extract(s, r"(?i)answer is[:\s]*([^\n.]+)", 1)
    nums = F.regexp_extract_all(s, F.lit(r"(-?[0-9]+\.?[0-9]*)"), 1)
    last_num = F.when(F.size(nums) > 0, F.element_at(nums, -1))
    return (F.when(boxed != "", F.trim(boxed))
            .when(stated != "", F.trim(stated))
            .otherwise(last_num))


def math_normalize(col: Column) -> Column:
    """Normalize a short math answer for comparison: lowercase, strip
    whitespace/$,%/trailing dot, drop '\\text{...}' wrappers and common
    latex spacing (reference utils/reasoning/AnswerExtraction.py
    StringCleaner.strip_string — compressed to the deterministic,
    SQL-expressible core)."""
    x = F.lower(F.coalesce(col.cast("string"), F.lit("")))
    x = F.regexp_replace(x, r"\\text\{([^{}]*)\}", r"$1")
    x = F.regexp_replace(x, r"\\(left|right|,|;|!)", "")
    x = F.regexp_replace(x, r"[\s$,%]+", "")
    x = F.regexp_replace(x, r"\.+$", "")
    return x


def answers_match(test: Column, gt: Column) -> Column:
    """Numeric-aware equality: try_cast both sides to double and compare
    (so '0.50' == '1/2'-style mismatches are at least '0.5' == '.5');
    fall back to normalized-string equality."""
    nt = math_normalize(test).try_cast("double")
    ng = math_normalize(gt).try_cast("double")
    return F.when(nt.isNotNull() & ng.isNotNull(), nt == ng).otherwise(
        math_normalize(test) == math_normalize(gt))


@OPERATOR_REGISTRY.register()
class ReasoningAnswerFormatterFilter(FilterOperator):
    """Keep answers with a well-formed final-answer marker
    (reasoning/filter/reasoning_answer_formatter_filter.py — documented
    contract: validate ``\\boxed{}`` notation; set require_boxed=False to
    mirror the reference's current keep-all short-circuit)."""

    def __init__(self, input_key: str = "generated_cot",
                 require_boxed: bool = True, **kw: Any):
        super().__init__(input_key=input_key, **kw)
        self.require_boxed = require_boxed

    def compute_label(self, df: DataFrame) -> Column:
        if not self.require_boxed:
            return F.lit(True)
        return F.coalesce(F.col(self.input_key), F.lit("")).rlike(
            r"\\boxed\{[^{}]*\}")


@OPERATOR_REGISTRY.register()
class ReasoningAnswerTokenLengthFilter(FilterOperator):
    """Drop answers exceeding a token budget; null/empty answers are
    dropped too (reasoning/filter/reasoning_answer_token_length_filter.py
    — the reference counts HF-tokenizer tokens, the engine counts its
    BPE-ish regex tokens, same gate shape)."""

    def __init__(self, input_key: str = "generated_cot",
                 max_answer_token_length: int = 8192, **kw: Any):
        super().__init__(input_key=input_key, **kw)
        self.max_answer_token_length = max_answer_token_length

    def compute_label(self, df: DataFrame) -> Column:
        c = F.col(self.input_key)
        nonempty = c.isNotNull() & (F.trim(c) != "")
        return nonempty & (T.token_count_bpe_ish(c)
                           <= self.max_answer_token_length)


@OPERATOR_REGISTRY.register()
class ReasoningAnswerNgramFilter(Operator):
    """Keep answers whose n-gram uniqueness score is in [min, max]
    (reasoning/filter/reasoning_answer_ngram_filter.py — char n-grams
    when the text contains CJK, word n-grams otherwise; score =
    unique n-grams / total n-grams, lower = more repetitive)."""

    def __init__(self, min_score: float = 0.1, max_score: float = 1.0,
                 ngrams: int = 5, input_key: str = "generated_cot",
                 output_key: str = "repetition_score"):
        self.min_score = max(0.0, min(1.0, float(min_score)))
        self.max_score = max(0.0, min(1.0, float(max_score)))
        if self.min_score > self.max_score:
            self.min_score, self.max_score = self.max_score, self.min_score
        self.ngrams = int(ngrams) if int(ngrams) > 0 else 5
        self.input_key, self.output_key = input_key, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        import re

        from pyspark.sql.functions import pandas_udf

        n = self.ngrams
        cjk = re.compile(r"[\u4e00-\u9fff]")
        keep_zh = re.compile(r"[^\u4e00-\u9fff0-9a-z]")

        def score_one(text) -> float:
            if text is None:
                return 0.0
            t = str(text).lower()
            if cjk.search(t):
                units = list(keep_zh.sub("", t))
            else:
                units = py_words(t)
            if len(units) < n:
                return 1.0  # too short to repeat at this n
            grams = [tuple(units[i:i + n]) for i in range(len(units) - n + 1)]
            return len(set(grams)) / len(grams)

        @pandas_udf("double")
        def score(s: pd.Series) -> pd.Series:
            return s.map(score_one)

        out = df.withColumn(self.output_key, score(F.col(self.input_key)))
        return out.filter(F.col(self.output_key).between(
            self.min_score, self.max_score))


@OPERATOR_REGISTRY.register()
class ReasoningAnswerGroundTruthFilter(Operator):
    """Keep rows whose extracted final answer matches the ground truth
    (reasoning/filter/reasoning_answer_groundtruth_filter.py:26-35).

    compare_method='exact' is raw string equality; 'math_normalize' (the
    engine's deterministic stand-in for the reference's math_verify
    dependency) extracts the final answer from the test column, math-
    normalizes both sides, and compares numerically when both parse."""

    def __init__(self, compare_method: str = "math_normalize",
                 input_test_answer_key: str = "generated_cot",
                 input_gt_answer_key: str = "golden_answer"):
        if compare_method not in ("math_normalize", "exact", "math_verify"):
            raise ValueError("compare_method must be math_normalize|exact")
        # 'math_verify' (reference name) maps onto the normalize engine
        self.compare_method = ("math_normalize"
                               if compare_method == "math_verify"
                               else compare_method)
        self.input_test_answer_key = input_test_answer_key
        self.input_gt_answer_key = input_gt_answer_key
        self.input_keys = (input_test_answer_key, input_gt_answer_key)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        extracted = _extract_final_answer(F.col(self.input_test_answer_key))
        gt = F.col(self.input_gt_answer_key)
        if self.compare_method == "exact":
            pred = extracted.cast("string") == gt.cast("string")
        else:
            pred = answers_match(extracted, gt)
        return df.filter(F.coalesce(pred, F.lit(False)))


@OPERATOR_REGISTRY.register()
class ReasoningAnswerPipelineRootFilter(Operator):
    """Root of the answer pipeline: backfill missing ground truth from
    the extracted model answer, then label each row ``has_gt`` so
    downstream stages branch (reasoning/filter/
    reasoning_answer_pipeline_root_filter.py:43-80 — the reference writes
    the two branches to separate files; the engine keeps one DataFrame
    plus a branch column, and ``split()`` returns both branches)."""

    def __init__(self, input_answer_key: str = "output",
                 input_gt_key: str = "golden_answer",
                 branch_key: str = "has_gt"):
        self.input_answer_key = input_answer_key
        self.input_gt_key = input_gt_key
        self.branch_key = branch_key
        # the gt column is required at compile time (a misnamed gold
        # column should fail loudly, not silently branch every row to
        # has_gt=False); the ANSWER key stays optional — the root
        # filter legitimately sits before the answer generator in the
        # reference pretrain pipeline order, so no backfill source
        # exists yet
        self.input_keys = (input_gt_key,)
        self.output_keys = (input_gt_key, branch_key)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        if self.input_gt_key not in df.columns:
            return df.withColumn(self.branch_key, F.lit(False))
        gt = F.col(self.input_gt_key).cast("string")
        have = gt.isNotNull() & (gt != "")
        if self.input_answer_key in df.columns:
            backfilled = F.when(have, gt).otherwise(
                _extract_final_answer(F.col(self.input_answer_key)))
        else:
            backfilled = F.when(have, gt)
        out = df.withColumn(self.input_gt_key, backfilled)
        ng = F.col(self.input_gt_key)
        return out.withColumn(self.branch_key, ng.isNotNull() & (ng != ""))

    def split(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(with_gt, without_gt) branches, reference's two output files."""
        labeled = self.run(df)
        return (labeled.filter(F.col(self.branch_key)).drop(self.branch_key),
                labeled.filter(~F.col(self.branch_key)).drop(self.branch_key))


@OPERATOR_REGISTRY.register()
class ReasoningAnswerModelJudgeFilter(Operator):
    """LLM-judged answer-vs-reference match; keeps matching rows (or all,
    labeled) (reasoning/filter/reasoning_answer_model_judge_filter.py)."""

    def __init__(self, serving=None, keep_all_samples: bool = False,
                 question_key: str = "question", answer_key: str = "answer",
                 reference_key: str = "reference_answer",
                 output_key: str = "answer_match_result"):
        self.serving = serving
        self.keep_all_samples = keep_all_samples
        self.question_key, self.answer_key = question_key, answer_key
        self.reference_key = reference_key
        self.output_key = output_key
        self.input_keys = (question_key, answer_key, reference_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        tmp = df.withColumn("_aj_prompt", F.concat(
            F.lit("Question: "), F.col(self.question_key),
            F.lit("\nAnswer: "), F.col(self.answer_key),
            F.lit("\nReference: "), F.col(self.reference_key),
            F.lit("\nDo answer and reference agree? Reply "
                  '{"judgement_result": true} or {"judgement_result": false}.')))
        out = llm_map(tmp, self.serving, "{_aj_prompt}", "_aj_prompt", "_aj_raw")
        raw = F.lower(F.coalesce(F.col("_aj_raw"), F.lit("")))
        explicit = F.regexp_extract(raw, r'"judgement_result"\s*:\s*(true|false)', 1)
        verdict = F.when(explicit != "", explicit == "true").otherwise(
            raw.contains("true"))
        out = (out.withColumn(self.output_key, verdict)
               .drop("_aj_prompt", "_aj_raw"))
        if self.keep_all_samples:
            return out
        return out.filter(F.col(self.output_key))


@OPERATOR_REGISTRY.register()
class ReasoningQuestionFilter(Operator):
    """Four-stage LLM correctness check on questions (format, semantics,
    consistency, solvability); keeps rows the judge passes
    (reasoning/filter/reasoning_question_filter.py:70-100 parses
    '"judgement_test": true|false' from the reply)."""

    def __init__(self, serving=None, input_key: str = "math_problem"):
        self.serving = serving
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        out = llm_map(
            df, self.serving,
            "Check this question for (1) well-formed statement, (2) sensible "
            "semantics, (3) non-contradictory conditions, (4) solvability "
            "with the given information. Reply "
            '{{"judgement_test": true}} or {{"judgement_test": false}}. '
            "Question: {%s}" % self.input_key,
            self.input_key, "_qf_raw")
        raw = F.lower(F.coalesce(F.col("_qf_raw"), F.lit("")))
        explicit = F.regexp_extract(raw, r'"judgement_test"\s*:\s*(true|false)', 1)
        verdict = F.when(explicit != "", explicit == "true").otherwise(
            raw.contains("true"))
        return out.filter(verdict).drop("_qf_raw")


@OPERATOR_REGISTRY.register()
class ReasoningQuestionCategorySampleEvaluator(Operator):
    """LLM classifies each question into primary/secondary category
    columns (reasoning/eval/reasoning_question_category_sample_
    evaluator.py:19 with MathQuestionCategoryPrompt)."""

    def __init__(self, serving=None, input_key: str = "question",
                 primary_key: str = "primary_category",
                 secondary_key: str = "secondary_category"):
        self.serving = serving
        self.input_key = input_key
        self.primary_key, self.secondary_key = primary_key, secondary_key
        self.input_keys = (input_key,)
        self.output_keys = (primary_key, secondary_key)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        out = llm_map(
            df, self.serving,
            "Classify this math question. Reply exactly "
            "'primary: <category>; secondary: <subcategory>'. "
            "Question: {%s}" % self.input_key,
            self.input_key, "_qc_raw")
        raw = F.coalesce(F.col("_qc_raw"), F.lit(""))
        prim = F.trim(F.regexp_extract(raw, r"(?i)primary\s*[:=]\s*([^;\n]+)", 1))
        sec = F.trim(F.regexp_extract(raw, r"(?i)secondary\s*[:=]\s*([^;\n]+)", 1))
        return (out.withColumn(self.primary_key, F.when(prim != "", prim))
                .withColumn(self.secondary_key, F.when(sec != "", sec))
                .drop("_qc_raw"))
