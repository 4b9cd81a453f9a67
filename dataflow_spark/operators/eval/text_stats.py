"""Per-row scorers (sample evaluators) — the scalar-function library.

Reference: SURVEY.md §2.7 'pure string/math' group. Model-based scorers
(perplexity, qurating, reward models...) are pluggable extras behind the
LLM/serving layer; the deterministic core lives here as expressions.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T


@OPERATOR_REGISTRY.register()
class LexicalDiversityEvaluator(Operator):
    """Type-token ratio family: TTR and root-TTR (Guiraud index).

    Reference: LexicalDiversitySampleEvaluator (MTLD/HD-D); we ship the
    deterministic TTR variants SQL-side; MTLD's sequential-window scan
    does not vectorize and adds little signal at scale.
    """

    def __init__(self, input_key: str = "text", ttr_key: str = "ttr",
                 rttr_key: str = "rttr"):
        self.input_key, self.ttr_key, self.rttr_key = input_key, ttr_key, rttr_key
        self.input_keys = (input_key,)
        self.output_keys = (ttr_key, rttr_key)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        w = F.transform(T.words(F.col(self.input_key)), lambda x: F.lower(x))
        n = F.size(w)
        ty = F.size(F.array_distinct(w))
        return df.withColumn(
            self.ttr_key, F.when(n > 0, ty.cast("double") / n)
        ).withColumn(self.rttr_key, F.when(n > 0, ty / F.sqrt(n.cast("double"))))


@OPERATOR_REGISTRY.register()
class CodeTextCompositionEvaluator(Operator):
    """Code-vs-text composition ratios: alnum ratio, symbol ratio, max
    line length. Reference: CodeTextCompositionSampleEvaluator et al."""

    def __init__(self, input_key: str = "text"):
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = ("alnum_ratio", "symbol_ratio", "max_line_len")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        c = F.col(self.input_key)
        n = F.length(c)
        alnum = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", ""))
        sym = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
        return (
            df.withColumn("alnum_ratio", F.when(n > 0, alnum.cast("double") / n))
            .withColumn("symbol_ratio", F.when(n > 0, sym.cast("double") / n))
            .withColumn(
                "max_line_len",
                F.array_max(F.transform(F.split(c, r"\n"), lambda ln: F.length(ln))),
            )
        )


@OPERATOR_REGISTRY.register()
class LangkitSampleEvaluator(Operator):
    """Readability/statistics bundle per row: word count, sentence
    count, syllable estimate (vowel groups), Flesch reading ease.

    Reference: LangkitSampleEvaluator (general_text/eval/
    langkit_sample_evaluator.py:80, whylogs langkit metrics). Engine
    semantics: the classic Flesch formula over regex counts — pure
    Column expressions, oracle-able.
    """

    def __init__(self, input_key: str = "text", prefix: str = "langkit_"):
        self.input_key = input_key
        self.prefix = prefix
        self.input_keys = (input_key,)
        self.output_keys = (prefix + "words", prefix + "sentences",
                            prefix + "syllables", prefix + "flesch")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        c = F.col(self.input_key)
        words = T.word_count(c)
        sentences = F.greatest(
            F.size(F.filter(F.split(c, r"[.!?]+"), lambda s: F.trim(s) != "")),
            F.lit(1))
        syllables = F.coalesce(F.regexp_count(F.lower(c), F.lit("[aeiouy]+")), F.lit(0))
        w = F.greatest(words, F.lit(1)).cast("double")
        flesch = (F.lit(206.835) - F.lit(1.015) * (w / sentences)
                  - F.lit(84.6) * (syllables / w))
        p = self.prefix
        return (df.withColumn(p + "words", words)
                .withColumn(p + "sentences", sentences)
                .withColumn(p + "syllables", syllables)
                .withColumn(p + "flesch", F.round(flesch, 4)))
