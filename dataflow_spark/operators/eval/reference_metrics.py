"""Reference-based text metrics: sentence BLEU and token-F1.

Reference: BleuSampleEvaluator + vendored bleu/ (SURVEY.md §2.7) and
AgenticRAGQAF1SampleEvaluator (agenticrag_qaf1_sample_evaluator.py).
Implemented from the published definitions (Papineni et al. 2002 BLEU
with +1 smoothing; SQuAD-style token F1) as vectorized pandas_udfs —
deterministic, model-free.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions.text import py_words


def lower_words(s: str | None) -> list[str]:
    """Lowercased whitespace words, the tokens BLEU, F1 and CIDEr count."""
    return [t.lower() for t in py_words(s)]


def sentence_bleu(candidate: str, reference: str, max_n: int = 4) -> float:
    """BLEU-4 with add-1 smoothing on the modified n-gram precisions."""
    c_toks, r_toks = lower_words(candidate), lower_words(reference)
    if not c_toks or not r_toks:
        return 0.0
    log_p = 0.0
    for n in range(1, max_n + 1):
        c_ngrams = Counter(tuple(c_toks[i:i + n]) for i in range(len(c_toks) - n + 1))
        r_ngrams = Counter(tuple(r_toks[i:i + n]) for i in range(len(r_toks) - n + 1))
        overlap = sum(min(c, r_ngrams[g]) for g, c in c_ngrams.items())
        total = max(sum(c_ngrams.values()), 0)
        log_p += math.log((overlap + 1) / (total + 1))
    bp = 1.0 if len(c_toks) > len(r_toks) else math.exp(1 - len(r_toks) / len(c_toks))
    return bp * math.exp(log_p / max_n)


def token_f1(candidate: str, reference: str) -> float:
    c_toks, r_toks = lower_words(candidate), lower_words(reference)
    if not c_toks or not r_toks:
        return float(c_toks == r_toks)
    common = Counter(c_toks) & Counter(r_toks)
    overlap = sum(common.values())
    if overlap == 0:
        return 0.0
    p, r = overlap / len(c_toks), overlap / len(r_toks)
    return 2 * p * r / (p + r)


@OPERATOR_REGISTRY.register()
class BleuSampleEvaluator(Operator):
    def __init__(self, input_key: str = "generated", reference_key: str = "reference",
                 output_key: str = "bleu"):
        self.input_key, self.reference_key = input_key, reference_key
        self.output_key = output_key
        self.input_keys = (input_key, reference_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        @pandas_udf("double")
        def bleu(c: pd.Series, r: pd.Series) -> pd.Series:
            return pd.Series([sentence_bleu(a, b) for a, b in zip(c, r)])

        return df.withColumn(self.output_key,
                             bleu(F.col(self.input_key), F.col(self.reference_key)))


@OPERATOR_REGISTRY.register()
class TokenF1SampleEvaluator(Operator):
    def __init__(self, input_key: str = "generated", reference_key: str = "reference",
                 output_key: str = "token_f1"):
        self.input_key, self.reference_key = input_key, reference_key
        self.output_key = output_key
        self.input_keys = (input_key, reference_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        @pandas_udf("double")
        def f1(c: pd.Series, r: pd.Series) -> pd.Series:
            return pd.Series([token_f1(a, b) for a, b in zip(c, r)])

        return df.withColumn(self.output_key,
                             f1(F.col(self.input_key), F.col(self.reference_key)))
