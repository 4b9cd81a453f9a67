"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All are deterministic. The quality score, token counts, fingerprint and
PII counts are pure Column expressions (JVM-side, SQL-mirrorable).
Language ID, the n-gram ratio, the Gopher repetition scores and the
compression ratio are Arrow-batched pandas UDFs, so a plan that uses
them starts Python workers. These are the "add a score column"
Evaluator archetype (SURVEY.md §2.1).
"""

from __future__ import annotations

from typing import Any

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator, with_columns_once
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import hashing as H
from dataflow_spark.functions import text as T
from dataflow_spark.functions.text import py_word_ngrams, py_words
from dataflow_spark.operators.filters.rule_based import EN_STOPWORDS

# Marker (stopword-like) vocabularies for the n-gram/marker-word language
# heuristic. Deterministic and tiny on purpose: langid here is a
# SQL-expressible heuristic, not a model (fasttext stays a pluggable
# extra, reference: general_text/filter/language_filter.py).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "una", "por", "como", "para"],
}


CJK_RE = "[一-鿿]"


def langid_expr(col: Column) -> Column:
    """CJK chars -> 'zh'; else argmax over marker-hit counts; 'und'
    (undetermined) when all zero.

    Ties break by priority en > de > fr > es (deterministic). CJK rule
    first because Chinese text is not whitespace-tokenized.

    Implementation: vectorized pandas UDF — the pure-expression variant
    (4 langs x words/filter/array_contains HOF trees) is CodegenFallback
    with no CSE, re-tokenizing every row 4x (~3x slower at sf0.1). The
    SQL-mirrorable definition is pinned by the t_langid oracle.
    """
    return _langid_udf()(col)


def _langid_udf():
    """Arrow-batched marker-word langid UDF (see :func:`langid_expr`)."""
    import re

    from pyspark.sql.functions import pandas_udf

    markers = {lang: frozenset(ms) for lang, ms in LANG_MARKERS.items()}
    cjk_re = re.compile(CJK_RE)

    def one(text: str | None) -> str | None:
        if text is None:
            return None
        if cjk_re.search(text):
            return "zh"
        toks = [w.lower() for w in py_words(text)]
        best_lang, best_n = "und", 0
        for lang in ["es", "fr", "de", "en"]:  # later wins ties (en first)
            n = sum(1 for t in toks if t in markers[lang])
            if n >= best_n and n > 0:
                best_lang, best_n = lang, n
            elif n >= best_n:
                best_n = n
        return best_lang

    @pandas_udf("string")
    def langid(s: pd.Series) -> pd.Series:
        return s.map(one)

    return langid


@OPERATOR_REGISTRY.register()
class LanguageIdEvaluator(Operator):
    """Add a predicted-language column via the marker-word heuristic."""

    def __init__(self, input_key: str = "text", output_key: str = "pred_lang"):
        self.input_key, self.output_key = input_key, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        return df.withColumn(self.output_key, langid_expr(F.col(self.input_key)))


@OPERATOR_REGISTRY.register()
class QualityScoreEvaluator(Operator):
    """Add a [0,1] composite quality score (functions/text.py:quality_score).

    One JVM-side expression, built as one SQL text: the text is tokenized
    once and a single ``aggregate`` counts tokens, stopword hits and
    alpha tokens, so the plan has no Python stage. NULL text scores NULL.
    The score is attached by ``with_columns_once``, so a filter on it
    reads the stored score instead of running the ``aggregate`` again.
    """

    def __init__(self, input_key: str = "text", output_key: str = "quality_score",
                 stopwords: list[str] | None = None):
        self.input_key, self.output_key = input_key, output_key
        self.stopwords = stopwords or EN_STOPWORDS
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        return with_columns_once(df, {
            self.output_key: T.quality_score(self.input_key, self.stopwords)})


@OPERATOR_REGISTRY.register()
class TokenCountEvaluator(Operator):
    """Add whitespace-word and BPE-ish token counts."""

    def __init__(self, input_key: str = "text", word_key: str = "n_words",
                 token_key: str = "n_tokens"):
        self.input_key = input_key
        self.word_key, self.token_key = word_key, token_key
        self.input_keys = (input_key,)
        self.output_keys = (word_key, token_key)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        c = F.col(self.input_key)
        return df.withColumn(self.word_key, T.word_count(c)).withColumn(
            self.token_key, T.token_count_bpe_ish(c)
        )


@OPERATOR_REGISTRY.register()
class FingerprintEvaluator(Operator):
    """Add a content fingerprint: lexicographic min of md5(char-shingle).

    A 1-permutation MinHash — stable under whitespace-preserving edits
    elsewhere in the doc; used for cheap near-dup candidate blocking and
    provenance tracking. Deterministic and oracle-mirrorable (md5 exists
    in DuckDB).
    """

    def __init__(self, input_key: str = "text", output_key: str = "fingerprint",
                 n: int = 8):
        self.input_key, self.output_key, self.n = input_key, output_key, n
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        sh = F.array_distinct(H.char_shingles(F.col(self.input_key), self.n))
        fp = F.array_min(F.transform(sh, lambda s: F.md5(s)))
        return df.withColumn(self.output_key, fp)


@OPERATOR_REGISTRY.register()
class NgramRepetitionEvaluator(Operator):
    """Add n-gram uniqueness ratio: |distinct word n-grams| / |n-grams|.

    Reference: NgramSampleEvaluator
    (general_text/eval/ngram_sample_evaluator.py:48-80) — low ratio means
    repetitive text.
    """

    def __init__(self, input_key: str = "text", output_key: str = "ngram_ratio",
                 n: int = 3):
        self.input_key, self.output_key, self.n = input_key, output_key, n
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        # pandas_udf rather than a Column expression of word n-grams: the
        # higher-order-function lambda tree is CodegenFallback in Spark
        # (no codegen CSE), so the gram array would be evaluated three
        # times per row (~6x slower measured at sf0.1).
        ratio = _ngram_ratio_udf(self.n)
        return df.withColumn(self.output_key, ratio(F.col(self.input_key)))


def _ngram_ratio_udf(n: int):
    """Arrow-batched distinct-ngram-ratio UDF (lowercased whitespace
    words, n-grams joined by single spaces; whole sequence as one gram
    for docs shorter than n words)."""
    from pyspark.sql.functions import pandas_udf

    def one(text: str):
        if text is None:
            return None
        grams = py_word_ngrams(py_words(text.lower()), n)
        return len(set(grams)) / len(grams)

    @pandas_udf("double")
    def ratio(s: pd.Series) -> pd.Series:
        return s.map(one)

    return ratio


@OPERATOR_REGISTRY.register()
class GopherRepetitionEvaluator(Operator):
    """Gopher-style within-doc repetition scores (Rae et al. 2021 §A1.1),
    three columns per row:

      - ``dup_segment_frac``: fraction of ``segment_words``-word windows
        that are within-doc duplicates (the line-level rule, adapted to
        corpora without line structure);
      - ``top_ngram_char_frac``: characters covered by the single most
        repeated word n-gram (count x gram length) over total n-gram
        characters — ties resolved by maximal character coverage;
      - ``dup_ngram_char_frac``: characters covered by all n-grams
        occurring more than once, over total n-gram characters.

    Words are lowercased whitespace tokens (same convention as
    :class:`NgramRepetitionEvaluator`); a doc shorter than ``n`` words
    contributes its whole word sequence as one gram; empty docs score 0.
    One Arrow-batched pandas_udf computes all three in a single pass
    (the HOF-lambda Column form is CodegenFallback and re-evaluates the
    gram array per score — measured slower, same rationale as
    NgramRepetitionEvaluator).
    """

    def __init__(self, input_key: str = "text", n: int = 2,
                 segment_words: int = 10):
        if n <= 0 or segment_words <= 0:
            raise ValueError("n and segment_words must be positive")
        self.input_key, self.n, self.segment_words = input_key, n, segment_words
        self.input_keys = (input_key,)
        self.output_keys = ("dup_segment_frac", "top_ngram_char_frac",
                            "dup_ngram_char_frac")

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        rep = _gopher_rep_udf(self.n, self.segment_words)
        out = df.withColumn("_rep", rep(F.col(self.input_key)))
        for c in self.output_keys:
            out = out.withColumn(c, F.col("_rep").getField(c))
        return out.drop("_rep")


def _gopher_rep_udf(n: int, k: int):
    """Arrow-batched Gopher-repetition UDF: one pass computes
    (dup_segment_frac, top_ngram_char_frac, dup_ngram_char_frac) per
    the class docstring's exact definitions."""
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    def one(text):
        if text is None:
            return (None, None, None)
        w = py_words(text.lower())
        if not w:
            return (0.0, 0.0, 0.0)
        segs = [" ".join(w[i * k:(i + 1) * k])
                for i in range((len(w) + k - 1) // k)]
        dup_seg = 1.0 - len(set(segs)) / len(segs)
        cnt = Counter(py_word_ngrams(w, n))
        cover = {g: c * len(g) for g, c in cnt.items()}
        total = sum(cover.values())
        if total == 0:
            return (dup_seg, 0.0, 0.0)
        top = max(cover.values()) / total
        dup = sum(v for g, v in cover.items() if cnt[g] > 1) / total
        return (dup_seg, top, dup)

    @pandas_udf("dup_segment_frac double, top_ngram_char_frac double, "
                "dup_ngram_char_frac double")
    def rep(s: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            s.map(one).tolist(),
            columns=["dup_segment_frac", "top_ngram_char_frac",
                     "dup_ngram_char_frac"], index=s.index)

    return rep


@OPERATOR_REGISTRY.register()
class LanguageFilter(Operator):
    """Keep rows whose predicted language is in ``allowed_languages``.

    Reference: general_text/filter/language_filter.py (fasttext) — ours
    composes LanguageIdEvaluator's marker heuristic with an isin
    predicate; a fasttext backend can replace langid_expr without
    touching the filter.
    """

    def __init__(self, allowed_languages: list[str] | None = None,
                 input_key: str = "text", keep_label: bool = False,
                 label_key: str = "pred_lang"):
        self.allowed = allowed_languages or ["en"]
        self.input_key = input_key
        self.keep_label = keep_label
        self.label_key = label_key
        self.input_keys = (input_key,)
        self.output_keys = (label_key,) if keep_label else ()

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        lang = langid_expr(F.col(self.input_key))
        if self.keep_label:
            return (df.withColumn(self.label_key, lang)
                    .filter(F.col(self.label_key).isin(self.allowed)))
        return df.filter(lang.isin(self.allowed))


@OPERATOR_REGISTRY.register()
class PIICountEvaluator(Operator):
    """Count PII hits (emails/phones/SSNs/IPs/cards) per row.

    Reference: PresidioSampleEvaluator (general_text/eval/
    presidio_sample_evaluator.py:73) counts presidio entities; ours
    counts regex hits with the same typed inventory as
    PIIAnonymizeRefiner — pure regexp_count, oracle-able.
    """

    def __init__(self, input_key: str = "text", output_key: str = "pii_count"):
        self.input_key, self.output_key = input_key, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        from dataflow_spark.operators.refiners.pii import PIIAnonymizeRefiner

        c = F.col(self.input_key)
        total = None
        for pat, _ in PIIAnonymizeRefiner.RULES:
            cnt = F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0))
            total = cnt if total is None else total + cnt
        return df.withColumn(self.output_key, total)


@OPERATOR_REGISTRY.register()
class LLMLanguageFilter(Operator):
    """LLM judges each row's language; keep rows whose judged code is in
    ``allowed_languages`` (general_text/filter/llm_language_filter.py:38).
    The judged code is the first 2-3-letter lowercase token in the reply."""

    def __init__(self, serving, allowed_languages: list[str] | None = None,
                 input_key: str = "text"):
        self.serving = serving
        self.allowed = allowed_languages or ["en"]
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = ()

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        from dataflow_spark.operators.generate.llm_map import llm_map

        out = llm_map(df, self.serving,
                      "Reply with the ISO language code of: {%s}" % self.input_key,
                      self.input_key, "_lang_raw")
        code = F.regexp_extract(F.lower(F.col("_lang_raw")), r"\b([a-z]{2,3})\b", 1)
        return out.filter(code.isin(self.allowed)).drop("_lang_raw")


@OPERATOR_REGISTRY.register()
class CompressionRatioEvaluator(Operator):
    """Add ``compression_ratio``: len(zlib(text, level=6)) / len(text).

    The classic cheap repetitiveness signal (used alongside the Gopher
    heuristics): highly repetitive/templated text compresses far below
    natural prose (~0.3-0.6), so a LOW ratio flags boilerplate and a
    ratio near/above 1 flags random or already-compressed content.
    Arrow-batched pandas UDF (zlib is C-speed per batch); deterministic
    for a fixed zlib level. Not SQL-expressible, so this operator is
    covered by unit tests rather than the DuckDB oracle contract.
    """

    def __init__(self, input_key: str = "text",
                 output_key: str = "compression_ratio", level: int = 6):
        self.input_key, self.output_key = input_key, output_key
        self.level = level
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        import zlib

        from pyspark.sql.functions import pandas_udf

        level = self.level

        @pandas_udf("double")
        def ratio(s: pd.Series) -> pd.Series:
            def one(t):
                if t is None or len(t) == 0:
                    return None
                raw = t.encode("utf-8", "ignore")
                return len(zlib.compress(raw, level)) / len(raw)
            return s.map(one)

        return df.withColumn(self.output_key, ratio(F.col(self.input_key)))
