"""Text refiners — in-place column rewrites as built-in expressions.

Reference inventory: general_text/refine/* (SURVEY.md §2.8). Each is a
``RefineOperator`` whose ``refine_expr`` is pure Spark SQL
(regexp_replace / translate / lower), so chains of refiners fuse into a
single projection inside one codegen stage — the reference materializes
a file between each.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataflow_spark.core.operator import RefineOperator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T
from dataflow_spark.operators.filters.rule_based import EN_STOPWORDS


@OPERATOR_REGISTRY.register()
class LowercaseRefiner(RefineOperator):
    """Lowercase the text column (ref: lowercase_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return F.lower(col)


@OPERATOR_REGISTRY.register()
class RemoveExtraSpacesRefiner(RefineOperator):
    """Collapse whitespace runs to single spaces and trim (ref:
    remove_extra_spaces_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return T.squash_spaces(col)


@OPERATOR_REGISTRY.register()
class RemoveNumberRefiner(RefineOperator):
    """Strip decimal digits (ref: remove_number_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, r"[0-9]+", "")


@OPERATOR_REGISTRY.register()
class RemovePunctuationRefiner(RefineOperator):
    """Strip ASCII punctuation (ref: remove_punctuation_refiner.py)."""

    PUNCT_RE = r"""[!-/:-@\[-`{-~]"""

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, self.PUNCT_RE, "")


@OPERATOR_REGISTRY.register()
class RemoveRepetitionsPunctuationRefiner(RefineOperator):
    """Collapse runs of the same punctuation char: '!!!' -> '!' (ref:
    remove_repetitions_punctuation_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, r"([!-/:-@\[-`{-~])\1+", "$1")


@OPERATOR_REGISTRY.register()
class HtmlUrlRemoverRefiner(RefineOperator):
    """Remove http(s):// URLs (ref: html_url_remover_refiner.py)."""

    URL_RE = r"https?://[^\s]+"

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, self.URL_RE, "")


@OPERATOR_REGISTRY.register()
class HtmlEntityRefiner(RefineOperator):
    """Decode the common HTML entities to their characters (ref:
    html_entity_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        c = F.regexp_replace(col, "&lt;", "<")
        c = F.regexp_replace(c, "&gt;", ">")
        c = F.regexp_replace(c, "&quot;", '"')
        c = F.regexp_replace(c, "&#39;", "'")
        c = F.regexp_replace(c, "&nbsp;", " ")
        c = F.regexp_replace(c, "&amp;", "&")
        return c


@OPERATOR_REGISTRY.register()
class RemoveEmojiRefiner(RefineOperator):
    """Strip emoji / pictograph codepoint ranges (ref:
    remove_emoji_refiner.py:57-82)."""

    EMOJI_RE = (
        "[\U0001f300-\U0001f5ff\U0001f600-\U0001f64f"
        "\U0001f680-\U0001f6ff\U0001f900-\U0001f9ff"
        "☀-⛿✀-➿️]"
    )

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, self.EMOJI_RE, "")


@OPERATOR_REGISTRY.register()
class RemoveImageRefsRefiner(RefineOperator):
    """Remove markdown image refs ![alt](url) (ref:
    remove_image_refs_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, r"!\[[^\]]*\]\([^)]*\)", "")


@OPERATOR_REGISTRY.register()
class ReferenceRemoverRefiner(RefineOperator):
    """Remove bracketed citation markers like [12] or [3,4] (ref:
    reference_remover_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return F.regexp_replace(col, r"\[[0-9]+(,\s*[0-9]+)*\]", "")


@OPERATOR_REGISTRY.register()
class RemoveStopwordsRefiner(RefineOperator):
    """Drop stopword tokens, rejoin with single spaces (ref:
    remove_stopwords_refiner.py)."""

    def __init__(self, input_key: str = "text", stopwords: list[str] | None = None):
        super().__init__(input_key)
        self.stopwords = stopwords or EN_STOPWORDS

    def refine_expr(self, col: Column) -> Column:
        sw = F.array(*[F.lit(s) for s in self.stopwords])
        kept = F.filter(T.words(col), lambda x: ~F.array_contains(sw, F.lower(x)))
        return F.concat_ws(" ", kept)


@OPERATOR_REGISTRY.register()
class RemoveContractionsRefiner(RefineOperator):
    """Expand common English contractions (ref: remove_contractions_refiner.py)."""

    PAIRS = [
        ("can't", "cannot"), ("won't", "will not"), ("n't", " not"),
        ("'re", " are"), ("'ve", " have"), ("'ll", " will"), ("'m", " am"),
    ]

    def refine_expr(self, col: Column) -> Column:
        c = col
        for a, b in self.PAIRS:
            c = F.regexp_replace(c, a, b)
        return c


@OPERATOR_REGISTRY.register()
class TextNormalizationRefiner(RefineOperator):
    """Normalize curly quotes/dashes to ASCII, collapse whitespace (ref:
    text_normalization_refiner.py)."""

    def refine_expr(self, col: Column) -> Column:
        return T.squash_spaces(F.translate(col, "‘’“”–—", "''\"\"--"))


@OPERATOR_REGISTRY.register()
class UnicodeNormalizationRefiner(RefineOperator):
    """Normalize text to a Unicode normal form (NFC default; NFD/NFKC/
    NFKD selectable).

    Canonical-equivalent strings ('é' composed vs 'e'+combining acute)
    hash differently, so exact/near dedup, decontamination, and
    fingerprinting silently miss duplicates on mixed-source corpora —
    normalizing FIRST is the standard fix (the reference normalizes
    inside individual refiners, e.g. text_normalization_refiner.py;
    this exposes the step as its own operator). Arrow-batched
    pandas_udf over unicodedata (the JVM has no normalization
    expression); NFC matches DuckDB's nfc_normalize for cross-engine
    oracle checks.
    """

    FORMS = ("NFC", "NFD", "NFKC", "NFKD")

    def __init__(self, input_key: str = "text", form: str = "NFC"):
        super().__init__(input_key)
        if form not in self.FORMS:
            raise ValueError(f"form must be one of {self.FORMS}")
        self.form = form

    def refine_expr(self, col: Column) -> Column:
        return _unicode_norm_udf(self.form)(col)


def _unicode_norm_udf(form: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        # unicodedata is C-implemented; is_normalized() is a
        # quick-check scan that returns without rebuilding the
        # string, so already-normalized docs (the common case on
        # real corpora) cost one pass and zero allocations.
        # (pyarrow's utf8_normalize is NOT usable here: as of
        # pyarrow 16 it decomposes regardless of the form option.)
        import unicodedata

        def one(t):
            if t is None or unicodedata.is_normalized(form, t):
                return t
            return unicodedata.normalize(form, t)

        return s.map(one)

    return norm
