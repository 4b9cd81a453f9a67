"""Text statistics as pure Column expressions (JVM-side, codegen-friendly).

Every Column helper here compiles to built-in Spark SQL expressions — no
Python UDFs — so filters built on them stay inside whole-stage codegen
and can be partially pushed into the scan. Each function documents the
exact semantics so the DuckDB oracle SQL in __spark_entry__.py can
mirror it token for token. ``py_words`` and ``py_word_ngrams`` are the
Python twins the pandas UDFs call.
"""

from __future__ import annotations

import re
import sys

from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

# UDF closures call the py_* twins below. Pickled by value, they
# reach the Python workers without an import of the whole dataflow_spark
# package, as in functions/hashing.py.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# Word = maximal run of non-whitespace, whitespace = ASCII \s (Java's \s,
# Python's under re.ASCII). Empties are dropped: no phantom words.
WS_RE = r"\s+"
SENT_RE = r"[.!?]+"
_PY_WS = re.compile(WS_RE, re.ASCII)


def words(col: Column) -> Column:
    """array<string> of whitespace-delimited tokens, empties removed;
    NULL for NULL."""
    return F.filter(F.split(col, WS_RE), lambda x: x != F.lit(""))


def word_count(col: Column) -> Column:
    return F.size(words(col))


def squash_spaces(col: Column) -> Column:
    """Whitespace runs collapsed to one space, ends trimmed: the words
    joined by single spaces."""
    return F.trim(F.regexp_replace(col, WS_RE, " "))


def py_words(text: str | None) -> list[str]:
    """Python twin of :func:`words`; ``[]`` for None or ``""``."""
    return [w for w in _PY_WS.split(text) if w] if text else []


def py_word_ngrams(ws: list[str], n: int) -> list[str]:
    """Word n-grams in order, each joined by single spaces. A sequence
    shorter than ``n`` words is one gram of the whole sequence (``""``
    for no words), so a short text still matches a verbatim copy."""
    if len(ws) < n:
        return [" ".join(ws)]
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]


def py_distinct_word_ngrams(text: str | None, n: int) -> list[str]:
    """The sorted distinct word n-grams of ``text`` (:func:`py_words`,
    :func:`py_word_ngrams`; a text shorter than ``n`` words is one
    gram); no words, no grams."""
    w = py_words(text)
    return sorted(set(py_word_ngrams(w, n))) if w else []


def py_word_segments(text: str | None, k: int) -> list[str]:
    """Ordered consecutive non-overlapping ``k``-word windows of
    :func:`py_words`, each joined by single spaces (the last may be
    shorter); no words, no segments."""
    w = py_words(text)
    return [" ".join(w[i * k:(i + 1) * k])
            for i in range((len(w) + k - 1) // k)]


def sentence_count(col: Column) -> Column:
    """Number of [.!?]+-terminated segments with non-space content."""
    return F.size(F.filter(F.split(col, SENT_RE), lambda x: F.trim(x) != F.lit("")))


def line_array(col: Column) -> Column:
    return F.split(col, r"\n")


def mean_word_length(col: Column) -> Column:
    """Average token length; null when there are no words."""
    w = words(col)
    return F.when(
        F.size(w) > 0,
        F.aggregate(w, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x))
        / F.size(w),
    )


def unique_word_ratio(col: Column) -> Column:
    """|distinct lowercase tokens| / |tokens|; null when empty."""
    w = F.transform(words(col), lambda x: F.lower(x))
    return F.when(F.size(w) > 0, F.size(F.array_distinct(w)).cast("double") / F.size(w))


def capital_word_ratio(col: Column) -> Column:
    """Fraction of tokens that are fully upper-case (and contain a letter)."""
    w = words(col)
    caps = F.filter(w, lambda x: (x == F.upper(x)) & x.rlike("[A-Za-z]"))
    return F.when(F.size(w) > 0, F.size(caps).cast("double") / F.size(w))


def symbol_word_ratio(col: Column, symbols: str = "#...") -> Column:
    """#occurrences of symbol chars / #words (reference: SymbolWordRatioFilter)."""
    w = word_count(col)
    n_sym = F.length(col) - F.length(F.translate(col, "#|…", ""))
    return F.when(w > 0, n_sym.cast("double") / w)


def curly_bracket_ratio(col: Column) -> Column:
    """('{' + '}') count / total chars; 0 for empty strings."""
    n = F.length(col) - F.length(F.translate(col, "{}", ""))
    return F.when(F.length(col) > 0, n.cast("double") / F.length(col)).otherwise(F.lit(0.0))


def alpha_word_ratio(col: Column) -> Column:
    """Fraction of tokens containing at least one ASCII letter."""
    w = words(col)
    alpha = F.filter(w, lambda x: x.rlike("[A-Za-z]"))
    return F.when(F.size(w) > 0, F.size(alpha).cast("double") / F.size(w))


def stopword_ratio(col: Column, stopwords: list[str]) -> Column:
    """Fraction of lowercase tokens found in ``stopwords``."""
    sw = F.array(*[F.lit(s) for s in stopwords])
    w = F.transform(words(col), lambda x: F.lower(x))
    hits = F.filter(w, lambda x: F.array_contains(sw, x))
    return F.when(F.size(w) > 0, F.size(hits).cast("double") / F.size(w))


def line_ratio(col: Column, predicate) -> Column:
    """Fraction of \\n-lines satisfying ``predicate`` (Column -> Column)."""
    lines = line_array(col)
    return F.when(
        F.size(lines) > 0,
        F.size(F.filter(lines, predicate)).cast("double") / F.size(lines),
    )


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish token estimate: count of word-piece matches.

    Pattern: runs of letters, runs of digits, or single non-space
    non-alnum symbols -- a deterministic stand-in for a real tokenizer
    that both Spark and the DuckDB oracle can evaluate.
    """
    return F.regexp_count(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (``\\`` and ``'`` escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def quality_score(name: str, stopwords: list[str]) -> Column:
    """Composite document-quality heuristic in [0,1] of column ``name``.

    0.25*len_score + 0.25*stopword_score + 0.25*punct_score + 0.25*alpha
      - len_score: min(word_count/100, 1)
      - stopword_score: min(stopword_ratio/0.3, 1)
      - punct_score: 1 if the space-trimmed text's last character is
        . ! or ?, else 0
      - alpha: alpha_word_ratio
    Deterministic, SQL-mirrorable; the shape follows published text
    quality heuristics (Gopher/C4-style rules). NULL text scores NULL.

    The text is tokenized once: one ``split`` and one ``aggregate`` that
    counts tokens, stopword hits and ASCII-alpha tokens per non-empty
    token. The stopword test is ``IN`` over literals, which Catalyst
    turns into a hash ``InSet`` above 10 items. The expression is built
    as one SQL text, so the plan build is one parse instead of some 80
    py4j calls; the name is backtick-quoted and the regexes and the
    (non-empty) stopwords are escaped as SQL literals.
    """
    col = sql_ident(name)
    # lambda variables shadow columns: keep them off the column's name
    acc, w = ("acc", "w") if name.lower() not in ("acc", "w") else ("acc_", "w_")
    sw = ", ".join(sql_str(s) for s in stopwords)
    count = (f"CASE WHEN {w} = '' THEN {acc} ELSE named_struct("
             f"'n', {acc}.n + 1, "
             f"'sw', {acc}.sw + CAST(lower({w}) IN ({sw}) AS INT), "
             f"'alpha', {acc}.alpha + CAST({w} RLIKE '[A-Za-z]' AS INT)) END")
    # \z: absolute end (Java $ also matches before a final \r or \n)
    end_punct = sql_str(r"[.!?]\z")
    punct = f"CASE WHEN trim({col}) RLIKE {end_punct} THEN 1.0D ELSE 0.0D END"
    n = f"{acc}.n"
    score = (
        f"least(CAST({n} AS DOUBLE) / 100.0D, 1.0D) * 0.25D"
        f" + least(CASE WHEN {n} > 0 THEN CAST({acc}.sw AS DOUBLE) / {n}"
        f" ELSE 0.0D END / 0.3D, 1.0D) * 0.25D"
        f" + {punct} * 0.25D"
        f" + CASE WHEN {n} > 0 THEN CAST({acc}.alpha AS DOUBLE) / {n}"
        f" ELSE 0.0D END * 0.25D")
    return F.expr(
        f"aggregate(split({col}, {sql_str(WS_RE)}), "
        f"named_struct('n', 0, 'sw', 0, 'alpha', 0), "
        f"({acc}, {w}) -> {count}, {acc} -> {score})")
