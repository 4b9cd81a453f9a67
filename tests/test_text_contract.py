"""One whitespace contract (``functions/text.py``).

The Column forms (``words``, ``word_count``, ``squash_spaces``) must
agree with the Python forms the pandas UDFs call (``py_words``) over
seeded texts built from ASCII whitespace, ``\\r\\n``, Unicode spaces
that are not ASCII ``\\s``, mixed-case Unicode, empty strings and NULL.
The operators that used to tokenize on their own count the same words.
"""

import random

import pytest
from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator
from dataflow_spark.functions import text as T

SPACES = [" ", "\t", "\n", "\x0b", "\x0c", "\r", "\r\n",
          "\u00a0", "\u2003", "\u3000", "\u0085", "\x1f"]
PIECES = ["a", "Bé", "ß", "ΣΑΣ", "İx", "w0rd", "é", "...", "x"]


def _corpus(n: int = 600, seed: int = 20261019) -> list:
    rng = random.Random(seed)
    out = [None, "", "\t", " \n ", "x\u00a0y"] + SPACES + PIECES
    while len(out) < n:
        parts = [rng.choice(SPACES + PIECES)
                 for _ in range(rng.randrange(0, 12))]
        out.append("".join(parts))
    return out


def test_py_words_and_ngrams():
    assert T.py_words(None) == [] and T.py_words("") == []
    assert T.py_words(" \ta\x0bb\r\nc\u00a0d ") == ["a", "b", "c\u00a0d"]
    ws = ["a", "b", "c"]
    assert T.py_word_ngrams(ws, 2) == ["a b", "b c"]
    assert T.py_word_ngrams(ws, 3) == ["a b c"]
    assert T.py_word_ngrams(ws, 5) == ["a b c"]
    assert T.py_word_ngrams([], 2) == [""]


def test_column_forms_equal_python_forms(spark):
    texts = _corpus()
    df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
    c = F.col("t")
    rows = (df.select("i", T.words(c).alias("w"),
                      T.word_count(c).alias("n"),
                      T.squash_spaces(c).alias("s"))
            .orderBy("i").collect())
    assert len(rows) == len(texts)
    for r, t in zip(rows, texts):
        if t is None:
            assert (r.w, r.n, r.s) == (None, None, None)
            continue
        want = T.py_words(t)
        assert r.w == want, repr(t)
        assert r.n == len(want), repr(t)
        assert r.s == " ".join(want), repr(t)


def test_reasoning_token_count_drops_whitespace_only_tokens(spark):
    texts = ["\t", " \n ", "\tone two\n", " three "]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    row = get_operator("ReasoningTokenDatasetEvaluator", {}).run(df).first()
    assert (row.n, row.total_tokens, row.min_tokens, row.max_tokens) == (
        4, 3, 0, 2)
    langkit = get_operator("LangkitSampleEvaluator", {}).run(df)
    assert [r.langkit_words for r in langkit.collect()] == [0, 0, 2, 1]


def test_bm25_query_keeps_non_ascii_space_inside_a_term(spark):
    df = spark.createDataFrame(
        [(1, "x\u00a0y"), (2, "x y"), (3, "z")], "doc_id long, text string")
    out = get_operator("BM25RetrievalOperator", {
        "queries": ["x\u00a0y"], "top_k": 10}).run(df).collect()
    assert [(r.doc_id, r["rank"]) for r in out] == [(1, 1)]


@pytest.mark.parametrize("text,score", [
    ("a\u00a0a a\u00a0a", 1.0),  # two words, one 2-gram
    ("a a a a", 1.0 / 3.0),  # four words, three equal 2-grams
])
def test_reasoning_ngram_filter_splits_on_ascii_whitespace(spark, text, score):
    df = spark.createDataFrame([(text,)], "generated_cot string")
    out = get_operator("ReasoningAnswerNgramFilter", {
        "min_score": 0.0, "ngrams": 2}).run(df).first()
    assert out.repetition_score == pytest.approx(score)
