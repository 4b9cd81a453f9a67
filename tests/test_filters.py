"""Rule-based filter semantics on hand-built fixtures (FIXTURES.md F1/F3)."""

import pytest

from dataflow_spark.core.registry import get_operator


@pytest.fixture(scope="module")
def fixture_df(spark):
    rows = [
        (0, "A decent paragraph with several plain words in it."),
        (1, "ends with a colon:"),
        (2, ""),
        (3, None),
        (4, "word " * 300),              # long repetition
        (5, "NASA FBI CIA ALLCAPS YELLING LOUD WORDS HERE"),
        (6, "has &amp; entity and &lt;tags&gt;"),
        (7, "Lorem ipsum dolor sit amet."),
        (8, "Copyright 2024 some corp."),
        (9, "{json} {like} {content} {everywhere} {braces}"),
        (10, "the the the the the the the the"),
        (11, "1234 5678 90 12 34 56"),
        (12, "spam viagra casino words"),
        (13, "my ssn is 123-45-6789 ok"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def kept_ids(op_name, params, df):
    out = get_operator(op_name, {"input_key": "text", **params}).run(df)
    return {r["id"] for r in out.select("id").collect()}


def test_colon_end(fixture_df):
    ids = kept_ids("ColonEndFilter", {}, fixture_df.filter("text is not null"))
    assert 1 not in ids and 0 in ids


def test_content_null(fixture_df):
    ids = kept_ids("ContentNullFilter", {}, fixture_df)
    assert 2 not in ids and 3 not in ids and 0 in ids


def test_word_number(fixture_df):
    ids = kept_ids("WordNumberFilter", {"min_words": 5, "max_words": 50},
                   fixture_df.filter("text is not null"))
    assert 0 in ids and 4 not in ids and 2 not in ids


def test_capital_words(fixture_df):
    ids = kept_ids("CapitalWordsFilter", {"threshold": 0.5},
                   fixture_df.filter("text is not null"))
    assert 5 not in ids and 0 in ids


def test_html_entity(fixture_df):
    ids = kept_ids("HtmlEntityFilter", {}, fixture_df.filter("text is not null"))
    assert 6 not in ids and 0 in ids


def test_lorem_watermark_blocklist_pii(fixture_df):
    df = fixture_df.filter("text is not null")
    assert 7 not in kept_ids("LoremIpsumFilter", {}, df)
    assert 8 not in kept_ids("WatermarkFilter", {}, df)
    assert 12 not in kept_ids("BlocklistFilter", {}, df)
    assert 13 not in kept_ids("IDCardFilter", {}, df)


def test_unique_words(fixture_df):
    df = fixture_df.filter("text is not null")
    ids = kept_ids("UniqueWordsFilter", {"threshold": 0.5}, df)
    assert 10 not in ids and 0 in ids


def test_curly_bracket(fixture_df):
    df = fixture_df.filter("text is not null")
    ids = kept_ids("CurlyBracketFilter", {"threshold": 0.025}, df)
    assert 9 not in ids and 0 in ids


def test_alpha_words(fixture_df):
    df = fixture_df.filter("text is not null")
    ids = kept_ids("AlphaWordsFilter", {"threshold": 0.6}, df)
    assert 11 not in ids and 0 in ids


def test_score_range(spark):
    df = spark.createDataFrame([(1, 0.8), (2, 1.0), (3, 0.5), (4, None)],
                               ["id", "score"])
    out = get_operator("ScoreRangeFilter",
                       {"input_key": "score", "min_score": 0.8, "max_score": 1.0}).run(df)
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_general_filter(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "valid", 0.9), (2, "rejected", 0.95), (3, "valid", 0.3)],
        ["id", "status", "score"])
    op = get_operator("GeneralFilter",
                      {"predicates": [F.col("status") == "valid", "score >= 0.5"]})
    assert [r["id"] for r in op.run(df).collect()] == [1]


def _quality_score_reference(stopwords):
    """Pure-Python per-row quality score, the formula of
    functions/text.py:quality_score in the same operation order: Java-\\s
    tokenization (ASCII whitespace), space-only trim, end punctuation at
    the absolute end."""
    import re

    sw = frozenset(stopwords)
    ws_re = re.compile(r"\s+", re.ASCII)   # Java default \s == ASCII
    alpha_re = re.compile(r"[A-Za-z]")
    punct_re = re.compile(r"[.!?]\Z")   # absolute end, as Java \z

    def one(t):
        if t is None:
            return None
        w = [x for x in ws_re.split(t) if x]
        n = len(w)
        len_score = min(n / 100.0, 1.0)
        sw_ratio = (sum(1 for x in w if x.lower() in sw) / n) if n else 0.0
        sw_score = min(sw_ratio / 0.3, 1.0)
        punct = 1.0 if punct_re.search(t.strip(" ")) else 0.0
        alpha = (sum(1 for x in w if alpha_re.search(x)) / n) if n else 0.0
        return 0.25 * len_score + 0.25 * sw_score + 0.25 * punct + 0.25 * alpha

    return one


def _generated_quality_corpus(n, seed):
    """Seeded strings over ASCII whitespace (incl. \\x0b, \\x0c, \\r\\n),
    mixed-case stopwords, non-ASCII letters, digits and punctuation;
    about 3% NULL."""
    import random

    rng = random.Random(seed)
    pieces = [" ", " ", "  ", "\t", "\n", "\x0b", "\x0c", "\r", "\r\n",
              "the", "The", "THE", "aNd", "Of", "IS", "it", "iT", "bY",
              "é", "ß", "Σ", "İ", "ǅ", "ﬁ", "İs", "İT", "Σtop", "straße",
              "a", "x", "Zed", "word", "42", "7", ".", "!", "?", ",", ":"]
    rows = []
    for i in range(n):
        if rng.random() < 0.03:
            rows.append(None)
            continue
        rows.append("".join(rng.choice(pieces)
                            for _ in range(rng.randrange(0, 160))))
    return rows


def test_quality_score_matches_python_reference(spark, docs):
    from dataflow_spark.operators.filters.rule_based import EN_STOPWORDS

    tricky = spark.createDataFrame(
        [(9001, "ends with bang!"), (9002, "tab end!\t"), (9003, "nl end!\n"),
         (9004, "  spaced.  "), (9005, ""), (9006, "THE the And ??"),
         (9007, " nbsp the end."), (9008, "word " * 150),
         # end punctuation counts only as the very last character
         (9009, ".\r"), (9010, "cr end!\r"), (9011, "crlf end?\r\n"),
         (9012, None)],
        "doc_id: long, text: string")
    generated = spark.createDataFrame(
        [(10_000 + i, t) for i, t in
         enumerate(_generated_quality_corpus(2500, seed=7))],
        "doc_id: long, text: string")
    both = (docs.select("doc_id", "text").unionByName(tricky)
            .unionByName(generated))
    out = get_operator("QualityScoreEvaluator", {}).run(both)
    got = {r["doc_id"]: r["quality_score"] for r in out.collect()}
    one = _quality_score_reference(EN_STOPWORDS)
    want = {r["doc_id"]: one(r["text"]) for r in both.collect()}
    assert len(want) > 2500 + 12
    assert got == want  # bit-identical, not approx
    assert got[9009] == 0.25 * (1 / 100.0)  # no end-punctuation credit
    assert got[9012] is None  # NULL text scores NULL


def test_compression_ratio(spark):
    from dataflow_spark.core.registry import get_operator

    df = spark.createDataFrame([
        (1, "spam " * 400),                 # highly repetitive
        (2, "The committee convened to discuss watershed management, "
            "reviewing hydrological surveys and stakeholder feedback "
            "before drafting the final allocation proposal."),
        (3, ""),
        (4, None),
    ], "doc_id: long, text: string")
    op = get_operator("CompressionRatioEvaluator", {})
    got = {r["doc_id"]: r["compression_ratio"]
           for r in op.run(df).collect()}
    assert got[1] < 0.05          # repetition compresses away
    assert 0.3 < got[2] < 1.0     # natural prose
    assert got[1] < got[2]
    assert got[3] is None and got[4] is None
    # deterministic
    again = {r["doc_id"]: r["compression_ratio"] for r in op.run(df).collect()}
    assert got == again
