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


def test_quality_score_udf_matches_expression_path(spark, docs):
    from dataflow_spark.core.registry import get_operator

    tricky = spark.createDataFrame(
        [(9001, "ends with bang!"), (9002, "tab end!\t"), (9003, "nl end!\n"),
         (9004, "  spaced.  "), (9005, ""), (9006, "THE the And ??"),
         (9007, " nbsp the end."), (9008, "word " * 150),
         # end punctuation counts only as the very last character
         (9009, ".\r"), (9010, "cr end!\r"), (9011, "crlf end?\r\n")],
        ["doc_id", "text"])
    both = docs.select("doc_id", "text").unionByName(tricky)
    fast = get_operator("QualityScoreEvaluator", {}).run(both)
    expr = get_operator("QualityScoreEvaluator", {"use_expr": True}).run(both)
    a = {r["doc_id"]: r["quality_score"] for r in fast.collect()}
    b = {r["doc_id"]: r["quality_score"] for r in expr.collect()}
    assert a == b  # bit-identical, not approx
    assert a[9009] == 0.25 * (1 / 100.0)  # no end-punctuation credit


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
