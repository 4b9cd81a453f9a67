"""Derived columns are computed once: ``with_columns_once`` attaches them
through one ``Generate`` node, so a later filter reads the stored value
instead of re-running the expression, while filters on pass-through
columns still reach the scan."""

import random

from pyspark.sql import functions as F

from dataflow_spark import audit
from dataflow_spark.core.operator import RefineOperator, with_columns_once
from dataflow_spark.core.registry import OPERATOR_REGISTRY, get_operator


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _texts(n: int, seed: int) -> list:
    """Seeded strings over ASCII and Unicode spaces, markup, digits,
    emoticons and PII-like tokens; NULL, "", "\\t" and U+00A0 included."""
    rng = random.Random(seed)
    pieces = [" ", "  ", "\t", "\n", "\u00a0", "\r\n", "the", "The", "cat",
              "can't", "we're", "42", "3.14", "!!!", "??", ",", ":-)", "<3",
              "&amp;", "&lt;b&gt;", "<b>", "[12]", "![x](y.png)",
              "http://x.io/a", "a@b.com", "555-123-4567", "123-45-6789",
              "10.0.0.1", "\u2018q\u2019", "\u2014", "caf\u00e9",
              "cafe\u0301", "\ufb01ne", "\U0001f600", "running", "Hello World",
              "----", "\n\n\n", "\x00"]
    rows = [None, "", "\t", "\u00a0", " \u00a0 x \u00a0 "]
    rows += ["".join(rng.choice(pieces) for _ in range(rng.randrange(0, 40)))
             for _ in range(n)]
    return rows


def test_with_columns_once_matches_with_columns(spark):
    df = spark.createDataFrame(
        [(1, "a b", 2), (2, None, None), (3, "", 0)],
        "id long, text string, k int")
    # a replaced column keeps its place and takes the new name's case
    cols = {"TEXT": F.upper("text"), "n": F.length("text"),
            "k2": F.col("k") * 2}
    got = with_columns_once(df, cols)
    want = df.withColumns(cols)
    assert got.columns == want.columns == ["id", "TEXT", "k", "n", "k2"]
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert "Generate" in _optimized(got)


def test_every_refiner_matches_with_column(spark):
    """Same rows, column order and schema as the ``withColumn`` form, for
    every refiner (none needs a model here: NER falls back to its regex
    without spaCy, spelling correction gets a vocabulary)."""
    args = {"SpellingCorrectionRefiner": {"vocabulary": ["cat", "the", "hello"]}}
    refiners = [name for name, cls in OPERATOR_REGISTRY.items()
                if issubclass(cls, RefineOperator)]
    assert len(refiners) == 21
    df = spark.createDataFrame(
        [(i, t, i % 3) for i, t in enumerate(_texts(120, seed=13))],
        "doc_id long, text string, k int").repartition(2)
    for name in refiners:
        op = get_operator(name, args.get(name))
        got = op.run(df)
        want = df.withColumn("text", op.refine_expr(F.col("text")))
        assert got.columns == want.columns == ["doc_id", "text", "k"], name
        assert got.schema == want.schema, name
        assert sorted(got.collect()) == sorted(want.collect()), name


def test_pass_through_filter_after_refiner_reaches_the_scan(spark, tmp_path):
    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "  x  y ", "web" if i % 2 else "book") for i in range(20)],
        "doc_id long, text string, source string").write.parquet(p)
    out = get_operator("GeneralFilter", {"predicates": ["source = 'web'"]}).run(
        get_operator("RemoveExtraSpacesRefiner", {}).run(spark.read.parquet(p)))
    [scan] = audit(out)["scans"]
    assert "source" in scan["pushed"], scan
    assert {(r.doc_id, r.text) for r in out.collect()} == {
        (i, "x y") for i in range(1, 20, 2)}


def test_with_columns_once_keeps_duplicate_names(spark):
    """A frame with a duplicated name (an un-deduplicated join) works as
    with ``withColumns`` when the duplicate is not the written column."""
    df = spark.createDataFrame([(1, " a  b ", 7, 8)],
                               "id long, text string, x int, y int")
    dup = df.select("id", "text", "x", F.col("y").alias("x"))
    cols = {"text": F.trim("text"), "n": F.length("text")}
    got = with_columns_once(dup, cols)
    want = dup.withColumns(cols)
    assert got.columns == want.columns == ["id", "text", "x", "x", "n"]
    assert got.collect() == want.collect() == [(1, "a  b", 7, 8, 6)]


def test_cheap_filter_still_moves_below_the_score(spark):
    """A label filter on a pass-through column (``keep_label`` included)
    moves below the score's ``Generate``, so the score runs only on the
    kept rows."""
    df = spark.createDataFrame([(1, "abcdef"), (2, "ab"), (3, None)],
                               "doc_id long, text string")
    scored = get_operator("QualityScoreEvaluator", {"stopwords": ["the"]}).run(df)
    for keep_label in (False, True):
        out = get_operator("CharNumberFilter",
                           {"min_chars": 4, "keep_label": keep_label}).run(scored)
        plan = _optimized(out)
        below = plan[plan.index("Generate"):].splitlines()[1:]
        assert any("Filter" in ln and "length(" in ln for ln in below), plan
        assert [r.doc_id for r in out.collect()] == [1]


def test_quality_score_sql_quotes_names_and_escapes_stopwords(spark):
    """The one-SQL-text score quotes any column name and escapes ``'`` and
    ``\\`` inside stopwords; scores equal the Python reference."""
    from test_filters import _quality_score_reference

    stopwords = ["don't", "a\\b", "it's", "\\", "'", "the"]
    texts = ["Don't a\\b it's \\ ' the end.", "a\\\\b 'it's' ''", None, "",
             "\t", "x\u00a0y the!", "THE \\ IT'S ok?"] + _texts(200, seed=5)
    names = ["my text", "a.b", "a`b", "acc", "w"]
    df = spark.createDataFrame(
        [(i, *([t] * len(names))) for i, t in enumerate(texts)],
        ["id"] + names)
    one = _quality_score_reference(stopwords)
    for name in names:
        op = get_operator("QualityScoreEvaluator",
                          {"input_key": name, "output_key": "qs",
                           "stopwords": stopwords})
        got = {r["id"]: r["qs"] for r in op.run(df).collect()}
        assert got == {i: one(t) for i, t in enumerate(texts)}, name
    # six of its seven words are stopwords: the escaped literals match
    assert one(texts[0]) == 0.25 * (7 / 100.0) + 0.25 + 0.25 + 0.25 * (5 / 7)
