"""Paired threshold filters, code filters, reasoning filters, and the
MinerU-shaped converters: reference operator families the first port
left out."""

import os

import pytest

from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator
from dataflow_spark.serving import MockLLMServing


@pytest.fixture(scope="module")
def texts(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (2, "spam spam spam spam spam spam spam spam spam spam spam spam"),
        (3, "Call me at 555-123-4567 or mail alice@example.com for details now"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, ["id", "text"]).coalesce(2)


def test_ngram_filter_drops_repetitive(spark, texts):
    out = get_operator("NgramFilter", {"min_score": 0.8, "ngrams": 3}).run(texts)
    ids = {r.id for r in out.select("id").collect()}
    assert 2 not in ids and 1 in ids
    assert "NgramScore" in out.columns


def test_presidio_filter_bands_pii_count(spark, texts):
    out = get_operator("PresidioFilter", {"min_score": 0, "max_score": 0}).run(texts)
    ids = {r.id for r in out.select("id").collect()}
    assert 3 not in ids and 1 in ids


def test_lexical_diversity_filter(spark, texts):
    out = get_operator("LexicalDiversityFilter", {
        "min_scores": {"ttr": 0.5}, "max_scores": {"ttr": 1.0}}).run(texts)
    ids = {r.id for r in out.select("id").collect()}
    assert 2 not in ids and 1 in ids
    with pytest.raises(ValueError):
        get_operator("LexicalDiversityFilter", {"min_scores": {"ttr": 0}})


def test_langkit_filter_runs(spark, texts):
    out = get_operator("LangkitFilter", {
        "min_scores": {"langkit_words": 5},
        "max_scores": {"langkit_words": 100}}).run(texts)
    assert {r.id for r in out.select("id").collect()} == {1, 2, 3}


def test_debertav3_filter_labels(spark, texts):
    out = get_operator("DebertaV3Filter", {
        "allowed_scores": ["Low", "Medium", "High"]}).run(texts)
    got = {r.Debertav3Score for r in out.collect()}
    assert got <= {"Low", "Medium", "High"}
    assert out.count() == 4  # all labels allowed -> nothing dropped
    some = get_operator("DebertaV3Filter", {"allowed_scores": ["High"]}).run(texts)
    assert some.count() <= 4


def test_llm_backed_filters(spark, texts):
    # template-mode mock gives a constant parseable reply per operator
    alp = get_operator("AlpagasusFilter", {
        "serving": MockLLMServing(mode="template", template="score: 4"),
        "min_score": 3, "max_score": 5}).run(texts)
    assert alp.count() == 4
    tre = get_operator("TreeinstructFilter", {
        "serving": MockLLMServing(mode="template", template="nodes: 9"),
        "min_score": 7, "max_score": 100}).run(texts)
    assert tre.count() == 4
    ins = get_operator("InstagFilter", {
        "serving": MockLLMServing(mode="template", template="math, algebra"),
        "min_score": 2, "max_score": 2}).run(texts)
    assert ins.count() == 4
    per = get_operator("PerspectiveFilter", {
        "serving": MockLLMServing(mode="template", template="0.9"),
        "max_score": 0.5}).run(texts)
    assert per.count() == 0


def test_composition_task_filter(spark):
    df = spark.createDataFrame(
        [("plan a trip", "book flight", "book hotel")],
        ["composition_task", "sub1", "sub2"])
    out = get_operator("CompositionTaskFilter", {
        "serving": MockLLMServing(mode="template", template="yes")}).run(
        df, input_composition_task_key="composition_task",
        input_sub_tasks_keys=["sub1", "sub2"])
    assert out.count() == 1 and out.collect()[0].runable_label == 1
    none = get_operator("CompositionTaskFilter", {
        "serving": MockLLMServing(mode="template", template="no")}).run(
        df, input_composition_task_key="composition_task",
        input_sub_tasks_keys=["sub1", "sub2"])
    assert none.count() == 0


# --- code filters ----------------------------------------------------------

@pytest.fixture(scope="module")
def code_df(spark):
    rows = [
        (1, "def f(x):\n    return x + 1\n"),
        (2, "# auto-generated by protoc. DO NOT EDIT\nx = 1\n"),
        (3, "data = '" + "A" * 200 + "'\n"),
        (4, "{}{}{}{}{}{}{}{}{}{}"),
    ]
    return spark.createDataFrame(rows, ["id", "code"]).coalesce(2)


def test_code_autogen_and_encoded_filters(spark, code_df):
    auto = get_operator("CodeAutoGeneratedFilter", {}).run(code_df)
    assert 2 not in {r.id for r in auto.collect()}
    enc = get_operator("CodeEncodedDataFilter", {"max_ratio": 0.5}).run(code_df)
    assert 3 not in {r.id for r in enc.collect()}


def test_code_composition_and_generic_filters(spark, code_df):
    comp = get_operator("CodeTextCompositionFilter", {}).run(code_df)
    assert 4 not in {r.id for r in comp.collect()}
    scored = code_df.withColumn("score", F.col("id") * 3)
    gen = get_operator("CodeGenericScoreFilter", {
        "score_threshold": 6, "filter_method": "greater_equal",
        "input_score_key": "score"}).run(scored)
    assert {r.id for r in gen.collect()} == {2, 3, 4}


def test_code_doc_quality(spark, code_df):
    ev = get_operator("CodeDocumentQualitySampleEvaluator", {}).run(code_df)
    scores = {r.id: r.CodeDocumentQualityScore for r in ev.collect()}
    assert scores[1] == 1.0
    strict = get_operator("CodeDocumentQualityFilter", {
        "thresholds": {"min_entropy_unigram": 0.5}}).run(code_df)
    assert 4 not in {r.id for r in strict.collect()}


def test_code_quality_score_filter_keeps_parse_failures(spark, code_df):
    df = code_df.withColumn("instruction", F.lit("write code"))
    out = get_operator("CodeQualityScoreFilter", {
        "serving": MockLLMServing(mode="template", template="8/10"),
        "min_score": 7}).run(df)
    assert out.count() == 4
    low = get_operator("CodeQualityScoreFilter", {
        "serving": MockLLMServing(mode="template", template="3/10"),
        "min_score": 7}).run(df)
    assert low.count() == 0
    unparseable = get_operator("CodeQualityScoreFilter", {
        "serving": MockLLMServing(mode="template", template="no idea"),
        "min_score": 7}).run(df)
    assert unparseable.count() == 4  # null scores kept per reference


def test_code_file_type_content_filter(spark):
    rows = [
        (1, "python", "main.py", 100, None, None),
        (2, "text", "notes.txt", 10, None, None),
        (3, "text", "random.txt", 10, None, None),
        (4, "json", "big.json", 900, None, None),
        (5, "html", "page.html", 50, 500, 1000),
        (6, "html", "page2.html", 50, 10, 1000),
    ]
    df = spark.createDataFrame(rows, ["id", "filetype", "filename",
                                      "line_count", "visible_text_length",
                                      "total_code_length"])
    out = get_operator("CodeFileTypeContentFilter", {}).run(df)
    assert {r.id for r in out.collect()} == {1, 2, 5}


def test_code_length_sample_filter_alias_semantics(spark, code_df):
    out = get_operator("CodeLengthSampleFilter", {
        "input_key": "code", "max_line_length": 100}).run(code_df)
    assert 3 not in {r.id for r in out.collect()}


# --- reasoning filters -----------------------------------------------------

@pytest.fixture(scope="module")
def cot_df(spark):
    rows = [
        (1, "We add 2 and 2. The answer is \\boxed{4}", "4"),
        (2, "Compute 3*4 = 12 so the answer is 12.", "12.0"),
        (3, "loop loop loop loop loop loop loop loop loop loop loop loop", "7"),
        (4, "The total is \\boxed{15}", "16"),
        (5, None, "1"),
    ]
    return spark.createDataFrame(
        rows, ["id", "generated_cot", "golden_answer"]).coalesce(2)


def test_answer_formatter_filter(spark, cot_df):
    out = get_operator("ReasoningAnswerFormatterFilter", {}).run(cot_df)
    assert {r.id for r in out.collect()} == {1, 4}
    keep_all = get_operator("ReasoningAnswerFormatterFilter",
                            {"require_boxed": False}).run(cot_df)
    assert keep_all.count() == 5


def test_answer_token_length_filter(spark, cot_df):
    out = get_operator("ReasoningAnswerTokenLengthFilter",
                       {"max_answer_token_length": 10}).run(cot_df)
    ids = {r.id for r in out.collect()}
    assert 5 not in ids and 1 not in ids and 4 in ids


def test_answer_ngram_filter(spark, cot_df):
    out = get_operator("ReasoningAnswerNgramFilter", {
        "min_score": 0.9, "ngrams": 3}).run(cot_df)
    ids = {r.id for r in out.collect()}
    assert 3 not in ids and 1 in ids
    # zh branch: repeated chars score low
    zh = spark.createDataFrame(
        [(1, "床前明月光疑是地上霜举头望明月低头思故乡"),
         (2, "好好好好好好好好好好好好好好好好好好好好")],
        ["id", "generated_cot"])
    kept = get_operator("ReasoningAnswerNgramFilter", {
        "min_score": 0.5, "ngrams": 3}).run(zh)
    assert {r.id for r in kept.collect()} == {1}


def test_answer_ground_truth_filter(spark, cot_df):
    out = get_operator("ReasoningAnswerGroundTruthFilter", {}).run(cot_df)
    assert {r.id for r in out.collect()} == {1, 2}  # 12 == 12.0 numerically
    exact = get_operator("ReasoningAnswerGroundTruthFilter",
                         {"compare_method": "exact"}).run(cot_df)
    assert {r.id for r in exact.collect()} == {1}


def test_answer_pipeline_root_filter(spark):
    rows = [(1, "answer is 5", "9"), (2, "answer is 7", None),
            (3, None, None)]
    df = spark.createDataFrame(rows, ["id", "output", "golden_answer"])
    op = get_operator("ReasoningAnswerPipelineRootFilter", {})
    labeled = op.run(df)
    got = {r.id: (r.golden_answer, r.has_gt) for r in labeled.collect()}
    assert got[1] == ("9", True)
    assert got[2] == ("7", True)  # backfilled from extracted answer
    assert got[3][1] is False
    with_gt, without_gt = op.split(df)
    assert with_gt.count() == 2 and without_gt.count() == 1


def test_answer_model_judge_filter(spark, cot_df):
    df = cot_df.selectExpr("id", "generated_cot as answer",
                           "golden_answer as reference_answer",
                           "'q' as question").where("answer is not null")
    yes = get_operator("ReasoningAnswerModelJudgeFilter", {
        "serving": MockLLMServing(mode="template",
                                  template='{{"judgement_result": true}}')}).run(df)
    assert yes.count() == 4
    no = get_operator("ReasoningAnswerModelJudgeFilter", {
        "serving": MockLLMServing(mode="template",
                                  template='{{"judgement_result": false}}'),
        "keep_all_samples": True}).run(df)
    assert no.count() == 4
    assert all(not r.answer_match_result for r in no.collect())


def test_question_filter_and_category(spark):
    df = spark.createDataFrame([(1, "What is 2+2?")], ["id", "math_problem"])
    ok = get_operator("ReasoningQuestionFilter", {
        "serving": MockLLMServing(mode="template",
                                  template='{{"judgement_test": true}}')}).run(df)
    assert ok.count() == 1
    bad = get_operator("ReasoningQuestionFilter", {
        "serving": MockLLMServing(mode="template",
                                  template='{{"judgement_test": false}}')}).run(df)
    assert bad.count() == 0
    cat = get_operator("ReasoningQuestionCategorySampleEvaluator", {
        "serving": MockLLMServing(
            mode="template",
            template="primary: arithmetic; secondary: addition"),
        "input_key": "math_problem"}).run(df)
    row = cat.collect()[0]
    assert row.primary_category == "arithmetic"
    assert row.secondary_category == "addition"


# --- MinerU converters -----------------------------------------------------

def test_markdown_converter_local(spark, tmp_path):
    md = tmp_path / "doc.md"
    md.write_text("# Title\nbody text")
    html = tmp_path / "page.html"
    html.write_text("<html><h1>Head</h1><p>para &amp; more</p>"
                    "<script>junk()</script></html>")
    pdf = tmp_path / "scan.pdf"
    pdf.write_bytes(b"%PDF-1.4 fake")
    out_dir = str(tmp_path / "intermediate")
    df = spark.createDataFrame(
        [(str(md),), (str(html),), (str(pdf),), ("",)], ["source"])
    op = get_operator("FileOrURLToMarkdownConverterLocal",
                      {"intermediate_dir": out_dir})
    got = {os.path.basename(r.source) if r.source else "":
           r.text_path for r in op.run(df).collect()}
    assert got["doc.md"].endswith("doc.md") and os.path.exists(got["doc.md"])
    page = open(got["page.html"]).read()
    assert "# Head" in page and "para & more" in page and "junk" not in page
    assert got["scan.pdf"] == ""  # no pdf backend bundled -> per-row failure
    assert got[""] == ""
    # pdf_converter seam: plugging a callable makes PDFs convert
    op2 = get_operator("FileOrURLToMarkdownConverterLocal", {
        "intermediate_dir": out_dir,
        "pdf_converter": lambda b: f"pdf with {len(b)} bytes"})
    got2 = {os.path.basename(r.source): r.text_path
            for r in op2.run(df.where("source != ''")).collect()}
    assert open(got2["scan.pdf"]).read().startswith("pdf with")


def test_mineru_to_llm_input(spark, tmp_path):
    md = tmp_path / "layout.md"
    md.write_text("# T\n![img](fig1.png)\n<table><tr>x</tr></table>\n\n\nbody")
    df = spark.createDataFrame([(str(md),)], ["text_path"])
    out = get_operator("MinerU2LLMInputOperator", {}).run(df)
    path = out.collect()[0].llm_input_path
    assert path.endswith("_llm.md")
    content = open(path).read()
    assert "fig1.png" not in content and "<table>" not in content
    assert "body" in content


def test_markdown_converter_api_and_flash_register(spark):
    assert get_operator("FileOrURLToMarkdownConverterAPI",
                        {"api_key": "k"}).api_key == "k"
    get_operator("FileOrURLToMarkdownConverterFlash", {})


class TestPercentileThresholdFilter:
    def test_top_and_bottom(self, spark):
        from dataflow_spark.core.registry import get_operator

        df = spark.createDataFrame([(i, float(i)) for i in range(1, 11)],
                                   ["doc_id", "score"])
        top = get_operator("PercentileThresholdFilter",
                           {"score_key": "score", "q": 0.7})
        kept = sorted(r["doc_id"] for r in top.run(df).collect())
        # exact 70th percentile of 1..10 = 7.3 -> keep 8, 9, 10
        assert kept == [8, 9, 10]
        bot = get_operator("PercentileThresholdFilter",
                           {"score_key": "score", "q": 0.3,
                            "keep": "bottom"})
        assert sorted(r["doc_id"] for r in bot.run(df).collect()) == [1, 2, 3]

    def test_approx_mode_runs(self, spark):
        from dataflow_spark.core.registry import get_operator

        df = spark.createDataFrame([(i, float(i % 100)) for i in range(1000)],
                                   ["doc_id", "score"])
        op = get_operator("PercentileThresholdFilter",
                          {"score_key": "score", "q": 0.9, "approx": True})
        n = op.run(df).count()
        assert 50 <= n <= 200  # ~10% kept, t-digest tolerance

    def test_validation(self):
        import pytest

        from dataflow_spark.core.registry import get_operator

        with pytest.raises(ValueError):
            get_operator("PercentileThresholdFilter",
                         {"score_key": "s", "q": 1.5})
        with pytest.raises(ValueError):
            get_operator("PercentileThresholdFilter",
                         {"score_key": "s", "keep": "middle"})
