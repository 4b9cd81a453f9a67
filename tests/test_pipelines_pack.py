"""Ready-made pipeline builders (reference statics/pipelines parity)."""

import pytest

from dataflow_spark import pipelines as P
from dataflow_spark.serving import MockLLMServing


def test_all_builders_construct():
    mock = MockLLMServing(mode="echo")
    no_args = {"text_pt_filter", "reasoning_cpu", "code_pt_filter",
               "chemistry_smiles", "text2sql_cpu", "kbc_url",
               "bencheval_semantic", "bencheval_question_single_step"}
    for name, builder in P.PIPELINES.items():
        if name in no_args:
            builder()
        elif name == "text_sft_filter":
            builder(serving=mock)
        elif name == "prompted_core_text":
            for kind in ("eval", "filter", "refine"):
                builder(kind, mock)
        elif name == "agentic_rag_multihop":
            continue  # needs a corpus DataFrame; covered by its run test
        else:
            builder(mock)


def test_reference_statics_fully_mapped():
    """Every reference statics/pipelines module resolves to a PIPELINES
    entry by its original module name, so no reference pipeline is
    left without a port."""
    import os

    ref_dir = "/root/reference/dataflow/statics/pipelines"
    if not os.path.isdir(ref_dir):
        pytest.skip("reference checkout not present")
    modules = set()
    for sub in ("api_pipelines", "cpu_pipelines"):
        for f in os.listdir(os.path.join(ref_dir, sub)):
            if f.endswith(".py") and not f.startswith("_"):
                modules.add(f[:-3])
    assert modules == set(P.REFERENCE_STATICS_MAP), (
        "statics drift: missing "
        f"{sorted(modules - set(P.REFERENCE_STATICS_MAP))}, stale "
        f"{sorted(set(P.REFERENCE_STATICS_MAP) - modules)}")
    for mod, entry in P.REFERENCE_STATICS_MAP.items():
        assert entry in P.PIPELINES, f"{mod} -> {entry} not in PIPELINES"


def test_text_pt_filter_pipeline_runs(spark, docs):
    pipe = P.text_pt_filter_pipeline()
    out = pipe.forward(docs)
    n = out.count()
    assert 0 <= n <= docs.count()
    assert "text" in out.columns


def test_reasoning_cpu_pipeline_runs(spark):
    rows = [
        (1, "so the answer is \\boxed{4}", "4"),
        (2, "so the answer is \\boxed{9}", "8"),
        (3, "no final marker here", "1"),
    ]
    df = spark.createDataFrame(rows, ["id", "output", "golden_answer"])
    out = P.reasoning_cpu_pipeline().forward(df)
    assert [r.id for r in out.collect()] == [1]


def test_text2sql_pipeline_runs(spark):
    mock = MockLLMServing(
        mode="template",
        template="```sql\nSELECT 1 AS one\n```")
    df = spark.createDataFrame(
        [("db1", "CREATE TABLE t(a INT);")], ["db_id", "schema_ddl"])
    out = P.text2sql_pipeline(mock).forward(df)
    rows = out.collect()
    assert rows and all(r.SQL == "SELECT 1 AS one" for r in rows)
    assert {"sql_hardness", "question", "prompt", "cot"} <= set(out.columns)


def test_kbc_pipeline_runs(spark):
    mock = MockLLMServing(
        mode="template", template="Q: What? A: This.")
    df = spark.createDataFrame(
        [("doc body " * 40,)], ["text"])
    out = P.kbc_pipeline(mock, chunk_size=120).forward(df)
    rows = out.collect()
    assert rows and all(r.question == "What?" for r in rows)


def test_agentic_rag_pipeline_runs(spark):
    mock = MockLLMServing(mode="template", template="task text")
    df = spark.createDataFrame([("source passage",)], ["text"])
    out = P.agentic_rag_pipeline(mock).forward(df)
    assert out.count() >= 1


def test_text_sft_filter_pipeline_runs(spark, docs):
    out = P.text_sft_filter_pipeline().forward(docs.limit(50))
    assert "superfiltering_score" in out.columns
    assert out.count() <= 50


def test_code_pt_filter_pipeline_runs(spark):
    rows = [
        (1, "def add(a, b):\n    \"\"\"Add two numbers together and "
            "return their sum as a value.\"\"\"\n    return a + b\n"
            "result = add(1, 2)\nprint(result)\n"),
        (2, "QUJDREVGR0hJSktMTU5PUFFSU1RVVldYWVo=" * 40),  # base64 blob
    ]
    df = spark.createDataFrame(rows, ["id", "code"])
    out = P.code_pt_filter_pipeline().forward(df)
    ids = [r.id for r in out.collect()]
    assert 2 not in ids  # encoded-data blob filtered


def test_bench_eval_pipeline_runs(spark):
    mock = MockLLMServing(mode="template", template="42")
    df = spark.createDataFrame(
        [("What is 6*7?", "42"), ("What is 2+2?", "4")],
        ["question", "gold"])
    out = P.bench_eval_pipeline(mock).forward(df)
    rows = out.collect()
    # UnifiedBenchDatasetEvaluator aggregates: one accuracy row
    assert len(rows) == 1
    assert rows[0]["n"] == 2 and abs(rows[0]["accuracy"] - 0.5) < 1e-9


def test_reasoning_pretrain_pipeline_runs(spark):
    mock = MockLLMServing(
        mode="template",
        template='{{"judgement_test": true}} Solution: fine \\boxed{{4}}')
    df = spark.createDataFrame(
        [("What is 2+2?", "4")], ["question", "golden_answer"])
    out = P.reasoning_pretrain_pipeline(mock).forward(df)
    rows = out.collect()
    assert rows and "text" in out.columns


def test_chemistry_pipeline_runs(spark):
    df = spark.createDataFrame(
        [("The monomer SMILES is C1=CC=CC=C1 here", "C1=CC=CC=C1")],
        ["text", "gt_smiles"])
    out = P.chemistry_pipeline().forward(df)
    assert out.count() >= 0  # structural: chain compiles and executes


def test_prompted_core_text_pipeline_runs(spark, docs):
    mock = MockLLMServing(mode="template", template="4.5")
    out = P.prompted_core_text_pipeline(
        "eval", mock, prompt_template="Rate: {text}").forward(docs.limit(3))
    assert out.count() == 3
    import pytest

    with pytest.raises(ValueError):
        P.prompted_core_text_pipeline("bogus", mock)


def test_mathfusion_pipeline_runs(spark):
    mock = MockLLMServing(
        mode="template",
        template="think...\n#New Problem#: fused({prompt:.40s})")
    df = spark.createDataFrame(
        [("What is 2+2?",), ("What is 3+3?",), ("What is 10/2?",)],
        ["question"])
    out = P.reasoning_math_mathfusion_pipeline(mock).forward(df)
    rows = out.collect()
    assert rows and all(r.refined_question.startswith("fused(")
                        for r in rows)
    assert "solvable" in out.columns


def test_text2sql_cpu_pipeline_runs(spark):
    # Bird-style input: question + SQL already present (the reference
    # cpu pipeline curates an existing text2sql dataset, no LLM)
    df = spark.createDataFrame(
        [("db1", "CREATE TABLE t(a INT);", "how many?", "SELECT 1 AS one"),
         ("db1", "CREATE TABLE t(a INT);", "broken?", "SELEC broken")],
        ["db_id", "schema_ddl", "question", "SQL"])
    out = P.text2sql_cpu_pipeline().forward(df)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].SQL == "SELECT 1 AS one"
    assert {"prompt", "sql_hardness"} <= set(out.columns)


def test_bencheval_variants_run(spark):
    df = spark.createDataFrame(
        [("q1", "4", "4"), ("q1", "5", "4"), ("q2", "a", "a")],
        ["question_id", "answer", "gold"])
    sem = P.bencheval_semantic_pipeline().forward(df)
    r = sem.collect()
    assert len(r) == 1 and r[0]["n"] == 3
    single = P.bencheval_question_single_step_pipeline().forward(df)
    assert single.count() >= 1
    mock = MockLLMServing(mode="template", template="4")
    gen = P.bencheval_question_pipeline(mock).forward(
        df.withColumnRenamed("answer", "question"))
    assert gen.count() >= 1


def test_reasoning_diy_and_general_run(spark):
    mock = MockLLMServing(
        mode="template",
        template='{{"judgement_test": true}} '
                 '{{"judgement_result": true}} solution \\boxed{{4}}')
    df = spark.createDataFrame(
        [("Compute 2+2. Show your reasoning.", "4")],
        ["question", "golden_answer"])
    for builder in (P.reasoning_diy_pipeline, P.reasoning_general_pipeline):
        out = builder(mock).forward(df)
        assert "solution" in out.columns
        assert out.count() >= 1  # executes the full chain


def test_code_code_to_sft_pipeline_runs(spark):
    mock = MockLLMServing(mode="template",
                          template="print('ok')")
    df = spark.createDataFrame([("print('hello world')",)], ["code"])
    out = P.code_code_to_sft_pipeline(mock).forward(df)
    assert "back_instruction" in out.columns
    out.count()


def test_agentic_rag_multihop_pipeline_runs(spark):
    mock = MockLLMServing(mode="template", template="step: {prompt:.30s}")
    corpus = spark.createDataFrame(
        [("Paris is the capital of France.",),
         ("The Seine flows through Paris.",)], ["text"])
    df = spark.createDataFrame([("What is the capital of France?",)],
                               ["question"])
    out = P.agentic_rag_multihop_pipeline(mock, corpus).forward(df)
    assert "depth_task" in out.columns
    assert out.count() >= 1
