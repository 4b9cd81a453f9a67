"""LLM-map operators against the deterministic mock serving (FIXTURES F10)."""

import pytest

from dataflow_spark.core.registry import get_operator
from dataflow_spark.serving import MockLLMServing, HashEmbeddingServing


def test_prompted_generator_deterministic(spark):
    df = spark.createDataFrame([("alpha",), ("beta",)], ["text"])
    op = get_operator("PromptedGenerator", {
        "serving": MockLLMServing(mode="hash"), "prompt_template": "{text}",
        "input_key": "text", "output_key": "gen"})
    out = {r["text"]: r["gen"] for r in op.run(df).collect()}
    # stable across runs: md5-derived
    assert out["alpha"].startswith("resp-") and out["alpha"] != out["beta"]
    out2 = {r["text"]: r["gen"] for r in op.run(df).collect()}
    assert out == out2


def test_prompted_refiner_overwrites_in_place(spark):
    df = spark.createDataFrame([("x",)], ["text"])
    op = get_operator("PromptedRefiner", {
        "serving": MockLLMServing(mode="template", template="R:{prompt}"),
        "input_key": "text"})
    assert op.run(df).first()["text"] == "R:x"


def test_prompted_evaluator_extracts_score(spark):
    df = spark.createDataFrame([("good",)], ["text"])
    op = get_operator("PromptedEvaluator", {
        "serving": MockLLMServing(mode="template", template="score: 0.75 ok"),
        "input_key": "text", "output_key": "s"})
    assert op.run(df).first()["s"] == pytest.approx(0.75)


def test_prompted_filter_thresholds(spark):
    df = spark.createDataFrame([("keep 0.9",), ("drop 0.1",)], ["text"])
    op = get_operator("PromptedFilter", {
        "serving": MockLLMServing(mode="echo"), "input_key": "text",
        "min_score": 0.5})
    kept = [r["text"] for r in op.run(df).collect()]
    assert kept == ["keep 0.9"]


def test_serving_retry():
    s = MockLLMServing(mode="echo", fail_first=1)  # first batch call fails
    out = s.generate_with_retry(["p"], max_retries=3, base_delay=0.01)
    assert out == ["p"]


@pytest.mark.parametrize("deterministic", [True, False])
def test_llm_map_sends_each_distinct_prompt_once(spark, tmp_path,
                                                  deterministic):
    from dataflow_spark.operators.generate.llm_map import llm_map

    # defined here so cloudpickle ships the class by value to the worker
    class LoggingServing(MockLLMServing):
        """Template mock that appends every prompt it is sent to a file
        (it runs in a Python worker, so the test reads the log back)."""

        def __init__(self, log_path, deterministic):
            super().__init__(mode="template", template="A:{prompt}")
            self.log_path = log_path
            self.deterministic = deterministic

        def generate_batch(self, prompts):
            with open(self.log_path, "a") as f:
                f.writelines(p + "\n" for p in prompts)
            return super().generate_batch(prompts)

    texts = ["b", "a", "b", "c", "a", "b"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               ["doc_id", "text"]).coalesce(1)
    log = tmp_path / "prompts.txt"
    serving = LoggingServing(str(log), deterministic)
    rows = llm_map(df, serving, "Q:{text}", "text", "out").collect()
    assert [(r["doc_id"], r["out"]) for r in rows] == \
        [(i, f"A:Q:{t}") for i, t in enumerate(texts)]
    sent = log.read_text().splitlines()
    if deterministic:  # first-seen order, one request per distinct prompt
        assert sent == ["Q:b", "Q:a", "Q:c"]
    else:              # sampled generation: one request per row
        assert sent == [f"Q:{t}" for t in texts]


def test_embedding_generator_deterministic(spark):
    df = spark.createDataFrame([("t1",), ("t1",), ("t2",)], ["text"])
    op = get_operator("EmbeddingGenerator", {
        "serving": HashEmbeddingServing(dim=8), "input_key": "text"})
    rows = op.run(df).collect()
    assert len(rows[0]["embedding"]) == 8
    assert rows[0]["embedding"] == rows[1]["embedding"]  # same text, same vec
    assert rows[0]["embedding"] != rows[2]["embedding"]


def test_chunked_generator_reassembles_in_order(spark):
    df = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])
    op = get_operator("ChunkedPromptedGenerator", {
        "serving": MockLLMServing(mode="echo"), "prompt_template": "{_chunk}",
        "input_key": "text", "output_key": "gen", "chunk_chars": 4,
        "id_key": "doc_id"})
    assert op.run(df).first()["gen"] == "abcd efgh ij"
