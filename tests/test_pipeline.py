"""Pipeline compile/forward/resume + registry semantics."""

import pytest

from dataflow_spark import Pipeline, StepStore
from dataflow_spark.core.pipeline import PipelineKeyError
from dataflow_spark.core.registry import OPERATOR_REGISTRY, Registry, get_operator


def test_compile_validates_keys(docs):
    pipe = Pipeline([get_operator("WordNumberFilter", {"input_key": "nope"})])
    with pytest.raises(PipelineKeyError, match="nope"):
        pipe.compile(docs.columns)


def test_compile_tracks_written_keys(docs):
    pipe = Pipeline([
        get_operator("LanguageIdEvaluator", {"input_key": "text",
                                             "output_key": "pl"}),
        get_operator("GeneralFilter", {"predicates": ["pl = 'en'"]}),
    ])
    nodes = pipe.compile(docs.columns)
    assert nodes[0]["writes"] == ["pl"]


def test_forward_validates_every_input(docs):
    # a reused Pipeline checks each frame it is given, not just the first
    pipe = Pipeline([get_operator("WordNumberFilter", {"input_key": "text"})])
    pipe.forward(docs)
    with pytest.raises(PipelineKeyError, match="text"):
        pipe.forward(docs.drop("text"))


def test_forward_and_resume(tmp_path, spark, docs):
    store = StepStore(str(tmp_path / "steps"))
    pipe = Pipeline([
        get_operator("LowercaseRefiner", {"input_key": "text"}),
        get_operator("CharNumberFilter", {"input_key": "text", "min_chars": 10}),
    ], store=store, checkpoint_every=1)
    n1 = pipe.forward(docs).count()
    assert store.last_step == 1
    # resume from the checkpoint: same result without re-running step 0
    resumed = pipe.forward(docs, resume_step=1, spark=spark)
    assert resumed.count() == n1


def test_graph_export(docs):
    pipe = Pipeline([get_operator("LowercaseRefiner", {"input_key": "text"})])
    dot = pipe.graph()
    assert "LowercaseRefiner" in dot and dot.startswith("digraph")


def test_registry_whitelist():
    reg = Registry("t")

    @reg.register()
    class A:  # noqa
        @classmethod
        def get_desc(cls, lang="en"):
            return "a"

    @reg.register("B")
    class B:  # noqa
        @classmethod
        def get_desc(cls, lang="en"):
            return "b"

    assert reg.keys() == ["A", "B"]
    reg.apply_whitelist(["A"])
    assert reg.keys() == ["A"]
    with pytest.raises(KeyError):
        reg.get("B")
    reg.clear_whitelist()
    assert reg.get("B") is B


def test_registry_describe_has_all_ops():
    desc = OPERATOR_REGISTRY.describe()
    assert len(desc) >= 70
    assert all(isinstance(v, str) and v for v in desc.values())


def test_transform_operator(spark):
    df = spark.createDataFrame([(3, "c"), (1, "a"), (2, "b")], ["id", "v"])
    op = get_operator("TransformOperator", {"transforms": [
        lambda d: d.orderBy("id"),
        lambda d: d.limit(2),
    ]})
    assert [r["id"] for r in op.run(df).collect()] == [1, 2]


def test_serving_lifecycle_cleanup(spark, tmp_path):
    from dataflow_spark import Pipeline, StepStore
    from dataflow_spark.core.registry import get_operator
    from dataflow_spark.serving import MockLLMServing

    class TrackedServing(MockLLMServing):
        def __init__(self):
            super().__init__(mode="hash")
            self.cleaned = 0

        def cleanup(self):
            self.cleaned += 1

    s1, s2 = TrackedServing(), TrackedServing()
    store = StepStore(str(tmp_path / "steps"))
    pipe = Pipeline([
        get_operator("PromptedGenerator", {"serving": s1, "input_key": "text",
                                           "output_key": "g1"}),
        get_operator("PromptedGenerator", {"serving": s2, "input_key": "g1",
                                           "prompt_template": "{g1}",
                                           "output_key": "g2"}),
    ], store=store, checkpoint_every=1)
    df = spark.createDataFrame([("x",)], ["text"])
    out = pipe.forward(df)
    # checkpointed execution: s1's last use (step 0) materialized -> cleaned
    assert s1.cleaned == 1 and s2.cleaned == 1
    assert out.count() == 1

    # lazy execution: nothing cleaned until explicit cleanup()
    s3 = TrackedServing()
    lazy = Pipeline([get_operator("PromptedGenerator", {"serving": s3,
                                                        "input_key": "text"})])
    lazy.forward(df).count()
    assert s3.cleaned == 0
    lazy.cleanup()
    assert s3.cleaned == 1
