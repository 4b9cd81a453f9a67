"""The three pipelines, built only from the package's public surface.

``<workload>_pipeline`` builds a fresh ``Pipeline`` (every run pays its
own plan build); ``<workload>_execute`` runs it through its terminal
action and returns what the output checker needs.
"""

from __future__ import annotations

import os
import shutil

from corpus import STOPWORDS

#: score threshold of the curate chain; the corpus straddles it
QUALITY_MIN = 0.7
MIN_WORDS = 5
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
NEARDUP_THRESHOLD = 0.9
GEN_TEMPLATE = "Rewrite the instruction: {text}"
FILTER_TEMPLATE = "Rate from 0 to 9: {generated}"
FILTER_MIN_SCORE = 5.0
#: every operator the three chains use; traced runs time each one's run()
OPERATORS = ("RemoveExtraSpacesRefiner", "ContentNullFilter",
             "WordNumberFilter", "QualityScoreEvaluator", "GeneralFilter",
             "HashDeduplicateFilter", "SplitAssignOperator",
             "MinHashDeduplicateFilter", "PromptedGenerator", "PromptedFilter")


def curate_pipeline():
    from dataflow_spark import Pipeline, get_operator

    return Pipeline([
        get_operator("RemoveExtraSpacesRefiner", {"input_key": "text"}),
        get_operator("ContentNullFilter", {"input_key": "text"}),
        get_operator("WordNumberFilter", {"input_key": "text",
                                          "min_words": MIN_WORDS}),
        get_operator("QualityScoreEvaluator",
                     {"input_key": "text", "stopwords": list(STOPWORDS)}),
        get_operator("GeneralFilter",
                     {"predicates": [f"quality_score >= {QUALITY_MIN}"]}),
        get_operator("HashDeduplicateFilter",
                     {"input_keys": "text", "order_key": "doc_id"}),
        get_operator("SplitAssignOperator", {"key": "doc_id",
                                             "splits": dict(SPLITS)}),
    ])


def curate_execute(pipe, df, run_dir: str, tracer) -> str:
    """forward + export_training_corpus (a span of ``tracer``); returns
    the export directory."""
    from dataflow_spark.sources.writers import export_training_corpus

    out = os.path.join(run_dir, "export")
    curated = pipe.forward(df)
    with tracer.span("sources.export_training_corpus"):
        export_training_corpus(curated, out, partition_by=["split"],
                               cluster_by=["doc_id"])
    return out


def neardup_pipeline():
    from dataflow_spark import Pipeline, get_operator

    return Pipeline([
        get_operator("MinHashDeduplicateFilter",
                     {"input_key": "text", "threshold": NEARDUP_THRESHOLD,
                      "order_key": "doc_id", "hash_impl": "fast"}),
    ])


def neardup_execute(pipe, df) -> list[int]:
    """forward + the noop sink; returns the surviving doc ids.

    The survivors are read from a persisted copy of the output so the
    noop write is the run's only terminal action over the plan.
    """
    out = pipe.forward(df).select("doc_id").persist()
    try:
        out.write.format("noop").mode("overwrite").save()
        return [r[0] for r in out.collect()]
    finally:
        out.unpersist()


def llm_synth_pipeline(run_dir: str, api_url: str):
    from dataflow_spark import Pipeline, StepStore, get_operator
    from dataflow_spark.serving.api import APILLMServing

    serving = APILLMServing(api_url=api_url, model_name="stub",
                            key_name_of_api_key="PERFBENCH_NO_KEY",
                            max_workers=8, read_timeout=30.0)
    store = StepStore(os.path.join(run_dir, "steps"))
    return Pipeline([
        get_operator("PromptedGenerator",
                     {"serving": serving, "prompt_template": GEN_TEMPLATE,
                      "input_key": "text", "output_key": "generated"}),
        get_operator("PromptedFilter",
                     {"serving": serving, "prompt_template": FILTER_TEMPLATE,
                      "input_key": "generated",
                      "min_score": FILTER_MIN_SCORE}),
    ], store=store, checkpoint_every=1)


def llm_synth_execute(pipe, df) -> list[tuple]:
    """forward (each step is written to and re-read from the StepStore)
    + collect; returns the kept (doc_id, generated) rows."""
    out = pipe.forward(df)
    rows = [(r[0], r[1]) for r in out.select("doc_id", "generated").collect()]
    pipe.cleanup()
    return rows


def clear_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
