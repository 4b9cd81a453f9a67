"""LLM-map: the engine's core generation primitive, plus the generic
Prompted{Generator,Filter,Refiner,Evaluator} built on it.

Execution model (SURVEY.md §4.2-2): ``mapInPandas`` — each task walks
its partition in Arrow batches, micro-batches rows to the serving
backend, and yields rows with the new column appended. Row identity is
preserved positionally within the partition (no shuffle), so output
alignment is exact. Concurrency = number of partitions; repartition
upstream to match the serving backend's capacity.

When the serving is deterministic (``LLMServing.deterministic``: greedy
decoding, mocks), each distinct prompt of an Arrow batch is sent once
and its answer fanned back out to every row that rendered it. The memo
lives inside one batch: no shuffle, no reordering, nothing kept across
batches, tasks or runs. Sampled generation keeps one call per row.
Requests open one connection each (``serving/api.py``).

Reference: PromptedGenerator (core_text/generate/prompted_generator.py:
58-90), PromptedFilter (core_text/filter/prompted_filter.py:81),
PromptedRefiner (core_text/refine/prompted_refiner.py), PromptedEvaluator
(core_text/eval/prompted_eval.py).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.serving.base import LLMServing


def _prompt_renderer(prompt_template, input_key: str):
    """Resolve ``prompt_template`` to (render(value) -> str, system).

    Accepts: a plain ``str.format`` template; a ``PromptABC`` instance
    from the prompt library; or the NAME of a registered prompt class
    (a bare identifier resolving in PROMPT_REGISTRY — reference
    pipelines reference prompts by class name). Prompt instances whose
    ``build_prompt`` takes no argument are treated as instruction
    prefixes (prompt + row value, the reference's scorer convention);
    one-argument ``build_prompt`` receives the row value positionally;
    otherwise the value is passed as ``input_key=value``.
    """
    import inspect

    from dataflow_spark.core.prompt import PROMPT_REGISTRY, PromptABC

    if (isinstance(prompt_template, str) and prompt_template.isidentifier()
            and prompt_template in PROMPT_REGISTRY):
        prompt_template = PROMPT_REGISTRY.get(prompt_template)()
    if isinstance(prompt_template, PromptABC):
        pt = prompt_template
        params = inspect.signature(pt.build_prompt).parameters.values()
        required = [p for p in params
                    if p.kind in (p.POSITIONAL_OR_KEYWORD, p.POSITIONAL_ONLY)
                    and p.default is inspect.Parameter.empty]
        has_var_kw = any(p.kind == p.VAR_KEYWORD for p in params)
        if len(required) == 1 and not has_var_kw:
            render = (lambda v, _pt=pt: _pt.build_prompt(v))
        elif len(required) == 0 and not has_var_kw:
            # argless prompts are instruction prefixes (scorer convention)
            render = (lambda v, _pt=pt: _pt.build_prompt() + str(v))
        else:
            # template-style prompts (FormatStrPrompt, DiyCodePrompt) and
            # multi-field prompts take the row value by input_key name
            render = (lambda v, _pt=pt, _k=input_key:
                      _pt.build_prompt(**{_k: v}))
        system = ""
        sys_fn = getattr(pt, "build_system_prompt", None)
        if callable(sys_fn):
            sys_required = [
                p for p in inspect.signature(sys_fn).parameters.values()
                if p.kind in (p.POSITIONAL_OR_KEYWORD, p.POSITIONAL_ONLY)
                and p.default is inspect.Parameter.empty]
            # only an argless system prompt can be assembled here; ones
            # that need per-row fields (Alpagasus, Treeinstruct) are the
            # caller's job via the explicit system_prompt argument
            if not sys_required:
                system = sys_fn()
        return render, system
    template = str(prompt_template)
    return (lambda v, _t=template, _k=input_key:
            _t.format(**{_k: v})), ""


def llm_map(df: DataFrame, serving: LLMServing, prompt_template,
            input_key: str, output_key: str, system_prompt: str = "") -> DataFrame:
    """Append ``output_key`` = LLM(prompt_template.format(**row)).

    ``prompt_template`` may be a format string, a ``PromptABC``
    instance, or a registered prompt-class name (see
    ``_prompt_renderer``). The serving object is pickled into the
    closure; executor-side state (HTTP sessions, models) must be lazy
    inside the serving class.
    """
    if output_key in df.columns:  # in-place overwrite (refiner-style use)
        out_schema = StructType([
            StructField(output_key, StringType()) if f.name == output_key else f
            for f in df.schema.fields
        ])
    else:
        out_schema = StructType(df.schema.fields + [StructField(output_key, StringType())])
    bs = serving.batch_size
    dedup = serving.deterministic
    render, prompt_system = _prompt_renderer(prompt_template, input_key)
    system_prompt = system_prompt or prompt_system

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            prompts = [system_prompt + render(v)
                       for v in pdf[input_key].tolist()]
            if dedup:
                # first-seen order; slot[i] is row i's distinct prompt
                first: dict[str, int] = {}
                slot = [first.setdefault(p, len(first)) for p in prompts]
                sent = list(first)
            else:
                sent = prompts
            answers: list[str] = []
            for i in range(0, len(sent), bs):
                answers.extend(serving.generate_with_retry(sent[i:i + bs]))
            pdf = pdf.copy()
            pdf[output_key] = [answers[j] for j in slot] if dedup else answers
            yield pdf

    return df.mapInPandas(gen, schema=out_schema)


@OPERATOR_REGISTRY.register()
class PromptedGenerator(Operator):
    """out = LLM(system_prompt + template(row[input_key]))."""

    def __init__(self, serving: LLMServing, prompt_template: str = "{text}",
                 input_key: str = "text", output_key: str = "generated",
                 system_prompt: str = ""):
        self.serving = serving
        self.prompt_template = prompt_template
        self.input_key, self.output_key = input_key, output_key
        self.system_prompt = system_prompt
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        return llm_map(df, self.serving, self.prompt_template,
                       self.input_key, self.output_key, self.system_prompt)


@OPERATOR_REGISTRY.register()
class PromptedRefiner(Operator):
    """Rewrite input_key in place via the LLM."""

    def __init__(self, serving: LLMServing, prompt_template: str = "{text}",
                 input_key: str = "text", system_prompt: str = ""):
        self.serving = serving
        self.prompt_template = prompt_template
        self.input_key = input_key
        self.system_prompt = system_prompt
        self.input_keys = (input_key,)
        self.output_keys = (input_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        out = llm_map(df, self.serving, self.prompt_template,
                      self.input_key, "_llm_refined", self.system_prompt)
        return out.withColumn(self.input_key, F.col("_llm_refined")).drop("_llm_refined")


@OPERATOR_REGISTRY.register()
class PromptedEvaluator(Operator):
    """LLM scores each row; the numeric score is regexp-extracted from
    the response (first float), null when absent."""

    def __init__(self, serving: LLMServing, prompt_template: str = "{text}",
                 input_key: str = "text", output_key: str = "llm_score",
                 system_prompt: str = ""):
        self.serving = serving
        self.prompt_template = prompt_template
        self.input_key, self.output_key = input_key, output_key
        self.system_prompt = system_prompt
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        out = llm_map(df, self.serving, self.prompt_template,
                      self.input_key, "_llm_raw", self.system_prompt)
        score = F.regexp_extract(F.col("_llm_raw"), r"(-?[0-9]+(\.[0-9]+)?)", 1)
        return out.withColumn(
            self.output_key,
            F.when(score != "", score.cast(DoubleType())),
        ).drop("_llm_raw")


@OPERATOR_REGISTRY.register()
class PromptedFilter(Operator):
    """PromptedEvaluator + score-range predicate (reference composition:
    filter = evaluator + range, prompted_filter.py:81)."""

    def __init__(self, serving: LLMServing, prompt_template: str = "{text}",
                 input_key: str = "text", min_score: float = 0.5,
                 max_score: float = float("inf"), system_prompt: str = ""):
        self.evaluator = PromptedEvaluator(
            serving, prompt_template, input_key, "_pf_score", system_prompt
        )
        self.min_score, self.max_score = min_score, max_score
        self.input_keys = (input_key,)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        scored = self.evaluator.run(df)
        keep = (F.col("_pf_score") >= self.min_score) & (F.col("_pf_score") <= self.max_score)
        return scored.filter(keep).drop("_pf_score")


@OPERATOR_REGISTRY.register()
class ChunkedPromptedGenerator(Operator):
    """Chunk long text -> prompt per chunk -> concat results per row.

    Reference: chunked_prompted_generator.py. Spark shape: posexplode ->
    llm_map -> groupBy(row) sort_array collect -> concat. The groupBy
    key is the stable row id, so reassembly order is exact.
    """

    def __init__(self, serving: LLMServing, prompt_template: str = "{chunk}",
                 input_key: str = "text", output_key: str = "generated",
                 chunk_chars: int = 2000, id_key: str = "_row_id"):
        self.serving = serving
        self.prompt_template = prompt_template
        self.input_key, self.output_key = input_key, output_key
        self.chunk_chars = chunk_chars
        self.id_key = id_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from dataflow_spark.core.operator import with_row_id

        df = with_row_id(df) if self.id_key == "_row_id" else df
        n = self.chunk_chars
        chunks = F.transform(
            F.sequence(F.lit(0), F.floor((F.length(self.input_key) - 1) / n)),
            lambda i: F.col(self.input_key).substr(i * n + 1, F.lit(n)),
        )
        exploded = df.select(self.id_key, F.posexplode(chunks).alias("_pos", "_chunk"))
        # the documented placeholder is {chunk}; the exploded column is _chunk
        template = self.prompt_template.replace("{chunk}", "{_chunk}")
        gen = llm_map(exploded, self.serving, template, "_chunk", "_gen")
        merged = (
            gen.groupBy(self.id_key)
            .agg(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("_pos"), F.col("_gen")))
                        ),
                        lambda s: s["_gen"],
                    ),
                ).alias(self.output_key)
            )
        )
        out = df.join(merged, self.id_key, "left")
        return out.drop("_row_id") if self.id_key == "_row_id" else out
