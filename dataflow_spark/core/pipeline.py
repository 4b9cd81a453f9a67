"""Pipeline — ordered operator chain with compile-time key validation.

Reference parity: PipelineABC.compile() traces run() calls, harvests
input_*/output_* keys, and raises KeyError before execution if a key is
missing (/root/reference/dataflow/pipeline/Pipeline.py:43-135,
nodes.py:59-68). Our operators *declare* their keys, so validation is a
cheap pure-Python pass over the source schema — no Spark job runs.

Execution composes lazy DataFrame transformations: Catalyst sees the
whole chain and fuses narrow steps into single codegen stages. Optional
``checkpoint_every`` materializes Parquet snapshots via StepStore for the
reference's lineage/resume semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.storage import StepStore


@dataclass
class PipelineStep:
    op: Operator
    kwargs: dict[str, Any] = field(default_factory=dict)

    @property
    def name(self) -> str:
        return type(self.op).__name__


class PipelineKeyError(KeyError):
    pass


class Pipeline:
    def __init__(self, steps: list[Operator | tuple[Operator, dict]] | None = None,
                 store: StepStore | None = None, checkpoint_every: int = 0):
        self.steps: list[PipelineStep] = []
        self.store = store
        self.checkpoint_every = checkpoint_every
        for s in steps or []:
            if isinstance(s, tuple):
                self.add(s[0], **s[1])
            else:
                self.add(s)

    def add(self, op: Operator, **kwargs: Any) -> "Pipeline":
        self.steps.append(PipelineStep(op, kwargs))
        return self

    # -- compile ----------------------------------------------------------
    def compile(self, source_columns: list[str]) -> list[dict]:
        """Validate key flow against the source schema.

        Returns the node list (a linear logical plan: op name, reads,
        writes) and raises PipelineKeyError with per-operator diagnostics
        when an input key cannot be satisfied — same failure surface as
        the reference's compile() (Pipeline.py:124-135).
        """
        available = set(source_columns)
        nodes: list[dict] = []
        for idx, st in enumerate(self.steps):
            missing = [k for k in st.op.input_keys if k not in available]
            if missing:
                raise PipelineKeyError(
                    f"step {idx} ({st.name}): input key(s) {missing} not present; "
                    f"available: {sorted(available)}"
                )
            available |= set(st.op.output_keys)
            nodes.append({
                "idx": idx,
                "op": st.name,
                "reads": list(st.op.input_keys),
                "writes": list(st.op.output_keys),
            })
        return nodes

    def graph(self) -> str:
        """Key-lineage graph as DOT text (reference renders pyvis HTML,
        Pipeline.py:252-468; we emit graphviz for the same introspection)."""
        lines = ["digraph pipeline {", "  rankdir=LR;"]
        for i, st in enumerate(self.steps):
            label = f"{i}:{st.name}\\nr:{','.join(st.op.input_keys)}\\nw:{','.join(st.op.output_keys)}"
            lines.append(f'  n{i} [shape=box,label="{label}"];')
            if i > 0:
                lines.append(f"  n{i-1} -> n{i};")
        lines.append("}")
        return "\n".join(lines)

    # -- serving lifecycle -------------------------------------------------
    def _servings_of(self, op: Operator) -> list:
        """Snoop an operator's fields for serving backends, as the
        reference snoops LLMServingABC attributes
        (Pipeline.py:67-69); one composition level deep covers the
        evaluator-inside-filter pattern."""
        from dataflow_spark.serving.base import EmbeddingServing, LLMServing

        found = []
        seen: set[int] = set()

        def scan(obj: Any, depth: int) -> None:
            for v in vars(obj).values():
                if isinstance(v, (LLMServing, EmbeddingServing)):
                    if id(v) not in seen:
                        seen.add(id(v))
                        found.append(v)
                elif isinstance(v, Operator) and depth < 1:
                    scan(v, depth + 1)

        scan(op, 0)
        return found

    def cleanup(self) -> None:
        """Release every serving backend used by this pipeline's
        operators (GPU memory, HTTP pools). Reference semantics:
        refcount-to-zero cleanup after the final stage
        (Pipeline.py:517-541). Call after the terminal action."""
        done: set[int] = set()
        for st in self.steps:
            for s in self._servings_of(st.op):
                if id(s) not in done:
                    done.add(id(s))
                    s.cleanup()

    # -- execute ----------------------------------------------------------
    def forward(self, df: DataFrame, resume_step: int = 0,
                spark: SparkSession | None = None) -> DataFrame:
        """Apply the chain lazily. With a StepStore and checkpoint_every>0,
        materialize every k-th step and support resume (reference:
        _compiled_forward(resume_step), Pipeline.py:507-541). Every call
        first validates key flow against ``df`` (:meth:`compile`).

        Serving lifecycle: in checkpointed (materialized) execution, a
        serving whose last-using step has been checkpointed is cleaned up
        immediately — the reference's refcount behavior. In fully lazy
        execution nothing has run when forward() returns, so release
        backends with ``cleanup()`` after the terminal action.
        """
        self.compile(df.columns)
        # last step index using each serving (refcount release point)
        last_use: dict[int, int] = {}
        servings: dict[int, Any] = {}
        for idx, st in enumerate(self.steps):
            for s in self._servings_of(st.op):
                last_use[id(s)] = idx
                servings[id(s)] = s
        if resume_step > 0:
            if self.store is None:
                raise ValueError("resume requires a StepStore")
            # checkpoint k holds the output of step k: resume at step k
            # means reading checkpoint k-1 (reading the *last* checkpoint
            # would re-run its op onto itself and overwrite the files
            # mid-scan)
            df = self.store.read(spark or df.sparkSession, resume_step - 1)
        for idx, st in enumerate(self.steps):
            if idx < resume_step:
                continue
            df = st.op.run(df, **st.kwargs)
            if (self.store is not None and self.checkpoint_every > 0
                    and (idx + 1) % self.checkpoint_every == 0):
                self.store.write(df, idx, st.name)
                df = self.store.read(df.sparkSession, idx)
                # steps <= idx have fully executed: release their servings
                for sid, last in last_use.items():
                    if last <= idx and servings.get(sid) is not None:
                        servings[sid].cleanup()
                        servings[sid] = None
        return df
