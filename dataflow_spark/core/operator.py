"""Operator ABC — the engine's unit of computation.

Mirrors the reference contract (``OperatorABC.run(storage, input_key=...,
output_key=...)``, /root/reference/dataflow/core/operator.py:5-15) but is
Spark-native: ``run`` takes and returns a ``DataFrame`` and runs lazily by
default, so Catalyst sees a chain of lazy operators as one plan and can
fuse/pushdown/prune across their boundaries (the reference re-reads and
re-writes a file per step). An operator that needs an eager step (a
bounded driver pull, a guard count, connected components, a driver-side
eigensolve) runs its jobs inside ``run`` and releases every cache it made
before returning (``tests/test_cache_scope.py``).

Archetypes (SURVEY.md §2.1):
  - Generator: adds column(s) / produces rows   -> ``Operator``
  - Evaluator: adds score column(s)             -> ``Operator``
  - Filter:    label column + keep predicate    -> ``FilterOperator``
  - Refiner:   rewrite a column in place        -> ``RefineOperator``

A refined text and the quality score are attached with
:func:`with_columns_once`, so a later filter on them reads the stored
value instead of re-running the expression (docs/engineering-notes.md,
"Computed once").
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from typing import Any

from pyspark.sql import Column, DataFrame

ROW_ID = "_row_id"


class BudgetExceededError(ValueError):
    """An operator's compute/candidate budget guard refused the run.

    Raised by the exact set-similarity join (``ExactSetJoin`` in
    operators/fuzzy_join.py, shared by FuzzyJoinOperator and
    NgramJaccardDeduplicateFilter) when a corpus shape makes the exact
    algorithm ~quadratic past ``dense_flop_budget`` or
    ``max_candidate_pairs``, and by SubstringDuplicatePairs'
    ``max_candidate_pairs`` — an actionable refusal in seconds instead
    of an hours-long job or executor OOM. Subclasses ValueError so
    existing ``except ValueError`` handling (and tests) keep working.
    """


def with_row_id(df: DataFrame, order_by: str | None = None) -> DataFrame:
    """Attach a stable ``_row_id`` used for order-dependent semantics.

    The reference's dedup family keeps the *first* occurrence in file
    order (hash_deduplicate_filter.py:80-89). Under distribution "first"
    must be defined by data, not partition order: pass ``order_by`` (a
    stable source column, e.g. a primary key) when one exists; otherwise
    fall back to ``monotonically_increasing_id`` which is stable for a
    fixed file layout.
    """
    from pyspark.sql import functions as F

    if ROW_ID in df.columns:
        return df
    if order_by is not None:
        return df.withColumn(ROW_ID, F.col(order_by).cast("long"))
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def with_columns_once(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """``df.withColumns(cols)``, with each expression computed once per row.

    A filter on a ``withColumn`` output is pushed below the defining
    ``Project`` with the expression substituted in
    (``PushPredicateThroughNonJoin``), so the expression runs twice.
    Here one ``Generate`` node, ``inline(array(struct(expr AS _once_i,
    ...)))``, computes the expressions: exactly one row per input row
    (NULL inputs included), nullability kept. A predicate on a generated
    column stays above it and reads the stored value; a predicate on a
    pass-through column still moves below it into the scan. Then
    ``withColumns`` puts the generated values in place and the
    temporaries are dropped, so names, order and duplicate-name handling
    are ``withColumns``'s own. ``_once_<i>`` names are reserved.

    The price: Catalyst never prunes a ``Generate``, so the expressions
    run even when nothing downstream reads them. Use it only where a
    filter on the output is expected.
    """
    from pyspark.sql import functions as F

    tmp = [f"_once_{i}" for i in range(len(cols))]
    gen = F.inline(F.array(F.struct(
        *[c.alias(t) for t, c in zip(tmp, cols.values())])))
    return (df.select("*", gen)
            .withColumns({name: F.col(t) for name, t in zip(cols, tmp)})
            .drop(*tmp))


class Operator(ABC):
    """Base class for all engine operators.

    Subclasses declare ``input_keys``/``output_keys`` (may be extended at
    ``__init__`` time) so ``Pipeline.compile()`` can validate key flow
    against the source schema before any job runs — reproducing the
    reference's compile-time KeyError diagnostics
    (/root/reference/dataflow/pipeline/Pipeline.py:100-135) without
    executing Spark jobs.
    """

    #: column names read / written; used by Pipeline.compile()
    input_keys: tuple[str, ...] = ()
    output_keys: tuple[str, ...] = ()

    @abstractmethod
    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        """Transform ``df``, lazily by default. An operator that runs
        jobs here releases every cache it made before returning."""

    @classmethod
    def get_desc(cls, lang: str = "en") -> str:
        """Human/agent-readable operator description (reference parity:
        every operator exposes get_desc for the WebUI/agent registry)."""
        return (cls.__doc__ or cls.__name__).strip().split("\n")[0]

    def __repr__(self) -> str:  # pragma: no cover
        return f"{type(self).__name__}(in={self.input_keys}, out={self.output_keys})"


class FilterOperator(Operator):
    """Filter archetype: compute a 0/1 label column, keep label==1.

    Matches the reference's universal filter contract (compute label,
    append column, drop rows; e.g. rule_based_filter.py:47-63). Subclasses
    implement ``compute_label`` as a pure Column expression whenever
    possible so the predicate stays inside whole-stage codegen and can be
    pushed into the scan by Catalyst. The label stays a plain predicate
    (with ``keep_label``, a plain ``withColumn``), so it is free to move
    below earlier, more expensive steps; the price is that a kept label
    is computed twice.
    """

    def __init__(self, input_key: str = "text", label_key: str | None = None,
                 keep_label: bool = False):
        self.input_key = input_key
        self.label_key = label_key or f"{type(self).__name__.lower()}_label"
        self.keep_label = keep_label
        self.input_keys = (input_key,)
        self.output_keys = (self.label_key,) if keep_label else ()

    @abstractmethod
    def compute_label(self, df: DataFrame) -> Column:
        """Return a boolean/int Column: truthy rows are kept."""

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        from pyspark.sql import functions as F

        label = self.compute_label(df).cast("int")
        if self.keep_label:
            # keep the label column for downstream inspection (reference
            # writes it to the step file)
            return df.withColumn(self.label_key, label).filter(F.col(self.label_key) == 1)
        return df.filter(label == 1)


class RefineOperator(Operator):
    """Refiner archetype: rewrite ``input_key`` in place.

    Reference pattern: remove_emoji_refiner.py:57-82 — transform one text
    column, same rows out. The rewritten column is attached by
    :func:`with_columns_once`: a later filter on it reads the rewritten
    value rather than re-running ``refine_expr``, and a filter on any
    other column still reaches the scan.
    """

    def __init__(self, input_key: str = "text"):
        self.input_key = input_key
        self.input_keys = (input_key,)
        self.output_keys = (input_key,)

    @abstractmethod
    def refine_expr(self, col: Column) -> Column:
        """Return the rewritten column expression."""

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        from pyspark.sql import functions as F

        return with_columns_once(
            df, {self.input_key: self.refine_expr(F.col(self.input_key))})
