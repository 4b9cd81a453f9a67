"""Programmatic physical-plan QA — the scale lint as a library API.

``tools/plan_audit.py`` audits the committed headline queries into
PLANS.md; this module exposes the same analysis to PIPELINE AUTHORS so
scale hygiene can be asserted in code and CI rather than eyeballed:

    from dataflow_spark.plans import audit, assert_scalable
    audit(df)             # -> dict of scan/join/shuffle/python facts
    assert_scalable(df)   # raises PlanScaleError on red flags

Red flags (each one a pattern that works at test scale and falls over
at 100 TB):

- ``CartesianProduct`` / non-broadcast ``BroadcastNestedLoopJoin``:
  O(n*m) pair blowup;
- ``BatchEvalPython``: row-at-a-time Python in the hot path (use
  pandas_udf / mapInPandas — Arrow-batched — instead);
- unpartitioned ``Window``: every row flows through ONE task (a global
  sort + single-partition state) — fine on a lookup table, fatal on a
  corpus. Partition the window (or pass ``allow_global_window=True``
  for genuinely small frames);
- explicit ``repartition(1)`` (``Exchange SinglePartition,
  REPARTITION``): funnels the whole dataset through one task —
  legitimate only for provably tiny frames (pass
  ``allow_single_partition=True``). A SinglePartition exchange from
  ENSURE_REQUIREMENTS (a global aggregate's final combine of one
  partial row per task) is scalable and NOT flagged; ``coalesce(1)``
  plans a Coalesce node with no Exchange and is likewise out of this
  lint's reach;
- scans reading far more columns than any operator consumes is
  reported in ``audit()['scans']`` for review (the engine cannot know
  intent, so it reports rather than raises).

One scale rule lives OUTSIDE the physical plan, in Python worker code
(this lint cannot see it — stated here because this docstring is the
engine's scale-hygiene contract for operator authors):

- **Preallocate block buffers once per batch; compute via ``out=``.**
  Any mapInPandas/pandas_udf worker that allocates a large (100MB+)
  numpy temporary PER BLOCK pays the OS first-touch page-fault cost on
  every block — measured on this VM class at ~50MB/s under 32
  concurrent workers (a 63x GEMM slowdown; the ``s_most_similar``
  dominator was mmap/munmap churn, not math). Allocate the buffer set
  once per batch (``np.empty`` outside the block loop), slice views
  per block, and route every kernel through ``out=``
  (``np.matmul(a, b, out=buf)``, ``np.greater_equal(.., out=mask)``).
  Reference implementations: ``operators/similarity.py::
  _dense_topk_worker`` and ``tools/brute_text_oracle.py::
  numpy_most_similar``; the pattern is pinned by the allocation
  -pattern tests in ``tests/test_similarity.py``. Full write-up:
  ``docs/engineering-notes.md``.
"""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


class PlanScaleError(AssertionError):
    """A physical plan contains a pattern that will not scale."""


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(df: DataFrame, plan: str | None = None) -> dict:
    """Extract scale-relevant facts from a DataFrame's physical plan."""
    plan = plan if plan is not None else formatted_plan(df)
    scans = []
    for m in re.finditer(
            r"\(\d+\) Scan parquet[^\n]*\n(?:.*\n)*?(?=\(\d+\)|\Z)", plan):
        block = m.group(0)
        loc = re.search(r"Location:.*?\[([^\]]*)\]", block)
        table = ""
        if loc:
            table = os.path.basename(
                loc.group(1).rstrip("/")).replace(".parquet", "")
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", block)
        schema = re.search(r"ReadSchema: struct<([^>]*)>", block)
        cols = ([c.split(":")[0] for c in schema.group(1).split(",")]
                if schema and schema.group(1) else [])
        scans.append({"table": table,
                      "pushed": pushed.group(1) if pushed else "",
                      "columns": cols})
    # a Window node's Arguments line carries [exprs], [partitionSpec],
    # [orderSpec] — but Catalyst OMITS any empty list from argString, so
    # bracket-group COUNT alone is ambiguous at 2 groups: it is either
    # (exprs, orderSpec) = unpartitioned (single-task global window) or
    # (exprs, partitionSpec) = partitioned-but-unordered (a scalable
    # group-total shape). Disambiguate by content: an orderSpec entry
    # always prints with an ASC/DESC direction token; a partition spec
    # never does.
    unpartitioned_windows = 0
    for m in re.finditer(
            r"\(\d+\) Window\n(?:.*\n)*?(?=\(\d+\)|\Z)", plan):
        args = re.search(r"Arguments: (.*)", m.group(0))
        if not args:
            continue
        groups, depth, start = [], 0, -1
        for i, ch in enumerate(args.group(1)):
            if ch == "[":
                if depth == 0:
                    start = i + 1
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(args.group(1)[start:i])
        if len(groups) >= 3:
            continue  # exprs + partitionSpec + orderSpec: partitioned
        if len(groups) == 2 and not re.search(
                r"\b(ASC|DESC)\b", groups[1]):
            continue  # second group is a partitionSpec (no order): fine
        unpartitioned_windows += 1
    return {
        "scans": scans,
        "unpartitioned_windows": unpartitioned_windows,
        # only user-requested repartition(1) (shuffle origin REPARTITION*)
        # — ENSURE_REQUIREMENTS SinglePartition is a global aggregate's
        # final combine of one partial row per task, which scales fine
        "single_partition_exchanges": len(re.findall(
            r"Arguments: SinglePartition, REPARTITION", plan)),
        "exchanges": len(re.findall(r"\(\d+\) Exchange", plan)),
        "broadcasts": len(re.findall(
            r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan)),
        "sort_merge_joins": len(re.findall(r"\(\d+\) SortMergeJoin", plan)),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "python_ops": sorted(set(re.findall(
            r"(ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
            r"|BatchEvalPython)", plan))),
        "cartesian": bool(re.search(r"\(\d+\) CartesianProduct", plan)),
        "row_python": "BatchEvalPython" in plan,
    }


def assert_scalable(df: DataFrame, allow_nested_loop: bool = False,
                    allow_global_window: bool = False,
                    allow_single_partition: bool = False) -> dict:
    """Raise ``PlanScaleError`` if the plan has a scale red flag.

    ``allow_nested_loop`` permits BroadcastNestedLoopJoin — legitimate
    when one side is a genuinely tiny broadcast (e.g. a single-row
    statistics frame); default-deny because an accidental one usually
    means a missing join key. ``allow_global_window`` permits
    unpartitioned Window nodes — legitimate over provably small frames
    (a top-k result, a stats table), fatal over a corpus.

    Returns the audit dict on success so callers can log it.
    """
    plan = formatted_plan(df)
    a = audit(df, plan)
    problems = []
    if a["cartesian"]:
        problems.append("CartesianProduct (O(n*m) pair blowup)")
    if a["row_python"]:
        problems.append("BatchEvalPython (row-at-a-time Python; "
                        "use pandas_udf/mapInPandas)")
    if not allow_nested_loop and "BroadcastNestedLoopJoin" in plan:
        problems.append("BroadcastNestedLoopJoin (missing join key? "
                        "pass allow_nested_loop=True if intended)")
    if not allow_global_window and a["unpartitioned_windows"]:
        problems.append(
            f"{a['unpartitioned_windows']} unpartitioned Window node(s) "
            "(single-task global sort; partition the window or pass "
            "allow_global_window=True for small frames)")
    if not allow_single_partition and a["single_partition_exchanges"]:
        problems.append(
            f"{a['single_partition_exchanges']} repartition(1) "
            "Exchange SinglePartition node(s) (whole dataset through "
            "one task; pass allow_single_partition=True for provably "
            "tiny frames)")
    if problems:
        raise PlanScaleError("; ".join(problems))
    return a
