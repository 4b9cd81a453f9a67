"""Graph analytics over edge DataFrames: components + PageRank.

The near-dup dedup family already runs large-star/small-star connected
components internally (operators/filters/dedup.py:44); this pack makes
graph analytics a PUBLIC surface over arbitrary edge frames — entity
graphs, incident-correlation graphs, citation graphs — because corpus
curation keeps producing them (duplicate clusters, cross-references,
co-occurrence).

Scale posture:

- ``ConnectedComponentsOperator`` delegates to the adaptive components
  kernel: in-driver union-find below an edge bound, alternating
  large-star/small-star contraction (O(log^2 n) rounds, lineage
  truncated per round) above it.
- ``PageRankOperator`` runs a FIXED number of power iterations as pure
  DataFrame ops — per iteration one join edges->ranks (shuffle on src),
  one aggregation on dst, one left join back to the node set. No driver
  round-trips at all: the returned frame is a single lazy plan. Ranks
  are EXACT FIXED-POINT integers (scale 1e9, damping as a rational):
  integer sums are associative, so the result is bit-identical on any
  engine and any partitioning — float quantization would still flip
  rounding half-boundaries under summation-order changes.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.operators.filters.dedup import connected_components


@OPERATOR_REGISTRY.register()
class ConnectedComponentsOperator(Operator):
    """(src, dst) undirected edge frame -> (id, component).

    component = the minimum node id reachable from ``id``; every node
    that appears in the edge frame is present in the output (pass
    isolated nodes as self-loops if they must appear too).
    """

    def __init__(self, src: str = "src", dst: str = "dst"):
        self.src, self.dst = src, dst
        self.input_keys = (src, dst)
        self.output_keys = ("id", "component")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        edges = df.select(F.col(self.src).cast("long").alias("src"),
                          F.col(self.dst).cast("long").alias("dst"))
        comp = connected_components(edges)
        nodes = (edges.select(F.col("src").alias("id"))
                 .unionByName(edges.select(F.col("dst").alias("id")))
                 .distinct())
        return (nodes.join(comp, "id", "left")
                .select("id", F.coalesce("component", F.col("id"))
                        .alias("component")))


@OPERATOR_REGISTRY.register()
class PageRankOperator(Operator):
    """(src, dst) directed edge frame -> (node, pagerank).

    Standard damped PageRank, ``n_iter`` power iterations from the
    uniform vector; dangling nodes (no out-edges) keep their mass
    (no redistribution), the common simplification. Parallel edges are
    collapsed (the graph is simple).

    Arithmetic is exact fixed-point: ranks are integers at SCALE=1e9
    and damping is the rational round(damping*1000)/1000, so every
    iteration is integer adds and floor-divisions — associative,
    therefore bit-identical across engines, partitionings, and runs.
    The output ``pagerank`` is the fixed-point value / 1e9.
    """

    SCALE = 10 ** 9

    def __init__(self, src: str = "src", dst: str = "dst",
                 damping: float = 0.85, n_iter: int = 3):
        if not 0.0 < damping < 1.0:
            raise ValueError("damping must be in (0, 1)")
        if n_iter < 0:
            raise ValueError("n_iter must be >= 0")
        self.src, self.dst = src, dst
        self.damping, self.n_iter = float(damping), int(n_iter)
        #: damping as an exact rational (num/1000)
        self.d_num = round(self.damping * 1000)
        self.input_keys = (src, dst)
        self.output_keys = ("node", "pagerank")

    @staticmethod
    def _idiv(a, b):
        # floor(a/b) on positive longs: the double quotient is correctly
        # rounded and magnitudes stay << 2^53, so floor never flips
        return F.floor(a / b).cast("long")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        """Iterative power method with BOUNDED per-action plans.

        A single lazy plan nests every iteration (9 sort-merge
        joins / 35 codegen spans in ONE plan at n_iter=3, PLANS.md) and
        re-executes the whole lineage — including the caller's edge
        construction — once per downstream action: the classic
        iterative-algorithm scale-killer (sf10 engine timeout). So:

        - the degree-annotated edge list is persisted ONCE and reused
          by every iteration (an expensive caller edge construction
          runs exactly once);
        - each iteration's rank frame is eagerly localCheckpoint-ed:
          lineage is truncated, so iteration k's plan is one join + one
          aggregation over materialized inputs, regardless of k
          (bounded memory — ranks are 2 longs per node);
        - EXACT-FIXPOINT early stop: if an iteration leaves every rank
          unchanged, all later iterates are identical (pr_{k+1} =
          f(pr_k) is deterministic), so stopping early is value-
          identical to running all n_iter — bit-exact parity with the
          fully-unrolled oracle is preserved.
        """
        S, dn = self.SCALE, self.d_num
        edges = df.select(F.col(self.src).cast("long").alias("_s"),
                          F.col(self.dst).cast("long").alias("_t")).distinct()
        deg = edges.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))
        # out-degree rides along with the edge list: computed once,
        # materialized once, scanned once per iteration
        eo = edges.join(deg, "_s").persist()
        try:
            nodes = (eo.select(F.col("_s").alias("node"))
                     .unionByName(eo.select(F.col("_t").alias("node")))
                     .distinct().localCheckpoint(eager=True))
            n = nodes.count()
            spark = df.sparkSession
            if n == 0:
                return spark.createDataFrame(
                    [], "node long, pagerank double")
            pr = (nodes.select(
                "node", F.lit(S // n).cast("long").alias("_pr"))
                .localCheckpoint(eager=True))
            base = (1000 - dn) * S // (1000 * n)
            for _ in range(self.n_iter):
                contrib = (eo.join(pr.withColumnRenamed("node", "_s"),
                                   "_s")
                           .groupBy("_t")
                           .agg(F.sum(self._idiv(F.col("_pr"),
                                                 F.col("_deg")))
                                .alias("_in")))
                new = (pr.join(contrib.withColumnRenamed("_t", "node"),
                               "node", "left")
                       .select("node",
                               F.col("_pr").alias("_pr_old"),
                               (F.lit(base)
                                + self._idiv(
                                    F.lit(dn)
                                    * F.coalesce(F.col("_in"), F.lit(0)),
                                    F.lit(1000))).alias("_pr"))
                       .localCheckpoint(eager=True))
                delta = (new.agg(F.max(F.abs(F.col("_pr")
                                             - F.col("_pr_old"))))
                         .first()[0])
                pr = new.drop("_pr_old")
                if not delta:
                    break  # exact fixpoint: later iterates identical
        finally:
            eo.unpersist()
        return pr.select(
            "node", (F.col("_pr") / F.lit(float(self.SCALE)))
            .alias("pagerank"))
