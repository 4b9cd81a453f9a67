"""Distributed k-means clustering (Lloyd's algorithm), Spark-first.

Complements the similarity pack: IVFKNN trains its cells on a driver
SAMPLE (operators/similarity.py) — fine for index building, but corpus
analytics (topic bucketing, stratified curation, semantic sharding)
wants clustering over ALL vectors. Lloyd's maps cleanly onto DataFrame
ops and none of the heavy steps touch the driver:

  - assignment: squared-distance argmin over the k x dim centroid
    literal folded INLINE per row — a pure narrow projection, zero
    shuffle, zero join; above a literal-size cap it falls back to the
    broadcast-join + window-rank form with identical assignments;
  - update: posexplode dims -> groupBy (cluster, dim) avg — one shuffle
    of k*dim tiny keys with map-side partial aggregation.

Only the k x dim centroid matrix crosses the driver between iterations
(the same contract as Spark MLlib's KMeans aggregator). Everything is
engine-deterministic: seeds are the k vectors with the smallest
md5(seed||id) (a data-dependent, layout-independent "random" draw),
distance ties break by centroid id, and centroids are quantized to
``round_digits`` decimals after every update so independent engines
(the DuckDB oracle unrolls the same iterations in SQL) stay bit-equal
instead of drifting apart in the last ulp of a float sum. The per-dim
mean itself is computed as an EXACT decimal(30,15) sum divided once —
a float avg() depends on partition summation order, and near a
round-half boundary that last-ulp wobble would flip the quantized 6th
decimal (the failure mode the PageRank docstring cites); decimal sums
are associative, so the result is layout-independent.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import vector as V


@OPERATOR_REGISTRY.register()
class KMeansClusteringOperator(Operator):
    """Add a ``cluster`` column: full-corpus Lloyd's k-means.

    ``n_iter`` centroid updates, then a final assignment. Empty
    clusters keep their previous centroid. NOTE: iterating requires one
    driver round-trip of the k x dim centroid matrix per update (the
    output assignment itself stays lazy).
    """

    def __init__(self, id_key: str = "vec_id",
                 embedding_key: str = "embedding", k: int = 8,
                 n_iter: int = 5, seed: str = "kmeans",
                 round_digits: int = 6):
        if k <= 0 or n_iter < 0:
            raise ValueError("k must be > 0 and n_iter >= 0")
        self.id_key, self.embedding_key = id_key, embedding_key
        self.k, self.n_iter, self.seed = int(k), int(n_iter), seed
        self.round_digits = round_digits
        self.input_keys = (id_key, embedding_key)
        self.output_keys = ("cluster",)

    # above this many inline literals (k*dim), fall back to the
    # broadcast-join assignment: giant literal expression trees blow
    # past codegen method limits and slow Catalyst itself
    _INLINE_LIT_CAP = 4096

    def _assign_col(self, cents, vcol):
        """Column: argmin-cluster id for embedding column ``vcol``.

        Guide §2.4: crossJoining the corpus with the broadcast
        k-centroid frame and ranking with a window partitioned by point
        id would cost an Exchange + sort of n*k rows per assignment.
        The centroids are a k x dim literal that ``fit`` already
        collected, so the argmin is a pure narrow projection: fold over
        ``V.centroid_dists`` (each centroid's distance evaluated once),
        keep the first strictly-smaller distance (ties keep the smaller
        cid, as the join form's ``ORDER BY _d2 ASC, _cid ASC`` rank
        does). Both forms use the same ``V.sq_dist`` fold, so d2 is
        bit-identical and assignments match exactly; the null/NaN
        corner (null embedding -> all-null d2; NaN -> NaN d2) keeps the
        join form's nulls-first/NaN-tie outcome of cid 0 via the
        ``acc.c IS NULL OR d2 < acc.d`` fold condition.
        """
        best = F.aggregate(
            V.centroid_dists(vcol, cents),
            F.struct(F.lit(None).cast("double").alias("d"),
                     F.lit(None).cast("long").alias("c")),
            lambda acc, s: F.when(
                acc["c"].isNull() | (s["d"] < acc["d"]), s).otherwise(acc))
        return best["c"]

    def _narrow(self, cents) -> bool:
        return sum(len(v) for _, v in cents) <= self._INLINE_LIT_CAP

    def _join_assign(self, pts: DataFrame, cents) -> DataFrame:
        """(_pid, _cid) beyond the literal cap: broadcast-join + window
        rank, the same assignments as :meth:`_assign_col`."""
        cdf = pts.sparkSession.createDataFrame(cents, ["_cid", "_cv"]).select(
            "_cid", F.col("_cv").cast("array<double>").alias("_cv"))
        win = Window.partitionBy("_pid").orderBy(
            F.col("_d2").asc(), F.col("_cid").asc())
        return (pts.crossJoin(F.broadcast(cdf))
                .withColumn("_d2", V.sq_dist(F.col("_v"), F.col("_cv")))
                .withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .select("_pid", "_cid"))

    def _pts(self, df: DataFrame) -> DataFrame:
        return df.select(
            F.col(self.id_key).alias("_pid"),
            F.col(self.embedding_key).cast("array<double>").alias("_v"))

    def fit(self, df: DataFrame) -> list[list[float]]:
        """Train and return the k centroid vectors (cid order)."""
        spark = df.sparkSession
        pts = self._pts(df)
        # deterministic seeds: smallest (md5(seed||id), id) wins — a
        # global top-k (takeOrdered), not a full sort materialization
        hx = F.md5(F.concat(F.lit(self.seed), F.col("_pid").cast("string")))
        seed_rows = (pts.withColumn("_h", hx)
                     .orderBy("_h", "_pid").limit(self.k).collect())
        cents = [(i, list(r["_v"])) for i, r in enumerate(seed_rows)]

        for _ in range(self.n_iter):
            # narrow assignment keeps _v on the row, so the means pass
            # needs no join back to pts (one scan per iteration)
            if self._narrow(cents):
                assigned = pts.withColumn(
                    "_cid", self._assign_col(cents, F.col("_v")))
            else:
                assigned = self._join_assign(pts, cents).join(pts, "_pid")
            # per-dim means, quantized: k*dim keys, map-side combined
            means = (assigned
                     .select("_cid", F.posexplode("_v").alias("_i", "_x"))
                     .groupBy("_cid", "_i")
                     .agg(F.round(
                         F.sum(F.col("_x").cast("decimal(30,15)"))
                         .cast("double") / F.count(F.lit(1)),
                         self.round_digits).alias("_m"))
                     .groupBy("_cid")
                     .agg(F.array_sort(F.collect_list(
                         F.struct("_i", "_m"))).alias("_s"))
                     .select("_cid", F.transform(
                         "_s", lambda s: s["_m"]).alias("_cv"))
                     .collect())
            new = {r["_cid"]: list(r["_cv"]) for r in means}
            cents = [(cid, new.get(cid, v)) for cid, v in cents]
        return [v for _, v in cents]

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        cents = list(enumerate(self.fit(df)))
        if self._narrow(cents):
            # narrow final assignment: no join back to df; column
            # order replicates the join form (id_key leads)
            vcol = F.col(self.embedding_key).cast("array<double>")
            cols = [self.id_key] + [c for c in df.columns
                                    if c != self.id_key] + ["cluster"]
            return (df.withColumn(
                "cluster", self._assign_col(cents, vcol)).select(*cols))
        out = self._join_assign(self._pts(df), cents)
        return (df.join(out.withColumnRenamed("_pid", self.id_key),
                        self.id_key)
                .withColumn("cluster", F.col("_cid")).drop("_cid"))
