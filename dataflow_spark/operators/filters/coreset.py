"""KCenterGreedy coreset selection over an embedding column.

Reference: core_text/filter/kcentergreedy_filter.py:15-60,189-218 — an
inherently sequential global algorithm (each pick depends on all prior
picks). Spark decomposition (SURVEY §4.2-3): executors compute/carry
embeddings; the driver runs the O(k*n) greedy selection over the
collected embedding matrix (numpy); the selected ids semi-join back.
For n too large to collect, a uniform pre-sample bounds driver memory —
coresets are small by definition, so sampling before selection is the
standard scale move.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator, ROW_ID, with_row_id
from dataflow_spark.core.registry import OPERATOR_REGISTRY


@OPERATOR_REGISTRY.register()
class KCenterGreedyFilter(Operator):
    def __init__(self, embedding_key: str = "embedding", num_samples: int = 100,
                 id_key: str | None = None, max_collect: int = 200_000, seed: int = 42):
        self.embedding_key = embedding_key
        self.num_samples = num_samples
        self.id_key = id_key
        self.max_collect = max_collect
        self.seed = seed
        self.input_keys = (embedding_key,)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        import numpy as np

        if self.id_key and self.id_key in df.columns:
            id_col = self.id_key
        else:
            df = with_row_id(df)
            id_col = ROW_ID

        pool = df.select(id_col, self.embedding_key)
        n = pool.count()
        if n > self.max_collect:
            pool = pool.sample(fraction=self.max_collect / n, seed=self.seed)
        # Arrow toPandas, not collect: per-Row pickling of embedding
        # cells dominates the driver pull at max_collect (guide §6)
        pdf = pool.toPandas()
        ids = np.array(pdf[id_col].tolist())
        X = np.array([np.asarray(v, dtype=np.float64)
                      for v in pdf[self.embedding_key]])

        k = min(self.num_samples, len(ids))
        # greedy k-center: start from the smallest id, then repeatedly
        # take the point with max squared distance to the chosen set
        # (same selection as euclidean, cheaper); distance ties break to
        # the smallest id so the selection is fully deterministic and
        # independent of collect order
        start = int(np.argmin(ids))
        chosen = [start]
        d = ((X - X[start]) ** 2).sum(axis=1)
        for _ in range(1, k):
            cand = np.flatnonzero(d == d.max())
            nxt = int(cand[np.argmin(ids[cand])])
            chosen.append(nxt)
            d = np.minimum(d, ((X - X[nxt]) ** 2).sum(axis=1))
        chosen_ids = [int(ids[i]) for i in chosen]

        spark = df.sparkSession
        sel = spark.createDataFrame([(i,) for i in chosen_ids], [id_col])
        out = df.join(F.broadcast(sel), id_col, "left_semi")
        return out.drop(ROW_ID) if id_col == ROW_ID else out
