"""Dataset-diversity and benchmark evaluators (reference:
general_text/eval/vendi_dataset_evaluator.py,
text_sft/eval/mmd_dataset_evaluator.py,
core_text/eval/bench_dataset_evaluator.py:24-60, and the CIDEr metric
general_text/eval/cider_sample_evaluator.py + vendored cider/).

Design (SURVEY.md §2.6): the global-matrix pieces (Vendi eigenvalues,
MMD kernel means) run driver-side over a bounded sample — the reference
computes full N×N matrices in memory; at 100 TB the sample IS the
semantics (documented deviation). Spark does the heavy part: sampling,
embedding column handling, and the per-row CIDEr/accuracy scoring stay
distributed.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.operators.eval.dataset import norm_answer
from dataflow_spark.operators.eval.reference_metrics import lower_words


def _bounded_sample(df: DataFrame, col: str, max_rows: int,
                    seed: int) -> np.ndarray:
    """Deterministic bounded sample of an embedding column.

    Rows are ranked by ``xxhash64(seed, value)`` — a CONTENT-derived
    pseudo-random key, so the selected set is independent of partition
    layout and row order (``F.rand(seed)`` is not: it re-seeds per
    partition index, so a repartition changes the sample — and would
    contradict the README's determinism contract). ``orderBy + limit``
    plans as TakeOrderedAndProject (per-partition top-k + merge), not a
    full global sort, so this stays cheap at corpus scale.
    """
    key = F.xxhash64(F.lit(seed), F.col(col))
    rows = (df.select(F.col(col)).where(F.col(col).isNotNull())
            .orderBy(key).limit(max_rows).collect())
    return np.array([r[0] for r in rows], dtype=np.float64)


def _pinned_row(out: DataFrame, pinned: DataFrame | None) -> DataFrame:
    """``out`` itself when nothing is pinned; else its one row, computed
    now so ``pinned`` is released before ``run`` returns, as a
    driver-built frame that holds no cache."""
    if pinned is None:
        return out
    try:
        row = out.first()
    finally:
        pinned.unpersist()
    return out.sparkSession.createDataFrame([tuple(row)], out.schema)


def cider_score(candidate: str, reference: str, max_n: int = 4) -> float:
    """CIDEr-style TF cosine over 1..4-grams, single reference.

    Published definition (Vedantam et al. 2015) degenerates with one
    reference to an average of per-n cosine similarities of n-gram TF
    vectors (IDF is uniform with a single-document corpus).
    """
    score = 0.0
    c_toks, r_toks = lower_words(candidate), lower_words(reference)
    for n in range(1, max_n + 1):
        c = Counter(tuple(c_toks[i:i + n]) for i in range(len(c_toks) - n + 1))
        r = Counter(tuple(r_toks[i:i + n]) for i in range(len(r_toks) - n + 1))
        if not c or not r:
            continue
        dot = sum(v * r[g] for g, v in c.items())
        nc = math.sqrt(sum(v * v for v in c.values()))
        nr = math.sqrt(sum(v * v for v in r.values()))
        if nc and nr:
            score += dot / (nc * nr)
    return 10.0 * score / max_n


@OPERATOR_REGISTRY.register()
class CiderSampleEvaluator(Operator):
    """Per-row CIDEr score of generated vs reference text."""

    def __init__(self, input_key: str = "generated", reference_key: str = "reference",
                 output_key: str = "cider"):
        self.input_key, self.reference_key = input_key, reference_key
        self.output_key = output_key
        self.input_keys = (input_key, reference_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        @pandas_udf("double")
        def cider(c: pd.Series, r: pd.Series) -> pd.Series:
            return pd.Series([cider_score(a, b) for a, b in zip(c, r)])

        return df.withColumn(self.output_key,
                             cider(F.col(self.input_key), F.col(self.reference_key)))


@OPERATOR_REGISTRY.register()
class VendiDatasetEvaluator(Operator):
    """Vendi diversity score over an embedding column.

    Vendi = exp(entropy of normalized similarity-matrix eigenvalues)
    (Friedman & Dieng 2022). Spark samples/normalizes; the k×k eigen
    problem runs on the driver over at most ``max_rows`` rows.
    """

    def __init__(self, embedding_key: str = "embedding", max_rows: int = 2000,
                 seed: int = 7, order: float = 1.0, id_key: str | None = None):
        self.embedding_key = embedding_key
        self.max_rows = max_rows
        self.seed = seed
        self.id_key = id_key  # self-join key for order=2; synthesized if absent
        #: Renyi order q of the Vendi family (Friedman & Dieng 2022 §3).
        #: q=1 (default) is the eigen-entropy score, computed on a bounded
        #: driver sample. q=2 has the closed form n^2 / ||K||_F^2 =
        #: n^2 / sum_ij cos(x_i,x_j)^2 — no eigensolve, so it runs fully
        #: distributed (self-join + sum) with no sampling bound: the
        #: 100 TB-safe member of the family, and expressible in plain SQL.
        self.order = order
        self.input_keys = (embedding_key,)
        self.output_keys = ("n", "vendi_score")

    def _run_order2(self, df: DataFrame) -> DataFrame:
        from dataflow_spark.functions import vector as V

        # sum_ij cos(x_i,x_j)^2 = tr((Xh Xh^T)^2) = ||Xh^T Xh||_F^2: the
        # Frobenius norm of the dim x dim GRAM matrix — linear in n (one
        # explode to (row, j, x) and a map-side-combinable (j,k) sum),
        # not the naive n^2 cross join. Exactly equal, not approximate.
        pinned = None
        if self.id_key:
            vecs = df.select(F.col(self.id_key).alias("_id"),
                             V.normalize(F.col(self.embedding_key)).alias("_v"))
        else:
            # monotonically_increasing_id is NONDETERMINISTIC: re-evaluated
            # per self-join side it silently mis-joins. Persist pins the
            # generated ids before the join reuses them.
            vecs = pinned = df.select(
                F.monotonically_increasing_id().alias("_id"),
                V.normalize(F.col(self.embedding_key)).alias("_v")).persist()
        vecs = vecs.filter(F.col("_v").isNotNull())
        ex = vecs.select("_id", F.posexplode("_v").alias("_j", "_x"))
        a, b = ex.alias("a"), ex.select("_id", "_j", "_x").alias("b")
        gram = (
            a.join(b, "_id")
            .groupBy(F.col("a._j").alias("_j"), F.col("b._j").alias("_k"))
            .agg(F.sum(F.col("a._x") * F.col("b._x")).alias("_g"))
        )
        n_frame = vecs.agg(F.count(F.lit(1)).alias("n"))
        agg = gram.agg(F.sum(F.col("_g") * F.col("_g")).alias("_fro2")) \
                  .crossJoin(n_frame)
        return _pinned_row(agg.select(
            F.col("n").cast("long"),
            F.round(F.col("n") * F.col("n") / F.col("_fro2"), 4)
            .alias("vendi_score")), pinned)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        if self.order == 2:
            return self._run_order2(df)
        X = _bounded_sample(df, self.embedding_key, self.max_rows, self.seed)
        n = len(X)
        spark = df.sparkSession
        if n == 0:
            return spark.createDataFrame([(0, 0.0)], "n long, vendi_score double")
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        K = (X @ X.T) / n
        ev = np.linalg.eigvalsh(K)
        ev = np.clip(ev, 0, None)
        ev = ev / ev.sum()
        ent = -(ev[ev > 0] * np.log(ev[ev > 0])).sum()
        return spark.createDataFrame([(n, float(np.exp(ent)))],
                                     "n long, vendi_score double")


@OPERATOR_REGISTRY.register()
class MMDDatasetEvaluator(Operator):
    """RBF-kernel MMD² between two datasets' embedding columns
    (mmd_dataset_evaluator.py), on bounded samples."""

    def __init__(self, embedding_key: str = "embedding", max_rows: int = 1000,
                 gamma: float | None = None, seed: int = 7):
        self.embedding_key = embedding_key
        self.max_rows = max_rows
        self.gamma = gamma
        self.seed = seed
        self.input_keys = (embedding_key,)
        self.output_keys = ("n_x", "n_y", "mmd2")

    def run(self, df: DataFrame, other: DataFrame | None = None, **kw: Any) -> DataFrame:
        assert other is not None, "MMDDatasetEvaluator.run(df, other=df2)"

        X = _bounded_sample(df, self.embedding_key, self.max_rows, self.seed)
        Y = _bounded_sample(other, self.embedding_key, self.max_rows,
                            self.seed)
        spark = df.sparkSession
        if len(X) == 0 or len(Y) == 0:
            return spark.createDataFrame([(len(X), len(Y), 0.0)],
                                         "n_x long, n_y long, mmd2 double")
        if self.gamma is None:
            Z = np.vstack([X, Y])
            d2 = ((Z[:, None, :] - Z[None, :, :]) ** 2).sum(-1)
            med = np.median(d2[d2 > 0]) if (d2 > 0).any() else 1.0
            gamma = 1.0 / med
        else:
            gamma = self.gamma

        def k(A: np.ndarray, B: np.ndarray) -> float:
            d2 = ((A[:, None, :] - B[None, :, :]) ** 2).sum(-1)
            return float(np.exp(-gamma * d2).mean())

        mmd2 = k(X, X) + k(Y, Y) - 2 * k(X, Y)
        return spark.createDataFrame([(len(X), len(Y), float(mmd2))],
                                     "n_x long, n_y long, mmd2 double")


@OPERATOR_REGISTRY.register()
class BenchDatasetEvaluator(Operator):
    """Benchmark accuracy: normalized-exact-match per row, then dataset
    accuracy (bench_dataset_evaluator.py:24-60). Match rule: lowercase,
    strip punctuation/extra spaces, compare; numeric answers compare as
    doubles. Per-row column + one-row accuracy aggregate; pure SQL."""

    def __init__(self, answer_key: str = "answer", gt_key: str = "gold",
                 match_key: str = "match"):
        self.answer_key, self.gt_key = answer_key, gt_key
        self.match_key = match_key
        self.input_keys = (answer_key, gt_key)
        self.output_keys = (match_key,)

    def score(self, df: DataFrame) -> DataFrame:
        a, g = norm_answer(F.col(self.answer_key)), norm_answer(F.col(self.gt_key))
        an, gn = a.try_cast("double"), g.try_cast("double")
        num_eq = an.isNotNull() & gn.isNotNull() & (an == gn)
        return df.withColumn(self.match_key, (num_eq | (a == g)).cast("int"))

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        scored = self.score(df)
        return scored.agg(
            F.count("*").alias("n"),
            F.round(F.avg(self.match_key), 6).alias("accuracy"),
        )


@OPERATOR_REGISTRY.register()
class Task2VecDatasetEvaluator(Operator):
    """Dataset diversity via embedding-covariance spectral entropy — the
    engine-defined stand-in for Task2Vec probe-network embeddings
    (general_text/eval/task2vec_dataset_evaluator.py:109 + task2vec/,
    which need a GPU probe model). Same contract: one diversity scalar
    from a bounded sample; a real Task2Vec backend can replace the
    sample->matrix step without touching the operator surface.
    """

    def __init__(self, embedding_key: str = "embedding", max_rows: int = 2000,
                 seed: int = 7, order: float = 1.0, id_key: str | None = None):
        self.embedding_key = embedding_key
        self.max_rows = max_rows
        self.seed = seed
        #: q=1 (default): eigen-entropy of the covariance spectrum on a
        #: bounded driver sample. q=2: Renyi-2 closed form
        #: -ln(||cov||_F^2 / tr(cov)^2) — no eigensolve, so it runs fully
        #: distributed over ALL rows (dim x dim aggregation, map-side
        #: combinable): the 100 TB-safe member, expressible in plain SQL.
        self.order = order
        self.id_key = id_key  # self-join key for order=2; synthesized if absent
        self.input_keys = (embedding_key,)
        self.output_keys = ("n", "task2vec_diversity")

    def _run_order2(self, df: DataFrame) -> DataFrame:
        pinned = None
        if self.id_key:
            e = df.select(F.col(self.id_key).alias("_id"),
                          F.col(self.embedding_key).alias("_v"))
        else:
            # persist pins the nondeterministic generated ids before the
            # self-join below reuses them (see Vendi order-2 note)
            e = pinned = df.select(
                F.monotonically_increasing_id().alias("_id"),
                F.col(self.embedding_key).alias("_v")).persist()
        e = e.filter(F.col("_v").isNotNull())
        ex = e.select("_id", F.posexplode("_v").alias("_j", "_x")) \
              .withColumn("_x", F.col("_x").cast("double"))
        m = ex.groupBy("_j").agg(F.avg("_x").alias("_mu"),
                                 F.count(F.lit(1)).alias("_n"))
        cx = ex.join(F.broadcast(m), "_j").select(
            "_id", "_j", (F.col("_x") - F.col("_mu")).alias("_cx"), "_n")
        a, b = cx.alias("a"), cx.select("_id", "_j", "_cx").alias("b")
        cov = (
            a.join(b, "_id")
            .groupBy(F.col("a._j").alias("_j"), F.col("b._j").alias("_k"))
            .agg((F.sum(F.col("a._cx") * F.col("b._cx"))
                  / (F.max(F.col("a._n")) - 1)).alias("_cv"),
                 F.max(F.col("a._n")).alias("_n"))
        )
        t = cov.agg(
            F.max("_n").alias("n"),
            F.sum(F.when(F.col("_j") == F.col("_k"), F.col("_cv"))).alias("_tr"),
            F.sum(F.col("_cv") * F.col("_cv")).alias("_f2"))
        return _pinned_row(t.select(
            F.col("n").cast("long"),
            F.round(-F.log(F.col("_f2") / (F.col("_tr") * F.col("_tr"))), 4)
            .alias("task2vec_diversity")), pinned)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        if self.order == 2:
            return self._run_order2(df)
        X = _bounded_sample(df, self.embedding_key, self.max_rows, self.seed)
        spark = df.sparkSession
        n = len(X)
        if n < 2:
            return spark.createDataFrame([(n, 0.0)], "n long, task2vec_diversity double")
        X = X - X.mean(axis=0, keepdims=True)
        cov = (X.T @ X) / (n - 1)
        ev = np.clip(np.linalg.eigvalsh(cov), 0, None)
        tot = ev.sum()
        if tot <= 0:
            return spark.createDataFrame([(n, 0.0)], "n long, task2vec_diversity double")
        p = ev[ev > 0] / tot
        ent = float(-(p * np.log(p)).sum())
        return spark.createDataFrame([(n, ent)], "n long, task2vec_diversity double")
