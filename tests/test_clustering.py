"""KMeansClusteringOperator: Lloyd's on DataFrames."""

import pytest

from dataflow_spark.core.registry import get_operator
from dataflow_spark.operators.clustering import KMeansClusteringOperator


def test_separates_two_blobs(spark):
    rows = ([(i, [0.0 + 0.01 * i, 0.0]) for i in range(10)]
            + [(100 + i, [10.0 + 0.01 * i, 10.0]) for i in range(10)])
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    op = get_operator("KMeansClusteringOperator", {
        "k": 2, "n_iter": 3, "seed": "t"})
    got = op.run(df).select("vec_id", "cluster").collect()
    lo = {r["cluster"] for r in got if r["vec_id"] < 100}
    hi = {r["cluster"] for r in got if r["vec_id"] >= 100}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi
    assert len(got) == 20


def test_deterministic_across_runs(spark):
    df = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    op = get_operator("KMeansClusteringOperator", {
        "k": 3, "n_iter": 2, "seed": "x"})
    a = sorted((r["vec_id"], r["cluster"])
               for r in op.run(df).collect())
    b = sorted((r["vec_id"], r["cluster"])
               for r in op.run(df).collect())
    assert a == b


def test_join_assignment_matches_inline_fold(spark, monkeypatch):
    """Past the literal cap the assignment is a broadcast join + window
    rank; it must give the inline fold's clusters, including the
    tie-to-smaller-cid and null-embedding corners."""
    rows = ([(i, [float(i % 4), float(i % 3), 1.0]) for i in range(30)]
            + [(30, None), (31, [1.5, 1.0, 1.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    args = {"k": 4, "n_iter": 2, "seed": "j"}

    def clusters():
        out = get_operator("KMeansClusteringOperator", args).run(df)
        return sorted((r["vec_id"], r["cluster"]) for r in out.collect())

    inline = clusters()
    monkeypatch.setattr(KMeansClusteringOperator, "_INLINE_LIT_CAP", 0)
    assert clusters() == inline
    assert len(inline) == len(rows)


def test_empty_cluster_keeps_seed_centroid(spark):
    # two tight groups, k=3: one centroid never wins a point and must
    # survive on its seed vector instead of going NaN/absent
    rows = ([(i, [0.0, 0.0]) for i in range(5)]
            + [(10 + i, [9.0, 9.0]) for i in range(5)])
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    op = get_operator("KMeansClusteringOperator", {
        "k": 3, "n_iter": 2, "seed": "t"})
    got = op.run(df).collect()
    assert len(got) == 10
    assert all(r["cluster"] is not None for r in got)
    # coincident points always co-cluster
    c_of = {r["vec_id"]: r["cluster"] for r in got}
    assert len({c_of[i] for i in range(5)}) == 1
    assert len({c_of[10 + i] for i in range(5)}) == 1


def test_validates_args():
    with pytest.raises(ValueError):
        get_operator("KMeansClusteringOperator", {"k": 0})


def test_ivf_full_corpus_training(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    op = get_operator("IVFKNN", {"k": 5, "n_cells": 4, "n_probe": 4,
                                 "train": "full"})
    got = op.run(df).collect()
    assert got  # probing all cells -> every query finds neighbors
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    assert all(len(v) <= 5 for v in per_q.values())
    with pytest.raises(ValueError):
        get_operator("IVFKNN", {"train": "nope"})
