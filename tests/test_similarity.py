"""kNN degenerate embeddings: every physical path must agree that a
null cosine (null / zero-norm / dim-mismatched vector) is not a match.

The numpy workers serve a query set that fits one broadcast; the Spark
join paths are forced with :func:`_join_paths`.
"""

import contextlib

import pytest

from dataflow_spark.core.registry import get_operator
from dataflow_spark.operators import similarity as S


@contextlib.contextmanager
def _join_paths():
    """BruteForceKNN and LSHKNN take their Spark join paths inside."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S.BruteForceKNN, "_matmul_topk", lambda *a: None)
        mp.setattr(S.LSHKNN, "_fused_topk", lambda *a: None)
        yield


def _pairs(out):
    return {(r["query_id"], r["neighbor_id"]) for r in out}


def test_matmul_path_skips_null_embeddings(spark):
    # consistent dims + a null row -> dense matmul path engages and
    # must skip the null instead of raising in np.stack
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None), (5, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    op = get_operator("BruteForceKNN",
                      {"k": 2, "id_key": "id", "embedding_key": "embedding"})
    out = op.run(df).collect()
    assert all(r["cosine_sim"] is not None for r in out)
    ids = {r["neighbor_id"] for r in out} | {r["query_id"] for r in out}
    assert 3 not in ids
    assert (1, 2) in _pairs(out)


def test_join_path_excludes_null_cosine(spark):
    # mixed dims force the exact join path (dense refuses ragged);
    # dim-mismatched and null vectors must not occupy top-k slots
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None),
            (4, [1.0, 0.0, 0.0]), (5, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    op = get_operator("BruteForceKNN",
                      {"k": 2, "id_key": "id", "embedding_key": "embedding"})
    out = op.run(df).collect()
    assert all(r["cosine_sim"] is not None for r in out)
    ids = {r["neighbor_id"] for r in out} | {r["query_id"] for r in out}
    assert 3 not in ids and 4 not in ids
    assert (1, 2) in _pairs(out)


def test_paths_agree_on_null_bearing_corpus(spark):
    rows = [(i, [float(i), 1.0]) for i in range(1, 8)] + [(9, None)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    common = {"k": 3, "id_key": "id", "embedding_key": "embedding"}
    dense = get_operator("BruteForceKNN", common)
    joinp = get_operator("BruteForceKNN", common)
    d = {(r["query_id"], r["neighbor_id"], round(r["cosine_sim"], 9))
         for r in dense.run(df).collect()}
    with _join_paths():
        j = {(r["query_id"], r["neighbor_id"], round(r["cosine_sim"], 9))
             for r in joinp.run(df).collect()}
    assert d == j
    assert d


def _knn(out):
    return {(r["query_id"], r["neighbor_id"], round(r["cosine_sim"], 9))
            for r in out}


def test_lsh_fused_agrees_with_join_path(spark):
    import random

    random.seed(11)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter("vec_id < 4")
    common = {"k": 5, "num_planes": 8, "num_bands": 4}
    fused = get_operator("LSHKNN", common)
    joinp = get_operator("LSHKNN", common)
    fr = fused.run(df, queries=qs).collect()
    with _join_paths():
        jr = joinp.run(df, queries=qs).collect()
    assert fused.last_path == "fused" and joinp.last_path == "join"
    assert _knn(fr) == _knn(jr)
    assert fr  # buckets non-empty at this density


def test_lsh_fused_falls_back_when_queries_exceed_budget(spark,
                                                         monkeypatch):
    rows = [(i, [float(i % 7), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(S, "LSH_ONE_PASS_MAX_QUERIES", 3)
    op = get_operator("LSHKNN", {"k": 2})
    op.run(df, queries=df.filter("vec_id < 10")).collect()
    assert op.last_path == "join"
    # queries=None (self-kNN, unbounded query side) must never collect
    op2 = get_operator("LSHKNN", {"k": 2})
    op2.run(df).collect()
    assert op2.last_path == "join"


def test_lsh_fused_skips_null_and_zero_norm(spark):
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None),
            (4, [0.0, 0.0]), (5, [0.8, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    op = get_operator("LSHKNN", {"k": 3, "num_planes": 8, "num_bands": 4})
    out = op.run(df, queries=df.filter("vec_id = 1")).collect()
    assert op.last_path == "fused"
    ids = {r["neighbor_id"] for r in out}
    assert 3 not in ids and 4 not in ids
    assert all(r["cosine_sim"] is not None for r in out)


def test_matmul_slabs_agree_with_single_broadcast_and_join(spark,
                                                           monkeypatch):
    # a query matrix over the broadcast byte budget must not fall back to
    # the quadratic-exchange join path (200k self-kNN queries time out
    # there); it runs as byte-bounded slabs. All three paths must agree
    # exactly.
    import random

    random.seed(3)
    rows = [(i, [random.gauss(0, 1) for _ in range(16)])
            for i in range(300)] + [(999, None)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    common = {"k": 3, "id_key": "id", "embedding_key": "embedding"}
    one = get_operator("BruteForceKNN", common)
    multi = get_operator("BruteForceKNN", common)
    joinp = get_operator("BruteForceKNN", common)
    a = _knn(one.run(df).collect())
    with monkeypatch.context() as mp:
        mp.setattr(S, "DENSE_BROADCAST_BYTES", 10485)  # 300*16*8 -> 4 slabs
        b = _knn(multi.run(df).collect())
    with _join_paths():
        c = _knn(joinp.run(df).collect())
    assert a == b == c
    assert a


def test_lsh_paths_agree_with_zero_norm_vectors(spark):
    """The join path used to emit null-cosine rows for
    zero-norm/dim-mismatched vectors while the fused path excluded
    them — the two physical paths of ONE operator must return the
    same rows."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None),
            (4, [0.0, 0.0]), (5, [0.8, 0.2]), (6, [0.7, 0.3])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter("vec_id in (1, 4)")  # includes a zero-norm query
    common = {"k": 3, "num_planes": 8, "num_bands": 4}
    fused = get_operator("LSHKNN", common)
    a = {(r["query_id"], r["neighbor_id"], round(r["cosine_sim"], 9))
         for r in fused.run(df, queries=q).collect()}
    joinp = get_operator("LSHKNN", common)
    with _join_paths():
        b = {(r["query_id"], r["neighbor_id"], round(r["cosine_sim"], 9))
             for r in joinp.run(df, queries=q).collect()}
    assert fused.last_path == "fused" and joinp.last_path == "join"
    assert a == b
    assert all(c is not None for _, _, c in b)
    # the zero-norm query contributes no rows on either path
    assert not any(qi == 4 for qi, _, _ in a)


def test_matmul_k1_ties_to_smaller_id_with_zero_norms(spark):
    """k == 1 takes a distinct fast path in the dense worker (row max +
    single-pass fused mask, no partition copy): exact-duplicate vectors
    must still tie to the smaller neighbor id, zero-norm rows must
    produce and receive no matches, and the result must agree with the
    exact join path."""
    dup = [0.6, 0.8]
    rows = ([(i, dup) for i in (7, 3, 5)]          # byte-identical trio
            + [(10, [0.0, 0.0]), (11, [1.0, 0.0]), (12, [0.99, 0.02])])
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    common = {"k": 1, "id_key": "id", "embedding_key": "embedding"}
    dense = get_operator("BruteForceKNN", common)
    joinp = get_operator("BruteForceKNN", common)
    d = _knn(dense.run(df).collect())
    with _join_paths():
        j = _knn(joinp.run(df).collect())
    assert d == j
    top = {(q, n) for q, n, _ in d}
    # duplicates pair with the SMALLEST other duplicate id
    assert (5, 3) in top and (7, 3) in top and (3, 5) in top
    # zero-norm row: no matches either direction
    assert not any(q == 10 or n == 10 for q, n in top)
    # every non-zero-norm query got exactly one neighbor
    assert len(d) == 5


def test_matmul_k3_ties_to_smaller_id_with_zero_norms(spark):
    """k > 1 takes the partition-copy + 3-op fused-mask + lexsort
    branch in the dense worker (distinct from the k == 1 row-max path
    pinned above): byte-identical duplicate trios must rank
    ties by ascending neighbor id, zero-norm rows must produce and
    receive no matches, and the result must agree with the exact join
    path."""
    dup = [0.6, 0.8]
    rows = ([(i, dup) for i in (7, 3, 5)]          # byte-identical trio
            + [(10, [0.0, 0.0]), (11, [1.0, 0.0]), (12, [0.99, 0.02])])
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    common = {"k": 3, "id_key": "id", "embedding_key": "embedding"}
    dense = get_operator("BruteForceKNN", common)
    joinp = get_operator("BruteForceKNN", common)
    d = _knn(dense.run(df).collect())
    with _join_paths():
        j = _knn(joinp.run(df).collect())
    assert d == j
    # per-query ranked neighbor order: cosine desc, id asc
    by_q = {}
    for q, n, s in sorted(d, key=lambda t: (t[0], -t[2], t[1])):
        by_q.setdefault(q, []).append(n)
    # each duplicate's top-2 are the OTHER duplicates in id order
    assert by_q[3][:2] == [5, 7]
    assert by_q[5][:2] == [3, 7]
    assert by_q[7][:2] == [3, 5]
    # zero-norm row 10: no matches either direction
    assert 10 not in by_q
    assert not any(10 in ns for ns in by_q.values())
    # 5 live queries x k=3 over 4 eligible others
    assert all(len(ns) == 3 for ns in by_q.values())


def test_matmul_duplicate_query_ids_agree_with_join_path(spark):
    """Malformed input: non-unique id column. The join path excludes
    the self pair for EVERY duplicate row (neighbor_id != query_id);
    the dense path's id->rows exclusion map must do the same for every
    row position of a duplicated id, not just the last one."""
    rows = [(1, [1.0, 0.0]), (1, [0.8, 0.6]),      # duplicated id 1
            (2, [0.9, 0.1]), (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    common = {"k": 2, "id_key": "id", "embedding_key": "embedding"}
    dense = get_operator("BruteForceKNN", common)
    joinp = get_operator("BruteForceKNN", common)
    d = _knn(dense.run(df).collect())
    with _join_paths():
        j = _knn(joinp.run(df).collect())
    assert d == j
    # no self pair for either physical row of id 1
    assert not any(q == n for q, n, _ in d)


def test_matmul_slab_cap_refuses(spark, monkeypatch):
    """Past MAX_QUERY_SLABS the dense path refuses and names the ANN
    operators; it must not fall back to the quadratic join path."""
    rows = [(i, [float(i), 1.0, 0.5, 2.0]) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    monkeypatch.setattr(S, "DENSE_BROADCAST_BYTES", 256)  # 1280 B -> 5
    monkeypatch.setattr(S, "MAX_QUERY_SLABS", 4)
    op = get_operator("BruteForceKNN",
                      {"k": 2, "id_key": "id", "embedding_key": "embedding"})
    with pytest.raises(ValueError, match="LSHKNN or IVFKNN"):
        op.run(df)
    monkeypatch.setattr(S, "MAX_QUERY_SLABS", 5)
    assert len(op.run(df).collect()) == 2 * len(rows)


def test_ivf_excludes_null_cosine(spark):
    """IVFKNN ranks with the same rule as the other kNN operators: a
    zero-norm or NULL vector is never a neighbor, and a zero-norm query
    has no rows. Probing every cell makes it exact, so it must return
    BruteForceKNN's rows."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]), (4, None),
            (5, [0.8, 0.2]), (6, [0.7, 0.3]), (7, [0.1, 0.9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ivf = get_operator("IVFKNN", {"k": 3, "n_cells": 2, "n_probe": 2})
    out = _knn(ivf.run(df).collect())
    assert all(c is not None for _, _, c in out)
    assert not any(q in (3, 4) or n in (3, 4) for q, n, _ in out)
    brute = get_operator("BruteForceKNN", {"k": 3})
    assert out == _knn(brute.run(df).collect())


def test_dense_worker_preallocates_block_buffers_once(monkeypatch):
    """ENGINE RULE: GEMM workers preallocate their block buffers
    ONCE per batch and compute via out= — freshly-mmapped numpy
    temporaries first-touch-fault at ~50MB/s on this VM class, so a
    fresh 128MB allocation per block across 32 concurrent workers is a
    measured 63x slowdown (see docs/engineering-notes.md). This pins
    the allocation PATTERN: with the block budget shrunk so one batch
    runs many blocks, the number of large 2-D allocations must equal
    the fixed buffer-set size (4 for k>1: sims, partition copy, two
    masks), not scale with block count."""
    import numpy as np
    import pandas as pd

    from dataflow_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    nq, b, dim, k = 64, 8, 4, 3
    qm = rng.normal(size=(nq, dim))
    qid = np.array(list(range(nq)), dtype=object)
    qn = np.sqrt((qm * qm).sum(axis=1))

    class _Bc:
        value = (qid, qm, qn)

    # qblk = 64/8 = 8 queries/block -> 8 blocks over one corpus batch
    monkeypatch.setattr(S, "_GEMM_BLOCK_ENTRIES", 8 * b)
    worker = S._dense_topk_worker(_Bc(), k, False)
    pdf = pd.DataFrame({
        "_cid": np.arange(1000, 1000 + b, dtype=np.int64),
        "_c_emb": [qm[i].tolist() for i in range(b)]})

    real_empty = np.empty
    two_d = []

    def counting_empty(shape, *a, **kw):
        # min(shape) > 1 skips pandas block-manager (1, N) internals
        # when the worker assembles its output DataFrame
        if isinstance(shape, tuple) and len(shape) == 2 and min(shape) > 1:
            two_d.append(shape)
        return real_empty(shape, *a, **kw)

    monkeypatch.setattr(np, "empty", counting_empty)
    out = list(worker(iter([pdf])))
    monkeypatch.setattr(np, "empty", real_empty)
    assert len(two_d) == 4, two_d  # sims + pbuf + maskb + tmpb, once
    # sanity: the multi-block path really ran and produced ranked rows
    assert len(out) == 1 and len(out[0]) == nq * k


def test_oracle_gemm_preallocates_block_buffers_once(tmp_path, monkeypatch):
    """Same rule pinned for the second GEMM worker — the sf-scale
    verification oracle (tools/brute_text_oracle.numpy_most_similar):
    2 large 2-D allocations (raw cosine block + mask), regardless of
    block count."""
    import numpy as np
    import pandas as pd

    import tools.brute_text_oracle as O

    rng = np.random.default_rng(11)
    n, dim = 16, 4
    emb = rng.normal(size=(n, dim))
    pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                  "embedding": [r.tolist() for r in emb]}).to_parquet(
        tmp_path / "embeddings.parquet")

    monkeypatch.setattr(O, "_ORACLE_GEMM_BLK", 4)  # 4 blocks of 4 rows
    real_empty = np.empty
    two_d = []

    def counting_empty(shape, *a, **kw):
        if isinstance(shape, tuple) and len(shape) == 2 and min(shape) > 1:
            two_d.append(shape)
        return real_empty(shape, *a, **kw)

    monkeypatch.setattr(np, "empty", counting_empty)
    cols, rows = O.numpy_most_similar(str(tmp_path))
    monkeypatch.setattr(np, "empty", real_empty)
    assert len(two_d) == 2, two_d  # rawb + maskb, once
    assert cols == ["query_id", "neighbor_id", "cosine_sim"]
    assert len(rows) == n
