"""Similarity search over embedding columns: exact cosine top-k
(BruteForceKNN), IVF-cell ANN (IVFKNN), random-hyperplane LSH ANN
(LSHKNN) and the centroid-similarity outlier signal.

Scale design: the query set is assumed small (it is broadcast); the
corpus is the big side and is never collected. A kNN operator generates
candidates, then ranks them exactly: in a numpy worker over corpus Arrow
batches when the query side fits one broadcast, else in a Spark join.
Both give the same rows because they share one kernel per step: the
query matrix (:func:`_query_matrix`), corpus batches, band keys and cell
distances (``functions.vector``), and the ranking (:func:`_rank_topk` on
every join path, :func:`_merge_partial_topk` after every worker): cosine
desc, ties to the smaller neighbor id, a NULL cosine is not a match.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import vector as V
from dataflow_spark.functions.pulls import bounded_pull
# called inside worker closures by name, so a closure pickles these two
# kernels by value rather than the whole vector module
from dataflow_spark.functions.vector import hyperplane_keys, stack_vectors


#: per-block float64 entry budget for the dense GEMM worker (one sims
#: buffer = entries x 8 bytes = 128MB). Module-level so the allocation
#: -pattern test can shrink it to force many blocks per batch and
#: assert the buffer set is still allocated exactly once
#: (docs/engineering-notes.md §1).
_GEMM_BLOCK_ENTRIES = 1 << 24

#: byte budget of one broadcast float64 query matrix (a BruteForceKNN
#: slab, or LSHKNN's whole one-pass query side). Executor memory per
#: worker stays bounded by it whatever the query count.
DENSE_BROADCAST_BYTES = 64 << 20

#: BruteForceKNN's cap on query slabs: each slab is one broadcast and one
#: corpus scan, so the cap bounds plan width; past it the operator
#: refuses and points to the ANN operators.
MAX_QUERY_SLABS = 64

#: LSHKNN runs its one-pass worker only for an explicit query set of at
#: most this many rows; larger or implicit (self-kNN) query sides take
#: the band join.
LSH_ONE_PASS_MAX_QUERIES = 4096


def _query_matrix(qpdf, id_key: str, embedding_key: str):
    """(qid, qm, qn) for a collected query frame: the object array of ids,
    the float64 matrix of the non-empty query vectors and its row norms.

    NULL/empty query vectors are dropped (their cosine is NULL, so they
    have no output rows). None when no query vector is left, or when
    their dims differ: a worker would need one matrix per dim, so the
    caller takes its exact join path instead.
    """
    vals = qpdf[embedding_key]
    dims = {len(v) for v in vals if v is not None} - {0}
    if len(dims) != 1:
        return None
    qm, qn, qid = stack_vectors(
        vals, qpdf[id_key].to_numpy(dtype=object), dims.pop())
    return qid, qm, qn


def _rank_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact top-k of candidate pairs (query_id, neighbor_id, _q_emb,
    _c_emb) -> [query_id, neighbor_id, cosine_sim].

    Cosine desc, ties to the smaller neighbor id. A NULL cosine (NULL,
    zero-norm or dim-mismatched vector on either side) is not a match:
    it is dropped before ranking, as the numpy workers skip those rows,
    so it never takes a top-k slot.
    """
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return (pairs.withColumn("cosine_sim",
                             V.cosine(F.col("_q_emb"), F.col("_c_emb")))
            .filter(F.col("cosine_sim").isNotNull())
            .withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") <= k)
            .select("query_id", "neighbor_id", "cosine_sim"))


def _map_corpus(df: DataFrame, qsrc: DataFrame, id_key: str,
                embedding_key: str, worker) -> DataFrame:
    """Run a numpy top-k worker over the corpus as (_cid, _c_emb
    array<double>) Arrow batches; it emits partial (query_id,
    neighbor_id, cosine_sim) rows for :func:`_merge_partial_topk`."""
    schema = ("query_id " + qsrc.schema[id_key].dataType.simpleString()
              + ", neighbor_id " + df.schema[id_key].dataType.simpleString()
              + ", cosine_sim double")
    return (df.select(F.col(id_key).alias("_cid"),
                      V.to_double_array(F.col(embedding_key)).alias("_c_emb"))
            .mapInPandas(worker, schema=schema))


def _dense_topk_worker(bc, k, include_self):
    """Build the mapInPandas worker for BruteForceKNN's dense path.

    Module-level (not a method closure) so tests can drive it directly
    with a stub broadcast and instrument its allocation pattern.
    """
    import numpy as np

    def topk_partials(batches):
        import pandas as pd

        qid_, qm_, qn_ = bc.value
        nq = len(qid_)
        dim_ = qm_.shape[1]
        # unit-normalized query matrix, built once per task: the sims
        # GEMM then yields cosines with no per-block denominator
        # temporaries. Zero-norm rows stay all-zero and are masked to
        # -inf below. Candidate SELECTION only; final scores come from
        # the per-pair rescore.
        with np.errstate(invalid="ignore", divide="ignore"):
            qu_ = np.divide(qm_, qn_[:, None],
                            out=np.zeros_like(qm_),
                            where=qn_[:, None] > 0)
        # self-exclusion by id lookup, not broadcast equality: qid_ is
        # dtype=object, so cid[:,None] == qid_[None,:] costs 16M python
        # __eq__ calls per block. Each id maps to ALL of its query-row
        # positions, as the join path's neighbor_id != query_id filter
        # excludes every row of a (malformed) duplicated id.
        if not include_self:
            qpos_ = {}
            for i, v in enumerate(qid_):
                qpos_.setdefault(v, []).append(i)
        else:
            qpos_ = None
        for pdf in batches:
            # null / dimension-mismatched corpus vectors have a null
            # cosine on the join path and are skipped here
            cm, cn, cid = stack_vectors(pdf["_c_emb"], pdf["_cid"], dim_)
            if not len(cid):
                continue
            with np.errstate(invalid="ignore", divide="ignore"):
                cu = np.divide(cm, cn[:, None],
                               out=np.zeros_like(cm),
                               where=cn[:, None] > 0)
            czero = np.nonzero(cn == 0)[0]
            b = cm.shape[0]
            kk = min(k, b)
            cuT = np.ascontiguousarray(cu.T)
            # self pairs present in this batch: (global query
            # row, corpus row) via dict lookup — O(b), not
            # O(b x nq)
            if qpos_ is not None:
                sx = [(g, i) for i, c in enumerate(cid)
                      if c in qpos_ for g in qpos_[c]]
                sxq = np.array([p[0] for p in sx], dtype=np.int64)
                sxc = np.array([p[1] for p in sx], dtype=np.int64)
            else:
                sxq = sxc = None
            o_q, o_n, o_s = [], [], []
            # qblk bounds ONE float64 buffer to ~16M entries (128MB).
            # The buffer SET below (k=1: sims + mask ~144MB; k>1: sims +
            # partition copy + 2 masks ~290MB) is allocated once per
            # batch and reused across blocks via out=: a fresh
            # allocation per block is mmap/page-fault churn, a measured
            # 63x GEMM slowdown under 32 concurrent workers
            # (docs/engineering-notes.md §1).
            qblk = max(1, _GEMM_BLOCK_ENTRIES // max(b, 1))
            nr0 = min(qblk, nq)
            sims_buf = np.empty((nr0, b))
            pbuf = np.empty((nr0, b)) if kk > 1 else None
            maskb = np.empty((nr0, b), dtype=bool)
            tmpb = np.empty((nr0, b), dtype=bool) if kk > 1 else None
            kthb = np.empty(nr0)
            for lo in range(0, nq, qblk):
                nr = min(qblk, nq - lo)
                # query-major sims: kth-extraction reduces along the
                # CONTIGUOUS axis (5x faster than strided columns)
                sims = sims_buf[:nr]
                np.matmul(qu_[lo:lo + nr], cuT, out=sims)
                # zero-norm vectors never match (null cosine)
                if len(czero):
                    sims[:, czero] = -np.inf
                qzero = np.nonzero(qn_[lo:lo + nr] == 0)[0]
                if len(qzero):
                    sims[qzero, :] = -np.inf
                if sxq is not None and len(sxq):
                    m = (sxq >= lo) & (sxq < lo + nr)
                    if m.any():
                        sims[sxq[m] - lo, sxc[m]] = -np.inf
                # kth-highest per query, then ALL candidates within an
                # ulp margin of it: duplicate vectors tie constantly on
                # a templated corpus, and GEMM ulps vary with batch
                # SHAPE, so ranking on GEMM output breaks the
                # ties-to-smaller-id contract (152/20k wrong
                # representatives at sf1). Candidates are re-scored
                # with a shape-independent per-pair dot before ranking.
                # k=1 needs only the row max (no partition copy).
                if kk == 1:
                    kth = np.max(sims, axis=1, out=kthb[:nr])
                else:
                    p = pbuf[:nr]
                    np.copyto(p, sims)
                    p.partition(b - kk, axis=1)
                    kth = p[:, b - kk]
                # one block-wide mask extracts every (query, corpus)
                # candidate pair in C, not a per-query python loop.
                # Per-query threshold: kth minus max(relative,
                # absolute) margin — a purely relative margin collapses
                # below GEMM absolute error (~1e-13) when the kth cosine
                # sits near zero. kth == -inf gives thr == -inf (IEEE:
                # -inf - inf = -inf); the two branches below handle it.
                thr = kth - np.maximum(1e-9 * np.abs(kth), 1e-12)
                mask = maskb[:nr]
                if kk == 1:
                    # kth is the row max: kth == -inf means the
                    # whole row is masked (no candidates) — set
                    # thr to +inf there and a single >= pass
                    # reproduces the 3-op mask below exactly
                    # (finite kth: -inf >= finite thr is False,
                    # so the > -inf term is redundant)
                    thr[kth == -np.inf] = np.inf
                    np.greater_equal(sims, thr[:, None], out=mask)
                else:
                    # kth == -inf with kk > 1 can coexist with
                    # finite entries (fewer than kk unmasked):
                    # candidates are then ALL unmasked entries
                    tmp = tmpb[:nr]
                    np.greater(sims, -np.inf, out=mask)
                    np.greater_equal(sims, thr[:, None], out=tmp)
                    np.logical_and(mask, tmp, out=mask)
                # row-chunked nonzero: bounds the pair-array
                # peak on degenerate all-duplicate corpora
                # (worst case qblk x b pairs) without changing
                # total scan work
                for r0 in range(0, sims.shape[0], 512):
                    qr, ci = np.nonzero(mask[r0:r0 + 512])
                    if not len(qr):
                        continue
                    qr = qr + r0
                    # per-pair np.dot rescore on the UNnormalized
                    # vectors: shape-independent across batches
                    sarr = np.empty(len(qr), dtype=np.float64)
                    for t in range(len(qr)):
                        i, g = ci[t], lo + qr[t]
                        sarr[t] = (float(np.dot(cm[i], qm_[g]))
                                   / (cn[i] * qn_[g]))
                    ncid = cid[ci]
                    # rank within query: cosine desc, id asc —
                    # lexsort's last key is primary
                    order = np.lexsort((ncid, -sarr, qr))
                    js = qr[order]
                    starts = np.r_[0, 1 + np.flatnonzero(
                        js[1:] != js[:-1])]
                    sizes = np.diff(np.r_[starts, len(js)])
                    rank = (np.arange(len(js))
                            - np.repeat(starts, sizes))
                    keep_p = order[rank < kk]
                    o_q.append(qid_[lo + qr[keep_p]])
                    o_n.append(ncid[keep_p])
                    o_s.append(sarr[keep_p])
            if o_q:
                yield pd.DataFrame(
                    {"query_id": np.concatenate(o_q),
                     "neighbor_id": np.concatenate(o_n),
                     "cosine_sim": np.concatenate(o_s)})

    return topk_partials


def _merge_partial_topk(partials: DataFrame, k: int) -> DataFrame:
    """Global top-k per query from per-batch partial top-k rows.

    Each mapper contributed <= k rows per query, so the per-query list
    is bounded by k x #batches — an array_sort over a collected list,
    never a wide window. Ordering: cosine desc, neighbor id asc.
    """
    # single-parse SQL strings, not chained Column lambdas: the
    # comparator built via F.when/array_sort Python lambdas cost ~300
    # py4j round trips per plan build (~0.2s of pure driver latency per
    # invocation, cluster or local); one F.expr parses the identical
    # expression tree in a single JVM call
    k = int(k)
    return (partials.groupBy("query_id")
            .agg(F.expr("collect_list(named_struct("
                        "'s', cosine_sim, 'n', neighbor_id))").alias("_ps"))
            .select("query_id",
                    F.expr(
                        "posexplode(slice(array_sort(_ps, (a, b) -> "
                        "CASE WHEN a.s > b.s THEN -1 WHEN a.s < b.s THEN 1 "
                        "WHEN a.n < b.n THEN -1 WHEN a.n > b.n THEN 1 "
                        f"ELSE 0 END), 1, {k}))")
                    .alias("_pos", "_p"))
            .select("query_id", F.col("_p.n").alias("neighbor_id"),
                    F.col("_p.s").alias("cosine_sim")))


@OPERATOR_REGISTRY.register()
class BruteForceKNN(Operator):
    """Exact cosine top-k: broadcast query rows against the corpus.

    run(corpus_df, queries=queries_df) -> [query_id, neighbor_id,
    cosine_sim] with up to k rows per query (cosine desc, ties to the
    smaller neighbor id; a NULL cosine is not a match).
    """

    #: broadcast-safety bound on the query side: with queries=None the
    #: whole corpus would be broadcast for self-kNN — a driver/executor
    #: OOM at scale. Above the bound, refuse and point to LSHKNN/IVFKNN.
    max_broadcast_queries = 1_000_000

    def __init__(self, id_key: str = "vec_id", embedding_key: str = "embedding",
                 k: int = 10, include_self: bool = False,
                 max_broadcast_queries: int | None = None):
        self.id_key, self.embedding_key, self.k = id_key, embedding_key, k
        self.include_self = include_self
        if max_broadcast_queries is not None:
            self.max_broadcast_queries = max_broadcast_queries
        self.input_keys = (id_key, embedding_key)
        self.output_keys = ("query_id", "neighbor_id", "cosine_sim")

    def _matmul_topk(self, df: DataFrame, qsrc: DataFrame):
        """Partial-top-k via per-batch BLAS matmul; None -> join path.

        The join path is exact but its window ranks |corpus| x |queries|
        rows through ONE shuffle — at 50k self-kNN that is a 2.5B-row
        exchange (engine timeout at 600s). Here the queries are
        collected and broadcast as a float64 matrix; each corpus Arrow
        batch computes cosines with one matmul and emits only its LOCAL
        top-k per query, so the shuffle carries ~batches x |queries| x k
        rows; a final per-query merge re-sorts the partials. Exactly the
        semantics of the join path: float64 cosine, ties to the smaller
        neighbor id, zero-norm vectors never match (cosine is null
        there). Only a query side with no vector or with mixed dims
        takes the join path.

        SLABBING: a query matrix larger than DENSE_BROADCAST_BYTES is
        split into byte-bounded slabs — one broadcast + one corpus
        mapInPandas per slab, partials unioned, ONE shared merge. The
        join path is no fallback for it: 200k self-kNN queries (102 MB)
        there meant a 4e10-row window and an engine timeout. Executor
        memory stays bounded by the budget regardless of |queries|;
        total GEMM work is unchanged (the semantics are exact all-pairs,
        quadratic by definition). Past MAX_QUERY_SLABS slabs the
        operator refuses: use LSHKNN/IVFKNN at that scale.
        """
        # bounded: max_broadcast_queries probe ran just before; the
        # slab cap re-checks with the actual dim. Arrow toPandas,
        # not collect: per-Row pickling of a bound-sized query set costs
        # seconds on the driver at the 1M-row bound; one Arrow frame is
        # ~10x cheaper (guide §6 "Arrow for driver transfers")
        qpdf = qsrc.select(self.id_key, self.embedding_key).toPandas()
        q = _query_matrix(qpdf, self.id_key, self.embedding_key)
        if q is None:
            return None
        qid, qm, qn = q
        n_slabs = -(-qm.nbytes // DENSE_BROADCAST_BYTES)  # ceil
        if n_slabs > MAX_QUERY_SLABS:
            raise ValueError(
                f"BruteForceKNN would broadcast {n_slabs} query slabs of "
                f"{DENSE_BROADCAST_BYTES} bytes (cap {MAX_QUERY_SLABS}); "
                "use LSHKNN or IVFKNN for a query set this large")
        sc = df.sparkSession.sparkContext
        rows_per_slab = -(-len(qid) // n_slabs)  # ceil
        partials = None
        for s0 in range(0, len(qid), rows_per_slab):
            sl = slice(s0, s0 + rows_per_slab)
            bc = sc.broadcast((qid[sl], qm[sl], qn[sl]))
            p = _map_corpus(df, qsrc, self.id_key, self.embedding_key,
                            _dense_topk_worker(bc, self.k, self.include_self))
            partials = p if partials is None else partials.union(p)
        return _merge_partial_topk(partials, self.k)

    def run(self, df: DataFrame, queries: DataFrame | None = None, **kwargs: Any) -> DataFrame:
        qsrc = queries if queries is not None else df
        # limit-probe instead of count(): one cheap job, stops early
        n_probe = len(bounded_pull(qsrc.select(self.id_key),
                                   self.max_broadcast_queries + 1))
        if n_probe > self.max_broadcast_queries:
            raise ValueError(
                f"BruteForceKNN would broadcast > {self.max_broadcast_queries} "
                "query rows (self-kNN over a large corpus?); use LSHKNN or "
                "IVFKNN, or raise max_broadcast_queries explicitly")
        fast = self._matmul_topk(df, qsrc)
        if fast is not None:
            return fast
        q = qsrc.select(
            F.col(self.id_key).alias("query_id"),
            F.col(self.embedding_key).alias("_q_emb"),
        )
        c = df.select(
            F.col(self.id_key).alias("neighbor_id"),
            F.col(self.embedding_key).alias("_c_emb"),
        )
        joined = c.crossJoin(F.broadcast(q))
        if not self.include_self:
            joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
        return _rank_topk(joined, self.k)


@OPERATOR_REGISTRY.register()
class CentroidSimilarityEvaluator(Operator):
    """Add each row's cosine similarity to its group's embedding
    centroid (``group_key=None`` uses one global centroid) — the
    embedding-space outlier signal of a curation pipeline: rows far from
    their domain centroid are mislabeled/noise candidates. Compose with
    ``PercentileThresholdFilter(score_key='centroid_sim',
    keep='bottom')`` to select or drop the tail.

    Scale: centroids come from one posexplode + (group, dim) avg — the
    aggregate result is |groups| x dim rows, reassembled into arrays and
    broadcast back; no driver collect, corpus shuffles only its exploded
    dims once. Cosine stays a Column expression.
    """

    def __init__(self, embedding_key: str = "embedding",
                 group_key: str | None = None,
                 output_key: str = "centroid_sim"):
        self.embedding_key, self.group_key = embedding_key, group_key
        self.output_key = output_key
        self.input_keys = ((embedding_key, group_key) if group_key
                           else (embedding_key,))
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        emb = V.to_double_array(F.col(self.embedding_key))
        grp = [self.group_key] if self.group_key else []
        dims = df.select(*grp, F.posexplode(emb).alias("_i", "_v"))
        cent = (
            dims.groupBy(*grp, "_i").agg(F.avg("_v").alias("_m"))
            .groupBy(*grp)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_m"))),
                lambda s: s.getField("_m")).alias("_centroid"))
        )
        joined = (df.join(F.broadcast(cent), on=grp) if grp
                  else df.crossJoin(F.broadcast(cent)))
        return (
            joined.withColumn(self.output_key,
                              V.cosine(emb, F.col("_centroid")))
            .drop("_centroid")
        )


@OPERATOR_REGISTRY.register()
class IVFKNN(Operator):
    """IVF (inverted-file) ANN: KMeans-partition the corpus, search only
    the ``n_probe`` nearest cells per query.

    The classic IVF design (as in FAISS): centroids are trained on a
    sample (driver-side, tiny), cell assignment is a broadcast
    nearest-centroid argmin, and the probe join prunes the corpus to
    n_probe/n_cells of its rows — the 100 TB path where brute force is
    linear in corpus size per query.
    """

    def __init__(self, id_key: str = "vec_id", embedding_key: str = "embedding",
                 k: int = 10, n_cells: int = 16, n_probe: int = 4,
                 train_sample: int = 10_000, seed: int = 42,
                 train: str = "sample"):
        if train not in ("sample", "full"):
            raise ValueError("train must be 'sample' or 'full'")
        self.id_key, self.embedding_key, self.k = id_key, embedding_key, k
        self.n_cells, self.n_probe = n_cells, n_probe
        self.train_sample = train_sample
        self.seed = seed
        self.train = train
        self.input_keys = (id_key, embedding_key)
        self.output_keys = ("query_id", "neighbor_id", "cosine_sim")

    def _centroids(self, df: DataFrame):
        if self.train == "full":
            # full-corpus Lloyd's (operators/clustering.py): no sample
            # bias — centroid quality tracks the whole corpus; only the
            # k x dim matrix crosses the driver per iteration
            from dataflow_spark.operators.clustering import (
                KMeansClusteringOperator,
            )

            km = KMeansClusteringOperator(
                id_key=self.id_key, embedding_key=self.embedding_key,
                k=self.n_cells, n_iter=5, seed=f"ivf{self.seed}")
            return km.fit(df)

        import numpy as np

        # Arrow toPandas, not collect: per-Row pickling of the training
        # sample's array cells is the slow path (guide §6)
        tpdf = (
            df.select(self.embedding_key)
            .filter(F.col(self.embedding_key).isNotNull())
            .limit(self.train_sample)
            .toPandas()
        )
        X = np.array([np.asarray(v, dtype=np.float64)
                      for v in tpdf[self.embedding_key]])
        rng = np.random.RandomState(self.seed)
        k = min(self.n_cells, len(X))
        cents = X[rng.choice(len(X), size=k, replace=False)]
        for _ in range(10):  # Lloyd iterations on the sample
            d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d.argmin(1)
            for c in range(k):
                m = X[assign == c]
                if len(m):
                    cents[c] = m.mean(0)
        return cents

    def _cell_ranks(self, emb_col, cents):
        """array of cell ids ordered by ascending L2 distance."""
        dists = V.centroid_dists(V.to_double_array(emb_col),
                                 list(enumerate(cents)))
        return F.transform(F.array_sort(dists), lambda s: s["c"])

    def run(self, df: DataFrame, queries: DataFrame | None = None, **kwargs: Any) -> DataFrame:
        qsrc = queries if queries is not None else df
        cents = self._centroids(df)
        ranks = self._cell_ranks(F.col(self.embedding_key), cents)
        corpus = df.select(
            F.col(self.id_key).alias("neighbor_id"),
            F.col(self.embedding_key).alias("_c_emb"),
            F.element_at(ranks, 1).alias("cell"),  # assign to nearest cell
        )
        probes = qsrc.select(
            F.col(self.id_key).alias("query_id"),
            F.col(self.embedding_key).alias("_q_emb"),
            F.explode(F.slice(ranks, 1, self.n_probe)).alias("cell"),
        )
        cand = corpus.join(F.broadcast(probes), "cell").filter(
            F.col("neighbor_id") != F.col("query_id"))
        return _rank_topk(cand, self.k)


@OPERATOR_REGISTRY.register()
class LSHKNN(Operator):
    """Approximate top-k: random-hyperplane bucket join, then exact
    cosine within candidates. Multi-probe via multiple bands keeps
    recall high; falls back to fewer-than-k rows when a query's buckets
    are sparse (standard ANN contract).
    """

    def __init__(self, id_key: str = "vec_id", embedding_key: str = "embedding",
                 k: int = 10, num_planes: int = 16, num_bands: int = 4,
                 seed: int = 42):
        self.id_key, self.embedding_key, self.k = id_key, embedding_key, k
        self.num_planes, self.num_bands, self.seed = num_planes, num_bands, seed
        self.input_keys = (id_key, embedding_key)
        self.output_keys = ("query_id", "neighbor_id", "cosine_sim")

    def _fused_topk(self, df: DataFrame, qsrc: DataFrame):
        """One-pass probe for a small explicit query set; None -> join.

        The band-join path costs 2 Python banding stages (corpus +
        queries), a band explode (num_bands x corpus rows), the
        equi-join, a dropDuplicates shuffle and a ranking window. When
        the query side fits LSH_ONE_PASS_MAX_QUERIES rows and
        DENSE_BROADCAST_BYTES, everything after the corpus scan fuses
        into ONE mapInPandas: each corpus batch computes its band keys
        with ``hyperplane_keys`` over the same planes as
        hyperplane_bands_udf, matches them against the broadcast
        per-band hash->query index, scores survivors with an exact
        per-pair float64 dot (shape-independent, so no tie-capture
        margin is needed), and emits its local top-k per query; a
        bounded per-query merge finishes. Candidates are IDENTICAL to
        the join path by construction: same planes, same packed band
        keys, same >=1-shared-(band,h) predicate, self and null/zero-
        norm/dim-mismatched vectors excluded on both paths.

        The corpus is never shuffled and never leaves the executors —
        at 100 TB this is a single scan emitting ~batches x |q| x k
        rows; the join path serves query sets too large to broadcast.
        """
        import numpy as np

        # one bounded job: probe and collect fused (limit is the guard);
        # Arrow toPandas, not collect — per-Row pickling costs seconds
        # at the 1M-row bound (guide §6)
        qpdf = bounded_pull(qsrc.select(self.id_key, self.embedding_key),
                            LSH_ONE_PASS_MAX_QUERIES + 1)
        if len(qpdf) > LSH_ONE_PASS_MAX_QUERIES:
            return None
        q = _query_matrix(qpdf, self.id_key, self.embedding_key)
        if q is None or q[1].nbytes > DENSE_BROADCAST_BYTES:
            return None
        qid, qm, qn = q
        dim = qm.shape[1]
        num_bands, k = self.num_bands, self.k
        planes = V.hyperplane_planes(self.num_planes, dim, self.seed)
        qbands = hyperplane_keys(qm, planes, num_bands)
        band_maps: list[dict] = [{} for _ in range(num_bands)]
        for i in range(len(qid)):
            if qn[i] == 0:
                continue  # zero-norm query: null cosine on join path
            for b in range(num_bands):
                band_maps[b].setdefault(int(qbands[i, b]), []).append(i)
        bc = df.sparkSession.sparkContext.broadcast(
            (qid, qm, qn, band_maps, planes))

        def fused(batches):
            import pandas as pd

            qid_, qm_, qn_, maps, planes_ = bc.value
            for pdf in batches:
                cm, cn, cid = stack_vectors(pdf["_c_emb"], pdf["_cid"], dim)
                if not len(cid):
                    continue
                cb = hyperplane_keys(cm, planes_, num_bands)
                # candidate sets per query: >=1 shared (band, hash)
                cand: dict[int, list[int]] = {}
                for j in range(cb.shape[0]):
                    if cn[j] == 0:
                        continue  # zero-norm corpus row: never matches
                    hit: set[int] = set()
                    for b in range(num_bands):
                        lst = maps[b].get(int(cb[j, b]))
                        if lst:
                            hit.update(lst)
                    for qi in hit:
                        if cid[j] == qid_[qi]:
                            continue  # self-match excluded (join path)
                        cand.setdefault(qi, []).append(j)
                o_q, o_n, o_s = [], [], []
                for qi, js in cand.items():
                    # per-pair np.dot, not a GEMV over the candidate
                    # block: BLAS blocking varies with matrix shape, and
                    # batch composition varies with partitioning — the
                    # same pair must score identically everywhere (the
                    # lesson of the brute matmul path's tie bug)
                    qv, qnq = qm_[qi], qn_[qi]
                    scored = sorted(
                        ((-(s_ := float(np.dot(cm[j], qv)) / (cn[j] * qnq)),
                          cid[j], s_) for j in js))
                    for _negs, nid, s_ in scored[:k]:
                        o_q.append(qid_[qi])
                        o_n.append(nid)
                        o_s.append(s_)
                if o_q:
                    yield pd.DataFrame({"query_id": o_q,
                                        "neighbor_id": o_n,
                                        "cosine_sim": o_s})

        return _merge_partial_topk(
            _map_corpus(df, qsrc, self.id_key, self.embedding_key, fused), k)

    def run(self, df: DataFrame, queries: DataFrame | None = None, **kwargs: Any) -> DataFrame:
        qsrc = queries if queries is not None else df
        if queries is not None:
            fast = self._fused_topk(df, queries)
            if fast is not None:
                self.last_path = "fused"
                return fast
        self.last_path = "join"
        # vectorized band keys (functions/vector.py): the per-plane
        # expression tree is CodegenFallback, ~1000x slower per row
        bands_udf = V.hyperplane_bands_udf(self.num_planes, self.num_bands, self.seed)
        c = df.select(
            F.col(self.id_key).alias("neighbor_id"),
            F.col(self.embedding_key).alias("_c_emb"),
            F.posexplode(bands_udf(F.col(self.embedding_key))).alias("band", "h"),
        )
        q = qsrc.select(
            F.col(self.id_key).alias("query_id"),
            F.col(self.embedding_key).alias("_q_emb"),
            F.posexplode(bands_udf(F.col(self.embedding_key))).alias("band", "h"),
        )
        cand = (
            c.join(F.broadcast(q), ["band", "h"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "_q_emb", "_c_emb")
            # a pair colliding in several bands appears once per band;
            # dedup on the id pair only (full-row distinct would hash the
            # embedding arrays too)
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        return _rank_topk(cand, self.k)
