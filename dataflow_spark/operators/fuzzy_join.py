"""The exact set-similarity join: cross-table (FuzzyJoinOperator) and
self-join (NgramJaccardDeduplicateFilter) on one set of kernels.

The reference's dedup family only matches a table against itself; a
curation pipeline also needs the CROSS-table variant: match scraped
records against a canonical table, align two crawl snapshots, join
noisy titles to a catalog. Both are the same exact set-similarity join
(token/shingle Jaccard >= t), implemented once in :class:`ExactSetJoin`
and built scale-first:

- prefix filtering (PPJoin / AllPairs, Xiao et al. WWW'08): under a
  global total order, two sets with Jaccard >= t MUST share an element
  in their first floor((1-t)*|set|)+1 elements — candidate generation
  is an equi-join on prefix elements with complete recall, never a
  cartesian product;
- global-frequency ordering (rarest first) keeps prefix buckets tiny:
  stopword-ish shingles land at the end of every ordering and never
  block; the frequency table is computed over BOTH sides so the order
  is consistent;
- PPJoin positional filter prunes provably-sub-threshold candidates
  before any set materializes;
- sets are xxhash64'd to bigint arrays (:func:`shingle_sets`): set ops
  shuffle ~5x fewer bytes than raw shingle strings (a 64-bit collision
  flipping a boundary Jaccard is ~1e-15/corpus).

Exact semantics (same result as the quadratic nested loop), linear-ish
cost — the oracle for the contract query IS the quadratic nested loop.
The join is exact or it refuses: when a budget guard
(``dense_flop_budget``, ``max_candidate_pairs``) says the corpus shape
makes the exact algorithm ~quadratic, it raises ``BudgetExceededError``
naming the budget to raise, in seconds. There is no approximate
fallback; approximate near-dup removal is MinHashDeduplicateFilter.

Self-join: the kernels take ``rraw=None`` to mean "join the left side
with itself" and then emit each unordered pair once, with left_id <
right_id. The dense path broadcasts the one side and masks the upper
triangle; the sparse path joins one prefix frame to itself on
``a._id < b._id``, so no pair is verified twice, and its candidate
guard is the sum of squared prefix-bucket sizes. Only the cross-table
operator collapses identical shingle sets before candidate generation.

Caveat: prefix filtering's pruning power comes from shingle-space
SPARSITY. On a low-entropy corpus (tiny vocabulary, heavy templating)
most shingles are frequent, prefix buckets grow dense, and cost trends
toward the quadratic floor — real web/text corpora are sparse (Heaps'
law), but for synthetic/templated data prefer the probabilistic
MinHash-LSH dedup family, or raise the threshold (prefix length is
(1-t)|set|+1, so t=0.8 probes 2x fewer elements than t=0.6).

Adaptive DENSE path: when the LEFT side's shingle vocabulary is small
(low-entropy corpus, or a small query table matched into a huge
corpus) the join skips candidate generation entirely: the left side is
collected as a packed bitset matrix (one column per left-vocab shingle
hash), broadcast, and each right-side Arrow batch computes EXACT
overlap counts against it with one BLAS matmul (0/1 float32; integer
counts < 2^24 are exact). Right-only shingles cannot overlap and are
dropped from the matrix — right set sizes come from the untruncated
arrays, so Jaccard/containment are unchanged. Zero shuffles: one scan
of the right side against a broadcast. The switch is guarded by a
cheap sampled probe, then exact vocab/size counts, and falls back to
the sparse PPJoin path when the left side exceeds ``dense_vocab_max``
distinct shingles or ``DENSE_BROADCAST_MB`` of packed bits. On the
degenerate bench sf1 replica (2.2k-shingle vocab, where sparse PPJoin
admits 406M candidates) this is the difference between 199s and
seconds, with bit-identical output (verified against
tools/brute_fuzzy_oracle.py and the DuckDB contract oracles).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import BudgetExceededError, Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import hashing as H
from dataflow_spark.functions import text as T
from dataflow_spark.functions.pulls import bounded_pull

#: dense-path broadcast budget in MiB: the packed left bitset matrix
#: must fit it, and so must the left side's raw set payload in tokens
DENSE_BROADCAST_MB = 64


def shingle_sets(df: DataFrame, id_col: str, key: str, mode: str = "char",
                 shingle_n: int = 5) -> DataFrame:
    """The join's input frame: ``(_id, _sh)`` with ``_sh`` the sorted
    distinct xxhash64 set of ``key``'s char ``shingle_n``-grams
    (``mode='char'``) or lowercased words, never empty."""
    col = F.col(key)
    if mode == "char":
        # never empty: a text shorter than n (or NULL) is its own shingle
        raw = H.char_shingles(col, shingle_n)
    else:
        # blank or NULL text has no words. Filter the input, not _sh:
        # Catalyst pushes a filter on _sh below the projection, which
        # then computes every set twice
        df = df.filter(F.size(T.words(col)) > 0)
        raw = F.transform(T.words(col), lambda x: F.lower(x))
    return df.select(
        F.col(id_col).alias("_id"),
        F.array_sort(F.array_distinct(
            F.transform(raw, lambda s: F.xxhash64(s)))).alias("_sh"))


class ExactSetJoin:
    """Kernels of the exact set-similarity join over the ``(_id, _sh)``
    frames :func:`shingle_sets` builds; ``rraw=None`` is the self-join.
    Hosts set ``threshold`` and call :meth:`_set_budgets`; ``metric``
    is 'jaccard' unless overridden."""

    metric = "jaccard"

    def _set_budgets(self, dense_vocab_max: int, max_candidate_pairs: float,
                     dense_flop_budget: float) -> None:
        # dense-path guard: 0 disables the dense path entirely
        self.dense_vocab_max = dense_vocab_max
        # sparse-path blowup guard (0 disables): refuse predictably when
        # the prefix-bucket candidate UPPER BOUND says the corpus is too
        # low-entropy for exact PPJoin at this size — an actionable
        # error beats the alternative an sf10 sweep measured (a JVM
        # OutOfMemoryError 8 minutes into a ~40e9-pair shuffle)
        self.max_candidate_pairs = max_candidate_pairs
        # dense-path compute guard (0 disables): n_left*n_right*nbits
        # multiply-adds. Calibrated: the bitset kernel (unpackbits +
        # float32 GEMM + float64 threshold scan) sustains ~1e10
        # budget-units/s per core, so 2e13 is ~1-4 min when the
        # right-side scan parallelizes (>=8 partitions typical) and
        # still admits every shape the sf1 sweep completes (largest:
        # 5.6e12). Byte-feasible is not compute-feasible (a 5.6e13-unit
        # containment GEMV at sf10 showed it).
        self.dense_flop_budget = dense_flop_budget

    def _try_dense(self, lraw: DataFrame,
                   rraw: DataFrame | None = None) -> DataFrame | None:
        """Broadcast-bitset matmul path; None when guards say sparse.

        Exactness: overlap counts are sums of 0/1 float32 products —
        every partial sum is an integer < 2^24, hence exact; the final
        threshold uses the same float64 division as the sparse path.

        ``lraw`` is read by four separate jobs (vocab probe, vocab
        collect, size stats, row collect) and, in the self-join, by the
        scan itself; callers persist it so that a non-deterministic left
        plan (a sample, a shuffle-dependent limit) cannot hand the
        packing step tokens that are not in the collected vocab —
        searchsorted would then write a wrong column or index past the
        bitset. With one materialization every read sees the same rows.
        """
        if self.dense_vocab_max <= 0:
            return None
        # sampled probe first: a subset's vocab only undercounts, so
        # "probe > max" proves the full left vocab is over budget
        # without scanning a (possibly huge) left side
        probe = (lraw.limit(2000)
                 .select(F.explode("_sh").alias("_p"))
                 .agg(F.countDistinct("_p")).first()[0])
        if probe > self.dense_vocab_max:
            return None
        vocab_pdf = bounded_pull(
            lraw.select(F.explode("_sh").alias("_p")).distinct(),
            self.dense_vocab_max + 1)  # bounded: limit(dense_vocab_max + 1)
        if len(vocab_pdf) > self.dense_vocab_max:
            return None

        import numpy as np

        # column j of the bitset matrix = rank of the shingle hash in
        # the sorted left vocabulary — searchsorted IS the token->column
        # map, vectorized on both the driver and the executors
        vocab = np.sort(vocab_pdf["_p"].to_numpy(dtype=np.int64))
        nbits = max(len(vocab), 1)
        stats = lraw.agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.size("_sh")).alias("tok")).first()
        n_l, tok_l = int(stats["n"] or 0), int(stats["tok"] or 0)
        budget = DENSE_BROADCAST_MB * 1024 * 1024
        # packed-bit matrix AND the raw set payload must both fit
        if n_l == 0 or n_l * ((nbits + 7) // 8) > budget or tok_l > budget:
            return None
        self_join = rraw is None
        # FLOP budget: byte-feasible is not compute-feasible — at
        # sf10 a 50k x 500k x 2226 GEMM fit the broadcast budget but
        # needed 5.6e16 flops (engine timeout at 600s). And reaching
        # this point proves the left vocabulary is degenerate-small
        # (<= dense_vocab_max), so the sparse PPJoin's prefix buckets
        # are ~all-pairs too — falling through would just burn the
        # caller's time re-deriving that. Raise the actionable refusal
        # HERE, in seconds. The self-join needs no count: n_r = n_l.
        if self.dense_flop_budget:
            n_r = n_l if self_join else rraw.count()
            if float(n_l) * n_r * nbits > self.dense_flop_budget:
                raise BudgetExceededError(
                    f"{type(self).__name__}: exact matching is infeasible"
                    f" on this corpus shape — vocabulary is only {nbits}"
                    f" distinct shingles across {n_l} x {n_r} rows, so "
                    "both the dense bitset GEMM "
                    f"({float(n_l) * n_r * nbits:.2e} flops > "
                    f"dense_flop_budget={self.dense_flop_budget:.2e}) "
                    "and sparse PPJoin (prefix buckets hold most of the "
                    "corpus) are ~quadratic. Raise dense_flop_budget to "
                    "accept the cost, or use MinHashDeduplicateFilter "
                    "for approximate near-dup removal.")

        # bounded above: n_l rows whose packed bits fit the broadcast
        # budget. Arrow toPandas, not collect: per-Row pickling of
        # array<long> cells costs seconds at the budget bound (guide §6)
        lpdf = lraw.select("_id", "_sh").toPandas()
        lids = np.array(lpdf["_id"].tolist(), dtype=object)
        lsets = [np.asarray(v, dtype=np.int64) for v in lpdf["_sh"]]
        lsz = np.array([len(s) for s in lsets], dtype=np.float64)
        packed = np.zeros((n_l, (nbits + 7) // 8), dtype=np.uint8)
        blk = 8192
        for lo in range(0, n_l, blk):
            chunk = lsets[lo:lo + blk]
            dense = np.zeros((len(chunk), nbits), dtype=bool)
            rix = np.repeat(np.arange(len(chunk)),
                            [len(s) for s in chunk])
            toks = (np.concatenate(chunk) if chunk else
                    np.empty(0, dtype=np.int64))
            dense[rix, np.searchsorted(vocab, toks)] = True
            packed[lo:lo + len(chunk)] = np.packbits(dense, axis=1)
        bc = lraw.sparkSession.sparkContext.broadcast(
            (lids, lsz, packed, nbits, vocab))

        scan = lraw if self_join else rraw
        t, metric = self.threshold, self.metric
        out_schema = ("left_id " + lraw.schema["_id"].dataType.simpleString()
                      + ", right_id "
                      + scan.schema["_id"].dataType.simpleString()
                      + f", {metric} double")

        def compute(batches):
            import pandas as pd

            lids_, lsz_, packed_, nbits_, vocab_ = bc.value
            lblk = max(1, (1 << 23) // max(nbits_, 1))  # ~8M bools/block
            for pdf in batches:
                sets = [np.asarray(s, dtype=np.int64) for s in pdf["_sh"]]
                rsz = np.array([len(s) for s in sets], dtype=np.float64)
                rm = np.zeros((len(pdf), nbits_), dtype=np.float32)
                rix = np.repeat(np.arange(len(sets)),
                                [len(s) for s in sets])
                toks = (np.concatenate(sets) if sets else
                        np.empty(0, dtype=np.int64))
                # right-only shingles land outside the left vocab: keep
                # only exact hits of the searchsorted probe
                pos = np.searchsorted(vocab_, toks).clip(
                    max=max(len(vocab_) - 1, 0))
                hit = vocab_[pos] == toks if len(vocab_) else (
                    np.zeros(len(toks), dtype=bool))
                rm[rix[hit], pos[hit]] = 1.0
                rids = pdf["_id"].to_numpy()
                for lo in range(0, len(lids_), lblk):
                    lm = np.unpackbits(
                        packed_[lo:lo + lblk], axis=1,
                        count=nbits_).astype(np.float32)
                    o = (rm @ lm.T).astype(np.float64)  # rows x lblk
                    if metric == "containment":
                        denom = np.broadcast_to(
                            lsz_[None, lo:lo + lblk], o.shape)
                    else:
                        denom = rsz[:, None] + lsz_[None, lo:lo + lblk] - o
                    with np.errstate(invalid="ignore", divide="ignore"):
                        val = o / denom
                    ri, li = np.nonzero(val >= t)
                    if self_join:
                        # upper triangle: each unordered pair once
                        keep = lids_[lo + li] < rids[ri]
                        ri, li = ri[keep], li[keep]
                    if len(ri):
                        yield pd.DataFrame({
                            "left_id": lids_[lo + li],
                            "right_id": rids[ri],
                            metric: val[ri, li]})

        return (scan.mapInPandas(compute, schema=out_schema)
                .withColumn(metric, F.round(metric, 6)))

    def _sparse_pairs(self, lraw: DataFrame, rraw: DataFrame | None,
                      pins: list[DataFrame]) -> DataFrame:
        """PPJoin prefix/positional blocking + exact verify ->
        (left_id, right_id, metric). Frames persisted for several reads
        are appended to ``pins``; the caller releases them once the
        result has been consumed."""
        t = self.threshold
        self_join = rraw is None
        lex = lraw.select("_id", F.explode("_sh").alias("_p"))
        rex = lex if self_join else rraw.select(
            "_id", F.explode("_sh").alias("_p"))
        # one global frequency order over BOTH sides (rarest first)
        freq = ((lex if self_join else lex.unionByName(rex))
                .groupBy("_p").agg(F.count(F.lit(1)).alias("_df")))

        def prefix(ex: DataFrame, whole: bool) -> DataFrame:
            ranked = (
                ex.join(freq, "_p")
                .groupBy("_id")
                .agg(F.array_sort(F.collect_list(F.struct("_df", "_p")))
                     .alias("_rs"))
                .select("_id",
                        F.transform("_rs", lambda s: s["_p"]).alias("_rsh"))
            )
            # integer-exact prefix length (epsilon-guarded): the naive
            # float floor((1-t)*n)+1 is one short at boundary thresholds
            n = F.size("_rsh")
            out = ranked.select(
                "_id", n.alias("_len"),
                F.posexplode(F.slice(
                    "_rsh", 1, n if whole else H.prefix_length(t, n)))
                .alias("_pos", "_p"))
            if self.max_candidate_pairs:
                # the guard aggregate and the blocking join both read it
                out = out.persist()
                pins.append(out)
            return out

        # the left prefix is the pigeonhole block in both metrics; the
        # right side can only prune by prefix under the symmetric
        # (jaccard) metric
        lpre = prefix(lex, False)
        rpre = lpre if self_join else prefix(
            rex, self.metric == "containment")
        if self.max_candidate_pairs:
            # upper bound on the blocking join: sum over shared prefix
            # elements of (left bucket) x (right bucket), Σc² in the
            # self-join (the positional filter only shrinks it).
            # Heaps-law corpora pass at any scale; degenerate corpora
            # refuse with an actionable error instead of an OOM-bound
            # shuffle
            lc = lpre.groupBy("_p").agg(F.count(F.lit(1)).alias("_cl"))
            both = (lc.withColumn("_cr", F.col("_cl")) if self_join else
                    lc.join(rpre.groupBy("_p")
                            .agg(F.count(F.lit(1)).alias("_cr")), "_p"))
            est = (both.agg(F.sum(F.col("_cl") * F.col("_cr")).alias("_u"))
                   .first()["_u"]) or 0
            if est > self.max_candidate_pairs:
                raise BudgetExceededError(
                    f"{type(self).__name__}: prefix-bucket candidate "
                    f"upper bound {est:.2e} exceeds max_candidate_pairs="
                    f"{self.max_candidate_pairs:.2e} — the corpus is too "
                    "low-entropy for exact PPJoin at this size (most rows "
                    "share frequent shingles, so candidate generation is "
                    "~quadratic). Raise max_candidate_pairs to accept the "
                    "cost, or use MinHashDeduplicateFilter for approximate "
                    "near-dup removal.")
        if self.metric == "jaccard":
            alpha = H.ceil_lower_bound(F.lit(t / (1.0 + t))
                                       * (F.col("a._len") + F.col("b._len")))
            # length filter: Jaccard >= t forces t|A| <= |B| <= |A|/t
            lenf = ((F.col("b._len")
                     >= H.ceil_lower_bound(F.lit(t) * F.col("a._len")))
                    & (F.col("a._len")
                       >= H.ceil_lower_bound(F.lit(t) * F.col("b._len"))))
        else:
            # containment >= t needs overlap >= t|A|, and |B| >= t|A|
            alpha = H.ceil_lower_bound(F.lit(t) * F.col("a._len"))
            lenf = (F.col("b._len")
                    >= H.ceil_lower_bound(F.lit(t) * F.col("a._len")))
        # positional filter (PPJoin): a pair matching at 0-based prefix
        # positions (i, j) can overlap at most min(|A|-i, |B|-j); that
        # must reach the metric's minimum overlap alpha. Drops provably
        # sub-threshold candidates before any set materializes
        bound = F.least(F.col("a._len") - F.col("a._pos"),
                        F.col("b._len") - F.col("b._pos"))
        cond = F.col("a._p") == F.col("b._p")
        if self_join:
            cond = cond & (F.col("a._id") < F.col("b._id"))
        cond = cond & (bound >= alpha) & lenf
        cand = (
            lpre.alias("a").join(rpre.alias("b"), cond)
            .select(F.col("a._id").alias("_lid"),
                    F.col("b._id").alias("_rid"))
            .distinct()
        )
        return self._verify_candidates(cand, lraw,
                                       lraw if self_join else rraw)

    def _verify_candidates(self, cand: DataFrame, lraw: DataFrame,
                           rraw: DataFrame) -> DataFrame:
        """Exact-metric verification of (_lid, _rid) candidate pairs:
        every output row truly meets the threshold."""
        lsets = lraw.select(F.col("_id").alias("_lid"),
                            F.col("_sh").alias("_sa"))
        rsets = rraw.select(F.col("_id").alias("_rid"),
                            F.col("_sh").alias("_sb"))
        return (
            cand.join(lsets, "_lid").join(rsets, "_rid")
            .withColumn("_ov", F.size(F.array_intersect("_sa", "_sb")))
            .withColumn(
                self.metric,
                F.col("_ov").cast("double") / F.size("_sa")
                if self.metric == "containment"
                else F.col("_ov").cast("double")
                / (F.size("_sa") + F.size("_sb") - F.col("_ov")))
            .filter(F.col(self.metric) >= self.threshold)
            .select(F.col("_lid").alias("left_id"),
                    F.col("_rid").alias("right_id"),
                    F.round(self.metric, 6).alias(self.metric)))


@OPERATOR_REGISTRY.register()
class FuzzyJoinOperator(ExactSetJoin, Operator):
    """Pairs (left_id, right_id, jaccard) with set Jaccard >= threshold.

    ``mode='char'`` compares distinct char-``shingle_n``-gram sets
    (robust to word-order edits — near-dup detection across tables);
    ``mode='words'`` compares distinct lowercased word sets (classic
    entity resolution on short strings). ``run(left, right=right)``.

    ``metric='jaccard'`` (default) matches on |A∩B|/|A∪B|;
    ``metric='containment'`` matches on |A∩B|/|A| — "the LEFT set is
    mostly contained in the right" (quote detection, subset/extract
    matching, left-side boilerplate lookup). Containment keeps the
    left-prefix pigeonhole guarantee (any (1-t)|A|+1 elements of A hit
    B when containment >= t) but the right side must index ALL its
    elements, and only |B| >= t|A| is a valid length bound.
    """

    def __init__(self, threshold: float = 0.7, mode: str = "char",
                 shingle_n: int = 5, metric: str = "jaccard",
                 left_key: str = "text", right_key: str = "text",
                 left_id: str = "doc_id", right_id: str = "doc_id",
                 dense_vocab_max: int = 8192,
                 max_candidate_pairs: float = 5e9,
                 dense_flop_budget: float = 2e13):
        if not 0.0 < threshold <= 1.0:
            raise ValueError("threshold must be in (0, 1]")
        if mode not in ("char", "words"):
            raise ValueError("mode must be 'char' or 'words'")
        if metric not in ("jaccard", "containment"):
            raise ValueError("metric must be 'jaccard' or 'containment'")
        self._set_budgets(dense_vocab_max, max_candidate_pairs,
                          dense_flop_budget)
        self.threshold, self.mode, self.shingle_n = threshold, mode, shingle_n
        self.metric = metric
        self.left_key, self.right_key = left_key, right_key
        self.left_id, self.right_id = left_id, right_id
        self.input_keys = (left_key, left_id)
        self.output_keys = ("left_id", "right_id", self.metric)

    def run(self, df: DataFrame, right: DataFrame | None = None,
            **kw: Any) -> DataFrame:
        if right is None:
            raise ValueError("FuzzyJoinOperator needs run(left, right=df)")
        lraw = shingle_sets(df, self.left_id, self.left_key, self.mode,
                            self.shingle_n)
        rraw = shingle_sets(right, self.right_id, self.right_key, self.mode,
                            self.shingle_n)
        # frames persisted for several reads, released before returning:
        # the dense result scans only rraw (lraw travels in the
        # broadcast), and the sparse result is an eager localCheckpoint,
        # so no cached blocks outlive the run
        lraw = lraw.persist()
        pins: list[DataFrame] = [lraw]
        #: last_path: which physical strategy served the last run() —
        #: 'dense' (broadcast bitset matmul) or 'sparse' (PPJoin prefix
        #: filter). Plan-debug surface for tests and operators composing
        #: this one; mirrors what .explain() can't show (the switch
        #: happens before any Spark plan exists).
        try:
            dense = self._try_dense(lraw, rraw)
            if dense is not None:
                self.last_path = "dense"
                return dense
            self.last_path = "sparse"
            return self._sparse_join(lraw, rraw, pins)
        finally:
            for p in pins:
                p.unpersist()

    def _sparse_join(self, lraw: DataFrame, rraw: DataFrame,
                     pins: list[DataFrame]) -> DataFrame:
        """PPJoin on identical-set representatives: degenerate-corpus
        armor — replicated/templated corpora otherwise quadratically
        inflate every prefix bucket. Representative pairs expand back
        through the membership maps at the end (identical-set L/R pairs
        have Jaccard 1 >= t and are found via their shared prefix like
        any other pair)."""
        lmem, lreps = self._collapse_side(lraw, pins)
        rmem, rreps = self._collapse_side(rraw, pins)
        return self._expand_members(self._sparse_pairs(lreps, rreps, pins),
                                    lmem, rmem)

    def _collapse_side(self, raw: DataFrame, pins: list[DataFrame]):
        """(members, representatives) for identical-shingle-set rows:
        members maps _sethash -> every original _id; representatives
        carry one (_id=_sethash, _sh) row per distinct set."""
        hashed = raw.withColumn(
            "_sethash",
            F.md5(F.concat_ws(",", F.transform(
                "_sh", lambda x: x.cast("string")))))
        members = hashed.select("_id", "_sethash").persist()
        pins.append(members)
        reps = (hashed.dropDuplicates(["_sethash"])
                .select(F.col("_sethash").alias("_id"), "_sh").persist())
        pins.append(reps)
        return members, reps

    def _expand_members(self, verified: DataFrame, lmem: DataFrame,
                        rmem: DataFrame) -> DataFrame:
        """Representative pairs -> original-id pairs (metric is
        set-determined, so every member pair inherits it). Eager
        localCheckpoint: materializes the (small) matched-pair result
        NOW, so the caller can release the pinned frames, and truncates
        the join lineage the downstream pipeline would re-optimize."""
        lx = lmem.select(F.col("_sethash").alias("left_id"),
                         F.col("_id").alias("_lorig"))
        rx = rmem.select(F.col("_sethash").alias("right_id"),
                         F.col("_id").alias("_rorig"))
        out = (verified.join(lx, "left_id").join(rx, "right_id")
               .select(F.col("_lorig").alias("left_id"),
                       F.col("_rorig").alias("right_id"), self.metric))
        return out.localCheckpoint(eager=True)
