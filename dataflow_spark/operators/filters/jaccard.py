"""Exact n-gram Jaccard near-dup removal via prefix filtering (PPJoin).

Unlike MinHash/SimHash (probabilistic recall), prefix filtering is an
EXACT set-similarity join: two docs with Jaccard >= t MUST share at
least one element among the first floor((1-t)*|set|)+1 elements of
their (globally consistently sorted) shingle sets — so blocking on
prefix elements has complete recall, and the expensive exact verify
runs only on candidates. This is the published PPJoin/AllPairs design
(Xiao et al., WWW'08), the standard scale path for exact similarity
joins.

Scale: one explode (prefix elements) + one equi-join + verify; skew on
hot shingles handled by AQE skew-join splitting.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import BudgetExceededError
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import hashing as H
from dataflow_spark.functions.pulls import bounded_pull
from dataflow_spark.operators.filters.dedup import _NearDupBase, _keep_first, connected_components


@OPERATOR_REGISTRY.register()
class NgramJaccardDeduplicateFilter(_NearDupBase):
    """Drop docs whose distinct char-n-gram Jaccard similarity with an
    earlier doc is >= threshold; keep-first semantics, exact result.
    """

    def __init__(self, input_key: str = "text", threshold: float = 0.8,
                 shingle_n: int = 5, order_key: str | None = None,
                 dense_vocab_max: int = 8192, dense_broadcast_mb: int = 64,
                 max_candidate_pairs: float = 5e9,
                 dense_flop_budget: float = 2e13,
                 on_budget_exceeded: str = "raise",
                 fallback_num_perm: int = 64):
        super().__init__(input_key, order_key)
        if on_budget_exceeded not in ("raise", "minhash"):
            raise ValueError("on_budget_exceeded must be 'raise' or "
                             "'minhash'")
        self.threshold = threshold
        self.shingle_n = shingle_n
        # dense-path guards (0 disables): see _dense_edges
        self.dense_vocab_max = dense_vocab_max
        self.dense_broadcast_mb = dense_broadcast_mb
        # sparse-path blowup guard (0 disables): refuse predictably when
        # the prefix-bucket candidate UPPER BOUND says the corpus is too
        # low-entropy for exact PPJoin at this size — an actionable
        # error beats the alternative an sf10 sweep measured (a JVM
        # OutOfMemoryError 8 minutes into a ~40e9-pair shuffle)
        self.max_candidate_pairs = max_candidate_pairs
        # dense-path compute guard (0 disables): n^2 * nbits multiply-
        # adds; same in-container calibration as FuzzyJoinOperator
        # (~1e10 units/s/core incl unpackbits + threshold scan): 2e13 is
        # ~1-4 min parallel, admits the sf1 sweep's largest completing
        # shape (5.6e12) with headroom. Byte-feasible is not compute-
        # feasible (a containment GEMV at sf10 showed it).
        self.dense_flop_budget = dense_flop_budget
        # 'raise' (default) or 'minhash': on a budget refusal, fall back
        # to MinHash-LSH candidates + EXACT Jaccard verify (precision
        # exact, recall probabilistic per the banding S-curve)
        self.on_budget_exceeded = on_budget_exceeded
        self.fallback_num_perm = fallback_num_perm

    def _dense_edges(self, with_sh: DataFrame):
        """Exact >=t edges via a broadcast bitset matmul; None -> sparse.

        Same adaptive escape hatch as FuzzyJoinOperator._try_dense: on a
        LOW-ENTROPY corpus every shingle is frequent, PPJoin prefix
        buckets go dense, and candidate generation approaches the
        quadratic floor with huge shuffled intermediates (the bench sf1
        replica: 2.2k distinct 5-grams -> engine timeout at 600s). With
        a small vocabulary the corpus fits a packed docs x vocab bitset
        matrix: broadcast it, and each Arrow batch computes exact
        overlap counts against ALL docs with one BLAS matmul (0/1
        float32; integer counts < 2^24 are exact). Emitting only
        (other_id < row_id) keeps each unordered pair once. Zero
        shuffles; the quadratic floor stays, but with matmul constants
        instead of a 1B-row join.
        """
        if self.dense_vocab_max <= 0:
            return None
        probe = (with_sh.limit(2000)
                 .select(F.explode("_sh").alias("_p"))
                 .agg(F.countDistinct("_p")).first()[0])
        if probe > self.dense_vocab_max:
            return None
        vocab_pdf = bounded_pull(
            with_sh.select(F.explode("_sh").alias("_p")).distinct(),
            self.dense_vocab_max + 1)  # bounded: limit(dense_vocab_max + 1)
        if len(vocab_pdf) > self.dense_vocab_max:
            return None

        import numpy as np

        vocab = np.sort(vocab_pdf["_p"].to_numpy(dtype=np.int64))
        nbits = max(len(vocab), 1)
        stats = with_sh.agg(F.count(F.lit(1)).alias("n"),
                            F.sum(F.size("_sh")).alias("tok")).first()
        n, tok = int(stats["n"] or 0), int(stats["tok"] or 0)
        budget = self.dense_broadcast_mb * 1024 * 1024
        if n == 0 or n * ((nbits + 7) // 8) > budget or tok * 8 > 8 * budget:
            return None
        # FLOP budget: byte-feasible is not compute-feasible. Reaching
        # this point proves the corpus vocabulary is degenerate-small
        # (<= dense_vocab_max), so the sparse PPJoin's prefix buckets
        # are ~all-pairs too — raise the actionable refusal here, in
        # seconds, instead of burning the caller's wall clock on either
        # quadratic path (same contract as FuzzyJoinOperator).
        if self.dense_flop_budget and float(n) * n * nbits > self.dense_flop_budget:
            raise BudgetExceededError(
                "NgramJaccardDeduplicateFilter: exact dedup is "
                f"infeasible on this corpus shape — vocabulary is only "
                f"{nbits} distinct shingles across {n} docs, so both "
                f"the dense bitset GEMM ({float(n) * n * nbits:.2e} "
                f"flops > dense_flop_budget={self.dense_flop_budget:.2e}"
                ") and sparse PPJoin (prefix buckets hold most of the "
                "corpus) are ~quadratic. Pass on_budget_exceeded="
                "'minhash' for the approximate fallback (exact verify, "
                "probabilistic recall), use MinHashDeduplicateFilter, "
                "or raise dense_flop_budget explicitly to accept the "
                "cost.")

        # bounded above: n rows whose packed bits fit dense_broadcast_mb.
        # Arrow toPandas, not collect: per-Row pickling of array<long>
        # cells costs seconds at the budget bound (guide §6)
        pdf = with_sh.select("_nd_id", "_sh").toPandas()
        ids = pdf["_nd_id"].to_numpy(dtype=np.int64)
        sets = [np.asarray(v, dtype=np.int64) for v in pdf["_sh"]]
        sz = np.array([len(s) for s in sets], dtype=np.float64)
        packed = np.zeros((n, (nbits + 7) // 8), dtype=np.uint8)
        blk = 8192
        for lo in range(0, n, blk):
            chunk = sets[lo:lo + blk]
            dense = np.zeros((len(chunk), nbits), dtype=bool)
            rix = np.repeat(np.arange(len(chunk)),
                            [len(s) for s in chunk])
            toks = (np.concatenate(chunk) if chunk else
                    np.empty(0, dtype=np.int64))
            dense[rix, np.searchsorted(vocab, toks)] = True
            packed[lo:lo + len(chunk)] = np.packbits(dense, axis=1)
        spark = with_sh.sparkSession
        bc = spark.sparkContext.broadcast((ids, sz, packed, nbits))
        t = self.threshold

        def compute(batches):
            import pandas as pd

            ids_, sz_, packed_, nbits_ = bc.value
            lblk = max(1, (1 << 23) // max(nbits_, 1))
            for pdf in batches:
                bsets = [np.asarray(s, dtype=np.int64)
                         for s in pdf["_sh"]]
                bsz = np.array([len(s) for s in bsets], dtype=np.float64)
                rm = np.zeros((len(pdf), nbits_), dtype=np.float32)
                rix = np.repeat(np.arange(len(bsets)),
                                [len(s) for s in bsets])
                toks = (np.concatenate(bsets) if bsets else
                        np.empty(0, dtype=np.int64))
                # every shingle is in the corpus vocab by construction
                rm[rix, np.searchsorted(vocab, toks)] = 1.0
                bids = pdf["_nd_id"].to_numpy()
                for lo in range(0, len(ids_), lblk):
                    lm = np.unpackbits(
                        packed_[lo:lo + lblk], axis=1,
                        count=nbits_).astype(np.float32)
                    o = (rm @ lm.T).astype(np.float64)
                    denom = bsz[:, None] + sz_[None, lo:lo + lblk] - o
                    with np.errstate(invalid="ignore", divide="ignore"):
                        val = o / denom
                    bi, li = np.nonzero(
                        (val >= t)
                        & (ids_[None, lo:lo + lblk] < bids[:, None]))
                    if len(bi):
                        yield pd.DataFrame({"src": ids_[lo + li],
                                            "dst": bids[bi]})

        return with_sh.mapInPandas(compute, schema="src long, dst long")

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        df, order_col = self._ordered(df)
        df = df.withColumn("_nd_id", F.col(order_col).cast("long"))
        # distinct shingles hashed to LONGS once: set ops on bigint arrays
        # shuffle ~5x fewer bytes and intersect ~5x faster than 5-char
        # string arrays; a 64-bit collision altering a jaccard at the
        # threshold boundary is ~1e-15 per corpus — exactness in practice.
        shingles = F.array_sort(F.array_distinct(F.transform(
            H.char_shingles(F.col(self.input_key), self.shingle_n),
            lambda s: F.xxhash64(s))))
        # project-then-dedup: only (id, shingle hashes) flows through
        # candidate generation and verify; full rows join back at the end
        with_sh = df.select("_nd_id", self.input_key) \
                    .withColumn("_sh", shingles).select("_nd_id", "_sh").persist()
        pins: list[DataFrame] = [with_sh]
        # connected_components consumes the verified-edge lineage
        # EAGERLY (driver union-find probe, or per-round eager
        # localCheckpoint contraction), so every pinned frame can be
        # released before returning — no cached blocks outlive run()
        try:
            try:
                verified = self._dense_edges(with_sh)
                if verified is None:
                    verified = self._sparse_edges(with_sh, pins)
            except BudgetExceededError:
                if self.on_budget_exceeded != "minhash":
                    raise
                verified = self._minhash_edges(with_sh)
            comp = connected_components(verified)
        finally:
            for p in pins:
                p.unpersist()
        out = (
            df.join(comp.withColumnRenamed("id", "_nd_id"), "_nd_id", "left")
            .withColumn("component", F.coalesce("component", F.col("_nd_id")))
        )
        kept = _keep_first(out, F.col("component"),
                           order_col).drop("component", "_nd_id")
        return self._finish(kept, order_col)

    def _minhash_edges(self, with_sh: DataFrame) -> DataFrame:
        """Opt-in approximate fallback (``on_budget_exceeded='minhash'``):
        MinHash-LSH band buckets generate candidate edges, the EXACT
        Jaccard on the true shingle sets verifies each one. Precision is
        exact (every emitted edge truly meets the threshold); recall is
        probabilistic per the banding S-curve. Buckets expand to STAR
        edges anchored at the bucket-min id (linear in bucket size —
        the same shape MinHashDeduplicateFilter uses), so transitive
        clusters merge through connected components exactly as in the
        exact paths."""
        from pyspark.sql import Window

        bands, rows = H.optimal_bands(min(max(self.threshold, 0.05), 0.95),
                                      self.fallback_num_perm)
        sig_udf = H.minhash_from_hashes_udf(self.fallback_num_perm)
        b = (with_sh.select("_nd_id", sig_udf(F.col("_sh")).alias("_sig"))
             .selectExpr("_nd_id",
                         f"inline({H.band_hashes_sql('_sig', bands, rows)})"))
        # star expansion via a streaming window (never a collect_list of
        # an unbounded bucket): anchor = bucket-min id
        w = Window.partitionBy("band", "h").orderBy("_nd_id")
        cand = (b.withColumn("_anchor", F.first("_nd_id").over(w))
                .filter(F.col("_nd_id") != F.col("_anchor"))
                .select(F.col("_anchor").alias("src"),
                        F.col("_nd_id").alias("dst"))
                .distinct())
        sets = with_sh.select("_nd_id", "_sh")
        t = self.threshold
        return (
            cand.join(sets.withColumnRenamed("_nd_id", "src")
                      .withColumnRenamed("_sh", "_sa"), "src")
            .join(sets.withColumnRenamed("_nd_id", "dst")
                  .withColumnRenamed("_sh", "_sb"), "dst")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("_sa", "_sb")).cast("double")
                / F.size(F.array_union("_sa", "_sb")))
            .filter(F.col("jaccard") >= t)
            .select("src", "dst"))

    def _sparse_edges(self, with_sh: DataFrame,
                      pins: list[DataFrame]) -> DataFrame:
        t = self.threshold
        # prefix filtering: candidates must share an element among the
        # first floor((1-t)*|set|)+1 shingles under a consistent global
        # total order. Using GLOBAL FREQUENCY order (rarest first, the
        # canonical PPJoin ordering) keeps the blocking join's buckets
        # tiny: hot shingles (' the ' etc.) land at the END of every
        # doc's ordering and never become prefix elements. Identical
        # survivors — prefix filtering is exact — only fewer candidates.
        ex = with_sh.select("_nd_id", F.explode("_sh").alias("_p"))
        freq = ex.groupBy("_p").agg(F.count(F.lit(1)).alias("_df"))
        ranked = (
            ex.join(freq, "_p")
            .groupBy("_nd_id")
            .agg(F.array_sort(F.collect_list(F.struct("_df", "_p"))).alias("_rs"))
            .select("_nd_id", F.transform("_rs", lambda s: s["_p"]).alias("_rsh"))
        )
        # integer-exact prefix length (epsilon-guarded ceil): the naive
        # float floor((1-t)*n)+1 is one element short at boundary
        # thresholds (t=0.8 with n%5==0), breaking exact recall
        prefix_len = H.prefix_length(t, F.size("_rsh"))
        prefix = ranked.select(
            F.col("_nd_id"), F.size("_rsh").alias("_len"),
            F.posexplode(F.slice("_rsh", 1, prefix_len)).alias("_pos", "_p"))
        if self.max_candidate_pairs:
            # persist: the guard aggregate and the blocking join both
            # consume the prefix frame — one materialization, two reads;
            # released by run()'s finally once components are computed
            prefix = prefix.persist()
            pins.append(prefix)
            # sum of bucket-size^2 upper-bounds the blocking join's
            # output (the positional filter only shrinks it). On a
            # Heaps-law corpus prefix buckets are tiny and this passes
            # at any scale; on a degenerate corpus it grows ~n^2 and the
            # exact algorithm is refused with a pointer to MinHash.
            est = (prefix.groupBy("_p").agg(F.count(F.lit(1)).alias("_c"))
                   .agg(F.sum(F.col("_c") * F.col("_c")).alias("_u"))
                   .first()["_u"]) or 0
            if est > self.max_candidate_pairs:
                raise BudgetExceededError(
                    "NgramJaccardDeduplicateFilter: prefix-bucket "
                    f"candidate upper bound {est:.2e} exceeds "
                    f"max_candidate_pairs={self.max_candidate_pairs:.2e}"
                    " — the corpus is too low-entropy for exact PPJoin "
                    "at this size (most documents share frequent "
                    "shingles, so candidate generation is ~quadratic). "
                    "Pass on_budget_exceeded='minhash' for the "
                    "approximate fallback (exact verify, probabilistic "
                    "recall), use MinHashDeduplicateFilter, or raise "
                    "max_candidate_pairs / dense_broadcast_mb "
                    "explicitly to accept the cost.")
        # positional filter (PPJoin, Xiao et al. WWW'08): a pair matching
        # at 0-based prefix positions (i, j) can overlap at most
        # min(|A|-i, |B|-j); require that to reach the t-implied minimum
        # overlap ceil(t/(1+t) * (|A|+|B|)). Drops provably-sub-threshold
        # candidates before any set materializes — the big lever on
        # templated corpora where many docs share rare shingles.
        alpha = H.ceil_lower_bound(F.lit(t / (1.0 + t))
                                   * (F.col("a._len") + F.col("b._len")))
        bound = F.least(F.col("a._len") - F.col("a._pos"),
                        F.col("b._len") - F.col("b._pos"))
        cand = (
            prefix.alias("a")
            .join(prefix.alias("b"),
                  (F.col("a._p") == F.col("b._p"))
                  & (F.col("a._nd_id") < F.col("b._nd_id"))
                  & (bound >= alpha))
            .select(F.col("a._nd_id").alias("src"), F.col("b._nd_id").alias("dst"))
            .distinct()
        )
        sets = with_sh.select("_nd_id", "_sh")
        verified = (
            cand.join(sets.withColumnRenamed("_nd_id", "src").withColumnRenamed("_sh", "_sa"), "src")
            .join(sets.withColumnRenamed("_nd_id", "dst").withColumnRenamed("_sh", "_sb"), "dst")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("_sa", "_sb")).cast("double")
                / F.size(F.array_union("_sa", "_sb")),
            )
            .filter(F.col("jaccard") >= t)
            .select("src", "dst")
        )
        return verified
