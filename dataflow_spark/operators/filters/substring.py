"""Exact cross-document substring duplicate detection — the
suffix-array dedup of Lee et al., "Deduplicating Training Data Makes
Language Models Better" (ACL 2022), re-expressed for Spark.

Engine-original (no reference counterpart; the reference's dedup family
stops at whole-document hashing and MinHash, SURVEY.md §2.4). Large
pretraining pipelines additionally remove *substring* duplicates — an
exact passage (boilerplate, license header, quoted article) shared by
otherwise-distinct documents. The published implementation builds one
suffix array over the concatenated corpus: inherently single-machine
(the 100 TB corpus would need the array in one address space).

Spark-first equivalent — winnowing (Schleimer, Wilkerson, Aiken,
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
2003) + exact verification:

  1. Per document, hash every ``k``-gram and select the minimum hash of
     every window of ``w = min_length - k + 1`` consecutive grams
     (ties to the leftmost position). **Guarantee** (the winnowing
     correctness theorem): any substring of length >= ``w + k - 1 =
     min_length`` shared by two documents contains one full window of
     identical grams, whose minimum is selected in BOTH documents — so
     every true duplicate pair shares at least one selected
     fingerprint. Fingerprinting is pure Column expressions, zero
     shuffles, zero Python.
  2. Fingerprints group by hash (the ONE shuffle); each bucket expands
     to candidate anchor pairs (all cross-document pairs — the exact
     contract needs every pair individually verified, unlike the
     near-dup family's star edges whose connectivity argument does not
     survive a per-pair verify).
  3. Candidates verify byte-exactly: join the two texts back by id and
     extend the anchor gram left/right with a JVM ``zip_with``
     longest-common-prefix — no hash is trusted (a colliding anchor
     fails the gram-equality guard). False positives: zero by
     construction. False negatives: zero by the winnowing guarantee.

Scale design (100 TB):
  - fingerprint density is ~2/(w+2) of characters (L=40, k=25 -> ~11%),
    each 16 bytes — the corpus never ships, only fingerprints do, and
    ``k``/``min_length`` tune the density/selectivity trade.
  - the quadratic risk lives in hot fingerprints (a k-gram selected in
    millions of documents). ``max_candidate_pairs`` pre-counts the
    implied candidate set from bucket sizes (one single-row aggregate
    over the bucket frame) and refuses with an actionable
    BudgetExceededError BEFORE any expansion, the fuzzy_join contract
    (``ExactSetJoin``'s guards). A genuinely boilerplate-heavy corpus has a
    quadratic *answer*, not just a quadratic algorithm — the refusal
    message says to raise the budget or lengthen the gram.
  - verification joins texts only for documents that appear in a
    candidate pair — at production dup rates that is a small fraction
    of the corpus, shuffled by id.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import (
    BudgetExceededError, Operator, ROW_ID, with_row_id,
)
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.operators.filters.dedup import _BaseDedup, _NearDupBase


def _lcp(a: Column, b: Column) -> Column:
    """Exact longest-common-prefix length of two strings, JVM-side.

    ``zip_with`` pads the shorter char array with nulls; ``char = null``
    is null (not false), so ``array_position(.., false)`` only sees real
    mismatches — and the final ``least`` against the true string lengths
    makes the result exact regardless of how ``split('')`` represents
    empty strings or trailing elements.
    """
    z = F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: x == y)
    p = F.array_position(z, F.lit(False))
    raw = F.when(p == 0, F.greatest(F.length(a), F.length(b))).otherwise(p - 1)
    return F.least(raw, F.length(a), F.length(b))


@OPERATOR_REGISTRY.register()
class SubstringDuplicatePairs(Operator):
    """Emit every pair of documents sharing an exact substring of at
    least ``min_length`` characters: ``(doc_a, doc_b, match_len)`` with
    ``doc_a < doc_b`` and ``match_len`` the longest such shared run
    found through a co-selected anchor.

    ``match_len`` is exact for every reported pair (maximal extension
    around a verified anchor); the *pair set* is exactly the true pair
    set (winnowing guarantee + byte verify — see module docstring).
    """

    def __init__(self, input_key: str = "text", id_key: str = "doc_id",
                 min_length: int = 40, gram_size: int | None = None,
                 max_candidate_pairs: float = 5e9):
        if min_length < 2:
            raise ValueError("min_length must be >= 2")
        if gram_size is None:
            # density ~2/(w+2) vs selectivity: keep the window ~16 grams
            # so fingerprints are ~11% of characters, with the gram as
            # long as min_length allows (longer grams -> rarer buckets)
            gram_size = max(min_length - 15, min_length // 2 + 1)
        if not 1 <= gram_size <= min_length:
            raise ValueError("gram_size must be in [1, min_length]")
        self.input_key, self.id_key = input_key, id_key
        self.min_length, self.gram_size = min_length, gram_size
        self.window = min_length - gram_size + 1
        #: 0 disables the refusal guard
        self.max_candidate_pairs = max_candidate_pairs
        self.input_keys = (input_key, id_key)
        self.output_keys = ("doc_a", "doc_b", "match_len")

    # -- stage 1: winnowing fingerprints ---------------------------------
    def _fingerprints(self, df: DataFrame) -> DataFrame:
        """DataFrame[id, _h, _pos] — selected (gram hash, 1-based char
        position) per document. Shuffle-free.

        The gram array materializes as a real column first: ``_sub_grams``
        is referenced twice below (size + slice), which is exactly what
        keeps CollapseProject from inlining the transform into the
        window lambda — inlined, every window would re-hash the whole
        document (measured 30x slower).
        """
        txt = F.col(self.input_key)
        k, w = self.gram_size, self.window
        grams = F.transform(
            F.sequence(F.lit(1), F.length(txt) - (k - 1)),
            lambda i: F.struct(
                F.xxhash64(txt.substr(i, F.lit(k))).alias("h"),
                i.cast("int").alias("pos")),
        )
        g = F.col("_sub_grams")
        # min of each w-window of grams; struct compare = (hash, pos),
        # so hash ties break to the leftmost position — deterministic on
        # window CONTENT, which is what the guarantee needs (inside a
        # shared region both documents see the same gram sequence, so
        # both select the same gram).
        fps = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(g) - (w - 1)),
            lambda j: F.array_min(F.slice(g, j, w)),
        ))
        return (
            df.filter(F.length(txt) >= self.min_length)
            .withColumn("_sub_grams", grams)
            .select(F.col(self.id_key).alias("_id"),
                    F.explode(fps).alias("_f"))
            .select("_id", F.col("_f.h").alias("_h"),
                    F.col("_f.pos").alias("_pos"))
        )

    # -- stage 2: bucket -> candidate anchors, budget-guarded ------------
    def _candidates(self, fp: DataFrame) -> DataFrame:
        """DataFrame[doc_a, doc_b, anchors: array<struct<pa, pb>>]."""
        buckets = (
            fp.groupBy("_h")
            .agg(F.sort_array(F.collect_list(F.struct(
                F.col("_id"), F.col("_pos")))).alias("xs"))
            .filter(F.size("xs") > 1)
        )
        if self.max_candidate_pairs:
            # guard action BEFORE any expansion, the fuzzy_join contract
            # (ExactSetJoin's guards). The result stays lazy, so no pin
            # can bridge this action and the caller's materialization —
            # the guard costs one extra pass over the bucket aggregate,
            # exactly like fuzzy_join's pre-counts.
            sz = F.size("xs").cast("double")
            # single-row global aggregate (never unbounded)
            stats = buckets.agg(
                F.sum(sz * (sz - 1) / 2).alias("pairs"),
                F.max(F.size("xs")).alias("biggest")).first()
            implied = stats["pairs"] or 0.0
            if implied > self.max_candidate_pairs:
                raise BudgetExceededError(
                    "SubstringDuplicatePairs: the fingerprint "
                    f"buckets imply ~{implied:.2e} candidate anchor "
                    "pairs (> max_candidate_pairs="
                    f"{self.max_candidate_pairs:.2e}; largest bucket "
                    f"{stats['biggest']} documents). The corpus "
                    f"shares {self.gram_size}-grams pervasively, so "
                    "the exact pair set is itself ~quadratic. Raise "
                    "max_candidate_pairs to accept the cost, raise "
                    "gram_size/min_length for rarer anchors, or use "
                    "SubstringDeduplicateFilter on a pre-deduped "
                    "corpus (exact-hash first collapses identical "
                    "texts).")
        xs = F.col("xs")
        pair_structs = F.flatten(F.transform(
            xs,
            lambda x, i: F.transform(
                F.filter(F.slice(xs, i + 2, F.size(xs)),
                         lambda y: y["_id"] != x["_id"]),
                lambda y: F.struct(
                    x["_id"].alias("doc_a"), y["_id"].alias("doc_b"),
                    x["_pos"].alias("pa"), y["_pos"].alias("pb")),
            ),
        ))
        # no distinct needed before the pair groupBy: a gram at
        # (doc, pos) has one hash, so it lives in exactly one bucket,
        # and the i<j expansion emits each (a-entry, b-entry) combination
        # once — (doc_a, doc_b, pa, pb) rows are already unique
        return (
            buckets.select(F.explode(pair_structs).alias("_p"))
            .select("_p.doc_a", "_p.doc_b", "_p.pa", "_p.pb")
            .groupBy("doc_a", "doc_b")
            .agg(F.collect_list(F.struct("pa", "pb")).alias("anchors"))
        )

    # -- stage 3: exact verification --------------------------------------
    #
    # Redundant-anchor elision (the sf10 find): a duplicated-passage
    # pair co-selects ~2*len/w anchors that all certify the SAME run,
    # and extending around each one re-scans the texts ~25x. Exact
    # reduction: anchors are folded in (offset, pa) order, where
    # offset = pa - pb is the alignment; maximal runs at one alignment
    # are DISJOINT intervals, so an anchor with pa inside the last
    # computed run at its offset is either in that run (same maximal
    # extension — redundant) or a hash-colliding gram crossing the
    # run's boundary (byte check would fail — contributes nothing).
    # Skipping both keeps the result exact while doing ~one extension
    # per (pair, run) instead of per anchor. CaseWhen evaluates the
    # expensive branch lazily, so skipped anchors cost two compares.

    def _sorted_anchors(self) -> Column:
        return F.array_sort(F.transform(
            F.col("anchors"),
            lambda a: F.struct(
                (a["pa"].cast("long") - a["pb"]).alias("off"),
                a["pa"].cast("long").alias("pa"),
                a["pb"].cast("long").alias("pb"))))

    def _extension(self, a, ta: Column, tb: Column):
        """(gram_ok, left, right) around anchor ``a`` — evaluated only
        on non-skipped anchors."""
        k = self.gram_size
        pa, pb = a["pa"], a["pb"]
        gram_ok = (ta.substr(pa.cast("int"), F.lit(k))
                   == tb.substr(pb.cast("int"), F.lit(k)))
        right = _lcp(F.substring(ta, (pa + k).cast("int"), F.length(ta)),
                     F.substring(tb, (pb + k).cast("int"), F.length(tb)))
        left = _lcp(F.reverse(F.substring(ta, 1, (pa - 1).cast("int"))),
                    F.reverse(F.substring(tb, 1, (pb - 1).cast("int"))))
        return gram_ok, left, right

    def _verify(self, cand: DataFrame, docs: DataFrame) -> DataFrame:
        k = self.gram_size
        texts_a = docs.select(F.col(self.id_key).alias("doc_a"),
                              F.col(self.input_key).alias("_ta"))
        texts_b = docs.select(F.col(self.id_key).alias("doc_b"),
                              F.col(self.input_key).alias("_tb"))
        both = cand.join(texts_a, "doc_a").join(texts_b, "doc_b")
        ta, tb = F.col("_ta"), F.col("_tb")
        far = F.lit(-(2 ** 62)).cast("long")
        init = F.struct(far.alias("off"), far.alias("end"),
                        F.lit(0).cast("long").alias("best"))

        def step(acc, a):
            skip = (a["off"] == acc["off"]) & (a["pa"] < acc["end"])
            gram_ok, left, right = self._extension(a, ta, tb)
            computed = F.struct(
                a["off"].alias("off"),
                F.when(gram_ok, a["pa"] + k + right)
                 .otherwise(a["pa"]).alias("end"),
                F.greatest(
                    acc["best"],
                    F.when(gram_ok, left + F.lit(k) + right)
                     .otherwise(F.lit(0).cast("long"))).alias("best"))
            return F.when(skip, acc).otherwise(computed)

        best = F.aggregate(self._sorted_anchors(), init, step,
                           lambda acc: acc["best"])
        return (
            both.select("doc_a", "doc_b", best.alias("match_len"))
            .filter(F.col("match_len") >= self.min_length)
        )

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        fp = self._fingerprints(df)
        cand = self._candidates(fp)
        return self._verify(cand, df)


@OPERATOR_REGISTRY.register()
class IncrementalSubstringDedupFilter(_BaseDedup):
    """Dedup a NEW batch against an EXISTING corpus by shared exact
    substrings, then within itself: ``run(new_df, existing=corpus_df)``
    — the substring-family member of the incremental pattern
    (IncrementalHashDedupFilter / IncrementalMinHashDedupFilter).

    Semantics: the standard keep-first-per-component contract over the
    UNION corpus with every existing document ordered before every new
    one, restricted to the new batch — so a new document is dropped iff
    its component contains any existing document or an earlier new
    document (transitive chains through either side count, which is
    what makes re-running the filter on a growing corpus equivalent to
    one big batch run). Existing rows are never returned.

    The existing-before-new ordering is encoded by offsetting new-batch
    order ids by 2^62 (order keys must fit in 62 bits — doc ids and
    engine row ids do). The daily-increment scale story matches the
    hash variant: the existing side contributes its winnowing
    fingerprint index (in production written once, bucketed by gram
    hash) plus texts for the anchor verification of candidate pairs
    only.
    """

    _NEW_OFFSET = 1 << 62

    def __init__(self, input_key: str = "text", min_length: int = 40,
                 gram_size: int | None = None, order_key: str | None = None,
                 max_candidate_pairs: float = 5e9):
        super().__init__(input_key, order_key)
        self._filter = SubstringDeduplicateFilter(
            input_key=input_key, min_length=min_length,
            gram_size=gram_size, order_key="_inc_oid",
            max_candidate_pairs=max_candidate_pairs)

    def run(self, df: DataFrame, existing: DataFrame | None = None,
            **kwargs: Any) -> DataFrame:
        if existing is None:
            raise ValueError("IncrementalSubstringDedupFilter needs "
                             "existing= (the already-kept corpus)")
        df, order_col = self._ordered(df)
        # existing only needs (text, an order id); never returned
        exi = with_row_id(existing)
        ex_oid = (F.col(self.order_key).cast("long")
                  if self.order_key and self.order_key in existing.columns
                  else F.col(ROW_ID))
        union = (
            exi.select(F.lit(False).alias("_inc_new"),
                       ex_oid.alias("_inc_oid"),
                       F.col(self.input_key).alias(self.input_key))
            .unionByName(
                df.select(
                    F.lit(True).alias("_inc_new"),
                    (F.col(order_col).cast("long")
                     + F.lit(self._NEW_OFFSET)).alias("_inc_oid"),
                    F.col(self.input_key).alias(self.input_key)))
        )
        kept = self._filter.run(union)
        kept_new = (kept.filter(F.col("_inc_new"))
                    .select((F.col("_inc_oid")
                             - F.lit(self._NEW_OFFSET)).alias("_inc_k")))
        out = df.join(
            kept_new,
            F.col(order_col).cast("long") == F.col("_inc_k"),
            "left_semi")
        return self._finish(out, order_col)


@OPERATOR_REGISTRY.register()
class SubstringDuplicateCutRefiner(Operator):
    """Cut duplicated spans instead of dropping documents — the actual
    remediation of Lee et al. 2022 (their ExactSubstr tool), with
    keep-first semantics: every character of a document covered by a
    substring of >= ``min_length`` chars shared with any smaller-``id_key``
    document's ORIGINAL text is removed; the earliest document keeps its
    copy intact. Same rows out, ``input_key`` rewritten in place (the
    refiner archetype — implemented directly on Operator because the
    rewrite needs joins, not one column expression).

    Exactness: the removable set equals "positions inside some maximal
    shared run of >= min_length chars with an earlier document", which
    equals "positions inside some shared min_length-gram window" (a run
    of length m >= L contains an L-window around each of its positions,
    and a shared L-gram IS a shared run) — the latter is the brute
    SQL-oracle form. The engine recovers each maximal run by extending
    around a co-selected winnowing anchor (every run >= L contains one,
    per the guarantee), merges the run intervals per document, and
    rebuilds the text with one JVM ``aggregate`` fold. Within-document
    self-repetition is never cut (pairs exclude same-id); duplication is
    judged against original texts, not iteratively re-cut ones.
    """

    def __init__(self, input_key: str = "text", id_key: str = "doc_id",
                 min_length: int = 40, gram_size: int | None = None,
                 max_candidate_pairs: float = 5e9):
        self._pairs = SubstringDuplicatePairs(
            input_key=input_key, id_key=id_key, min_length=min_length,
            gram_size=gram_size, max_candidate_pairs=max_candidate_pairs)
        self.input_key, self.id_key = input_key, id_key
        self.min_length = min_length
        self.input_keys = (input_key, id_key)
        self.output_keys = (input_key,)

    def _runs(self, cand: DataFrame, docs: DataFrame) -> DataFrame:
        """Maximal shared-run intervals on the LATER document of each
        pair: DataFrame[_cid, s, e] with 1-based [s, e) spans >= L.

        Same redundant-anchor elision fold as
        SubstringDuplicatePairs._verify — anchors inside an
        already-computed run at their alignment offset emit nothing
        (their run interval is already in the accumulator).
        """
        p = self._pairs
        k = p.gram_size
        texts_a = docs.select(F.col(self.id_key).alias("doc_a"),
                              F.col(self.input_key).alias("_ta"))
        texts_b = docs.select(F.col(self.id_key).alias("doc_b"),
                              F.col(self.input_key).alias("_tb"))
        both = cand.join(texts_a, "doc_a").join(texts_b, "doc_b")
        ta, tb = F.col("_ta"), F.col("_tb")
        far = F.lit(-(2 ** 62)).cast("long")
        empty_ivs = F.array().cast("array<struct<s:long,e:long>>")
        init = F.struct(far.alias("off"), far.alias("end"),
                        empty_ivs.alias("ivs"))

        def step(acc, a):
            skip = (a["off"] == acc["off"]) & (a["pa"] < acc["end"])
            gram_ok, left, right = p._extension(a, ta, tb)
            ln = left + F.lit(k) + right
            s_b = a["pb"] - left
            keep = gram_ok & (ln >= self.min_length)
            computed = F.struct(
                a["off"].alias("off"),
                F.when(gram_ok, a["pa"] + k + right)
                 .otherwise(a["pa"]).alias("end"),
                F.when(keep, F.array_append(
                    acc["ivs"], F.struct(s_b.alias("s"),
                                         (s_b + ln).alias("e"))))
                 .otherwise(acc["ivs"]).alias("ivs"))
            return F.when(skip, acc).otherwise(computed)

        folded = F.aggregate(p._sorted_anchors(), init, step,
                             lambda acc: acc["ivs"])
        return (
            both.select(F.col("doc_b").alias("_cid"),
                        F.explode(folded).alias("_iv"))
            .select("_cid", F.col("_iv.s").alias("s"),
                    F.col("_iv.e").alias("e"))
        )

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        p = self._pairs
        cand = p._candidates(p._fingerprints(df))
        merged = (
            self._runs(cand, df)
            .groupBy("_cid")
            .agg(F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_ivs"))
        )
        out = df.join(merged.withColumnRenamed("_cid", self.id_key),
                      self.id_key, "left")
        txt = F.col(self.input_key)
        ivs = F.col("_ivs")
        one = F.lit(1).cast("long")
        # single fold merges overlapping intervals AND rebuilds the
        # text: emit [cursor, s) for each interval, advance the cursor
        # monotonically (greatest), then flush the tail
        folded = F.aggregate(
            ivs,
            F.struct(F.lit("").alias("o"), one.alias("c")),
            lambda acc, iv: F.struct(
                F.when(iv["s"] > acc["c"],
                       F.concat(acc["o"], txt.substr(
                           acc["c"].cast("int"),
                           (iv["s"] - acc["c"]).cast("int"))))
                 .otherwise(acc["o"]).alias("o"),
                F.greatest(acc["c"], iv["e"]).alias("c")),
            lambda acc: F.concat(acc["o"], txt.substr(
                acc["c"].cast("int"),
                F.greatest(F.lit(0),
                           F.length(txt) - acc["c"] + 1).cast("int"))),
        )
        return (
            out.withColumn(self.input_key,
                           F.when(ivs.isNull(), txt).otherwise(folded))
            .drop("_ivs")
        )


@OPERATOR_REGISTRY.register()
class SubstringDeduplicateFilter(_NearDupBase):
    """Drop documents connected (transitively) to an earlier document by
    a shared exact substring of >= ``min_length`` characters; keep the
    minimum-``order_key`` document of every component.

    A near-dup family member (_NearDupBase): its edges are the pairs of
    :class:`SubstringDuplicatePairs` — every edge a byte-exact verified
    duplicate passage, not a signature estimate.
    """

    def __init__(self, input_key: str = "text", min_length: int = 40,
                 gram_size: int | None = None, order_key: str | None = None,
                 max_candidate_pairs: float = 5e9):
        super().__init__(input_key, order_key)
        self._pairs = SubstringDuplicatePairs(
            input_key=input_key, id_key="_nd_id", min_length=min_length,
            gram_size=gram_size, max_candidate_pairs=max_candidate_pairs)

    def _edges(self, keyed: DataFrame, pins: list[DataFrame]) -> DataFrame:
        return self._pairs.run(keyed).select("doc_a", "doc_b")
