"""Corpus-wide segment (line/paragraph) deduplication — CCNet/C4 style.

C4 removed any three-sentence span occurring more than once in the
dataset; CCNet dedups paragraphs corpus-wide keeping one occurrence.
This operator does the Spark-native version: segment every document
(newline/delimiter split, or fixed word windows for unstructured text),
count segment occurrences across the WHOLE corpus, drop duplicated
segments (all of them, or all but the first), and reassemble documents
in original segment order.

Scale design (100 TB):
  - Segments explode once (linear in corpus size); occurrence counting
    is one shuffle on the segment hash.
  - Only DUPLICATED segment hashes ship back: the count aggregate is
    filtered to ``n >= min_dup`` before the join, so the join's build
    side holds the duplicated tail, not the corpus — AQE broadcasts it
    when (as is typical) duplication is sparse.
  - Reassembly is one shuffle on the doc id; all expressions are
    JVM-side Column ops, no Python boundary.
  - ``hash_impl='md5'`` gives the engine-independent oracle contract,
    ``'fast'`` (xxhash64) the production path.
"""

from __future__ import annotations

import re as _re
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions.pulls import bounded_pull
from dataflow_spark.functions.text import py_word_segments


# duplicated-tail collect budget for the broadcast-rebuild path:
# entries and approximate key bytes; past either bound the original
# join + reassembly-shuffle plan runs unchanged
_DUP_COLLECT_CAP = 1 << 21
_DUP_BYTES_BUDGET = 64 << 20


def _rebuild_udf(keep_first: bool, joiner: str, bc):
    """String pandas UDF: reassemble a document from its segments,
    dropping duplicated occurrences per the broadcast decision map.

    ``bc.value`` is ``{key: (order, pos)}`` for keep='first' (the
    corpus-wide minimum occurrence wins — identical to the join form's
    ``min(struct(order, pos))`` keeper) or a ``frozenset`` of keys for
    keep='none'. Segments arrive in document order, so the rebuild is
    the same pos-ascending ``array_join`` the reassembly shuffle
    produced — but as one narrow pass, no explode / join / groupBy."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def rebuild(batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series]]
                ) -> Iterator[pd.Series]:
        dmap = bc.value

        if keep_first:
            def one(order, keys, segs):
                out = []
                for p, (k, s) in enumerate(zip(keys, segs)):
                    kp = dmap.get(k)
                    # order is None mirrors the join form's SQL struct
                    # equality: (NULL, p) == keeper is NULL -> dropped
                    # (Python (None, p) == (None, p) would keep it).
                    if kp is None or (order is not None
                                      and kp == (order, p)):
                        out.append(s)
                return joiner.join(out)
        else:
            def one(order, keys, segs):
                return joiner.join(
                    s for k, s in zip(keys, segs) if k not in dmap)

        for order_s, keys_s, segs_s in batches:
            yield pd.Series([one(o, k, s) for o, k, s
                             in zip(order_s, keys_s, segs_s)])

    return rebuild


def word_windows_udf(k: int):
    """Vectorized ``py_word_segments``: Arrow-batched pandas_udf — the
    Column HOF form (sequence + slice + concat_ws per window) is
    CodegenFallback-interpreted, measured ~8x slower at sf0.1."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def windows(s: pd.Series) -> pd.Series:
        return s.map(lambda t: py_word_segments(t, k))

    return windows


@OPERATOR_REGISTRY.register()
class CorpusSegmentDedup(Operator):
    """Remove segments duplicated across the corpus and reassemble docs.

    ``mode='lines'`` splits on ``delimiter`` (default newline; empty
    segments are normalized away); ``mode='words'`` uses non-overlapping
    ``segment_words``-word windows — for corpora without line structure.
    ``keep='first'`` keeps the earliest occurrence by (doc order,
    position) — CCNet semantics; ``keep='none'`` drops every occurrence
    — C4 semantics. A segment is duplicated when it occurs at least
    ``min_dup`` times corpus-wide.

    Contract: ``id_key`` values must be unique per row (document ids).
    With duplicate ids the reassembly join is ill-defined (the fallback
    merges segments across rows sharing an id; the broadcast path
    rebuilds rows independently). Null ``order_key`` occurrences are
    never the keeper (SQL struct-equality-with-null semantics on both
    paths).
    """

    def __init__(self, input_key: str = "text", id_key: str = "doc_id",
                 mode: str = "lines", delimiter: str = "\n",
                 segment_words: int = 10, keep: str = "first",
                 min_dup: int = 2, hash_impl: str = "fast",
                 order_key: str | None = None):
        if mode not in ("lines", "words"):
            raise ValueError("mode must be 'lines' or 'words'")
        if keep not in ("first", "none"):
            raise ValueError("keep must be 'first' or 'none'")
        if min_dup < 2:
            raise ValueError("min_dup must be >= 2")
        self.input_key, self.id_key, self.mode = input_key, id_key, mode
        self.delimiter, self.segment_words = delimiter, segment_words
        self.keep, self.min_dup, self.hash_impl = keep, min_dup, hash_impl
        self.order_key = order_key or id_key
        self.input_keys = (input_key, id_key)
        self.output_keys = (input_key,)

    def _segments(self, col: Column) -> Column:
        col = F.coalesce(col, F.lit(""))  # null text -> no segments -> ""
        if self.mode == "words":
            return word_windows_udf(self.segment_words)(col)
        parts = F.split(col, _re.escape(self.delimiter))
        return F.filter(parts, lambda s: F.trim(s) != "")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        id_c, order_c = self.id_key, self.order_key
        joiner = " " if self.mode == "words" else self.delimiter
        # 'fast': narrow xxhash64 occurrence key; 'md5'/'raw': group on
        # the raw segment (the engine-neutral oracle contract — hashing
        # first is set-equivalent and only adds compute)
        h = (F.xxhash64(F.col("_seg")) if self.hash_impl == "fast"
             else F.col("_seg"))

        base = df.withColumn("_segs", self._segments(F.col(self.input_key)))
        key_cols = [id_c] if order_c == id_c else [id_c, order_c]
        segs = (
            base.select(*key_cols, F.posexplode("_segs")
                        .alias("_pos", "_seg"))
            .withColumn("_h", h)
        )
        occ = F.struct(F.col(order_c).alias("o"), F.col("_pos").alias("p"))
        dups = (
            segs.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_n"), F.min(occ).alias("_keeper"))
            .filter(F.col("_n") >= self.min_dup)
            .select("_h", "_keeper")
        )

        # broadcast-rebuild path (guide §8 "decide with small rows"):
        # the duplicated tail is typically tiny next to the corpus, so
        # collect it under a budget and reassemble every doc in ONE
        # narrow pandas-UDF pass — the occurrence-count shuffle is the
        # only Exchange left; the per-segment join, keep-filter, and
        # reassembly groupBy(doc) shuffle disappear. Results are
        # identical: same keys, same min-occurrence keeper, same
        # pos-ascending join order.
        dpd = bounded_pull(
            dups.select("_h", F.col("_keeper.o").alias("_o"),
                        F.col("_keeper.p").alias("_p")),
            _DUP_COLLECT_CAP + 1)
        if len(dpd) <= _DUP_COLLECT_CAP and (
                self.hash_impl == "fast"
                or int(dpd["_h"].map(len).sum()) <= _DUP_BYTES_BUDGET):
            if self.keep == "first":
                dec = dict(zip(dpd["_h"].tolist(),
                               zip(dpd["_o"].tolist(), dpd["_p"].tolist())))
            else:
                dec = frozenset(dpd["_h"].tolist())
            bc = df.sparkSession.sparkContext.broadcast(dec)
            keys = (F.transform(F.col("_segs"), lambda s: F.xxhash64(s))
                    if self.hash_impl == "fast" else F.col("_segs"))
            new_text = _rebuild_udf(self.keep == "first", joiner, bc)(
                F.col(order_c), keys, F.col("_segs"))
            cols = [id_c] + [c for c in df.columns if c != id_c]
            return (base.withColumn(
                self.input_key,
                F.when(F.col(id_c).isNull(), F.lit(""))
                .otherwise(new_text)).select(*cols))

        joined = segs.join(dups, "_h", "left")
        keep_cond = F.col("_keeper").isNull()
        if self.keep == "first":
            keep_cond = keep_cond | (occ == F.col("_keeper"))
        rebuilt = (
            joined.filter(keep_cond)
            .groupBy(id_c)
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_seg"))),
                    lambda s: s.getField("_seg")),
                joiner).alias("_new_text"))
        )
        return (
            base.drop("_segs")
            .join(rebuilt, id_c, "left")
            .withColumn(self.input_key,
                        F.coalesce(F.col("_new_text"), F.lit("")))
            .drop("_new_text")
        )
