"""Benchmark decontamination: word n-gram overlap against an eval set.

The standard guard for training corpora: any document sharing enough
word n-grams with a benchmark/eval set is dropped before training (the
exact-match n-gram rule used for GPT-3/Llama-style training sets). The
reference has no decontamination operator — this is part of the
training-data-pipeline surface the engine adds as first-class.

Scale design (100 TB corpus vs MB-scale benchmark):
  - Default path: the benchmark's distinct gram set is collected
    under a byte budget, broadcast as a python frozenset, and the
    corpus side becomes ONE narrow pandas-UDF pass — an early-exit
    membership test for the filter, a (matched, total) count pair for
    the scorer. Zero shuffles, no gram arrays cross the python
    boundary; membership on the raw gram string is exactly the
    raw-string semi-join predicate, so results are identical for every
    ``hash_impl``.
  - Past the budget (or with ``broadcast_benchmark=False``) the
    original plan below runs unchanged: the benchmark side reduces to
    its DISTINCT gram-hash set and is broadcast — benchmarks are a few
    thousand questions, so the broadcast is KBs-to-MBs even at
    13-grams.
  - The corpus side is one explode (linear in corpus tokens) joined
    map-side against the broadcast set; only MATCHED (doc, gram) rows
    survive, so the follow-up per-doc aggregate shuffles contaminated
    docs only, not the corpus.
  - The default filter path (`max_matches=0`, no scores kept) is a
    semi-join -> distinct contaminated-id set -> left_anti join: the
    anti-join's build side holds just the contaminated ids, which AQE
    turns into a broadcast join when (as is typical) contamination is
    rare.
  - ``hash_impl='fast'`` joins on xxhash64(gram) (JVM, codegen'd —
    narrow shuffle keys); ``'md5'``/``'raw'`` join on the raw gram
    string — the engine-neutral oracle contract the driver correctness
    gate replays in SQL (set-equivalent to hashing first, minus the
    hash compute).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions.text import (py_distinct_word_ngrams, py_word_ngrams,
                                           py_words)

# benchmark gram set budget for the broadcast-set path (approx bytes of
# gram text; python set overhead adds ~2-3x on top). Benchmarks are
# KB-to-MB, so the fast path is the normal case; past the budget the
# operator falls back to the explode + semi-join plan unchanged.
_BENCH_SET_BUDGET = 64 << 20


def _grams_udf(n: int):
    """Vectorized ``py_distinct_word_ngrams``: Arrow-batched pandas_udf
    rather than the Column HOF form — the higher-order-function lambda
    tree is CodegenFallback in Spark (interpreted per gram), measured
    ~8x slower at sf0.1."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def grams(s: pd.Series) -> pd.Series:
        return s.map(lambda t: py_distinct_word_ngrams(t, n))

    return grams


def _contaminated_udf(n: int, bc):
    """Boolean pandas UDF: does the text share any word n-gram with the
    broadcast benchmark gram set?

    Membership on the raw gram string is EXACTLY the raw-string
    semi-join's predicate (python ``==`` and SQL ``=`` agree on UTF-8
    strings), so results are identical for every ``hash_impl`` — while
    nothing but one boolean crosses the boundary back, no gram arrays
    materialize, no explode/join/distinct runs, and ``any()`` stops at
    the first matching gram (guide §4.1/§3.2: broadcast the small side,
    decide on the big side before shuffling anything — here to the
    point of no shuffle at all)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def contaminated(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        S = bc.value

        def one(t):
            w = py_words(t)
            return bool(w) and any(g in S for g in py_word_ngrams(w, n))

        for s in batches:
            yield s.map(one)

    return contaminated


def _contam_counts_udf(n: int, bc):
    """Struct pandas UDF: (matched, total) distinct-gram counts against
    the broadcast benchmark gram set — the scorer twin of
    :func:`_contaminated_udf`; same membership semantics as the
    explode + broadcast-join + groupBy count it replaces."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<m: long, t: long>")
    def counts(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        S = bc.value

        def one(t):
            g = py_distinct_word_ngrams(t, n)
            return sum(x in S for x in g), len(g)

        for s in batches:
            pairs = s.map(one)
            yield pd.DataFrame({"m": [p[0] for p in pairs],
                                "t": [p[1] for p in pairs]})

    return counts


def _join_key(hash_impl: str) -> Column:
    """Candidate-join key over the exploded gram column ``_g``.

    ``'fast'`` narrows the shuffle to xxhash64(gram) (JVM, codegen'd);
    ``'md5'``/``'raw'`` join on the gram string itself — set-equivalent
    to joining on any injective-in-practice hash of it, and exactly the
    engine-neutral contract an external SQL oracle replays (hashing
    first would only add compute).
    """
    if hash_impl == "fast":
        return F.xxhash64(F.col("_g"))
    return F.col("_g")


@OPERATOR_REGISTRY.register()
class ContaminationScoreEvaluator(Operator):
    """Per-doc benchmark-overlap scores: ``matched_ngrams``,
    ``total_ngrams``, ``overlap_frac``.

    ``run(df, benchmark=bench_df)`` — ``benchmark`` supplies the eval
    texts in column ``bench_key``. Scorer twin of
    :class:`BenchmarkDecontaminationFilter` (engine convention: scorer
    once, filter derived).
    """

    def __init__(self, input_key: str = "text", bench_key: str = "text",
                 n: int = 8, id_key: str = "doc_id",
                 hash_impl: str = "fast", broadcast_benchmark: bool = True):
        if n <= 0:
            raise ValueError("n must be positive")
        self.input_key, self.bench_key, self.n = input_key, bench_key, n
        self.id_key, self.hash_impl = id_key, hash_impl
        self.broadcast_benchmark = broadcast_benchmark
        self.input_keys = (input_key, id_key)
        self.output_keys = ("matched_ngrams", "total_ngrams", "overlap_frac")

    def _bench_set_bc(self, benchmark: DataFrame):
        """Broadcast the benchmark's distinct gram set as a python
        frozenset, or None when the benchmark is too big for the
        budget (caller falls back to the explode + join plan).

        The pull is budget-bounded (cheap length pre-check, then one
        Arrow toPandas of the text column); the set is built once per
        invocation on the driver — no cross-run caching."""
        if not self.broadcast_benchmark:
            return None
        tot = benchmark.agg(
            F.sum(F.octet_length(F.col(self.bench_key)))).first()[0] or 0
        # each word lands in <= n grams, so gram bytes <= ~n * text
        # bytes (octet_length so multi-byte UTF-8 counts true bytes);
        # stay under the budget with that bound before pulling
        if tot * max(self.n, 1) > _BENCH_SET_BUDGET:
            return None
        tp = benchmark.select(F.col(self.bench_key).alias("_t")).toPandas()
        s: set[str] = set()
        for t in tp["_t"]:
            s.update(py_distinct_word_ngrams(t, self.n))
        sc = benchmark.sparkSession.sparkContext
        return sc.broadcast(frozenset(s))

    def _bench_grams(self, benchmark: DataFrame) -> DataFrame:
        bg = (
            benchmark.select(
                F.explode(_grams_udf(self.n)(F.col(self.bench_key))).alias("_g"))
            .select(_join_key(self.hash_impl).alias("_k"))
            .distinct()
        )
        return F.broadcast(bg) if self.broadcast_benchmark else bg

    def run(self, df: DataFrame, benchmark: DataFrame | None = None,
            **kw: Any) -> DataFrame:
        if benchmark is None:
            raise ValueError("ContaminationScoreEvaluator needs benchmark=")
        bc = self._bench_set_bc(benchmark)
        if bc is not None:
            # broadcast-set path: one pandas UDF computes both
            # distinct-gram counts — no gram arrays cross the boundary,
            # no explode/join; the overlap division stays a Spark
            # expression so float semantics match the join form exactly
            st = _contam_counts_udf(self.n, bc)(F.col(self.input_key))
            cols = [self.id_key] + [c for c in df.columns
                                    if c != self.id_key]
            return (
                df.withColumn("_cs", st)
                .withColumn("total_ngrams",
                            F.col("_cs.t").cast("int"))
                .withColumn("matched_ngrams", F.col("_cs.m"))
                .withColumn(
                    "overlap_frac",
                    F.when(F.col("total_ngrams") > 0,
                           F.col("matched_ngrams") / F.col("total_ngrams"))
                    .otherwise(F.lit(0.0)))
                .select(*cols, "total_ngrams", "matched_ngrams",
                        "overlap_frac")
            )
        bg = self._bench_grams(benchmark)
        docs = df.withColumn(
            "_grams", _grams_udf(self.n)(F.col(self.input_key)))
        matched = (
            docs.select(self.id_key, F.explode("_grams").alias("_g"))
            .select(self.id_key, _join_key(self.hash_impl).alias("_k"))
            .join(bg, "_k")
            .groupBy(self.id_key)
            .agg(F.count(F.lit(1)).alias("matched_ngrams"))
        )
        total = F.size("_grams")
        return (
            docs.withColumn("total_ngrams", total).drop("_grams")
            .join(matched, self.id_key, "left")
            .withColumn("matched_ngrams",
                        F.coalesce(F.col("matched_ngrams"), F.lit(0)))
            .withColumn(
                "overlap_frac",
                F.when(F.col("total_ngrams") > 0,
                       F.col("matched_ngrams") / F.col("total_ngrams"))
                .otherwise(F.lit(0.0)),
            )
        )


@OPERATOR_REGISTRY.register()
class BenchmarkDecontaminationFilter(Operator):
    """Drop docs overlapping the benchmark: contaminated when
    ``matched_ngrams > max_matches`` or (if set)
    ``overlap_frac > max_frac``.

    Defaults (``max_matches=0``, ``max_frac=None``) give the strict
    any-overlap rule and take a counting-free semi-join/anti-join path.
    ``keep_scores=True`` retains the evaluator's three score columns on
    the survivors.
    """

    def __init__(self, input_key: str = "text", bench_key: str = "text",
                 n: int = 8, id_key: str = "doc_id", max_matches: int = 0,
                 max_frac: float | None = None, keep_scores: bool = False,
                 hash_impl: str = "fast", broadcast_benchmark: bool = True):
        self.scorer = ContaminationScoreEvaluator(
            input_key=input_key, bench_key=bench_key, n=n, id_key=id_key,
            hash_impl=hash_impl, broadcast_benchmark=broadcast_benchmark)
        self.max_matches, self.max_frac = max_matches, max_frac
        self.keep_scores = keep_scores
        self.input_keys = (input_key, id_key)
        self.output_keys = self.scorer.output_keys if keep_scores else ()

    def run(self, df: DataFrame, benchmark: DataFrame | None = None,
            **kw: Any) -> DataFrame:
        if benchmark is None:
            raise ValueError("BenchmarkDecontaminationFilter needs benchmark=")
        s = self.scorer
        if self.max_matches == 0 and self.max_frac is None and not self.keep_scores:
            bc = s._bench_set_bc(benchmark)
            if bc is not None:
                # broadcast-set path: one early-exit boolean UDF —
                # the whole stage is a narrow filter, zero shuffles
                return df.filter(
                    ~_contaminated_udf(s.n, bc)(F.col(s.input_key)))
            # strict any-overlap: no counting needed — semi-join the
            # exploded grams, collapse to contaminated ids, anti-join
            bg = s._bench_grams(benchmark)
            bad = (
                df.select(
                    s.id_key,
                    F.explode(_grams_udf(s.n)(F.col(s.input_key))).alias("_g"))
                .select(s.id_key, _join_key(s.hash_impl).alias("_k"))
                .join(bg, "_k", "left_semi")
                .select(s.id_key)
                .distinct()
            )
            return df.join(bad, s.id_key, "left_anti")
        scored = s.run(df, benchmark=benchmark)
        contaminated = F.col("matched_ngrams") > F.lit(self.max_matches)
        if self.max_frac is not None:
            contaminated = contaminated | (F.col("overlap_frac") > F.lit(self.max_frac))
        out = scored.filter(~contaminated)
        return out if self.keep_scores else out.drop(*s.output_keys)
