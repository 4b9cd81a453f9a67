"""Corpus-statistics text operators: TF-IDF keywords, distribution
divergence, token truncation.

Training-corpus analysis/curation primitives beyond the reference's
per-row scorers (its evaluators never aggregate corpus-wide term
statistics; SURVEY.md §2.6-2.7):

  - ``TfIdfKeywordsEvaluator`` — top-k salient terms per document from
    corpus-wide document frequencies.
  - ``UnigramKLDivergenceEvaluator`` — KL(P||Q) between the word
    distributions of two frames (domain-shift / mixture-drift monitor).
  - ``TruncateWordsRefiner`` — deterministic length cap for token-budget
    pipelines.

All three are pure DataFrame compositions (explode + aggregate + join)
— no Python boundary, no driver collect except the 1-row divergence
result the caller materializes.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator, RefineOperator
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import text as T


@OPERATOR_REGISTRY.register()
class TfIdfKeywordsEvaluator(Operator):
    """Add ``keywords``: the top-k terms per doc by tf x (N+1)/(df+1).

    The idf factor is the LINEAR smoothed ratio, not its logarithm:
    ranking is monotone-identical per term-frequency class, and integer
    ratios keep the score bit-identical across engines (log would hang
    the ordering on libm's last ulp — the oracle contract would be
    flaky). Ties break by term asc.

    Scale: one explode + (doc, term) count, one term-level df aggregate
    (vocabulary-sized, broadcast back), one top-k window per doc, one
    join back to the input — every stage shuffles on a uniform key.
    """

    def __init__(self, input_key: str = "text", id_key: str = "doc_id",
                 k: int = 5, lowercase: bool = True,
                 output_key: str = "keywords"):
        if k <= 0:
            raise ValueError("k must be positive")
        self.input_key, self.id_key, self.k = input_key, id_key, k
        self.lowercase, self.output_key = lowercase, output_key
        self.input_keys = (input_key, id_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from pyspark.sql import Window

        w = T.words(F.col(self.input_key))
        if self.lowercase:
            w = F.transform(w, lambda x: F.lower(x))
        toks = df.select(self.id_key, F.explode(w).alias("_term"))
        tf = toks.groupBy(self.id_key, "_term").agg(
            F.count(F.lit(1)).alias("_tf"))
        dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
        n_docs = df.select(
            F.count(F.lit(1)).cast("double").alias("_n"))
        scored = (
            tf.join(F.broadcast(dfreq), "_term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn("_score",
                        F.col("_tf") * (F.col("_n") + 1.0)
                        / (F.col("_df") + 1.0))
        )
        win = Window.partitionBy(self.id_key).orderBy(
            F.col("_score").desc(), F.col("_term").asc())
        top = (
            scored.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= self.k)
            .groupBy(self.id_key)
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("_rn", "_term"))),
                lambda s: s.getField("_term")).alias(self.output_key))
        )
        return (
            df.join(top, self.id_key, "left")
            .withColumn(self.output_key,
                        F.coalesce(F.col(self.output_key),
                                   F.array().cast("array<string>")))
        )


@OPERATOR_REGISTRY.register()
class UnigramKLDivergenceEvaluator(Operator):
    """1-row result: smoothed KL(P||Q) between the unigram word
    distributions of ``df`` (P) and ``other`` (Q) — the standard
    domain-shift / mixture-drift check between two corpus slices.

    Add-alpha smoothing over the JOINT vocabulary keeps Q(w) > 0:
    p_w = (c_p + a) / (C_p + a|V|). Pure aggregate plan: two word-count
    aggregations, one full outer join on the term, one sum.
    """

    def __init__(self, input_key: str = "text", alpha: float = 0.5,
                 lowercase: bool = True, output_key: str = "kl_divergence"):
        if alpha <= 0:
            raise ValueError("alpha must be positive")
        self.input_key, self.alpha = input_key, alpha
        self.lowercase, self.output_key = lowercase, output_key
        self.input_keys = (input_key,)
        self.output_keys = (output_key,)

    def _counts(self, df: DataFrame, name: str) -> DataFrame:
        w = T.words(F.col(self.input_key))
        if self.lowercase:
            w = F.transform(w, lambda x: F.lower(x))
        return (df.select(F.explode(w).alias("_term"))
                .groupBy("_term").agg(F.count(F.lit(1)).alias(name)))

    def run(self, df: DataFrame, other: DataFrame | None = None,
            **kw: Any) -> DataFrame:
        if other is None:
            raise ValueError("UnigramKLDivergenceEvaluator needs other=")
        a = float(self.alpha)
        joint = (
            self._counts(df, "_cp")
            .join(self._counts(other, "_cq"), "_term", "full_outer")
            .select(F.coalesce("_cp", F.lit(0)).alias("_cp"),
                    F.coalesce("_cq", F.lit(0)).alias("_cq"))
        )
        tot = joint.select(
            F.sum("_cp").cast("double").alias("_tp"),
            F.sum("_cq").cast("double").alias("_tq"),
            F.count(F.lit(1)).cast("double").alias("_v"))
        return (
            joint.crossJoin(F.broadcast(tot))
            .select(
                (((F.col("_cp") + a) / (F.col("_tp") + a * F.col("_v")))
                 * F.log(((F.col("_cp") + a) / (F.col("_tp") + a * F.col("_v")))
                         / ((F.col("_cq") + a) / (F.col("_tq") + a * F.col("_v"))))
                 ).alias("_kl_term"))
            .agg(F.sum("_kl_term").alias(self.output_key))
        )


@OPERATOR_REGISTRY.register()
class TruncateWordsRefiner(RefineOperator):
    """Cap each doc at its first ``max_words`` whitespace words
    (whitespace-normalized output) — the deterministic length guard
    before token-budget packing."""

    def __init__(self, input_key: str = "text", max_words: int = 512):
        if max_words <= 0:
            raise ValueError("max_words must be positive")
        super().__init__(input_key)
        self.max_words = max_words

    def refine_expr(self, col):
        return F.concat_ws(" ", F.slice(T.words(col), 1, self.max_words))


@OPERATOR_REGISTRY.register()
class BM25RetrievalOperator(Operator):
    """Top-k BM25 document retrieval for a fixed set of query strings.

    The classic text-search primitive the reference lacks (its RAG ops
    delegate retrieval to an external vector store). Fully distributed:

      idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
      score(q, d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    over the DISTINCT terms of each query (query-side tf is ignored —
    standard for short queries). N is the total doc count and avgdl the
    mean token count over ALL docs (empty docs count with length 0).

    Shuffle plan (the 100 TB story): tokens are filtered to the tiny
    query-term literal INSIDE the row — the exploded stream holds
    only query-term hits, never the corpus token stream, so the
    vocabulary is never materialized and no pruning join is needed;
    doc length rides the (doc, term) count key (functionally dependent
    on the doc id), so no corpus-wide doc-length join either. What
    remains is the tiny map-side-combined tf count, the df aggregate
    over it, one aggregation on (query, doc), and a per-query top-k
    window. Ranking is on the ROUNDED score + doc id so the order (and
    the oracle contract) is engine-deterministic.
    """

    def __init__(self, queries: list[str], input_key: str = "text",
                 id_key: str = "doc_id", k1: float = 1.2, b: float = 0.75,
                 top_k: int = 10, round_digits: int = 6):
        if not queries:
            raise ValueError("BM25RetrievalOperator needs >= 1 query")
        if top_k <= 0:
            raise ValueError("top_k must be positive")
        self.queries = list(queries)
        self.input_key, self.id_key = input_key, id_key
        self.k1, self.b, self.top_k = float(k1), float(b), int(top_k)
        self.round_digits = round_digits
        self.input_keys = (input_key, id_key)
        self.output_keys = ("query", id_key, "score", "rank")

    @staticmethod
    def tokenize(q: str) -> list[str]:
        """Query twin of the document tokens ``lower(T.words(text))``."""
        return [t.lower() for t in T.py_words(q)]

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        from pyspark.sql import Window

        spark = df.sparkSession
        pairs = sorted({(q, t) for q in self.queries
                        for t in self.tokenize(q)})
        qdf = spark.createDataFrame(pairs, ["query", "_term"])

        # prune to query terms BEFORE the explode (guide §2.3): the
        # query-term set is a tiny literal, so an array-filter IN test
        # drops non-query tokens inside the row — the exploded stream
        # holds only query-term hits instead of the whole corpus token
        # stream, and no broadcast join is needed to prune it. Doc
        # length rides the tf group key (it is functionally dependent
        # on _id), which removes the corpus-wide dl join entirely.
        terms = sorted({t for _, t in pairs})
        w = F.transform(T.words(F.col(self.input_key)),
                        lambda x: F.lower(x))
        base = df.select(F.col(self.id_key).alias("_id"),
                         w.alias("_toks"))
        sel = base.select(
            "_id", F.size("_toks").cast("double").alias("_dl"),
            F.filter("_toks", lambda x: x.isin(*terms)).alias("_m"))
        tf = (sel.select("_id", "_dl", F.explode("_m").alias("_term"))
              .groupBy("_id", "_term", "_dl")
              .agg(F.count(F.lit(1)).alias("_tf")))
        dfreq = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))

        stats = base.agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            (F.sum(F.size("_toks")) / F.count(F.lit(1))).alias("_avgdl"))

        k1, b = F.lit(self.k1), F.lit(self.b)
        idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + 0.5)
                    / (F.col("_df") + 0.5))
        sat = (F.col("_tf") * (k1 + 1.0)
               / (F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl")
                                       / F.col("_avgdl"))))
        scored = (
            tf.join(F.broadcast(qdf), "_term")
            .join(F.broadcast(dfreq), "_term")
            .crossJoin(F.broadcast(stats))
            .groupBy("query", "_id")
            .agg(F.round(F.sum(idf * sat), self.round_digits).alias("score"))
        )
        win = Window.partitionBy("query").orderBy(
            F.col("score").desc(), F.col("_id").asc())
        return (scored.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= self.top_k)
                .select("query", F.col("_id").alias(self.id_key),
                        "score", "rank"))


def mg_update(counts: dict, batch_counts: dict, cap: int) -> dict:
    """One mergeable Misra-Gries step: absorb a counted batch, then if
    more than ``cap`` keys remain, subtract the (cap+1)-th largest
    counter from all and drop the non-positive (Agarwal et al.,
    "Mergeable Summaries", PODS'12).

    Module-level and pure so the sketch's two invariants are property-
    testable without Spark: (a) at most ``cap`` keys survive; (b) the
    undercount of any key after folding a stream of total mass n is at
    most n/(cap+1) — hence any key with true count > n/(cap+1) is
    present in the summary.
    """
    for key, c in batch_counts.items():
        counts[key] = counts.get(key, 0) + int(c)
    if len(counts) > cap:
        vals = sorted(counts.values(), reverse=True)
        sub = vals[cap]  # the (cap+1)-th largest counter
        counts = {k2: v - sub for k2, v in counts.items() if v > sub}
    return counts


@OPERATOR_REGISTRY.register()
class HeavyHittersOperator(Operator):
    """EXACT heavy hitters — every key whose count exceeds ``phi * N``
    (N = non-null rows), with exact counts — WITHOUT shuffling the full
    key universe.

    Two passes:
      1. Map-only candidate proposal: each partition folds its rows
         through a mergeable Misra-Gries summary with
         ``capacity = ceil(1/phi)`` counters (Agarwal et al., "Mergeable
         Summaries", PODS'12: add a batch's counts, then subtract the
         (capacity+1)-th largest counter from all and drop the
         non-positive). MG undercounts any key by at most
         n_p/(capacity+1) within a partition, so a key with GLOBAL
         count > N/(capacity+1) must survive in at least one partition
         summary (pigeonhole over partition totals) — and
         N/(capacity+1) < phi*N, so the candidate union has NO false
         negatives for the phi threshold. Each summary is at most
         ``capacity`` keys regardless of key cardinality; the driver
         collects partitions x capacity candidate rows, nothing more.
      2. Exact recount: broadcast-semi-join the data against the
         candidate set, groupBy count (map-side combine collapses each
         task to <= |candidates| rows), keep count > phi*N.

    The sketch only PROPOSES — the returned set and counts are exact.
    Why not a plain groupBy: counting every distinct key of a 100 TB
    corpus (e.g. all shingles) shuffles the full key universe; here the
    shuffle is bounded by |candidates| per map task.

    Output: DataFrame[<input_key> string, cnt long] — with ``group_key``
    set, DataFrame[<group_key> string, <input_key> string, cnt long].
    Null keys/groups are ignored (excluded from N and from candidacy).
    """

    def __init__(self, input_key: str = "text", phi: float = 0.001,
                 capacity: int | None = None, weight_key: str | None = None,
                 group_key: str | None = None):
        if not (0.0 < phi < 1.0):
            raise ValueError("phi must be in (0, 1)")
        self.input_key = input_key
        self.phi = phi
        import math
        self.capacity = capacity or math.ceil(1.0 / phi)
        #: when set, "heavy" is judged WITHIN each group — mass of
        #: (group, key) > phi * mass(group) — one MG summary per group
        #: per partition, so the candidate bound becomes partitions x
        #: |groups present| x capacity. Intended for LOW-cardinality
        #: slices (language, source); the pigeonhole guarantee applies
        #: per group over its own partition masses.
        self.group_key = group_key
        #: when set, "heavy" means total WEIGHT > phi * total mass
        #: (weights cast to long; non-positive/null weights ignored) —
        #: the MG mass bound is weight-algebra-identical, so the exact
        #: guarantee carries over (pinned by the mg_update property
        #: test, which already folds weighted batches). ``cnt`` then
        #: holds the key's total weight. Heavy-domains-by-bytes is the
        #: canonical use: storage and shuffle skew follow mass, not
        #: row counts.
        self.weight_key = weight_key
        keys = [input_key]
        if weight_key is not None:
            keys.append(weight_key)
        if group_key is not None:
            keys.append(group_key)
        self.input_keys = tuple(keys)
        self.output_keys = ("cnt",)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        import pandas as pd

        cap = self.capacity
        phi = self.phi
        w = (F.lit(1).cast("long") if self.weight_key is None
             else F.col(self.weight_key).cast("long"))
        # ungrouped mode = one constant group; same machinery throughout
        g = (F.lit("").cast("string") if self.group_key is None
             else F.col(self.group_key).cast("string"))
        keyed = (df.select(g.alias("g"),
                           F.col(self.input_key).cast("string").alias("k"),
                           w.alias("w"))
                 .filter(F.col("g").isNotNull() & F.col("k").isNotNull()
                         & (F.col("w") > 0)))

        def mg(batches):
            counts: dict[str, dict[str, int]] = {}  # group -> MG summary
            mass: dict[str, int] = {}
            for pdf in batches:
                gc = pdf.groupby(["g", "k"], sort=False)["w"].sum()
                per_group: dict[str, dict[str, int]] = {}
                for (grp, key), c in gc.items():
                    per_group.setdefault(grp, {})[key] = int(c)
                for grp, batch_counts in per_group.items():
                    mass[grp] = mass.get(grp, 0) + sum(batch_counts.values())
                    counts[grp] = mg_update(counts.get(grp, {}),
                                            batch_counts, cap)
                # sentinel row per group (k=None) carries the partition
                # mass so totals need no second scan
            gs, ks, ns = [], [], []
            for grp, summary in counts.items():
                for key in summary:
                    gs.append(grp); ks.append(key); ns.append(0)
            for grp, n in mass.items():
                gs.append(grp); ks.append(None); ns.append(n)
            yield pd.DataFrame({"g": gs, "k": ks, "n": ns})

        summaries = keyed.mapInPandas(mg, schema="g string, k string, n long")
        # bounded driver materialization: <= partitions x groups x
        # (capacity + 1) rows by construction of the per-group MG
        # summaries; Arrow transfer, not per-Row pickling
        spdf = summaries.toPandas()
        sent = spdf[spdf["k"].isna()]
        totals: dict[str, int] = sent.groupby("g")["n"].sum().to_dict()
        cand_pdf = spdf[spdf["k"].notna()][["g", "k"]].drop_duplicates()
        cands = len(cand_pdf)
        spark = df.sparkSession
        grouped = self.group_key is not None
        out_cols = ([F.col("g").alias(self.group_key)] if grouped else []) \
            + [F.col("k").alias(self.input_key), "cnt"]
        out_schema = ((f"`{self.group_key}` string, " if grouped else "")
                      + f"`{self.input_key}` string, cnt long")
        if not cands:
            return spark.createDataFrame([], out_schema)
        # candidate sets can reach partitions x capacity rows (3M+ at
        # small phi) — ship via pandas/Arrow, not a python-object list
        # (row-at-a-time pickling was the dominant cost at phi=1e-5)
        cand_df = spark.createDataFrame(cand_pdf, "g string, k string")
        thr_df = spark.createDataFrame(
            [(grp, phi * n) for grp, n in totals.items()],
            "g string, thr double")
        return (keyed.join(F.broadcast(cand_df), ["g", "k"], "left_semi")
                .groupBy("g", "k").agg(F.sum("w").alias("cnt"))
                .join(F.broadcast(thr_df), "g")
                .filter(F.col("cnt") > F.col("thr"))
                .select(*out_cols))


@OPERATOR_REGISTRY.register()
class SourceOverlapMatrixOperator(Operator):
    """Pairwise n-gram overlap matrix between corpus slices — for every
    unordered pair of ``group_key`` values: each side's distinct word
    n-gram count, the shared count, and the Jaccard overlap. The
    curation question this answers: which sources/domains substantially
    duplicate each other (and should be cross-deduped or downweighted)
    BEFORE mixing a training corpus.

    Grams are ``functions/text.py``'s ``py_distinct_word_ngrams``
    (texts shorter than n words contribute their whole word sequence),
    so the overlap matrix and the decontamination ops agree on what a
    "gram" is.

    Scale shape: ONE shuffle of the distinct (group, gram) set — grams
    hash uniformly, map-side combinable — then a per-gram group-set
    aggregate whose fan-out is bounded by the number of groups (sources
    are few; a gram's ``collect_set`` can never exceed it). The pair
    expansion happens on gram-level rows that at least two groups
    share, and the final matrix is |groups|^2/2 rows. Nothing driver-
    side. Groups whose texts produce zero grams don't appear.

    Output: group_a, group_b, grams_a, grams_b, shared, jaccard
    (rounded to ``round_digits``), one row per unordered pair, group_a < group_b.
    """

    def __init__(self, group_key: str = "source", input_key: str = "text",
                 n: int = 3, hash_impl: str = "fast",
                 round_digits: int = 6):
        if n <= 0:
            raise ValueError("n must be positive")
        self.group_key, self.input_key, self.n = group_key, input_key, n
        self.hash_impl = hash_impl
        self.round_digits = round_digits
        self.input_keys = (group_key, input_key)
        self.output_keys = ("group_a", "group_b", "grams_a", "grams_b",
                            "shared", "jaccard")

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        from dataflow_spark.operators.filters.decontaminate import (
            _grams_udf, _join_key)

        grams = (
            df.select(F.col(self.group_key).alias("_grp"),
                      F.explode(_grams_udf(self.n)(
                          F.col(self.input_key))).alias("_g"))
            .select("_grp", _join_key(self.hash_impl).alias("_k"))
            .distinct()
        )
        sizes = grams.groupBy("_grp").agg(F.count(F.lit(1)).alias("_cnt"))
        shared = (
            grams.groupBy("_k").agg(F.collect_set("_grp").alias("_gs"))
            .filter(F.size("_gs") >= 2)
            .select(F.explode("_gs").alias("_a"), "_gs")
            .select("_a", F.explode("_gs").alias("_b"))
            .filter(F.col("_a") < F.col("_b"))
            .groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("shared"))
        )
        a = sizes.select(F.col("_grp").alias("_a"),
                         F.col("_cnt").alias("grams_a"))
        b = sizes.select(F.col("_grp").alias("_b"),
                         F.col("_cnt").alias("grams_b"))
        pairs = (a.crossJoin(b).filter(F.col("_a") < F.col("_b"))
                 .join(shared, ["_a", "_b"], "left")
                 .withColumn("shared", F.coalesce("shared", F.lit(0))))
        return pairs.select(
            F.col("_a").alias("group_a"), F.col("_b").alias("group_b"),
            "grams_a", "grams_b", "shared",
            F.round(F.col("shared") / (F.col("grams_a") + F.col("grams_b")
                                       - F.col("shared")),
                    self.round_digits).alias("jaccard"))
