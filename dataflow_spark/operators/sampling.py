"""Deterministic sampling & training-shard packing.

Large-corpus pipeline primitives the reference lacks but any 100 TB
training-data workflow needs (brief: training-data pipeline operations
are first-class):

  - ``HashSampleFilter`` — hash-bucket sampling: the SAME rows are kept
    across runs, machines, and engines (unlike ``df.sample``, whose RNG
    is partition-layout dependent). Rate changes are monotone: raising
    the rate only ADDS rows, so a 1% dev sample is a subset of the 10%
    eval sample — the property that makes hash sampling the standard
    for corpus ablations.
  - ``SequencePackingOperator`` — assign documents to fixed token-budget
    training shards: hash-partition into independent shards, then
    start-offset binning by running token count within each shard. No
    global sort, no driver state; shard boundaries are deterministic
    functions of the data.

Both expose ``hash_impl='fast'`` (xxhash64, JVM-side) and
``hash_impl='md5'`` (bit-identical in Spark SQL, Python, and external
SQL engines — the oracle contract, same convention as the near-dup
dedup family).
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator
from dataflow_spark.core.registry import OPERATOR_REGISTRY


def _bucket(col: Column, buckets: int, salt: str, hash_impl: str) -> Column:
    """Uniform bucket id in [0, buckets) from a key column + salt."""
    s = F.concat(F.lit(salt), col.cast("string"))
    if hash_impl == "md5":
        # first 15 md5 hex chars -> 60-bit int: reproducible anywhere
        h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(s)
    return F.pmod(h, F.lit(buckets))


@OPERATOR_REGISTRY.register()
class HashSampleFilter(Operator):
    """Keep rows whose key hashes into the first ``rate`` fraction of
    ``buckets`` hash buckets — deterministic, engine-independent
    sampling with monotone rates."""

    def __init__(self, key: str = "doc_id", rate: float = 0.1,
                 buckets: int = 10_000, salt: str = "sample",
                 hash_impl: str = "fast"):
        if not 0.0 <= rate <= 1.0:
            raise ValueError("rate must be in [0, 1]")
        self.key, self.rate, self.buckets = key, rate, buckets
        self.salt, self.hash_impl = salt, hash_impl
        self.input_keys = (key,)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        cut = int(self.rate * self.buckets)
        b = _bucket(F.col(self.key), self.buckets, self.salt, self.hash_impl)
        return df.filter(b < cut)


@OPERATOR_REGISTRY.register()
class SequencePackingOperator(Operator):
    """Assign rows to fixed token-budget shards for training-data
    export: ``pack_id = '<shard>-<bin>'``.

    Rows hash-partition into ``num_shards`` independent shards (scale
    knob: each shard's running sum is a within-partition window, so the
    only shuffle is the hash partition itself); within a shard, rows are
    ordered by ``order_key`` and binned by the START offset of their
    running token count: bin = floor((cumsum - tokens) / budget).
    Deterministic, single-pass, no driver state; a row larger than
    ``budget`` occupies its start bin (start-offset semantics,
    documented rather than split).

    ``num_shards=None`` (default) derives the shard count from the
    cluster's default parallelism at run time — so the running-sum
    window never degenerates into a single task on a big corpus. The
    derived count is ENVIRONMENT-dependent: pass an explicit
    ``num_shards`` when pack ids must reproduce across clusters (the
    contract query does). An explicit ``num_shards=1`` is honored but
    runs the whole corpus through one unpartitioned window —
    ``plans.assert_scalable`` flags that plan.
    """

    def __init__(self, token_key: str = "n_tokens", order_key: str = "doc_id",
                 budget: int = 2048, num_shards: int | None = None,
                 salt: str = "pack", hash_impl: str = "fast",
                 output_key: str = "pack_id"):
        if budget <= 0 or (num_shards is not None and num_shards <= 0):
            raise ValueError("budget and num_shards must be positive")
        self.token_key, self.order_key = token_key, order_key
        self.budget, self.num_shards = budget, num_shards
        self.salt, self.hash_impl = salt, hash_impl
        self.output_key = output_key
        self.input_keys = (token_key, order_key)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        n_shards = self.num_shards
        if n_shards is None:
            n_shards = max(
                df.sparkSession.sparkContext.defaultParallelism, 1)
        if n_shards == 1:
            # single shard: drop the partition column so the plan shows
            # an honest unpartitioned window (visible to the scale lint)
            # instead of a constant partition key it can't recognize
            out = df.withColumn("_shard", F.lit(0))
            w = Window.orderBy(F.col(self.order_key).asc()) \
                      .rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow)
        else:
            shard = _bucket(F.col(self.order_key), n_shards, self.salt,
                            self.hash_impl)
            out = df.withColumn("_shard", shard)
            w = (Window.partitionBy("_shard")
                 .orderBy(F.col(self.order_key).asc())
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        cum = F.sum(F.col(self.token_key).cast("long")).over(w)
        bin_id = F.floor((cum - F.col(self.token_key)) / F.lit(self.budget))
        return out.withColumn(
            self.output_key,
            F.concat_ws("-", F.col("_shard").cast("string"),
                        bin_id.cast("string"))
        ).drop("_shard")


@OPERATOR_REGISTRY.register()
class SplitAssignOperator(Operator):
    """Assign deterministic train/val/test (or any) split labels by hash
    bucket: ``splits = {"train": 0.9, "val": 0.05, "test": 0.05}``.

    The same row lands in the same split on every engine and run
    (md5 mode is bit-identical across Spark/Python/SQL); the last split
    absorbs bucket-rounding remainders so every row gets a label. Pure
    Column expression — no shuffle, no UDF.
    """

    def __init__(self, key: str = "doc_id",
                 splits: dict[str, float] | None = None,
                 buckets: int = 10_000, salt: str = "split",
                 hash_impl: str = "fast", output_key: str = "split"):
        self.splits = dict(splits or
                           {"train": 0.9, "val": 0.05, "test": 0.05})
        if len(self.splits) < 2:
            raise ValueError("need at least two splits")
        if any(w <= 0 for w in self.splits.values()):
            raise ValueError("split fractions must be positive")
        self.key, self.buckets, self.salt = key, buckets, salt
        self.hash_impl, self.output_key = hash_impl, output_key
        self.input_keys = (key,)
        self.output_keys = (output_key,)

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        total = sum(self.splits.values())
        b = _bucket(F.col(self.key), self.buckets, self.salt, self.hash_impl)
        names = list(self.splits)
        expr, acc = None, 0.0
        for name in names[:-1]:
            acc += self.splits[name] / total
            cond = b < int(acc * self.buckets)
            expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        return df.withColumn(self.output_key, expr.otherwise(names[-1]))


@OPERATOR_REGISTRY.register()
class DomainMixtureSampler(Operator):
    """Downsample per-domain so the output matches target mixture
    weights — the corpus-mixing step of a training-data pipeline
    ("50% web, 30% books, 20% code").

    Given ``weights = {group_value: w}``, shares are normalized over the
    listed groups and the largest feasible downsample-only total is
    ``T = min_g(count_g / share_g)``; each group is then kept at
    ``rate_g = share_g * T / count_g`` (the binding group keeps
    everything) via the same deterministic monotone hash-bucket rule as
    :class:`HashSampleFilter`. Groups absent from ``weights`` are
    dropped — the mixture defines the corpus.

    Scale: one groupBy-count over the corpus pulled to the driver (tiny:
    at most one row per LISTED group — groups outside ``weights`` are
    filtered before the aggregate), per-group keep thresholds computed
    in plain Python, and the filter applied as a pure Column predicate
    over a literal group->threshold map — no join, no second shuffle of
    the corpus. (Against a crossJoin + broadcast-join rate attachment
    this gives the same doubles and rows with two fewer exchanges and
    no broadcast build in the returned plan.)

    ``cache_input=True`` materializes the operator's input once (an
    eager ``localCheckpoint``) before the count pass so the returned
    plan re-reads the materialization instead of recomputing the input
    lineage a second time. Default False (for a plain scan input the
    materialization is pure overhead); set it when the input is an
    expensive computed pipeline (e.g. the corpus-curation chain, whose
    decontamination + segment-dedup pandas stages would otherwise run
    once for the counts and again for the output).
    """

    def __init__(self, group_key: str = "source",
                 weights: dict[str, float] | None = None,
                 key: str = "doc_id", buckets: int = 10_000,
                 salt: str = "mix", hash_impl: str = "fast",
                 cache_input: bool = False):
        if not weights:
            raise ValueError("weights must be a non-empty {group: weight} dict")
        if any(w <= 0 for w in weights.values()):
            raise ValueError("weights must be positive")
        self.group_key, self.weights, self.key = group_key, dict(weights), key
        self.buckets, self.salt, self.hash_impl = buckets, salt, hash_impl
        self.cache_input = cache_input
        self.input_keys = (group_key, key)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        if self.cache_input:
            # eager localCheckpoint, NOT persist(): the returned plan
            # reads the materialized blocks, so a persist could never be
            # released inside run() — and an unreleased deterministic
            # cache would be sameResult-served to the NEXT invocation
            # over the same input, i.e. re-executions would stop
            # computing from source. localCheckpoint materializes once
            # per invocation (exactly the single input evaluation this
            # flag exists to guarantee), is never shared through the
            # CacheManager, and its blocks are freed by the context
            # cleaner when the frame goes out of scope.
            df = df.localCheckpoint()
        wsum = sum(self.weights.values())
        groups = sorted(self.weights)
        # counts: one row per listed group (bounded by len(weights));
        # the same doubles a join form produces — count cast to
        # double, share = w / wsum, T = min(cnt / share), rate =
        # least(1, share * T / cnt) — evaluated in the same order on
        # the same float64 values, so every rate is bit-identical.
        cpd = (df.filter(F.col(self.group_key).isin(groups))
               .groupBy(self.group_key)
               .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
               .toPandas())
        cnt = dict(zip(cpd[self.group_key].tolist(), cpd["_cnt"].tolist()))
        share = {g: self.weights[g] / wsum for g in groups if g in cnt}
        if not share:
            return df.filter(F.lit(False))
        t_total = min(cnt[g] / share[g] for g in share)
        thr = {g: math.floor(min(1.0, share[g] * t_total / cnt[g])
                             * self.buckets) for g in share}
        thr_map = F.create_map(
            *[F.lit(x) for g in sorted(share) for x in (g, thr[g])])
        b = _bucket(F.col(self.key), self.buckets, self.salt, self.hash_impl)
        # null / unlisted group -> null threshold -> predicate null ->
        # dropped, exactly an inner join's semantics
        return df.filter(b < thr_map[F.col(self.group_key)])


@OPERATOR_REGISTRY.register()
class GlobalShuffleOperator(Operator):
    """Seeded, engine-reproducible global shuffle for training export.

    Training ingestion needs the corpus in pseudo-random order, and the
    order must be a pure function of (seed, key) — NOT of partition
    layout — so re-runs, backfills, and other engines agree row for row
    (``df.orderBy(rand())`` fails all three). Assigns:

      shard = md5(seed||key) bucketed into ``n_shards``
      pos   = rank of md5(seed||key) hex WITHIN the shard

    Scale: no global sort. One hash shuffle on shard + a within-shard
    sort (row_number window per shard) — every shard is independent,
    so the plan is embarrassingly parallel at any corpus size; shard
    count just tracks the target file count.
    """

    def __init__(self, key: str = "doc_id", n_shards: int = 8,
                 seed: str = "shuffle", hash_impl: str = "md5"):
        if n_shards <= 0:
            raise ValueError("n_shards must be positive")
        self.key, self.n_shards = key, int(n_shards)
        self.seed, self.hash_impl = seed, hash_impl
        self.input_keys = (key,)
        self.output_keys = ("shard", "pos")

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        s = F.concat(F.lit(self.seed), F.col(self.key).cast("string"))
        if self.hash_impl == "md5":
            hx = F.md5(s)
            shard = F.pmod(
                F.conv(F.substring(hx, 1, 15), 16, 10).cast("long"),
                F.lit(self.n_shards))
        else:
            hx = F.format_string("%016x", F.xxhash64(s))
            shard = F.pmod(F.xxhash64(s), F.lit(self.n_shards))
        out = df.withColumn("_hx", hx).withColumn("shard",
                                                  shard.cast("int"))
        win = Window.partitionBy("shard").orderBy(
            F.col("_hx").asc(), F.col(self.key).asc())
        return out.withColumn("pos", F.row_number().over(win)).drop("_hx")


@OPERATOR_REGISTRY.register()
class WeightedHashSampleFilter(Operator):
    """Importance sampling: keep each row with probability proportional
    to its weight, deterministically.

    keep iff  u(key) < rate * (w * N) / S
    where u is an md5-derived uniform in [0, 1), N the row count and S
    the weight sum — so the EXPECTED kept fraction is ``rate`` and a
    row with twice the weight is twice as likely to survive. The
    "sample better data more" primitive for quality-weighted corpus
    ablations; like HashSampleFilter it is a pure function of
    (salt, key), so re-runs, engines, and backfills agree row for row.

    One tiny (N, S) aggregate broadcast back; the predicate is
    columnar. Integer weights keep N and S exact, making the threshold
    arithmetic bit-identical across engines.
    """

    def __init__(self, key: str = "doc_id", weight_key: str = "n_chars",
                 rate: float = 0.1, salt: str = "wsample"):
        if not 0.0 <= rate <= 1.0:
            raise ValueError("rate must be in [0, 1]")
        self.key, self.weight_key = key, weight_key
        self.rate, self.salt = float(rate), salt
        self.input_keys = (key, weight_key)
        self.output_keys = ()

    def run(self, df: DataFrame, **kw: Any) -> DataFrame:
        s = F.concat(F.lit(self.salt), F.col(self.key).cast("string"))
        u = (F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("double")
             / F.lit(float(1 << 60)))
        stats = df.agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(F.col(self.weight_key)).cast("double").alias("_s"))
        return (df.crossJoin(F.broadcast(stats))
                .filter(u < F.lit(self.rate)
                        * ((F.col(self.weight_key) * F.col("_n"))
                           / F.col("_s")))
                .drop("_n", "_s"))


@OPERATOR_REGISTRY.register()
class DSIRWeightEvaluator(Operator):
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023) — per-document log importance weight ``log p_target(x) -
    log p_raw(x)`` under hashed n-gram bag models.

    Engine-original (the reference has no data-selection operator; this
    is THE published method for targeting a pretraining mix at a
    high-quality domain). ``run(df, target=target_df)`` fits two
    add-1-smoothed multinomials over md5-hashed unigram+bigram buckets —
    raw from ``df``, target from ``target`` — and adds
    ``output_key`` = sum over the document's n-gram occurrences of
    ``ln((ct[b]+1)/(Tt+B)) - ln((cr[b]+1)/(Tr+B))``.

    Scale design: two B-bucket count aggregates (map-side combinable;
    B=10k means the models are ~160 KB however large the corpus), a
    broadcast join of the log-ratio table against the exploded n-grams,
    and ONE doc-key shuffle for the per-document sum. No driver
    collect; the model never leaves the cluster. md5 bucketing keeps
    the whole computation bit-reproducible in external SQL engines
    (the oracle contract, same convention as HashSampleFilter).
    """

    def __init__(self, input_key: str = "text", id_key: str = "doc_id",
                 output_key: str = "dsir_logratio",
                 n_buckets: int = 10_000, salt: str = "dsir"):
        if n_buckets < 2:
            raise ValueError("n_buckets must be >= 2")
        self.input_key, self.id_key = input_key, id_key
        self.output_key = output_key
        self.n_buckets, self.salt = n_buckets, salt
        self.input_keys = (input_key, id_key)
        self.output_keys = (output_key,)

    def _gram_buckets(self, df: DataFrame) -> DataFrame:
        """DataFrame[id, _b]: one row per unigram AND bigram occurrence,
        md5-hashed into [0, n_buckets)."""
        from dataflow_spark.functions.text import words

        w = words(F.col(self.input_key))
        uni = w
        bi = F.when(
            F.size(w) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - 1),
                lambda i: F.concat_ws(" ", F.element_at(w, i),
                                      F.element_at(w, i + 1))),
        ).otherwise(F.array().cast("array<string>"))
        grams = F.concat(uni, bi)
        b = F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.lit(self.salt), F.col("_g"))), 1, 15),
                16, 10).cast("long"),
            F.lit(self.n_buckets))
        return (df.select(F.col(self.id_key).alias("_did"),
                          F.explode(grams).alias("_g"))
                .select("_did", b.alias("_b")))

    def run(self, df: DataFrame, target: DataFrame | None = None,
            **kwargs: Any) -> DataFrame:
        if target is None:
            raise ValueError("DSIRWeightEvaluator needs target= (the "
                             "DataFrame whose distribution to move toward)")
        B = float(self.n_buckets)
        ex = self._gram_buckets(df)
        cr = ex.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
        ct = (self._gram_buckets(target)
              .groupBy("_b").agg(F.count(F.lit(1)).alias("_ct")))
        m = (cr.join(ct, "_b", "full_outer")
             .fillna(0, subset=["_cr", "_ct"]))
        tot = m.agg(F.sum("_cr").cast("double").alias("_tr"),
                    F.sum("_ct").cast("double").alias("_tt"))
        lr = (F.log(F.col("_ct") + 1) - F.log(F.col("_tt") + B)
              - F.log(F.col("_cr") + 1) + F.log(F.col("_tr") + B))
        model = (m.crossJoin(F.broadcast(tot))
                 .select("_b", lr.alias("_lr")))
        sc = (ex.join(F.broadcast(model), "_b")
              .groupBy("_did").agg(F.sum("_lr").alias(self.output_key)))
        out = df.join(sc.withColumnRenamed("_did", self.id_key),
                      self.id_key, "left")
        return out.withColumn(
            self.output_key, F.coalesce(F.col(self.output_key), F.lit(0.0)))


@OPERATOR_REGISTRY.register()
class DSIRResampleFilter(Operator):
    """Gumbel-top-k resampling without replacement on a log-weight
    column — the selection half of DSIR: sampling k documents with
    probability proportional to exp(weight) equals taking the top k by
    ``weight + Gumbel noise`` (the Gumbel-max trick), and deriving the
    noise from md5(salt, id) makes the drawn SAMPLE a pure function of
    the data — re-runs, engines, and backfills agree row for row.

    Spark plans ``orderBy(...).limit(k)`` as a distributed
    TakeOrderedAndProject (per-partition top-k then a k-row merge), so
    no global sort and only k rows cross the network.
    """

    def __init__(self, k: int = 1000, weight_key: str = "dsir_logratio",
                 key: str = "doc_id", salt: str = "dsir-gumbel"):
        if k < 1:
            raise ValueError("k must be >= 1")
        self.k, self.weight_key = k, weight_key
        self.key, self.salt = key, salt
        self.input_keys = (weight_key, key)
        self.output_keys = ()

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        s = F.concat(F.lit(self.salt), F.col(self.key).cast("string"))
        # (h + 0.5) / 2^60 is strictly inside (0, 1): both logs finite
        u = ((F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("double")
              + F.lit(0.5)) / F.lit(float(1 << 60)))
        gk = F.col(self.weight_key) - F.log(-F.log(u))
        return (df.withColumn("_gk", gk)
                .orderBy(F.col("_gk").desc(), F.col(self.key).asc())
                .limit(self.k)
                .drop("_gk"))
