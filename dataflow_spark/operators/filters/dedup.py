"""Deduplication family — exact, normalized, n-gram, MinHash-LSH,
SimHash, and semantic (embedding) near-dup.

Reference semantics (SURVEY.md §2.4): every dedup filter keeps the
FIRST occurrence in file order (hash_deduplicate_filter.py:80-89).
Under distribution "first" is defined by a stable order column (primary
key or ingest ``_row_id``), never partition order.

Scale design:
  - exact dedup: hash + row_number window — one shuffle on the hash key,
    map-side combinable, skew-safe (hash keys are uniform).
  - near-dup: signature -> band explode carrying the signature -> one
    (band, h) shuffle whose windows yield verified star edges from each
    bucket's min id plus identical-signature rep edges
    (``_NearDupBase._window_edges``) -> connected components
    (bounded-size driver union-find, distributed star contraction above
    the bound) -> keep rows whose id equals their component's min.
    No O(n^2) over the corpus anywhere, unlike the reference's greedy
    loops (simhash_deduplicate_filter.py:56-91) — verify work is linear
    in the banded rows, as in LSH.
"""

from __future__ import annotations

from typing import Any

import pandas as pd  # module-level: pandas_udf type-hint resolution

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_spark.core.operator import Operator, ROW_ID, with_row_id
from dataflow_spark.core.registry import OPERATOR_REGISTRY
from dataflow_spark.functions import hashing as H
from dataflow_spark.functions import text as T
from dataflow_spark.functions import vector as V
from dataflow_spark.functions.pulls import bounded_pull
from dataflow_spark.functions.spread import spread_for_udf


def _keep_first(df: DataFrame, key: Column, order_col: str) -> DataFrame:
    """Keep the min-``order_col`` row per ``key`` via min_by aggregation.

    Semantically identical to a row_number-over-window keep-first
    (``order_col`` is a unique id, so there are no ties), but the
    hash-aggregate plan does MAP-SIDE PARTIAL COMBINE: duplicates
    collapse before the shuffle, so a corpus that is 50% duplicates
    ships half the bytes a window (which shuffles and sorts every row)
    would. On a 100 TB duplicate-heavy crawl that is the difference
    between shuffling the corpus and shuffling the distinct set.

    Column pruning: a single ``min_by(struct(*cols), order)`` carries
    EVERY input column through one opaque struct, and Catalyst's
    nested-schema pruning does not reach through aggregate buffers — so
    a downstream ``select(a, b)`` still scanned all columns. Emitting one
    independent ``min_by(col, order)`` per column instead keeps the
    identical semantics (the order id is unique, so every per-column
    winner comes from the same row) while each aggregate expression
    stays individually prunable:
    ColumnPruning drops the unused ``min_by``s from the Aggregate node
    and the parquet scan narrows to exactly the columns downstream
    needs. Map-side combine is unchanged — it is a property of the
    hash-aggregate, not of how many aggregate expressions it carries.

    Tie coherence: independent per-column min_by reconstitutes
    one real row only if the ordering key is unique. A caller-supplied
    ``order_key`` carries no such guarantee, so when the engine row id
    is present alongside it, every min_by orders on
    ``struct(order_col, _row_id)`` — ties on the caller's key resolve
    to ONE row (the earliest by ingest order) for every column instead
    of a synthetic mix of tied rows. The struct compare is two longs;
    map-side combine and per-column pruning are unaffected.
    """
    # single-parse expr strings: one JVM parse per aggregate
    # instead of the min_by/col/struct py4j chain — same trees, same
    # results, ~3x fewer driver round trips on wide inputs
    if ROW_ID in df.columns and order_col != ROW_ID:
        okey_sql = f"struct({T.sql_ident(order_col)}, {T.sql_ident(ROW_ID)})"
    else:
        okey_sql = T.sql_ident(order_col)
    aggs = [F.expr(f"min_by({T.sql_ident(c)}, {okey_sql})").alias(c)
            for c in df.columns]
    return df.groupBy(key.alias("_dedup_k")).agg(*aggs).drop("_dedup_k")


def connected_components(edges: DataFrame, max_iter: int = 50,
                         driver_max_edges: int = 2_000_000) -> DataFrame:
    """Connected components: adaptive driver union-find / distributed
    large-star/small-star contraction.

    ``edges``: DataFrame[src: long, dst: long] (undirected). Returns
    DataFrame[id: long, component: long] where component = min node id
    reachable.

    Near-dup candidate graphs are a small fraction of the corpus (only
    rows whose bucket collided AND passed signature verification), so up
    to ``driver_max_edges`` the component step runs as an in-driver
    union-find over the already-materialized edge list — no per-iteration
    shuffles. Above the bound it switches to distributed alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): O(log^2 n) rounds regardless
    of graph diameter — unlike naive min-label propagation, a chain
    component (a drift of edits, each a near-dup of the next) converges
    in logarithmic rounds, not linear. Each round localCheckpoints to truncate lineage.
    The edge list itself is always computed distributedly.
    """
    # normalize column names positionally: callers may pass any
    # 2-column (src, dst) frame, and the pandas probe below reads by
    # name
    edges = edges.toDF("src", "dst")
    # one-job probe: fetch up to the bound + 1; small graphs (the common
    # case) never pay a separate count action. Arrow toPandas, not
    # collect: per-Row pickling of a bound-sized edge list (2M rows)
    # costs seconds on the driver; one Arrow frame + python-int lists
    # is ~10x cheaper (guide §6 "Arrow for driver transfers").
    # bounded_pull fetches the probe in a single collect job (an
    # incremental take scale-up cost 3 jobs per invocation at sf0.1).
    probe = bounded_pull(edges, driver_max_edges + 1)
    if len(probe) <= driver_max_edges:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        nodes: set[int] = set()
        for s, d in zip(probe["src"].tolist(), probe["dst"].tolist()):
            nodes.add(s); nodes.add(d)
            a, b = find(s), find(d)
            if a != b:
                if a > b:
                    a, b = b, a
                parent[b] = a  # min-id root
        import pandas as pd

        spark = edges.sparkSession
        if not nodes:
            return spark.createDataFrame([], "id long, component long")
        # Arrow path: one pandas frame beats per-row Row conversion for
        # the ~10^5-label graphs this bound admits
        node_list = list(nodes)
        frame = pd.DataFrame({
            "id": pd.Series(node_list, dtype="int64"),
            "component": pd.Series([find(x) for x in node_list],
                                   dtype="int64"),
        })
        # below spark.sql.execution.arrow.localRelationThreshold (48MB)
        # this is a LocalTableScan — the broadcast build reads it driver
        # -side with no scan job (verified in the audited plan)
        return spark.createDataFrame(frame)

    return _star_contraction(edges, max_iter)


def _canon_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set as distinct (a < b) pairs, self-loops dropped."""
    return (
        e.select(F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _star_contraction(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is a
    fixpoint of min-rooted stars; labels read directly off the stars.

    large-star (at every node u over its full neighborhood):
        m = min(N(u) + {u}); connect every neighbor v > u to m.
    small-star (at every node u over its smaller neighbors S):
        m = min(S + {u}); connect u and every v in S to m.
    Both preserve connectivity and strictly shrink star height; the
    alternation converges in O(log^2 n) rounds on any graph (chains
    included). Convergence is detected by an aggregate signature
    (count + sum of edge hashes) going stable — one extra cheap round
    instead of an exceptAll anti-join.

    Each round's ``localCheckpoint`` blocks are not replicated and live
    until the frame that holds them is garbage-collected: repeated runs
    in one long-lived session accumulate checkpoint storage until then,
    and a lost executor fails downstream actions instead of recomputing
    them (the lineage is truncated).
    """
    # checkpoint the INITIAL edge set too: every round references
    # e twice through sym and again through the join, so an
    # unchckpointed first round re-executes the entire upstream
    # pipeline (signatures + banding + verify over the full corpus)
    # 6-8x — at 5M docs that alone exceeded a 600s budget.
    # Rounds 2+ were already bounded by the end-of-round checkpoint.
    e = _canon_edges(edges.select(F.col("src").cast("long").alias("src"),
                                  F.col("dst").cast("long").alias("dst"))
                     ).localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        # large-star over symmetric neighborhoods
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        e1 = _canon_edges(large)
        # small-star: orient each edge at its larger endpoint
        ori = e1.select(F.col("b").alias("u"), F.col("a").alias("v"))
        m2 = ori.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            ori.join(m2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .union(m2.select(F.col("u").alias("src"), F.col("m").alias("dst")))
        )
        e = _canon_edges(small).localCheckpoint(eager=True)  # truncate lineage
        # decimal sum: ANSI mode forbids long overflow on the hash sum
        sig = tuple(e.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))).first())
        if sig == prev_sig:
            break
        prev_sig = sig
    # fixpoint edges are (component_min=a, member=b) stars
    return (
        e.select(F.col("b").alias("id"), F.col("a").alias("component"))
        .union(e.select(F.col("a").alias("id"), F.col("a").alias("component")))
        .distinct()
    )


class _BaseDedup(Operator):
    #: ``order_key`` must be UNIQUE per row (primary key / ingest id).
    #: Keep-first materializes the winner as independent per-column
    #: min_by aggregates, which reconstitute one coherent row only
    #: because a unique order id makes every per-column winner come
    #: from the same row; on ties each column could pick a different
    #: tied row. The engine-generated fallback (_row_id) is unique by
    #: construction.
    def __init__(self, input_key: str = "text", order_key: str | None = None):
        self.input_key = input_key
        self.order_key = order_key  # stable "first occurrence" order column
        self.input_keys = (input_key,)
        self.output_keys = ()

    def _ordered(self, df: DataFrame) -> tuple[DataFrame, str]:
        # track whether with_row_id actually ADDS the column: an input
        # that legitimately carries a user _row_id alongside an explicit
        # order_key must keep it through _finish
        self._row_id_added = ROW_ID not in df.columns
        if self.order_key and self.order_key in df.columns:
            if self.order_key == ROW_ID:
                return df, ROW_ID
            # attach the engine row id as a keep-first tie-breaker: the
            # caller's order_key SHOULD be unique, but nothing enforces
            # it, and on ties independent per-column min_by would
            # otherwise stitch a synthetic row (see _keep_first)
            return with_row_id(df), self.order_key
        return with_row_id(df), ROW_ID

    def _finish(self, out: DataFrame, order_col: str) -> DataFrame:
        """Drop the engine-added order/tie-break column (never user
        columns)."""
        if (ROW_ID in out.columns and self.order_key != ROW_ID
                and getattr(self, "_row_id_added", True)):
            return out.drop(ROW_ID)
        return out


@OPERATOR_REGISTRY.register()
class HashDeduplicateFilter(_BaseDedup):
    """Exact dedup on md5/sha2/xxhash of one or more concatenated columns.

    Reference: general_text/filter/hash_deduplicate_filter.py:62-92.
    """

    def __init__(self, input_keys: list[str] | str = "text", method: str = "md5",
                 order_key: str | None = None):
        keys = [input_keys] if isinstance(input_keys, str) else list(input_keys)
        super().__init__(keys[0], order_key)
        self.keys = keys
        self.method = method
        self.input_keys = tuple(keys)

    def _hash(self) -> Column:
        joined = F.concat_ws("", *[F.col(k) for k in self.keys])
        if self.method == "md5":
            return F.md5(joined)
        if self.method == "sha256":
            return F.sha2(joined, 256)
        if self.method == "xxh":
            return F.xxhash64(joined).cast("string")
        raise ValueError(f"unknown hash method {self.method!r}")

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        df, order_col = self._ordered(df)
        return self._finish(_keep_first(df, self._hash(), order_col), order_col)


@OPERATOR_REGISTRY.register()
class IncrementalHashDedupFilter(HashDeduplicateFilter):
    """Dedup a NEW batch against an EXISTING corpus, then within itself:
    ``run(new_df, existing=corpus_df)``.

    The daily-increment pattern for a 100 TB corpus: yesterday's corpus
    never re-shuffles — only its content digests ship, as the build side
    of a left_anti join (in production the digest table is written once,
    bucketed by hash, so the anti-join is a bucket-local probe). The
    in-batch keep-first is the same single window-over-hash as
    :class:`HashDeduplicateFilter`.
    """

    def run(self, df: DataFrame, existing: DataFrame | None = None,
            **kwargs: Any) -> DataFrame:
        if existing is None:
            raise ValueError("IncrementalHashDedupFilter needs existing=")
        h = self._hash()
        seen = existing.select(self._hash().alias("_seen_h")).distinct()
        df, order_col = self._ordered(df)
        fresh = (
            df.withColumn("_seen_h", h)
            .join(seen, "_seen_h", "left_anti")
            .drop("_seen_h")
        )
        return self._finish(_keep_first(fresh, h, order_col), order_col)


@OPERATOR_REGISTRY.register()
class CCNetDeduplicateFilter(_BaseDedup):
    """CCNet-style dedup: normalize (lowercase, strip digits/punct/space
    runs) then exact-hash. Reference: text_pt/filter/ccnet_deduplicate_filter.py:78.
    """

    @staticmethod
    def normalize(c: Column) -> Column:
        c = F.lower(c)
        c = F.regexp_replace(c, r"[0-9]+", "")
        c = F.regexp_replace(c, r"[^\p{L}\s]", "")
        return T.squash_spaces(c)

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        df, order_col = self._ordered(df)
        return self._finish(
            _keep_first(df, F.md5(self.normalize(F.col(self.input_key))), order_col),
            order_col)


@OPERATOR_REGISTRY.register()
class NgramHashDeduplicateFilter(_BaseDedup):
    """Dedup on the md5 of the sorted distinct char n-gram set — catches
    reordered/weakly-edited duplicates with identical shingle sets.
    Reference: general_text/filter/ngramhash_deduplicate_filter.py.
    """

    def __init__(self, input_key: str = "text", n: int = 5,
                 order_key: str | None = None):
        super().__init__(input_key, order_key)
        self.n = n

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        df, order_col = self._ordered(df)
        sh = F.array_sort(F.array_distinct(H.char_shingles(F.col(self.input_key), self.n)))
        return self._finish(
            _keep_first(df, F.md5(F.concat_ws("", sh)), order_col), order_col)


class _NearDupBase(_BaseDedup):
    """The near-dup family's one tail: candidate edges -> connected
    components -> keep the first row of each component.

    A subclass implements only :meth:`_edges`; :meth:`_dedup` attaches
    the order id, runs components over the edges, releases every frame
    the subclass pinned, and keeps (or labels) the component minimum.
    """

    #: set (e.g. "cluster_id") to RETURN cluster assignments for every
    #: row instead of filtering to survivors — corpus exploration mode;
    #: survivors are exactly the rows where assign column == order id
    assign_key: str | None = None

    def run(self, df: DataFrame, **kwargs: Any) -> DataFrame:
        df, order_col = self._ordered(df)
        return self._dedup(df, order_col)

    def _edges(self, keyed: DataFrame, pins: list[DataFrame]) -> DataFrame:
        """DataFrame[src, dst] of verified near-duplicate ``_nd_id``
        pairs among ``keyed``'s rows. Frames persisted for several reads
        are appended to ``pins``; :meth:`_dedup` releases them."""
        raise NotImplementedError

    def _dedup(self, df: DataFrame, order_col: str) -> DataFrame:
        """Near-dup ``df``, already ordered by :meth:`_ordered` on
        ``order_col``.

        ``_nd_id`` is the order id as a long. Only rows with a non-NULL
        id reach :meth:`_edges`: a NULL order key has no place in the
        keep-first order, so such a row never joins a cluster and
        survives as a singleton. :func:`connected_components` consumes
        the edge lineage eagerly (driver union-find probe, or per-round
        localCheckpoint contraction), so every pinned frame is released
        before returning and no cached block outlives the run.
        """
        df = df.withColumn("_nd_id", F.expr(f"cast({T.sql_ident(order_col)} as long)"))
        pins: list[DataFrame] = []
        try:
            comp = connected_components(
                self._edges(df.where("_nd_id IS NOT NULL"), pins))
        finally:
            for p in pins:
                p.unpersist()
        return self._keep_components(df, comp, order_col)

    @staticmethod
    def _window_edges(banded: DataFrame, verify: Column) -> DataFrame:
        """Distinct verified (src, dst) edges of the LSH buckets of
        ``banded``: DataFrame[_nd_id, _v, band, h], one row per (row,
        band) carrying the row's signature ``_v``.

        One shuffle on (band, h) feeds two window aggregates in the same
        stage: the bucket anchor ``_a = min(_nd_id)`` with its signature
        ``_a_v`` over (band, h), and the identical-signature
        representative ``_rep = min(_nd_id)`` over (band, h, _v). Each row
        then emits at most one edge:
          - (_rep, _nd_id) when it is not its own rep: identical
            signatures link unconditionally;
          - (_a, _nd_id) when it is its own rep, is not the anchor, and
            ``verify`` — a predicate over the anchor's signature ``_a_v``
            and the row's ``_v`` — holds.
        That is a verified star from the bucket minimum over the bucket's
        distinct signatures plus rep edges for their copies. The bucket
        minimum is always a rep, and identical signatures share every
        bucket, so a rep within a bucket is the global min id of its
        signature; no exact-signature collapse pass is needed first.

        Degenerate corpora (a billion byte-identical docs in one bucket)
        stream through the window's external buffer, which spills past
        ``spark.sql.windowExec.buffer.spill.threshold`` rows instead of
        holding the bucket in one array. A member that verifies against
        another member but not against the anchor is not linked by that
        bucket; the reference's datasketch-LSH greedy insert does not
        verify at all, so precision is still >= reference.
        """
        # the (band, h) window sits below the (band, h, _v) one
        # (TransposeWindow), so both read one hashpartitioning(band, h);
        # ordering the whole-bucket frame by _v lets one sort on
        # (band, h, _v) serve both. min_by over plain columns, not
        # min(struct(_nd_id, _v)): a struct argument is pre-projected
        # below the exchange and would ship every signature twice.
        bucket = ("PARTITION BY band, h ORDER BY _v ROWS BETWEEN "
                  "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING")
        rows = banded.selectExpr(
            "_nd_id", "_v",
            f"min(_nd_id) OVER ({bucket}) AS _a",
            f"min_by(_v, _nd_id) OVER ({bucket}) AS _a_v",
            "min(_nd_id) OVER (PARTITION BY band, h, _v) AS _rep")
        nd, rep, anchor = F.col("_nd_id"), F.col("_rep"), F.col("_a")
        src = F.when(nd != rep, rep).when((nd != anchor) & verify, anchor)
        return (rows.select(src.alias("src"), nd.alias("dst"))
                .where("src IS NOT NULL").distinct())

    def _keep_components(self, df: DataFrame, comp: DataFrame,
                         order_col: str) -> DataFrame:
        """Keep-first without a window or aggregate: ``comp`` is
        DataFrame[id, component] from :func:`connected_components`, whose
        label IS the min order-id of the cluster (union-find min-root /
        min-label propagation), so "first occurrence" == rows of ``df``
        whose own ``_nd_id`` equals their component label; unclustered
        rows (left-join miss, NULL ``_nd_id`` included) stay."""
        out = df.join(comp.toDF("_nd_id", "component"), "_nd_id", "left")
        if self.assign_key:
            # assignment mode: keep every row, expose its cluster label
            # (= min order-id of its near-dup component; singletons get
            # their own id, NULL for a NULL order key) instead of
            # filtering
            return self._finish(
                out.withColumn(self.assign_key,
                               F.expr("coalesce(component, _nd_id)"))
                .drop("component", "_nd_id"),
                order_col)
        return self._finish(
            out.filter("component IS NULL OR component = _nd_id")
            .drop("component", "_nd_id"),
            order_col)


@OPERATOR_REGISTRY.register()
class MinHashDeduplicateFilter(_NearDupBase):
    """MinHash + banded LSH near-dup removal, keep-earliest semantics.

    Reference: general_text/filter/minhash_deduplicate_filter.py:55-89
    (datasketch MinHash(128) + LSH(0.9), greedy insert). Ours: 64-perm
    MinHash over char-5-gram shingles, 4 bands x 16 rows (collision
    threshold ~(1/4)^(1/16) = 0.92), candidate pairs verified by
    signature-estimated Jaccard >= threshold, connected components, keep
    min order-id per component. Signatures are an Arrow pandas UDF and
    band keys are SQL expressions (functions/hashing.py).
    """

    def __init__(self, input_key: str = "text", threshold: float = 0.9,
                 num_perm: int = 64, num_bands: int | str = 4,
                 shingle_n: int = 5, order_key: str | None = None,
                 hash_impl: str = "fast", assign_key: str | None = None):
        super().__init__(input_key, order_key)
        self.assign_key = assign_key
        self.threshold = threshold
        self.num_perm = num_perm
        if num_bands == "auto":
            # S-curve-optimal banding for the threshold — what the
            # reference's datasketch MinHashLSH backend auto-tunes to
            # (may use fewer than num_perm rows: b*r <= num_perm)
            self.num_bands, self.rows_per_band = H.optimal_bands(
                threshold, num_perm)
        else:
            self.num_bands = num_bands
            self.rows_per_band = num_perm // num_bands
        self.shingle_n = shingle_n
        #: 'fast' = splitmix64 numpy rolling hash (production);
        #: 'md5' = md5-based shingle hashes + plain band keys, bit-exactly
        #: reproducible in external SQL engines (the oracle contract)
        self.hash_impl = hash_impl

    def _kernels(self) -> tuple[Any, str]:
        """(signature UDF, band-key SQL over ``_sig``) for ``hash_impl``."""
        if self.hash_impl == "md5":
            return (H.minhash_md5_udf(self.num_perm, self.shingle_n),
                    H.band_keys_plain_sql(
                        "_sig", self.num_bands, self.rows_per_band))
        return (H.minhash64_udf(self.num_perm, self.shingle_n),
                H.band_hashes_sql("_sig", self.num_bands, self.rows_per_band))

    def _est_sql(self, a: str, b: str) -> str:
        """Signature-estimated Jaccard of signature columns ``a``, ``b``."""
        return (f"cast(size(filter(zip_with({a}, {b}, (x, y) -> x = y), "
                f"eq -> eq)) as double) / {int(self.num_perm)}")

    def _edges(self, keyed: DataFrame, pins: list[DataFrame]) -> DataFrame:
        sig_udf, bands_sql = self._kernels()
        # project-then-dedup: only (id, signature) flows through banding,
        # verify, and components — the scan on this branch reads just
        # [order_col, input_key]; full rows join back on survivors only.
        # spread_for_udf: under-split inputs (single-row-group files)
        # would run the signature kernel on one core; spreading the narrow
        # projection is a no-op whenever the scan already parallelizes.
        sigs = spread_for_udf(
            keyed.select("_nd_id", self.input_key)).select(
            F.col("_nd_id"), sig_udf(F.col(self.input_key)).alias("_sig"))
        # inline() = explode + struct-splat in one generator select; the
        # signature rides along as _v (num_perm * 8 bytes per banded row)
        banded = sigs.selectExpr("_nd_id", "_sig AS _v", f"inline({bands_sql})")
        return self._window_edges(banded, F.expr(
            f"{self._est_sql('_a_v', '_v')} >= "
            f"cast({float(self.threshold)!r} as double)"))


@OPERATOR_REGISTRY.register()
class SimHashDeduplicateFilter(_NearDupBase):
    """SimHash near-dup removal via band blocking + Hamming verify.

    Reference: general_text/filter/simhash_deduplicate_filter.py:56-91
    (O(n^2) greedy). Ours: 64-bit simhash (Arrow pandas UDF), 4x16-bit bands
    (pigeonhole guarantees recall for Hamming <= 3), xor/bit_count
    verify, components, keep earliest.
    """

    def __init__(self, input_key: str = "text", max_hamming: int = 3,
                 shingle_n: int = 4, order_key: str | None = None,
                 hash_impl: str = "fast", assign_key: str | None = None):
        super().__init__(input_key, order_key)
        self.assign_key = assign_key
        self.max_hamming = max_hamming
        self.shingle_n = shingle_n
        #: 'fast' = splitmix64 rolling hash; 'md5' = md5-based 60-bit
        #: shingle hashes, reproducible in external SQL (oracle contract)
        self.hash_impl = hash_impl

    def _edges(self, keyed: DataFrame, pins: list[DataFrame]) -> DataFrame:
        sim_udf = (H.simhash_md5_udf(self.shingle_n) if self.hash_impl == "md5"
                   else H.simhash64_udf(self.shingle_n))
        # project-then-dedup: only (id, simhash) feeds banding + Hamming
        # verify. spread_for_udf: see MinHashDeduplicateFilter — cores-wide
        # signature stage on under-split inputs, no-op otherwise.
        sims = spread_for_udf(
            keyed.select("_nd_id", self.input_key)).select(
            F.col("_nd_id"), sim_udf(F.col(self.input_key)).alias("_v"))
        banded = sims.selectExpr(
            "_nd_id", "_v", f"inline({H.simhash_bands_sql('_v')})")
        return self._window_edges(banded, F.expr(
            f"bit_count(_a_v ^ _v) <= {int(self.max_hamming)}"))


@OPERATOR_REGISTRY.register()
class SemDeduplicateFilter(_NearDupBase):
    """Semantic near-dup removal over an embedding column.

    Reference: general_text/filter/sem_deduplicate_filter.py:115-161
    (full N x N cosine matrix). Ours: random-hyperplane LSH (sign bits of
    seeded projections -> band keys, ``V.hyperplane_bands_udf``), exact
    cosine verify on candidates (a JVM-side Column expression),
    components, keep earliest.
    """

    def __init__(self, embedding_key: str = "embedding", eps: float = 0.05,
                 num_planes: int = 16, num_bands: int = 4,
                 order_key: str | None = None, seed: int = 42,
                 assign_key: str | None = None):
        super().__init__(embedding_key, order_key)
        self.assign_key = assign_key
        self.eps = eps
        self.num_planes = num_planes
        self.num_bands = num_bands
        self.seed = seed

    def _edges(self, keyed: DataFrame, pins: list[DataFrame]) -> DataFrame:
        # vectorized sign-bit band keys (functions/vector.py) — the
        # per-plane expression tree is CodegenFallback, ~1000x slower.
        # A NULL or empty embedding has no band keys, so its row never
        # enters a bucket and survives as a singleton.
        bands_udf = V.hyperplane_bands_udf(self.num_planes, self.num_bands, self.seed)
        emb = F.col(self.input_key)
        banded = keyed.select(
            "_nd_id", emb.alias("_v"),
            F.posexplode(bands_udf(emb)).alias("band", "h"))
        return self._window_edges(
            banded, V.cosine(F.col("_a_v"), F.col("_v")) >= 1.0 - self.eps)


@OPERATOR_REGISTRY.register()
class IncrementalMinHashDedupFilter(MinHashDeduplicateFilter):
    """NEAR-dup a NEW batch against an EXISTING corpus, then within
    itself: ``run(new_df, existing=corpus_df)``.

    The daily-increment companion of :class:`IncrementalHashDedupFilter`
    for non-byte-identical duplication (re-crawls, light edits,
    boilerplate variants). Cross-corpus candidates come from a band-hash
    equi-join NEW x EXISTING — the existing corpus ships only its
    (collapsed) signature/band table, never re-shuffles its rows — and
    are confirmed by signature-estimated Jaccard >= threshold. Surviving
    fresh rows then run the standard in-batch MinHash-LSH dedup.
    """

    def run(self, df: DataFrame, existing: DataFrame | None = None,
            **kwargs: Any) -> DataFrame:
        if existing is None:
            raise ValueError("IncrementalMinHashDedupFilter needs existing=")
        sig_udf, bands_sql = self._kernels()
        df, order_col = self._ordered(df)
        new_sigs = (
            df.select(F.col(order_col).cast("long").alias("_nid"),
                      self.input_key)
            .withColumn("_sig", sig_udf(F.col(self.input_key)))
            .select("_nid", "_sig").persist()
        )
        # existing side: one representative per DISTINCT signature (the
        # same degenerate-corpus armor; a billion identical archive rows
        # contribute one band row each)
        ex_sigs = (
            existing.select(sig_udf(F.col(self.input_key)).alias("_sig"))
            .withColumn("_eid", F.expr(
                "md5(concat_ws(',', transform(_sig, x -> cast(x as string))))"))
            .dropDuplicates(["_eid"])
            .persist()
        )

        def banded(src: DataFrame, idc: str):
            return src.select(
                idc, F.explode(F.expr(bands_sql)).alias("bh"),
            ).select(idc, F.col("bh.band").alias("band"),
                     F.col("bh.h").alias("h"))

        cand = (banded(new_sigs, "_nid")
                .join(banded(ex_sigs, "_eid"), ["band", "h"])
                .select("_nid", "_eid").distinct())
        est = (cand.join(new_sigs, "_nid")
               .join(ex_sigs.select("_eid", F.col("_sig").alias("_esig")),
                     "_eid")
               .withColumn("_est", F.expr(self._est_sql("_sig", "_esig"))))
        # eager localCheckpoint scopes the two signature caches to THIS
        # invocation (tests/test_cache_scope.py): matched is the last
        # consumer of new_sigs/ex_sigs, and both are deterministic plans
        # a later run() over the same input would otherwise be silently
        # served by the CacheManager (sameResult match). The checkpoint
        # holds one long per matched row — strictly smaller than the
        # signature caches it releases; the returned survivors plan
        # references the checkpoint, never the caches.
        # Lifetime: the checkpoint blocks sit in the executors' block
        # managers until the driver garbage-collects the returned plan
        # (Spark's ContextCleaner then removes them). They are not
        # replicated: losing an executor loses its blocks, and the
        # survivors plan then fails instead of recomputing.
        # The finally releases both caches on a failed job too.
        try:
            matched = (est.filter(F.col("_est") >= self.threshold)
                       .select("_nid").distinct()
                       .localCheckpoint(eager=True))
        finally:
            new_sigs.unpersist()
            ex_sigs.unpersist()
        fresh = (df.withColumn("_nid", F.col(order_col).cast("long"))
                 .join(matched, "_nid", "left_anti").drop("_nid"))
        # _dedup, not run(): a second _ordered() would see the _row_id
        # added above as a user column and keep it in the output
        return self._dedup(fresh, order_col)


def _bloom_positions(h1, h2, m: int, k: int):
    """(n, k) int64 bit positions via Kirsch-Mitzenmacher double hashing.

    pos_i = (h1 + i * (h2 | 1)) & (m - 1) — ``m`` is a power of two, so
    the mask keeps every position non-negative; int64 overflow wraps
    identically (C semantics) on the build and probe sides, which is all
    membership exactness needs. ``h2 | 1`` forces an odd stride so the k
    probes never collapse onto one position.
    """
    import numpy as np

    stride = np.bitwise_or(h2, np.int64(1))
    i = np.arange(k, dtype=np.int64)
    return (h1[:, None] + i[None, :] * stride[:, None]) & np.int64(m - 1)


@OPERATOR_REGISTRY.register()
class BloomIncrementalDedupFilter(HashDeduplicateFilter):
    """Incremental dedup with a Bloom-filter prefilter:
    ``run(new_df, existing=corpus_df)``.

    Result is IDENTICAL to :class:`IncrementalHashDedupFilter` by
    construction — the Bloom filter only PREFILTERS. A bloom-negative
    row is provably absent from the corpus (no false negatives: both
    sides derive positions from the same JVM ``xxhash64`` pair with the
    same numpy arithmetic) and skips the confirm join entirely; the
    bloom-positive tail (true duplicates + an ~fpr slice of the batch)
    is confirmed EXACTLY against the corpus digests. False positives
    therefore cost a join probe, never a wrong answer.

    Why this exists next to the plain anti-join: at 100 TB the corpus
    digest set itself is too large to broadcast and anti-joining the
    whole new batch against it shuffles both sides. Here the corpus is
    read twice but SHUFFLED never: (1) a map-only pass folds each
    partition into an m-bit array, OR-merged with ``treeReduce`` (driver
    receives m/8 bytes — independent of corpus size); (2) a map-only
    broadcast semi-join extracts just the digests matching the positive
    tail. Everything that crosses the cluster after the scan is bounded
    by the bloom size or the duplicate tail. With the default m=2^27
    bits / k=7 probes the filter is 16 MiB and holds ~10M digests at
    fpr < 1%; size m at ~13 bits per corpus key for that regime.

    When the positive tail exceeds ``broadcast_max_digests`` (a
    duplicate-heavy batch), the confirm step falls back to the plain
    shuffled anti-join — correct at any size, just no longer map-only.
    """

    def __init__(self, input_keys: list[str] | str = "text",
                 order_key: str | None = None, bits_log2: int = 27,
                 k: int = 7, broadcast_max_digests: int = 2_000_000):
        super().__init__(input_keys, "xxh", order_key)
        if not (10 <= bits_log2 <= 36):
            raise ValueError("bits_log2 must be in [10, 36]")
        self.bits_log2 = bits_log2
        self.m = 1 << bits_log2
        self.k = k
        self.broadcast_max_digests = broadcast_max_digests

    def _hash_pair(self) -> tuple[Column, Column]:
        joined = F.concat_ws("", *[F.col(c) for c in self.keys])
        return F.xxhash64(joined), F.xxhash64(joined, F.lit(0x9E3779B9))

    def build_filter(self, existing: DataFrame) -> bytes:
        """Materialize the corpus bloom (m/8 bytes) for cross-run reuse.

        The production daily-increment shape: build once over today's
        full corpus, persist the bytes next to the digest table, and
        pass them back as ``run(batch, existing=digests, bloom=...)``
        every day until the corpus grows past the sized-for capacity —
        rebuilding a 16 MiB filter is one map-only pass, but not one
        you need per increment. The bytes are only valid for the same
        (input_keys, bits_log2, k) configuration and for any ``existing``
        that is a SUBSET of what was built over (a superset bloom adds
        false positives — extra exact probes — never false negatives).
        """
        return self._build_bloom(existing)

    def _build_bloom(self, existing: DataFrame) -> bytes:
        h1, h2 = self._hash_pair()
        return self.build_filter_from_hashes(
            existing.select(h1.alias("h1"), h2.alias("h2")))

    def build_filter_from_hashes(self, hdf: DataFrame) -> bytes:
        """Bloom build over a precomputed hash-pair frame
        (DataFrame[h1 long, h2 long]) — one map-only pass: per-partition
        bit arrays, treeReduce OR. This is the digest-table path: a
        persistent dedup state stores (h1, h2) per kept row, so the
        filter can be rebuilt (or incremented) without the original
        text."""
        import numpy as np

        m, k = self.m, self.k
        hdf = hdf.select("h1", "h2")

        def build(batches):
            import numpy as np
            bits = np.zeros(m >> 3, dtype=np.uint8)
            import pandas as pd
            seen_any = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen_any = True
                pos = _bloom_positions(pdf["h1"].to_numpy(np.int64),
                                       pdf["h2"].to_numpy(np.int64), m, k)
                np.bitwise_or.at(bits, pos >> 3,
                                 (np.uint8(1) << (pos & 7).astype(np.uint8)))
            if seen_any:
                yield pd.DataFrame({"bloom": [bits.tobytes()]})

        partial = hdf.mapInPandas(build, schema="bloom binary")
        arrs = partial.rdd.map(
            lambda r: __import__("numpy").frombuffer(r[0], dtype="uint8"))
        try:
            merged = arrs.treeReduce(lambda a, b: np.bitwise_or(a, b))
        except ValueError:  # empty existing corpus -> empty filter
            merged = np.zeros(m >> 3, dtype=np.uint8)
        return merged.tobytes()

    def run(self, df: DataFrame, existing: DataFrame | None = None,
            bloom: bytes | None = None, digests: DataFrame | None = None,
            **kwargs: Any) -> DataFrame:
        """``existing`` = corpus rows (same columns as ``df``), or pass
        ``digests`` = a precomputed hash-pair frame (DataFrame[h1 long,
        h2 long], one row per corpus key — what a persistent dedup
        state stores) instead; ``bloom`` = reusable filter bytes from
        :meth:`build_filter`/:meth:`build_filter_from_hashes`. A bloom
        that over-approximates the corpus (stale, or rebuilt after a
        partial failure) is SAFE — extra positives only cost exact
        probes — which is what makes crash-resume of persistent state
        trivial."""
        if existing is None and digests is None:
            raise ValueError(
                "BloomIncrementalDedupFilter needs existing= or digests=")
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        if bloom is not None and len(bloom) != self.m >> 3:
            raise ValueError(
                f"bloom has {len(bloom)} bytes; bits_log2={self.bits_log2} "
                f"needs {self.m >> 3} — was it built with this config?")
        if bloom is not None:
            bloom_bytes = bloom
        elif digests is not None:
            bloom_bytes = self.build_filter_from_hashes(digests)
        else:
            bloom_bytes = self._build_bloom(existing)
        bc = df.sparkSession.sparkContext.broadcast(bloom_bytes)
        m, k = self.m, self.k

        @pandas_udf("boolean")
        def member(h1: pd.Series, h2: pd.Series) -> pd.Series:
            bits = np.frombuffer(bc.value, dtype=np.uint8)
            if not len(h1):
                return pd.Series([], dtype=bool)
            pos = _bloom_positions(h1.to_numpy(np.int64),
                                   h2.to_numpy(np.int64), m, k)
            hit = (bits[pos >> 3] &
                   (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
            return pd.Series(hit.all(axis=1))

        h = self._hash()
        h1, h2 = self._hash_pair()
        df, order_col = self._ordered(df)
        df2 = (df.withColumn("_seen_h", h)
                 .withColumn("_maybe", member(h1, h2)))

        if digests is not None:
            seen = digests.select(F.col("h1").cast("string").alias("_seen_h"))
        else:
            seen = existing.select(self._hash().alias("_seen_h"))
        pos = df2.filter(F.col("_maybe"))
        neg = df2.filter(~F.col("_maybe"))

        pos_digests = pos.select("_seen_h").distinct()
        # bounded action: the positive tail is |true dups| + ~fpr*|batch|
        if pos_digests.limit(self.broadcast_max_digests + 1).count() \
                <= self.broadcast_max_digests:
            confirmed = (seen.join(F.broadcast(pos_digests), "_seen_h",
                                   "left_semi").distinct())
            fresh_pos = pos.join(F.broadcast(confirmed), "_seen_h",
                                 "left_anti")
        else:  # duplicate-heavy batch: correct-at-any-size fallback
            fresh_pos = pos.join(seen.distinct(), "_seen_h", "left_anti")

        fresh = fresh_pos.unionByName(neg)
        out = _keep_first(fresh, F.col("_seen_h"), order_col)
        return self._finish(out.drop("_seen_h", "_maybe"), order_col)
