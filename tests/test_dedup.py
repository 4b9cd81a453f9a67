"""Dedup semantics: first-occurrence-wins, near-dup clustering."""

import pytest
from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [(10, "same text"), (5, "same text"), (7, "other")], ["id", "text"])
    out = get_operator("HashDeduplicateFilter",
                       {"input_keys": "text", "order_key": "id"}).run(df)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [5, 7]  # min id of each duplicate group survives


def test_exact_dedup_multi_column(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "y")], ["id", "t1", "t2"])
    out = get_operator("HashDeduplicateFilter",
                       {"input_keys": ["t1", "t2"], "order_key": "id"}).run(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_ccnet_dedup_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World 123!"), (2, "hello world"), (3, "different")],
        ["id", "text"])
    out = get_operator("CCNetDeduplicateFilter",
                       {"input_key": "text", "order_key": "id"}).run(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_minhash_removes_near_dups(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to find some food for its cubs " * 3)
    near = base.replace("green", "blue")
    rows = [(1, base), (2, near), (3, "a completely different text about "
            "spark engines and distributed computation at large scale " * 4)]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = get_operator("MinHashDeduplicateFilter",
                       {"input_key": "text", "order_key": "id",
                        "threshold": 0.7}).run(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_simhash_removes_near_dups(spark):
    # long, varied text: a one-token edit flips only a few of the 64
    # simhash bits (simhash is coarse on short texts by construction)
    base = " ".join(f"alpha{i} beta{i*7%97} gamma{i*13%83}" for i in range(120))
    near = base.replace("alpha57", "alphaXX")
    other = " ".join(f"delta{i*3%71} epsilon{i*11%89}" for i in range(120))
    rows = [(1, base), (2, near), (3, other)]
    df = spark.createDataFrame(rows, ["id", "text"])
    out = get_operator("SimHashDeduplicateFilter",
                       {"input_key": "text", "order_key": "id"}).run(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_sem_dedup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-identical direction
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["id", "embedding"])
    df = df.withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = get_operator("SemDeduplicateFilter",
                       {"embedding_key": "embedding", "order_key": "id",
                        "eps": 0.01, "num_planes": 8, "num_bands": 4}).run(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_connected_components(spark):
    from dataflow_spark.operators.filters.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)], ["src", "dst"])
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[5] == comp[6] == 5
    assert comp[8] == comp[9] == comp[10] == comp[11] == 8


def test_near_dup_bucket_cap_degenerate_corpus(spark):
    """10k identical docs share one signature: the exact-signature
    collapse caps their LSH bucket at one rep (N-1 exact edges, not
    N^2/2 pairs) and the cluster collapses to its first row in bounded
    time."""
    import time

    from dataflow_spark.operators.filters.dedup import MinHashDeduplicateFilter

    n = 10_000
    df = spark.range(n).selectExpr(
        "id AS doc_id",
        "'the same exact document body repeated verbatim for every row' AS text")
    op = MinHashDeduplicateFilter(order_key="doc_id")
    t0 = time.time()
    out = op.run(df)
    kept = out.select("doc_id").collect()
    assert [r.doc_id for r in kept] == [0]
    assert time.time() - t0 < 120


def test_simhash_identical_docs_collapse(spark):
    """Identical docs collapse to the first row through the
    exact-signature edges, whatever their buckets hold."""
    from dataflow_spark.operators.filters.dedup import SimHashDeduplicateFilter

    dup_rows = [(i, "the very same document body for every row")
                for i in range(6)]
    ddf = spark.createDataFrame(dup_rows, ["doc_id", "text"])
    op = SimHashDeduplicateFilter(order_key="doc_id")
    assert [r.doc_id for r in op.run(ddf).select("doc_id").collect()] == [0]


def test_star_contraction_matches_union_find(spark):
    """Distributed large-star/small-star path (forced via
    driver_max_edges=0) agrees with the driver union-find on chains
    (the high-diameter shape min-label propagation struggles with),
    cliques, stars, and a seeded random graph."""
    import random

    from dataflow_spark.operators.filters.dedup import connected_components

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(100, 400)]          # diameter 300
    clique = [(a, b) for a in range(500, 510) for b in range(a + 1, 510)]
    star = [(600, v) for v in range(601, 640)]
    rand = [(rng.randrange(0, 80), rng.randrange(0, 80)) for _ in range(120)]
    edges = [(a, b) for a, b in chain + clique + star + rand if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])

    want = {r["id"]: r["component"]
            for r in connected_components(df).collect()}          # driver path
    got = {r["id"]: r["component"]
           for r in connected_components(df, driver_max_edges=0).collect()}
    assert got == want
    # chain label is its min despite diameter >> round count
    assert got[400] == 100


def test_minhash_md5_mode_matches_fast_semantics(spark):
    """hash_impl='md5' (the oracle-replicable family) finds the same
    obvious near-dup clusters as the production splitmix64 family."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to find some food for its cubs " * 3)
    # near-dup with jaccard ~0.99 (one char dropped): solidly above the
    # 0.9 LSH threshold for ANY hash family (at j~=0.9 band collision is
    # a coin flip, so a word-swap pair would be family-dependent)
    rows = [(1, base), (2, base[:-1]),
            (3, "a completely different text about spark engines and "
                "distributed computation at large scale " * 4)]
    df = spark.createDataFrame(rows, ["id", "text"])
    for impl in ("fast", "md5"):
        out = get_operator("MinHashDeduplicateFilter",
                           {"input_key": "text", "order_key": "id",
                            "hash_impl": impl}).run(df)
        assert sorted(r["id"] for r in out.collect()) == [1, 3], impl


def test_simhash_md5_mode_matches_fast_semantics(spark):
    base = ("large scale distributed data processing with apache spark "
            "query optimization and columnar storage " * 5)
    rows = [(1, base), (2, base + "x"), (3, "entirely unrelated content "
            "about cooking pasta with tomato sauce and fresh basil " * 5)]
    df = spark.createDataFrame(rows, ["id", "text"])
    for impl in ("fast", "md5"):
        out = get_operator("SimHashDeduplicateFilter",
                           {"input_key": "text", "order_key": "id",
                            "hash_impl": impl}).run(df)
        assert sorted(r["id"] for r in out.collect()) == [1, 3], impl


def test_minhash_md5_handles_empty_and_short(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "ab"), (4, "ab")], ["id", "text"])
    out = get_operator("MinHashDeduplicateFilter",
                       {"input_key": "text", "order_key": "id",
                        "hash_impl": "md5"}).run(df)
    # "" and None hash identically ([0]*perm) -> first (id 1) survives;
    # "ab" dupes collapse to id 3
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_minhash_md5_udf_matches_kernel(spark):
    """The memoized iterator-form UDF must be bit-identical to the
    module-level ``minhash_md5_one`` oracle kernel — duplicates in the
    batch exercise the text memo, shared grams the gram memo, and the
    short/empty rows the edge paths."""
    from dataflow_spark.functions import hashing as H

    texts = ["the quick brown fox jumps over the lazy dog",
             "the quick brown fox jumps over the lazy cat",
             "the quick brown fox jumps over the lazy dog",  # text-memo hit
             "ab", "", "xyzzy plugh"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["id", "text"])
    got = {r["id"]: list(r["sig"]) for r in df.select(
        "id", H.minhash_md5_udf(64, 5)(F.col("text")).alias("sig")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == H.minhash_md5_one(t, num_perm=64, n=5), t


def test_simhash_md5_udf_matches_kernel(spark):
    """Same bit-identity pin for the memoized simhash md5 UDF."""
    from dataflow_spark.functions import hashing as H

    texts = ["large scale distributed data processing with spark",
             "large scale distributed data processing with sparc",
             "large scale distributed data processing with spark",
             "ab", "", "xyzzy plugh"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["id", "text"])
    got = {r["id"]: r["sh"] for r in df.select(
        "id", H.simhash_md5_udf(4)(F.col("text")).alias("sh")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == H.simhash_md5_one(t, n=4), t


def test_near_dup_degenerate_mass_duplicates(spark):
    """5000 byte-identical docs + 2 distinct: the copies fill one
    window partition per band (streamed through the window's spillable
    buffer, never one array in one task), each links to its
    identical-signature representative, and survivors are the 3 true
    representatives."""
    rows = [(i, "exactly the same spam document body repeated verbatim " * 5)
            for i in range(5000)]
    rows += [(5000, "a unique document about distributed query engines " * 5),
             (5001, "another unique document about columnar storage " * 5)]
    df = spark.createDataFrame(rows, ["id", "text"])
    for op_name in ("MinHashDeduplicateFilter", "SimHashDeduplicateFilter"):
        out = get_operator(op_name, {"input_key": "text",
                                     "order_key": "id"}).run(df)
        ids = sorted(r["id"] for r in out.collect())
        assert ids == [0, 5000, 5001], op_name


def test_sem_dedup_degenerate_mass_duplicates(spark):
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(3000)]
    rows += [(3000, [-4.0, 3.0, -2.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    out = get_operator("SemDeduplicateFilter",
                       {"embedding_key": "embedding", "order_key": "id",
                        "eps": 0.01}).run(df)
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [0, 3000]


def test_sem_dedup_null_embedding_rows_survive(spark):
    """A NULL or empty embedding has no band keys: each such row is a
    singleton, never one cluster of every embedding-less row."""
    rows = [(1, [1.0, 0.0, 0.0]), (2, None), (3, [0.0, 1.0, 0.0]),
            (4, None), (5, []), (6, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    out = get_operator("SemDeduplicateFilter",
                       {"embedding_key": "embedding", "order_key": "id"}).run(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4, 5, 6]


def _stage_spill_bytes(spark, group: str) -> int:
    """Bytes spilled (memory + disk) by the stages of job group ``group``.

    A stage id of a job can be missing from the status store: a stage the
    job skipped never ran, and once the session has run more than
    ``spark.ui.retainedStages`` stages the store evicts such entries. A
    missing stage adds nothing, so it can only lower the total."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            if sc.statusTracker().getStageInfo(sid) is None:
                continue
            st = store.lastStageAttempt(sid)
            total += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return total


@pytest.fixture()
def job_group(spark):
    """Run the test's jobs under a fresh job group; yields its id."""
    import uuid

    group = f"test-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, group)
    yield group
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)


@pytest.fixture()
def tiny_window_buffer(spark):
    """Window buffers hold 64 rows and spill beyond, for one test."""
    keys = ("spark.sql.windowExec.buffer.in.memory.threshold",
            "spark.sql.windowExec.buffer.spill.threshold")
    old = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, "64")
    yield
    for k, v in old.items():
        spark.conf.set(k, v)


def test_degenerate_mass_duplicates_survive_window_spill(
        spark, tiny_window_buffer, job_group):
    """The giant-bucket window partitions of the degenerate corpora
    spill (64-row buffers) and the survivors are unchanged."""
    test_near_dup_degenerate_mass_duplicates(spark)
    test_sem_dedup_degenerate_mass_duplicates(spark)
    assert _stage_spill_bytes(spark, job_group) > 0


def _banded(spark, rows):
    return spark.createDataFrame(rows, "_nd_id long, _v long, band int, h long")


def test_window_edges_anchor_fails_verify(spark):
    """Bucket {0, 1, 2}: 1 and 2 share a signature and fail verify
    against the anchor 0. The only edge is the rep edge (1, 2)."""
    from dataflow_spark.operators.filters.dedup import _NearDupBase

    banded = _banded(spark, [(0, 100, 0, 7), (1, 5, 0, 7), (2, 5, 0, 7)])
    edges = _NearDupBase._window_edges(banded,
                                       F.expr("abs(_a_v - _v) <= 3"))
    assert {tuple(r) for r in edges.collect()} == {(1, 2)}


def _star_collapse_edges(rows, verify):
    """Reference edge set: collapse identical signatures to their min id
    (rep, dup edges), then star each bucket of reps from its min id
    over verified members."""
    from collections import defaultdict

    sig = {i: v for i, v, _, _ in rows}
    rep: dict[int, int] = {}
    for i, v in sig.items():
        rep[v] = min(rep.get(v, i), i)
    edges = {(rep[v], i) for i, v in sig.items() if rep[v] != i}
    buckets = defaultdict(set)
    for i, v, band, h in rows:
        if rep[v] == i:
            buckets[(band, h)].add(i)
    for members in buckets.values():
        a = min(members)
        edges |= {(a, m) for m in members if m != a and verify(sig[a], sig[m])}
    return edges


def test_window_edges_match_star_collapse_bruteforce(spark):
    """Seeded random buckets with many identical signatures: the window
    kernel's edges equal collapse-then-star edges exactly."""
    import random

    from dataflow_spark.operators.filters.dedup import _NearDupBase

    rng = random.Random(11)
    ids = list(range(400))
    rng.shuffle(ids)
    sig = {i: rng.randrange(60) for i in ids}
    # band keys are a function of (band, signature), as for real LSH
    key = {(b, v): rng.randrange(8) for b in range(3) for v in range(60)}
    rows = [(i, v, b, key[(b, v)]) for i, v in sig.items() for b in range(3)]
    got = _NearDupBase._window_edges(_banded(spark, rows),
                                     F.expr("abs(_a_v - _v) <= 6"))
    want = _star_collapse_edges(rows, lambda a, b: abs(a - b) <= 6)
    assert {tuple(r) for r in got.collect()} == want
    assert len(want) > 400 - 60  # rep edges and verified star edges


def test_minhash_job_count_guard(spark, job_group):
    """MinHash dedup plus a write over a small seeded corpus runs a
    pinned number of Spark jobs, so a plan regression (an extra cache,
    lookup join or collect in the near-dup tail) fails here and not
    only in the benchmark."""
    import random

    rng = random.Random(5)
    words = [f"w{i}" for i in range(500)]
    bases = [[rng.choice(words) for _ in range(80)] for _ in range(60)]
    rows = []
    for i in range(600):
        doc = list(bases[rng.randrange(60)]) if i % 2 else \
            [rng.choice(words) for _ in range(80)]
        doc[rng.randrange(80)] = rng.choice(words)  # one-word edit
        rows.append((i, " ".join(doc)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = get_operator("MinHashDeduplicateFilter",
                       {"input_key": "text", "order_key": "doc_id"}).run(df)
    out.write.format("noop").mode("overwrite").save()
    assert len(spark.sparkContext.statusTracker()
               .getJobIdsForGroup(job_group)) == 5


class TestClusterAssignment:
    def test_assign_mode_consistent_with_filter_mode(self, spark):
        from dataflow_spark.core.registry import get_operator

        base = "the quick brown fox jumps over the lazy dog " * 8
        rows = [
            (1, base + "tail one"),
            (2, base + "tail two"),     # near-dup of 1
            (3, "a completely different document about spark " * 10),
            (4, base + "tail one"),     # exact dup of 1
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        common = {"input_key": "text", "order_key": "doc_id",
                  "threshold": 0.7}
        assigned = get_operator("MinHashDeduplicateFilter",
                                {**common, "assign_key": "cluster_id"}).run(df)
        out = {r["doc_id"]: r["cluster_id"] for r in assigned.collect()}
        # all rows kept, near/exact dups share doc 1's cluster
        assert set(out) == {1, 2, 3, 4}
        assert out[1] == out[2] == out[4] == 1
        assert out[3] == 3
        # survivors of filter mode == rows whose cluster_id == doc_id
        kept = sorted(r["doc_id"] for r in
                      get_operator("MinHashDeduplicateFilter", common)
                      .run(df).collect())
        assert kept == sorted(d for d, c in out.items() if d == c)


def test_incremental_minhash(spark):
    from dataflow_spark.core.registry import get_operator

    base_text = ("the quick brown fox jumps over the lazy dog again and "
                 "again until everyone is thoroughly bored of it")
    existing = spark.createDataFrame(
        [(100, base_text), (101, "completely unrelated archive entry "
                                 "about database compaction strategy")],
        ["doc_id", "text"])
    new = spark.createDataFrame([
        (1, base_text + "!"),                       # near-dup of existing 100
        (2, "a genuinely fresh document about distributed minhash"),
        (3, "a genuinely fresh document about distributed minhash."),  # near-dup of 2
        (4, "another novel row mentioning watermarks and state stores"),
    ], ["doc_id", "text"])
    op = get_operator("IncrementalMinHashDedupFilter", {
        "input_key": "text", "order_key": "doc_id", "threshold": 0.7})
    kept = sorted(r["doc_id"] for r in
                  op.run(new, existing=existing).collect())
    # 1 dies against the archive; 3 dies against 2 in-batch
    assert kept == [2, 4]
    import pytest as _pt
    with _pt.raises(ValueError):
        op.run(new)


def test_minhash_auto_banding(spark):
    """num_bands='auto' picks the S-curve-optimal (b, r) (datasketch-
    canonical values) and the filter still deduplicates correctly."""
    from dataflow_spark.core.registry import get_operator
    from dataflow_spark.functions.hashing import optimal_bands

    assert optimal_bands(0.9, 128) == (5, 25)   # datasketch's answer
    assert optimal_bands(0.5, 64) == (14, 4)
    # cases where the full (b, r) search beats restricting r to
    # num_perm // b (regression for the exhaustive search)
    assert optimal_bands(0.8, 64) == (5, 11)
    assert optimal_bands(0.1, 64) == (15, 1)

    op = get_operator("MinHashDeduplicateFilter", {
        "input_key": "text", "order_key": "doc_id",
        "threshold": 0.9, "num_bands": "auto"})
    assert (op.num_bands, op.rows_per_band) == optimal_bands(0.9, 64)
    assert op.num_bands * op.rows_per_band <= 64

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again in the summer meadow ") * 3
    rows = [(0, base), (1, base + "tail!"), (2, "completely different "
            "content about distributed query engines and shuffles " * 3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = sorted(r.doc_id for r in op.run(df).collect())
    assert kept == [0, 2]


def test_keep_first_tied_order_key_returns_coherent_row(spark):
    # Non-unique caller order_key: independent per-column
    # min_by could stitch columns from DIFFERENT tied rows into a row
    # that never existed. With the engine row-id tie-breaker, the
    # survivor must be exactly one input row (earliest ingest order
    # among the tied minimum-order rows).
    rows = [(1, "dup", "alpha", 100), (1, "dup", "beta", 200),
            (2, "dup", "gamma", 300), (5, "solo", "delta", 400)]
    df = spark.createDataFrame(rows, ["ok", "text", "tag", "val"])
    out = get_operator("HashDeduplicateFilter",
                       {"input_keys": "text", "order_key": "ok"}).run(df)
    got = {(r["ok"], r["text"], r["tag"], r["val"]) for r in out.collect()}
    assert (5, "solo", "delta", 400) in got
    dup_winner = next(t for t in got if t[1] == "dup")
    # coherence: the winner is one of the two ok=1 INPUT rows, never a
    # (1, 'dup', 'alpha', 200)-style mix
    assert dup_winner in {(1, "dup", "alpha", 100), (1, "dup", "beta", 200)}
    assert len(got) == 2
    # no engine column leaks
    assert out.columns == ["ok", "text", "tag", "val"]


def _dedup_ops() -> list:
    """Every public _BaseDedup operator class."""
    from dataflow_spark.operators.filters.dedup import _BaseDedup

    def walk(cls):
        for sub in cls.__subclasses__():
            yield sub
            yield from walk(sub)

    return sorted({c for c in walk(_BaseDedup)
                   if not c.__name__.startswith("_")},
                  key=lambda c: c.__name__)


@pytest.mark.parametrize("cls", _dedup_ops(), ids=lambda c: c.__name__)
def test_dedup_drops_engine_row_id(spark, cls):
    """The engine's ``_row_id`` order column never leaks into the output,
    with or without a caller ``order_key``; the incremental operators run
    against an ``existing=`` corpus."""
    import inspect

    text = "the quick brown fox jumps over the lazy dog by the river bank"
    params = inspect.signature(cls.__init__).parameters
    key = next(k for k in ("embedding_key", "input_keys", "input_key")
               if k in params)
    args = {key: "embedding" if key == "embedding_key" else "text"}
    if "bits_log2" in params:
        args["bits_log2"] = 10  # a 128-byte bloom filter
    if key == "embedding_key":
        rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
                (3, [0.0, 1.0, 0.0])]
        schema = "doc_id long, embedding array<double>"
    else:
        rows = [(1, text), (2, text),
                (3, "an unrelated document about columnar query engines")]
        schema = "doc_id long, text string"
    df = spark.createDataFrame(rows, schema)
    old = spark.createDataFrame(
        [(100, [0.0, 0.0, 1.0] if key == "embedding_key"
          else "an archived note about distributed storage systems")],
        schema)
    for order_key in ("doc_id", None):
        op = cls(**args, order_key=order_key)
        kwargs = ({"existing": old}
                  if "existing" in inspect.signature(op.run).parameters
                  else {})
        out = op.run(df, **kwargs)
        assert out.columns == df.columns, order_key
        assert sorted(r.doc_id for r in out.collect()) == [1, 3], order_key


def test_user_row_id_survives_explicit_order_key(spark):
    """An input legitimately carrying a user _row_id column
    alongside an explicit order_key must keep that column — only an
    ENGINE-added _row_id is dropped by _finish."""
    df = spark.createDataFrame([(1, "a", 10), (2, "a", 20), (3, "b", 30)],
                               ["doc_id", "text", "_row_id"])
    out = get_operator("HashDeduplicateFilter",
                       {"input_keys": "text", "order_key": "doc_id"}).run(df)
    assert "_row_id" in out.columns
    assert {(r["doc_id"], r["_row_id"]) for r in out.collect()} == \
        {(1, 10), (3, 30)}


def test_sql_band_builders_pinned_values(spark):
    """The band-key SQL builders give these exact keys (values taken
    from the Column-API builders they replaced)."""
    from dataflow_spark.functions import hashing as H

    sig = [[i * 7 + j for j in range(8)] for i in range(5)]
    df = spark.createDataFrame([(s,) for s in sig], ["_sig"])

    def bands(frame, sql):
        return [[(b.band, b.h) for b in r.b]
                for r in frame.select(F.expr(sql).alias("b")).collect()]

    assert bands(df, H.band_keys_plain_sql("_sig", 4, 2)) == [
        [(band, f"{i * 7 + 2 * band},{i * 7 + 2 * band + 1}")
         for band in range(4)] for i in range(5)]
    assert bands(df, H.band_hashes_sql("_sig", 4, 2)) == [
        [(0, -2443323601347142808), (1, 3619530896294704703),
         (2, 1246840323201493236), (3, 2873937142813816006)],
        [(0, 9127491994331816498), (1, 3116487350011508319),
         (2, 6175365007328354382), (3, 8977631263419483347)],
        [(0, -705428450748544931), (1, -2038573541048224122),
         (2, -4952866063930649559), (3, 2698557440383562460)],
        [(0, 8305187960364794180), (1, -2791880129970298462),
         (2, -4621608317075114154), (3, 319534537228212451)],
        [(0, -6437573394166590836), (1, 2033980676685432748),
         (2, -2846548901880459603), (3, 8822382289629094288)],
    ]
    sim = spark.createDataFrame([(x,) for x in [0, 1, -1, (1 << 62) + 5]],
                                "s long")
    assert bands(sim, H.simhash_bands_sql("s")) == [
        [(0, 0), (1, 0), (2, 0), (3, 0)],
        [(0, 1), (1, 0), (2, 0), (3, 0)],
        [(0, 65535), (1, 65535), (2, 65535), (3, 65535)],
        [(0, 5), (1, 0), (2, 0), (3, 16384)],
    ]


@pytest.mark.parametrize("name", [
    "MinHashDeduplicateFilter", "SimHashDeduplicateFilter",
    "SemDeduplicateFilter", "NgramJaccardDeduplicateFilter",
    "SubstringDeduplicateFilter"])
def test_near_dup_null_order_key_row_survives_as_singleton(spark, name):
    """A row whose order_key is NULL has no place in the keep-first
    order: it never joins a cluster and survives, even when it duplicates
    a keyed row; keyed rows dedup as if it were absent."""
    text = " ".join(f"alpha{i} beta{i * 7 % 97} gamma{i * 13 % 83}"
                    for i in range(60))
    other = " ".join(f"delta{i * 3 % 71} epsilon{i * 11 % 89}"
                     for i in range(60))
    if name == "SemDeduplicateFilter":
        dup, far = [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]
        args = {"embedding_key": "embedding"}
        schema = "doc_id long, embedding array<double>"
    else:
        dup, far = text, other
        args = {"input_key": "text"}
        schema = "doc_id long, text string"
    df = spark.createDataFrame(
        [(1, dup), (2, dup), (None, dup), (3, far)], schema)
    out = get_operator(name, {**args, "order_key": "doc_id"}).run(df)
    assert out.columns == df.columns
    ids = [r.doc_id for r in out.collect()]
    assert sorted(ids, key=lambda i: (i is None, i)) == [1, 3, None]
