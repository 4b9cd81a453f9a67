"""Bloom-prefilter incremental dedup and exact two-pass heavy hitters.

The contracts under test:
  - BloomIncrementalDedupFilter returns IDENTICAL rows to
    IncrementalHashDedupFilter on every branch (clean bloom, high-fpr
    bloom, empty corpus, non-broadcast fallback) — the bloom is only a
    prefilter, exactness never depends on fpr.
  - HeavyHittersOperator returns the EXACT set and counts of keys with
    freq > phi*N under adversarial partition layouts — the Misra-Gries
    pass only proposes candidates; the pigeonhole guarantee (any key
    with global count > N/(capacity+1) survives in some partition
    summary) makes false negatives impossible.
"""

import random

from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator


def _ids(df):
    return sorted(r[0] for r in df.collect())


def _split(docs):
    return (docs.filter(F.col("doc_id") % 4 == 0),
            docs.filter(F.col("doc_id") % 4 != 0))


def test_bloom_matches_exact_incremental(docs):
    existing, new = _split(docs)
    a = get_operator("IncrementalHashDedupFilter",
                     {"order_key": "doc_id"}).run(new, existing=existing)
    b = get_operator("BloomIncrementalDedupFilter",
                     {"order_key": "doc_id"}).run(new, existing=existing)
    assert _ids(a.select("doc_id")) == _ids(b.select("doc_id"))
    assert set(a.columns) == set(b.columns)


def test_bloom_exact_under_saturated_filter(docs):
    """bits_log2=10 saturates the filter -> near-100% fpr -> every row
    takes the exact-confirm path; result must be unchanged."""
    existing, new = _split(docs)
    a = get_operator("IncrementalHashDedupFilter",
                     {"order_key": "doc_id"}).run(new, existing=existing)
    b = get_operator("BloomIncrementalDedupFilter",
                     {"order_key": "doc_id", "bits_log2": 10, "k": 2}
                     ).run(new, existing=existing)
    assert _ids(a.select("doc_id")) == _ids(b.select("doc_id"))


def test_bloom_fallback_branch_exact(docs):
    """broadcast_max_digests=1 forces the shuffled anti-join fallback."""
    existing, new = _split(docs)
    a = get_operator("IncrementalHashDedupFilter",
                     {"order_key": "doc_id"}).run(new, existing=existing)
    b = get_operator("BloomIncrementalDedupFilter",
                     {"order_key": "doc_id", "broadcast_max_digests": 1}
                     ).run(new, existing=existing)
    assert _ids(a.select("doc_id")) == _ids(b.select("doc_id"))


def test_bloom_empty_corpus_is_in_batch_dedup(spark):
    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y")], ["doc_id", "text"])
    out = get_operator("BloomIncrementalDedupFilter",
                       {"order_key": "doc_id"}).run(
        df, existing=df.limit(0))
    assert _ids(out.select("doc_id")) == [1, 2]


def test_bloom_no_false_negatives_synthetic(spark):
    """Every corpus duplicate must be dropped — a bloom false NEGATIVE
    (impossible by construction) would leak one through."""
    corpus = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(500)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1000 + i, f"doc number {i}") for i in range(500)]
        + [(2000, "genuinely new")], ["doc_id", "text"])
    out = get_operator("BloomIncrementalDedupFilter",
                       {"order_key": "doc_id"}).run(batch, existing=corpus)
    assert _ids(out.select("doc_id")) == [2000]


def test_bloom_requires_existing(spark):
    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    try:
        get_operator("BloomIncrementalDedupFilter", {}).run(df)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def _exact_hh(df, key, phi):
    n = df.filter(F.col(key).isNotNull()).count()
    return {
        (str(r[key]), r["cnt"])
        for r in df.filter(F.col(key).isNotNull())
        .groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > phi * n).collect()
    }


def test_heavy_hitters_exact_on_skewed_keys(spark):
    rng = random.Random(7)
    # zipf-ish: key i appears ~ 3000/i times; shuffled row order
    rows = [(f"k{i}",) for i in range(1, 200) for _ in range(3000 // i)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string").repartition(16)
    for phi in (0.05, 0.01, 0.002):
        got = {(r["k"], r["cnt"]) for r in
               get_operator("HeavyHittersOperator",
                            {"input_key": "k", "phi": phi}).run(df).collect()}
        assert got == _exact_hh(df, "k", phi), phi


def test_heavy_hitters_tiny_capacity_still_exact(spark):
    """capacity=2 forces constant MG eviction; candidates may include
    junk but the exact recount must still return precisely the heavy
    set (no false negatives above N/(capacity+1) by pigeonhole —
    phi=0.4 > 1/3 keeps the guarantee honest)."""
    rows = ([("hot",)] * 500 + [(f"cold{i}",) for i in range(300)])
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, "k string").repartition(8)
    got = {(r["k"], r["cnt"]) for r in
           get_operator("HeavyHittersOperator",
                        {"input_key": "k", "phi": 0.4, "capacity": 2}
                        ).run(df).collect()}
    assert got == {("hot", 500)}


def test_heavy_hitters_nulls_and_casts(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,)], "k int")
    got = {(r["k"], r["cnt"]) for r in
           get_operator("HeavyHittersOperator",
                        {"input_key": "k", "phi": 0.5}).run(df).collect()}
    # N=4 non-null; only 1 (count 3 > 2.0) qualifies; key cast to string
    assert got == {("1", 3)}


def test_heavy_hitters_empty(spark):
    df = spark.createDataFrame([], "k string")
    out = get_operator("HeavyHittersOperator",
                       {"input_key": "k", "phi": 0.1}).run(df)
    assert out.collect() == []
    assert out.columns == ["k", "cnt"]


def test_source_overlap_hand_checkable(spark):
    rows = [("s1", "a b c d"), ("s2", "a b c e"), ("s3", "x y z w"),
            ("s4", "")]  # s4 has zero grams -> absent from the matrix
    df = spark.createDataFrame(rows, ["source", "text"])
    got = sorted(
        (r["group_a"], r["group_b"], r["grams_a"], r["grams_b"],
         r["shared"], r["jaccard"])
        for r in get_operator("SourceOverlapMatrixOperator",
                              {"n": 3}).run(df).collect())
    # s1 3-grams {a b c, b c d}; s2 {a b c, b c e}; s3 {x y z, y z w}
    assert got == [("s1", "s2", 2, 2, 1, 0.333333),
                   ("s1", "s3", 2, 2, 0, 0.0),
                   ("s2", "s3", 2, 2, 0, 0.0)]


def test_source_overlap_short_text_whole_sequence_gram(spark):
    # texts shorter than n words contribute ONE whole-sequence gram
    # (functions.text.py_distinct_word_ngrams mirror)
    df = spark.createDataFrame(
        [("a", "hi there"), ("b", "hi there"), ("c", "bye")],
        ["source", "text"])
    got = {(r["group_a"], r["group_b"]): (r["shared"], r["jaccard"])
           for r in get_operator("SourceOverlapMatrixOperator",
                                 {"n": 5}).run(df).collect()}
    assert got[("a", "b")] == (1, 1.0)
    assert got[("a", "c")] == (0, 0.0)


def test_source_overlap_raw_equals_fast(docs):
    """Hash-impl convention check: the xxhash64 path and the raw-string
    path must agree on the whole matrix at test scale."""
    op_fast = get_operator("SourceOverlapMatrixOperator", {"n": 3})
    op_raw = get_operator("SourceOverlapMatrixOperator",
                          {"n": 3, "hash_impl": "raw"})
    a = sorted(map(tuple, op_fast.run(docs).collect()))
    b = sorted(map(tuple, op_raw.run(docs).collect()))
    assert a == b


# -- pure-kernel properties (no Spark) --------------------------------------

from hypothesis import given, settings, strategies as st

from dataflow_spark.operators.keywords import mg_update


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(1, 50)),
                min_size=0, max_size=40),
       st.integers(1, 8))
def test_mg_invariants(batches, cap):
    """Fold weighted batches through mg_update; check the two published
    invariants: summary size <= cap, and undercount of every key
    <= n/(cap+1) — hence presence of every key with count > n/(cap+1)."""
    counts = {}
    true = {}
    n = 0
    for key, c in batches:
        counts = mg_update(counts, {key: c}, cap)
        true[key] = true.get(key, 0) + c
        n += c
    assert len(counts) <= cap
    bound = n / (cap + 1)
    for key, t in true.items():
        est = counts.get(key, 0)
        assert est <= t  # MG never overcounts
        assert t - est <= bound + 1e-9  # bounded undercount
        if t > bound:
            assert key in counts  # the pigeonhole presence guarantee


def test_bloom_build_filter_reuse(spark):
    """build_filter bytes passed back via bloom= must reproduce the
    from-scratch result; a size-mismatched filter is rejected."""
    corpus = spark.createDataFrame(
        [(i, f"doc {i % 40}") for i in range(200)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1000 + i, f"doc {i}") for i in range(80)], ["doc_id", "text"])
    op = get_operator("BloomIncrementalDedupFilter",
                      {"order_key": "doc_id", "bits_log2": 16})
    bits = op.build_filter(corpus)
    assert len(bits) == (1 << 16) >> 3
    fresh = op.run(batch, existing=corpus)
    reused = op.run(batch, existing=corpus, bloom=bits)
    assert _ids(fresh.select("doc_id")) == _ids(reused.select("doc_id"))
    try:
        op.run(batch, existing=corpus, bloom=b"\x00" * 10)
        raise AssertionError("expected ValueError on size mismatch")
    except ValueError:
        pass


def test_heavy_hitters_weighted_exact(spark):
    """Weighted mode: heavy = total weight > phi * mass; exact vs a
    groupBy-sum oracle on synthetic mass skew (one key carries most of
    the mass in FEW rows — a count-based pass would miss it)."""
    rows = ([("whale", 500)] * 4                      # 2000 mass, 4 rows
            + [(f"krill{i}", 1) for i in range(900)]  # 900 mass
            + [("zero", 0), ("neg", -5), (None, 10)])
    df = spark.createDataFrame(rows, "k string, w int").repartition(8)
    got = {(r["k"], r["cnt"]) for r in
           get_operator("HeavyHittersOperator",
                        {"input_key": "k", "phi": 0.25, "weight_key": "w"}
                        ).run(df).collect()}
    assert got == {("whale", 2000)}  # 2000 > 0.25*2900; no krill qualifies
    # unweighted on the same frame: "whale" is only 4 of 907 rows
    got_cnt = {r["k"] for r in
               get_operator("HeavyHittersOperator",
                            {"input_key": "k", "phi": 0.25}).run(df).collect()}
    assert "whale" not in got_cnt


def test_heavy_hitters_grouped_exact(spark):
    """group_key mode: heavy is judged against each group's OWN mass.
    'dominant' is 60% of tiny group g2 but <1% of g1 — a global pass
    would miss it; exact per-group oracle via groupBy + window."""
    rng = random.Random(11)
    rows = ([("g1", f"k{i % 400}") for i in range(8000)]       # uniform
            + [("g1", "common")] * 600                          # heavy in g1
            + [("g2", "dominant")] * 30 + [("g2", f"r{i}",) for i in range(20)])
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "grp string, k string").repartition(16)
    got = {(r["grp"], r["k"], r["cnt"]) for r in
           get_operator("HeavyHittersOperator",
                        {"input_key": "k", "phi": 0.05, "group_key": "grp"}
                        ).run(df).collect()}
    from pyspark.sql import Window
    n_w = Window.partitionBy("grp")
    exact = {(r["grp"], r["k"], r["cnt"]) for r in
             df.groupBy("grp", "k").agg(F.count(F.lit(1)).alias("cnt"))
             .withColumn("tot", F.sum("cnt").over(n_w))
             .filter(F.col("cnt") > 0.05 * F.col("tot"))
             .select("grp", "k", "cnt").collect()}
    assert got == exact
    assert ("g2", "dominant", 30) in got
    assert not any(g == "g1" and k != "common" for g, k, _ in got)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=20),
       st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=20),
       st.integers(4, 20), st.integers(1, 16))
def test_bloom_positions_invariants(h1s, h2s, bits_log2, k):
    """Pure-kernel properties the membership exactness rests on:
    positions are in [0, m), deterministic, and the odd stride makes
    the k probes per row pairwise DISTINCT (i*odd mod 2^b is injective
    for i < 2^b), so a row always tests k real bits."""
    import numpy as np

    from dataflow_spark.operators.filters.dedup import _bloom_positions

    n = min(len(h1s), len(h2s))
    h1 = np.array(h1s[:n], dtype=np.int64)
    h2 = np.array(h2s[:n], dtype=np.int64)
    m = 1 << bits_log2
    pos = _bloom_positions(h1, h2, m, k)
    assert pos.shape == (n, k)
    assert ((pos >= 0) & (pos < m)).all()
    # determinism (the build/probe agreement that bans false negatives)
    assert (pos == _bloom_positions(h1, h2, m, k)).all()
    for row in pos:
        assert len(set(row.tolist())) == k
