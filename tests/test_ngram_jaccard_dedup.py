"""NgramJaccardDeduplicateFilter: exact PPJoin self-join dedup, both
execution paths (sparse prefix-filter join / dense bitset matmul)
against a quadratic brute-force reference with the same keep-first-of-
connected-component semantics."""

import itertools

import pytest

from dataflow_spark.core.registry import get_operator


def _shingles(t, n=4):
    return ({t[i:i + n] for i in range(len(t) - n + 1)}
            if len(t) >= n else {t})


def _brute_survivors(rows, t, n=4):
    """Keep-first over connected components of the >=t Jaccard graph."""
    ids = [i for i, _ in rows]
    sets = {i: _shingles(txt, n) for i, txt in rows}
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(ids, 2):
        sa, sb = sets[a], sets[b]
        if len(sa & sb) / len(sa | sb) >= t:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def _planted_corpus():
    """Seeded base texts plus planted copies and one-word edits."""
    import random

    rng = random.Random(42)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    base = [" ".join(rng.choice(vocab) for _ in range(rng.randint(4, 9)))
            for _ in range(20)]
    rows, i = [], 0
    for b in base:
        rows.append((i, b)); i += 1
        if rng.random() < 0.6:
            rows.append((i, b)); i += 1
        if rng.random() < 0.4:
            rows.append((i, b + " " + rng.choice(vocab))); i += 1
    return rows


@pytest.mark.parametrize("dense", [8192, 0], ids=["dense", "sparse"])
@pytest.mark.parametrize("t", [0.5, 0.8])
def test_matches_bruteforce_components(spark, dense, t):
    rows = _planted_corpus()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    op = get_operator("NgramJaccardDeduplicateFilter", {
        "input_key": "text", "threshold": t, "shingle_n": 4,
        "order_key": "doc_id", "dense_vocab_max": dense})
    got = {r["doc_id"] for r in op.run(df).collect()}
    assert got == _brute_survivors(rows, t)


def _sets(df):
    """The (_id, _sh) frame NgramJaccardDeduplicateFilter.run builds."""
    from dataflow_spark.operators.fuzzy_join import shingle_sets

    return shingle_sets(df, "doc_id", "text", "char", 4)


def test_dense_path_engages(spark):
    """Tiny vocab -> the shared kernel's self-join returns a MapInPandas
    pair plan (the final operator plan hides it: connected_components
    resolves small edge sets eagerly via the driver union-find)."""
    rows = [(i, f"alpha beta gamma {i % 3}") for i in range(10)]
    sets = _sets(spark.createDataFrame(rows, ["doc_id", "text"]))
    op = get_operator("NgramJaccardDeduplicateFilter", {
        "input_key": "text", "threshold": 0.8, "shingle_n": 4,
        "order_key": "doc_id"})
    pairs = op._try_dense(sets)
    assert pairs is not None
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan
    # and the guard: a vocab cap below the corpus vocab falls back
    op_sparse = get_operator("NgramJaccardDeduplicateFilter", {
        "input_key": "text", "threshold": 0.8, "shingle_n": 4,
        "order_key": "doc_id", "dense_vocab_max": 2})
    assert op_sparse._try_dense(sets) is None


@pytest.mark.parametrize("dense", [8192, 0], ids=["dense", "sparse"])
@pytest.mark.parametrize("t", [0.5, 0.8])
def test_self_join_equals_cross_join_upper_triangle(spark, dense, t):
    """The self-join case of the shared kernels returns exactly
    FuzzyJoinOperator.run(df, right=df) restricted to left_id <
    right_id: every pair once, smaller id first, same Jaccard."""
    rows = _planted_corpus()
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    op = get_operator("NgramJaccardDeduplicateFilter", {
        "input_key": "text", "threshold": t, "shingle_n": 4,
        "order_key": "doc_id", "dense_vocab_max": dense})
    sets = _sets(df).persist()
    pins = [sets]
    try:
        pairs = op._try_dense(sets)
        assert (pairs is not None) == bool(dense)
        if pairs is None:
            pairs = op._sparse_pairs(sets, None, pins)
        got = [(r["left_id"], r["right_id"], r["jaccard"])
               for r in pairs.collect()]
    finally:
        for p in pins:
            p.unpersist()
    assert all(a < b for a, b, _ in got)
    assert len({(a, b) for a, b, _ in got}) == len(got)
    cross = get_operator("FuzzyJoinOperator", {
        "threshold": t, "shingle_n": 4, "dense_vocab_max": dense})
    want = {(r["left_id"], r["right_id"], r["jaccard"])
            for r in cross.run(df, right=df).collect()
            if r["left_id"] < r["right_id"]}
    assert cross.last_path == ("dense" if dense else "sparse")
    assert set(got) == want
    assert want  # the planted copies guarantee pairs


@pytest.mark.parametrize("dense", [8192, 0], ids=["dense", "sparse"])
def test_run_plan_has_no_shuffle(spark, dense):
    """Keep-first is the near-dup tail (a broadcast join-back of the
    component labels plus a filter), not a keep-first aggregate over
    the full rows: with AQE off the returned plan has no Exchange."""
    from dataflow_spark.plans import audit

    df = spark.createDataFrame(_planted_corpus(), ["doc_id", "text"])
    op = get_operator("NgramJaccardDeduplicateFilter", {
        "input_key": "text", "threshold": 0.8, "shingle_n": 4,
        "order_key": "doc_id", "dense_vocab_max": dense})
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = op.run(df)
        assert audit(out)["exchanges"] == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_candidate_pair_guard_refuses_degenerate_corpus(spark):
    import pytest

    # every doc shares one long template -> every prefix bucket holds
    # ~all docs; with the guard tightened the operator must refuse with
    # an actionable error instead of attempting the quadratic join
    rows = [(i, "the same template text repeated " * 4 + str(i % 3))
            for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    op = get_operator("NgramJaccardDeduplicateFilter",
                      {"input_key": "text", "order_key": "doc_id",
                       "dense_vocab_max": 0,       # force sparse path
                       "max_candidate_pairs": 1000})
    with pytest.raises(ValueError, match="low-entropy"):
        op.run(df).count()
    # guard off -> same corpus completes on the sparse path
    op2 = get_operator("NgramJaccardDeduplicateFilter",
                       {"input_key": "text", "order_key": "doc_id",
                        "dense_vocab_max": 0, "max_candidate_pairs": 0})
    assert op2.run(df).count() > 0


def test_flop_budget_refuses_and_minhash_fallback_matches_exact(spark):
    """Dense byte-feasible but compute-infeasible corpora refuse fast
    (BudgetExceededError) with an error naming the budget to raise;
    there is no approximate fallback."""
    rows = [(i, "the same template text repeated " * 4 + str(i % 3))
            for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    common = {"input_key": "text", "order_key": "doc_id",
              "dense_flop_budget": 1e4}  # 200^2 * vocab >> 1e4
    with pytest.raises(ValueError, match="Raise dense_flop_budget"):
        get_operator("NgramJaccardDeduplicateFilter", common).run(df).count()
