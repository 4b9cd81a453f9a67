"""FuzzyJoinOperator: exact cross-table set-similarity join."""

import itertools

import pytest
from pyspark.sql import functions as F

from dataflow_spark.core.registry import get_operator


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


@pytest.fixture(scope="module")
def tables(spark):
    left = spark.createDataFrame([
        (0, "acme corporation limited"),
        (2, "global widgets incorporated"),
        (4, "zebra systems"),
    ], ["doc_id", "text"])
    right = spark.createDataFrame([
        (1, "acme corporation ltd"),
        (3, "globex widgets incorporated"),
        (5, "completely different payload"),
    ], ["doc_id", "text"])
    return left, right


@pytest.mark.parametrize("dense", [8192, 0], ids=["dense", "sparse"])
def test_matches_quadratic_reference(spark, tables, dense):
    left, right = tables
    op = get_operator("FuzzyJoinOperator", {
        "threshold": 0.4, "mode": "char", "shingle_n": 3,
        "dense_vocab_max": dense})
    got = {(r["left_id"], r["right_id"]): r["jaccard"]
           for r in op.run(left, right=right).collect()}

    def sh(t):
        return ({t[i:i + 3] for i in range(len(t) - 2)}
                if len(t) >= 3 else {t})

    want = {}
    for (li, lt), (ri, rt) in itertools.product(
            [(r["doc_id"], r["text"]) for r in left.collect()],
            [(r["doc_id"], r["text"]) for r in right.collect()]):
        j = _jaccard(sh(lt), sh(rt))
        if j >= 0.4:
            want[(li, ri)] = round(j, 6)
    assert got == want
    assert got  # the fixture plants at least one genuine match


def test_words_mode(spark, tables):
    left, right = tables
    op = get_operator("FuzzyJoinOperator", {
        "threshold": 0.5, "mode": "words"})
    got = {(r["left_id"], r["right_id"]) for r in
           op.run(left, right=right).collect()}
    # 'acme corporation {limited,ltd}': 2/4 words shared -> j=0.5
    # 'global(ex) widgets incorporated': 2/4 -> j=0.5
    assert got == {(0, 1), (2, 3)}


def test_no_cartesian_product(spark, tables):
    left, right = tables
    op = get_operator("FuzzyJoinOperator", {"threshold": 0.6})
    plan = (op.run(left, right=right)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_requires_right(tables):
    left, _ = tables
    op = get_operator("FuzzyJoinOperator", {})
    with pytest.raises(ValueError):
        op.run(left)


def test_randomized_matches_bruteforce(spark):
    """Seeded random corpus: operator output == quadratic reference at
    several thresholds (exactness of prefix+positional+length filters)."""
    import random

    rng = random.Random(1234)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]

    def mk(n):
        return [(i, " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(2, 8))))
                for i in range(n)]

    lrows, rrows = mk(30), [(100 + i, t) for i, t in mk(30)]
    left = spark.createDataFrame(lrows, ["doc_id", "text"])
    right = spark.createDataFrame(rrows, ["doc_id", "text"])

    def sh(t, n=4):
        return ({t[i:i + n] for i in range(len(t) - n + 1)}
                if len(t) >= n else {t})

    for t in (0.3, 0.5, 0.75):
      for dense in (8192, 0):
        op = get_operator("FuzzyJoinOperator", {
            "threshold": t, "mode": "char", "shingle_n": 4,
            "dense_vocab_max": dense})
        got = {(r["left_id"], r["right_id"]) for r in
               op.run(left, right=right).collect()}
        want = set()
        for li, lt in lrows:
            for ri, rt in rrows:
                a, b = sh(lt), sh(rt)
                if len(a & b) / len(a | b) >= t:
                    want.add((li, ri))
        assert got == want, f"threshold {t} dense_vocab_max {dense}"


@pytest.mark.parametrize("dense", [8192, 0], ids=["dense", "sparse"])
def test_containment_matches_bruteforce(spark, dense):
    """Containment metric vs quadratic reference: short quotes embedded
    in longer docs must be found even though their Jaccard is tiny."""
    import random

    rng = random.Random(99)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    quotes = [(i, " ".join(rng.choice(vocab) for _ in range(3)))
              for i in range(12)]
    docs = [(100 + i, q + " " + " ".join(rng.choice(vocab)
                                         for _ in range(25)))
            for i, (_, q) in enumerate(quotes)]
    left = spark.createDataFrame(quotes, ["doc_id", "text"])
    right = spark.createDataFrame(docs, ["doc_id", "text"])

    def sh(t, n=4):
        return ({t[i:i + n] for i in range(len(t) - n + 1)}
                if len(t) >= n else {t})

    t = 0.8
    op = get_operator("FuzzyJoinOperator", {
        "threshold": t, "mode": "char", "shingle_n": 4,
        "metric": "containment", "dense_vocab_max": dense})
    got = {(r["left_id"], r["right_id"]): r["containment"]
           for r in op.run(left, right=right).collect()}
    want = {}
    for li, lt in quotes:
        for ri, rt in docs:
            a, b = sh(lt), sh(rt)
            c = len(a & b) / len(a)
            if c >= t:
                want[(li, ri)] = round(c, 6)
    assert got == want
    # every quote is (at least) contained in the doc that embeds it
    assert all(any(li == i for (li, ri) in got) for i in range(12))


@pytest.mark.parametrize("dense", [8192, 0], ids=["dense", "sparse"])
def test_boundary_threshold_exact_recall(spark, dense):
    """t=0.8 with |A|=5, |B|=4, overlap 4 (Jaccard exactly 0.8): the
    naive float prefix length floor((1-0.8)*5)+1 evaluates to 1 under
    IEEE doubles ((1.0-0.8)*5 == 0.9999...), and A's single prefix slot
    is taken by its rare unique word — the pair generates no candidate
    and is silently missed. Regression for the epsilon-guarded integer
    prefix length (functions.hashing.prefix_length)."""
    left = spark.createDataFrame(
        [(0, "alpha beta gamma delta uniquetoken")], ["doc_id", "text"])
    right = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"])
    op = get_operator("FuzzyJoinOperator", {
        "threshold": 0.8, "mode": "words", "dense_vocab_max": dense})
    got = [(r["left_id"], r["right_id"], r["jaccard"])
           for r in op.run(left, right=right).collect()]
    assert got == [(0, 1, 0.8)]


def test_prefix_length_matches_exact_rational_math(spark):
    """prefix_length == |A| - ceil(t|A|) + 1 computed with Fractions,
    for every (t, n) on a boundary-dense grid."""
    from fractions import Fraction

    import math

    from pyspark.sql import functions as F

    from dataflow_spark.functions import hashing as H

    thresholds = [0.5, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95]
    rows = [(n,) for n in range(1, 41)]
    df = spark.createDataFrame(rows, ["n"])
    for t in thresholds:
        got = {r["n"]: r["p"] for r in df.select(
            "n", H.prefix_length(t, F.col("n")).alias("p")).collect()}
        ft = Fraction(str(t))
        for n in range(1, 41):
            want = n - math.ceil(ft * n) + 1
            assert got[n] == want, (t, n, got[n], want)

def test_dense_path_engages_and_is_shuffle_free(spark, tables):
    """Tiny left vocab -> the adaptive dense path must kick in: the plan
    is one MapInPandas over the right scan with NO join and NO shuffle
    (the scale story: broadcast bitsets, single corpus pass)."""
    left, right = tables
    op = get_operator("FuzzyJoinOperator", {"threshold": 0.4,
                                            "shingle_n": 3})
    plan = (op.run(left, right=right)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_dense_path_falls_back_when_left_exceeds_budget(spark, tables):
    """dense_vocab_max below the actual left vocab -> sparse PPJoin path
    (no broadcast-bitset MapInPandas; r8: the sparse result is an eager
    localCheckpoint — matched pairs — so the returned plan is a
    checkpoint scan, and the path witness is last_path)."""
    left, right = tables
    op = get_operator("FuzzyJoinOperator", {"threshold": 0.4,
                                            "shingle_n": 3,
                                            "dense_vocab_max": 3})
    plan = (op.run(left, right=right)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" not in plan
    assert op.last_path == "sparse"


def test_dense_path_string_ids(spark):
    """Dense output schema follows the input id types (string ids)."""
    left = spark.createDataFrame(
        [("a", "hello world"), ("b", "totally different")],
        ["doc_id", "text"])
    right = spark.createDataFrame(
        [("x", "hello world"), ("y", "hello world!")], ["doc_id", "text"])
    op = get_operator("FuzzyJoinOperator", {"threshold": 0.5})
    got = {(r["left_id"], r["right_id"]) for r in
           op.run(left, right=right).collect()}
    assert ("a", "x") in got and not any(li == "b" for li, _ in got)


def _low_entropy_corpus(spark, n=60):
    """Templated corpus: ~tens of distinct 3-grams total (the sf1-replica
    shape where PPJoin candidate admission degenerates)."""
    rows = [(i, "abcabcabc" * 3 + ("xyz" if i % 2 else "abc"))
            for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _heaps_law_corpus(spark, n=60):
    """Each doc contributes fresh shingles (vocabulary grows ~linearly,
    like real web text under Heaps' law)."""
    import hashlib
    rows = [(i, hashlib.sha256(f"doc{i}".encode()).hexdigest() * 3)
            for i in range(n)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_adaptive_switch_dense_on_low_entropy(spark):
    corpus = _low_entropy_corpus(spark)
    op = get_operator("FuzzyJoinOperator", {
        "threshold": 0.5, "shingle_n": 3, "dense_vocab_max": 64})
    op.run(corpus, right=corpus).count()
    assert op.last_path == "dense"


def test_adaptive_switch_sparse_on_heaps_law(spark):
    corpus = _heaps_law_corpus(spark)
    # 60 docs x ~60 distinct 3-grams each >> 64-shingle dense budget:
    # a Heaps-law corpus must stay on the PPJoin path
    op = get_operator("FuzzyJoinOperator", {
        "threshold": 0.5, "shingle_n": 3, "dense_vocab_max": 64})
    op.run(corpus, right=corpus).count()
    assert op.last_path == "sparse"


def test_paths_agree_on_shared_corpus(spark):
    """Both physical strategies must return identical (pair, score)
    sets on a corpus either can handle."""
    corpus = _low_entropy_corpus(spark, n=30)
    probe = spark.createDataFrame(
        [(100, "abcabcabcabcabcabcabcabcabcxyz"),
         (101, "completely unrelated words here")], ["doc_id", "text"])
    common = {"threshold": 0.5, "shingle_n": 3}
    dense_op = get_operator("FuzzyJoinOperator",
                            {**common, "dense_vocab_max": 4096})
    sparse_op = get_operator("FuzzyJoinOperator",
                             {**common, "dense_vocab_max": 0})
    d = {(r["left_id"], r["right_id"], r["jaccard"])
         for r in dense_op.run(probe, right=corpus).collect()}
    s = {(r["left_id"], r["right_id"], r["jaccard"])
         for r in sparse_op.run(probe, right=corpus).collect()}
    assert dense_op.last_path == "dense"
    assert sparse_op.last_path == "sparse"
    assert d == s
    assert d  # non-vacuous: at least one qualifying pair exists


def test_budget_refusal_default_and_minhash_fallback_recall(spark):
    """The join is exact or refuses: on a low-entropy corpus past
    ``dense_flop_budget`` it raises an error that names the budget to
    raise. There is no approximate fallback."""
    corpus = _low_entropy_corpus(spark, n=40)
    probe = _low_entropy_corpus(spark, n=40).withColumn(
        "doc_id", F.col("doc_id") + 1000)
    common = {"threshold": 0.5, "shingle_n": 3, "dense_flop_budget": 1e3}
    with pytest.raises(ValueError, match="Raise dense_flop_budget"):
        get_operator("FuzzyJoinOperator", common).run(
            probe, right=corpus).count()


def test_containment_flop_budget_refuses_fast(spark):
    """The containment metric gets the same fast-refusal contract as
    its siblings on a constructed low-entropy corpus — an actionable
    error, not a wall-clock burn."""
    corpus = _low_entropy_corpus(spark, n=50)
    quotes = corpus.withColumn("text", F.substring("text", 1, 9)) \
                   .withColumn("doc_id", F.col("doc_id") + 500)
    op = get_operator("FuzzyJoinOperator", {
        "threshold": 0.9, "shingle_n": 3, "metric": "containment",
        "dense_flop_budget": 1e3})
    with pytest.raises(ValueError, match="infeasible"):
        op.run(quotes, right=corpus).count()
