"""Property-based tests (hypothesis) over the engine's pure functions —
invariants that hold for ANY input, complementing the example-based
suites. No SparkSession needed: these are the driver-side kernels the
distributed operators are built on."""

from hypothesis import given, settings
from hypothesis import strategies as st

from dataflow_spark.operators.eval.diversity import cider_score
from dataflow_spark.operators.eval.reference_metrics import sentence_bleu, token_f1
from dataflow_spark.operators.refiners.pii import _stem_word
from dataflow_spark.operators.text2sql import is_select_like, strip_sql_comments

texts = st.text(max_size=200)
words = st.text(alphabet=st.characters(min_codepoint=97, max_codepoint=122),
                min_size=1, max_size=20)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_bleu_identity_and_range(t):
    s = sentence_bleu(t, t)
    assert 0.0 <= s <= 1.0
    if t.strip():
        # self-comparison with add-1 smoothing is high but <= 1
        assert s > 0.0


@settings(max_examples=200, deadline=None)
@given(texts, texts)
def test_bleu_symmetric_range(a, b):
    assert 0.0 <= sentence_bleu(a, b) <= 1.0


@settings(max_examples=200, deadline=None)
@given(texts, texts)
def test_token_f1_bounds_and_symmetry(a, b):
    f = token_f1(a, b)
    assert 0.0 <= f <= 1.0
    assert abs(f - token_f1(b, a)) < 1e-12  # F1 is symmetric


@settings(max_examples=200, deadline=None)
@given(texts)
def test_token_f1_identity(t):
    assert token_f1(t, t) == 1.0


@settings(max_examples=100, deadline=None)
@given(texts, texts)
def test_cider_bounds(a, b):
    c = cider_score(a, b)
    assert 0.0 <= c <= 10.0 + 1e-9


@settings(max_examples=200, deadline=None)
@given(words)
def test_stemmer_idempotent_on_short_result(w):
    once = _stem_word(w)
    assert once == once.lower()
    assert len(once) <= len(w) + 4  # rules never balloon the word


@settings(max_examples=200, deadline=None)
@given(texts)
def test_strip_sql_comments_idempotent_and_comment_free(sql):
    out = strip_sql_comments(sql)
    assert strip_sql_comments(out) == out
    assert "--" not in out.splitlines()[0] if out else True


@settings(max_examples=200, deadline=None)
@given(texts)
def test_is_select_like_total(sql):
    # never raises, returns bool, and prefixing a comment doesn't change it
    r = is_select_like(sql)
    assert isinstance(r, bool)
    assert is_select_like("-- c\n" + sql) == r


def test_minhash_jaccard_estimate_quality():
    """MinHash signature agreement approximates shingle-set Jaccard."""
    import numpy as np

    from dataflow_spark.functions.hashing import MERSENNE_P, _perm_params

    rng = np.random.RandomState(0)
    params = _perm_params(64)
    A = np.array([a for a, _ in params], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in params], dtype=np.uint64)[:, None]

    def sig(hashes):
        hr = np.array(sorted(hashes), dtype=np.uint64) % np.uint64(MERSENNE_P)
        return ((A * hr[None, :] + B) % np.uint64(MERSENNE_P)).min(axis=1)

    base = set(rng.randint(0, 1 << 31, size=500).tolist())
    overlap = set(list(base)[:250]) | set(rng.randint(0, 1 << 31, size=250).tolist())
    true_j = len(base & overlap) / len(base | overlap)
    est = float((sig(base) == sig(overlap)).mean())
    assert abs(est - true_j) < 0.15


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=120))
def test_md5_minhash_signature_matches_independent_reimpl(t):
    """The oracle contract: the md5-mode signature must equal a from-
    scratch Python computation (distinct 5-grams -> md5[:15] % P ->
    affine min per permutation). Guards every DuckDB near-dup oracle."""
    import hashlib

    from dataflow_spark.functions.hashing import (MERSENNE_P, _perm_params,
                                                  minhash_md5_one)

    got = minhash_md5_one(t, num_perm=16, n=5)
    params = _perm_params(16, 42)
    if not t:
        want = [0] * 16
    else:
        grams = {t[i:i + 5] for i in range(len(t) - 4)} if len(t) >= 5 else {t}
        hs = [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % MERSENNE_P
              for g in grams]
        want = [min((a * h + b) % MERSENNE_P for h in hs) for a, b in params]
    assert list(got) == want


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=120))
def test_md5_simhash_matches_independent_reimpl(t):
    import hashlib

    from dataflow_spark.functions.hashing import simhash_md5_one

    got = simhash_md5_one(t, n=4)
    if not t:
        want = 0
    else:
        grams = {t[i:i + 4] for i in range(len(t) - 3)} if len(t) >= 4 else {t}
        hs = [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
              for g in grams]
        want = 0
        for k in range(60):
            s = sum(1 if (h >> k) & 1 else -1 for h in hs)
            if s > 0:
                want |= 1 << k
    assert got == want


import re

from dataflow_spark.functions.text import py_distinct_word_ngrams, py_word_segments


@settings(max_examples=300, deadline=None)
@given(texts, st.integers(min_value=1, max_value=8))
def test_word_ngrams_shape_and_normalization_invariance(t, n):
    g = py_distinct_word_ngrams(t, n)
    # sorted, distinct, non-empty grams; each gram has <= n words
    assert g == sorted(set(g))
    assert all(x and len(x.split(" ")) <= n for x in g)
    # whitespace-normalization invariance: grams depend only on the
    # word sequence (ASCII \s, the engine's Java-regex convention)
    renorm = " ".join(x for x in re.split(r"\s+", t, flags=re.ASCII) if x)
    assert py_distinct_word_ngrams(renorm, n) == g


@settings(max_examples=300, deadline=None)
@given(texts, st.integers(min_value=1, max_value=8))
def test_word_segments_lossless_reassembly(t, k):
    segs = py_word_segments(t, k)
    # joining the segments reproduces the normalized word stream —
    # the invariant CorpusSegmentDedup's reassembly relies on
    norm = " ".join(x for x in re.split(r"\s+", t, flags=re.ASCII) if x)
    assert " ".join(segs) == norm
    # every segment except the last has exactly k words
    for s in segs[:-1]:
        assert len(s.split(" ")) == k
