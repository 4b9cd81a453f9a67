"""Hashing & sketch primitives: shingles, MinHash, SimHash, band-LSH.

Design notes (100 TB scale):
  - Signatures are Arrow pandas UDFs: numpy over each row's shingle
    hashes, one Arrow batch at a time. Two shingle-hash families: the
    ``fast`` rolling-polynomial hash with a splitmix64 finalizer, and
    the ``md5`` family (first 60 bits of md5 per gram), which Spark SQL,
    Python and DuckDB compute identically — the oracle contract.
  - MinHash permutations are affine maps ``(a*h + b) mod p`` over the
    shingle hash, the standard construction (Broder 1997).
  - Band keys are SQL expression strings (``*_sql``), one ``F.expr``
    parse per plan build. Band-LSH turns near-dup detection into an
    equi-join on (band_id, band_hash): shuffle-friendly, skew handled
    by AQE.

Each signature step has one implementation, a private numpy helper that
every UDF shares: :func:`_shingle_hashes`, :func:`_perm_arrays` with
:func:`_perm_min`, :func:`_sign_pack` and :func:`_md5_row_kernel`.
"""

from __future__ import annotations

import functools
import hashlib
import random
import sys
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

# UDF closures call the helpers below. Pickled by value, they reach the
# Python workers without an import of the whole dataflow_spark package
# (every operator and prompt) on each worker's first task.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# 31-bit Mersenne prime: with a,b,h < p the affine map a*h+b stays under
# 2^62, exact in int64 here and in the DuckDB oracles' BIGINT.
MERSENNE_P = (1 << 31) - 1
# rolling-polynomial multiplier and splitmix64 finalizer constants
_POLY = np.uint64(1099511628211)
_MIX1, _MIX2 = np.uint64(0xBF58476D1CE4E5B9), np.uint64(0x94D049BB133111EB)
_S27, _S30, _S31 = np.uint64(27), np.uint64(30), np.uint64(31)
# md5 gram memo caps per task: ~1M grams / 8k texts bound worker memory
_GRAM_CAP, _TEXT_CAP = 1 << 20, 1 << 13


def char_shingles(col: Column, n: int = 5) -> Column:
    """array<string> of character n-grams; whole string when len < n."""
    start = F.sequence(F.lit(1), F.length(col) - (n - 1))
    return F.when(
        F.length(col) >= n,
        F.transform(start, lambda i: col.substr(i, F.lit(n))),
    ).otherwise(F.array(col))


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
            for _ in range(num_perm)]


def _perm_arrays(num_perm: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    """The permutation family as (num_perm, 1) int64 columns A, B."""
    params = _perm_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]
    return A, B


def _perm_min(A: np.ndarray, B: np.ndarray, h: np.ndarray) -> list[int]:
    """MinHash signature of uint64 shingle hashes ``h``: min over shingles
    of (a*hr + b) mod P with hr = h mod P, for every permutation, as one
    (num_perm x n_shingles) matrix reduce. hr < P, so A*hr + B < 2^62:
    exact in int64."""
    hr = (h % np.uint64(MERSENNE_P)).astype(np.int64, copy=False)
    return ((A * hr[None, :] + B) % MERSENNE_P).min(axis=1).tolist()


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """Distinct ``fast``-family hashes (uint64) of the char n-grams of a
    non-empty text; texts shorter than n are space-padded to one gram.

    Rolling polynomial over code points (uint64 wraparound), then the
    splitmix64 finalizer so the low bits are well mixed.
    """
    cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    if len(cp) < n:
        cp = np.pad(cp, (0, n - len(cp)), constant_values=32)
    m = len(cp) - n + 1
    h = cp[:m].copy()
    for j in range(1, n):
        h *= _POLY
        h += cp[j:j + m]
    h = np.unique(h)
    h ^= h >> _S30
    h *= _MIX1
    h ^= h >> _S27
    h *= _MIX2
    h ^= h >> _S31
    return h


def _sign_pack(h: np.ndarray, width: int) -> int:
    """SimHash of uint64 shingle hashes over bits 0..width-1: bit k is set
    when more hashes have bit k set than clear. Returned as signed 64."""
    bits = ((h[:, None] >> np.arange(width, dtype=np.uint64))
            & np.uint64(1)).astype(np.int64)
    sums = (bits * 2 - 1).sum(axis=0)
    out = np.uint64(0)
    for k in np.nonzero(sums > 0)[0]:
        out |= np.uint64(1) << np.uint64(k)
    return int(out.astype(np.int64))


def _grams(text: str, n: int):
    """Distinct char n-grams, as ``char_shingles``: the whole text when
    it is shorter than n."""
    if len(text) < n:
        return (text,)
    return set(text[i:i + n] for i in range(len(text) - n + 1))


def _md5_60(gram: str) -> int:
    """First 60 bits of md5(gram): ``int(hexdigest[:15], 16)``."""
    return int.from_bytes(hashlib.md5(gram.encode("utf-8")).digest()[:8],
                          "big") >> 4


def _md5_row_kernel(n: int, finish, empty):
    """Row function ``text -> finish(md5-family gram hashes)`` with
    per-task memos; ``empty`` for an empty text.

    Build one per task (inside an iterator-form UDF): natural-language
    n-gram vocabularies are zipfian, so most grams of a row were already
    hashed by an earlier row, and duplicate-heavy corpora (the dedup
    target) re-hit whole texts. md5 is deterministic and the memos live
    only for the task, so results equal the memo-free ``*_md5_one``.
    """
    gram_h: dict[str, int] = {}
    text_memo: dict[str, object] = {}

    def one(text: str):
        if not text:
            return empty
        hit = text_memo.get(text)
        if hit is not None:
            return hit
        hs = []
        for g in _grams(text, n):
            v = gram_h.get(g)
            if v is None:
                v = _md5_60(g)
                if len(gram_h) < _GRAM_CAP:
                    gram_h[g] = v
            hs.append(v)
        res = finish(np.array(hs, dtype=np.uint64))
        if len(text_memo) < _TEXT_CAP:
            text_memo[text] = res
        return res

    return one


def minhash64_udf(num_perm: int = 64, n: int = 5, seed: int = 42):
    """MinHash pandas_udf over ``fast`` shingle hashes: text ->
    array<long> signature; [0]*num_perm for empty/null."""
    from pyspark.sql.functions import pandas_udf

    A, B = _perm_arrays(num_perm, seed)

    def one(text: str):
        if not text:
            return [0] * num_perm
        return _perm_min(A, B, _shingle_hashes(text, n))

    @pandas_udf("array<long>")
    def _minhash(s: pd.Series) -> pd.Series:
        return s.fillna("").map(one)

    return _minhash


def minhash_md5_one(text: str, num_perm: int = 64, n: int = 5,
                    seed: int = 42) -> list[int]:
    """Single-row md5-mode MinHash kernel (module-level so the oracle
    contract is testable without a SparkSession)."""
    if not text:
        return [0] * num_perm
    A, B = _perm_arrays(num_perm, seed)
    return _perm_min(
        A, B, np.array([_md5_60(g) for g in _grams(text, n)], dtype=np.uint64))


def minhash_md5_udf(num_perm: int = 64, n: int = 5, seed: int = 42):
    """Oracle-replicable MinHash signature: md5-family shingle hashes,
    ``int(md5(gram)[:15], 16) % P``, which an external SQL engine can
    recompute exactly. Shingling mirrors ``char_shingles``; [0]*num_perm
    for empty/null. Iterator form so :func:`_md5_row_kernel`'s memos
    live for one task; bit-identical to :func:`minhash_md5_one`.
    """
    from pyspark.sql.functions import pandas_udf

    finish = functools.partial(_perm_min, *_perm_arrays(num_perm, seed))

    @pandas_udf("array<long>")
    def _minhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        one = _md5_row_kernel(n, finish, [0] * num_perm)
        for s in batches:
            yield s.fillna("").map(one)

    return _minhash


def simhash_md5_one(text: str, n: int = 4) -> int:
    """Single-row md5-mode SimHash kernel (module-level, Spark-free)."""
    if not text:
        return 0
    return _sign_pack(
        np.array([_md5_60(g) for g in _grams(text, n)], dtype=np.uint64), 60)


def simhash_md5_udf(n: int = 4):
    """Oracle-replicable SimHash: sign-sums over the 60 bits of the md5
    gram hashes (bits 60-63 of the result are always 0 — still a valid
    simhash family, and every step is reproducible in DuckDB SQL).
    Iterator form with per-task memos, as ``minhash_md5_udf``;
    bit-identical to :func:`simhash_md5_one`.
    """
    from pyspark.sql.functions import pandas_udf

    finish = functools.partial(_sign_pack, width=60)

    @pandas_udf("long")
    def _simhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        one = _md5_row_kernel(n, finish, 0)
        for s in batches:
            yield s.fillna("").map(one)

    return _simhash


def simhash64_udf(n: int = 4):
    """SimHash pandas_udf over ``fast`` shingle hashes: text -> 64-bit
    sign-sum signature; 0 for empty/null."""
    from pyspark.sql.functions import pandas_udf

    def one(text: str) -> int:
        if not text:
            return 0
        return _sign_pack(_shingle_hashes(text, n), 64)

    @pandas_udf("long")
    def _simhash(s: pd.Series) -> pd.Series:
        return s.fillna("").map(one)

    return _simhash


def band_keys_plain_sql(sig: str, num_bands: int, rows_per_band: int) -> str:
    """array<struct<band:int, h:string>> — the band key is the
    comma-joined signature slice itself (no hash), for oracle-replicable
    banding: identical string keys in Spark, Python, and DuckDB
    (``array_to_string(sig[a:b], ',')``).

    SQL text for ``F.expr``: one JVM parse instead of ~30 py4j round
    trips per band. ``sig`` is a (trusted, engine-internal) column name
    or SQL fragment.
    """
    parts = []
    for band in range(int(num_bands)):
        start = band * int(rows_per_band) + 1
        parts.append(
            f"named_struct('band', {band}, 'h', concat_ws(',', "
            f"transform(slice({sig}, {start}, {int(rows_per_band)}), "
            "x -> cast(x as string))))")
    return "array(" + ", ".join(parts) + ")"


def band_hashes_sql(sig: str, num_bands: int, rows_per_band: int) -> str:
    """array<struct<band:int, h:bigint>> — one LSH key per band, the
    xxhash64 of the comma-joined signature slice (SQL text for
    ``F.expr``).

    Docs sharing any (band, h) pair are near-dup candidates. With
    b bands of r rows the collision threshold is ~(1/b)^(1/r).
    """
    parts = []
    for band in range(int(num_bands)):
        start = band * int(rows_per_band) + 1
        parts.append(
            f"named_struct('band', {band}, 'h', xxhash64(concat_ws(',', "
            f"transform(slice({sig}, {start}, {int(rows_per_band)}), "
            "x -> cast(x as string)))))")
    return "array(" + ", ".join(parts) + ")"


def simhash_bands_sql(sim: str, num_bands: int = 4) -> str:
    """Split a 64-bit simhash into ``num_bands`` band keys of
    64/num_bands bits (SQL text for ``F.expr``).

    Two docs within Hamming distance (num_bands - 1) share at least one
    band (pigeonhole) — the classic simhash blocking scheme.
    """
    width = 64 // int(num_bands)
    mask = (1 << width) - 1
    parts = [
        f"named_struct('band', {i}, 'h', "
        f"shiftright({sim}, {i * width}) & {mask})"
        for i in range(int(num_bands))
    ]
    return "array(" + ", ".join(parts) + ")"


# --- exact threshold arithmetic for similarity-join bounds ------------
#
# Prefix-filter / positional-filter bounds (PPJoin, Xiao et al. WWW'08)
# are integer quantities derived from a float threshold t. Computing
# them naively in IEEE doubles breaks exactly at the boundary: for
# t=0.8, |A|=5, (1.0-0.8)*5 evaluates to 0.9999999999999998, its floor
# is 0, and the prefix comes out one element SHORT — pairs at exactly
# the threshold similarity can then generate no candidate, silently
# violating the exact-recall pigeonhole guarantee. The epsilon guard
# below restores integer-exact results for any threshold with a short
# decimal representation (FP error ~1e-16 << eps=1e-9 << the smallest
# fractional part such thresholds can produce on realistic set sizes).

_THRESH_EPS = 1e-9


def ceil_lower_bound(x: Column) -> Column:
    """``ceil(x)`` where x is a *necessary lower bound* (t*|A|, etc.).

    Guards against FP representing an exact integer k as k+1e-16, which
    plain ``ceil`` would turn into k+1 — over-tightening the bound and
    dropping true matches.
    """
    return F.ceil(x - F.lit(_THRESH_EPS))


def prefix_length(threshold: float, size_col: Column) -> Column:
    """PPJoin prefix length |A| - ceil(t*|A|) + 1, integer-exact.

    Equal to floor((1-t)*|A|) + 1 in exact arithmetic; computed via the
    epsilon-guarded ceil so the boundary cases (t=0.8 with |A|%5==0,
    t=0.9 with |A|%10==0, ...) keep complete recall.
    """
    return (size_col
            - ceil_lower_bound(F.lit(threshold) * size_col)
            + 1).cast("int")


def optimal_bands(threshold: float, num_perm: int,
                  fp_weight: float = 0.5, fn_weight: float = 0.5
                  ) -> tuple[int, int]:
    """Optimal LSH banding (bands, rows_per_band) for a Jaccard
    threshold.

    Minimizes the weighted false-positive/false-negative area of the
    LSH S-curve P(candidate | s) = 1 - (1 - s^r)^b over all (b, r)
    with b*r <= num_perm — the same parameter search the reference's
    datasketch MinHashLSH backend performs at construction
    (general_text/filter/minhash_deduplicate_filter.py uses
    MinHashLSH(threshold, num_perm), which auto-tunes internally).
    Pure arithmetic, evaluated once at operator construction.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 2:
        raise ValueError("num_perm must be >= 2")

    def _prob(s: float, b: int, r: int) -> float:
        return 1.0 - (1.0 - s ** r) ** b

    n_steps = 1000  # fine enough to match datasketch's 0.001-step scan
    best, best_err = (1, num_perm), float("inf")
    # full search over every (b, r) with b*r <= num_perm — restricting
    # r to num_perm // b misses better combinations (e.g. t=0.8/64:
    # full search finds (5, 11), the restricted one only (6, 10))
    for b in range(1, num_perm + 1):
        for r in range(1, num_perm // b + 1):
            # midpoint-rule integrals of the S-curve error on each side
            fp = sum(_prob(threshold * (i + 0.5) / n_steps, b, r)
                     for i in range(n_steps)) * threshold / n_steps
            fn = sum(1.0 - _prob(threshold + (1 - threshold) * (i + 0.5)
                                 / n_steps, b, r)
                     for i in range(n_steps)) * (1 - threshold) / n_steps
            err = fp_weight * fp + fn_weight * fn
            if err < best_err:
                best, best_err = (b, r), err
    return best
