"""Hashing & sketch primitives: shingles, MinHash, SimHash, band-LSH.

Design notes (100 TB scale):
  - Everything except SimHash is a pure Column expression over
    ``xxhash64`` — JVM-side, codegen'd, no Python in the hot path.
  - MinHash permutations are affine maps ``(a*h + b) mod p`` over the
    64-bit shingle hash, the standard construction (Broder 1997).
  - Band-LSH turns near-dup detection into an equi-join on
    (band_id, band_hash): shuffle-friendly, skew handled by AQE.
"""

from __future__ import annotations

import random
from typing import Iterator

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

from .udf_cache import session_udf

# 31-bit Mersenne prime: with a,b,h < p the affine map a*h+b stays under
# 2^62, inside signed-64 range (ANSI mode rejects overflow).
MERSENNE_P = (1 << 31) - 1


def char_shingles(col: Column, n: int = 5) -> Column:
    """array<string> of character n-grams; whole string when len < n."""
    start = F.sequence(F.lit(1), F.length(col) - (n - 1))
    return F.when(
        F.length(col) >= n,
        F.transform(start, lambda i: col.substr(i, F.lit(n))),
    ).otherwise(F.array(col))


def word_shingles(col: Column, n: int = 3) -> Column:
    """array<string> of word n-grams joined by single spaces."""
    from dataflow_spark.functions.text import words

    w = words(col)
    idx = F.sequence(F.lit(0), F.size(w) - n)
    return F.when(
        F.size(w) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", w)))


def shingle_hashes(col: Column, n: int = 5, distinct: bool = True) -> Column:
    """array<bigint>: xxhash64 of each distinct char n-gram."""
    sh = char_shingles(col, n)
    if distinct:
        sh = F.array_distinct(sh)
    return F.transform(sh, lambda s: F.xxhash64(s))


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
            for _ in range(num_perm)]


def minhash_signature(hashes: Column, num_perm: int = 64, seed: int = 42) -> Column:
    """array<bigint> MinHash signature from an array of shingle hashes.

    min over shingles of (a_i * |h| + b_i) mod p for each permutation i.
    Pure expression: num_perm array traversals, all JVM-side.
    """
    def perm_fn(a: int, b: int):
        def apply(h):
            hr = F.pmod(h, F.lit(MERSENNE_P))
            return F.pmod(F.lit(a) * hr + F.lit(b), F.lit(MERSENNE_P))

        return apply

    sig = [
        F.array_min(F.transform(hashes, perm_fn(a, b)))
        for a, b in _perm_params(num_perm, seed)
    ]
    return F.array(*sig)


def minhash64_udf(num_perm: int = 64, n: int = 5, seed: int = 42):
    """Session-memoized :func:`_minhash64_udf_build` — the UDF object
    (and its JVM registration) is reused across plan builds; the udf's
    behavior is a pure function of the key params (guide §1.2
    driver latency; see functions/udf_cache.py for the rules)."""
    return session_udf(("hashing.minhash64_udf", num_perm, n, seed),
                       lambda: _minhash64_udf_build(num_perm, n, seed))


def _minhash64_udf_build(num_perm: int = 64, n: int = 5, seed: int = 42):
    """Vectorized MinHash pandas_udf: text -> array<long> signature.

    Production path (the pure-expression ``minhash_signature`` keeps a
    SQL-only variant available, but its num_perm array traversals per
    row are ~100x slower). Per Arrow batch: rolling-polynomial char
    shingle hashes (numpy, uint64 wraparound), splitmix64 avalanche,
    then all permutations applied as one (num_perm x n_shingles) matrix
    min-reduce. Permutation params match ``_perm_params`` (same seed ->
    same family).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.uint64(MERSENNE_P)
    params = _perm_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.uint64)[:, None]
    Bv = np.array([b for _, b in params], dtype=np.uint64)[:, None]
    MULT = np.uint64(1099511628211)

    def one(text: str):
        if not text:
            return [0] * num_perm
        cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        if len(cp) < n:
            cp = np.pad(cp, (0, n - len(cp)), constant_values=32)
        h = np.zeros(len(cp) - n + 1, dtype=np.uint64)
        for j in range(n):
            h = h * MULT + cp[j:j + len(h)]
        h = np.unique(h)
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h = h ^ (h >> np.uint64(31))
        hr = h % P  # < 2^31, so A*hr + B < 2^62: exact in uint64
        sig = ((A * hr[None, :] + Bv) % P).min(axis=1)
        return sig.astype(np.int64).tolist()

    @pandas_udf("array<long>")
    def _minhash(s: pd.Series) -> pd.Series:
        return s.fillna("").map(one)

    return _minhash


def minhash_from_hashes_udf(num_perm: int = 64, seed: int = 42):
    """Session-memoized :func:`_minhash_from_hashes_udf_build` (pure
    function of the key params; see functions/udf_cache.py)."""
    return session_udf(("hashing.minhash_from_hashes_udf", num_perm, seed),
                       lambda: _minhash_from_hashes_udf_build(num_perm, seed))


def _minhash_from_hashes_udf_build(num_perm: int = 64, seed: int = 42):
    """Vectorized MinHash pandas_udf over PRE-HASHED shingle arrays:
    array<long> -> array<long> signature.

    Same permutation family and formula as ``minhash_signature`` (hr =
    pmod(h, P); min over shingles of (a*hr + b) mod P), so both paths
    agree bit-for-bit; numpy applies all permutations as one
    (num_perm x n_shingles) matrix min-reduce per row. Used by the
    exact-similarity family's ``on_budget_exceeded="minhash"`` fallback,
    whose inputs are already xxhash64 shingle arrays.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    params = _perm_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    Bv = np.array([b for _, b in params], dtype=np.int64)[:, None]

    def one(hs):
        if hs is None or len(hs) == 0:
            return [0] * num_perm
        # numpy % matches F.pmod for negative int64 (sign of divisor);
        # hr < 2^31 so A*hr + B < 2^62: exact in int64
        hr = np.asarray(hs, dtype=np.int64) % MERSENNE_P
        return ((A * hr[None, :] + Bv) % MERSENNE_P).min(axis=1).tolist()

    @pandas_udf("array<long>")
    def _minhash(s: pd.Series) -> pd.Series:
        return s.map(one)

    return _minhash


def minhash_md5_one(text: str, num_perm: int = 64, n: int = 5,
                    seed: int = 42) -> list[int]:
    """Single-row md5-mode MinHash kernel (module-level so the oracle
    contract is testable without a SparkSession)."""
    import hashlib

    import numpy as np

    if not text:
        return [0] * num_perm
    params = _perm_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    Bv = np.array([b for _, b in params], dtype=np.int64)[:, None]
    if len(text) < n:
        grams = [text]
    else:
        grams = set(text[i:i + n] for i in range(len(text) - n + 1))
    hr = np.array(
        [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) % MERSENNE_P
         for g in grams], dtype=np.int64)
    # A*hr + B < 2^62: exact in int64
    return ((A * hr[None, :] + Bv) % MERSENNE_P).min(axis=1).tolist()


def minhash_md5_udf(num_perm: int = 64, n: int = 5, seed: int = 42):
    """Session-memoized :func:`_minhash_md5_udf_build` (pure function
    of the key params; per-TASK memo dicts live worker-side and are
    untouched by driver-side object reuse — see functions/udf_cache.py)."""
    return session_udf(("hashing.minhash_md5_udf", num_perm, n, seed),
                       lambda: _minhash_md5_udf_build(num_perm, n, seed))


def _minhash_md5_udf_build(num_perm: int = 64, n: int = 5, seed: int = 42):
    """Oracle-replicable MinHash signature: md5-based shingle hashes.

    Same banding/verify semantics as ``minhash64_udf`` but the shingle
    hash is ``int(md5(gram)[:15], 16) % P`` — md5 produces identical
    hex in Spark SQL, Python hashlib, and DuckDB, so an external SQL
    oracle can recompute the exact signature. Shingling mirrors
    ``char_shingles``: distinct char n-grams, whole string when
    len < n, [0]*num_perm for empty/null. Permutation mins are one
    numpy matrix reduce per row; only the md5 calls are per-gram.

    Iterator form (guide §4.5): per-TASK memo dicts amortize the
    per-gram md5 across rows — natural-language n-gram vocabularies are
    zipfian, so most grams of a row were already hashed by an earlier
    row, and duplicate-heavy corpora (the dedup target) re-hit whole
    texts. md5 is deterministic, the memos live only for the task
    (recomputed every run), and ``int.from_bytes(digest[:8]) >> 4`` ==
    ``int(hexdigest[:15], 16)`` (first 60 bits), so signatures are
    bit-identical to ``minhash_md5_one`` — pinned by
    tests/test_dedup.py::test_minhash_md5_udf_matches_kernel.
    Memo caps bound worker memory (~1M grams / 8k texts).
    """
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    params = _perm_params(num_perm, seed)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    Bv = np.array([b for _, b in params], dtype=np.int64)[:, None]
    zero = [0] * num_perm

    @pandas_udf("array<long>")
    def _minhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        md5 = hashlib.md5
        gram_hr: dict[str, int] = {}   # gram -> md5-60bit % P
        sig_memo: dict[str, list] = {}  # text -> signature
        GRAM_CAP, TEXT_CAP = 1 << 20, 1 << 13

        def one(text: str):
            if not text:
                return zero
            hit = sig_memo.get(text)
            if hit is not None:
                return hit
            if len(text) < n:
                grams = (text,)
            else:
                grams = set(text[i:i + n] for i in range(len(text) - n + 1))
            hr_list = []
            for g in grams:
                v = gram_hr.get(g)
                if v is None:
                    v = (int.from_bytes(md5(g.encode("utf-8")).digest()[:8],
                                        "big") >> 4) % MERSENNE_P
                    if len(gram_hr) < GRAM_CAP:
                        gram_hr[g] = v
                hr_list.append(v)
            hr = np.array(hr_list, dtype=np.int64)
            # A*hr + B < 2^62: exact in int64
            sig = ((A * hr[None, :] + Bv) % MERSENNE_P).min(axis=1).tolist()
            if len(sig_memo) < TEXT_CAP:
                sig_memo[text] = sig
            return sig

        for s in batches:
            yield s.fillna("").map(one)

    return _minhash


def simhash_md5_one(text: str, n: int = 4) -> int:
    """Single-row md5-mode SimHash kernel (module-level, Spark-free)."""
    import hashlib

    import numpy as np

    if not text:
        return 0
    if len(text) < n:
        grams = [text]
    else:
        grams = set(text[i:i + n] for i in range(len(text) - n + 1))
    h = np.array(
        [int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)
         for g in grams], dtype=np.uint64)
    bits = ((h[:, None] >> np.arange(60, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    sums = (bits * 2 - 1).sum(axis=0)
    out = np.uint64(0)
    for k in np.nonzero(sums > 0)[0]:
        out |= np.uint64(1) << np.uint64(k)
    return int(out.astype(np.int64))


def simhash_md5_udf(n: int = 4):
    """Session-memoized :func:`_simhash_md5_udf_build` (pure function
    of the key params; see functions/udf_cache.py)."""
    return session_udf(("hashing.simhash_md5_udf", n),
                       lambda: _simhash_md5_udf_build(n))


def _simhash_md5_udf_build(n: int = 4):
    """Oracle-replicable SimHash: md5-based 60-bit shingle hashes.

    ``int(md5(gram)[:15], 16)`` gives 60 well-mixed bits; sign-sums run
    over bits 0-59 (bits 60-63 of the result are always 0 — still a
    valid simhash family, and every step is reproducible in DuckDB SQL).

    Iterator form (guide §4.5): per-task gram->hash and
    text->simhash memos, same rationale and caps as
    ``minhash_md5_udf``. The sign-sum numpy block is verbatim
    ``simhash_md5_one``; the byte conversion is the same first-60-bits
    value, so results are bit-identical to the kernel — pinned by
    tests/test_dedup.py::test_simhash_md5_udf_matches_kernel.
    """
    import hashlib

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        md5 = hashlib.md5
        gram_h: dict[str, int] = {}   # gram -> md5 60-bit int
        sim_memo: dict[str, int] = {}  # text -> simhash
        GRAM_CAP, TEXT_CAP = 1 << 20, 1 << 13
        bitpos = np.arange(60, dtype=np.uint64)

        def one(text: str) -> int:
            if not text:
                return 0
            hit = sim_memo.get(text)
            if hit is not None:
                return hit
            if len(text) < n:
                grams = (text,)
            else:
                grams = set(text[i:i + n] for i in range(len(text) - n + 1))
            h_list = []
            for g in grams:
                v = gram_h.get(g)
                if v is None:
                    v = int.from_bytes(md5(g.encode("utf-8")).digest()[:8],
                                       "big") >> 4
                    if len(gram_h) < GRAM_CAP:
                        gram_h[g] = v
                h_list.append(v)
            h = np.array(h_list, dtype=np.uint64)
            bits = ((h[:, None] >> bitpos) & np.uint64(1)).astype(np.int64)
            sums = (bits * 2 - 1).sum(axis=0)
            out = np.uint64(0)
            for k in np.nonzero(sums > 0)[0]:
                out |= np.uint64(1) << np.uint64(k)
            res = int(out.astype(np.int64))
            if len(sim_memo) < TEXT_CAP:
                sim_memo[text] = res
            return res

        for s in batches:
            yield s.fillna("").map(one)

    return _simhash


def band_keys_plain_sql(sig: str, num_bands: int, rows_per_band: int) -> str:
    """SQL-string twin of ``band_keys_plain`` for F.expr call sites.

    One JVM parse instead of ~30 py4j round trips per band; the parsed tree is the same unrolled
    array-of-structs, so plans and results are unchanged.
    ``sig`` is a (trusted, engine-internal) column name or SQL fragment.
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
    """SQL-string twin of ``band_hashes`` (same tree, one parse)."""
    parts = []
    for band in range(int(num_bands)):
        start = band * int(rows_per_band) + 1
        parts.append(
            f"named_struct('band', {band}, 'h', xxhash64(concat_ws(',', "
            f"transform(slice({sig}, {start}, {int(rows_per_band)}), "
            "x -> cast(x as string)))))")
    return "array(" + ", ".join(parts) + ")"


def simhash_bands_sql(sim: str, num_bands: int = 4) -> str:
    """SQL-string twin of ``simhash_bands`` (same tree, one parse)."""
    width = 64 // int(num_bands)
    mask = (1 << width) - 1
    parts = [
        f"named_struct('band', {i}, 'h', "
        f"shiftright({sim}, {i * width}) & {mask})"
        for i in range(int(num_bands))
    ]
    return "array(" + ", ".join(parts) + ")"


def band_keys_plain(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, h:string>> — band key is the comma-joined
    signature slice itself (no hash), for oracle-replicable banding:
    identical string keys in Spark, Python, and DuckDB
    (``array_to_string(sig[a:b], ',')``)."""
    out = []
    for band in range(num_bands):
        chunk = F.slice(signature, band * rows_per_band + 1, rows_per_band)
        out.append(
            F.struct(
                F.lit(band).alias("band"),
                F.concat_ws(",", F.transform(chunk, lambda x: x.cast("string"))).alias("h"),
            )
        )
    return F.array(*out)


def band_hashes(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """array<struct<band:int, h:bigint>> — one LSH key per band.

    Docs sharing any (band, h) pair are near-dup candidates. With
    b bands of r rows the collision threshold is ~(1/b)^(1/r).
    """
    out = []
    for band in range(num_bands):
        chunk = F.slice(signature, band * rows_per_band + 1, rows_per_band)
        out.append(
            F.struct(
                F.lit(band).alias("band"),
                F.xxhash64(F.concat_ws(",", F.transform(chunk, lambda x: x.cast("string")))).alias("h"),
            )
        )
    return F.array(*out)


def simhash64(col: Column, n: int = 4) -> Column:
    """64-bit SimHash over char n-grams — pure Column expressions.

    For each bit k: sum over shingles of +1 if bit k of xxhash64(s) set
    else -1; bit k of the result is 1 when the sum is positive. Built as
    64 aggregate expressions over the (distinct) shingle-hash array;
    stays JVM-side (no Python UDF).
    """
    hashes = shingle_hashes(col, n=n, distinct=True)

    def bit_merge(k: int):
        def apply(s, h):
            return s + F.when(
                F.shiftright(h, k).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return apply

    acc = F.lit(0).cast("long")
    for k in range(64):
        bit_sum = F.aggregate(hashes, F.lit(0), bit_merge(k))
        # bit 63 as signed two's complement (1<<63 overflows long)
        bit_val = (1 << k) if k < 63 else -(1 << 63)
        acc = acc + F.when(bit_sum > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def simhash64_udf(n: int = 4):
    """Session-memoized :func:`_simhash64_udf_build` (pure function of
    the key params; see functions/udf_cache.py)."""
    return session_udf(("hashing.simhash64_udf", n),
                       lambda: _simhash64_udf_build(n))


def _simhash64_udf_build(n: int = 4):
    """Vectorized SimHash pandas_udf — the production path.

    The pure-expression ``simhash64`` is correct but builds a
    64-aggregate expression tree (~60s planning+eval for 500 docs);
    this Arrow-batched numpy version computes rolling-polynomial
    shingle hashes and the 64-bit sign-sum entirely vectorized:
    ~1000x faster per batch, scales linearly with partition count.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    B = np.uint64(1099511628211)  # FNV-ish odd multiplier, wraps mod 2^64

    def one(text: str) -> int:
        if not text:
            return 0
        cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
        if len(cp) < n:
            cp = np.pad(cp, (0, n - len(cp)), constant_values=32)
        # rolling polynomial hash over n-char windows (uint64 wraparound)
        h = np.zeros(len(cp) - n + 1, dtype=np.uint64)
        for j in range(n):
            h = h * B + cp[j:j + len(h)]
        h = np.unique(h)  # distinct shingles
        # avalanche (splitmix64 finalizer) so low bits are well-mixed
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h = h ^ (h >> np.uint64(31))
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        sums = (bits * 2 - 1).sum(axis=0)
        out = np.uint64(0)
        for k in np.nonzero(sums > 0)[0]:
            out |= np.uint64(1) << np.uint64(k)
        return int(out.astype(np.int64))

    @pandas_udf("long")
    def _simhash(s: pd.Series) -> pd.Series:  # noqa: F821 (resolved at module scope)
        return s.fillna("").map(one)

    return _simhash


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_bands(sim: Column, num_bands: int = 4) -> Column:
    """Split a 64-bit simhash into ``num_bands`` 16-bit band keys.

    Two docs within Hamming distance (num_bands - 1) share at least one
    band (pigeonhole) — the classic simhash blocking scheme.
    """
    width = 64 // num_bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(sim, i * width).bitwiseAND(F.lit(mask)).alias("h"),
            )
            for i in range(num_bands)
        ]
    )


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
