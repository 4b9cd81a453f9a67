"""Vector math over array<float|double> columns — JVM-side expressions.

Used by the similarity-search and semantic-dedup operators. All helpers
cast to double before arithmetic so results are reproducible against a
double-precision oracle regardless of the stored element type.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double-precision dot product."""
    return F.aggregate(
        F.zip_with(to_double_array(a), to_double_array(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null when either norm is zero."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def normalize(a: Column) -> Column:
    """Unit-normalize; null-safe (returns original when norm == 0)."""
    n = norm(a)
    return F.when(n > 0, F.transform(to_double_array(a), lambda x: x / n)).otherwise(
        to_double_array(a)
    )


def hyperplane_bands_udf(num_planes: int = 16, num_bands: int = 4,
                         seed: int = 42, dim: int | None = None):
    """Vectorized random-hyperplane LSH band keys: embedding array ->
    array<long> of ``num_bands`` packed sign-bit keys.

    The pure-expression variant (per-plane zip_with/aggregate trees) is
    CodegenFallback and measured ~1000x slower per row; this computes
    the whole Arrow batch as one (batch x dim) @ (dim x planes) matmul.
    Same plane family for a given seed regardless of batch shape.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    width = num_planes // num_bands

    @pandas_udf("array<long>")
    def bands(s: pd.Series) -> pd.Series:
        X = np.array(
            [v if v is not None else [] for v in s], dtype=object)
        lens = {len(v) for v in X}
        out = [None] * len(X)
        rng_cache = {}
        for L in lens:
            if L == 0:
                continue
            if L not in rng_cache:
                rng = np.random.RandomState(seed)
                rng_cache[L] = rng.standard_normal((num_planes, L))
            planes = rng_cache[L]
            idx = [i for i, v in enumerate(X) if len(v) == L]
            M = np.array([X[i] for i in idx], dtype=np.float64)
            bits = (M @ planes.T) > 0          # (n, num_planes)
            weights = 1 << np.arange(width - 1, -1, -1, dtype=np.int64)
            for j, i in enumerate(idx):
                row = bits[j].astype(np.int64)
                out[i] = [int(row[b * width:(b + 1) * width] @ weights)
                          for b in range(num_bands)]
        return pd.Series(out)

    return bands


def zorder_key(cols, bits: int = 16):
    """Morton (Z-order) key interleaving the bit patterns of N already-
    quantized integer columns (each in [0, 2**bits)).

    Multi-dimensional clustering for data skipping: sorting by the
    interleaved key keeps rows close in EVERY dimension close in file
    order, so per-file min/max ranges stay tight on all participating
    columns at once (single-column range clustering only helps its own
    column). Pure Column arithmetic — no UDF.
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs >= 1 column")
    # the interleaved key must fit in 63 bits: bit position n*bits-1
    # reaching 63 would set the long's sign bit and INVERT the sort
    # order for the most significant bit, silently degrading the
    # clustered layout. Scale bits down automatically (63 // n) so any
    # column count works, KEEPING each value's most significant bits
    # (coarser quantization — graceful degradation, not misordering).
    eff = min(bits, 63 // n)
    if eff == 0:
        raise ValueError(f"zorder_key supports at most 63 columns, got {n}")
    drop = bits - eff
    key = F.lit(0).cast("long")
    for b in range(eff):
        for j, c in enumerate(cols):
            bit = F.shiftrightunsigned(c.cast("long"),
                                       b + drop).bitwiseAND(1)
            key = key + F.shiftleft(bit, b * n + j)
    return key


def quantize_rank(col, bits: int = 16):
    """Equi-depth quantization of any orderable column to [0, 2**bits):
    floor(percent_rank * (2**bits - 1)). Rank-based, so skewed
    distributions still spread across the full code space."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy().orderBy(col)
    return F.floor(F.percent_rank().over(w)
                   * F.lit((1 << bits) - 1)).cast("long")
