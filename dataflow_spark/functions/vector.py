"""Vector math over array<float|double> columns.

Used by the similarity-search, clustering and semantic-dedup operators.
The Column helpers are JVM-side expressions; they cast to double before
arithmetic so results are reproducible against a double-precision oracle
regardless of the stored element type.

Each vector kernel has one implementation that every caller shares:
:func:`centroid_dists` (k-means assignment, IVF cells),
:func:`hyperplane_planes` with :func:`hyperplane_keys` (the banding UDF
and LSHKNN's one-pass worker) and :func:`stack_vectors` (the numpy
top-k workers).
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

# UDF and worker closures call the kernels below. Pickled by value, they
# reach the Python workers without an import of the whole dataflow_spark
# package, as in functions/hashing.py.
cloudpickle.register_pickle_by_value(sys.modules[__name__])


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


def sq_dist(a: Column, b: Column) -> Column:
    """Sequential left-to-right double-precision squared L2 distance;
    null when either side is null or the dims differ."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def centroid_dists(vcol: Column, cents) -> Column:
    """array<struct<d: double, c: long>>: the squared L2 distance ``d``
    from the array<double> column ``vcol`` to each centroid ``c`` of
    ``cents``, a list of (centroid id, vector) pairs, in list order.

    The centroids are one literal array, so the distances are a narrow
    per-row projection; no join or shuffle.
    """
    carr = F.array(*[
        F.struct(F.lit(int(cid)).cast("long").alias("c"),
                 F.array(*[F.lit(float(x)) for x in vec]).alias("v"))
        for cid, vec in cents])
    return F.transform(
        carr, lambda s: F.struct(sq_dist(vcol, s["v"]).alias("d"),
                                 s["c"].alias("c")))


def hyperplane_planes(num_planes: int, dim: int, seed: int) -> np.ndarray:
    """The (num_planes, dim) random-hyperplane family for ``seed``: the
    same planes for a given (seed, dim) whatever the batch."""
    return np.random.RandomState(seed).standard_normal((num_planes, dim))


def hyperplane_keys(M: np.ndarray, planes: np.ndarray,
                    num_bands: int) -> np.ndarray:
    """(n, num_bands) int64 band keys of the rows of ``M``: the sign bits
    of the projections on ``planes``, ``num_planes // num_bands`` bits
    per band, packed most significant bit first."""
    width = planes.shape[0] // num_bands
    bits = ((M @ planes.T) > 0).astype(np.int64)
    weights = 1 << np.arange(width - 1, -1, -1, dtype=np.int64)
    return np.stack([bits[:, b * width:(b + 1) * width] @ weights
                     for b in range(num_bands)], axis=1)


def stack_vectors(vals, ids, dim: int):
    """(M, norms, ids) for the entries of ``vals`` that hold a
    ``dim``-long vector: M is their float64 matrix, norms its row L2
    norms and ids the matching entries of ``ids``. NULL and wrong-dim
    entries are skipped (their cosine is NULL, so they never match)."""
    vals = list(vals)
    keep = [i for i, v in enumerate(vals) if v is not None and len(v) == dim]
    M = (np.stack([np.asarray(vals[i], dtype=np.float64) for i in keep])
         if keep else np.empty((0, dim)))
    return M, np.sqrt((M * M).sum(axis=1)), np.asarray(ids)[keep]


def hyperplane_bands_udf(num_planes: int = 16, num_bands: int = 4,
                         seed: int = 42):
    """Vectorized random-hyperplane LSH band keys: embedding array ->
    array<long> of ``num_bands`` packed sign-bit keys
    (:func:`hyperplane_keys`); NULL for a NULL or empty embedding.

    The pure-expression variant (per-plane zip_with/aggregate trees) is
    CodegenFallback and measured ~1000x slower per row; this computes
    each dim's rows of the Arrow batch as one (rows x dim) @
    (dim x planes) matmul.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def bands(s: pd.Series) -> pd.Series:
        out = [None] * len(s)
        for dim in {len(v) for v in s if v is not None} - {0}:
            M, _, idx = stack_vectors(s, np.arange(len(s)), dim)
            keys = hyperplane_keys(
                M, hyperplane_planes(num_planes, dim, seed), num_bands)
            for i, row in zip(idx, keys.tolist()):
                out[i] = row
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
