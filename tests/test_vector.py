"""Vector kernels in ``functions/vector.py``.

``hyperplane_bands_udf`` is pinned bit-for-bit: its ``.func`` runs (no
Spark job) over seeded vectors of several dims with NULLs, empty arrays
and zero vectors, at band widths 2, 8 and 16, and the sha256 of the band
keys must not move. The digests were taken before the band keys moved
to the shared ``hyperplane_keys`` kernel.

The UDF closures of the vector and signature families, and the text UDFs
that call ``functions/text.py``'s word helpers, must also unpickle in a
Python process that cannot import ``dataflow_spark``: those modules are
pickled by value, so a worker never imports the package.
"""

import hashlib
import os
import random
import subprocess
import sys
import types

import numpy as np
import pandas as pd
from pyspark import cloudpickle

from dataflow_spark.functions import vector as V

# (num_planes, num_bands, seed) -> band width 2, 8 and 16
CONFIGS = {"w2": (8, 4, 42), "w8": (16, 2, 7), "w16": (16, 1, 2026)}

PINNED = {
    "w2": "b5af542940a0b9d7a130709bc407b73a72ce8e4bedb80610ecfd8610ebb4f915",
    "w8": "b2e8162bd32c98edc00a57bd74565e24658e5b1b7f261c3fc82c627351ccc008",
    "w16":
        "b841a9ccb621d03c6000e4085ce816f2c17b6c93cff1ddc16a8ee0083ecaeedc",
}


def _vectors(n: int = 3200, seed: int = 20261018) -> list:
    """Seeded vectors of dims 3, 16 and 64 (float and int-valued), with
    NULLs, empty arrays, zero vectors and exact repeats."""
    rng = random.Random(seed)
    out: list = [None, [], [0.0] * 16, [0.0, 0.0, 0.0]]
    while len(out) < n:
        r = rng.random()
        if r < 0.05:
            out.append(rng.choice([None, []]))
        elif r < 0.08:
            out.append([0.0] * rng.choice([3, 16, 64]))
        elif r < 0.14 and len(out) > 10:
            out.append(out[rng.randrange(len(out))])
        elif r < 0.2:
            out.append([float(rng.randrange(-3, 4))
                        for _ in range(rng.choice([3, 16]))])
        else:
            out.append([rng.gauss(0, 1)
                        for _ in range(rng.choice([3, 16, 64]))])
    return out


def _digest(values) -> str:
    h = hashlib.sha256()
    for v in values:
        row = "" if v is None else ",".join(str(int(x)) for x in v)
        h.update((row + "\n").encode())
    return h.hexdigest()


def band_digests() -> dict:
    vecs = pd.Series(
        [None if v is None else np.asarray(v, dtype=np.float64)
         for v in _vectors()], dtype=object)
    return {name: _digest(V.hyperplane_bands_udf(*cfg).func(vecs))
            for name, cfg in CONFIGS.items()}


def test_hyperplane_bands_match_pinned_digests(spark):
    # ``spark``: pandas_udf parses its DDL return type through a session
    assert band_digests() == PINNED


# Unpickles {name: (fn, args)} from stdin in a process that cannot import
# dataflow_spark, calls each fn(*args) and pickles the results to stdout.
_UNPICKLE_WITHOUT_PACKAGE = r"""
import importlib.abc
import pickle
import sys


class NoPackage(importlib.abc.MetaPathFinder):
    def find_spec(self, name, path=None, target=None):
        if name.partition(".")[0] == "dataflow_spark":
            raise ModuleNotFoundError(f"No module named {name!r}")


sys.meta_path.insert(0, NoPackage())
calls = pickle.loads(sys.stdin.buffer.read())
out = {name: fn(*args) for name, (fn, args) in calls.items()}
assert not any(m.startswith("dataflow_spark") for m in sys.modules)
sys.stdout.buffer.write(pickle.dumps(out))
"""


def _plain(s: pd.Series) -> list:
    return [None if v is None else np.asarray(v).tolist() for v in s]


def test_udf_closures_unpickle_without_the_package(spark, tmp_path):
    from dataflow_spark.functions import hashing as H
    from dataflow_spark.operators import similarity as S
    from dataflow_spark.operators import text_analysis as TA
    from dataflow_spark.operators.filters import decontaminate as D
    from dataflow_spark.operators.refiners import segment_dedup as SD

    vecs = pd.Series([None if v is None else np.asarray(v, dtype=np.float64)
                      for v in _vectors(200)], dtype=object)
    texts = pd.Series(["", None, "a near duplicate text",
                       "a near duplicate text!"] * 5, dtype=object)
    prose = pd.Series([None, "", " \t", "the cat and the hat is in",
                       "die Katze und der Hut", "x\u00a0y x y x y",
                       "a b a b a b a b a b a b"], dtype=object)
    bench = types.SimpleNamespace(value=frozenset({"x y x", "a b"}))
    rng = np.random.default_rng(3)
    qm = rng.normal(size=(6, 16))
    bc = types.SimpleNamespace(value=(
        np.arange(6).astype(object), qm, np.sqrt((qm * qm).sum(axis=1))))
    batch = pd.DataFrame({"_cid": np.arange(10, 30),
                          "_c_emb": list(rng.normal(size=(20, 16)))})

    def worker_rows(worker, pdf):
        return pd.concat(list(worker(iter([pdf]))), ignore_index=True)

    calls = {
        "hyperplane_bands_udf": (
            V.hyperplane_bands_udf(16, 4, 42).func, (vecs,)),
        "minhash64_udf": (H.minhash64_udf(64, 5).func, (texts,)),
        "simhash64_udf": (H.simhash64_udf(4).func, (texts,)),
        "_dense_topk_worker": (
            worker_rows, (S._dense_topk_worker(bc, 3, False), batch)),
        "_langid_udf": (TA._langid_udf().func, (prose,)),
        "_ngram_ratio_udf": (TA._ngram_ratio_udf(3).func, (prose,)),
        "_gopher_rep_udf": (TA._gopher_rep_udf(2, 3).func, (prose,)),
        "_contaminated_udf": (
            worker_rows, (D._contaminated_udf(3, bench).func, prose)),
        "_grams_udf": (D._grams_udf(3).func, (prose,)),
        "_contam_counts_udf": (
            worker_rows, (D._contam_counts_udf(3, bench).func, prose)),
        "word_windows_udf": (SD.word_windows_udf(3).func, (prose,)),
    }
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _UNPICKLE_WITHOUT_PACKAGE],
        input=cloudpickle.dumps(calls), capture_output=True,
        cwd=tmp_path, env=env, timeout=120)
    assert proc.returncode == 0, proc.stderr.decode()[-2000:]
    got = cloudpickle.loads(proc.stdout)
    for name, (fn, args) in calls.items():
        want = fn(*args)
        if isinstance(want, pd.DataFrame):
            pd.testing.assert_frame_equal(got[name], want)
        elif want.dtype.kind == "f":  # NULL text scores NaN
            pd.testing.assert_series_equal(got[name], want)
        else:
            assert _plain(got[name]) == _plain(want), name
    assert len(got["_dense_topk_worker"]) == 6 * 3
