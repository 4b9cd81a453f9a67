"""Signature kernels in ``functions/hashing.py`` are pinned bit-for-bit.

Each pandas UDF runs through ``.func`` (no Spark job) over one seeded
corpus; the sha256 of its outputs must not move. The digests were taken
before the kernels were rebuilt from shared helpers, so a refactor that
changes one signature bit fails here.
"""

import hashlib
import random

import pandas as pd

from dataflow_spark.functions import hashing as H

ALPHABET = ("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
            "0123456789 .,;:!?-'\"()\t\néßΣİǅﬁ")

PINNED = {
    "minhash64_udf":
        "79f44f3f2656a1b4a17694a7144b9b57a5e9ccfebfc4f8fcf554cd3f896b07b9",
    "simhash64_udf":
        "36045f3052cf9ef6282764520d9919eaefd9ef85a5fe52472f8750207aab86e1",
    "minhash_md5_udf":
        "0a3def61416b4de1165cf55b8ef4fd245f61037e6b608e192ae560a9411f3c3b",
    "simhash_md5_udf":
        "67887d3099c86d633f1c088f62e7dc5b2f7460c8b1e98e6c6d3c4bf175334c23",
}


def _texts(n: int = 2400, seed: int = 20261017) -> list:
    """Seeded strings of length 0-160, with exact repeats, one-char
    edits of earlier rows, empty strings and NULLs, plus the short
    edge cases around the shingle widths."""
    rng = random.Random(seed)
    out: list = ["", None, "a", "abcd", "abcde"]
    while len(out) < n:
        r = rng.random()
        if r < 0.08 and len(out) > 10:
            out.append(out[rng.randrange(len(out))])
        elif r < 0.2 and len(out) > 10:
            base = out[rng.randrange(len(out))] or ""
            i = rng.randrange(len(base) + 1)
            out.append(base[:i] + rng.choice(ALPHABET) + base[i + 1:])
        elif r < 0.22:
            out.append(rng.choice(["", None]))
        else:
            k = rng.choice([rng.randrange(0, 8), rng.randrange(0, 160)])
            out.append("".join(rng.choice(ALPHABET) for _ in range(k)))
    return out


def _digest(values) -> str:
    h = hashlib.sha256()
    for v in values:
        row = v if hasattr(v, "__len__") else [v]
        h.update((",".join(str(int(x)) for x in row) + "\n").encode())
    return h.hexdigest()


def signature_digests() -> dict:
    texts = pd.Series(_texts(), dtype=object)

    def series_fn(udf, s):
        return udf.func(s)

    def iter_fn(udf, s):
        # iterator-form UDFs: split into two batches so the per-task
        # memos carry across a batch boundary
        half = len(s) // 2
        return pd.concat(list(udf.func(iter([s[:half], s[half:]]))))

    return {
        "minhash64_udf": _digest(series_fn(H.minhash64_udf(64, 5), texts)),
        "simhash64_udf": _digest(series_fn(H.simhash64_udf(4), texts)),
        "minhash_md5_udf": _digest(iter_fn(H.minhash_md5_udf(64, 5), texts)),
        "simhash_md5_udf": _digest(iter_fn(H.simhash_md5_udf(4), texts)),
    }


def test_signature_kernels_match_pinned_digests(spark):
    # ``spark``: pandas_udf parses its DDL return type through a session
    assert signature_digests() == PINNED
