"""Brute-force cross-join oracle for the fuzzy-join family.

The contract's DuckDB oracles for ``q_fuzzy_join`` / ``q_containment_join``
re-express the engine's PPJoin prefix filter in SQL — linear on sparse
(real-text) corpora, but on a LOW-ENTROPY corpus the candidate set is
inherently huge and the SQL twin dies on disk. A 10x replica of the
sf0.1 documents table is exactly that degenerate case: ~2.2k distinct
5-grams over 10.4M tokens, so prefix filtering admits ~406M candidate
pairs for ~12k true matches (measured).

This tool verifies the engine at that scale anyway, with an oracle from
a DIFFERENT algorithm family — no shared assumptions with either the
engine (PPJoin on Spark) or the contract SQL (prefix filter in DuckDB):

  1. build the exact distinct-shingle set per doc (pure Python),
  2. encode sets as 0/1 rows of a docs x vocab float32 matrix,
  3. overlap counts for ALL pairs via one BLAS matmul (L @ R.T) —
     integer counts <= vocab < 2**24 are exact in float32,
  4. threshold with the same float64 division the engine applies.

Memory is bounded by chunking the right side; the matrix approach is
viable precisely when the corpus is degenerate (small vocab). On sparse
corpora the SQL oracle is linear and this tool is unnecessary.

Usage:
    python tools/brute_fuzzy_oracle.py --sf /root/testdata/sf0.1 \
        [--query q_fuzzy_join,q_containment_join] [--max-vocab 300000]

Exits 0 iff every checked query's engine output matches the brute-force
pair set exactly (ids) with metrics within 1.5e-6 (rounding slack).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def shingle_set(text: str, n: int = 5) -> set[str]:
    """Distinct char n-grams; whole string when len < n (engine parity:
    dataflow_spark/functions/hashing.py::char_shingles)."""
    if len(text) >= n:
        return {text[i:i + n] for i in range(len(text) - n + 1)}
    return {text}


def load_documents(sf_dir: str):
    import duckdb

    p = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(p):
        p = os.path.join(p, "*.parquet")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{p}' ORDER BY doc_id").fetchall()
    con.close()
    return rows


def encode(sets: list[set[str]], vocab: dict[str, int]) -> np.ndarray:
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for i, s in enumerate(sets):
        idx = [vocab[t] for t in s]
        m[i, idx] = 1.0
    return m


def brute_pairs(left: list[tuple[int, set[str]]],
                right: list[tuple[int, set[str]]],
                threshold: float, metric: str,
                max_vocab: int, chunk: int = 4096):
    """[(left_id, right_id, metric_value)] for all qualifying pairs."""
    vocab: dict[str, int] = {}
    for _, s in left:
        for t in s:
            vocab.setdefault(t, len(vocab))
    for _, s in right:
        for t in s:
            vocab.setdefault(t, len(vocab))
    if len(vocab) > max_vocab:
        raise SystemExit(
            f"vocab {len(vocab)} > --max-vocab {max_vocab}: corpus is "
            "sparse enough for the SQL oracle; this tool targets the "
            "degenerate (low-entropy) regime")
    lm = encode([s for _, s in left], vocab)
    lsz = lm.sum(axis=1)
    lids = np.array([i for i, _ in left], dtype=np.int64)
    out = []
    for lo in range(0, len(right), chunk):
        blk = right[lo:lo + chunk]
        rm = encode([s for _, s in blk], vocab)
        rsz = rm.sum(axis=1)
        rids = np.array([i for i, _ in blk], dtype=np.int64)
        ov = lm @ rm.T  # exact: integer-valued float32, counts < 2**24
        o = ov.astype(np.float64)
        if metric == "jaccard":
            denom = lsz[:, None].astype(np.float64) + rsz[None, :] - o
        else:  # containment: |A n B| / |A|
            denom = np.broadcast_to(
                lsz[:, None].astype(np.float64), o.shape)
        with np.errstate(invalid="ignore", divide="ignore"):
            val = o / denom
        li, ri = np.nonzero(val >= threshold)
        for a, b in zip(li.tolist(), ri.tolist()):
            out.append((int(lids[a]), int(rids[b]), float(val[a, b])))
    return out


def run_query(spark, sf_dir: str, name: str):
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, sf_dir)
    return [(int(r[0]), int(r[1]), float(r[2])) for r in df.collect()]


def brute_dedup_survivors(docs, threshold: float, max_vocab: int):
    """Keep-first-of-connected-component survivors of the >=t Jaccard
    graph over ALL docs — the NgramJaccardDeduplicateFilter contract."""
    rows = [(i, shingle_set(t)) for i, t in docs]
    pairs = brute_pairs(rows, rows, threshold, "jaccard", max_vocab)
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i, _ in rows if find(i) == i}


def check(name: str, engine_rows, brute_rows) -> bool:
    e = {(a, b): v for a, b, v in engine_rows}
    o = {(a, b): v for a, b, v in brute_rows}
    missing = sorted(set(o) - set(e))[:5]
    extra = sorted(set(e) - set(o))[:5]
    if missing or extra:
        print(f"FAIL  {name}: pairs differ — engine {len(e)} vs brute "
              f"{len(o)}; missing={missing} extra={extra}")
        return False
    bad = [(k, e[k], o[k]) for k in e if abs(e[k] - o[k]) > 1.5e-6]
    if bad:
        print(f"FAIL  {name}: {len(bad)} metric mismatches, first "
              f"{bad[:3]}")
        return False
    print(f"PASS  {name}: {len(e)} pairs, metrics within 1.5e-6")
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--query", default="q_fuzzy_join,q_containment_join")
    ap.add_argument("--max-vocab", type=int, default=300_000)
    args = ap.parse_args()

    docs = load_documents(args.sf)
    names = args.query.split(",")

    from dataflow_spark import get_spark
    spark = get_spark("brute-fuzzy-oracle")
    spark.sparkContext.setLogLevel("ERROR")

    ok = True
    for name in names:
        t0 = time.time()
        if name == "q_fuzzy_join":
            left = [(i, shingle_set(t)) for i, t in docs if i % 2 == 0]
            right = [(i, shingle_set(t)) for i, t in docs if i % 2 == 1]
            brute = brute_pairs(left, right, 0.8, "jaccard",
                                args.max_vocab)
        elif name == "q_containment_join":
            left = [(i, shingle_set(t[:40])) for i, t in docs
                    if i % 10 == 0]
            right = [(i, shingle_set(t)) for i, t in docs]
            brute = brute_pairs(left, right, 0.9, "containment",
                                args.max_vocab)
        elif name == "d_ngram_jaccard":
            want = brute_dedup_survivors(docs, 0.8, args.max_vocab)
            t_brute = time.time() - t0
            t0 = time.time()
            import __spark_entry__ as entrymod
            got = {int(r[0]) for r in entrymod.queries()[name](
                spark, args.sf).collect()}
            print(f"      {name}: brute {t_brute:.1f}s, "
                  f"engine {time.time() - t0:.1f}s")
            if got == want:
                print(f"PASS  {name}: {len(got)} survivors")
            else:
                print(f"FAIL  {name}: engine {len(got)} vs brute "
                      f"{len(want)}; sym-diff "
                      f"{sorted(got ^ want)[:5]}")
                ok = False
            continue
        else:
            raise SystemExit(f"unknown query {name}")
        t_brute = time.time() - t0
        t0 = time.time()
        engine = run_query(spark, args.sf, name)
        t_engine = time.time() - t0
        print(f"      {name}: brute {t_brute:.1f}s, engine {t_engine:.1f}s")
        ok = check(name, engine, brute) and ok
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
