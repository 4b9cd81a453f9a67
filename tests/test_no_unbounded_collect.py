"""Driver-memory guard: every ``.collect()`` AND ``.toPandas()`` in
engine source must be provably bounded (an explicit ``.limit(...)``, a
size-capped sample, or a k x dim aggregate) — an unbounded driver pull
is a 100 TB scale-killer. The scan covers toPandas too: the
budget-bounded pulls go through Arrow per guide §6, and the Arrow path is
faster, not safer, so it gets the same audit.

New pull sites must either carry an inline bound visible on the same
statement or be added to the audited allowlist below WITH a justification
comment. CLI export paths stream via ``toLocalIterator`` instead (one
partition in driver memory at a time).
"""

import re
from pathlib import Path

SRC = Path(__file__).resolve().parent.parent / "dataflow_spark"

# (path suffix, substring that must appear on the collect line) -> why
# the site is bounded. Audited one by one; keep this list short.
ALLOWED = {
    # probe pulls exactly driver_max_edges+1 rows to decide
    # driver-union-find vs distributed large-star/small-star CC
    ("operators/filters/dedup.py", "bounded_pull(edges, driver_max_edges + 1)"):
        "bounded probe",
    # the shared pull helper applies df.limit(n) on the same statement;
    # its signature REQUIRES a finite n, so every caller is bounded by
    # construction (callers are still listed here one by one)
    ("functions/pulls.py", "df.limit(int(n)).toPandas()"):
        "explicit limit in helper; n required",
    # pool is sampled down to <= max_collect before the pull
    ("operators/filters/coreset.py", "pdf = pool.toPandas()"):
        "sample(max_collect/n) upstream; documented driver selection",
    # k centroid seeds
    ("operators/clustering.py", "limit(self.k).collect()"):
        "k rows",
    # k x dim centroid means per Lloyd iteration
    ("operators/clustering.py", 'groupBy("_cid")'):
        "k x dim aggregate (one row per cluster)",
    # diversity metrics operate on a content-hash-ordered bounded sample
    ("operators/eval/diversity.py", "limit(max_rows).collect()"):
        "max_rows cap",
    # probe collects max_broadcast_queries+1 ids to guard the broadcast
    ("operators/similarity.py", "qpdf = bounded_pull("):
        "bounded probe (max_broadcast_queries + 1 on next line)",
    # brute-KNN guard: counts up to max_broadcast_queries+1 id rows
    ("operators/similarity.py", "n_probe = len(bounded_pull("):
        "bounded probe (max_broadcast_queries + 1 on next line)",
    # matmul fast path pulls the (probe-bounded) query side; the
    # MAX_QUERY_SLABS slab cap re-checks with the actual dim
    ("operators/similarity.py",
     "qpdf = qsrc.select(self.id_key, self.embedding_key).toPandas()"):
        "probe + byte budget",
    # IVF trains on a train_sample-row sample
    ("operators/similarity.py", "limit(self.train_sample)"):
        "train_sample cap",
    # benchmark gram-set pull: a sum(length) pre-check caps total text
    # bytes at _BENCH_SET_BUDGET / n before the toPandas (the
    # broadcast-set decontamination path)
    ("operators/filters/decontaminate.py",
     'benchmark.select(F.col(self.bench_key).alias("_t")).toPandas()'):
        "byte-budget pre-check upstream",
    # duplicated-segment tail: hard-capped at _DUP_COLLECT_CAP + 1 rows
    # by the limit on the same statement (the broadcast-rebuild path)
    ("operators/refiners/segment_dedup.py", "dpd = bounded_pull("):
        "explicit _DUP_COLLECT_CAP + 1 cap on the same statement",
    # mixture counts: input filtered to the LISTED groups before the
    # aggregate, so the pull is at most len(weights) rows
    ("operators/sampling.py",
     'agg(F.count(F.lit(1)).cast("double").alias("_cnt"))'):
        "one row per listed group (<= len(weights))",
    # documented row-limited driver-side writer (xlsx/pickle)
    ("sources/writers.py", "limit(limit).toPandas()"):
        "explicit limit",
    # heavy-hitter candidate summaries: bounded by n_partitions x
    # capacity rows (the Misra-Gries contract; shipped via Arrow)
    ("operators/keywords.py", "spdf = summaries.toPandas()"):
        "partitions x capacity bound",
    # dense set-similarity join (cross and self): left vocab collected
    # only after a sampled probe, hard-capped at dense_vocab_max + 1 rows
    ("operators/fuzzy_join.py", "vocab_pdf = bounded_pull("):
        "bounded probe (dense_vocab_max + 1 on next line)",
    # dense set-similarity join: left side pulled only when its packed
    # bitset matrix fits DENSE_BROADCAST_MB (n_l and payload checked
    # above the call)
    ("operators/fuzzy_join.py", 'lpdf = lraw.select("_id", "_sh").toPandas()'):
        "byte-budget guard upstream",
}


def _collect_sites():
    # a chained statement may put .collect() on its own line — match the
    # marker against the statement window (the 8 lines ending at the call)
    out = []
    for py in SRC.rglob("*.py"):
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines, 1):
            if re.search(r"\.(collect|toPandas)\(\)|(?<!def )bounded_pull\(",
                         line):
                window = " ".join(
                    x.strip() for x in lines[max(0, i - 8):i])
                out.append((py, i, window))
    return out


def test_every_collect_is_bounded():
    unexplained = []
    for py, i, line in _collect_sites():
        rel = py.relative_to(SRC).as_posix()
        if not any(rel.endswith(suf) and marker in line
                   for (suf, marker) in ALLOWED):
            unexplained.append(f"{rel}:{i}: {line}")
    assert not unexplained, (
        "unbounded (or un-audited) .collect() in engine source — bound it "
        "or audit it into ALLOWED:\n" + "\n".join(unexplained))


def test_allowlist_entries_still_exist():
    # a stale allowlist entry means the bound moved — re-audit
    sites = [(py.relative_to(SRC).as_posix(), line)
             for py, _, line in _collect_sites()]
    for (suf, marker) in ALLOWED:
        assert any(rel.endswith(suf) and marker in line
                   for rel, line in sites), f"stale allowlist: {suf} {marker}"


def test_cli_has_no_collect():
    # CLI export paths must stream (toLocalIterator), never collect
    cli = (SRC / "cli.py").read_text()
    assert ".collect()" not in cli
    assert "toLocalIterator" in cli
