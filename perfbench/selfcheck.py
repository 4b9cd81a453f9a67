"""Self-check of the benchmark itself (no Spark needed):

    python3 perfbench/selfcheck.py

1. The same seed gives byte-identical input files; another seed does not.
2. Each input has the planted properties its workload depends on.
3. Each output checker accepts the right output and rejects deliberately
   corrupted ones.
4. BENCHMARK.json lists exactly the metrics run.py reports, with the
   same units and directions.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

import checks
import corpus
import run

N = 2000


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def check_determinism(tmp: str) -> list[str]:
    errors = []
    for name, make in corpus.MAKERS.items():
        digests = []
        for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
            table, _ = make(seed, N)
            digests.append(_digest(corpus.write_table(
                table, os.path.join(tmp, f"{name}-{tag}"), 4)))
        if digests[0] != digests[1]:
            errors.append(f"{name}: the same seed gave different bytes")
        if digests[0] == digests[2]:
            errors.append(f"{name}: different seeds gave the same bytes")
    return errors


def check_planted() -> list[str]:
    """Shares the workloads are built on, within loose bounds."""
    errors = []
    _, meta = corpus.make_curate(5, N)
    k = meta["kinds"]
    for kind, lo, hi in (("dup", 0.15, 0.25), ("null", 0.01, 0.04),
                         ("blank", 0.003, 0.02), ("short", 0.03, 0.09)):
        if not lo <= k[kind] / N <= hi:
            errors.append(f"curate: {kind} share {k[kind] / N:.3f} "
                          f"outside [{lo}, {hi}]")
    _, meta = corpus.make_neardup(5, N)
    sizes: dict[int, int] = {}
    for c in meta["cluster"]:
        if c >= 0:
            sizes[c] = sizes.get(c, 0) + 1
    if not 0.02 <= sizes.pop(0) / N <= 0.04:
        errors.append("neardup: the spam cluster is not ~3% of the corpus")
    if not sizes or not all(2 <= n <= 5 for n in sizes.values()):
        errors.append("neardup: planted clusters must hold 2-5 docs")
    _, meta = corpus.make_llm_synth(5, N)
    if not 0.2 <= meta["repeats"] / N <= 0.3:
        errors.append(f"llm_synth: repeat share {meta['repeats'] / N:.3f}")
    return errors


def _expect(errors: list[str], label: str, result: tuple[bool, str],
            ok: bool) -> None:
    if result[0] != ok:
        errors.append(f"{label}: checker said {result} but should "
                      f"{'accept' if ok else 'reject'}")


def check_curate(tmp: str) -> list[str]:
    errors: list[str] = []
    table, _ = corpus.make_curate(3, N)
    corpus.write_table(table, os.path.join(tmp, "curate"), 4)
    expected = checks.curate_reference(os.path.join(tmp, "curate"))
    good = [(d, "train") for d in expected]
    _expect(errors, "curate right output", checks.check_curate(good, expected), True)
    _expect(errors, "curate row dropped",
            checks.check_curate(good[1:], expected), False)
    _expect(errors, "curate duplicate row",
            checks.check_curate(good[1:] + good[:1] * 2, expected), False)
    _expect(errors, "curate wrong doc",
            checks.check_curate([(-1, "train")] + good[1:], expected), False)
    _expect(errors, "curate unknown split",
            checks.check_curate([(good[0][0], "dev")] + good[1:], expected), False)
    return errors


def check_neardup() -> list[str]:
    errors: list[str] = []
    table, planted = corpus.make_neardup(3, N)
    ids, cluster = table.column("doc_id").to_pylist(), planted["cluster"]
    keepers: dict[int, int] = {}
    for d, c in zip(ids, cluster):
        if c >= 0:
            keepers[c] = min(d, keepers.get(c, d))
    unplanted = [d for d, c in zip(ids, cluster) if c < 0]
    good = unplanted + list(keepers.values())
    _expect(errors, "neardup right output",
            checks.check_neardup(good, ids, cluster), True)
    _expect(errors, "neardup unplanted doc removed",
            checks.check_neardup(good[1:], ids, cluster), False)
    _expect(errors, "neardup cluster keeper removed",
            checks.check_neardup(good[:-1], ids, cluster), False)
    _expect(errors, "neardup nothing removed (recall 0)",
            checks.check_neardup(list(ids), ids, cluster), False)
    _expect(errors, "neardup duplicated survivor",
            checks.check_neardup(good + good[:1], ids, cluster), False)
    return errors


def check_llm_synth() -> list[str]:
    errors: list[str] = []
    table, _ = corpus.make_llm_synth(3, N)
    expected = checks.llm_synth_replay(table.column("doc_id").to_pylist(),
                                       table.column("text").to_pylist())
    _expect(errors, "llm_synth right output",
            checks.check_llm_synth(list(reversed(expected)), expected), True)
    d, gen = expected[0]
    _expect(errors, "llm_synth text changed",
            checks.check_llm_synth([(d, gen + "x")] + expected[1:], expected), False)
    _expect(errors, "llm_synth row dropped",
            checks.check_llm_synth(expected[1:], expected), False)
    _expect(errors, "llm_synth extra row",
            checks.check_llm_synth(expected + [(-1, "0 x")], expected), False)
    return errors


def check_benchmark_json(root: str) -> list[str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        listed = [(m["name"], m["unit"], m["better"]) for m in spec[key]]
        reported = [tuple(m[:3]) for m in table]
        if listed != reported:
            errors.append(f"BENCHMARK.json {key} differs from run.py")
    if sorted(w["name"] for w in spec["workloads"]) != sorted(run.N_DOCS):
        errors.append("BENCHMARK.json workloads differ from run.py")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if bounds["setup_s"] < max(bounds.values()):
        errors.append("setup_s must have the largest bound")
    return errors


def main() -> int:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = os.path.join(root, ".bench_data")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=base)
    try:
        errors = (check_determinism(tmp) + check_planted()
                  + check_curate(tmp) + check_neardup()
                  + check_llm_synth() + check_benchmark_json(root))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("selfcheck:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
