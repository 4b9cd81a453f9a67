"""Seeded corpus generator for the three benchmark workloads.

Every input is a pure function of ``(workload, seed, n_docs)``: the same
arguments give byte-identical parquet files. The generator plants the
properties each workload depends on and returns them as metadata the
output checkers use:

- ``curate``: ~20% exact duplicates (half byte-identical, half that only
  become identical after whitespace normalisation), null,
  whitespace-only and short docs, whitespace noise, a source mix and a
  log-normal length distribution. No near-duplicates.
- ``neardup``: clusters of 2-5 copies with 1-3 word edits, plus one
  oversized "spam template" cluster covering ~3% of the corpus; the rest
  are unrelated docs.
- ``llm_synth``: short instructions, ~25% of them repeats of an earlier
  prompt.

Each table is written across several files so a scan uses every core.
pyarrow is imported on use, so importing the stopword list stays cheap.
"""

from __future__ import annotations

import itertools
import math
import os
import random

#: the benchmark's own stopword list, passed explicitly to
#: QualityScoreEvaluator and mirrored by the DuckDB reference
STOPWORDS = (
    "the", "a", "an", "and", "or", "but", "if", "then", "of", "to", "in",
    "on", "at", "by", "for", "with", "is", "are", "was", "were", "be",
    "been", "it", "its", "this", "that", "as", "from", "not", "no",
)

SOURCES = ("web", "books", "news", "wiki", "code")
SOURCE_WEIGHTS = (0.5, 0.15, 0.15, 0.1, 0.1)

#: whitespace noise; no \v/\f so the Java, RE2 and Python \s agree
_NOISY_SEPS = (" ",) * 40 + ("  ", "\t", "\n", " \n ", "   ", " \t")
_SYLLABLES = ("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "pa", "de",
              "ro", "gu", "ne", "ta", "li", "mo", "sa", "fe", "zu", "bi",
              "cha", "tor", "ven", "lis", "mar", "dor", "pen", "quo")


def _vocab(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


class _TextMaker:
    """Zipf-distributed synthetic English-like text."""

    def __init__(self, rng: random.Random, vocab_size: int = 8000):
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size)
        self.cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1
                                             for r in range(vocab_size)))

    def words(self, n: int, stop_p: float, number_p: float = 0.03) -> list[str]:
        rng = self.rng
        content = rng.choices(self.vocab, cum_weights=self.cum, k=n)
        out = []
        for w in content:
            u = rng.random()
            if u < stop_p:
                w = rng.choice(STOPWORDS)
            elif u < stop_p + number_p:
                w = str(rng.randrange(10000))
            out.append(w)
        # sentences of 6-18 words, capitalised, ending in . ! or ?
        i = 0
        while i < n:
            out[i] = out[i].capitalize()
            j = min(n, i + rng.randint(6, 18))
            out[j - 1] += rng.choice(".....!?")
            i = j
        return out


def _length(rng: random.Random, median: int, sigma: float, lo: int,
            hi: int) -> int:
    return max(lo, min(hi, int(rng.lognormvariate(math.log(median), sigma))))


def _noisy_join(rng: random.Random, words: list[str]) -> str:
    seps = rng.choices(_NOISY_SEPS, k=len(words) - 1) if words else []
    body = words[0] if words else ""
    parts = [body]
    for s, w in zip(seps, words[1:]):
        parts.append(s)
        parts.append(w)
    text = "".join(parts)
    if rng.random() < 0.1:
        text = rng.choice(("  ", "\n", "\t ")) + text
    if rng.random() < 0.1:
        text = text + rng.choice(("  ", "\n", " \t"))
    return text


def _doc_ids(rng: random.Random, n: int) -> list[int]:
    """Unique ids in random (not file) order, so keep-first is decided
    by the data and not by the scan order."""
    return rng.sample(range(1, 20 * n + 1), n)


def _sources(rng: random.Random, n: int) -> list[str]:
    return rng.choices(SOURCES, weights=SOURCE_WEIGHTS, k=n)


def make_curate(seed: int, n_docs: int) -> tuple["pa.Table", dict]:
    import pyarrow as pa

    rng = random.Random(f"curate:{seed}")
    tm = _TextMaker(rng)
    texts: list[str | None] = []
    originals: list[tuple[list[str], str]] = []   # dups copy one of these
    kinds = {"null": 0, "blank": 0, "short": 0, "dup": 0}
    for _ in range(n_docs):
        u = rng.random()
        if u < 0.02:
            texts.append(None)
            kinds["null"] += 1
        elif u < 0.03:
            texts.append(rng.choice(("", " ", "\n\t", "   ")))
            kinds["blank"] += 1
        elif u < 0.23 and originals:
            words, text = rng.choice(originals)
            texts.append(text if rng.random() < 0.5
                         else _noisy_join(rng, words))
            kinds["dup"] += 1
        elif u < 0.29:
            words = tm.words(rng.randint(1, 4), stop_p=0.2)
            texts.append(_noisy_join(rng, words))
            kinds["short"] += 1
        else:
            # the score threshold falls inside the population: docs
            # without final punctuation and few words score below it
            words = tm.words(_length(rng, 70, 0.7, 5, 600),
                             stop_p=rng.uniform(0.05, 0.4))
            if rng.random() < 0.25:
                words[-1] = words[-1].rstrip(".!?")
            texts.append(_noisy_join(rng, words))
            originals.append((words, texts[-1]))
    table = pa.table({
        "doc_id": pa.array(_doc_ids(rng, n_docs), pa.int64()),
        "source": pa.array(_sources(rng, n_docs), pa.string()),
        "text": pa.array(texts, pa.string()),
    })
    return table, {"kinds": kinds}


def _edit(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    """1-3 word edits: substitution, deletion or insertion."""
    out = list(words)
    for _ in range(rng.randint(1, 3)):
        op = rng.random()
        i = rng.randrange(len(out))
        if op < 0.5:
            out[i] = rng.choice(vocab)
        elif op < 0.75 and len(out) > 2:
            del out[i]
        else:
            out.insert(i, rng.choice(vocab))
    return out


def make_neardup(seed: int, n_docs: int) -> tuple["pa.Table", dict]:
    import pyarrow as pa

    rng = random.Random(f"neardup:{seed}")
    tm = _TextMaker(rng)
    rows: list[tuple[str, int]] = []   # (text, cluster index or -1)

    # the oversized spam-template cluster: ~3% of the corpus, each doc
    # the template with 1-3 edits drawn from a small slot vocabulary,
    # so some members are byte-identical (the exact-collapse path)
    template = tm.words(90, stop_p=0.3)
    slot_words = tm.vocab[:40]
    n_spam = max(2, n_docs * 3 // 100)
    rows.extend((" ".join(_edit(rng, template, slot_words)), 0)
                for _ in range(n_spam))

    cid = 0
    while len(rows) < n_docs:
        words = tm.words(_length(rng, 200, 0.4, 80, 600),
                         stop_p=rng.uniform(0.15, 0.35))
        if rng.random() < 0.15:
            size = min(rng.randint(2, 5), n_docs - len(rows))
            if size >= 2:
                cid += 1
                rows.append((" ".join(words), cid))
                rows.extend((" ".join(_edit(rng, words, tm.vocab)), cid)
                            for _ in range(size - 1))
                continue
        rows.append((" ".join(words), -1))
    rng.shuffle(rows)
    table = pa.table({
        "doc_id": pa.array(_doc_ids(rng, n_docs), pa.int64()),
        "source": pa.array(_sources(rng, n_docs), pa.string()),
        "text": pa.array([t for t, _ in rows], pa.string()),
    })
    return table, {"cluster": [c for _, c in rows]}


def make_llm_synth(seed: int, n_docs: int) -> tuple["pa.Table", dict]:
    import pyarrow as pa

    rng = random.Random(f"llm_synth:{seed}")
    tm = _TextMaker(rng, vocab_size=3000)
    texts: list[str] = []
    repeats = 0
    for _ in range(n_docs):
        if texts and rng.random() < 0.25:
            texts.append(rng.choice(texts))
            repeats += 1
        else:
            texts.append(" ".join(tm.words(rng.randint(8, 20), stop_p=0.3)))
    table = pa.table({
        "doc_id": pa.array(_doc_ids(rng, n_docs), pa.int64()),
        "source": pa.array(_sources(rng, n_docs), pa.string()),
        "text": pa.array(texts, pa.string()),
    })
    return table, {"repeats": repeats}


MAKERS = {"curate": make_curate, "neardup": make_neardup,
          "llm_synth": make_llm_synth}


def write_table(table, out_dir: str, n_files: int) -> list[str]:
    """Write ``table`` as ``n_files`` parquet files of contiguous rows."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    paths = []
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        paths.append(path)
    return paths
