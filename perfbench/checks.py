"""Output checkers, one per workload. Each returns ``(ok, detail)``.

- ``curate``: the exported doc_id set and row count must equal a DuckDB
  reference computed from the same input files.
- ``neardup``: no unplanted doc may be removed, every planted cluster's
  earliest doc must survive, and recall on the planted copies must stay
  at or above :data:`NEARDUP_RECALL_FLOOR`.
- ``llm_synth``: the kept ``(doc_id, generated)`` rows must equal a
  pure-Python replay of the stub server's response function.
"""

from __future__ import annotations

import os
import re

from corpus import STOPWORDS
from stub_server import respond
import workloads as W

#: MinHash (64 perms, 4 bands x 16 rows, threshold 0.9) finds ~0.97 of
#: the planted copies on this corpus; the floor leaves room for seeds
NEARDUP_RECALL_FLOOR = 0.85


def curate_reference_sql(input_glob: str) -> str:
    """The curate chain in DuckDB SQL, mirroring each operator's
    documented semantics (whitespace collapse + space trim, non-blank,
    word-count range, the four-part quality score, keep the smallest
    doc_id per text digest). After the collapse a non-blank text holds
    single spaces only, so splitting on ' ' equals splitting on \\s+."""
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH refined AS (
        SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS t
        FROM read_parquet('{input_glob}')
    ), counted AS (
        SELECT doc_id, t, w, len(w)::DOUBLE AS n FROM (
            SELECT doc_id, t, string_split(t, ' ') AS w FROM refined
            WHERE t IS NOT NULL AND t <> '')
        WHERE len(w) BETWEEN {W.MIN_WORDS} AND 100000
    ), scored AS (
        SELECT doc_id, t,
            0.25::DOUBLE * least(n / 100.0::DOUBLE, 1.0::DOUBLE)
          + 0.25::DOUBLE * least(
                (len(list_filter(w, x -> lower(x) IN ({sw})))::DOUBLE / n)
                / 0.3::DOUBLE, 1.0::DOUBLE)
          + 0.25::DOUBLE * (CASE WHEN regexp_matches(t, '[.!?]$')
                                 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
          + 0.25::DOUBLE * (len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                            / n) AS score
        FROM counted
    )
    SELECT min(doc_id) AS doc_id FROM scored
    WHERE score >= {W.QUALITY_MIN}::DOUBLE GROUP BY md5(t)
    """


def _duckdb():
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def curate_reference(input_dir: str) -> list[int]:
    con = _duckdb()
    try:
        sql = curate_reference_sql(os.path.join(input_dir, "*.parquet"))
        return sorted(r[0] for r in con.execute(sql).fetchall())
    finally:
        con.close()


def read_export(export_dir: str) -> list[tuple[int, str]]:
    """(doc_id, split) of every exported row."""
    con = _duckdb()
    try:
        return con.execute(
            "SELECT doc_id, split FROM read_parquet(?, hive_partitioning=true)",
            [os.path.join(export_dir, "*", "*.parquet")]).fetchall()
    finally:
        con.close()


def check_curate(rows: list[tuple[int, str]], expected: list[int]) -> tuple[bool, str]:
    ids = [r[0] for r in rows]
    if len(ids) != len(expected):
        return False, f"exported {len(ids)} rows, reference {len(expected)}"
    if sorted(ids) != expected:
        return False, "exported doc_id set differs from the reference"
    bad = {s for _, s in rows} - set(W.SPLITS)
    if bad:
        return False, f"unknown split labels {sorted(bad)}"
    return True, f"{len(ids)} rows match the DuckDB reference"


def check_neardup(survivors: list[int], doc_ids: list[int],
                  cluster: list[int]) -> tuple[bool, str]:
    kept = set(survivors)
    if len(kept) != len(survivors) or not kept <= set(doc_ids):
        return False, "survivors are not a duplicate-free subset of the input"
    members: dict[int, list[int]] = {}
    for d, c in zip(doc_ids, cluster):
        if c < 0:
            if d not in kept:
                return False, f"unplanted doc {d} was removed"
        else:
            members.setdefault(c, []).append(d)
    copies = removed = 0
    for ids in members.values():
        first = min(ids)
        if first not in kept:
            return False, f"earliest doc {first} of a planted cluster was removed"
        copies += len(ids) - 1
        removed += sum(1 for d in ids if d != first and d not in kept)
    recall = removed / copies if copies else 1.0
    if recall < NEARDUP_RECALL_FLOOR:
        return False, f"recall {recall:.3f} below floor {NEARDUP_RECALL_FLOOR}"
    return True, f"recall {recall:.3f} on {copies} planted copies, no unplanted loss"


_SCORE_RE = re.compile(r"(-?[0-9]+(\.[0-9]+)?)")


def llm_synth_replay(doc_ids: list[int], texts: list[str]) -> list[tuple[int, str]]:
    """What PromptedGenerator -> PromptedFilter must keep, replayed in
    plain Python against :func:`stub_server.respond`."""
    kept = []
    for d, t in zip(doc_ids, texts):
        gen = respond(W.GEN_TEMPLATE.format(text=t))
        m = _SCORE_RE.search(respond(W.FILTER_TEMPLATE.format(generated=gen)))
        if m and float(m.group(1)) >= W.FILTER_MIN_SCORE:
            kept.append((d, gen))
    return sorted(kept)


def check_llm_synth(rows: list[tuple[int, str]],
                    expected: list[tuple[int, str]]) -> tuple[bool, str]:
    got = sorted(rows)
    if got != expected:
        return False, (f"{len(got)} kept rows differ from the replay "
                       f"({len(expected)} rows)")
    return True, f"{len(got)} kept rows match the replay"
