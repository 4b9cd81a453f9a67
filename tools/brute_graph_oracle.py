"""Brute-force oracle for the co-error graph queries at scales where
the SQL twins are infeasible.

The contract oracles are exact but their DuckDB shapes do not scale:
the connected-components twin is a RECURSIVE transitive closure over
the per-hour CLIQUE expansion (~2.77e9 pre-distinct pairs at sf10),
and an earlier PageRank twin spilled the disk on its clique joins.
Both algorithms are pure integer fixed-point, so a third
implementation is trivial and assumption-free — and it works
from the LINEAR (user, error-hour) incidence list, never the clique:

- incidences come from DuckDB (verbatim, cheap at any sf);
- connected components: hypergraph union-find — union consecutive
  members within each hour group (clique connectivity without clique
  edges; independent of the engine's hour-star construction);
- PageRank: 3 power iterations over the BIPARTITE user<->hour graph
  (the contract definition) with the operator's exact fixed-point
  arithmetic (SCALE=1e9 integers, floor divisions) via int64
  np.add.at — associative, so bit-identical to any correct engine.

Usage:
    python tools/brute_graph_oracle.py [--sf /root/testdata/sf0.1]
        [--query q_connected_components,q_pagerank]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EH_SQL = """
SELECT DISTINCT user_id,
       epoch(date_trunc('hour', ts))::BIGINT // 3600 AS eh
FROM events WHERE event_type = 'error'
"""


def load_incidences(sf_dir: str) -> tuple[np.ndarray, np.ndarray]:
    import duckdb

    p = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(p):
        p = os.path.join(p, "*.parquet")
    con = duckdb.connect()
    con.execute("SET memory_limit='20GB'")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{p}'")
    e = con.execute(EH_SQL).fetchnumpy()
    con.close()
    return (e["user_id"].astype(np.int64), e["eh"].astype(np.int64))


class _UF:
    def __init__(self):
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent
        root = x
        while p.get(root, root) != root:
            root = p[root]
        while p.get(x, x) != root:
            p[x], x = root, p[x]
        return root

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            if ra > rb:
                ra, rb = rb, ra
            self.parent[rb] = ra


def brute_components(users: np.ndarray,
                     hours: np.ndarray) -> dict[int, int]:
    """Components of the per-hour co-error CLIQUE graph, via hypergraph
    union-find: within each hour, union each member with the previous
    one (a path through the clique — same connectivity). Users that
    never share an hour with anyone (singleton hours only) are NOT
    graph nodes, matching the a.user_id < b.user_id clique join."""
    order = np.lexsort((users, hours))
    u, h = users[order], hours[order]
    uf = _UF()
    nodes: set[int] = set()
    for i in range(1, len(u)):
        if h[i] == h[i - 1]:
            nodes.add(int(u[i])); nodes.add(int(u[i - 1]))
            uf.union(int(u[i - 1]), int(u[i]))
    comp_min: dict[int, int] = {}
    for v in nodes:
        r = uf.find(v)
        comp_min[r] = min(comp_min.get(r, v), v)
    return {v: comp_min[uf.find(v)] for v in nodes}


def brute_pagerank(users: np.ndarray, hours: np.ndarray, n_iter: int = 3,
                   scale: int = 10 ** 9, d_num: int = 850) -> dict[int, float]:
    """Bipartite user<->hour PageRank (the r8 q_pagerank contract):
    hour nodes get id -(epoch_hour) - 1; output = user nodes only."""
    edges = np.stack([users, -hours - 1], axis=1)
    sym = np.concatenate([edges, edges[:, ::-1]])
    ids = np.unique(sym)
    idx_map = {int(v): i for i, v in enumerate(ids)}
    s = np.fromiter((idx_map[int(v)] for v in sym[:, 0]), dtype=np.int64)
    t = np.fromiter((idx_map[int(v)] for v in sym[:, 1]), dtype=np.int64)
    n = len(ids)
    deg = np.bincount(s, minlength=n).astype(np.int64)
    pr = np.full(n, scale // n, dtype=np.int64)
    for _ in range(n_iter):
        contrib = pr[s] // deg[s]
        m = np.zeros(n, dtype=np.int64)
        np.add.at(m, t, contrib)
        # mirror of the contract oracle / PageRankOperator fixed point:
        # (1000-d)*SCALE // (1000*n) + (d*m) // 1000, all integer
        pr = ((1000 - d_num) * scale) // (1000 * n) + (d_num * m) // 1000
    return {int(v): pr[idx_map[int(v)]] / float(scale)
            for v in ids.tolist() if v >= 0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--query",
                    default="q_connected_components,q_pagerank")
    args = ap.parse_args()

    t0 = time.time()
    users, hours = load_incidences(args.sf)
    print(f"      incidences: {len(users)} ({time.time()-t0:.1f}s)")

    import __spark_entry__ as entrymod
    from dataflow_spark import get_spark

    spark = get_spark("brute-graph-oracle")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    ok = True
    for name in args.query.split(","):
        t0 = time.time()
        if name == "q_connected_components":
            want = brute_components(users, hours)
            t_brute = time.time() - t0
            t0 = time.time()
            got = {int(r[0]): int(r[1])
                   for r in qs[name](spark, args.sf).collect()}
        elif name == "q_pagerank":
            want = brute_pagerank(users, hours)
            t_brute = time.time() - t0
            t0 = time.time()
            got = {int(r[0]): float(r[1])
                   for r in qs[name](spark, args.sf).collect()}
        else:
            raise SystemExit(f"unknown query {name}")
        t_engine = time.time() - t0
        print(f"      {name}: brute {t_brute:.1f}s, engine {t_engine:.1f}s")
        bad = {k for k in set(want) | set(got)
               if want.get(k) != got.get(k)}
        if bad:
            ex = sorted(bad)[:5]
            print(f"FAIL  {name}: {len(bad)} mismatches of "
                  f"{len(want)}; e.g. "
                  f"{[(k, got.get(k), want.get(k)) for k in ex]}")
            ok = False
        else:
            print(f"PASS  {name}: {len(got)} rows exact")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
