"""Single-node oracles for every checked output.  None of them calls the
engine: DuckDB replays the SQL-shaped steps, numpy runs the power
iteration, networkx finds components, and label propagation is
re-implemented here from its documented rule.
"""

from __future__ import annotations

from collections import defaultdict

import duckdb
import networkx as nx
import numpy as np
import pandas as pd


def _duck(tmp_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET threads = 2")
    return con


# -- transcripts ----------------------------------------------------------


def derive_replay(parquet_dir, tmp_dir):
    """``derive_edges`` and the host-graph collapse, replayed in DuckDB
    over the same Parquet files.  Returns ``(n_turns, derived, simple)``:
    ``derived`` maps ``(src, dst, etype)`` to weight, ``simple`` maps
    ``(src, dst)`` to summed weight."""
    con = _duck(tmp_dir)
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{parquet_dir}/*.parquet')"
    )
    n_turns = con.execute("SELECT count(*) FROM t").fetchone()[0]
    rows = con.execute(
        """
        WITH reply AS (
            SELECT 'role:' || role AS src,
                   lead('role:' || role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst,
                   'reply' AS etype
            FROM t),
        invoke AS (
            SELECT 'role:' || role AS src, 'tool:' || tool AS dst, 'invoke' AS etype
            FROM t WHERE tool IS NOT NULL),
        e AS (SELECT * FROM reply WHERE dst IS NOT NULL UNION ALL SELECT * FROM invoke)
        SELECT src, dst, etype, count(*) FROM e GROUP BY src, dst, etype
        """
    ).fetchall()
    con.close()
    derived = {(s, d, et): int(w) for s, d, et, w in rows}
    simple = defaultdict(int)
    for (s, d, _), w in derived.items():
        simple[(s, d)] += w
    return n_turns, derived, dict(simple)


# -- iterative passes -------------------------------------------------------


def pagerank(edges, alpha=0.85, tol=1e-6, max_iter=100, fixed_iterations=None):
    """networkx's power iteration on an unweighted digraph: uniform
    start, teleport and dangling mass; stops when the L1 change is
    below ``N * tol`` (or after exactly ``fixed_iterations`` rounds)."""
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    src = np.fromiter((idx[s] for s, _ in edges), dtype=np.int64, count=len(edges))
    dst = np.fromiter((idx[d] for _, d in edges), dtype=np.int64, count=len(edges))
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    x = np.full(n, 1.0 / n)
    rounds = fixed_iterations if fixed_iterations is not None else max_iter
    for _ in range(rounds):
        last = x
        x = np.zeros(n)
        np.add.at(x, dst, alpha * last[src] / out_deg[src])
        x += (alpha * last[dangling].sum() + (1.0 - alpha)) / n
        if fixed_iterations is None and np.abs(x - last).sum() < n * tol:
            break
    else:
        if fixed_iterations is None:
            raise RuntimeError("oracle pagerank did not converge")
    return dict(zip(nodes, x.tolist()))


def ranks_match(got, want, rtol=1e-6, atol=1e-9):
    if set(got) != set(want):
        return False
    keys = sorted(want)
    return bool(
        np.allclose([got[k] for k in keys], [want[k] for k in keys], rtol=rtol, atol=atol)
    )


def components(edges):
    """Vertex -> smallest vertex id of its undirected component."""
    g = nx.Graph()
    g.add_edges_from(edges)
    out = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for v in comp:
            out[v] = root
    return out


def label_propagation(edges, max_iter):
    """Synchronous LPA over the undirected simple graph (a self-loop
    lets a vertex count its own label).  Each round every vertex takes
    the label held by the most distinct neighbours, the smallest label
    on ties; it stops early once no label changes."""
    nbrs = defaultdict(set)
    for s, d in edges:
        nbrs[s].add(d)
        nbrs[d].add(s)
    labels = {v: v for v in nbrs}
    for _ in range(max_iter):
        new = {}
        for v, ns in nbrs.items():
            score = defaultdict(int)
            for u in ns:
                score[labels[u]] += 1
            best = max(score.values())
            new[v] = min(lab for lab, c in score.items() if c == best)
        if new == labels:
            break
        labels = new
    return labels


# -- motif and triangle counts ---------------------------------------------


def graph_counts(edges, hubs, tmp_dir):
    """DuckDB counts over a simple digraph without self-loops:
    directed 2-paths, directed 3-cycles (one per rotation, as a
    monomorphism count sees them), 3-cycles whose first vertex is a
    hub, undirected triangles, and the degree identity terms."""
    con = _duck(tmp_dir)
    arr = np.asarray(edges, dtype=np.int64).reshape(-1, 2)
    # Both frames are read by DuckDB's replacement scan below.
    e_tbl = pd.DataFrame({"src": arr[:, 0], "dst": arr[:, 1]})  # noqa: F841
    h_tbl = pd.DataFrame({"id": np.asarray(sorted(hubs), dtype=np.int64)})  # noqa: F841
    con.execute("CREATE TABLE e AS SELECT src, dst FROM e_tbl")
    con.execute("CREATE TABLE h AS SELECT id FROM h_tbl")
    q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
    out = {
        "two_paths": q(
            "SELECT count(*) FROM e a JOIN e b ON a.dst = b.src WHERE a.src <> b.dst"
        ),
        "three_cycles": q(
            "SELECT count(*) FROM e a JOIN e b ON a.dst = b.src "
            "JOIN e c ON b.dst = c.src AND c.dst = a.src"
        ),
        "hub_cycles": q(
            "SELECT count(*) FROM e a JOIN h ON a.src = h.id JOIN e b ON a.dst = b.src "
            "JOIN e c ON b.dst = c.src AND c.dst = a.src"
        ),
        "triangles": q(
            "WITH u AS (SELECT DISTINCT least(src, dst) AS x, greatest(src, dst) AS y FROM e) "
            "SELECT count(*) FROM u a JOIN u b ON a.y = b.x JOIN u c ON a.x = c.x AND b.y = c.y"
        ),
        "sum_in_out": q(
            "WITH o AS (SELECT src AS v, count(*) AS n FROM e GROUP BY src), "
            "i AS (SELECT dst AS v, count(*) AS n FROM e GROUP BY dst) "
            "SELECT coalesce(sum(o.n * i.n), 0) FROM o JOIN i USING (v)"
        ),
        "reciprocal_pairs": q(
            "SELECT count(*) FROM e a JOIN e b ON a.src = b.dst AND a.dst = b.src "
            "WHERE a.src < a.dst"
        ),
    }
    con.close()
    return out
