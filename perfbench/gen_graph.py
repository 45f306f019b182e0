"""Seeded graphs for the ``graph_resolve`` workload, with every answer
known by construction.

* :func:`pair_graph` — a near-duplicate pair graph made of chain and
  star components.  Node ids are a random permutation, so the minimum
  id (the component label) sits anywhere in a chain.  Chains have at
  most ``MAX_CHAIN`` nodes, so min-label propagation converges within
  ``MAX_CHAIN`` iterations.
* :func:`deep_forest` — a parent→child edge list of trees whose leaves
  all sit at depth ``depth``; the leaf closure needs ``depth`` passes.
* :func:`numpy_pagerank` — the damped power iteration of
  ``operators.graph.pagerank`` (distinct edges, dangling mass spread
  uniformly), in numpy.
"""

from __future__ import annotations

import numpy as np

MAX_CHAIN = 4
MAX_STAR_LEAVES = 4


def pair_graph(seed: int, min_pairs: int) -> dict:
    """Undirected pairs ``(id_a < id_b)`` with at least ``min_pairs``
    rows; returns ``pairs`` (int64 array n×2), ``nodes`` (sorted int64
    ids) and ``component`` (node id → min id of its component, as two
    aligned arrays ``nodes``/``labels``)."""
    rng = np.random.default_rng([seed, 0x9A1B])
    comps: list[list[tuple[int, int]]] = []  # edges over local node indices
    sizes: list[int] = []
    n_pairs = 0
    while n_pairs < min_pairs:
        if rng.random() < 0.5:
            k = int(rng.integers(2, MAX_CHAIN + 1))
            edges = [(i, i + 1) for i in range(k - 1)]
        else:
            k = int(rng.integers(2, MAX_STAR_LEAVES + 2))
            edges = [(0, i) for i in range(1, k)]
        comps.append(edges)
        sizes.append(k)
        n_pairs += len(edges)
    n_nodes = sum(sizes)
    ids = rng.permutation(n_nodes).astype("int64")
    pairs = np.empty((n_pairs, 2), dtype="int64")
    labels = np.empty(n_nodes, dtype="int64")
    base = row = 0
    for edges, k in zip(comps, sizes):
        comp_ids = ids[base:base + k]
        labels[comp_ids] = comp_ids.min()
        for a, b in edges:
            u, v = comp_ids[a], comp_ids[b]
            pairs[row] = (min(u, v), max(u, v))
            row += 1
        base += k
    return {"pairs": pairs, "nodes": np.arange(n_nodes, dtype="int64"), "labels": labels,
            "n_components": len(comps)}


def deep_forest(seed: int, min_edges: int, depth: int) -> dict:
    """Trees whose every root-to-leaf path has exactly ``depth`` edges.
    Returns ``edges`` (int64 n×2 parent, child) and ``closure`` — the
    sorted (ancestor, leaf) pairs as an int64 n×2 array."""
    rng = np.random.default_rng([seed, 0xF0E5])
    edges: list[tuple[int, int]] = []
    closure: list[tuple[int, int]] = []
    next_id = 0
    while len(edges) < min_edges:
        root = next_id
        next_id += 1
        level = [(root, (root,))]  # (node, ancestors including itself)
        for _ in range(depth):
            nxt = []
            for node, anc in level:
                for _ in range(1 + int(rng.random() < 0.35)):
                    child = next_id
                    next_id += 1
                    edges.append((node, child))
                    nxt.append((child, anc + (child,)))
            level = nxt
        for leaf, anc in level:
            closure.extend((a, leaf) for a in anc[:-1])
    ids = rng.permutation(next_id).astype("int64")
    e = ids[np.asarray(edges, dtype="int64")]
    c = ids[np.asarray(closure, dtype="int64")]
    c = c[np.lexsort((c[:, 1], c[:, 0]))]
    return {"edges": e, "closure": c, "depth": depth}


def numpy_pagerank(src: np.ndarray, dst: np.ndarray, iterations: int = 10,
                   damping: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """(sorted node ids, ranks) — the reference for ``pagerank``."""
    e = np.unique(np.stack([src, dst], axis=1), axis=0)
    nodes = np.unique(e.reshape(-1))
    n = len(nodes)
    s = np.searchsorted(nodes, e[:, 0])
    d = np.searchsorted(nodes, e[:, 1])
    out_deg = np.bincount(s, minlength=n).astype("float64")
    dangling = out_deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
        rank = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return nodes, rank
