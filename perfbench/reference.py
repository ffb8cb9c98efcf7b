"""Single-node numpy/pandas references for the benchmark's output checks.

Each function restates the semantics graft documents for the operator
(edge derivation, PageRank's L1 stopping rule, synchronous LPA with
(max weight, min label) ties, single-counted CPM), so a check compares
graft with an independent computation, never with another graft run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def actor_edges(turns: pd.DataFrame) -> pd.DataFrame:
    """``graft.io.transcripts_to_edges``: ``(u, v, weight)`` with
    ``u <= v``, one count per adjacent turn pair and per
    (conversation, turn actor)."""
    t = turns.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    actor = np.where(
        t["tool"].notna(), "tool:" + t["tool"].fillna(""), "role:" + t["role"]
    ).astype(object)
    conv = t["conv_id"].to_numpy(dtype=object)
    same = conv[1:] == conv[:-1]
    prev, cur = actor[:-1][same], actor[1:][same]
    conv_actor = ("conv:" + t["conv_id"]).to_numpy(dtype=object)
    a = np.concatenate([prev, conv_actor])
    b = np.concatenate([cur, actor])
    pairs = pd.DataFrame({"u": np.minimum(a, b), "v": np.maximum(a, b)})
    return (
        pairs.groupby(["u", "v"], sort=True).size().astype(np.float64)
        .rename("weight").reset_index()
    )


class RefGraph:
    """The symmetrized graph ``Graph.from_undirected`` builds: both
    directions of every edge, self-loops once, parallel edges folded to
    the minimum weight. Vertex ``i`` is ``ids[i]``."""

    def __init__(self, u, v, w):
        u, v, w = np.asarray(u), np.asarray(v), np.asarray(w, dtype=np.float64)
        self.ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
        a, b = inv[: len(u)], inv[len(u):]
        sym = pd.DataFrame(
            {"s": np.concatenate([a, b]), "d": np.concatenate([b, a]),
             "w": np.concatenate([w, w])}
        ).groupby(["s", "d"], sort=True)["w"].min().reset_index()
        self.src = sym["s"].to_numpy()
        self.dst = sym["d"].to_numpy()
        self.w = sym["w"].to_numpy()
        self.n = len(self.ids)

    def index(self, keys) -> np.ndarray:
        """Positions of ``keys`` in ``ids``; raises if any is unknown."""
        pos = np.searchsorted(self.ids, keys)
        pos = np.minimum(pos, self.n - 1)
        if not np.array_equal(self.ids[pos], np.asarray(keys)):
            raise KeyError("vertex set differs from the reference")
        return pos


def pagerank(g: RefGraph, alpha=0.85, tol=1e-6, max_iter=500) -> np.ndarray:
    """Weighted PageRank with graft's rule: r0 = 1/n, stop once the L1
    norm of the update is below ``tol``."""
    out = np.bincount(g.src, weights=g.w, minlength=g.n)
    p = g.w / out[g.src]
    r = np.full(g.n, 1.0 / g.n)
    for _ in range(max_iter):
        new = (1.0 - alpha) / g.n + alpha * np.bincount(
            g.dst, weights=r[g.src] * p, minlength=g.n
        )
        delta = np.abs(new - r).sum()
        r = new
        if delta < tol:
            break
    return r


def lpa(g: RefGraph, labels: np.ndarray, max_iter: int) -> np.ndarray:
    """Synchronous weighted LPA over non-loop edges; each vertex takes
    the neighbour label of largest total weight, ties to the smallest
    label; stops early when no label changes."""
    keep = g.src != g.dst
    s, d, w = g.src[keep], g.dst[keep], g.w[keep]
    for _ in range(max_iter):
        scores = pd.DataFrame({"s": s, "l": labels[d], "w": w}).groupby(
            ["s", "l"], sort=False
        )["w"].sum().reset_index()
        best = scores.sort_values(
            ["s", "w", "l"], ascending=[True, False, True], kind="mergesort"
        ).drop_duplicates("s")
        new = labels.copy()
        new[best["s"].to_numpy()] = best["l"].to_numpy()
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def cpm(g: RefGraph, community: np.ndarray, gamma: float) -> float:
    """CPM, single-counted: sum over communities of internal weight
    (loops once) minus gamma * n_c * (n_c - 1) / 2."""
    same = community[g.src] == community[g.dst]
    loops = g.src == g.dst
    w_in = g.w[same & ~loops].sum() / 2.0 + g.w[same & loops].sum()
    sizes = np.unique(community, return_counts=True)[1].astype(np.float64)
    return float(w_in - gamma * (sizes * (sizes - 1) / 2.0).sum())
