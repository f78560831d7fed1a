"""The Louvain move kernel in NumPy, and its in-process placement.

The CUDA reference holds the ENTIRE graph in one device's memory
(graph.cuh:46-52 copies the edge list host->device once and every phase
runs on it in place). Our engine is distributed because 10^12-turn
level-0 graphs don't fit anywhere, but Louvain coarsening shrinks the
graph geometrically, and after a level or two the coarse graph fits in
driver memory; from there on a Spark round pays fixed scheduling latency
for tiny data. So a level whose vertex state is on the driver has two
placements for its edges (operators/louvain.py::_driver_levels runs the
one level loop over either):

* on Spark, ``src``-partitioned: each round is one ``mapInArrow`` job
  that runs :func:`_state_moves` per partition
  (operators/louvain_arrow.py);
* in this process (:class:`InProcessLevel`): each round calls
  :func:`_state_moves` once on the whole level's arrays, and the coarsen
  is one ``lexsort`` + ``reduceat`` merge.

This module owns the move rule itself: :func:`_round_moves` scores one
round in every placement, the edge-carried Spark rounds included, so
the placements agree bit for bit:

* every weight / degree / Σ_tot on our graphs is an integer-valued
  float64 (coarsening sums 1.0-weight edges), so partial sums are exact
  in any order — groupBy, bincount and reduceat agree bit-for-bit;
* Q is :func:`q_from_sums` everywhere, and ΔQ is computed by the shared
  :func:`_round_moves`;
* one frontier rule (phaseOptimizationUpdate.cu:117-132) and the 0.001
  thresholds (constants.h:15) — so moves, levels and final labels match
  across placements exactly, not just approximately.
"""

from __future__ import annotations

import numpy as np


def q_from_sums(w_in, sq, m: float) -> float:
    """Q = W_in/(2m) − ΣΣ_tot²/(4m²)   (community.h:104).

    The engine's only copy of the formula. ``w_in`` is the summed weight
    of intra-community directed edges (self-loops included), ``sq`` the
    sum of squared community weights; a ``None`` sum (no rows) counts as 0.
    """
    w_in = float(w_in) if w_in is not None else 0.0
    sq = float(sq) if sq is not None else 0.0
    return w_in / (2.0 * m) - sq / (4.0 * m * m)


def _round_moves(
    src: np.ndarray,
    cd: np.ndarray,
    w: np.ndarray,
    k_src: np.ndarray,
    cs: np.ndarray,
    ctot_cs: np.ndarray,
    ctot_cd: np.ndarray,
    m: float,
    rnd: int,
):
    """One fast-local-move scoring round -> (nodes, new communities).

    The engine's only copy of the move rule. Every placement calls it:
    :class:`InProcessLevel` with the whole level, and the Spark kernels
    (operators/louvain_arrow.py) with one ``src`` hash partition at a time.

    One row per candidate edge, in any order: ``src`` the vertex that may
    move, ``cd`` its neighbour's current community, ``w`` the edge weight.
    ``k_src`` (weighted degree), ``cs`` (current community) and
    ``ctot_cs`` (Σ_tot of ``cs``) are functions of ``src``; ``ctot_cd`` is
    Σ_tot of ``cd``. Self-loops and inactive sources are already removed,
    and every candidate row of a source must be present (a source's rows
    are never split between calls).
    """
    if len(src) == 0:
        # empty frontier / self-loop-only level: no candidates, no moves
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    denom = 2.0 * m * m
    if rnd == 0:
        # exact fast path: singleton communities => each edge IS the
        # (node, community) candidate with self-weight 0
        # (phaseOptimizationSort.cu:28-158)
        nsrc, ncd, wnc = src, cd, w
        kk, ncs, ctot_a, ctot_c = k_src, cs, ctot_cs, ctot_cd
        selfw = 0.0
    else:
        # per-(node, dest-community) weight sum (A3/A4): one lexsort +
        # reduceat; the per-source columns come from each group's first row
        key_order = np.lexsort((cd, src))
        s_src, s_cd = src[key_order], cd[key_order]
        boundary = np.empty(len(s_src), dtype=bool)
        boundary[0] = True
        np.not_equal(s_src[1:], s_src[:-1], out=boundary[1:])
        new_src = boundary.copy()
        boundary[1:] |= s_cd[1:] != s_cd[:-1]
        starts = np.flatnonzero(boundary)
        head = key_order[starts]
        nsrc, ncd = s_src[starts], s_cd[starts]
        wnc = np.add.reduceat(w[key_order], starts)
        kk, ncs, ctot_a, ctot_c = k_src[head], cs[head], ctot_cs[head], ctot_cd[head]
        # self-community weight (A5): wnc of the source's own community
        # group, else 0; groups are source-contiguous, so a running source
        # ordinal indexes a per-source table without dense vertex ids
        seg = np.cumsum(new_src[starts]) - 1
        is_self = ncd == ncs
        self_by_seg = np.zeros(seg[-1] + 1)
        self_by_seg[seg[is_self]] = wnc[is_self]
        selfw = self_by_seg[seg]

    delta = (wnc - selfw) / m + (kk * (ctot_a - kk - ctot_c)) / denom

    # canonical argmax (A6): highest ΔQ, ties -> lowest community id
    order = np.lexsort((ncd, -delta, nsrc))
    first = np.empty(len(order), dtype=bool)
    o_src = nsrc[order]
    first[0] = True
    np.not_equal(o_src[1:], o_src[:-1], out=first[1:])
    pick = order[first]

    keep = (delta[pick] > 0) & (ncd[pick] != ncs[pick])
    if rnd == 0:
        keep &= nsrc[pick] < ncd[pick]  # phaseOptimizationUpdate.cu:99
    pick = pick[keep]
    return nsrc[pick], ncd[pick]


def _frontier_moves(src, cd, w, k_src, cs, ctot_cs, ctot_cd, dm, m, rnd):
    """_round_moves over the rows of the active sources: those with an
    edge whose dst moved last round into a community other than the
    source's (phaseOptimizationUpdate.cu:117-132). Rows are non-self-loop
    edges, every row of a source present."""
    sel = np.isin(src, np.unique(src[dm & (cs != cd)]))
    return _round_moves(
        src[sel], cd[sel], w[sel], k_src[sel], cs[sel], ctot_cs[sel], ctot_cd[sel], m, rnd
    )


def _state_moves(src, dst, w, k_src, comm, ctot, moved, m, rnd):
    """One round over a level's static edges -> (nodes, new communities,
    W_in), the vertex state in arrays indexed by vertex id: ``comm`` the
    community, ``ctot`` Σ_tot per community id, ``moved`` whether the
    vertex moved last round (all true at round 0).

    ``src, dst, w, k_src`` are every edge of the sources they hold (a
    ``src`` partition, or the whole level), self-loops included. ``W_in``
    is their intra-community weight under the state given, i.e. before
    this round's moves."""
    cs, cd = comm[src], comm[dst]
    win = w[cs == cd].sum()
    e = src != dst
    cs, cd = cs[e], cd[e]
    nodes, newc = _frontier_moves(
        src[e], cd, w[e], k_src[e], cs, ctot[cs], ctot[cd], moved[dst[e]], m, rnd
    )
    return nodes, newc, win


class InProcessLevel:
    """A level's ``(src, dst, w)`` edges as NumPy arrays in this process,
    vertex ids ``0..n-1``: the in-process placement of the level loop."""

    engine = "local"

    def __init__(self, src, dst, w):
        self.src, self.dst, self.w = src, dst, w
        self.ne = len(src)
        self.k_src = np.bincount(src, weights=w)[src]

    def round(self, comm, ctot, moved, m, level, rnd):
        """One round: :func:`_state_moves` on the whole level."""
        return _state_moves(self.src, self.dst, self.w, self.k_src, comm, ctot, moved, m, rnd)

    def coarsen(self, newid, level):
        """The next level (A8): both endpoints mapped through ``newid``
        (vertex id -> next-level id) and parallel edges merged by one
        ``lexsort`` + ``reduceat``; self-loops kept."""
        csrc, cdst = newid[self.src], newid[self.dst]
        key_order = np.lexsort((cdst, csrc))
        s1, s2 = csrc[key_order], cdst[key_order]
        boundary = np.empty(len(s1), dtype=bool)
        boundary[0] = True
        np.not_equal(s1[1:], s1[:-1], out=boundary[1:])
        boundary[1:] |= s2[1:] != s2[:-1]
        starts = np.flatnonzero(boundary)
        return InProcessLevel(s1[starts], s2[starts], np.add.reduceat(self.w[key_order], starts))
