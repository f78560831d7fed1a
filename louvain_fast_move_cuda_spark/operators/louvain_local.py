"""Driver-local Louvain tail: finish coarsened levels in one process.

The CUDA reference holds the ENTIRE graph in one device's memory
(`/root/reference/graph.cuh:46-52` copies the edge list host->device once
and every phase runs on it in place). Our engine is distributed precisely
because 10^12-turn level-0 graphs don't fit anywhere — but Louvain
coarsening shrinks the graph geometrically, and after a level or two the
coarse graph fits comfortably in driver memory. From that point on,
distributed supersteps pay fixed scheduler/shuffle latency per round for
tiny data; the scale-correct design is the reference's own: once the
graph fits in one node, run it in one node.

This module is that tail, vectorized NumPy end-to-end. It also owns
the move rule itself: :func:`_round_moves` scores one round, and the
distributed rounds run the very same function per ``src`` partition
inside the Spark kernel (operators/louvain_arrow.py). One kernel, two
placements: the tail gathers the per-row inputs by vertex index, the
Spark kernel receives them as Arrow columns.

Exact parity with the distributed rounds (tested bit-for-bit):

* every weight / degree / Σ_tot on our graphs is an integer-valued
  float64 (coarsening sums 1.0-weight edges), so partial sums are exact
  in any order — groupBy, bincount and reduceat agree bit-for-bit;
* Q is :func:`q_from_sums` in both placements (the distributed rounds
  feed it the sums of one observed scan), and ΔQ is computed by the
  shared :func:`_round_moves`;
* identical frontier propagation (phaseOptimizationUpdate.cu:117-132)
  and 0.001 thresholds (constants.h:15) — so moves, levels and final
  labels match the distributed engine exactly, not just approximately.
"""

from __future__ import annotations

from dataclasses import dataclass, field
import time

import numpy as np


@dataclass
class LocalLouvainResult:
    labels: np.ndarray  # final dense community per ENTRY-level vertex index
    ids: np.ndarray  # entry-level vertex ids, parallel to labels
    modularity: float
    n_communities: int
    levels_added: int  # number of aggregation phases run
    metrics: list[dict] = field(default_factory=list)


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

    The engine's only copy of the move rule. Both placements call it: the
    driver-local tail below with the whole graph, and the Spark kernel
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


def local_louvain(
    src: np.ndarray,
    dst: np.ndarray,
    w: np.ndarray,
    ids: np.ndarray,
    k: np.ndarray,
    m: float,
    q: float,
    level: int,
    threshold: float,
    early_stop_limit: int,
) -> LocalLouvainResult:
    """Run Louvain to convergence on an in-memory graph.

    Inputs mirror the distributed state at a clean level start
    (identity communities): directed symmetric edge arrays, per-vertex
    ids + weighted degree, total weight ``m``, current modularity ``q``.
    ``level`` is the starting level number (metrics bookkeeping only).
    """
    ids = np.asarray(ids, dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    k = np.asarray(k, dtype=np.float64)[order]
    # order-preserving dense relabel: community ids keep their relative
    # order, so every ordered tie-break below matches the distributed plan
    src = np.searchsorted(ids, np.asarray(src, dtype=np.int64))
    dst = np.searchsorted(ids, np.asarray(dst, dtype=np.int64))
    w = np.asarray(w, dtype=np.float64)
    n = len(ids)

    labels = np.arange(n, dtype=np.int64)  # entry-vertex -> current coarse id
    valid = np.ones(n, dtype=bool)  # False once the vertex's community died (ctot=0)
    metrics: list[dict] = []
    levels_added = 0
    n_best = n

    while True:
        comm = np.arange(n, dtype=np.int64)
        ctot = k.copy()
        q_level_start = q
        not_self = src != dst
        active: np.ndarray | None = None  # None => all vertices (round 0)
        rnd = 0
        while True:
            t0 = time.time()
            q_old = q
            sel = not_self
            if active is not None:
                sel = not_self & active[src]
            c_src, c_dst = src[sel], dst[sel]
            cs, cd = comm[c_src], comm[c_dst]
            nodes, newc = _round_moves(
                c_src, cd, w[sel], k[c_src], cs, ctot[cs], ctot[cd], m, rnd
            )
            n_moves = len(nodes)
            if n_moves > 0:
                comm[nodes] = newc
                ctot = np.bincount(comm, weights=k, minlength=n)
                q = q_from_sums(w[comm[src] == comm[dst]].sum(), (ctot * ctot).sum(), m)
                # frontier C6: srcs of edges whose dst moved into a
                # community different from src's
                moved = np.zeros(n, dtype=bool)
                moved[nodes] = True
                f = moved[dst] & (comm[src] != comm[dst])
                active = np.zeros(n, dtype=bool)
                active[src[f]] = True
            dq = q - q_old
            metrics.append(
                {
                    "level": level, "round": rnd, "n_moves": n_moves,
                    "q": q, "dq": dq, "sec": time.time() - t0,
                    "engine": "local",
                }
            )
            rnd += 1
            if n_moves == 0 or dq <= threshold or rnd > early_stop_limit:
                break

        # aggregation phase: dense relabel of surviving (ctot > 0)
        # communities in community-id order, flatten, coarsen
        continue_opt = (q - q_level_start) > threshold
        surviving = np.flatnonzero(ctot > 0)
        relabel = np.full(n, -1, dtype=np.int64)
        relabel[surviving] = np.arange(len(surviving), dtype=np.int64)
        # isolated entry vertices (k=0 singleton communities) relabel to -1
        # — the distributed plan drops them via the inner flatten join; we
        # mark them invalid and the caller filters label < 0
        labels[valid] = relabel[comm[labels[valid]]]
        valid &= labels >= 0
        n_best = len(surviving)

        if not continue_opt:
            break

        csrc, cdst = relabel[comm[src]], relabel[comm[dst]]
        key_order = np.lexsort((cdst, csrc))
        s1, s2, sw = csrc[key_order], cdst[key_order], w[key_order]
        boundary = np.empty(len(s1), dtype=bool)
        boundary[0] = True
        np.not_equal(s1[1:], s1[:-1], out=boundary[1:])
        boundary[1:] |= s2[1:] != s2[:-1]
        starts = np.flatnonzero(boundary)
        src, dst = s1[starts], s2[starts]
        w = np.add.reduceat(sw, starts)
        n = n_best
        k = np.bincount(src, weights=w, minlength=n)
        ctot = k.copy()
        q = q_from_sums(w[src == dst].sum(), (ctot * ctot).sum(), m)
        level += 1
        levels_added += 1

    return LocalLouvainResult(
        labels=labels,
        ids=ids,
        modularity=q,
        n_communities=int(n_best),
        levels_added=levels_added,
        metrics=metrics,
    )
