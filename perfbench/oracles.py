"""Output checks against references that share no code with the program.

Each check returns a list of failure messages (empty = pass). The
reference graph comes from ``gen.expected_graph``; the references for
connected components and triangles come from networkx, PageRank from a
NumPy power iteration, label propagation from a pandas re-implementation
of the same synchronous rule.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd

Q_TOL = 1e-9
PR_SUM_TOL = 1e-9
PR_TOL = 1e-6


class Reference:
    """The expected graph of one workload input, with lazily built references."""

    def __init__(self, expected: dict):
        self.src = expected["src"]
        self.dst = expected["dst"]
        self.n = self.n_turns = int(expected["n_turns"])
        self.m = len(self.src) / 2.0
        self._nx = None

    @property
    def directed_edges(self) -> int:
        return len(self.src)

    def nx_graph(self) -> nx.Graph:
        if self._nx is None:
            g = nx.Graph()
            g.add_nodes_from(range(self.n))
            keep = self.src < self.dst
            g.add_edges_from(zip(self.src[keep].tolist(), self.dst[keep].tolist()))
            self._nx = g
        return self._nx

    # --- graph --------------------------------------------------------------

    def check_edges(self, src: np.ndarray, dst: np.ndarray, n_nodes: int) -> list[str]:
        errs = []
        if n_nodes != self.n_turns:
            errs.append(f"vertices {n_nodes} != turns {self.n_turns}")
        if len(src) != self.directed_edges:
            errs.append(f"directed edges {len(src)} != expected {self.directed_edges}")
            return errs
        order = np.lexsort((dst, src))
        if not (np.array_equal(src[order], self.src) and np.array_equal(dst[order], self.dst)):
            errs.append("edge set differs from the expected transcript graph")
        return errs

    # --- communities ----------------------------------------------------------

    def labels_array(self, ids: np.ndarray, labels: np.ndarray, what: str):
        """Dense per-vertex label array, or an error if ids do not cover 0..n-1."""
        ids = np.asarray(ids, dtype=np.int64)
        if len(ids) != self.n or not np.array_equal(np.sort(ids), np.arange(self.n)):
            return None, [f"{what}: labels do not cover each of the {self.n} vertices once"]
        out = np.empty(self.n, dtype=np.int64)
        out[ids] = labels
        return out, []

    def modularity(self, comm: np.ndarray) -> float:
        """Q = W_in / 2m - sum_c tot_c^2 / 4m^2 over the unit-weight graph."""
        w_in = float(np.count_nonzero(comm[self.src] == comm[self.dst]))
        k = np.bincount(self.src, minlength=self.n).astype(np.float64)
        _, inv = np.unique(comm, return_inverse=True)
        tot = np.bincount(inv, weights=k)
        return w_in / (2.0 * self.m) - float((tot * tot).sum()) / (4.0 * self.m * self.m)

    def check_louvain(self, ids, labels, reported_q: float, n_communities: int) -> list[str]:
        comm, errs = self.labels_array(ids, labels, "louvain")
        if errs:
            return errs
        q = self.modularity(comm)
        if abs(q - reported_q) > Q_TOL:
            errs.append(f"louvain: recomputed Q {q!r} != reported {reported_q!r}")
        distinct = np.unique(comm)
        if len(distinct) != n_communities:
            errs.append(f"louvain: {len(distinct)} distinct labels != n_communities {n_communities}")
        if not np.array_equal(distinct, np.arange(len(distinct))):
            errs.append("louvain: community ids are not dense 0..c-1")
        return errs

    # --- vertex programs --------------------------------------------------------

    def components(self) -> np.ndarray:
        comp = np.empty(self.n, dtype=np.int64)
        for cc in nx.connected_components(self.nx_graph()):
            members = np.fromiter(cc, dtype=np.int64)
            comp[members] = members.min()
        return comp

    def check_components(self, ids, comp) -> list[str]:
        got, errs = self.labels_array(ids, comp, "components")
        if errs:
            return errs
        want = self.components()
        n_want = nx.number_connected_components(self.nx_graph())
        if len(np.unique(got)) != n_want:
            errs.append(f"components: {len(np.unique(got))} components != networkx {n_want}")
        elif not np.array_equal(got, want):
            errs.append("components: labels differ from min-id-per-component")
        return errs

    def triangles(self) -> int:
        return sum(nx.triangles(self.nx_graph()).values()) // 3

    def check_triangles(self, count: int) -> list[str]:
        want = self.triangles()
        return [] if count == want else [f"triangles: {count} != networkx {want}"]

    def pagerank(self, alpha: float, iters: int) -> np.ndarray:
        k = np.bincount(self.src, minlength=self.n).astype(np.float64)
        r = np.full(self.n, 1.0 / self.n)
        for _ in range(iters):
            r = (1.0 - alpha) / self.n + alpha * np.bincount(
                self.dst, weights=r[self.src] / k[self.src], minlength=self.n
            )
        return r

    def check_pagerank(self, ids, ranks, alpha: float, iters: int) -> list[str]:
        ids = np.asarray(ids, dtype=np.int64)
        errs = []
        if len(ids) != self.n or not np.array_equal(np.sort(ids), np.arange(self.n)):
            return [f"pagerank: ranks do not cover each of the {self.n} vertices once"]
        got = np.empty(self.n)
        got[ids] = ranks
        total = float(got.sum())
        if abs(total - 1.0) > PR_SUM_TOL:
            errs.append(f"pagerank: sum of ranks {total!r} != 1")
        diff = float(np.abs(got - self.pagerank(alpha, iters)).max())
        if diff > PR_TOL:
            errs.append(f"pagerank: max |rank - power iteration| = {diff:.3g}")
        return errs

    def label_propagation(self, iters: int) -> np.ndarray:
        """Synchronous LPA: each vertex adopts the neighbour label with the
        largest summed weight, ties to the smallest label; stops at a fixpoint."""
        label = np.arange(self.n, dtype=np.int64)
        for _ in range(iters):
            votes = (
                pd.DataFrame({"v": self.src, "label": label[self.dst]})
                .groupby(["v", "label"], sort=False).size().rename("w").reset_index()
                .sort_values(["v", "w", "label"], ascending=[True, False, True])
                .drop_duplicates("v")
            )
            new = np.arange(self.n, dtype=np.int64)
            new[votes["v"].to_numpy()] = votes["label"].to_numpy()
            if np.array_equal(new, label):
                break
            label = new
        return label

    def check_label_propagation(self, ids, labels, iters: int) -> list[str]:
        got, errs = self.labels_array(ids, labels, "labelprop")
        if errs:
            return errs
        want = self.label_propagation(iters)
        n_got, n_want = len(np.unique(got)), len(np.unique(want))
        if n_got != n_want:
            errs.append(f"labelprop: {n_got} distinct labels != reference {n_want}")
        elif not np.array_equal(got, want):
            errs.append("labelprop: labels differ from the reference rounds")
        return errs
