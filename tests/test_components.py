"""Connected components, PageRank and LPA in their three placements: the
join-free star round against a pure-Python Kiveris large-star /
small-star, the driver placements against each other and against the
checkpointed DataFrame loop, and degenerate inputs (self-loops only,
isolated vertices only)."""

import json
import os
import warnings
from collections import defaultdict

import pytest

from louvain_fast_move_cuda_spark.operators.components import _star_round, connected_components
from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
from louvain_fast_move_cuda_spark.plans.checkpoint import VertexIterationCheckpointer
from louvain_fast_move_cuda_spark.sources.edges import GraphTables, build_graph

from oracle import powerlaw_graph

PATH64 = [(i, i + 1) for i in range(63)]


def _py_star_round(edges: set) -> set:
    """Kiveris et al. large star, then small star, on a symmetric set."""
    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
    large = set()
    for u, ns in nbrs.items():
        m = min(min(ns), u)
        larger = {v for v in ns if v > u}
        large |= {(v, m) for v in larger} | {(m, v) for v in larger}
    smaller = defaultdict(set)
    for u, v in large:
        if v < u:
            smaller[u].add(v)
    out = set()
    for u, ns in smaller.items():
        mn = min(ns)
        members = (ns | {u}) - {mn}
        out |= {(v, mn) for v in members} | {(mn, v) for v in members}
    return out


def _py_rounds(edges: set) -> list:
    """Per-round edge sets until a round reproduces its input (the first
    round always runs, as in connected_components)."""
    rounds, prev, cur = [], None, edges
    while True:
        cur = _py_star_round(cur)
        rounds.append(cur)
        if cur == prev:
            return rounds
        prev = cur


def _graph(spark, pairs, extra_vertices=()):
    """GraphTables over the raw directed rows ``pairs`` (duplicates and
    self-loops kept as given) plus ``extra_vertices`` with no edges."""
    edges = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
    )
    ids = sorted({v for p in pairs for v in p} | set(extra_vertices))
    verts = spark.createDataFrame([(v, 1.0) for v in ids], "id long, k double")
    return GraphTables(edges=edges, vertices=verts, m=len(pairs) / 2.0, n_nodes=max(ids) + 1)


def _saved_rounds(spark, root):
    """Per-round edge sets a VertexIterationCheckpointer committed."""
    out = []
    for it in sorted(int(d.split("=")[1]) for d in os.listdir(root) if d.startswith("iter=")):
        d = os.path.join(root, f"iter={it}")
        with open(os.path.join(d, "_META.json")) as f:
            assert json.load(f)["iteration"] == it
        state = spark.read.parquet(os.path.join(d, "state"))
        out.append({(r.src, r.dst) for r in state.collect()})
    return out


def _placements(run, ckpt):
    """``{placement: {id: value}}`` of one vertex program: the NumPy tail,
    vertex state on the driver, and the checkpointed DataFrame loop."""
    rows = {
        "local": run(local_max_edges=1 << 40),
        "driver": run(local_max_edges=0),
        "dataframe": run(checkpointer=ckpt),
    }
    return {k: {r[0]: r[1] for r in df.collect()} for k, df in rows.items()}


def test_star_round_matches_python_kiveris(spark, tmp_path):
    """Every checkpointed CC round reproduces the pure-Python round's edge
    set and the round counts agree. CC and LPA labels are bit-identical in
    all three placements, PageRank ranks agree within 1e-12."""
    sym = lambda es: es + [(b, a) for a, b in es]  # noqa: E731
    pl = powerlaw_graph(n=120, m_attach=2, seed=3)
    cases = {
        "powerlaw": sym(pl),
        "path64": sym(PATH64),
        # every edge three times, plus self-loops the round input drops
        "duplicates": sym(PATH64[:20]) * 3 + [(5, 5), (30, 30)],
        "isolated": sym([(1, 2), (2, 3), (10, 11)]),
    }
    graphs = {
        name: _graph(spark, pairs, extra_vertices=[40, 41] if name == "isolated" else ())
        for name, pairs in cases.items()
    }
    # ids that are not dense (x7), kept by build_graph(relabel=False)
    sparse = [(7 * a, 7 * b) for a, b in pl]
    cases["sparse_ids"] = sym(sparse)
    graphs["sparse_ids"] = build_graph(
        spark.createDataFrame(sparse, "a long, b long"), relabel=False
    )
    for name, g in graphs.items():
        pairs = cases[name]
        want = _py_rounds({(a, b) for a, b in pairs if a != b})

        def ck(algo):
            return VertexIterationCheckpointer(str(tmp_path / name / algo), algo=algo)

        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            cc = _placements(lambda **kw: connected_components(g, **kw), ck("cc"))
        assert _saved_rounds(spark, str(tmp_path / name / "cc")) == want, name
        assert cc["local"] == cc["driver"] == cc["dataframe"], name

        lpa = _placements(lambda **kw: label_propagation(g, max_iter=3, **kw), ck("lpa"))
        assert lpa["local"] == lpa["driver"] == lpa["dataframe"], name

        pr = _placements(
            lambda **kw: pagerank(g, max_iter=4, tol=0.0, **kw), ck("pagerank")
        )
        assert pr["local"].keys() == pr["driver"].keys() == pr["dataframe"].keys(), name
        for other in ("local", "dataframe"):
            diff = max(abs(pr["driver"][v] - pr[other][v]) for v in pr["driver"])
            assert diff <= 1e-12, (name, other, diff)

        # the round on raw rows (duplicates, self-loops filtered) directly
        raw = g.edges.select("src", "dst").filter("src != dst")
        assert {tuple(r) for r in _star_round(raw, 3).collect()} == want[0], name


@pytest.mark.parametrize(
    "pairs, extra",
    [([(i, i) for i in range(6)], ()), ([], range(6))],
    ids=["self_loops_only", "isolated_only"],
)
def test_cc_degenerate_inputs_are_singletons(spark, pairs, extra):
    """Forced-distributed CC on a graph with no proper edge: every vertex is
    its own component, and the empty edge set is stable within 2 rounds
    (max_iter=2 does not warn)."""
    g = _graph(spark, pairs, extra_vertices=extra)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        cc = connected_components(g, max_iter=2, local_max_edges=0)
    got = {r.id: r.component for r in cc.collect()}
    assert got == {i: i for i in range(6)}
