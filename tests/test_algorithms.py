"""PageRank / connected components / LPA / triangle-count correctness
(SURVEY.md §2.11 — north-rule algorithms, absent from the CUDA reference;
oracles are single-process float64 implementations in tests/oracle.py or
brute force computed inline)."""

import math
import warnings
from collections import defaultdict

import pytest

from louvain_fast_move_cuda_spark.operators.components import connected_components
from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
from louvain_fast_move_cuda_spark.operators.triangles import (
    triangle_count,
    triangles_per_vertex,
)
from louvain_fast_move_cuda_spark.sources.edges import build_graph

from oracle import pagerank_oracle, powerlaw_graph

TWO_CLIQUES = [
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
    (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),
    (3, 4),
]
TWO_COMPONENTS = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]


def _graph(spark, edges):
    return build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)


def _brute_triangles(edges):
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    n = 0
    for a, b in edges:
        n += len(adj[a] & adj[b])
    return n // 3


def test_pagerank_allclose_1e6_vs_oracle(spark):
    for edges in [TWO_CLIQUES, powerlaw_graph(n=150, m_attach=2, seed=7)]:
        g = _graph(spark, edges)
        got = {r.id: r.rank for r in pagerank(g, max_iter=100, tol=1e-12).collect()}
        want = pagerank_oracle(edges, max_iter=100, tol=1e-12)
        assert set(got) == set(want)
        for v in want:
            assert math.isclose(got[v], want[v], abs_tol=1e-6), (v, got[v], want[v])
        assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_connected_components_exact(spark):
    g = _graph(spark, TWO_COMPONENTS)
    got = {r.id: r.component for r in connected_components(g).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_connected_components_long_path(spark, tmp_path):
    """Path graph: worst case for min-flooding. Stopped after one round
    (not a fixpoint), CC warns with the round count and names the rounds
    that ran: min-hooking with the labels on the driver
    (``local_max_edges=0``), star rounds under a checkpointer. The star
    rounds must still converge in O(log² n) rounds (Kiveris et al.), and
    the converged call does not warn."""
    from louvain_fast_move_cuda_spark.plans.checkpoint import VertexIterationCheckpointer

    n = 64
    g = _graph(spark, [(i, i + 1) for i in range(n - 1)])
    with pytest.warns(RuntimeWarning, match="after 1 min-hooking rounds"):
        connected_components(g, max_iter=1, local_max_edges=0)
    with pytest.warns(RuntimeWarning, match="after 1 star rounds"):
        connected_components(
            g, max_iter=1, checkpointer=VertexIterationCheckpointer(str(tmp_path / "one"), "cc")
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        stars = connected_components(
            g, max_iter=20, checkpointer=VertexIterationCheckpointer(str(tmp_path / "all"), "cc")
        )
        got = {r.id: r.component for r in stars.collect()}
    assert got == {i: 0 for i in range(n)}


def test_pagerank_and_lpa_local_tails_match_distributed(spark):
    """PageRank local tail: allclose 1e-12 (float sums reorder); LPA local
    tail: bit-identical labels (integer vote sums, total tie-break)."""
    from oracle import powerlaw_graph
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank

    g = _graph(spark, powerlaw_graph(n=200, m_attach=2, seed=5))
    pr_d = {r.id: r.rank for r in pagerank(g, max_iter=15, local_max_edges=0).collect()}
    pr_l = {r.id: r.rank for r in pagerank(g, max_iter=15).collect()}
    assert set(pr_d) == set(pr_l)
    for v in pr_d:
        assert math.isclose(pr_d[v], pr_l[v], abs_tol=1e-12)
    lp_d = {r.id: r.label for r in label_propagation(g, max_iter=5, local_max_edges=0).collect()}
    lp_l = {r.id: r.label for r in label_propagation(g, max_iter=5).collect()}
    assert lp_d == lp_l  # bit-identical


def test_connected_components_local_tail_matches_distributed(spark):
    """component = min reachable id is a graph invariant, so the NumPy
    tail must equal the labels-on-the-driver placement (one Spark
    aggregate a min-hooking round, ``local_max_edges=0``) exactly — on a
    structure mixing a long path, a clique and isolates."""
    from oracle import powerlaw_graph

    edges = powerlaw_graph(n=200, m_attach=2, seed=5) + [(500, 501), (501, 502)]
    g = _graph(spark, edges)
    dist = {
        r.id: r.component
        for r in connected_components(g, local_max_edges=0).collect()
    }
    loc = {r.id: r.component for r in connected_components(g).collect()}
    assert loc == dist


def test_lpa_two_cliques(spark):
    g = _graph(spark, TWO_CLIQUES)
    labels = {r.id: r.label for r in label_propagation(g, max_iter=10).collect()}
    # deterministic: each clique converges to one label
    assert len({labels[v] for v in range(4)}) == 1
    assert len({labels[v] for v in range(4, 8)}) == 1


def test_triangle_count_known_graphs(spark):
    assert triangle_count(_graph(spark, TWO_COMPONENTS)) == 2
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert triangle_count(_graph(spark, k4)) == 4
    pl = powerlaw_graph(n=120, m_attach=2, seed=3)
    assert triangle_count(_graph(spark, pl)) == _brute_triangles(pl)


def test_triangles_per_vertex_sums_to_3x_total(spark):
    """Every vertex's count equals a brute-force count, on a power-law
    graph and on K4 plus a pendant triangle (degree ties broken by id)."""
    k4_pendant = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(3, 4), (3, 5), (4, 5)]
    for edges in (powerlaw_graph(n=100, m_attach=2, seed=5), k4_pendant):
        adj = defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = {
            v: sum(1 for x in ns for y in ns if x < y and y in adj[x]) for v, ns in adj.items()
        }
        per = {r.id: r.triangles for r in triangles_per_vertex(_graph(spark, edges)).collect()}
        assert per == want
        assert sum(per.values()) == 3 * _brute_triangles(edges)


def test_directed_pagerank_matches_numpy_with_dangling_mass(spark):
    import numpy as np

    from louvain_fast_move_cuda_spark.operators.pagerank import directed_pagerank

    # directed graph with a dangling sink (3) and an unreferenced-source
    # cycle; duplicates and self-loops must be ignored
    pairs = [(0, 1), (0, 1), (1, 2), (2, 0), (2, 3), (4, 0), (3, 3)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r.id: r.rank_r9 for r in directed_pagerank(df, max_iter=40).collect()}

    links = sorted({(a, b) for a, b in pairs if a != b})
    ids = sorted({v for e in links for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    od = np.zeros(n)
    for a, _ in links:
        od[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(40):
        nxt = np.full(n, 0.15 / n)
        dang = r[od == 0].sum()
        nxt += 0.85 * dang / n
        for a, b in links:
            nxt[idx[b]] += 0.85 * r[idx[a]] / od[idx[a]]
        r = nxt
    assert set(got) == set(ids)
    for v in ids:
        assert math.isclose(got[v], r[idx[v]], abs_tol=1e-8), (v, got[v], r[idx[v]])
    # dangling redistribution keeps total mass at exactly 1
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-7)
    # the sink (3) must accumulate more than its cycle-internal feeders'
    # uniform share would suggest... and the never-referenced source (4)
    # holds exactly the restart + dangling floor
    assert got[4] == min(got.values())


def test_hits_matches_numpy_l1_normalized(spark):
    import numpy as np

    from louvain_fast_move_cuda_spark.operators.hits import hits

    # hub-shaped directed graph: 0 links to everything, 3 is a pure
    # authority, 4->0 gives 0 some authority too; dupes/self-loops dropped
    pairs = [(0, 1), (0, 2), (0, 3), (1, 3), (2, 3), (4, 0), (0, 1), (2, 2)]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {r.id: (r.hub_r9, r.auth_r9) for r in hits(df, max_iter=8).collect()}

    links = sorted({(a, b) for a, b in pairs if a != b})
    ids = sorted({v for e in links for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    hub = np.ones(n)
    for _ in range(8):
        auth = np.zeros(n)
        for a, b in links:
            auth[idx[b]] += hub[idx[a]]
        auth /= auth.sum()
        hub = np.zeros(n)
        for a, b in links:
            hub[idx[a]] += auth[idx[b]]
        hub /= hub.sum()
    assert set(got) == set(ids)
    for v in ids:
        assert math.isclose(got[v][0], hub[idx[v]], abs_tol=1e-8), (v, got[v])
        assert math.isclose(got[v][1], auth[idx[v]], abs_tol=1e-8), (v, got[v])
    # pure hub: 0 has the top hub score; pure authority: 3 tops auth
    assert got[0][0] == max(h for h, _ in got.values())
    assert got[3][1] == max(a for _, a in got.values())
    # L1 invariant: each column sums to 1
    assert math.isclose(sum(h for h, _ in got.values()), 1.0, abs_tol=1e-7)
    assert math.isclose(sum(a for _, a in got.values()), 1.0, abs_tol=1e-7)


def test_maximal_matching_proper_and_maximal(spark):
    from collections import defaultdict

    from louvain_fast_move_cuda_spark.operators.matching import maximal_matching
    from louvain_fast_move_cuda_spark.operators.mis import _PACK
    from louvain_fast_move_cuda_spark.operators.walks import _M, _P
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    from oracle import powerlaw_graph

    edges = powerlaw_graph(n=140, m_attach=2, seed=37)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    got = {(r.u, r.v) for r in maximal_matching(g, salt=0).collect()}

    nbrs = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    # properness: matched pairs are real edges, no vertex twice
    seen = set()
    for u, v in got:
        assert v in nbrs[u]
        assert u not in seen and v not in seen
        seen.update((u, v))
    # maximality: every edge touches a matched vertex
    for a, b in edges:
        if a != b:
            assert a in seen or b in seen, (a, b)

    # exact replay of the mutual-min rounds (determinism)
    def key(v, r):
        return (((v * v % _P) * 10007 + (v % _P) * 97 + r * 31) % _M) * _PACK + v

    live = {v: set(ns) for v, ns in nbrs.items()}
    want = set()
    r = 0
    while any(live.values()):
        prop = {v: min(ns, key=lambda w: key(w, r)) for v, ns in live.items() if ns}
        pairs = {(u, v) for u, v in prop.items() if prop.get(v) == u and u < v}
        assert pairs, "replay stalled"
        want |= pairs
        gone = {x for p in pairs for x in p}
        live = {v: ns - gone for v, ns in live.items() if v not in gone}
        r += 1
    assert got == want


def test_maximal_matching_path_and_raise(spark):
    import pytest

    from louvain_fast_move_cuda_spark.operators.matching import maximal_matching
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    g = build_graph(
        spark.createDataFrame([(i, i + 1) for i in range(60)], "a long, b long"),
        relabel=False,
    )
    got = {(r.u, r.v) for r in maximal_matching(g).collect()}
    assert len(got) >= 15  # a maximal matching on P61 has >= 15 edges
    with pytest.raises(RuntimeError, match="converge"):
        maximal_matching(g, max_rounds=1)


def test_greedy_weighted_matching_half_approx_and_replay(spark):
    import random
    from collections import defaultdict

    from louvain_fast_move_cuda_spark.operators.matching import (
        greedy_weighted_matching,
    )
    from louvain_fast_move_cuda_spark.operators.mis import _PACK
    from louvain_fast_move_cuda_spark.operators.walks import _M, _P
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    rng = random.Random(61)
    n = 80
    edges, seen = [], set()
    for _ in range(200):
        a, b = rng.randrange(n), rng.randrange(n)
        if a == b or (min(a, b), max(a, b)) in seen:
            continue
        seen.add((min(a, b), max(a, b)))
        edges.append((a, b, float(rng.randrange(1, 6))))
    g = build_graph(
        spark.createDataFrame(edges, "a long, b long, w double"),
        relabel=False,
        weight="w",
    )
    got = {(r.u, r.v): r.w for r in greedy_weighted_matching(g, salt=0).collect()}

    wmap = {(min(a, b), max(a, b)): int(w) for a, b, w in edges}
    nbrs = defaultdict(dict)
    for (a, b), w in wmap.items():
        nbrs[a][b] = w
        nbrs[b][a] = w
    # properness + maximality
    seen_v = set()
    for (u, v), w in got.items():
        assert wmap[(u, v)] == w
        assert u not in seen_v and v not in seen_v
        seen_v.update((u, v))
    for a, b in wmap:
        assert a in seen_v or b in seen_v
    # 1/2-approximation vs the exact max-weight matching (brute force on
    # a 16-vertex induced subgraph to keep it cheap)
    sub = {e: w for e, w in wmap.items() if e[0] < 16 and e[1] < 16}

    def best(rem, used):
        if not rem:
            return 0
        e, w = rem[0]
        skip = best(rem[1:], used)
        if e[0] in used or e[1] in used:
            return skip
        return max(skip, w + best(rem[1:], used | set(e)))

    opt = best(sorted(sub.items()), frozenset())
    got_sub = sum(w for (u, v), w in got.items() if u < 16 and v < 16)
    # the global matching restricted to the subgraph is not the subgraph
    # optimum, so only sanity-check the global half-approx bound proxy
    assert got_sub * 2 + sum(
        w for e, w in sub.items() if e[0] in seen_v or e[1] in seen_v
    ) >= opt  # weak but non-trivial

    # bit-exact pure-python replay
    def mix(v, r):
        return ((v * v % _P) * 10007 + (v % _P) * 97 + r * 31) % _M

    live = {v: dict(ns) for v, ns in nbrs.items()}
    want = {}
    r = 0
    while any(live.values()):
        prop = {}
        for v, ns in live.items():
            if ns:
                prop[v] = max(ns, key=lambda t: (ns[t] * _PACK + mix(v + t, r), t))
        pairs = {(u, v) for u, v in prop.items() if prop.get(v) == u and u < v}
        assert pairs, "replay stalled"
        for u, v in pairs:
            want[(u, v)] = live[u][v]
        gone = {x for p in pairs for x in p}
        live = {
            v: {t: w for t, w in ns.items() if t not in gone}
            for v, ns in live.items()
            if v not in gone
        }
        r += 1
    assert got == want


def test_matching_converges_exactly_at_budget(spark):
    """A round that matches pairs AND empties the edge set can land on
    the last budgeted round; the empty residual proves maximality and
    must return, not raise (same confirm as the k_core-family peels)."""
    from louvain_fast_move_cuda_spark.operators.matching import (
        greedy_weighted_matching,
        maximal_matching,
    )
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    g = build_graph(
        spark.createDataFrame([(0, 1)], "a long, b long"), relabel=False
    )
    got = {(r.u, r.v) for r in maximal_matching(g, max_rounds=1).collect()}
    assert got == {(0, 1)}

    gw = build_graph(
        spark.createDataFrame([(0, 1, 3.0)], "a long, b long, w double"),
        relabel=False,
        weight="w",
    )
    gotw = {(r.u, r.v, r.w) for r in
            greedy_weighted_matching(gw, max_rounds=1).collect()}
    assert gotw == {(0, 1, 3)}


def test_weighted_matching_rejects_overflowing_weights(spark):
    """w >= 2^31 would wrap the (weight, tie-break) int64 pack with ANSI
    off and silently reorder proposals — must raise up front."""
    import pytest

    from louvain_fast_move_cuda_spark.operators.matching import (
        greedy_weighted_matching,
    )
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    g = build_graph(
        spark.createDataFrame(
            [(0, 1, float(2**31))], "a long, b long, w double"
        ),
        relabel=False,
        weight="w",
    )
    with pytest.raises(ValueError, match="2\\^31"):
        greedy_weighted_matching(g)


def _scc_spark(spark, vertices, edges, **kw):
    from louvain_fast_move_cuda_spark.operators.scc import (
        strongly_connected_components,
    )

    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    e = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long")
    )
    return {
        r.id: r.scc
        for r in strongly_connected_components(v, e, **kw).collect()
    }


def test_scc_known_graphs(spark):
    from oracle import tarjan_scc

    # two 3-cycles bridged by a one-way edge + an acyclic tail
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (5, 6)]
    vs = list(range(8))  # 7 is isolated
    assert _scc_spark(spark, vs, edges) == tarjan_scc(vs, edges)
    # pure DAG: all singletons
    dag = [(0, 1), (0, 2), (1, 3), (2, 3)]
    assert _scc_spark(spark, range(4), dag) == {i: i for i in range(4)}
    # one big cycle: one SCC rooted at 0
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    assert _scc_spark(spark, range(6), cyc) == {i: 0 for i in range(6)}
    # self-loops and duplicate edges are tolerated
    assert _scc_spark(spark, range(3), [(0, 0), (0, 1), (0, 1), (1, 0)]) == {
        0: 0, 1: 0, 2: 2,
    }


def test_scc_random_directed_vs_tarjan(spark):
    """Power-law pairs reinterpreted as directed edges, plus reversed
    copies of a deterministic subset to create non-trivial SCCs."""
    from oracle import powerlaw_graph, tarjan_scc

    base = powerlaw_graph(n=120, m_attach=2, seed=7)
    edges = [(a, b) for a, b in base] + [
        (b, a) for a, b in base if (a * 73 + b * 37) % 3 == 0
    ]
    vs = sorted({x for e in edges for x in e} | {999})
    assert _scc_spark(spark, vs, edges) == tarjan_scc(vs, edges)


def test_scc_budget_raises_and_resumes(spark, tmp_path_factory):
    from louvain_fast_move_cuda_spark.operators.scc import (
        strongly_connected_components,
    )
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )
    from oracle import tarjan_scc
    import pytest

    # a long directed cycle needs ~n flooding rounds: max_prop too small
    cyc = [(i, (i + 1) % 30) for i in range(30)]
    v = spark.createDataFrame([(i,) for i in range(30)], "id long")
    e = spark.createDataFrame(cyc, "src long, dst long")
    with pytest.raises(RuntimeError, match="min-label flood"):
        strongly_connected_components(v, e, max_prop=5)

    # checkpoint/resume: fresh call resumes from committed outer rounds
    # with bit-identical labels
    edges = [(0, 1), (1, 0), (2, 3), (3, 2), (1, 2), (4, 4), (5, 6)]
    vs = list(range(7))
    want = tarjan_scc(vs, edges)
    v2 = spark.createDataFrame([(i,) for i in vs], "id long")
    e2 = spark.createDataFrame(edges, "src long, dst long")
    root = str(tmp_path_factory.mktemp("sccck"))
    ck = VertexIterationCheckpointer(root, "scc")
    first = {
        r.id: r.scc
        for r in strongly_connected_components(v2, e2, checkpointer=ck).collect()
    }
    ck2 = VertexIterationCheckpointer(root, "scc")
    resumed = {
        r.id: r.scc
        for r in strongly_connected_components(v2, e2, checkpointer=ck2).collect()
    }
    assert first == want and resumed == want


def test_ppr_sweep_cut_matches_python_sweep(spark):
    from louvain_fast_move_cuda_spark.operators.pagerank import (
        personalized_pagerank,
        ppr_sweep_cut,
    )

    edges = powerlaw_graph(n=120, m_attach=3, seed=21)
    g = build_graph(
        spark.createDataFrame(edges, "a long, b long"), relabel=False
    )
    seeds = g.vertices.select("id").filter("id % 11 = 0")

    # independent sweep from the SAME rounded PPR scores
    pr = {
        r["id"]: round(r["rank"], 9)
        for r in personalized_pagerank(g, seeds, max_iter=20).collect()
    }
    order = sorted(
        (v for v, s in pr.items() if s > 0), key=lambda v: (-pr[v], v)
    )[:64]
    pos = {v: i + 1 for i, v in enumerate(order)}
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    deg = defaultdict(int)
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    two_e = 2 * len(und)
    want, vol, internal = [], 0, 0
    by_mr = defaultdict(int)
    for a, b in und:
        if a in pos and b in pos:
            by_mr[max(pos[a], pos[b])] += 1
    for kpos, v in enumerate(order, start=1):
        vol += deg[v]
        internal += by_mr.get(kpos, 0)
        cut = vol - 2 * internal
        denom = min(vol, two_e - vol)
        cond = round(cut / denom, 9) if denom > 0 else None
        want.append((kpos, v, vol, cut, cond))

    rows = sorted(
        ppr_sweep_cut(g, seeds, max_iter=20, max_prefix=64).collect(),
        key=lambda r: r["k"],
    )
    got = [
        (r["k"], r["id"], r["vol"], r["cut"], r["conductance_r9"]) for r in rows
    ]
    assert got == want
    best = [r for r in rows if r["is_best"]]
    assert len(best) == 1
    finite = [w for w in want if w[4] is not None]
    assert best[0]["k"] == min(finite, key=lambda w: (w[4], w[0]))[0]


def test_lpa_metrics_composition_consistency(spark):
    """community_metrics over LPA's own labels: volumes sum to 2m, cuts
    are symmetric-consistent (sum of cuts is even), conductance in
    [0, 1]."""
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        community_metrics,
    )
    from pyspark.sql import functions as F

    edges = powerlaw_graph(n=150, m_attach=3, seed=29)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    labels = label_propagation(g, max_iter=5, local_max_edges=0).select(
        "id", F.col("label").alias("community")
    )
    rows = community_metrics(g, labels).collect()
    two_m = 2.0 * g.m
    assert abs(sum(r["volume"] for r in rows) - two_m) < 1e-9
    assert sum(r["cut"] for r in rows) % 2 == 0
    for r in rows:
        assert r["cut"] >= 0
        if r["conductance_r9"] is not None:
            assert 0.0 <= r["conductance_r9"] <= 1.0
