"""Graph-statistics operators vs brute-force single-process oracles."""

import math
from collections import defaultdict
from itertools import combinations

from louvain_fast_move_cuda_spark.operators.graphstats import (
    adamic_adar,
    assortativity,
    clustering_coefficient,
    degree_histogram,
    k_core,
)
from louvain_fast_move_cuda_spark.sources.edges import build_graph

from oracle import powerlaw_graph


def _adj(edges):
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    return nbrs


def _gt(spark, edges):
    return build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)


def test_clustering_coefficient_and_histogram(spark):
    edges = powerlaw_graph(n=200, m_attach=3, seed=7)
    nbrs = _adj(edges)
    g = _gt(spark, edges)

    got = {r.id: (r.triangles, r.degree, r.lcc) for r in clustering_coefficient(g).collect()}
    hist = defaultdict(int)
    for v, ns in nbrs.items():
        t = sum(1 for x, y in combinations(sorted(ns), 2) if y in nbrs[x])
        d = len(ns)
        want_lcc = 2.0 * t / (d * (d - 1.0)) if d >= 2 else 0.0
        assert got[v][0] == t, (v, got[v], t)
        assert got[v][1] == d
        assert abs(got[v][2] - want_lcc) < 1e-12
        hist[d] += 1
    got_hist = {r.degree: r.n_vertices for r in degree_histogram(g).collect()}
    assert got_hist == dict(hist)


def test_assortativity_matches_numpy(spark):
    edges = powerlaw_graph(n=300, m_attach=2, seed=11)
    nbrs = _adj(edges)
    g = _gt(spark, edges)

    xs, ys = [], []
    for a, b in edges:
        for u, v in ((a, b), (b, a)):
            xs.append(len(nbrs[u]))
            ys.append(len(nbrs[v]))
    m = float(len(xs))
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    want = (m * sxy - sx * sy) / math.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))

    got = assortativity(g).collect()[0]["assortativity_r9"]
    assert abs(got - want) < 1e-9


def test_k_core_peeling(spark):
    # triangle + tail path: the 2-core is exactly the triangle
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    g = _gt(spark, edges)
    got = {r.id: r.core_degree for r in k_core(g, k=2).collect()}
    assert got == {0: 2, 1: 2, 2: 2}

    # a denser graph: peel-oracle in python
    edges = powerlaw_graph(n=150, m_attach=3, seed=3)
    g = _gt(spark, edges)
    for k in (2, 3, 4):
        nbrs = {v: set(ns) for v, ns in _adj(edges).items()}
        while True:
            drop = [v for v, ns in nbrs.items() if len(ns) < k]
            if not drop:
                break
            for v in drop:
                for w in nbrs[v]:
                    nbrs[w].discard(v)
                del nbrs[v]
        want = {v: len(ns) for v, ns in nbrs.items() if ns}
        got = {r.id: r.core_degree for r in k_core(g, k=k).collect()}
        assert got == want, f"k={k}"


def test_adamic_adar_scores(spark):
    edges = powerlaw_graph(n=120, m_attach=2, seed=9)
    nbrs = _adj(edges)
    g = _gt(spark, edges)
    cap = 64

    want = defaultdict(lambda: [0, 0.0])
    for w, ns in nbrs.items():
        if not (2 <= len(ns) <= cap):
            continue
        contrib = 1.0 / math.log(float(len(ns)))
        for u, v in combinations(sorted(ns), 2):
            if v in nbrs[u]:
                continue  # adjacent pairs excluded
            want[(u, v)][0] += 1
            want[(u, v)][1] += contrib

    rows = adamic_adar(g, max_apex_degree=cap).collect()
    got = {(r.u, r.v): (r.common_neighbors, r.aa_r9) for r in rows}
    assert set(got) == set(want)
    for p, (cn, aa) in want.items():
        assert got[p][0] == cn
        assert abs(got[p][1] - aa) < 1e-8
    # the semantic hub cap is surfaced on every row...
    assert {r.apex_cap for r in rows} == {cap}
    # ...and the companion lists exactly the apexes it excluded
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        adamic_adar_excluded_hubs,
    )

    small_cap = 10
    excluded = {r.w: r.dw for r in
                adamic_adar_excluded_hubs(g, max_apex_degree=small_cap).collect()}
    assert excluded == {w: len(ns) for w, ns in nbrs.items() if len(ns) > small_cap}
    assert excluded  # the powerlaw graph genuinely has hubs above 10


def test_dedup_clusters_transitive(spark):
    from louvain_fast_move_cuda_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (9, 8)], "id_a long, id_b long"
    )
    all_ids = spark.createDataFrame([(i,) for i in range(11)], "doc_id long")
    got = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in dedup_clusters(pairs, all_ids).collect()}
    # chains 1-2-3 and 7-9-8 merge transitively; everything else singleton
    assert got[1] == (1, True) and got[2] == (1, False) and got[3] == (1, False)
    assert got[7] == (7, True) and got[8] == (7, False) and got[9] == (7, False)
    for v in (0, 4, 5, 6, 10):
        assert got[v] == (v, True)


def test_dedup_clusters_empty_pairs_all_singletons(spark):
    """Zero LSH candidate pairs is a valid outcome (small corpus, high
    band_bits): every doc must come back as its own singleton canonical
    cluster instead of crashing on the empty-graph NULL weight sum."""
    from louvain_fast_move_cuda_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    all_ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    got = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in dedup_clusters(pairs, all_ids).collect()}
    assert got == {i: (i, True) for i in range(5)}


def test_k_core_truncation_guard(spark):
    """A max_rounds cap that stops before the fixpoint must raise (the
    truncated peel is a superset of the k-core), unless the caller
    explicitly opts into the truncated result."""
    import pytest

    # triangle + 3-edge tail: k=2 peeling needs 3 rounds to strip the tail
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    g = _gt(spark, edges)
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(g, k=2, max_rounds=1)
    got = {r.id for r in k_core(g, k=2, max_rounds=1, on_truncate="ignore").collect()}
    assert got > {0, 1, 2}  # strict superset: tail not fully peeled yet
    # converged runs are unaffected by the default
    full = {r.id: r.core_degree for r in k_core(g, k=2).collect()}
    assert full == {0: 2, 1: 2, 2: 2}


def test_k_core_fixpoint_exactly_at_max_rounds_is_not_truncation(spark):
    """A peel that reaches its fixpoint in the LAST allowed round (no
    spare round to observe the repeated keep-count) must not raise: the
    post-loop recount settles that the result is exact (ADVICE r3)."""
    import pytest

    # P8 path: k=2 peeling strips one layer per round and needs exactly
    # 4 filter rounds to empty; round 5 would only confirm the fixpoint
    edges = [(i, i + 1) for i in range(7)]
    g = _gt(spark, edges)
    assert k_core(g, k=2, max_rounds=4).count() == 0  # exact, no raise
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_core(g, k=2, max_rounds=3)  # genuinely truncated still raises


def test_k_truss_peels_pendant_triangles_and_keeps_k4(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import edge_support, k_truss

    # K4 on {0,1,2,3} + triangle {3,4,5} + pendant edge (5,6)
    k4 = [(a, b) for a, b in combinations(range(4), 2)]
    edges = k4 + [(3, 4), (3, 5), (4, 5), (5, 6)]
    g = _gt(spark, edges)

    sup = {(r.src, r.dst): r.support for r in edge_support(
        g.edges.filter("src < dst").select("src", "dst")).collect()}
    # every K4 edge closes 2 triangles; the pendant triangle's own edge
    # (4,5) closes 1; (3,4)/(3,5) close 1; (5,6) closes none (no row)
    assert sup[(0, 1)] == sup[(2, 3)] == 2
    assert sup[(4, 5)] == 1 and (5, 6) not in sup

    t3 = {(r.src, r.dst): r.support for r in k_truss(g, k=3).collect()}
    assert set(t3) == set(k4) | {(3, 4), (3, 5), (4, 5)}  # pendant edge gone
    assert t3[(4, 5)] == 1 and t3[(0, 1)] == 2

    # 4-truss: the {3,4,5} triangle peels away (support 1 < 2), and the
    # K4 survives with every edge still in 2 triangles after the peel
    t4 = {(r.src, r.dst): r.support for r in k_truss(g, k=4).collect()}
    assert set(t4) == set(k4)
    assert all(s == 2 for s in t4.values())

    # 5-truss of this graph is empty, and an empty result is well-formed
    assert k_truss(g, k=5).count() == 0

    # every edge's support on a power-law graph against brute force
    pl = powerlaw_graph(n=120, m_attach=2, seed=3)
    nbrs = _adj(pl)
    want = {
        (a, b): len(nbrs[a] & nbrs[b])
        for a, b in {(min(e), max(e)) for e in pl}
        if nbrs[a] & nbrs[b]
    }
    gp = _gt(spark, pl)
    got = {(r.src, r.dst): r.support for r in edge_support(
        gp.edges.filter("src < dst").select("src", "dst")).collect()}
    assert got == want


def test_k_truss_truncation_guard_raises_on_deep_peel(spark):
    import pytest

    from louvain_fast_move_cuda_spark.operators.graphstats import k_truss

    # triangle strip (edges (i,i+1) and (i,i+2)) needs 2 peel rounds at
    # k=4: round 1 drops the support-1 chords and boundary edges, round
    # 2 drops the now-triangle-free path. Capped at 1 round the guard
    # must refuse; a disjoint K4 shows "ignore" still returns the
    # correctly-peeled survivors of the truncated run.
    n = 12
    strip = [(i, i + 1) for i in range(n - 1)] + [(i, i + 2) for i in range(n - 2)]
    k4 = [(a, b) for a, b in combinations(range(100, 104), 2)]
    g = _gt(spark, strip + k4)
    with pytest.raises(RuntimeError, match="fixpoint"):
        k_truss(g, k=4, max_rounds=1)
    got = {(r.src, r.dst) for r in
           k_truss(g, k=4, max_rounds=1, on_truncate="ignore").collect()}
    assert got == set(k4)
    # with enough rounds the same peel converges without the guard
    full = {(r.src, r.dst) for r in k_truss(g, k=4, max_rounds=5).collect()}
    assert full == set(k4)


def test_reciprocity_counts_mutual_pairs(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import reciprocity

    pairs = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2), (3, 2), (4, 4)],
        "a long, b long",
    )
    # distinct directed non-loop pairs: (0,1),(1,0),(1,2),(2,3),(3,2) -> 5
    # reciprocated: (0,1),(1,0),(2,3),(3,2) -> 4
    r = reciprocity(pairs).collect()[0]
    assert (r.n_directed, r.n_reciprocated) == (5, 4)
    assert r.reciprocity_r9 == 0.8


def test_quad_census_known_graphs(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import quad_census
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    def census(pairs):
        df = spark.createDataFrame(pairs, "a long, b long")
        g = build_graph(df)
        r = quad_census(g).collect()[0]
        return r.n_wedges, r.n_four_cycles

    # square 0-1-2-3-0: 4 wedges, exactly 1 four-cycle
    assert census([(0, 1), (1, 2), (2, 3), (3, 0)]) == (4, 1)
    # K4: 12 wedges, 3 four-cycles (chords allowed — cycles, not induced)
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert census(k4) == (12, 3)
    # path 0-1-2: one wedge, no cycle
    assert census([(0, 1), (1, 2)]) == (1, 0)


def test_quad_census_middle_degree_cap_undercounts(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import quad_census
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    # star center degree 4: capping below it removes all wedges
    star = [(0, i) for i in range(1, 5)]
    g = build_graph(spark.createDataFrame(star, "a long, b long"))
    exact = quad_census(g).collect()[0]
    capped = quad_census(g, max_middle_degree=3).collect()[0]
    assert (exact.n_wedges, exact.n_four_cycles) == (6, 0)
    assert (capped.n_wedges or 0, capped.n_four_cycles or 0) == (0, 0)


def _simulate_mis(nbrs, salt, max_rounds=12):
    from louvain_fast_move_cuda_spark.operators.walks import _M, _P

    und = set(nbrs)
    mis = set()
    for r in range(max_rounds):
        if not und:
            break
        key = {
            v: (((v * v % _P) * 10007 + (v % _P) * 97 + r * 31 + salt) % _M)
            * 2147483648
            + v
            for v in und
        }
        winners = {
            v
            for v in und
            if all(key[v] > key[w] for w in nbrs[v] if w in und)
        }
        mis |= winners
        dropped = {w for v in winners for w in nbrs[v]}
        und -= winners | dropped
    assert not und
    return mis


def test_mis_matches_python_replay_and_is_maximal(spark):
    from louvain_fast_move_cuda_spark.operators.mis import maximal_independent_set

    edges = powerlaw_graph(n=200, m_attach=3, seed=23)
    nbrs = _adj(edges)
    g = _gt(spark, edges)
    got = {r.id: r.in_mis for r in maximal_independent_set(g, salt=7).collect()}
    want = _simulate_mis(nbrs, salt=7)
    assert {v for v, m in got.items() if m} == want
    # independence: no edge inside the MIS
    assert not any(got[a] and got[b] for a, b in edges)
    # maximality: every out-vertex has an in-MIS neighbor
    for v, m in got.items():
        if not m:
            assert any(got[w] for w in nbrs[v]), v


def test_mis_nonconvergence_raises(spark):
    import pytest

    from louvain_fast_move_cuda_spark.operators.mis import maximal_independent_set

    g = _gt(spark, [(0, 1), (1, 2), (2, 3)])
    with pytest.raises(RuntimeError):
        maximal_independent_set(g, max_rounds=1)


def test_rich_club_hand_graph(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import rich_club

    # K4 core {0,1,2,3} + pendant 4-5 chain off vertex 0
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)] + [(0, 4), (4, 5)]
    got = {r.k: (r.n_rich, r.e_rich, r.phi_r9) for r in
           rich_club(_gt(spark, edges), thresholds=(1, 2, 3)).collect()}
    # degrees: 0->4, 1..3->3, 4->2, 5->1
    # k=1: rich = {0,1,2,3,4} (deg>1), edges among them: K4's 6 + (0,4) = 7
    assert got[1] == (5, 7, round(2.0 * 7 / (5 * 4), 9))
    # k=2: rich = {0,1,2,3}, 6 edges -> phi = 1.0
    assert got[2] == (4, 6, 1.0)
    # k=3: rich = {0}, density undefined
    assert got[3] == (1, 0, None)


def test_katz_centrality_matches_matrix_powers(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import katz_centrality

    edges = powerlaw_graph(n=80, m_attach=2, seed=29)
    nbrs = _adj(edges)
    verts = sorted(nbrs)
    alpha, K = 0.05, 4
    # c_k = A c_{k-1}, c_0 = 1 — exact integer walk counts
    c = {v: 1 for v in verts}
    want_w = {}
    for k in range(1, K + 1):
        c = {v: sum(c[u] for u in nbrs[v]) for v in verts}
        want_w[k] = dict(c)
    rows = {r.id: r for r in katz_centrality(_gt(spark, edges), alpha=alpha, max_hops=K).collect()}
    assert set(rows) == set(verts)
    for v in verts:
        assert (rows[v].w1, rows[v].w2, rows[v].w3, rows[v].w4) == tuple(
            want_w[k][v] for k in range(1, 5)
        )
        # same left-associated float fold as the engine
        want_katz = alpha ** 1 * want_w[1][v]
        for k in range(2, K + 1):
            want_katz = want_katz + alpha ** k * want_w[k][v]
        assert abs(rows[v].katz_r9 - want_katz) < 1e-9


def test_coreness_matches_peeling(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import coreness

    edges = powerlaw_graph(n=150, m_attach=3, seed=31)
    nbrs = _adj(edges)
    # textbook coreness by repeated peeling
    want = {}
    live = {v: set(ns) for v, ns in nbrs.items()}
    k = 1
    while live:
        while True:
            drop = [v for v, ns in live.items() if len(ns) < k]
            if not drop:
                break
            for v in drop:
                want[v] = k - 1
                for w in live[v]:
                    live[w].discard(v)
                del live[v]
        k += 1
    got = {r.id: r.coreness for r in coreness(_gt(spark, edges)).collect()}
    assert got == want


def test_coreness_nonconvergence_raises(spark):
    import pytest

    from louvain_fast_move_cuda_spark.operators.graphstats import coreness

    # long path: the h-index descent needs many rounds
    g = _gt(spark, [(i, i + 1) for i in range(30)])
    with pytest.raises(RuntimeError, match="converge"):
        coreness(g, max_rounds=1)
    got = {r.id: r.coreness for r in coreness(g, max_rounds=1, on_truncate="ignore").collect()}
    assert max(got.values()) >= 1  # truncated descent, values still high
    full = {r.id: r.coreness for r in coreness(g).collect()}
    assert set(full.values()) == {1}  # a path is exactly its 1-core


def test_s_core_weighted_peel_by_hand(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import s_core
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    # triangle with unit weights + a weight-3 pendant: under s=3 the
    # pendant pair SURVIVES (strength 3) while triangle vertices have
    # strength 2 and peel away — the opposite of the unweighted 2-core
    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (3, 4, 3.0)]
    g = build_graph(
        spark.createDataFrame(edges, "a long, b long, w double"),
        relabel=False,
        weight="w",
    )
    got = {r.id: r.core_strength for r in s_core(g, s=3).collect()}
    assert got == {3: 3, 4: 3}
    # s=2: everything survives (triangle strength 2, pendant 3)
    got2 = {r.id: r.core_strength for r in s_core(g, s=2).collect()}
    assert got2 == {0: 2, 1: 2, 2: 2, 3: 3, 4: 3}


def test_densest_subgraph_trace_matches_python_peel(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import densest_subgraph

    edges = powerlaw_graph(n=150, m_attach=3, seed=13)
    g = _gt(spark, edges)

    # independent single-process peel with the identical integer rule
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    trace = []
    while und:
        deg = defaultdict(int)
        for a, b in und:
            deg[a] += 1
            deg[b] += 1
        n, e = len(deg), len(und)
        trace.append((n, e))
        keep = {v for v, d in deg.items() if d * n > 3 * e}
        und = {(a, b) for a, b in und if a in keep and b in keep}

    rows = sorted(densest_subgraph(g).collect(), key=lambda r: r["round"])
    assert [(r["n_vertices"], r["n_edges"]) for r in rows] == trace
    for r in rows:
        assert abs(r["density_r9"] - round(r["n_edges"] / r["n_vertices"], 9)) < 1e-12
    best = [r for r in rows if r["is_best"]]
    assert len(best) == 1
    top = max(trace, key=lambda t: (t[1] / t[0], -trace.index(t)))
    assert (best[0]["n_vertices"], best[0]["n_edges"]) == top


def test_densest_subgraph_resumes_from_checkpoint(spark, tmp_path):
    from louvain_fast_move_cuda_spark.operators.graphstats import densest_subgraph
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    edges = powerlaw_graph(n=120, m_attach=3, seed=5)
    g = _gt(spark, edges)
    want = sorted(tuple(r) for r in densest_subgraph(g).collect())

    # run 1: budget only the first round, then resume with a fresh call
    ck = VertexIterationCheckpointer(str(tmp_path / "ds"), "densest")
    densest_subgraph(g, max_rounds=1, checkpointer=ck).collect()
    got = sorted(tuple(r) for r in densest_subgraph(g, checkpointer=ck).collect())
    assert got == want


def test_clique4_count_matches_bruteforce(spark):
    import itertools
    import random

    from louvain_fast_move_cuda_spark.operators.triangles import clique4_count

    rng = random.Random(5)
    nodes = range(14)
    edges = set()
    while len(edges) < 45:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    nbrs = _adj(edges)
    t3 = sum(
        1
        for t in itertools.combinations(nodes, 3)
        if all(y in nbrs[x] for x, y in itertools.combinations(t, 2))
    )
    t4 = sum(
        1
        for t in itertools.combinations(nodes, 4)
        if all(y in nbrs[x] for x, y in itertools.combinations(t, 2))
    )
    g = _gt(spark, sorted(edges))
    r = clique4_count(g).collect()[0]
    assert (r["n_triangles"], r["n_four_cliques"]) == (t3, t4)
    # K4-free sanity: a 4-cycle has 0 triangles and 0 cliques
    g2 = _gt(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    r2 = clique4_count(g2).collect()[0]
    assert (r2["n_triangles"], r2["n_four_cliques"]) == (0, 0)


def test_weighted_clustering_barrat_by_hand(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        weighted_clustering,
    )

    # triangle 0-1-2 with weights w01=2, w12=1, w02=1, pendant 2-3 (w=3)
    raw = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 3.0)],
        "a long, b long, w double",
    )
    g = build_graph(raw, relabel=False, weight="w")
    got = {r["id"]: r for r in weighted_clustering(g).collect()}
    # vertex 0: s=3, k=2, credit (w01+w02)=3 -> cw = 3/(2*3*1) = 0.5
    assert (got[0]["strength"], got[0]["degree"], got[0]["n_triangles"]) == (3.0, 2, 1)
    assert got[0]["cw_r9"] == 0.5
    # vertex 1: s=3, k=2, credit (w01+w12)=3 -> 3/(2*3*1) = 0.5
    assert got[1]["cw_r9"] == 0.5
    # vertex 2: s=5, k=3, credit (w12+w02)=2 -> 2/(2*5*2) = 0.1
    assert (got[2]["strength"], got[2]["degree"]) == (5.0, 3)
    assert got[2]["cw_r9"] == 0.1
    # pendant vertex 3: degree 1 -> 0 by convention
    assert (got[3]["degree"], got[3]["n_triangles"], got[3]["cw_r9"]) == (1, 0, 0.0)


def test_weighted_assortativity_matches_python(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        weighted_assortativity,
    )

    raw = spark.createDataFrame(
        [(0, 1, 2.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 3.0), (3, 4, 1.0)],
        "a long, b long, w double",
    )
    g = build_graph(raw, relabel=False, weight="w")
    s = {r["id"]: r["k"] for r in g.vertices.collect()}
    rows = [(r["src"], r["dst"], r["weight"]) for r in g.edges.collect()]
    m = sum(w for _, _, w in rows)
    sxy = sum(w * s[a] * s[b] for a, b, w in rows)
    sx = sum(w * s[a] for a, b, w in rows)
    sy = sum(w * s[b] for a, b, w in rows)
    sxx = sum(w * s[a] * s[a] for a, b, w in rows)
    syy = sum(w * s[b] * s[b] for a, b, w in rows)
    want = (m * sxy - sx * sy) / math.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
    got = weighted_assortativity(g).collect()[0]["assortativity_w_r9"]
    assert abs(got - want) < 1e-9


def test_degree_gini_known_values(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import degree_gini

    # 5-cycle: regular -> G = 0
    cyc = _gt(spark, [(i, (i + 1) % 5) for i in range(5)])
    r = degree_gini(cyc).collect()[0]
    assert (r["n_vertices"], r["sum_degree"], r["gini_r9"]) == (5, 10, 0.0)

    # star K1,4: degrees (1,1,1,1,4) -> G = 0.3 by the rank formula
    star = _gt(spark, [(0, i) for i in range(1, 5)])
    r = degree_gini(star).collect()[0]
    assert (r["n_vertices"], r["sum_degree"]) == (5, 8)
    assert r["gini_r9"] == 0.3

    # matches the direct sorted-rank formula on a random powerlaw graph
    edges = powerlaw_graph(n=200, m_attach=3, seed=17)
    g = _gt(spark, edges)
    degs = sorted(len(ns) for ns in _adj(edges).values())
    n, sd = len(degs), sum(degs)
    ranksum = sum(i * d for i, d in enumerate(degs, start=1))
    want = round((2 * ranksum - (n + 1) * sd) / (n * sd), 9)
    got = degree_gini(g).collect()[0]["gini_r9"]
    assert got == want


def test_graph_profile_by_hand(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import graph_profile

    # triangle + pendant + (no isolated vertices without relabel map)
    g = _gt(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    r = graph_profile(g).collect()[0]
    assert (r["n_vertices"], r["n_edges"], r["n_isolated"]) == (4, 4, 0)
    assert (r["min_degree"], r["max_degree"]) == (1, 3)
    assert r["avg_degree_r9"] == 2.0
    assert r["density_r9"] == round(8.0 / 12.0, 9)


def test_powerlaw_alpha_matches_python_mle(spark):
    import math as _m

    from louvain_fast_move_cuda_spark.operators.graphstats import powerlaw_alpha

    edges = powerlaw_graph(n=300, m_attach=2, seed=23)
    g = _gt(spark, edges)
    degs = [len(ns) for ns in _adj(edges).values()]
    tail = [d for d in degs if d >= 2]
    # replicate the micro-nat pipeline exactly
    from collections import Counter as _C

    s = sum(
        c * round(_m.log(v / 1.5) * 1e6) for v, c in _C(tail).items()
    )
    want = round(1.0 + len(tail) / (s / 1e6), 9)
    r = powerlaw_alpha(g, dmin=2).collect()[0]
    assert r["n_tail"] == len(tail)
    assert r["sum_micronats"] == s
    assert r["alpha_r9"] == want
    assert 1.5 < r["alpha_r9"] < 4.5  # plausible exponent for BA-ish graphs


def test_resource_allocation_scores(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        resource_allocation,
    )

    edges = powerlaw_graph(n=120, m_attach=2, seed=31)
    nbrs = _adj(edges)
    g = _gt(spark, edges)
    cap = 64

    want = defaultdict(lambda: [0, 0.0])
    for w, ns in nbrs.items():
        if not (2 <= len(ns) <= cap):
            continue
        contrib = 1.0 / len(ns)
        for u, v in combinations(sorted(ns), 2):
            if v in nbrs[u]:
                continue
            want[(u, v)][0] += 1
            want[(u, v)][1] += contrib

    rows = resource_allocation(g, max_apex_degree=cap).collect()
    got = {(r.u, r.v): r for r in rows}
    assert set(got) == set(want)
    for p, (cn, ra) in want.items():
        assert got[p].common_neighbors == cn
        assert abs(got[p].ra_r9 - ra) < 1e-8
        assert got[p].pa_score == len(nbrs[p[0]]) * len(nbrs[p[1]])


def test_degree_ccdf_by_hand(spark):
    from louvain_fast_move_cuda_spark.operators.graphstats import degree_ccdf

    # star K1,3: degrees 3,1,1,1
    g = _gt(spark, [(0, 1), (0, 2), (0, 3)])
    rows = {r["degree"]: r for r in degree_ccdf(g).collect()}
    assert rows[3]["n_ge"] == 1 and rows[3]["ccdf_r9"] == 0.25
    assert rows[1]["n_ge"] == 4 and rows[1]["ccdf_r9"] == 1.0
    # monotone non-increasing in degree
    vals = [rows[d]["n_ge"] for d in sorted(rows)]
    assert vals == sorted(vals, reverse=True)
