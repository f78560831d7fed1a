"""Louvain correctness vs the float64 oracle (FIXTURES.md §2-3).

The oracle (tests/oracle.py) implements the identical parallel
fast-local-move rule, so we require labels exactly equal (both sides use
the same canonical dense relabel) and modularity allclose 1e-6.
"""

import math

import pytest

from louvain_fast_move_cuda_spark.operators.louvain import louvain
from louvain_fast_move_cuda_spark.sources.edges import build_graph

from oracle import _modularity, louvain_oracle, powerlaw_graph

TWO_CLIQUES = [
    (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),   # K4 a
    (4, 5), (4, 6), (4, 7), (5, 6), (5, 7), (6, 7),   # K4 b
    (3, 4),                                           # bridge
]
PATH6 = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]


def _spark_labels(spark, und_edges, **kw):
    raw = spark.createDataFrame(und_edges, "a long, b long")
    g = build_graph(raw, relabel=False)
    res = louvain(g, **kw)
    return {r.orig_id: r.community for r in res.labels.collect()}, res


def test_delta_q_equals_brute_force_q_difference():
    """ΔQ formula == Q(after) − Q(before) for every single move on PATH6
    (validates operatorsDelta.h:7-45 semantics in float64, tol 1e-12)."""
    edges = [(a, b, 1.0) for a, b in PATH6]
    directed = [(a, b, w) for a, b, w in edges] + [(b, a, w) for a, b, w in edges]
    m = 5.0
    k = {v: sum(w for s, _, w in directed if s == v) for v in range(6)}
    for init in [{v: v for v in range(6)}, {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2}]:
        comm = dict(init)
        ctot = {c: 0.0 for c in set(comm.values())}
        for v in range(6):
            ctot[comm[v]] += k[v]
        q_before = _modularity(directed, comm, ctot, m)
        for n in range(6):
            for c in set(comm.values()):
                if c == comm[n]:
                    continue
                wnc = sum(w for s, d, w in directed if s == n and d != n and comm[d] == c)
                selfw = sum(w for s, d, w in directed if s == n and d != n and comm[d] == comm[n])
                delta = (wnc - selfw) / m + k[n] * (ctot[comm[n]] - k[n] - ctot[c]) / (2 * m * m)
                after = dict(comm)
                after[n] = c
                ctot2 = {cc: 0.0 for cc in set(after.values())}
                for v in range(6):
                    ctot2[after[v]] += k[v]
                q_after = _modularity(directed, after, ctot2, m)
                assert math.isclose(delta, q_after - q_before, abs_tol=1e-12)


def test_two_cliques_bridge_matches_oracle(spark):
    got, res = _spark_labels(spark, TWO_CLIQUES)
    want, q_want = louvain_oracle(TWO_CLIQUES)
    assert got == want
    assert res.modularity == pytest.approx(q_want, abs=1e-6)
    # the two K4s are separated
    assert len({got[v] for v in range(4)}) == 1
    assert len({got[v] for v in range(4, 8)}) == 1
    assert got[0] != got[7]


@pytest.mark.parametrize("local_max", [0, 5_000_000], ids=["distributed", "local-tail"])
def test_powerlaw_matches_oracle(spark, local_max):
    und = powerlaw_graph(n=150, m_attach=2, seed=42)
    got, res = _spark_labels(spark, und, local_finish_max_edges=local_max)
    want, q_want = louvain_oracle(und)
    assert res.modularity == pytest.approx(q_want, abs=1e-6)
    assert got == want
    assert res.n_communities == len(set(want.values()))


def test_weighted_graph_matches_oracle(spark):
    """Weighted ingest (the reference's TODO, graph.cu:32-34): duplicate
    raw pairs merge by weight-sum and the heavy bridge must pull its
    endpoints into one community, matching the float64 oracle exactly."""
    # (2,3) arrives as two duplicate rows 4.0 + 6.0 -> merged weight 10
    raw_rows = [
        (0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0),
        (3, 4, 1.0), (3, 5, 1.0), (4, 5, 1.0),
        (2, 3, 4.0), (3, 2, 6.0),
    ]
    raw = spark.createDataFrame(raw_rows, "a long, b long, w double")
    g = build_graph(raw, relabel=False, weight="w")
    assert g.m == pytest.approx(16.0)  # 6 unit edges + merged 10
    res = louvain(g)
    got = {r.orig_id: r.community for r in res.labels.collect()}
    want, q_want = louvain_oracle(
        [(0, 1, 1.0), (0, 2, 1.0), (1, 2, 1.0), (3, 4, 1.0), (3, 5, 1.0),
         (4, 5, 1.0), (2, 3, 10.0)]
    )
    assert got == want
    assert res.modularity == pytest.approx(q_want, abs=1e-12)
    assert got[2] == got[3]  # the heavy bridge binds its endpoints


def test_q_final_not_below_initial_and_deterministic(spark):
    und = powerlaw_graph(n=100, m_attach=2, seed=7)
    got1, res1 = _spark_labels(spark, und)
    got2, res2 = _spark_labels(spark, und)
    assert got1 == got2
    assert res1.modularity == pytest.approx(res2.modularity, abs=1e-12)
    assert res1.modularity > 0


def test_resume_mid_iteration(spark, tmp_path):
    """Kill-and-resume: wipe checkpoints after (level 0, round 0) and resume;
    final labels and Q must match an uninterrupted run (north rule)."""
    import shutil
    import os

    from louvain_fast_move_cuda_spark.plans.checkpoint import SuperstepCheckpointer

    und = powerlaw_graph(n=80, m_attach=2, seed=3)
    want, _ = _spark_labels(spark, und)

    ckdir = str(tmp_path / "ck")
    raw = spark.createDataFrame(und, "a long, b long")
    g = build_graph(raw, relabel=False)
    louvain(g, checkpointer=SuperstepCheckpointer(ckdir))
    # simulate a crash right after level=0 round=0 was committed
    for lv in os.listdir(ckdir):
        lpath = os.path.join(ckdir, lv)
        for rd in os.listdir(lpath):
            if not (lv == "level=0" and rd == "round=0"):
                shutil.rmtree(os.path.join(lpath, rd))
    res = louvain(g, checkpointer=SuperstepCheckpointer(ckdir))
    got = {r.orig_id: r.community for r in res.labels.collect()}
    assert got == want


def test_single_edge_empty_frontier_local_tail(spark):
    """Regression: the local tail's _round_moves crashed (IndexError) on a
    round with zero candidates — single edge, empty frontier after round 0,
    self-loop-only coarse level. Must match the distributed path instead."""
    got_local, res_local = _spark_labels(spark, [(0, 1)])
    got_dist, res_dist = _spark_labels(spark, [(0, 1)], local_finish_max_edges=0)
    assert got_local == got_dist
    assert res_local.modularity == pytest.approx(res_dist.modularity, abs=1e-12)
    # a single undirected edge merges into one community
    assert len(set(got_local.values())) == 1


def test_empty_candidate_round_moves_direct():
    """_round_moves returns empty arrays (not IndexError) for rnd 0 and >=1."""
    import numpy as np

    from louvain_fast_move_cuda_spark.operators.louvain_local import _round_moves

    e = np.empty(0, dtype=np.int64)
    ew = np.empty(0, dtype=np.float64)
    for rnd in (0, 1):
        nodes, newc = _round_moves(e, e, ew, ew, e, ew, ew, 3.0, rnd)
        assert len(nodes) == 0 and len(newc) == 0


def test_kernel_partitions_match_whole_graph_round_moves():
    """One move kernel, two placements: the Spark kernel's per-partition
    pass (Arrow batches of one ``src`` hash partition, frontier read off
    the ``dm`` column) and a whole-graph call of _round_moves must emit
    the same moves, round after round, on a graph whose level 0 needs
    several frontier rounds."""
    import numpy as np
    import pyarrow as pa

    from louvain_fast_move_cuda_spark.operators.louvain_arrow import KERNEL_COLUMNS, _moves_kernel
    from louvain_fast_move_cuda_spark.operators.louvain_local import _round_moves

    und = np.array(powerlaw_graph(n=400, m_attach=2, seed=5), dtype=np.int64)
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    w = np.ones(len(src))
    n, m = int(src.max()) + 1, len(und) * 1.0
    k = np.bincount(src, weights=w, minlength=n)
    comm = np.arange(n, dtype=np.int64)
    dm = np.ones(len(src), dtype=bool)  # level start: every dst "moved"
    active = np.ones(n, dtype=bool)
    nparts, batch_rows = 5, 97  # batch boundaries split adjacencies
    part = src % nparts
    rounds_moved = []
    for rnd in range(12):
        ctot = np.bincount(comm, weights=k, minlength=n)
        cs, cd = comm[src], comm[dst]
        # whole graph, active set by vertex index
        sel = active[src]
        want = _round_moves(
            src[sel], cd[sel], w[sel], k[src[sel]], cs[sel], ctot[cs[sel]],
            ctot[cd[sel]], m, rnd,
        )
        # kernel placement: one call per partition, shuffled row order
        cols = [src, cd, w, k[src], cs, ctot[cs], ctot[cd], dm]
        got = []
        kernel = _moves_kernel(m, rnd)
        for p in range(nparts):
            rows = np.random.default_rng(rnd * nparts + p).permutation(np.flatnonzero(part == p))
            batches = [
                pa.RecordBatch.from_arrays([pa.array(c[rows[i:i + batch_rows]]) for c in cols],
                                           names=list(KERNEL_COLUMNS))
                for i in range(0, len(rows), batch_rows)
            ]
            got += [b.to_pydict() for b in kernel(iter(batches))]
        got_pairs = sorted((a, c) for d in got for a, c in zip(d["node"], d["newc"]))
        assert got_pairs == sorted(zip(want[0].tolist(), want[1].tolist())), rnd
        if not len(want[0]):
            break
        rounds_moved.append(int(active.sum()))
        # apply, then the frontier both ways: dm on the edge rows, and a
        # per-vertex active mask
        comm[want[0]] = want[1]
        moved = np.zeros(n, dtype=bool)
        moved[want[0]] = True
        dm = moved[dst]
        active = np.zeros(n, dtype=bool)
        active[src[dm & (comm[src] != comm[dst])]] = True
    # several productive rounds, the later ones on a partial frontier
    assert len(rounds_moved) >= 4
    assert min(rounds_moved[1:]) < n


def test_round0_moves_match_python_round0_rule(spark):
    """round0_moves (the kernel's rnd == 0 branch behind the
    louvain_round0 query) equals the round-0 rule written out in plain
    Python: singleton communities, ΔQ = w/m + k_n(k_n − k_n − k_c)/(2m²),
    the highest ΔQ per node with ties to the lowest community id, kept
    when ΔQ > 0 and node < newc. Its row count is round 0's n_moves in a
    distributed louvain() run."""
    from louvain_fast_move_cuda_spark.operators.louvain import round0_moves

    und = powerlaw_graph()
    g = build_graph(spark.createDataFrame(und, "a long, b long"), relabel=False)
    directed = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    m = float(len(und))
    k = {}
    for s, _ in directed:
        k[s] = k.get(s, 0.0) + 1.0
    best = {}
    for s, d in directed:
        delta = (1.0 - 0.0) / m + (k[s] * (k[s] - k[s] - k[d])) / (2.0 * m * m)
        if s not in best or delta > best[s][0] or (delta == best[s][0] and d < best[s][1]):
            best[s] = (delta, d)
    want = sorted((s, c) for s, (delta, c) in best.items() if delta > 0 and s < c)

    got = sorted((r.node, r.newc) for r in round0_moves(g).collect())
    assert got == want and len(want) > 0
    first = louvain(g, local_finish_max_edges=0).metrics[0]
    assert (first["level"], first["round"], first["n_moves"]) == (0, 0, len(got))


def test_refine_splits_disconnected_community(spark):
    """C9 refine (phaseRefine.cuh is an empty stub in the reference;
    semantics: Leiden connectivity guarantee): a community containing
    two components must split into its connected parts, each labeled by
    its minimum reachable vertex id."""
    from louvain_fast_move_cuda_spark.operators.refine import refine_partition

    # two disjoint triangles forced into ONE community (0), plus a
    # separate pair in community 1
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (6, 7)]
    raw = spark.createDataFrame(edges, "a long, b long")
    g = build_graph(raw, relabel=False)
    labels = spark.createDataFrame(
        [(i, 0) for i in range(6)] + [(6, 1), (7, 1)],
        "orig_id long, community long",
    )
    got = {r.orig_id: r.community
           for r in refine_partition(g, labels).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3, 6: 6, 7: 6}
    # the split can only raise Q: (sum a_i)^2 >= sum a_i^2
    m = g.m
    epdf = [(r.src, r.dst, r.weight) for r in g.edges.collect()]
    deg = {r.id: r.k for r in g.vertices.collect()}
    before = {i: 0 for i in range(6)} | {6: 1, 7: 1}
    def q_of(part):
        ctot = {}
        for v, c in part.items():
            ctot[c] = ctot.get(c, 0.0) + deg[v]
        return _modularity(
            [(s, d, w) for s, d, w in epdf], part, ctot, m
        )
    assert q_of(got) > q_of(before)


def test_refine_is_identity_and_monotone_on_louvain_output(spark):
    """louvain(refine=True): Q never drops vs the unrefined run, the
    refined partition is a fixpoint of refinement (every community
    connected), and labels stay dense 0-based."""
    from louvain_fast_move_cuda_spark.operators.refine import refine_partition

    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    raw = spark.createDataFrame(edges, "a long, b long")
    plain = louvain(build_graph(raw, relabel=False))
    g = build_graph(raw, relabel=False)
    ref = louvain(g, refine=True)
    assert ref.modularity >= plain.modularity - 1e-12
    lab = {r.orig_id: r.community for r in ref.labels.collect()}
    assert set(lab.values()) == set(range(ref.n_communities))  # dense
    assert ref.n_communities == len(set(lab.values()))
    # the refined Q is the Q of the emitted labels
    deg = {r.id: r.k for r in g.vertices.collect()}
    ctot = {}
    for v, c in lab.items():
        ctot[c] = ctot.get(c, 0.0) + deg[v]
    directed = [(r.src, r.dst, r.weight) for r in g.edges.collect()]
    assert ref.modularity == pytest.approx(_modularity(directed, lab, ctot, g.m), abs=1e-12)
    # idempotence: refining the refined labels changes nothing (up to
    # the canonical min-id relabel refine_partition uses internally)
    ldf = ref.labels
    again = refine_partition(g, ldf)
    n_parts = again.select("community").distinct().count()
    assert n_parts == ref.n_communities


def test_louvain_full_gate_is_sharp(spark):
    """The round-4 full-loop hard gate must (a) pass end-to-end on real
    output and (b) FAIL when the engine's claimed modularity is off by
    more than the 1e-9 tolerance — i.e. the oracle genuinely judges the
    claim rather than echoing it."""
    import duckdb

    import __spark_entry__ as entrymod
    from conftest import SF_DIR

    sdf = entrymod.queries()["louvain_communities"](spark, SF_DIR)
    srows = sorted(tuple(r) for r in sdf.collect())

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    sql = entrymod.oracle_sql()["louvain_communities"]
    orows = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert srows == orows  # labels round-trip, Q bitwise, claim judged ok

    # perturb the claimed modularity by 1e-6 (1000x the gate tolerance):
    # the oracle must now emit q_claim_ok=False on every row
    meta_path = f"{entrymod._ORACLE_MAT_DIR}/louvain_meta_distributed.parquet"
    (q_claimed,) = con.execute(
        f"SELECT q_claimed FROM read_parquet('{meta_path}/*.parquet')"
    ).fetchone()
    spark.createDataFrame(
        [(float(q_claimed) + 1e-6,)], "q_claimed double"
    ).write.mode("overwrite").parquet(meta_path)
    bad = con.execute(sql).fetchall()
    assert bad and all(row[-1] is False for row in bad)
    # restore the true claim for any later consumer of the artifact
    spark.createDataFrame([(float(q_claimed),)], "q_claimed double").write.mode(
        "overwrite"
    ).parquet(meta_path)


def test_q_of_labels_endpoints(spark):
    """Q of the one-community partition is exactly 0; Q of the
    all-singletons partition is exactly -sum(k^2)/4m^2."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    g = build_graph(
        spark.createDataFrame(edges, "a long, b long"), relabel=False
    )
    one = g.vertices.select("id", F.lit(0).alias("community"))
    q1 = entrymod._q_of_labels(spark, g, one).collect()[0]["q"]
    assert q1 == 0.0
    singles = g.vertices.select("id", F.col("id").alias("community"))
    q0 = entrymod._q_of_labels(spark, g, singles).collect()[0]["q"]
    ks = {r["id"]: r["k"] for r in g.vertices.collect()}
    m = g.m
    assert q0 == 0.0 / (2.0 * m) - sum(k * k for k in ks.values()) / (4.0 * m * m)


def test_driver_state_round_is_one_job_and_louvain_repeats(spark):
    """Below the broadcast bound a Louvain round is ONE Spark job: every
    round of level 0 (job description ``louvain L0 R{r}``, the dropped
    speculative round after the cap included; round 0 also builds the
    static edges) runs exactly one job, and so does the coarsen
    (``louvain agg L0``). Two runs in one session give bit-identical
    labels, Q and per-round records, and nothing is left in the
    session's cache."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    g = build_graph(spark.createDataFrame(powerlaw_graph(), "a long, b long"), relabel=False)
    kw = dict(local_finish_max_edges=0, max_levels=1, early_stop_limit=4, threshold=-1.0)
    runs = []
    for i in range(2):
        group = f"louvain-round-jobs-{i}"
        sc.setJobGroup(group, "louvain rounds")
        try:
            res = louvain(g, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rounds = [(mt["level"], mt["round"], mt["n_moves"], mt["q"], mt["dq"]) for mt in res.metrics]
        labels = sorted((r.orig_id, r.community) for r in res.labels.collect())
        runs.append((labels, res.modularity, res.levels, res.n_communities, rounds))

        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        per_desc = {}
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            desc = store.job(jid).description()
            d = desc.get() if desc.isDefined() else None
            per_desc[d] = per_desc.get(d, 0) + 1
        assert [mt["round"] for mt in res.metrics] == [0, 1, 2, 3, 4]
        for r in range(1, 6):
            assert per_desc.get(f"louvain L0 R{r}") == 1, (r, per_desc)
        # under the driver-state scope (AQE off) the lazy checkpoints of the
        # static and the coarse edges build inside the job that reads them
        assert per_desc.get("louvain L0 R0") == 1, per_desc
        assert per_desc.get("louvain agg L0") == 1, per_desc
    assert runs[0] == runs[1]
    assert cache.isEmpty()
