"""North-rule invariants: determinism across parallelism levels, resume
from durable checkpoints, per-turn text equality under stable ordering."""

import glob
import importlib
import math
import os
import shutil
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from louvain_fast_move_cuda_spark.operators.louvain import louvain
from louvain_fast_move_cuda_spark.plans import superstep
from louvain_fast_move_cuda_spark.plans.checkpoint import (
    SuperstepCheckpointer,
    VertexIterationCheckpointer,
)
from louvain_fast_move_cuda_spark.sources.edges import build_graph
from louvain_fast_move_cuda_spark.sources.transcripts import synthesize_transcripts

from oracle import powerlaw_graph

# by module path: the package re-exports the function named like the module
louvain_mod = importlib.import_module("louvain_fast_move_cuda_spark.operators.louvain")


def _labels(res):
    return sorted((r.orig_id, r.community) for r in res.labels.collect())


def test_louvain_deterministic_across_shuffle_partitions(spark):
    """Canonical tie-break (max ΔQ, then lowest community) must make labels
    independent of partitioning — the sandbox proxy for 'same result at N
    and 4N executors'."""
    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    raw = spark.createDataFrame(edges, "a long, b long")
    results = []
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    for npart in (2, 8):
        spark.conf.set("spark.sql.shuffle.partitions", str(npart))
        try:
            g = build_graph(raw, relabel=False)
            res = louvain(g, local_finish_max_edges=0)
            results.append((_labels(res), res.modularity))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert results[0][0] == results[1][0]
    assert math.isclose(results[0][1], results[1][1], abs_tol=1e-12)


def _assert_same_run(got, want):
    """Labels, Q, levels and every round's level, round, moves, q and dq
    equal bit for bit."""
    rounds = [(mt["level"], mt["round"], mt["n_moves"], mt["q"], mt["dq"]) for mt in want.metrics]
    assert [(mt["level"], mt["round"], mt["n_moves"], mt["q"], mt["dq"]) for mt in got.metrics] == rounds
    assert _labels(got) == _labels(want)
    assert got.modularity == want.modularity
    assert (got.levels, got.n_communities) == (want.levels, want.n_communities)


def test_louvain_shuffle_paths_match_broadcast_paths(spark, monkeypatch):
    """With ``VERTEX_STATE_MAX=0`` every level takes the scale path: the
    vertex state is carried on the edge rows, the move set stays
    distributed (shuffle-joined applies, edge state repartitioned on
    src), Σ_tot is shuffle-joined into the kernel input and the level
    relabel is a range shuffle. At the default bound every level holds
    its state on the driver instead, one broadcast and one job a round.
    Both must give the same run bit for bit: at the default threshold,
    where a level ends on a dropped speculative round after its dq stop,
    and with the dq stop off and the round cap ending each level."""
    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    raw = spark.createDataFrame(edges, "a long, b long")
    for kw in (
        dict(local_finish_max_edges=0),
        dict(local_finish_max_edges=0, threshold=-1.0, early_stop_limit=3, max_levels=2),
    ):
        res_d = louvain(build_graph(raw, relabel=False), **kw)
        with monkeypatch.context() as mp:
            mp.setattr(superstep, "VERTEX_STATE_MAX", 0)
            res_s = louvain(build_graph(raw, relabel=False), **kw)
        assert res_d.levels > 1
        _assert_same_run(res_d, res_s)


def test_louvain_non_dense_ids_match_edge_carried(spark, monkeypatch):
    """Vertex ids ×7 (``build_graph(relabel=False)`` keeps them): the
    driver arrays are sized by the id range, not the vertex count. Every
    placement must equal the edge-carried run: driver state at every
    level; level 0 edge-carried because its id range exceeds the bound,
    then the driver from level 1; the same with ``n_nodes`` understated as
    the vertex count, so only the gathered ids reveal the range; and the
    driver-local tail."""
    edges = [(7 * a, 7 * b) for a, b in powerlaw_graph(n=250, m_attach=2, seed=11)]
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    n_verts = g.vertices.count()
    assert g.n_nodes > 1000 > n_verts
    monkeypatch.setattr(superstep, "VERTEX_STATE_MAX", 0)
    want = louvain(g, local_finish_max_edges=0)
    assert want.levels > 1 and all(mt["engine"] == "arrow" for mt in want.metrics)
    for bound, n_nodes in ((5_000_000, g.n_nodes), (1000, g.n_nodes), (1000, n_verts)):
        monkeypatch.setattr(superstep, "VERTEX_STATE_MAX", bound)
        got = louvain(replace(g, n_nodes=n_nodes), local_finish_max_edges=0)
        _assert_same_run(got, want)
    monkeypatch.undo()
    loc = louvain(g)
    assert all(mt["engine"] == "local" for mt in loc.metrics)
    assert _labels(loc) == _labels(want)
    assert (loc.modularity, loc.levels) == (want.modularity, want.levels)


def test_local_finish_matches_distributed(spark, monkeypatch):
    """One level loop, two placements for a level's edges: in this process
    (every level from level 0, the default here) and on Spark
    (``local_finish_max_edges=0``). Both run the same move kernel, and on
    integer-weight graphs every partial sum is exact, so the runs must be
    the same bit for bit: labels, Q, levels and every round's record. So
    must the edge-carried -> in-process hand-off: level 0 edge-carried
    (``VERTEX_STATE_MAX=0``, one edge too many for this process), every
    later level in this process."""
    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    raw = spark.createDataFrame(edges, "a long, b long")
    res_dist = louvain(build_graph(raw, relabel=False), local_finish_max_edges=0)
    res_loc = louvain(build_graph(raw, relabel=False))
    assert res_dist.levels > 1
    assert all(mt["engine"] == "local" for mt in res_loc.metrics)
    assert all(mt["engine"] == "arrow" for mt in res_dist.metrics)
    _assert_same_run(res_loc, res_dist)
    g = build_graph(raw, relabel=False)
    monkeypatch.setattr(superstep, "VERTEX_STATE_MAX", 0)
    res_hand = louvain(g, local_finish_max_edges=g.edges.count() - 1)
    assert {mt["engine"] for mt in res_hand.metrics if mt["level"] == 0} == {"arrow"}
    assert {mt["engine"] for mt in res_hand.metrics if mt["level"] > 0} == {"local"}
    _assert_same_run(res_hand, res_dist)


def test_max_levels_holds_in_every_placement(spark):
    """``max_levels`` stops the run after that many aggregation phases
    whichever placement runs the levels: at the default settings (every
    level in this process) ``max_levels=1`` must give the Spark
    placement's run bit for bit."""
    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    raw = spark.createDataFrame(edges, "a long, b long")
    want = louvain(build_graph(raw, relabel=False), local_finish_max_edges=0, max_levels=1)
    got = louvain(build_graph(raw, relabel=False), max_levels=1)
    assert want.levels == 2
    assert all(mt["engine"] == "local" for mt in got.metrics)
    _assert_same_run(got, want)


def test_max_levels_below_one_raises_and_edge_carried_stop_builds_nothing(
    spark, tmp_path, monkeypatch
):
    """``max_levels`` below 1 raises. A checkpointed run (every level
    edge-carried) with ``max_levels=1`` stops before it builds the coarse
    merge (no ``aggregate_graph`` call) or saves level 1's state: only
    level 0 is saved, with no vertex table, and the run is the driver
    placement's bit for bit, ``levels == 2`` included. Resumed with
    ``max_levels=2``, the same run builds that merge once."""
    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_levels"):
            louvain(g, max_levels=bad)
    merges = []
    real = louvain_mod.aggregate_graph
    monkeypatch.setattr(
        louvain_mod, "aggregate_graph", lambda *args: merges.append(1) or real(*args)
    )
    ckpt_dir = str(tmp_path / "ckpt")
    got = louvain(g, max_levels=1, checkpointer=SuperstepCheckpointer(ckpt_dir))
    assert merges == []
    want = louvain(g, max_levels=1, local_finish_max_edges=0)
    assert os.listdir(ckpt_dir) == ["level=0"]
    assert glob.glob(os.path.join(ckpt_dir, "level=0/round=*/edges_state"))
    assert not glob.glob(os.path.join(ckpt_dir, "level=*/round=*/vertices"))
    assert want.levels == 2
    _assert_same_run(got, want)
    louvain(g, max_levels=2, checkpointer=SuperstepCheckpointer(ckpt_dir))
    assert merges == [1]


def test_vertex_state_bound_places_every_operator(spark, monkeypatch):
    """``plans/superstep.py::VERTEX_STATE_MAX`` bounds the driver state of
    all four iterative operators. Moved to 0 by one monkeypatch, Louvain
    (Spark placement asked for) runs every level edge-carried instead of
    on ``_SparkLevel``, and PageRank, CC and LPA run ``supersteps``
    instead of the driver placement; every output equals the one at the
    default bound."""
    # by module path: the package re-exports functions named like modules
    components, labelprop, pagerank, louvain_mod = (
        importlib.import_module(f"louvain_fast_move_cuda_spark.operators.{name}")
        for name in ("components", "labelprop", "pagerank", "louvain")
    )

    edges = powerlaw_graph(n=250, m_attach=2, seed=11)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    placed = []

    class SpyLevel(louvain_mod._SparkLevel):
        def __init__(self, *args):
            placed.append("_SparkLevel")
            super().__init__(*args)

    def spy(real):
        def run(name, *args, **kw):
            placed.append(name)
            return real(name, *args, **kw)

        return run

    monkeypatch.setattr(louvain_mod, "_SparkLevel", SpyLevel)
    for mod in (pagerank, components, labelprop):
        monkeypatch.setattr(mod, "supersteps", spy(mod.supersteps))

    def run_all():
        placed.clear()
        res = louvain(g, local_finish_max_edges=0)
        out = [
            sorted(map(tuple, run.collect()))
            for run in (
                pagerank.pagerank(g, max_iter=5, tol=0.0, local_max_edges=0),
                components.connected_components(g, local_max_edges=0),
                labelprop.label_propagation(g, max_iter=3, local_max_edges=0),
            )
        ]
        return res, out, set(placed)

    want, want_out, want_placed = run_all()
    monkeypatch.setattr(superstep, "VERTEX_STATE_MAX", 0)
    got, got_out, got_placed = run_all()
    assert want_placed == {"_SparkLevel"}
    assert got_placed == {"pagerank", "cc", "lpa"}
    assert want.levels > 1
    _assert_same_run(got, want)
    (want_pr, *want_labels), (got_pr, *got_labels) = want_out, got_out
    assert got_labels == want_labels
    assert [i for i, _ in got_pr] == [i for i, _ in want_pr]
    for (_, a), (_, b) in zip(got_pr, want_pr):
        assert a == pytest.approx(b, abs=1e-12)


def test_resume_from_checkpoint_identical_labels(spark, tmp_path):
    edges = powerlaw_graph(n=150, m_attach=2, seed=4)
    raw = spark.createDataFrame(edges, "a long, b long")
    g = build_graph(raw, relabel=False)
    ckpt_dir = str(tmp_path / "ckpt")

    full = louvain(build_graph(raw, relabel=False), checkpointer=SuperstepCheckpointer(ckpt_dir))
    assert glob.glob(os.path.join(ckpt_dir, "level=*/round=*/_META.json"))

    resumed = louvain(g, checkpointer=SuperstepCheckpointer(ckpt_dir))
    assert _labels(resumed) == _labels(full)
    assert math.isclose(resumed.modularity, full.modularity, abs_tol=1e-12)
    # resume skipped the converged optimization (far fewer rounds than full)
    assert len(resumed.metrics) < len(full.metrics)


def test_resume_reads_the_saved_stop_test(spark, tmp_path):
    """A resume goes on where the saved run would have: each saved round
    carries the stop test the run evaluated after it, and the resume reads
    it instead of re-deriving it. A checkpointed run cut after level 0's
    last round, which the ΔQ threshold ended, and resumed with that stop
    off (``threshold=-1.0``) scores no level-0 round: its level-0 labels
    are the saved run's."""
    edges = powerlaw_graph(n=150, m_attach=2, seed=4)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    ckpt_dir = str(tmp_path / "ckpt")
    full = louvain(g, checkpointer=SuperstepCheckpointer(ckpt_dir))
    last = [mt for mt in full.metrics if mt["level"] == 0][-1]
    assert last["n_moves"] > 0 and last["dq"] <= louvain_mod.MODULARITY_CONVERGED_THRESHOLD
    for d in glob.glob(os.path.join(ckpt_dir, "level=*")):
        if os.path.basename(d) != "level=0":
            shutil.rmtree(d)
    # the round cap only bounds a resume that would wrongly go on
    resumed = louvain(
        g, threshold=-1.0, early_stop_limit=last["round"] + 2, max_levels=1,
        checkpointer=SuperstepCheckpointer(ckpt_dir),
    )
    assert resumed.metrics == []
    want = louvain(g, max_levels=1, local_finish_max_edges=0)
    assert _labels(resumed) == _labels(want)
    assert (resumed.modularity, resumed.levels) == (want.modularity, want.levels)


def test_torn_checkpoint_is_invisible(spark, tmp_path):
    """A superstep directory without its _META.json commit marker must be
    ignored by resume (torn-write safety)."""
    root = str(tmp_path / "ckpt")
    os.makedirs(os.path.join(root, "level=3", "round=7"))  # no _META.json
    assert SuperstepCheckpointer(root).load_latest(spark) is None


def test_torn_iteration_checkpoint_is_invisible(spark, tmp_path):
    """The ``iter=<I>`` layout keeps the same commit rule: resume reads the
    committed iteration with the largest number (10 over 9, a numeric
    order) and never a later one torn before its _META.json."""
    root = tmp_path / "ckpt"
    ck = VertexIterationCheckpointer(str(root), algo="pagerank")
    assert ck.load_latest(spark) is None
    for it in (9, 10):
        ck.save(it, spark.range(it), {"delta": float(it)})
    os.makedirs(root / "iter=11" / "state")  # no _META.json
    it, state, metric = ck.load_latest(spark)
    assert (it, state.count(), metric) == (10, 10, {"delta": 10.0})


def test_per_turn_text_equality_under_stable_ordering(spark):
    """input_hint invariant: text is a pure function of (conv_id, turn_idx)
    and survives the pipeline under stable ordering, at any parallelism."""
    t1 = synthesize_transcripts(spark, n_convs=200, seed=42).repartition(13)
    t2 = synthesize_transcripts(spark, n_convs=200, seed=42).repartition(2)
    a = [r.text for r in t1.orderBy("conv_id", "turn_idx").collect()]
    b = [r.text for r in t2.orderBy("conv_id", "turn_idx").collect()]
    assert a == b and len(a) > 400
    # role alternates deterministically; ts monotone within conversation
    chk = (
        t1.groupBy("conv_id")
        .agg(
            F.max(F.col("turn_idx")).alias("mx"),
            F.count("*").alias("n"),
            (F.min("ts") < F.max("ts")).alias("mono"),
        )
        .filter(F.col("n") != F.col("mx") + 1)
        .count()
    )
    assert chk == 0


def test_pagerank_lpa_cc_resume_mid_iteration(spark, tmp_path):
    """North rule: every superstep checkpoints so runs resume
    mid-iteration — interrupted-then-resumed output must equal a fresh
    uninterrupted run (exact for integer-label algorithms, 1e-12 for
    PageRank float sums)."""
    import pytest

    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
    from louvain_fast_move_cuda_spark.plans.checkpoint import VertexIterationCheckpointer

    edges = powerlaw_graph(n=120, m_attach=2, seed=5)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)

    # --- pagerank: 3 iterations, then resume to 12 -----------------------
    ck = VertexIterationCheckpointer(str(tmp_path / "pr"), algo="pagerank")
    pagerank(g, max_iter=3, tol=0.0, checkpointer=ck)
    resumed = {r.id: r.rank for r in
               pagerank(g, max_iter=12, tol=0.0, checkpointer=ck).collect()}
    fresh = {r.id: r.rank for r in
             pagerank(g, max_iter=12, tol=0.0, local_max_edges=0).collect()}
    assert resumed.keys() == fresh.keys()
    for k in fresh:
        assert resumed[k] == pytest.approx(fresh[k], abs=1e-12)

    # resuming a CONVERGED checkpoint (large tol) runs no iteration and
    # returns the fixpoint
    ck = VertexIterationCheckpointer(str(tmp_path / "pr_done"), algo="pagerank")
    done = {r.id: r.rank for r in pagerank(g, max_iter=100, tol=0.05, checkpointer=ck).collect()}
    n_iters = len(os.listdir(tmp_path / "pr_done"))
    assert n_iters < 100
    again = {r.id: r.rank for r in
             pagerank(g, max_iter=100, tol=0.05, checkpointer=ck).collect()}
    assert again == done and len(os.listdir(tmp_path / "pr_done")) == n_iters
    fresh = {r.id: r.rank for r in
             pagerank(g, max_iter=100, tol=0.05, local_max_edges=0).collect()}
    for k in fresh:
        assert done[k] == pytest.approx(fresh[k], abs=1e-12)

    # --- lpa: 1 round, then resume to 5 (bit-identical labels) -----------
    ck = VertexIterationCheckpointer(str(tmp_path / "lpa"), algo="lpa")
    label_propagation(g, max_iter=1, checkpointer=ck).collect()
    resumed = sorted(map(tuple, label_propagation(g, max_iter=5, checkpointer=ck).collect()))
    fresh = sorted(map(tuple, label_propagation(g, max_iter=5, local_max_edges=0).collect()))
    assert resumed == fresh

    # resuming a FIXPOINT checkpoint runs no round and returns the fixpoint
    # (synchronous LPA oscillates on the power-law graph; bridged 5-cliques
    # settle in a few rounds)
    cliques = [(a, b) for c in range(0, 40, 5) for a in range(c, c + 5)
               for b in range(a + 1, c + 5)] + [(c + 4, c + 5) for c in range(0, 35, 5)]
    gk = build_graph(spark.createDataFrame(cliques, "a long, b long"), relabel=False)
    ck = VertexIterationCheckpointer(str(tmp_path / "lpa_done"), algo="lpa")
    done = sorted(map(tuple, label_propagation(gk, max_iter=30, checkpointer=ck).collect()))
    n_rounds = len(os.listdir(tmp_path / "lpa_done"))
    assert n_rounds < 30
    again = sorted(map(tuple, label_propagation(gk, max_iter=30, checkpointer=ck).collect()))
    assert again == done and len(os.listdir(tmp_path / "lpa_done")) == n_rounds
    assert done == sorted(map(tuple, label_propagation(gk, max_iter=30).collect()))

    # --- cc: 1 star round, then resume (exact labels) --------------------
    ck = VertexIterationCheckpointer(str(tmp_path / "cc"), algo="cc")
    connected_components(g, max_iter=1, checkpointer=ck).collect()
    resumed = sorted(map(tuple, connected_components(g, checkpointer=ck).collect()))
    fresh = sorted(map(tuple, connected_components(g, local_max_edges=0).collect()))
    assert resumed == fresh

    # resuming a CONVERGED checkpoint is a no-op returning the fixpoint
    again = sorted(map(tuple, connected_components(g, checkpointer=ck).collect()))
    assert again == fresh

    # algo tag guards against pointing one algorithm at another's dir
    bad = VertexIterationCheckpointer(str(tmp_path / "cc"), algo="pagerank")
    try:
        pagerank(g, max_iter=2, checkpointer=bad)
        raise AssertionError("expected ValueError for mismatched algo tag")
    except ValueError:
        pass


def test_coloring_msf_resume_mid_iteration(spark, tmp_path):
    """Coloring + MSF resume from a committed round bit-identically —
    including after a budget-exhausted run that RAISED (its committed
    rounds survive for the retry)."""
    import pytest

    from louvain_fast_move_cuda_spark.operators.coloring import greedy_coloring
    from louvain_fast_move_cuda_spark.operators.mst import minimum_spanning_forest
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    edges = powerlaw_graph(n=100, m_attach=2, seed=13)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)

    # --- coloring: budget-exhausted run raises but commits its rounds --
    ck = VertexIterationCheckpointer(str(tmp_path / "col"), algo="coloring")
    with pytest.raises(RuntimeError, match="converge"):
        greedy_coloring(g, max_rounds=1, checkpointer=ck)
    resumed = sorted(
        map(tuple, greedy_coloring(g, max_rounds=30, checkpointer=ck).collect())
    )
    fresh = sorted(map(tuple, greedy_coloring(g, max_rounds=30).collect()))
    assert resumed == fresh
    # resuming a CONVERGED checkpoint is a no-op returning the fixpoint
    again = sorted(
        map(tuple, greedy_coloring(g, max_rounds=30, checkpointer=ck).collect())
    )
    assert again == fresh

    # --- msf: 1 round, resume to completion (unique forest) ------------
    wg = build_graph(
        spark.createDataFrame(
            [(a, b, float((a * 7 + b) % 5 + 1)) for a, b in edges],
            "a long, b long, w double",
        ),
        relabel=False,
        weight="w",
    )
    ck = VertexIterationCheckpointer(str(tmp_path / "msf"), algo="msf")
    minimum_spanning_forest(wg, max_rounds=1, on_truncate="ignore", checkpointer=ck)
    resumed = sorted(
        map(tuple, minimum_spanning_forest(wg, checkpointer=ck).collect())
    )
    fresh = sorted(map(tuple, minimum_spanning_forest(wg).collect()))
    assert resumed == fresh


def test_coreness_resume_mid_iteration(spark, tmp_path):
    import pytest

    from louvain_fast_move_cuda_spark.operators.graphstats import coreness
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    # long path: the h-index descent needs many rounds, so 1 round raises
    g = build_graph(
        spark.createDataFrame([(i, i + 1) for i in range(25)], "a long, b long"),
        relabel=False,
    )
    ck = VertexIterationCheckpointer(str(tmp_path / "core"), algo="coreness")
    with pytest.raises(RuntimeError, match="converge"):
        coreness(g, max_rounds=1, checkpointer=ck)
    resumed = sorted(map(tuple, coreness(g, max_rounds=40, checkpointer=ck).collect()))
    fresh = sorted(map(tuple, coreness(g, max_rounds=40).collect()))
    assert resumed == fresh
    again = sorted(map(tuple, coreness(g, max_rounds=40, checkpointer=ck).collect()))
    assert again == fresh


def test_bellman_ford_family_resume_mid_hop(spark, tmp_path):
    """temporal_reachability and weighted_landmark_distances resume the
    identical Bellman-Ford state sequence from a committed hop."""
    from louvain_fast_move_cuda_spark.operators.distances import (
        weighted_landmark_distances,
    )
    from louvain_fast_move_cuda_spark.operators.temporal import temporal_reachability
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    import random

    rng = random.Random(53)
    links = [
        (rng.randrange(40), rng.randrange(40), rng.randrange(100, 200))
        for _ in range(150)
    ]
    links = [(a, b, t) for a, b, t in links if a != b]
    seeds = [(v, v, 100 + v) for v in range(0, 40, 6)]
    ldf = spark.createDataFrame(links, "a long, b long, ts_us long")
    sdf = spark.createDataFrame(seeds, "landmark long, vertex long, arr_us long")
    ck = VertexIterationCheckpointer(str(tmp_path / "tr"), algo="temporal")
    temporal_reachability(ldf, sdf, max_hops=1, checkpointer=ck).collect()
    resumed = sorted(
        map(tuple, temporal_reachability(ldf, sdf, max_hops=5, checkpointer=ck).collect())
    )
    fresh = sorted(map(tuple, temporal_reachability(ldf, sdf, max_hops=5).collect()))
    assert resumed == fresh

    edges = powerlaw_graph(n=90, m_attach=2, seed=19)
    wg = build_graph(
        spark.createDataFrame(
            [(a, b, float((a + 2 * b) % 4 + 1)) for a, b in edges],
            "a long, b long, w double",
        ),
        relabel=False,
        weight="w",
    )
    ck = VertexIterationCheckpointer(str(tmp_path / "wd"), algo="wdist")
    weighted_landmark_distances(wg, seed_mod=11, max_hops=1, checkpointer=ck).collect()
    resumed = sorted(
        map(
            tuple,
            weighted_landmark_distances(
                wg, seed_mod=11, max_hops=5, checkpointer=ck
            ).collect(),
        )
    )
    fresh = sorted(
        map(tuple, weighted_landmark_distances(wg, seed_mod=11, max_hops=5).collect())
    )
    assert resumed == fresh


def test_peel_family_resume_mid_round(spark, tmp_path):
    """k_core and s_core resume the identical monotone peel from a
    committed round (the survivor edge set is the whole state)."""
    from louvain_fast_move_cuda_spark.operators.graphstats import k_core, s_core
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    # long path: peels one layer per round from each end
    path = [(i, i + 1) for i in range(30)]
    g = build_graph(spark.createDataFrame(path, "a long, b long"), relabel=False)
    ck = VertexIterationCheckpointer(str(tmp_path / "kc"), algo="k_core")
    k_core(g, k=2, max_rounds=3, on_truncate="ignore", checkpointer=ck).collect()
    resumed = sorted(map(tuple, k_core(g, k=2, checkpointer=ck).collect()))
    fresh = sorted(map(tuple, k_core(g, k=2).collect()))
    assert resumed == fresh == []  # a path has an empty 2-core

    wg = build_graph(
        spark.createDataFrame(
            [(a, b, float(b % 3 + 1)) for a, b in path], "a long, b long, w double"
        ),
        relabel=False,
        weight="w",
    )
    ck = VertexIterationCheckpointer(str(tmp_path / "sc"), algo="s_core")
    s_core(wg, s=3, max_rounds=2, on_truncate="ignore", checkpointer=ck).collect()
    resumed = sorted(map(tuple, s_core(wg, s=3, checkpointer=ck).collect()))
    fresh = sorted(map(tuple, s_core(wg, s=3).collect()))
    assert resumed == fresh


def test_k_truss_resume_mid_round(spark, tmp_path):
    from louvain_fast_move_cuda_spark.operators.graphstats import k_truss
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    edges = powerlaw_graph(n=120, m_attach=3, seed=11)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    ck = VertexIterationCheckpointer(str(tmp_path / "kt"), algo="k_truss")
    k_truss(g, k=3, max_rounds=1, on_truncate="ignore", checkpointer=ck).collect()
    resumed = sorted(map(tuple, k_truss(g, k=3, checkpointer=ck).collect()))
    fresh = sorted(map(tuple, k_truss(g, k=3).collect()))
    assert resumed == fresh


def test_mis_resume_mid_round(spark, tmp_path):
    import pytest

    from louvain_fast_move_cuda_spark.operators.mis import maximal_independent_set
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    edges = powerlaw_graph(n=130, m_attach=2, seed=3)
    g = build_graph(spark.createDataFrame(edges, "a long, b long"), relabel=False)
    ck = VertexIterationCheckpointer(str(tmp_path / "mis"), algo="mis")
    with pytest.raises(RuntimeError, match="converge"):
        maximal_independent_set(g, max_rounds=1, checkpointer=ck)
    resumed = sorted(
        map(tuple, maximal_independent_set(g, max_rounds=12, checkpointer=ck).collect())
    )
    fresh = sorted(map(tuple, maximal_independent_set(g, max_rounds=12).collect()))
    assert resumed == fresh
    again = sorted(
        map(tuple, maximal_independent_set(g, max_rounds=12, checkpointer=ck).collect())
    )
    assert again == fresh


def test_matching_resume_mid_round(spark, tmp_path):
    import pytest

    from louvain_fast_move_cuda_spark.operators.matching import maximal_matching
    from louvain_fast_move_cuda_spark.plans.checkpoint import (
        VertexIterationCheckpointer,
    )

    g = build_graph(
        spark.createDataFrame([(i, i + 1) for i in range(50)], "a long, b long"),
        relabel=False,
    )
    ck = VertexIterationCheckpointer(str(tmp_path / "match"), algo="matching")
    with pytest.raises(RuntimeError, match="converge"):
        maximal_matching(g, max_rounds=1, checkpointer=ck)
    resumed = sorted(
        map(tuple, maximal_matching(g, max_rounds=16, checkpointer=ck).collect())
    )
    fresh = sorted(map(tuple, maximal_matching(g, max_rounds=16).collect()))
    assert resumed == fresh
