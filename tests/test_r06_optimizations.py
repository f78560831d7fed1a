"""Focused tests for the round-6 optimization internals.

Each optimization that restructured an operator's plan this round gets a
test pinning the equivalence the restructure relied on, at the edge case
the bench/oracle data does not naturally exercise:

* pagerank / label_propagation self-row supersteps (the per-iteration
  vertex-table join removal) must keep ISOLATED k=0 / voteless vertices
  exactly at the old left-join-coalesce values — the bench and oracle
  graphs contain few or no such vertices, so the parity suite alone
  would not catch a regression here;
* connected_components must carry isolated vertices through to
  singleton components;
* assign_contiguous_ids' carry_all fast path (the map-back join removal
  in transcript_graph) must produce exactly the ranks of the mapping
  path, and assume_distinct must equal the dedup path on distinct input.
"""

import math

from pyspark.sql import functions as F

from louvain_fast_move_cuda_spark.operators.components import connected_components
from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
from louvain_fast_move_cuda_spark.sources.edges import (
    GraphTables,
    assign_contiguous_ids,
    build_graph,
)

# a triangle plus TWO isolated vertices (ids 7, 9): k=0, never in edges
TRI = [(0, 1), (1, 2), (0, 2)]
ISOLATED = [7, 9]


def _graph_with_isolates(spark):
    g = build_graph(spark.createDataFrame(TRI, "a long, b long"), relabel=False)
    iso = spark.createDataFrame([(i, 0.0) for i in ISOLATED], "id long, k double")
    return GraphTables(
        edges=g.edges,
        vertices=g.vertices.unionByName(iso),
        m=g.m,
        n_nodes=max(ISOLATED) + 1,  # GraphTables convention: max id + 1
    )


def test_pagerank_selfrow_keeps_isolated_vertices_at_base(spark):
    """The self-row superstep must give every isolated vertex a group:
    rank = (1-alpha)/n exactly, every iteration, on BOTH paths."""
    g = _graph_with_isolates(spark)
    n = g.vertices.count()
    base = (1.0 - 0.85) / n
    dist = {r.id: r.rank for r in pagerank(g, max_iter=8, tol=0.0, local_max_edges=0).collect()}
    loc = {r.id: r.rank for r in pagerank(g, max_iter=8, tol=0.0).collect()}
    assert set(dist) == set(loc) == {0, 1, 2, *ISOLATED}
    for v in ISOLATED:
        assert dist[v] == base  # exact: base + alpha * 0.0
        assert loc[v] == base
    for v in dist:
        assert math.isclose(dist[v], loc[v], abs_tol=1e-12), (v, dist[v], loc[v])


def test_lpa_selfrow_keeps_voteless_vertices_on_own_label(spark):
    """The null-vote self row must keep voteless vertices (isolated, or
    self-loop-only: src==dst rows are filtered) at their own id, and
    distributed labels must be bit-identical to the local kernel."""
    g = _graph_with_isolates(spark)
    # add a self-loop-only vertex 11: its only incident edge is filtered
    # by the src != dst guard, so it must behave exactly like an isolate
    loop = spark.createDataFrame([(11, 11, 2.0)], "src long, dst long, weight double")
    g = GraphTables(
        edges=g.edges.unionByName(loop),
        vertices=g.vertices.unionByName(
            spark.createDataFrame([(11, 2.0)], "id long, k double")
        ),
        m=g.m + 1.0,
        n_nodes=11 + 1,  # max id + 1
    )
    dist = {r.id: r.label for r in label_propagation(g, max_iter=5, local_max_edges=0).collect()}
    loc = {r.id: r.label for r in label_propagation(g, max_iter=5).collect()}
    assert dist == loc  # bit-identical
    for v in [*ISOLATED, 11]:
        assert dist[v] == v


def test_cc_star_rounds_carry_isolated_vertices(spark):
    """Isolated vertices never enter the edge set and must still come out
    as singletons, with the labels on the driver (``local_max_edges=0``)
    and in the NumPy tail alike. The star rounds' isolated-vertex case is
    tests/test_components.py's checkpointed ``isolated`` graph."""
    g = _graph_with_isolates(spark)
    dist = {r.id: r.component for r in connected_components(g, local_max_edges=0).collect()}
    loc = {r.id: r.component for r in connected_components(g).collect()}
    assert dist == loc
    assert dist[7] == 7 and dist[9] == 9
    assert dist[0] == dist[1] == dist[2] == 0


def test_assign_contiguous_ids_carry_all_matches_mapping_join(spark):
    """carry_all ranks the FULL key-unique rows in one range shuffle; the
    ids must equal the mapping path's ids joined back (same ordering key,
    same ranks), with every payload column carried through."""
    rows = [(f"c{i % 7}", i // 7, f"payload-{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    mapped = assign_contiguous_ids(df, ["conv_id", "turn_idx"], id_col="vid")
    joined = {
        (r.conv_id, r.turn_idx): (r.vid, r.text)
        for r in df.join(mapped, ["conv_id", "turn_idx"]).collect()
    }
    carried = {
        (r.conv_id, r.turn_idx): (r.vid, r.text)
        for r in assign_contiguous_ids(
            df, ["conv_id", "turn_idx"], id_col="vid",
            assume_distinct=True, carry_all=True,
        ).collect()
    }
    assert carried == joined
    vids = sorted(v for v, _ in carried.values())
    assert vids == list(range(200))  # dense 0-based


def test_assign_contiguous_ids_assume_distinct_matches_default(spark):
    """On already-distinct keys the dedup-skipping path must produce the
    identical mapping, and with_count must report the exact cardinality."""
    df = spark.createDataFrame([(v,) for v in [30, 1, 17, 4, 99, 0]], "v long")
    default = {(r.v, r.nid) for r in assign_contiguous_ids(df, ["v"], id_col="nid").collect()}
    skipped, n = assign_contiguous_ids(
        df, ["v"], id_col="nid", assume_distinct=True, with_count=True
    )
    assert {(r.v, r.nid) for r in skipped.collect()} == default
    assert n == 6
