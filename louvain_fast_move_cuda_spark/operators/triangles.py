"""Triangle counting over the canonical (src < dst) edge list.

Not in the CUDA reference (SURVEY.md §2.11). Every triangle consumer
reads one listing, :func:`oriented_triangles`: orient every edge from
the lower-(degree, id) endpoint to the higher one, join wedges
(a->b, b->c), then semi-join the closing edge (a->c). The orientation
is a total order, so each triangle is listed exactly once and the
closing edge of a wedge a->b->c can only be a->c: the one orientation
closes every wedge. Degree orientation bounds every vertex's out-degree
by O(sqrt(m)) on any graph, which is what keeps the wedge join tractable
on power-law graphs at scale (the hub's 10^6 neighbors never self-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.edges import GraphTables


def _half(graph: GraphTables) -> DataFrame:
    return graph.edges.filter(F.col("src") < F.col("dst")).select("src", "dst")


def _oriented(half: DataFrame) -> DataFrame:
    """(a, b): each canonical (src < dst) edge of ``half`` pointed from its
    lower-(degree, id) endpoint to the higher, degree counted over both
    endpoints of ``half``."""
    deg = (
        half.select(F.col("src").alias("v"))
        .unionByName(half.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = half.join(deg.select(F.col("v").alias("src"), F.col("deg").alias("ds")), "src").join(
        deg.select(F.col("v").alias("dst"), F.col("deg").alias("dd")), "dst"
    )
    # src < dst on every row, so an equal degree keeps the edge as it is
    lo = F.col("ds") <= F.col("dd")
    return e.select(
        F.when(lo, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(lo, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )


def oriented_triangles(half: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(o, tri)`` over a canonical (src < dst) edge table: ``o`` (a, b)
    is the degree orientation, checkpointed eagerly; ``tri`` (a, b, c) is
    each triangle once, as its oriented edges a->b, b->c and a->c."""
    o = _oriented(half).localCheckpoint(eager=True)
    tri = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"), F.col("e2.b").alias("c"))
        .join(o.select("a", F.col("b").alias("c")), ["a", "c"], "left_semi")
    )
    return o, tri


def triangle_count(graph: GraphTables) -> int:
    """Total number of triangles in the undirected graph."""
    return oriented_triangles(_half(graph))[1].count()


def triangles_per_vertex(graph: GraphTables) -> DataFrame:
    """(id: long, triangles: long) — per-vertex incident triangle counts."""
    tri = oriented_triangles(_half(graph))[1]
    per = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        graph.vertices.select("id")
        .join(per, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def clique4_count(graph: GraphTables) -> DataFrame:
    """One row (n_triangles, n_four_cliques) — exact K3 and K4 counts.

    Chiba-Nishizeki-style listing on :func:`oriented_triangles`: each K3
    is listed once; a K4 is counted once as its orientation-minimal
    triangle extended by the orientation-maximal vertex x with all of
    a->x, b->x, c->x present. Out-degrees are O(sqrt(m)) under the
    degree orientation, so both the wedge join and the extension join
    stay hub-safe on power-law graphs — no per-vertex neighborhood
    ever self-joins at hub scale. All counts exact int64.
    """
    o, tri = oriented_triangles(_half(graph))
    tri = tri.localCheckpoint(eager=True)
    ext = tri.join(
        o.select(F.col("a").alias("c"), F.col("b").alias("x")), "c"
    )
    k4 = (
        ext.join(o.select(F.col("a"), F.col("b").alias("x")), ["a", "x"], "left_semi")
        .join(o.select(F.col("a").alias("b"), F.col("b").alias("x")), ["b", "x"], "left_semi")
    )
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        k4.agg(F.count("*").alias("n_four_cliques"))
    )
