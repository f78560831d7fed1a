"""Connected components via alternating large-star / small-star.

Not in the CUDA reference (SURVEY.md §2.11); semantics from the published
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond"), which converges in O(log² n) rounds on any graph — the right
choice at 10^12-edge scale where min-label flooding's O(diameter) rounds
is unbounded.

State is a symmetric, self-loop-free ``(src, dst)`` edge set. One round
(:func:`_star_round`, a large star then a small star) is one plan with
no join: each star reads its per-vertex minimum off a ``min`` window over
the ``src`` partitioning, emits its new edges from the window's rows
(the small star both directions of each, from one ``explode``), and
deduplicates in place after a ``src`` repartition (HashPartitioning(src)
satisfies the distinct's clustering on (src, dst)). That is three
shuffles per round: the large star's window (a ``localCheckpoint``-ed
input reports no partitioning, so the window shuffles the previous
round's output again), the large star's output and the small star's
output. One observed noop write then materializes the round's lazy
checkpoint and returns its (count, xor-hash) set fingerprint, so a
distributed round is four Spark jobs, all in the JVM. The loop around the
rounds (resume, per-round checkpoint, fixpoint stop) is
plans/superstep.py::supersteps.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.observe import observed
from ..plans.superstep import local_arrays, runs_local, supersteps
from ..sources.edges import GraphTables


def _star_round(edges: DataFrame, npart: int) -> DataFrame:
    """One Kiveris round on a symmetric, self-loop-free ``(src, dst)`` set;
    returns the next such set (lazy, ``src``-partitioned, deduplicated)."""
    by_src = Window.partitionBy("src")
    # large star: every strictly larger neighbour v > u joins
    # m(u) = min(N(u) ∪ {u}). Its output is symmetric, but the small star
    # reads only the half with dst < src, so only (v, m(u)) is emitted
    # (v > u >= m(u): never a self-loop)
    large = (
        edges.select("src", "dst", F.least(F.min("dst").over(by_src), F.col("src")).alias("m"))
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .repartition(npart, "src")
        .distinct()
    )
    # small star: u and every smaller neighbour v < u join
    # mn(u) = min of those neighbours; one explode emits both directions
    mn = large.select("src", "dst", F.min("dst").over(by_src).alias("mn"))
    pairs = [("dst", "mn"), ("mn", "dst"), ("src", "mn"), ("mn", "src")]
    small = mn.select(
        F.explode(
            F.array(*[F.struct(F.col(a).alias("src"), F.col(b).alias("dst")) for a, b in pairs])
        ).alias("e")
    ).select("e.src", "e.dst")
    return (
        small.filter(F.col("src") != F.col("dst"))
        .repartition(npart, "src")
        .distinct()
    )


def _local_components(graph: GraphTables) -> DataFrame:
    """Driver-local tail: vectorized min-label pointer jumping.

    The output contract — component = min vertex id reachable — is
    algorithm-independent, so this is exactly the distributed result
    (same rationale as the Louvain local tail: once the edge list fits
    one node, distributed star rounds pay scheduler latency for
    nothing). Edge relaxation (np.minimum.at) + pointer doubling
    converges in O(log n) passes.
    """
    import numpy as np
    import pandas as pd

    ids, src, dst, _, _ = local_arrays(graph)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    label = np.arange(len(ids), dtype=np.int64)
    while True:
        old = label
        relaxed = label.copy()
        np.minimum.at(relaxed, src, label[dst])  # pull each neighbor's label
        label = relaxed
        label = np.minimum(label, label[label])  # pointer doubling
        label = np.minimum(label, label[label])
        if np.array_equal(label, old):
            break
    out = pd.DataFrame({"id": ids, "component": ids[label]})
    return graph.edges.sparkSession.createDataFrame(out)


def connected_components(
    graph: GraphTables,
    max_iter: int = 50,
    local_max_edges: int = 5_000_000,
    checkpointer=None,
) -> DataFrame:
    """Returns (id: long, component: long) — component = min vertex id reachable.

    ``local_max_edges``: below this directed-edge count the computation
    runs in the driver (identical output — the label is a graph
    invariant); 0 forces the distributed star rounds.

    ``checkpointer``: optional plans.checkpoint.VertexIterationCheckpointer
    — every star round durably saves the contracted edge set + its
    set-fingerprint; a fresh call resumes from the latest committed
    round (the stars are deterministic set maps, so resumed output is
    identical). Forces the distributed path.

    If ``max_iter`` rounds pass before the edge set is stable, the labels
    are parents in a graph that is not yet a union of stars, so they need
    not be component minima: a ``RuntimeWarning`` says so.
    """
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # decide the local-tail branch BEFORE building the distributed tables:
    # small graphs shouldn't pay a materialization the local path never reads
    if runs_local(graph, local_max_edges, checkpointer):
        return _local_components(graph)
    all_vertices = graph.vertices.select("id").localCheckpoint(eager=True)

    # fixpoint test: the alternating stars converge exactly when the edge
    # set stops changing (Kiveris et al. §3); compare an order-invariant
    # (count, hash-xor) set fingerprint, observed by the same job that
    # materializes the lazy checkpoint. XOR (not sum): exact,
    # commutative, cannot overflow under ANSI.
    def fingerprint(edges, job):
        return observed(
            edges, job,
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        )

    def stable(fp, prev):
        return prev is not None and (fp["n"], fp["h"]) == (prev.get("n"), prev.get("h"))

    # no repartition here: the first round's window shuffles on src anyway
    edges, metric, rounds = supersteps(
        "cc", graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst")),
        lambda edges, _metric: _star_round(edges, npart), fingerprint, stable,
        max_iter, checkpointer,
    )
    if not (metric or {}).get("done"):
        warnings.warn(
            f"connected_components: edge set not stable after {rounds} star rounds "
            f"(max_iter={max_iter}); labels may not be component minima",
            RuntimeWarning,
            stacklevel=2,
        )
    parents = (
        edges.filter(F.col("dst") < F.col("src"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("component"))
    )
    return (
        all_vertices.join(parents, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
