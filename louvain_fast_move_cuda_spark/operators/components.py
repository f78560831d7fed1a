"""Connected components: Shiloach–Vishkin min-hooking while the vertex
state fits the driver, Kiveris large-star / small-star above it.

Not in the CUDA reference (SURVEY.md §2.11); semantics from the published
algorithms. The output, the minimum vertex id of each component, is a
graph invariant, so every placement returns the same labels.

While the graph runs on the driver (plans/superstep.py::placement) the
labels are one NumPy array and each round is one min-label gather plus
the update :func:`_hook_rounds`: every vertex relaxes to its smallest
neighbouring label and hooks its root to it, then pointer jumping makes
every tree a star again. The gather is NumPy over the edges in the local
tail; with vertex state on the driver it is one broadcast of the labels
joined onto the static self-loop-free ``(src, dst)`` table (``src``-
partitioned, so ``min(label)`` by ``src`` needs no exchange), read back
with ``toArrow()`` — two JVM jobs a round. On the perfbench graphs this
takes 4 rounds where the star rounds take 11.

Above ``VERTEX_STATE_MAX`` and under a checkpointer the rounds are
Kiveris et al. ("Connected Components in MapReduce and Beyond"), which
converge in O(log² n) rounds on any graph — the right choice at
10^12-edge scale where min-label flooding's O(diameter) rounds is
unbounded. State is a symmetric, self-loop-free ``(src, dst)`` edge set.
One round (:func:`_star_round`, a large star then a small star) is one
plan with no join: each star reads its per-vertex minimum off a ``min``
window over the ``src`` partitioning, emits its new edges from the
window's rows (the small star both directions of each, from one
``explode``), and deduplicates in place after a ``src`` repartition
(HashPartitioning(src) satisfies the distinct's clustering on (src,
dst)). That is three shuffles per round: the large star's window (a
``localCheckpoint``-ed input reports no partitioning under AQE, so the
window shuffles the previous round's output again), the large star's
output and the small star's output. One observed noop write then
materializes the round's lazy checkpoint and returns its (count,
xor-hash) set fingerprint, so a distributed round is four Spark jobs,
all in the JVM. The loop around the rounds (resume, per-round
checkpoint, fixpoint stop) is plans/superstep.py::supersteps.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.observe import observed
from ..plans.superstep import (
    broadcast_gather,
    edge_arrays,
    placement,
    supersteps,
    vertex_state_scope,
)
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


def _hook_rounds(n: int, gather, max_iter: int):
    """CC's rounds on driver arrays (Shiloach–Vishkin min-hooking):
    ``gather(it, label)`` gives every vertex's smallest neighbouring label
    (its own label with no neighbour). Each vertex relaxes to it and hooks
    its root, ``new[label[v]] = min(…, m(v))``, then pointer jumping runs
    to a fixpoint, so every tree is a star again. Labels only fall and
    ``label[x] <= x`` throughout, so once a round changes nothing each
    vertex points at its component's smallest index. Returns ``(label,
    done, rounds)``."""
    label = np.arange(n, dtype=np.int64)
    for it in range(max_iter):
        m = gather(it, label)
        new = np.minimum(label, m)
        np.minimum.at(new, label, m)
        while True:
            jumped = new[new]
            if np.array_equal(jumped, new):
                break
            new = jumped
        if np.array_equal(new, label):
            return label, True, it + 1
        label = new
    return label, False, max_iter


def _local_components(graph: GraphTables, ids, max_iter: int):
    """Driver-local tail: the min-label gather over the edges in NumPy
    (``np.minimum.at``)."""
    src, dst, _ = edge_arrays(graph, ids)
    keep = src != dst
    src, dst = src[keep], dst[keep]

    def gather(_it, label):
        m = label.copy()
        np.minimum.at(m, src, label[dst])
        return m

    return _hook_rounds(len(ids), gather, max_iter)


def _driver_components(graph: GraphTables, ids, max_iter: int, npart: int):
    """Labels on the driver: each round's gather is one Spark aggregate,
    ``min(label)`` by ``src`` over the static self-loop-free edges."""
    spark = graph.edges.sparkSession
    with vertex_state_scope(spark):
        static = (
            graph.edges.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .repartition(npart, "src")
            .localCheckpoint(eager=False)
        )
        spark_gather = broadcast_gather(
            spark, "cc", ids, "dst",
            lambda labels: static.join(labels, "dst").groupBy("src").agg(F.min("label").alias("m")),
        )

        def gather(it, label):
            idx, t = spark_gather(it, label=label)
            m = label.copy()
            m[idx] = t.column("m").to_numpy()
            return m

        return _hook_rounds(len(ids), gather, max_iter)


def _warn_unstable(rounds: int, max_iter: int, kind: str) -> None:
    """Warn that ``max_iter`` rounds of ``kind`` ("min-hooking" or
    "star") ran out before the labels were stable."""
    warnings.warn(
        f"connected_components: not stable after {rounds} {kind} rounds "
        f"(max_iter={max_iter}); labels may not be component minima",
        RuntimeWarning,
        stacklevel=3,
    )


def connected_components(
    graph: GraphTables,
    max_iter: int = 50,
    local_max_edges: int = 5_000_000,
    checkpointer=None,
) -> DataFrame:
    """Returns (id: long, component: long) — component = min vertex id reachable.

    ``local_max_edges``: below this directed-edge count the computation
    runs in the driver; 0 = never. Otherwise, while the vertex count fits
    ``VERTEX_STATE_MAX``, the labels stay on the driver (min-hooking, one
    Spark aggregate a round); above it the star rounds run. The output is
    identical on every path — the label is a graph invariant.

    ``checkpointer``: optional plans.checkpoint.VertexIterationCheckpointer
    — every star round durably saves the contracted edge set + its
    set-fingerprint; a fresh call resumes from the latest committed
    round (the stars are deterministic set maps, so resumed output is
    identical). Forces the star rounds.

    If ``max_iter`` rounds pass before the labels (min-hooking) or the
    edge set (star rounds) are stable, the labels need not be component
    minima: a ``RuntimeWarning`` says so.
    """
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # decide the placement BEFORE building the distributed tables: the
    # driver placements shouldn't pay a materialization they never read
    placed = placement(graph, local_max_edges, checkpointer)
    if placed is not None:
        import pyarrow as pa

        ids, _, local = placed
        label, done, rounds = (
            _local_components(graph, ids, max_iter) if local
            else _driver_components(graph, ids, max_iter, npart)
        )
        if not done:
            _warn_unstable(rounds, max_iter, "min-hooking")
        return spark.createDataFrame(pa.table({"id": ids, "component": ids[label]}))
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
        _warn_unstable(rounds, max_iter, "star")
    parents = (
        edges.filter(F.col("dst") < F.col("src"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("component"))
    )
    return (
        all_vertices.join(parents, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
