"""The superstep loops of the vertex programs (PageRank, LPA, CC).

A superstep is one dataflow plan plus one global aggregate (the Pregelix
view of Pregel). A vertex program runs its supersteps in one of three
placements, chosen by :func:`placement` from one per-vertex gather:

* the driver-local NumPy tail, while the directed edge count fits
  ``local_max_edges``: :func:`edge_arrays` gathers the edges once and
  every superstep runs in NumPy;
* vertex state on the driver, while the vertex count fits
  :data:`VERTEX_STATE_MAX` and no checkpointer is set: the state lives in
  NumPy arrays indexed like the gathered ids, and each superstep is one
  broadcast of it joined onto the program's static edge table plus one
  Spark aggregate, read back by :func:`broadcast_gather` (two JVM jobs).
  The static table is partitioned by the aggregate's key and built under
  :func:`vertex_state_scope` (AQE off), so its checkpoint keeps that
  partitioning and the aggregate needs no exchange. The program's NumPy
  update rule is the same function in both driver placements; only the
  gather differs;
* vertex state in DataFrames above the bound and under a checkpointer:
  :func:`supersteps`, where ``step`` builds the next state lazily from the
  current one and ``measure`` runs the superstep's only action, which
  both materializes the state's lazy ``localCheckpoint`` (truncating its
  lineage) and returns the convergence metric. The loop around them —
  resume, plan dump, checkpoint, stop test — lives here once.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from .conf import sql_conf
from .debug import dump_plan

# the bound on vertex-sized state held on the driver, read at call time by
# the vertex programs' placement and by every size test of Louvain
# (operators/louvain.py): one constant bounds all four iterative operators
VERTEX_STATE_MAX = 5_000_000
# the default directed edge count up to which an iterative operator runs in
# this process (Louvain's ``local_finish_max_edges``, the vertex programs'
# and the refine's ``local_max_edges``): one number for all of them
LOCAL_MAX_EDGES = 5_000_000


def supersteps(name, state, step, measure, done, max_iter, checkpointer=None, metric=None):
    """Run supersteps until ``done`` or ``max_iter``; returns ``(state,
    metric, rounds)``.

    Superstep ``it``: ``nxt = step(state, metric)`` (lazy), checkpoint it
    lazily, ``metric = measure(state, job_name)`` (the one action), then
    ``metric["done"] = done(metric, previous metric)``; the loop stops
    once ``done`` holds. ``metric`` seeds the first step, like a Pregel
    aggregator. ``rounds`` counts the supersteps run, resumed ones
    included. ``max_iter=0`` returns ``state`` and ``metric`` unchanged.

    ``checkpointer``: optional plans.checkpoint.VertexIterationCheckpointer.
    Each superstep saves its state and metric; a fresh call resumes after
    the latest committed superstep, reading its parquet as the state, and
    returns it at once if that superstep was ``done``. The first
    superstep's formatted plan goes to ``plans.debug.dump_plan`` as
    ``superstep_<name>``.
    """
    start = 0
    if checkpointer is not None:
        saved = checkpointer.load_latest(state.sparkSession)
        if saved is not None:
            it, state, metric = saved
            start = it + 1
            if metric.get("done"):
                return state, metric, start
    rounds = start
    for it in range(start, max_iter):
        nxt = step(state, metric)
        state = nxt.localCheckpoint(eager=False)
        prev, metric = metric, measure(state, f"{name} R{it}")
        if it == start:
            # the checkpoint ran nxt's own plan: AQE's final plan
            dump_plan(nxt, f"superstep_{name}")
        metric["done"] = bool(done(metric, prev))
        if checkpointer is not None:
            checkpointer.save(it, state, metric)
        rounds = it + 1
        if metric["done"]:
            break
    return state, metric, rounds


def vertex_state_scope(spark):
    """The SQL confs of a driver-state run: AQE off, so a checkpoint built
    inside reports the hash partitioning it was built with and a
    superstep's plan is one job."""
    return sql_conf(spark, {"spark.sql.adaptive.enabled": "false"})


def vertex_arrays(graph, with_k: bool = False):
    """``(ids, k, ne)`` from one gather of ``(id, [k,] out-degree)`` over
    ``graph.vertices`` (isolated vertices included, out-degree 0): ``ids``
    ascending, ``k`` aligned with them (None unless ``with_k``: CC also
    runs on vertex tables without ``k``) and ``ne`` = Σ out-degree, the
    directed edge count."""
    k = ["k"] if with_k else []
    # one exchange: a zero-degree row per vertex and a one per edge
    rows = graph.vertices.select("id", *k, F.lit(0).alias("deg")).unionByName(
        graph.edges.select(
            F.col("src").alias("id"),
            *[F.lit(None).cast("double").alias(c) for c in k],
            F.lit(1).alias("deg"),
        )
    )
    with vertex_state_scope(graph.edges.sparkSession):
        t = rows.groupBy("id").agg(*[F.max(c).alias(c) for c in k], F.sum("deg").alias("deg"))
        t = t.toArrow()
    order = np.argsort(t.column("id").to_numpy(), kind="stable")
    return (
        t.column("id").to_numpy()[order],
        t.column("k").to_numpy()[order] if with_k else None,
        int(t.column("deg").to_numpy().sum()),
    )


def placement(graph, local_max_edges: int, checkpointer, with_k: bool = False):
    """Where a vertex program runs: None for the DataFrame loop
    (:func:`supersteps`), else ``(ids, k, local)`` from
    :func:`vertex_arrays`, with ``local`` true for the NumPy tail (the
    directed edge count fits ``local_max_edges``; 0 = never) and false for
    vertex state on the driver.

    A checkpointer always means the DataFrame loop. ``graph.n_nodes``
    (max id + 1, or the vertex count) bounds the gather: above
    :data:`VERTEX_STATE_MAX` only the tail may gather, once an edge count
    says it fits.
    """
    if checkpointer is not None:
        return None
    tail = local_max_edges > 0
    if graph.n_nodes > VERTEX_STATE_MAX and not (
        tail and graph.edges.count() <= local_max_edges
    ):
        return None
    ids, k, ne = vertex_arrays(graph, with_k)
    local = tail and ne <= local_max_edges
    if not local and len(ids) > VERTEX_STATE_MAX:
        return None
    return ids, k, local


def edge_arrays(graph, ids):
    """The edges gathered for a NumPy tail: ``(src, dst, w)`` with
    ``src``/``dst`` dense indices into the sorted ``ids``, in the edge
    table's row order (self-loops included; a caller that skips them
    masks these arrays, which keeps the surviving rows in the order a
    Spark-side filter gives)."""
    t = graph.edges.select("src", "dst", "weight").toArrow()
    return (
        np.searchsorted(ids, t.column("src").to_numpy()),
        np.searchsorted(ids, t.column("dst").to_numpy()),
        t.column("weight").to_numpy(),
    )


def broadcast_gather(spark, name, ids, key, aggregate):
    """The Spark gather of a driver-state superstep: ``gather(it,
    **state)`` ships ``(key = ids, **state)`` (NumPy arrays aligned with
    ``ids``) as one broadcast frame, runs ``aggregate(frame)`` — the
    program's one per-vertex aggregate over its static edges, keyed by
    its first column — and returns ``(idx, table)``: the dense index of
    each result row and the Arrow result. Two JVM jobs: the broadcast and
    the aggregate. Superstep 0's plan is dumped as ``superstep_<name>``."""
    import pyarrow as pa

    sc = spark.sparkContext

    def gather(it, **state):
        sc.setJobDescription(f"{name} R{it}")
        out = aggregate(F.broadcast(spark.createDataFrame(pa.table({key: ids, **state}))))
        t = out.toArrow()
        if it == 0:
            dump_plan(out, f"superstep_{name}")
        return np.searchsorted(ids, t.column(0).to_numpy()), t

    return gather
