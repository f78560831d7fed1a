"""The superstep loop of the vertex programs (PageRank, LPA, CC).

A superstep is one dataflow plan plus one global aggregate (the Pregelix
view of Pregel): ``step`` builds the next state lazily from the current
one, and ``measure`` runs the superstep's only action, which both
materializes the state's lazy ``localCheckpoint`` (truncating its
lineage) and returns the convergence metric. The loop around them —
resume, plan dump, checkpoint, stop test — lives here once.

When the whole graph fits the driver, the same programs run as NumPy
tails instead; :func:`runs_local` and :func:`local_arrays` are their
shared dispatch test and gather.
"""

from __future__ import annotations

from .debug import dump_plan


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
        if it == start:
            dump_plan(nxt, f"superstep_{name}")
        state = nxt.localCheckpoint(eager=False)
        prev, metric = metric, measure(state, f"{name} R{it}")
        metric["done"] = bool(done(metric, prev))
        if checkpointer is not None:
            checkpointer.save(it, state, metric)
        rounds = it + 1
        if metric["done"]:
            break
    return state, metric, rounds


def runs_local(graph, local_max_edges: int, checkpointer) -> bool:
    """Whether a vertex program takes its driver-local NumPy tail: only
    without a checkpointer (durable supersteps are distributed) and only
    while the directed edge count fits ``local_max_edges`` (0 = never)."""
    return checkpointer is None and local_max_edges > 0 and graph.edges.count() <= local_max_edges


def local_arrays(graph, with_k: bool = False):
    """The graph gathered to the driver for a NumPy tail: ``(ids, src,
    dst, w, k)`` with ``ids`` sorted, ``src``/``dst`` dense indices into
    ``ids`` in the edge table's row order (self-loops included; a caller
    that skips them masks these arrays, which keeps the surviving rows in
    the order a Spark-side filter gives) and ``k`` aligned with ``ids``,
    or None unless ``with_k`` (CC also runs on vertex tables without ``k``)."""
    import numpy as np

    epdf = graph.edges.select("src", "dst", "weight").toPandas()
    vpdf = graph.vertices.select("id", *(["k"] if with_k else [])).toPandas()
    order = np.argsort(vpdf["id"].to_numpy(), kind="stable")
    ids = vpdf["id"].to_numpy()[order]
    k = vpdf["k"].to_numpy()[order] if with_k else None
    src = np.searchsorted(ids, epdf["src"].to_numpy())
    dst = np.searchsorted(ids, epdf["dst"].to_numpy())
    return ids, src, dst, epdf["weight"].to_numpy(), k
