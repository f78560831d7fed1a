"""Synchronous label propagation (LPA) over the symmetric edge table.

Not in the CUDA reference (SURVEY.md §2.11); published algorithm
(Raghavan et al. 2007), synchronous variant for determinism: every round,
each vertex adopts the label with the largest incident weight among its
neighbors, ties broken toward the smallest label (the same canonical
tie-break as the Louvain argmax — max(struct(weight, -label))); a vertex
with no vote keeps its own id.

While the graph runs on the driver (plans/superstep.py::placement) the
labels are one NumPy array and :func:`_vote_rounds` applies each round's
winners. The winners are computed in NumPy over the edges in the local
tail; with vertex state on the driver they come from one broadcast of
the labels joined onto the static ``(src, dst, w)`` table (``src``-
partitioned, so both aggregates — the vote sum by (src, label) and the
argmax by src — need no exchange), read back with ``toArrow()``. Vote
weights are integer-valued float64 sums, so every placement gives
bit-identical labels.

Above ``VERTEX_STATE_MAX`` and under a checkpointer, one round = one join
(labels onto edge dst) + one groupBy(node, label) + one argmax
groupBy(node): the same shuffle skeleton as a Louvain superstep
(SURVEY.md §2.4 A3/A6). The loop (lazy per-round checkpoint, one
observed change count, resume, fixpoint stop) is
plans/superstep.py::supersteps.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.observe import observed
from ..plans.skew import salted_sum_by_key, skewed_degree_trigger
from ..plans.superstep import (
    LOCAL_MAX_EDGES,
    broadcast_gather,
    edge_arrays,
    placement,
    supersteps,
    vertex_state_scope,
)
from ..sources.edges import GraphTables


def _vote_rounds(n: int, gather, max_iter: int) -> np.ndarray:
    """LPA's rounds on driver arrays: ``gather(it, label)`` gives the
    vertices that received votes and each one's winning label; every other
    vertex resets to its own id. Stops at a fixpoint."""
    label = np.arange(n, dtype=np.int64)
    for it in range(max_iter):
        voters, best = gather(it, label)
        new_label = np.arange(n, dtype=np.int64)
        new_label[voters] = best
        n_changed = int((new_label != label).sum())
        label = new_label
        if n_changed == 0:
            break
    return label


def _local_lpa(graph: GraphTables, ids, max_iter: int) -> np.ndarray:
    """Driver-local tail: the vote sums and the argmax in NumPy (sort by
    (src, label), ``reduceat``, then the total order (src, −wsum,
    label))."""
    src, dst, w = edge_arrays(graph, ids)
    keep = src != dst
    src, dst, w = src[keep], dst[keep], w[keep]

    def gather(_it, label):
        if len(src) == 0:
            return src, src
        lbl = label[dst]
        order = np.lexsort((lbl, src))
        s_src, s_lbl, s_w = src[order], lbl[order], w[order]
        boundary = np.empty(len(s_src), dtype=bool)
        boundary[0] = True
        np.not_equal(s_src[1:], s_src[:-1], out=boundary[1:])
        boundary[1:] |= s_lbl[1:] != s_lbl[:-1]
        starts = np.flatnonzero(boundary)
        g_src, g_lbl = s_src[starts], s_lbl[starts]
        wsum = np.add.reduceat(s_w, starts)
        pick_order = np.lexsort((g_lbl, -wsum, g_src))
        first = np.empty(len(pick_order), dtype=bool)
        o_src = g_src[pick_order]
        first[0] = True
        np.not_equal(o_src[1:], o_src[:-1], out=first[1:])
        pick = pick_order[first]
        return g_src[pick], g_lbl[pick]

    return _vote_rounds(len(ids), gather, max_iter)


def _driver_lpa(graph: GraphTables, ids, max_iter: int, npart: int) -> np.ndarray:
    """Labels on the driver: each round's winners come from one Spark
    plan, ``sum(w)`` by (src, label) then ``max(struct(wsum, −label))`` by
    src, over the static self-loop-free edges."""
    spark = graph.edges.sparkSession
    with vertex_state_scope(spark):
        static = (
            graph.edges.select("src", "dst", F.col("weight").alias("w"))
            .filter(F.col("src") != F.col("dst"))
            .repartition(npart, "src")
            .localCheckpoint(eager=False)
        )
        spark_gather = broadcast_gather(
            spark, "lpa", ids, "dst",
            lambda labels: static.join(labels, "dst")
            .groupBy("src", "label")
            .agg(F.sum("w").alias("wsum"))
            .groupBy("src")
            .agg(F.max(F.struct("wsum", (-F.col("label")).alias("nl"))).alias("b"))
            .select("src", (-F.col("b.nl")).alias("label")),
        )

        def gather(it, label):
            idx, t = spark_gather(it, label=label)
            return idx, t.column("label").to_numpy()

        return _vote_rounds(len(ids), gather, max_iter)


def label_propagation(
    graph: GraphTables,
    max_iter: int = 10,
    local_max_edges: int = LOCAL_MAX_EDGES,
    checkpointer=None,
) -> DataFrame:
    """Returns (id: long, label: long). Stops early at a fixpoint.

    ``local_max_edges``: below this directed-edge count the rounds run
    in the driver; 0 = never. Otherwise, while the vertex count fits
    ``VERTEX_STATE_MAX``, the labels stay on the driver and each round is
    one Spark plan; above it they are a DataFrame. Labels are
    bit-identical on every path.

    ``checkpointer``: optional plans.checkpoint.VertexIterationCheckpointer
    — every round durably saves the label table + change count; a fresh
    call resumes from the latest committed round (bit-identical labels:
    each round is a pure function of the previous label table). Forces
    the DataFrame loop.

    Hub-vertex skew in the DataFrame loop's vote sum (SURVEY.md §4 item 1
    — power-law graphs put a hub's entire neighborhood on one (src,
    label) reducer key): the sum is salted over 16 buckets when the max
    weighted degree exceeds 4× the average shuffle-partition load
    (plans/skew.py::skewed_degree_trigger). Vote weights are
    integer-valued float64 sums, so the two-stage sum is bit-identical to
    the single-stage plan.
    """
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    placed = placement(graph, local_max_edges, checkpointer)
    if placed is not None:
        import pyarrow as pa

        ids, _, local = placed
        label = (
            _local_lpa(graph, ids, max_iter) if local
            else _driver_lpa(graph, ids, max_iter, npart)
        )
        return spark.createDataFrame(pa.table({"id": ids, "label": ids[label]}))
    stats = graph.vertices.agg(F.max("k").alias("mx"), F.sum("k").alias("tot")).collect()[0]
    salted = skewed_degree_trigger(float(stats["mx"]), float(stats["tot"]), npart)
    edges = (
        graph.edges.select("src", "dst", F.col("weight").alias("w"))
        .filter(F.col("src") != F.col("dst"))
        .repartition(npart, "dst")
        .localCheckpoint(eager=True)
    )
    # Round shape (guide §2.4 — three exchanges, down from five/six): a
    # null-vote SELF ROW per vertex (carrying its old label) rides into
    # the argmax aggregate, guaranteeing every vertex a group — the
    # argmax skips the self rows via when(wsum IS NOT NULL, struct(...))
    # (max ignores null structs), voteless vertices coalesce to their own
    # id exactly as the old left join did, and the change count becomes a
    # count over the new state instead of a join of consecutive label
    # tables. All-integer values: bit-identical labels.
    def step(labels, _metric):
        voted = edges.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
        if salted:
            votes = salted_sum_by_key(
                voted.select("src", "label", "w"), ["src", "label"], "w", "wsum"
            )
        else:
            votes = voted.groupBy("src", "label").agg(F.sum("w").alias("wsum"))
        selfrows = labels.select(
            F.col("id").alias("src"), F.lit(None).cast("long").alias("label"),
            F.lit(None).cast("double").alias("wsum"), F.col("label").alias("old"),
        )
        return (
            votes.withColumn("old", F.lit(None).cast("long"))
            .unionByName(selfrows)
            .groupBy("src")
            .agg(
                F.max(
                    F.when(
                        F.col("wsum").isNotNull(),
                        F.struct(F.col("wsum"), (-F.col("label")).alias("nl")),
                    )
                ).alias("b"),
                F.max("old").alias("old"),
            )
            .select(
                F.col("src").alias("id"),
                F.coalesce(-F.col("b.nl"), F.col("src")).alias("label"),
                "old",
            )
        )

    # the change count is an exact integer, so observing it in the noop
    # write that materializes the round costs no separate count job
    def changed(labels, job):
        obs = observed(
            labels, job, F.count(F.when(F.col("label") != F.col("old"), 1)).alias("n_changed")
        )
        return {"n_changed": int(obs["n_changed"])}

    labels, _, _ = supersteps(
        "lpa", graph.vertices.select("id", F.col("id").alias("label")), step, changed,
        lambda m, _prev: m["n_changed"] == 0, max_iter, checkpointer,
    )
    return labels.select("id", "label")
