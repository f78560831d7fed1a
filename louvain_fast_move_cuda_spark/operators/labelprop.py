"""Synchronous label propagation (LPA) over the symmetric edge table.

Not in the CUDA reference (SURVEY.md §2.11); published algorithm
(Raghavan et al. 2007), synchronous variant for determinism: every round,
each vertex adopts the label with the largest incident weight among its
neighbors, ties broken toward the smallest label (the same canonical
tie-break as the Louvain argmax — max(struct(weight, -label))).

One round = one join (labels onto edge dst) + one groupBy(node, label)
+ one argmax groupBy(node): the same shuffle skeleton as a Louvain
superstep (SURVEY.md §2.4 A3/A6). The loop (lazy per-round checkpoint,
one observed change count, resume, fixpoint stop) is
plans/superstep.py::supersteps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.observe import observed
from ..plans.skew import salted_sum_by_key, skewed_degree_trigger
from ..plans.superstep import local_arrays, runs_local, supersteps
from ..sources.edges import GraphTables


def _local_lpa(graph: GraphTables, max_iter: int) -> DataFrame:
    """Driver-local tail: identical rounds vectorized in NumPy.

    Vote weights are integer-valued float64 sums (exact in any order)
    and the argmax tie-break is the same total order, so labels are
    BIT-IDENTICAL to the distributed rounds — including the rule that a
    vertex with no (non-self-loop) incident edges resets to its own id.
    """
    import numpy as np
    import pandas as pd

    ids, src, dst, w, _ = local_arrays(graph)
    keep = src != dst
    src, dst, w = src[keep], dst[keep], w[keep]
    n = len(ids)
    label = np.arange(n, dtype=np.int64)
    for _ in range(max_iter):
        lbl = label[dst]
        order = np.lexsort((lbl, src))
        s_src, s_lbl, s_w = src[order], lbl[order], w[order]
        boundary = np.empty(len(s_src), dtype=bool)
        if len(s_src) == 0:
            break
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
        new_label = np.arange(n, dtype=np.int64)  # voteless -> own id
        new_label[g_src[pick]] = g_lbl[pick]
        n_changed = int((new_label != label).sum())
        label = new_label
        if n_changed == 0:
            break
    out = pd.DataFrame({"id": ids, "label": ids[label]})
    return graph.edges.sparkSession.createDataFrame(out)


def label_propagation(
    graph: GraphTables,
    max_iter: int = 10,
    local_max_edges: int = 5_000_000,
    skew_salt_buckets: int | None = None,
    checkpointer=None,
) -> DataFrame:
    """Returns (id: long, label: long). Stops early at a fixpoint.

    ``local_max_edges``: below this directed-edge count the rounds run
    in the driver with bit-identical labels; 0 forces distributed.

    ``checkpointer``: optional plans.checkpoint.VertexIterationCheckpointer
    — every round durably saves the label table + change count; a fresh
    call resumes from the latest committed round (bit-identical labels:
    each round is a pure function of the previous label table). Forces
    the distributed path.

    ``skew_salt_buckets``: hub-vertex skew handling for the vote sum
    (SURVEY.md §4 item 1 — power-law graphs put a hub's entire
    neighborhood on one (src, label) reducer key). ``None`` = auto:
    salting turns on when the max weighted degree exceeds 4× the average
    shuffle-partition load (plans/skew.py); ``0`` = never; ``>0`` =
    always, with that many buckets. Vote weights are integer-valued
    float64 sums, so the two-stage sum is bit-identical to the
    single-stage plan regardless of bucketing.
    """
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if runs_local(graph, local_max_edges, checkpointer):
        return _local_lpa(graph, max_iter)
    salt_buckets = skew_salt_buckets
    if salt_buckets is None:
        stats = graph.vertices.agg(
            F.max("k").alias("mx"), F.sum("k").alias("tot")
        ).collect()[0]
        salt_buckets = (
            16
            if skewed_degree_trigger(float(stats["mx"]), float(stats["tot"]), npart)
            else 0
        )
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
        if salt_buckets:
            votes = salted_sum_by_key(
                voted.select("src", "label", "w"), ["src", "label"], "w", "wsum",
                salt_buckets=salt_buckets,
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
