"""Louvain community detection — fast-local-move + graph coarsening.

Spark-native re-expression of the CUDA reference's two phases
(SURVEY.md §2.9, §3):

* **Optimization phase** (phaseOptimization.cuh:158-181): parallel move
  rounds. Every round scores, for each active vertex n, every candidate
  destination community c among its neighbors using *stale* per-round
  community state (that parallel semantics IS the "fast local move"), then
  applies all positive-gain argmax moves simultaneously.
* **Round-0 exact fast path** (phaseOptimizationSort.cu:28-158): the
  move kernel's ``rnd == 0`` branch. At the start of each level
  communities are singletons, so each edge is itself the (node,
  community) candidate with self-weight 0; the asymmetric guard — only
  moves to a *higher* community id are applied
  (phaseOptimizationUpdate.cu:99 skips node > c) — prevents 2-cycles.
* **Aggregation phase** (phaseAggregation.cuh:19-175): dense-relabel the
  surviving communities in community-id order, flatten the per-original-
  vertex labels, and merge edges into the coarse graph (self-loops kept —
  they carry the intra-community weight; total weight conserved).

Scale design (this is where we diverge from a port):

* one move kernel: every round is scored by
  ``louvain_local._round_moves``, per ``src`` hash partition in one
  ``mapInArrow`` pass (operators/louvain_arrow.py, the reference's
  CSR-chunked HASH mode) or on a whole level in this process;
* vertex state on the driver while it is broadcast-sized: the reference
  keeps every per-vertex array resident on one device (community.h) and
  streams only the edges. While a level's state fits (see below), its
  community, Σ_tot and moved-flag vectors are NumPy arrays on the
  driver, and ONE level loop (:func:`_driver_levels`) runs it: each
  round (Pregelix's superstep: one dataflow over the edges plus one
  global aggregate) returns the moves and the W_in of the state it was
  given, the driver applies the moves and recomputes Σ_tot with
  ``bincount``, and the relabel is ``flatnonzero(Σ_tot > 0)``. Only a
  round and a coarsen depend on where the level's edges are, and there
  are two placements for them. On Spark (:class:`_SparkLevel`) the
  static ``(src, dst, w, k_src)`` edges are checkpointed once,
  ``src``-partitioned; a round is ONE Spark job (the state ships as one
  broadcast) and the coarsen one broadcast map plus one ``groupBy``. In
  this process (``louvain_local.InProcessLevel``, entered through
  :func:`local_louvain`) the same NumPy kernel runs once on the whole
  level and the coarsen is a ``lexsort`` + ``reduceat`` merge — the
  reference's own whole-graph-in-one-device model, for the coarsened
  levels where a Spark round would pay fixed scheduling latency for tiny
  data;
* one placement decision at each level start, from the level's vertex
  degrees gathered once before any distributed state is built (level 0
  above the bound counts its edges first, and gathers only if they fit
  in this process): in this
  process when no checkpointer is set and the directed edge count fits
  ``local_finish_max_edges``; else driver state on Spark when the vertex
  ids lie in ``[0, VERTEX_STATE_MAX)`` (plans/superstep.py, the bound the
  vertex programs share); else edge-carried;
* vertex state on the edges above that bound (the 10^12-turn level 0)
  and under durable checkpoints: ``edges_state = (src, dst, w, k_src,
  cs, cd, dm)`` carries the community of both endpoints *on the edge
  row*, updated by joining only against the per-round ``moves`` set,
  broadcast when it fits. ``dm`` ("dst moved last round") carries the
  frontier, so the kernel picks its active sources partition-locally.
  Broadcast applies keep ``est`` hash-partitioned on ``src`` across
  rounds (vertex state and messages co-partitioned, as in Pregelix), so
  the kernel's input is never re-shuffled. Σ_tot is read off the edge
  state too (a community's Σ_tot is its members' summed out-edge
  weight), a per-round ``localCheckpoint`` truncates the lineage, and
  one observed scan per round returns both modularity reductions — the
  Spark analogue of the reference overlapping its two reductions on two
  CUDA streams, community.h:72,88. Each coarse level goes back to the
  placement decision;
* optional durable parquet checkpoints per superstep with per-partition
  metrics enable mid-iteration resume (plans/checkpoint.py).

Canonical tie-break: highest ΔQ, then **lowest** community id — this is
the reference's SORT/fast-path rule (reduce_by_key + GetMaxValue over
(node, community)-sorted candidates keeps the first = lowest community,
operators.h:30-40). Labels are therefore deterministic across
parallelism levels.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.debug import dump_plan
from ..plans.observe import observed
from ..plans import superstep
from .louvain_arrow import arrow_round_moves, driver_round_moves, relabel_edges
from .louvain_local import InProcessLevel, q_from_sums
from ..sources.edges import GraphTables, assign_contiguous_ids

MODULARITY_CONVERGED_THRESHOLD = 0.001  # constants.h:15
EARLY_STOP_LIMIT = 10**9  # constants.h:17
# floor for the scale-adaptive per-level shuffle width: each level runs at
# min(spark.sql.shuffle.partitions, ceil(level_edges / MIN_ROWS_PER_PARTITION))
# partitions, so coarsened tail levels with a few thousand edges stop
# paying the configured width in near-empty tasks per stage while any
# level with real data keeps it (the rule can only shrink a level's
# width, never widen it — at cluster scale every early level saturates the
# configured parallelism). Bit-safe by design: all float sums in the loop
# are integer-valued.
MIN_ROWS_PER_PARTITION = 8192


@dataclass
class LouvainResult:
    labels: DataFrame  # (orig_id: long, community: long), dense 0-based
    modularity: float
    n_communities: int
    levels: int
    metrics: list[dict] = field(default_factory=list)


def _scalars(est: DataFrame, comm_w: DataFrame, name: str) -> dict:
    """{win, ne, s, nc}: the intra-community weight and edge count (over
    ``est``), ΣΣ_tot² and the community count (over ``comm_w``), both
    tables tagged and unioned into one observed scan. Identical float64
    values to the per-table aggregates: conditional sums see exactly the
    rows those aggregates saw."""
    t = F.col("t")
    u = est.select(
        F.lit(0).alias("t"), F.when(F.col("cs") == F.col("cd"), F.col("w")).alias("a")
    ).unionByName(
        comm_w.select(F.lit(1).alias("t"), (F.col("ctot") * F.col("ctot")).alias("a"))
    )
    return observed(
        u, name,
        F.sum(F.when(t == 0, F.col("a"))).alias("win"),
        F.count(F.when(t == 0, F.lit(1))).alias("ne"),
        F.sum(F.when(t == 1, F.col("a"))).alias("s"),
        F.count(F.when(t == 1, F.lit(1))).alias("nc"),
    )


def _comm_weights(est: DataFrame) -> DataFrame:
    """Σ_tot per community straight from the edge state: a community's
    Σ_tot is the summed weight of its members' out-edges, so no vertex
    table has to be kept current round by round. Communities whose every
    member is isolated (Σ_tot = 0) have no row; they add nothing to Q and
    never survive the relabel."""
    return est.groupBy(F.col("cs").alias("comm")).agg(F.sum("w").alias("ctot"))


def _static_edges(edges: DataFrame, npart: int) -> DataFrame:
    """A level's (src, dst, w, k_src) edges, hash-partitioned on ``src``
    — the CSR-block layout the move kernel reads. ``k_src`` is a window
    sum over the ``src`` partition: a vertex's edges are already
    colocated, so the degree costs a sort, not a join or another
    exchange."""
    return edges.repartition(npart, "src").select(
        "src", "dst", "w", F.sum("w").over(Window.partitionBy("src")).alias("k_src")
    )


def _level_edge_state(edges: DataFrame, npart: int) -> DataFrame:
    """A level's starting edge-carried state from its (src, dst, w)
    edges: the static edges plus identity communities and every ``dst``
    counted as moved (so round 0 scores every vertex)."""
    return _static_edges(edges, npart).select(
        "*", F.col("src").alias("cs"), F.col("dst").alias("cd"), F.lit(True).alias("dm")
    )


def _level_width(ne: int, npart: int) -> int:
    """A level's shuffle width: ``npart``, shrunk so that no partition
    holds fewer than MIN_ROWS_PER_PARTITION of its ``ne`` edges."""
    return max(1, min(npart, -(-ne // MIN_ROWS_PER_PARTITION)))


def _vertex_degrees(edges: DataFrame):
    """(ids, k, ne) of a level's (src, dst, w) edges in one per-vertex
    gather: the vertex ids in ascending order, their weighted degrees,
    and the directed edge count (the summed out-degrees)."""
    t = edges.groupBy("src").agg(
        F.sum("w").alias("k"), F.count(F.lit(1)).alias("deg")
    ).toArrow()
    ids = t.column("src").to_numpy()
    order = np.argsort(ids, kind="stable")
    return ids[order], t.column("k").to_numpy()[order], int(t.column("deg").to_numpy().sum())


def _round_record(level, rnd, n_moves, q, dq, sec, engine="arrow") -> dict:
    return {
        "level": level, "round": rnd, "n_moves": n_moves, "q": q,
        "dq": dq, "sec": sec, "engine": engine,
    }


def _driver_rounds(place, k, m, level, threshold, early_stop_limit, metrics):
    """One level's optimization phase with its vertex state on the driver.

    ``place``: where the level's edges are (:class:`_SparkLevel` or
    ``louvain_local.InProcessLevel``); ``k``: weighted degree by vertex
    id. ``comm``, Σ_tot and the moved flags are NumPy arrays indexed by
    vertex id. Each round hands the state to ``place.round``, which
    returns the moves and the W_in of the state it was given; the driver
    applies the moves and recomputes Σ_tot with ``bincount``. Q of the
    state before round r therefore arrives with round r: it completes
    round r−1's record and stop test, and when that test ends the level
    round r's moves are dropped. Exact: every sum is integer-valued
    float64.

    Appends one record per round to ``metrics`` (its ``sec`` runs from the
    round's start to the next round's start); returns ``(comm, ctot,
    q_start, q)``: the final state and Q at the level's start and end.
    """
    n = len(k)
    comm = np.arange(n, dtype=np.int64)
    ctot = k.copy()
    moved = np.ones(n, dtype=bool)  # round 0 scores every vertex
    prev = None  # (round, n_moves, start, Q before) of the round waiting for its Q
    rnd = 0
    while True:
        t0 = time.time()
        nodes, newc, win = place.round(comm, ctot, moved, m, level, rnd)
        q = q_from_sums(win, (ctot * ctot).sum(), m)
        if prev is None:
            q_start = q
        else:
            p_rnd, p_moves, p_t0, p_q = prev
            metrics.append(
                _round_record(level, p_rnd, p_moves, q, q - p_q, t0 - p_t0, place.engine)
            )
            if q - p_q <= threshold or rnd > early_stop_limit:
                break
        if not len(nodes):
            # nothing moved: Q is known without another round
            metrics.append(_round_record(level, rnd, 0, q, 0.0, time.time() - t0, place.engine))
            break
        prev = (rnd, len(nodes), t0, q)
        rnd += 1
        comm[nodes] = newc
        moved = np.zeros(n, dtype=bool)
        moved[nodes] = True
        ctot = np.bincount(comm, weights=k, minlength=n)
    return comm, ctot, q_start, q


class _SparkLevel:
    """A level's ``(src, dst, w)`` edges on Spark, ``ne`` of them: the
    Spark placement of the level loop. Built and run under
    ``superstep.vertex_state_scope`` (AQE off), where a lazy checkpoint
    of a shuffle runs no job of its own: the static ``(src, dst, w,
    k_src)`` edges (:func:`_static_edges`) build inside round 0's job,
    and the coarse edges inside the coarsen's count."""

    engine = "arrow"

    def __init__(self, edges: DataFrame, ne: int, npart: int):
        self.edges, self.ne, self.npart = edges, ne, npart
        self.static = _static_edges(edges, _level_width(ne, npart)).localCheckpoint(eager=False)

    def round(self, comm, ctot, moved, m, level, rnd):
        """One Spark job: the state as one broadcast, one mapInArrow over
        the static edges, read back with ``toArrow()``."""
        sc = self.static.sparkSession.sparkContext
        sc.setJobDescription(f"louvain L{level} R{rnd}")
        state = sc.broadcast((comm, ctot, moved))
        try:
            moves = driver_round_moves(self.static, state, m, rnd)
            t = moves.toArrow()
            if rnd <= 1:
                dump_plan(moves, f"superstep_louvain_round{rnd}")
        finally:
            state.destroy()
        node = t.column("node").to_numpy()
        mv = node >= 0
        return node[mv], t.column("newc").to_numpy()[mv], t.column("win").to_numpy()[~mv].sum()

    def coarsen(self, newid, level):
        """The next level (A8): both endpoints mapped through ``newid``
        (vertex id -> next-level id, shipped as one broadcast) and
        parallel edges merged, checkpointed and materialized by one
        observed count — the next level's directed edge count."""
        sc = self.static.sparkSession.sparkContext
        sc.setJobDescription(f"louvain agg L{level}")
        bc = sc.broadcast(newid)
        try:
            coarse = relabel_edges(self.static, bc).groupBy("src", "dst").agg(F.sum("w").alias("w"))
            dump_plan(coarse, "louvain_coarsen")
            coarse = coarse.localCheckpoint(eager=False)
            ne = observed(coarse, f"louvain L{level} coarsen", F.count(F.lit(1)).alias("ne"))
        finally:
            bc.destroy()
        return _SparkLevel(coarse, int(ne["ne"]), self.npart)


def _driver_levels(
    place, ids, k, labels, level, m, threshold, early_stop_limit, max_levels, local_max, metrics
):
    """The level loop for levels whose vertex state is on the driver,
    from a clean level start: ``place`` holds the level's edges, ``ids``
    its ascending vertex ids and ``k`` their weighted degrees; every id
    indexes the driver arrays. Each level runs :func:`_driver_rounds`,
    then the aggregation phase: dense relabel of the surviving
    communities in id order (phaseAggregation.cuh:19-52), flatten
    (:func:`_flatten`) and ``place.coarsen``. A coarse vertex's degree is
    its community's Σ_tot, and Q carries over unchanged.

    Returns ``(labels, q, n_communities, level, nxt)``. ``nxt`` is None
    when the run is over (converged, or ``max_levels`` reached), else
    ``(edges, ids, k, ne)`` of the next level, handed back to the
    caller's placement decision because its directed edge count ``ne``
    fits ``local_max`` (0: never).
    """
    while True:
        n = int(ids[-1]) + 1
        kv = np.zeros(n)
        kv[ids] = k
        comm, ctot, q_start, q = _driver_rounds(
            place, kv, m, level, threshold, early_stop_limit, metrics
        )
        surviving = np.flatnonzero(ctot > 0)
        n_best = len(surviving)
        newid = np.full(n, -1, dtype=np.int64)
        newid[surviving] = np.arange(n_best, dtype=np.int64)
        newid = newid[comm]
        labels = _flatten(labels, ids, newid[ids])
        if not (q - q_start) > threshold:  # modularityAlgorithms.h:52
            return labels, q, n_best, level, None
        place = place.coarsen(newid, level)
        ids, k = np.arange(n_best, dtype=np.int64), ctot[surviving]
        level += 1
        if max_levels is not None and level >= max_levels:
            return labels, q, n_best, level, None
        if place.ne <= local_max:
            return labels, q, n_best, level, (place.edges, ids, k, place.ne)


def local_louvain(
    src, dst, w, ids, k, labels, level, m, threshold, early_stop_limit, max_levels, metrics
):
    """The in-process placement's entry into the level loop
    (:func:`_driver_levels`): every remaining level runs in this process
    (``louvain_local.InProcessLevel``), from a clean level start. ``src,
    dst, w``: the level's gathered edges; ``ids``/``k``: its ascending
    vertex ids and their weighted degrees. Returns ``(labels, q,
    n_communities, level)`` at the end of the run."""
    n = len(ids)
    if ids[0] != 0 or ids[-1] != n - 1:
        # index the vertices 0..n-1: the driver arrays are sized by the
        # vertex count, whatever the id range
        src, dst = np.searchsorted(ids, src), np.searchsorted(ids, dst)
        labels = _flatten(labels, ids, np.arange(n, dtype=np.int64))
        ids = np.arange(n, dtype=np.int64)
    labels, q, n_best, level, _ = _driver_levels(
        InProcessLevel(src, dst, w), ids, k, labels, level, m, threshold, early_stop_limit,
        max_levels, 0, metrics,
    )
    return labels, q, n_best, level


def _flatten(labels, ids, new):
    """Compose the result labels with one level's vertex map: the vertex
    ``ids[i]`` of the level goes to ``new[i]`` (−1: dropped, its
    community has no weight).

    ``labels`` is None while it is level 0's identity, an ``(orig ids,
    community)`` array pair while every level ran on the driver, else a
    distributed (orig_id, community) table, joined with the map broadcast.
    """
    if isinstance(labels, DataFrame):
        import pyarrow as pa

        keep = new >= 0
        vmap = labels.sparkSession.createDataFrame(
            pa.table({"community": ids[keep], "_final": new[keep]})
        )
        return _flatten_table(labels, F.broadcast(vmap))
    if labels is None:
        orig, lab = ids, new
    else:
        orig, lab = labels[0], new[np.searchsorted(ids, labels[1])]
    keep = lab >= 0
    return orig[keep], lab[keep]


def _flatten_table(labels: DataFrame, vmap: DataFrame) -> DataFrame:
    """The flatten of a distributed ``(orig_id, community)`` table: ONE
    map join with ``vmap`` = (community, _final), the level's vertex ->
    next-level id map (a vertex without an entry is dropped; its
    community has no weight), checkpointed lazily — its first consumer
    materializes it. The caller decides whether ``vmap`` is broadcast."""
    return (
        labels.join(vmap, "community")
        .select("orig_id", F.col("_final").alias("community"))
        .localCheckpoint(eager=False)
    )


def _start_state(est: DataFrame, eager: bool, m: float, name: str):
    """(est, comm_w, q, ne) for the edge state a round loop starts from
    (a level start, or a resumed checkpoint): ``est`` and its Σ_tot
    table are checkpointed (``est`` eagerly or lazily, as the call site
    chooses; Σ_tot lazily), then ONE observed scan gives Q
    (community.h:64 update()) and the directed edge count and
    materializes whichever checkpoint is still lazy."""
    est = est.localCheckpoint(eager=eager)
    comm_w = _comm_weights(est).localCheckpoint(eager=False)
    row = _scalars(est, comm_w, name)
    return est, comm_w, q_from_sums(row["win"], row["s"], m), int(row["ne"])


def _dense_relabel(comms: DataFrame, n_max: int, npart: int):
    """((id, community), n): dense 0-based ranks of the distinct ``id``s
    of ``comms`` in ascending id order (phaseAggregation.cuh:19-52), as
    the labels table :func:`aggregate_graph` takes, and their count.
    ``n_max`` bounds the row count: a table within ``VERTEX_STATE_MAX`` is ranked on the driver (one collect instead of
    a range shuffle); above that, :func:`assign_contiguous_ids` ranks it
    with a range partitioning sized to ``n_max`` rows, and its
    per-partition counts give ``n`` for free."""
    if n_max <= superstep.VERTEX_STATE_MAX:
        import pyarrow as pa

        ids = np.sort(comms.toArrow().column("id").to_numpy())
        table = pa.table({"id": ids, "community": np.arange(len(ids), dtype=np.int64)})
        return comms.sparkSession.createDataFrame(table), len(ids)
    return assign_contiguous_ids(
        comms, ["id"], id_col="community", assume_distinct=True, with_count=True,
        num_partitions=max(1, min(npart, -(-n_max // MIN_ROWS_PER_PARTITION))),
    )


def _apply_moves(
    df: DataFrame, mv: DataFrame, key: str, comm_col: str, moved_col: str | None = None
) -> DataFrame:
    """comm_col := coalesce(move target, comm_col) for rows whose `key` moved (C5);
    ``moved_col``, when given, := whether `key` moved this round.

    ``mv`` is the caller-shared ``(node, _newc)`` projection, pre-wrapped in
    ``F.broadcast`` when the move set fits. All per-round applies join the
    IDENTICAL subplan (a join condition instead of a per-call rename), so
    Spark's exchange reuse builds/ships the move set ONCE per round instead
    of once per apply (guide §2.4: shared exchanges)."""
    out = df.join(mv, F.col(key) == F.col("node"), "left").withColumn(
        comm_col, F.coalesce(F.col("_newc"), F.col(comm_col))
    )
    if moved_col is not None:
        out = out.withColumn(moved_col, F.col("_newc").isNotNull())
    return out.drop("node", "_newc")


def _refine_result(graph: GraphTables, res: LouvainResult, npart: int) -> LouvainResult:
    """C9 refine (the reference's empty stub, phaseRefine.cuh:1-3) as
    Leiden connectivity refinement: split every community into its
    connected parts (operators/refine.py — Q can only rise), dense-
    relabel, and recompute Q/community count over the original graph
    in one observed scan."""
    from .refine import refine_partition

    labels = refine_partition(graph, res.labels)
    rl, _ = _dense_relabel(
        labels.select(F.col("community").alias("id")).distinct(),
        graph.n_nodes, npart,
    )
    labels = (
        labels.withColumnRenamed("community", "id").join(rl, "id")
        .select("orig_id", "community")
        .localCheckpoint(eager=True)
    )
    ls = labels.select(F.col("orig_id").alias("src"), F.col("community").alias("cs"))
    ld = labels.select(F.col("orig_id").alias("dst"), F.col("community").alias("cd"))
    est = (
        graph.edges.join(ls, "src").join(ld, "dst")
        .select(F.col("weight").alias("w"), "cs", "cd")
    )
    ctot = (
        graph.vertices.join(
            labels.select(F.col("orig_id").alias("id"), "community"), "id"
        )
        .groupBy(F.col("community").alias("comm"))
        .agg(F.sum("k").alias("ctot"))
    )
    # every labeled vertex is in graph.vertices, so ctot has one row per
    # community: the scan's row count is the community count
    row = _scalars(est, ctot, "louvain refine")
    q = q_from_sums(row["win"], row["s"], graph.m)
    n = int(row["nc"])
    return LouvainResult(
        labels=labels,
        modularity=q,
        n_communities=n,
        levels=res.levels,
        metrics=res.metrics + [{"refine": True, "q": q, "n_communities": n}],
    )


def round0_moves(graph: GraphTables) -> DataFrame:
    """The first round :func:`louvain` runs, as a standalone,
    oracle-checkable plan: the level-0 edge state and Σ_tot table, then
    the move kernel's ``rnd == 0`` branch — singleton communities, each
    directed edge its own (node, candidate-community) pair with
    self-weight 0 (phaseOptimizationSort.cu:28-158), moves only toward a
    higher id (phaseOptimizationUpdate.cu:99).

    Returns (node: long, newc: long).
    """
    npart = int(graph.edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    est = _level_edge_state(
        graph.edges.select("src", "dst", F.col("weight").alias("w")), npart
    )
    return arrow_round_moves(est, _comm_weights(est), graph.m, 0, npart, broadcast_comm_w=True)


def aggregate_graph(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Coarsen: relabel endpoints through a partition and merge parallel edges.

    The aggregation phase's edge merge A8 (phaseAggregation.cuh:53-104) for
    an arbitrary given partition: every endpoint maps to its community, then
    groupBy(c_src, c_dst).sum(weight). Self-loops are kept — they carry the
    intra-community weight and conserve total weight
    (phaseAggregation.cuh:172).

    ``edges``: (src, dst, weight) directed; ``labels``: (id, community).
    Returns (src, dst, weight) over community ids.

    Both endpoints join the SAME ``labels`` subplan, by a join condition
    rather than a per-endpoint rename, so Spark's exchange reuse builds
    and ships it once: a broadcast-hinted ``labels`` (hint it on the
    table itself) is one broadcast per coarsen.
    """
    return (
        edges.join(labels, F.col("src") == F.col("id"))
        .select(F.col("community").alias("cs"), "dst", "weight")
        .join(labels, F.col("dst") == F.col("id"))
        .groupBy(F.col("cs").alias("src"), F.col("community").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )


def louvain(
    graph: GraphTables,
    threshold: float = MODULARITY_CONVERGED_THRESHOLD,
    early_stop_limit: int = EARLY_STOP_LIMIT,
    checkpointer=None,
    local_finish_max_edges: int = superstep.LOCAL_MAX_EDGES,
    max_levels: int | None = None,
    refine: bool = False,
) -> LouvainResult:
    """Run Louvain to convergence. ``graph`` from sources.edges.build_graph.

    Every round is scored by the one move kernel
    (``louvain_local._round_moves``): on Spark per ``src`` partition in a
    single mapInArrow pass (operators/louvain_arrow.py), or in this process
    on a whole level. ``metrics`` holds one record per round, tagged
    ``"engine": "arrow"`` (Spark) or ``"local"`` (in process).

    ``checkpointer``: optional plans.checkpoint.SuperstepCheckpointer for
    durable per-superstep state + resume.

    ``local_finish_max_edges``: a level whose directed edge count fits
    under this bound, and every level after it, runs in this process:
    the same level loop as the driver-state levels on Spark, with each
    round one call of the NumPy kernel on the whole level and the coarsen
    a NumPy merge — the reference's own whole-graph-in-one-device model,
    for the coarsened levels where a Spark round would pay fixed
    scheduling latency for tiny data. Labels, Q and every round record
    but its ``engine`` and ``sec`` are the same as on Spark. 0 disables.
    Disabled while durable checkpointing is on, so every superstep keeps
    hitting the checkpointer.

    ``max_levels``: stop after this many aggregation phases (None = run
    to convergence; 0 or less raises ValueError), in every placement.
    Labels and Q are those of the partition found so far, and ``levels``
    is ``max_levels + 1`` (it counts the coarse level it stopped at).
    Benchmarking hook — lets a scaling leg measure exactly the level-0
    rounds.

    Vertex-sized state passes through the driver while it fits
    ``plans/superstep.py::VERTEX_STATE_MAX``, the bound the vertex
    programs share (read at call time). While a level's vertex ids lie in
    ``[0, VERTEX_STATE_MAX)`` and no checkpointer is set, the level's
    community, Σ_tot and moved-flag vectors live on the driver and ship
    to the kernel as one broadcast per round (one Spark job a round).
    Above it the state is carried on the edge rows, and the per-round
    move set, the Σ_tot table and the level relabel tables are still
    broadcast while they fit; an apply that does not fit shuffles, and
    the edge state is repartitioned on ``src`` before the next round.

    ``refine``: run the C9 refine phase on the final labels — the
    reference declares it but ships an empty stub (phaseRefine.cuh:1-3);
    here it is Leiden's connectivity guarantee (operators/refine.py):
    every output community is split into its connected parts, which can
    only raise Q. Off by default to preserve exact reference semantics.
    """
    spark = graph.edges.sparkSession
    m = graph.m
    if m <= 0:
        raise ValueError("empty graph")
    if max_levels is not None and max_levels < 1:
        raise ValueError(f"max_levels must be at least 1, got {max_levels}")
    bound = superstep.VERTEX_STATE_MAX
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    level = 0
    metrics: list[dict] = []
    # the level about to start: its (src, dst, w) edges and a bound on its
    # vertex-id range; ``ids``/``k`` once they are known on the driver,
    # ``level_ne`` once counted. ``est`` is set instead while levels run
    # edge-carried.
    edges = graph.edges.select("src", "dst", F.col("weight").alias("w"))
    n_range = graph.n_nodes
    ids = k = est = level_ne = None
    # the result labels: None while they are level 0's identity, a driver
    # array pair or a distributed table after that (see _flatten)
    labels = None

    # --- resume path (mid-iteration, north rule) --------------------------
    # round-to-round community state lives on the edge rows (cs/cd/dm) and
    # in the Σ_tot table ``comm_w``; ``cur_n`` is the level's vertex count
    state = checkpointer.load_latest(spark) if checkpointer is not None else None
    if state is not None:
        labels, level, q, cur_n = state.labels, state.level, state.q, state.n_vertices
        # the saved edge state carries the frontier in its ``dm`` column.
        # The scan's Q is dropped: the run goes on with the Q the original
        # run carried
        est, comm_w, _, level_ne = _start_state(
            state.edges_state.repartition(npart, "src"), True, m, f"louvain L{level} resume"
        )
        labels = labels.localCheckpoint(eager=True)

    # the in-process placement is only entered at a clean level start
    # (identity comms), which never follows a resume: it is off while
    # durable checkpointing is on. 0 never fits: every level has an edge
    local_max = local_finish_max_edges if checkpointer is None else 0
    if local_max > 0 and n_range > bound:
        # level 0 above the bound: count its edges first, as
        # plans/superstep.py::placement does, so that only a level that
        # fits in this process is gathered
        level_ne = edges.count()

    n_best = None
    while True:
        if est is None and checkpointer is None:
            # ========= a clean level start, its edges on Spark: place it ==
            fits = level_ne is not None and level_ne <= local_max
            if ids is None and (fits or n_range <= bound):
                ids, k, level_ne = _vertex_degrees(edges)
                fits = level_ne <= local_max
            if fits:
                # every remaining level in this process
                t = edges.toArrow()
                labels, q, n_best, level = local_louvain(
                    *(t.column(c).to_numpy() for c in ("src", "dst", "w")), ids, k, labels,
                    level, m, threshold, early_stop_limit, max_levels, metrics,
                )
                break
            if ids is not None and ids[0] >= 0 and ids[-1] < bound:
                # vertex state on the driver, edges on Spark, until a coarse
                # level fits in this process. AQE off, as for the vertex
                # programs' driver state: the lazy checkpoints of the static
                # and the coarse edges then build inside the job that reads
                # them instead of running their map stage as a job of its own
                with superstep.vertex_state_scope(spark):
                    labels, q, n_best, level, nxt = _driver_levels(
                        _SparkLevel(edges, level_ne, npart), ids, k, labels, level, m,
                        threshold, early_stop_limit, max_levels, local_max, metrics,
                    )
                if nxt is None:
                    break
                edges, ids, k, level_ne = nxt
                continue
        if est is None:
            # level 0 above the bound, with ids outside [0, bound) or under
            # a checkpointer: the edge-carried state (community.h:31-46:
            # identity labels, k as Σ_tot)
            labels = graph.vertices.select(
                F.col("id").alias("orig_id"), F.col("id").alias("community")
            )
            cur_n = graph.n_nodes
            est, comm_w, q, level_ne = _start_state(
                _level_edge_state(edges, npart), True, m, f"louvain L{level} init"
            )

        if state is None:
            rnd, done, q_level_start = 0, False, q
        else:
            # resumed after the saved round (−1: its level's start), whose
            # saved stop test says if the level's rounds are over, as
            # plans/superstep.py::supersteps resumes the vertex programs
            rnd, done, q_level_start = (
                state.round + 1, bool(state.metric.get("done")), state.q_level_start
            )
            state = None
        # scale-adaptive per-level parallelism (guide §2.2/§2.4): shuffle
        # width derives from THIS level's edge count instead of a global
        # constant — coarsened tail levels (a few thousand edges) collapse
        # to 1-2 partitions so every per-round stage is one task instead
        # of npart near-empty ones, while any level with real data keeps
        # the configured width (the min() can only shrink, never widen).
        # Bit-safe: every float sum in the loop is integer-valued, so
        # partition layout cannot change results.
        level_npart = _level_width(level_ne, npart)
        # community-table row count, tracked round-to-round (free: counted
        # inside the round's action) — drives the Σ_tot broadcast decision;
        # at level start communities are singletons so it is at most cur_n
        n_cw = cur_n
        # ================= optimization phase (one level) =================
        # broadcast-size estimate for the move set: round 0 can move every
        # vertex, later rounds shrink fast — track the previous round's
        # actual n_moves (known for free from the round's action) instead
        # of pinning the estimate to the level's vertex count, which forced
        # a shuffle join for every _apply_moves on levels above the
        # threshold even when late-round move sets were tiny
        est_moves = cur_n
        while not done:
            t0 = time.time()
            spark.sparkContext.setJobDescription(f"louvain L{level} R{rnd}")
            q_old = q
            moves = plan = arrow_round_moves(
                est, comm_w, m, rnd, level_npart,
                broadcast_comm_w=n_cw <= bound,
            )
            # the kernel runs exactly once per round (the two applies below
            # would otherwise each recompute it). The broadcast decision
            # uses the previous round's move count (vertex count on round
            # 0) as the estimate since this round's isn't known yet.
            bcast = est_moves <= bound
            if bcast:
                # a move set small enough to broadcast passes through the
                # driver anyway: collect it in the kernel's one job, count
                # it there, and hand the planner an exact-size local table
                # (size estimates carried by checkpoints compound round
                # over round and stall the planner)
                tbl = moves.toArrow()
                n_moves = tbl.num_rows
                moves = spark.createDataFrame(tbl) if n_moves else None
            else:
                moves = moves.persist()
                n_moves = int(
                    observed(moves, f"louvain L{level} R{rnd} moves",
                             F.count(F.lit(1)).alias("n"))["n"]
                )
            if rnd <= 1:
                # dumped once the kernel ran: AQE's final plan
                dump_plan(plan, f"superstep_louvain_round{rnd}")
            if n_moves > 0:
                mv = moves.select("node", F.col("newc").alias("_newc"))
                if bcast:
                    mv = F.broadcast(mv)
                # the dst apply also sets dm — the next round's frontier
                # rides on the edge state instead of a separate shuffled table
                new_est = _apply_moves(est, mv, "src", "cs")
                new_est = _apply_moves(new_est, mv, "dst", "cd", moved_col="dm")
                if not bcast:
                    # the shuffle joins broke src-colocation; the kernel
                    # needs the CSR-block invariant back
                    new_est = new_est.repartition(level_npart, "src")
                est = new_est.localCheckpoint(eager=False)
                # checkpointed so next round's Σ_tot broadcast reads the
                # cached rows instead of re-running the groupBy exchange
                comm_w = _comm_weights(est).localCheckpoint(eager=False)
                # ONE observed scan returns W_in and ΣΣ_tot² and
                # materializes both lazy checkpoints above
                fused = _scalars(est, comm_w, f"louvain L{level} R{rnd}")
                est_moves = n_moves
                n_cw = int(fused["nc"])
                q = q_from_sums(fused["win"], fused["s"], m)
            if not bcast:
                moves.unpersist()
            dq = q - q_old
            metrics.append(_round_record(level, rnd, n_moves, q, dq, time.time() - t0))
            done = bool(n_moves == 0 or dq <= threshold or rnd + 1 > early_stop_limit)
            if checkpointer is not None:
                # ``done`` is saved for the resume, not put in the records
                checkpointer.save(
                    level, rnd, est, labels, q, q_level_start, cur_n, {**metrics[-1], "done": done}
                )
            rnd += 1

        # ================= aggregation phase ==============================
        spark.sparkContext.setJobDescription(f"louvain agg L{level}")
        continue_opt = (q - q_level_start) > threshold  # modularityAlgorithms.h:52
        # comm_w is maintained round-to-round (checkpointed inside each
        # round's action) and is exactly Σ_tot of the current partition on
        # every path here — re-deriving it would be one wasted exchange +
        # aggregate per level (guide §2.4: don't recompute what is already
        # partitioned/materialized)
        # the surviving communities are a groupBy output (already
        # distinct); the relabel counts them for free. The flatten map and
        # both endpoints of the coarse merge join it, broadcast if it fits
        relabel, n_best = _dense_relabel(
            comm_w.filter(F.col("ctot") > 0).select(F.col("comm").alias("id")), n_cw, npart
        )
        if n_best <= bound:
            relabel = F.broadcast(relabel)
        # flatten labels (P9 / community.h:48-55): the map is the vertex ->
        # community map read off the edge state (every vertex with an edge
        # is a src there; isolated vertices own Σ_tot = 0 singletons, which
        # the relabel drops anyway) joined with the relabel. It has cur_n
        # rows, broadcast when that fits — at every level past 0 a
        # community count — so the 10^9-row labels table is never shuffled
        # by the flatten (guide §3.1).
        vmap = (
            est.groupBy("src").agg(F.max("cs").alias("id"))
            .join(relabel, "id")
            .select(F.col("src").alias("community"), F.col("community").alias("_final"))
        )
        if cur_n <= bound:
            vmap = F.broadcast(vmap)
        labels = _flatten_table(labels, vmap)
        cur_n = n_best  # community-table size for next level's broadcast choice

        if not continue_opt:
            break
        level += 1
        if max_levels is not None and level >= max_levels:
            # benchmarking hook: stop after N levels (labels reflect the
            # partition found so far; Q is exact for that partition),
            # before the coarse merge is built: nothing would read it
            break

        # coarsen (A8) by the one edge merge, checkpointed FIRST so est /
        # comm_w both derive from the cached merge instead of re-running the
        # two joins + groupBy per consumer
        merge = aggregate_graph(
            est.select(F.col("cs").alias("src"), F.col("cd").alias("dst"), F.col("w").alias("weight")),
            relabel,
        ).withColumnRenamed("weight", "w")
        coarse = merge.localCheckpoint(eager=False)
        # materialize the merge with an observed count (the job an eager
        # checkpoint would have run anyway, but keeping the number): the
        # count IS the next level's edge count, which sizes that level's
        # adaptive width
        level_ne = int(
            observed(coarse, f"louvain L{level - 1} coarsen", F.count(F.lit(1)).alias("ne"))["ne"]
        )
        # dumped once it ran: AQE's final plan, which shows the relabel's
        # broadcast reused by the second endpoint join
        dump_plan(merge, "louvain_coarsen")
        if checkpointer is None and (n_best <= bound or level_ne <= local_max):
            # the coarse level's state fits the driver: back to the
            # placement decision, with the Q this level ended on
            # (coarsening conserves it)
            edges, n_range, est, ids = coarse, n_best, None, None
            continue
        # no scan of the fresh level: its edge count is the level_ne
        # observed above, and Q carries over (coarsening conserves it; every
        # sum is integer-valued). Its first round materializes both lazy
        # checkpoints
        est = _level_edge_state(coarse, _level_width(level_ne, npart)).localCheckpoint(
            eager=False
        )
        comm_w = _comm_weights(est).localCheckpoint(eager=False)
        if checkpointer is not None:
            checkpointer.save(
                level, -1, est, labels, q, q, cur_n, {"level": level, "round": -1, "q": q}
            )

    if not isinstance(labels, DataFrame):
        import pyarrow as pa

        labels = spark.createDataFrame(pa.table({"orig_id": labels[0], "community": labels[1]}))
    res = LouvainResult(
        labels=labels,
        modularity=q,
        n_communities=int(n_best),
        levels=level + 1,
        metrics=metrics,
    )
    return _refine_result(graph, res, npart) if refine else res
