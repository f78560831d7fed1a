"""Weighted PageRank over the directed-symmetric edge table.

Not in the CUDA reference (SURVEY.md §2.11 — mandated by the north rule);
semantics from the published algorithm. rank' = (1−α)/n + α·Σ_in
share·rank with the static per-edge share = w/k_src, and convergence on
the L1 change. The update rule is one NumPy function,
:func:`_rank_rounds`, in both driver placements
(plans/superstep.py): the local tail sums the in-shares over the edges
in NumPy; while the vertex count fits ``VERTEX_STATE_MAX`` the ranks stay
on the driver and each superstep is one broadcast of them joined onto the
static ``(src, dst, share)`` table (``dst``-partitioned, so the per-``dst``
sum needs no exchange) plus that sum, read back with ``toArrow()``.

Above the bound and under a checkpointer, one superstep is a single
shuffle: contributions = edges ⋈ ranks on src, then groupBy(dst).sum,
with a lazy per-superstep checkpoint and one L1 action
(plans/superstep.py::supersteps).

The symmetric graph has no dangling vertices (every vertex has out-edges),
so no dangling redistribution term is needed — asserted by construction in
sources.edges.build_graph.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import (
    broadcast_gather,
    edge_arrays,
    placement,
    supersteps,
    vertex_state_scope,
)
from ..sources.edges import GraphTables


def _rank_rounds(n: int, gather, alpha: float, max_iter: int, tol: float) -> np.ndarray:
    """PageRank's supersteps on driver arrays: ``gather(it, rank)`` gives
    every vertex's in-sum Σ share·rank (0.0 with no in-edge); the new rank
    is ``base + α·insum``, and the run stops once the L1 change, summed in
    NumPy, is under ``tol``."""
    rank = np.full(n, 1.0 / n)
    base = (1.0 - alpha) / n
    for it in range(max_iter):
        new_rank = base + alpha * gather(it, rank)
        l1 = float(np.abs(new_rank - rank).sum())
        rank = new_rank
        if l1 < tol:
            break
    return rank


def _local_pagerank(graph: GraphTables, ids, k, alpha: float, max_iter: int, tol: float):
    """Driver-local tail: the in-sums gathered over the edges in NumPy.

    Same iteration count and L1 stopping rule as the Spark placements;
    ranks agree to summation-order noise (~1e-15, far inside the 1e-6
    correctness target).
    """
    src, dst, w = edge_arrays(graph, ids)
    share = w / k[src]
    n = len(ids)

    def gather(_it, rank):
        insum = np.zeros(n)
        np.add.at(insum, dst, share * rank[src])
        return insum

    return _rank_rounds(n, gather, alpha, max_iter, tol)


def _driver_pagerank(graph: GraphTables, ids, alpha: float, max_iter: int, tol: float, npart: int):
    """Ranks on the driver: each superstep's in-sums come from one Spark
    aggregate, Σ share·rank by ``dst`` over the static share table."""
    spark = graph.edges.sparkSession
    n = len(ids)
    with vertex_state_scope(spark):
        shares = _shares(graph, npart, "dst", eager=False)
        spark_gather = broadcast_gather(
            spark, "pagerank", ids, "src",
            lambda ranks: shares.join(ranks, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("share") * F.col("rank")).alias("insum")),
        )

        def gather(it, rank):
            idx, t = spark_gather(it, rank=rank)
            insum = np.zeros(n)
            insum[idx] = t.column("insum").to_numpy()
            return insum

        return _rank_rounds(n, gather, alpha, max_iter, tol)


def _shares(graph: GraphTables, npart: int, by: str = "src", eager: bool = True) -> DataFrame:
    """share_(src->dst) = w / k_src: static per edge, so built once and
    checkpointed, partitioned on ``by`` (the superstep's join or
    aggregate key)."""
    return (
        graph.edges.join(
            graph.vertices.select(F.col("id").alias("src"), F.col("k").alias("k_src")), "src"
        )
        .select("src", "dst", (F.col("weight") / F.col("k_src")).alias("share"))
        .repartition(npart, by)
        .localCheckpoint(eager=eager)
    )


def _step(shares: DataFrame, state: DataFrame, carry: list[str], rank) -> DataFrame:
    """One PageRank superstep: state (id, rank, *carry) -> (id, *carry,
    rank, old), with ``rank(in_sum)`` the new rank from the summed
    contributions (0.0 for a vertex nothing points at).

    Superstep shape (guide §2.4 — two exchanges, down from five): one
    null-term SELF ROW per vertex rides into the contribution aggregate
    (null contributes nothing to sum(term); max(old) picks the group's
    single self row), which guarantees every vertex a group — including
    isolated k=0 vertices, which keep rank = base exactly as the old
    left join's coalesce gave them — so the per-iteration join against
    the vertex table is gone, and the L1 convergence check is a scalar
    aggregate over the new state instead of a join of consecutive rank
    tables. The ``carry`` columns (the restart vector, the out-degree)
    ride the self rows the same way. Values are unchanged: identical
    per-row float64 ops, and in_sum never sees the self rows (null, not
    0.0).
    """
    types = dict(state.dtypes)
    terms = shares.join(state.select(F.col("id").alias("src"), "rank"), "src").select(
        F.col("dst").alias("id"),
        (F.col("share") * F.col("rank")).alias("term"),
        F.lit(None).cast("double").alias("old"),
        *[F.lit(None).cast(types[c]).alias(c) for c in carry],
    )
    selfrows = state.select(
        "id", F.lit(None).cast("double").alias("term"), F.col("rank").alias("old"), *carry
    )
    return (
        terms.unionByName(selfrows)
        .groupBy("id")
        .agg(
            F.sum("term").alias("in_sum"),
            F.max("old").alias("old"),
            *[F.max(c).alias(c) for c in carry],
        )
        .select("id", *carry, rank(F.coalesce(F.col("in_sum"), F.lit(0.0))).alias("rank"), "old")
    )


def _l1(state: DataFrame, _job: str) -> dict:
    """The superstep's one action: Σ|rank − old| as a partial+final
    aggregate. Not ``observed``: that merges partition sums in
    task-completion order, so the float stop test could move by an ulp."""
    d = state.agg(F.sum(F.abs(F.col("rank") - F.col("old"))).alias("d")).collect()[0]["d"]
    return {"l1": float(d) if d is not None else None}


def personalized_pagerank(
    graph: GraphTables,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    tol: float = 0.0,
) -> DataFrame:
    """Topic-sensitive PageRank: restart mass concentrated on ``seeds``
    (one column ``id``) instead of uniform. Returns (id, rank); Σ = 1.

    rank' = (1−α)·p + α·Σ_in share·rank, with p_i = 1/|seeds| on seeds
    and 0 elsewhere; ranks initialize to p (the standard PPR
    convention). A separate function — not a ``pagerank`` parameter —
    so the uniform loop's expression tree (pinned bit-exactly by the
    pagerank_fixed20 oracle) is untouched.

    Same superstep shape and scale properties as :func:`pagerank`: the
    static share table is built once, each iteration is one shuffle
    join + groupBy, lineage truncated per round. Non-seed vertices
    unreachable from any seed keep rank exactly 0 via their self row's
    coalesce, without a dense vector. tol=0 (default) runs
    exactly ``max_iter`` supersteps — the deterministic fixed-iteration
    contract the cross-engine oracle checks; a positive tol enables the
    same L1 early stop as :func:`pagerank`.
    """
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    n_seeds = seeds.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    p0 = 1.0 / n_seeds
    pvec = (
        graph.vertices.select("id")
        .join(seeds.select("id").withColumn("p", F.lit(p0)), "id", "left")
        .select("id", F.coalesce("p", F.lit(0.0)).alias("p"))
    )
    shares = _shares(graph, npart)

    def rank(in_sum):
        return F.lit(1.0 - alpha) * F.col("p") + F.lit(alpha) * in_sum

    # state (id, p, rank): the restart vector rides in the state so the
    # superstep needs no join against pvec. The L1 action doubles as the
    # per-round materialization point, so it runs even when tol=0
    state, _, _ = supersteps(
        "ppr", pvec.select("id", "p", F.col("p").alias("rank")),
        lambda state, _metric: _step(shares, state, ["p"], rank), _l1,
        lambda m, _prev: tol > 0.0 and m["l1"] is not None and m["l1"] < tol,
        max_iter,
    )
    return state.select("id", "rank")


def pagerank(
    graph: GraphTables,
    alpha: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-10,
    local_max_edges: int = 5_000_000,
    checkpointer=None,
) -> DataFrame:
    """Returns (id: long, rank: double); Σ rank = 1.

    ``local_max_edges``: below this directed-edge count the iteration
    runs in the driver (ranks equal to ~1e-15); 0 = never. Otherwise,
    while the vertex count fits ``VERTEX_STATE_MAX``, the ranks stay on the
    driver and each superstep is one Spark aggregate; above it they are a
    DataFrame.

    ``checkpointer``: optional plans.checkpoint.VertexIterationCheckpointer
    — every superstep durably saves the rank table + L1 metric, and a
    fresh call resumes from the latest committed iteration (north rule:
    resumable mid-iteration). Forces the DataFrame loop.
    """
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    placed = placement(graph, local_max_edges, checkpointer, with_k=True)
    if placed is not None:
        import pyarrow as pa

        ids, k, local = placed
        rank = (
            _local_pagerank(graph, ids, k, alpha, max_iter, tol) if local
            else _driver_pagerank(graph, ids, alpha, max_iter, tol, npart)
        )
        return spark.createDataFrame(pa.table({"id": ids, "rank": rank}))
    n = graph.vertices.count()
    shares = _shares(graph, npart)
    base = (1.0 - alpha) / n
    ranks, _, _ = supersteps(
        "pagerank", graph.vertices.select("id", F.lit(1.0 / n).alias("rank")),
        lambda ranks, _metric: _step(
            shares, ranks, [], lambda in_sum: F.lit(base) + F.lit(alpha) * in_sum
        ),
        _l1, lambda m, _prev: m["l1"] is not None and m["l1"] < tol,
        max_iter, checkpointer,
    )
    return ranks.select("id", "rank")


def directed_pagerank(
    raw_pairs: DataFrame, alpha: float = 0.85, max_iter: int = 20
) -> DataFrame:
    """(id, rank_r9) — PageRank over the DIRECTED distinct link graph
    (pre-canonicalization raw pairs ``a -> b``), with dangling-vertex
    mass redistributed uniformly each superstep — the web-graph
    formulation, complementing :func:`pagerank`'s symmetric form (which
    has no dangling vertices by construction). On the transcript graph
    direction matters: conv-final turns with no outgoing link are
    genuine dangling vertices.

    Fixed-iteration contract (tol-free) so the cross-engine unrolled
    oracle pins every superstep; ranks are rounded r9 at the END only,
    like pagerank_fixed20 (summation-order noise ~1e-16/round).

    Scale: the share table (1/outdeg per distinct link) is built once;
    each superstep is ONE shuffle join + groupBy plus a single scalar
    action that doubles as the round's materialization point: the
    dangling-mass sum over the od=0 slice of the freshly built ranks,
    which seeds the next superstep (plans/superstep.py).
    Vertices are link endpoints; isolated turns never enter the graph.
    """
    d = (
        raw_pairs.select("a", "b")
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        d.select(F.col("a").alias("id"))
        .unionByName(d.select(F.col("b").alias("id")))
        .distinct()
    )
    outdeg = d.groupBy(F.col("a").alias("id")).agg(F.count("*").alias("od"))
    vstate = (
        verts.join(outdeg, "id", "left")
        .select("id", F.coalesce("od", F.lit(0)).alias("od"))
        .localCheckpoint(eager=True)
    )
    n = vstate.count()
    nf = float(n)
    shares = (
        d.join(vstate.select(F.col("id").alias("a"), "od"), "a")
        .select(
            F.col("a").alias("src"), F.col("b").alias("dst"),
            (F.lit(1.0) / F.col("od").cast("double")).alias("share"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = vstate.select("id", "od", (F.lit(1.0) / F.lit(nf)).alias("rank"))

    # dangling mass summed (not multiplied out) so the oracle's SQL sum
    # sees the same accumulation semantics from round 0 onward
    def dangling(ranks, _job=None):
        return {"dang": ranks.filter(F.col("od") == 0).agg(F.sum("rank")).collect()[0][0] or 0.0}

    # the out-degree rides the self rows, so the per-round left join
    # against vstate is gone
    def step(ranks, metric):
        return _step(shares, ranks, ["od"], lambda in_sum: (
            F.lit(1.0 - alpha) / F.lit(nf)
            + F.lit(alpha) * (in_sum + F.lit(float(metric["dang"])) / F.lit(nf))
        ))

    ranks, _, _ = supersteps(
        "pagerank_directed", ranks, step, dangling, lambda _m, _prev: False, max_iter,
        metric=dangling(ranks),
    )
    return ranks.select("id", F.round("rank", 9).alias("rank_r9"))


def ppr_sweep_cut(
    graph: GraphTables,
    seeds: DataFrame,
    alpha: float = 0.85,
    max_iter: int = 20,
    max_prefix: int = 256,
) -> DataFrame:
    """(k, id, vol, cut, conductance_r9, is_best) — the Andersen-Chung-
    Lang local-community sweep cut over personalized PageRank: order
    vertices by PPR score, then for every prefix of the top
    ``max_prefix`` compute its volume (sum of degrees), cut (edges
    leaving the prefix) and conductance cut/min(vol, 2m - vol); the
    minimum-conductance prefix (ties -> smallest) is the local
    community around the seed set and is flagged ``is_best``.

    Determinism: ordering is (r9-rounded rank DESC, id ASC) — the same
    rounding contract as the PPR oracle, so both engines walk the
    identical prefix sequence; vol/cut are exact int64 window cumsums
    (internal edges counted once via the max-endpoint-position trick:
    a half-edge is inside prefix k iff max(pos_u, pos_v) <= k), and
    conductance is one exact-int division, r9-rounded.

    Scale: the PPR loop is the dominant cost (one shuffle join per
    superstep, see :func:`personalized_pagerank`); the sweep itself
    touches only the top ``max_prefix`` vertices and their incident
    edges — the global window runs over <= max_prefix rows, never the
    full graph. Zero conductance-eligible prefixes (isolated seeds)
    yield NULL conductance and sort last for the argmin.
    """
    from pyspark.sql import Window

    pr = personalized_pagerank(graph, seeds, alpha=alpha, max_iter=max_iter, tol=0.0)
    # top-k via orderBy().limit() — Spark plans this as TakeOrderedAnd-
    # Project (per-partition heaps + driver merge), NOT a global sort;
    # the rank-assignment window then runs over <= max_prefix rows only
    ranked = (
        pr.select("id", F.round("rank", 9).alias("r9"))
        .filter(F.col("r9") > 0)
        .orderBy(F.desc("r9"), F.asc("id"))
        .limit(max_prefix)
        .withColumn(
            "k",
            F.row_number().over(Window.orderBy(F.desc("r9"), F.asc("id"))),
        )
        .localCheckpoint(eager=True)
    )
    cdeg = graph.edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("d")
    )
    two_e = graph.edges.agg(F.count("*").alias("two_e"))
    # half-edges fully inside the prefix universe, keyed by the LATER
    # endpoint position — cumulative count = internal(k)
    half = graph.edges.filter(F.col("src") < F.col("dst"))
    pos_s = ranked.select(F.col("id").alias("src"), F.col("k").alias("ks"))
    pos_d = ranked.select(F.col("id").alias("dst"), F.col("k").alias("kd"))
    mrc = (
        half.join(pos_s, "src")
        .join(pos_d, "dst")
        .select(F.greatest("ks", "kd").alias("mr"))
        .groupBy("mr")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("k")
    swept = (
        ranked.join(cdeg, "id", "left")
        .join(mrc, ranked["k"] == mrc["mr"], "left")
        .select(
            "k",
            "id",
            F.coalesce("d", F.lit(0)).alias("d"),
            F.coalesce("c", F.lit(0)).alias("c"),
        )
        .withColumn("vol", F.sum("d").over(w))
        .withColumn("internal", F.sum("c").over(w))
        .crossJoin(F.broadcast(two_e))
        .select(
            "k",
            "id",
            F.col("vol").cast("long").alias("vol"),
            (F.col("vol") - 2 * F.col("internal")).cast("long").alias("cut"),
            F.least(F.col("vol"), F.col("two_e") - F.col("vol")).alias("denom"),
        )
    )
    cond = F.when(
        F.col("denom") > 0, F.round(F.col("cut") / F.col("denom"), 9)
    )
    wbest = Window.orderBy(
        F.asc_nulls_last("conductance_r9"), F.asc("k")
    )
    return (
        swept.select("k", "id", "vol", "cut", cond.alias("conductance_r9"))
        .withColumn("is_best", F.row_number().over(wbest) == 1)
    )
