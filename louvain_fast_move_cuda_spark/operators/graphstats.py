"""Link-graph descriptive statistics: local clustering coefficient,
degree assortativity, k-core decomposition, degree histogram, and
Adamic-Adar / common-neighbors link prediction.

None of these exist in the CUDA reference (it is Louvain-only,
/root/reference/main.cu); they extend the same §2.11 analytics surface
as PageRank/CC/LPA/triangles, reusing the canonical symmetric edge
table (sources/edges.py::GraphTables).

Scale notes (the part that matters at 10^12 edges):

* ``clustering_coefficient`` reuses the degree-ordered wedge join from
  triangles.py — out-degree bounded by O(sqrt(m)) per vertex, so the
  wedge join never explodes on power-law hubs.
* ``adamic_adar`` is the textbook wedge-join scorer, which is O(sum
  deg(w)^2) over apex vertices w — quadratic in hub degree. The
  ``max_apex_degree`` cap (default 64) is therefore a *semantic*
  parameter, not an optimization: hubs contribute ~1/log(d) ~ 0 per
  wedge anyway, and every serious link-prediction system drops them.
  The oracle mirrors the cap exactly.
* ``k_core`` peels iteratively with one degree-agg per round over the
  shrinking survivor set; each round localCheckpoints to truncate
  lineage. Rounds are idempotent at the fixpoint, so a fixed-round
  unrolled SQL oracle equals the early-stopped Spark run whenever both
  reach the fixpoint within the cap.
* ``assortativity`` / ``degree_histogram`` are single aggregates.

Float determinism for oracles: degrees are integer-valued doubles, so
sums of their products are exact (every partial sum is an integer
below 2^53) regardless of association order; only final divisions /
logs are rounded (9 decimals) where the expression trees differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.edges import GraphTables
from .triangles import oriented_triangles, triangles_per_vertex


def degree_histogram(graph: GraphTables) -> DataFrame:
    """(degree: long, n_vertices: long) — unweighted degree distribution."""
    deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
    deg = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_vertices"))


def clustering_coefficient(graph: GraphTables) -> DataFrame:
    """(id, triangles: long, degree: long, lcc: double).

    lcc = 2*T / (d*(d-1)), 0 where d < 2. Both factors are
    integer-valued, so the division is bit-reproducible across engines.
    """
    tri = triangles_per_vertex(graph)
    deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
    d = F.col("degree").cast("double")
    return (
        tri.join(deg, "id", "left")
        .select(
            "id",
            "triangles",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.when(
                F.coalesce("degree", F.lit(0)) >= 2,
                F.lit(2.0) * F.col("triangles").cast("double") / (d * (d - F.lit(1.0))),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def assortativity(graph: GraphTables) -> DataFrame:
    """One row (assortativity: double) — Newman's degree assortativity r.

    Pearson correlation of (deg(src), deg(dst)) over the directed
    symmetric edge list:

        r = (M*Sxy - Sx*Sy) / sqrt((M*Sxx - Sx^2) * (M*Syy - Sy^2))

    All five sums are sums of integer-valued doubles (exact under any
    association order), so only the final expression is rounded.
    """
    deg = graph.edges.groupBy(F.col("src").alias("v")).agg(
        F.count("*").cast("double").alias("d")
    )
    e = (
        graph.edges.select("src", "dst")
        .join(deg.select(F.col("v").alias("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dy")), "dst")
    )
    agg = e.agg(
        F.count("*").cast("double").alias("m"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    m, sxy, sx, sy, sxx, syy = (F.col(c) for c in ["m", "sxy", "sx", "sy", "sxx", "syy"])
    r = (m * sxy - sx * sy) / F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
    return agg.select(F.round(r, 9).alias("assortativity_r9"))


def k_core(
    graph: GraphTables,
    k: int = 2,
    max_rounds: int = 30,
    on_truncate: str = "raise",
    checkpointer=None,
) -> DataFrame:
    """(id, core_degree: long) — vertices of the k-core (the maximal
    subgraph where every vertex has degree >= k within it) with their
    degree inside the core.

    Iterative peeling: drop vertices with degree < k, recompute degrees
    within the survivor set, repeat until a fixpoint (early stop) or
    ``max_rounds``. Peeling is monotone — once the fixpoint is reached,
    further rounds are identity — so a fixed-round oracle matches any
    early-stopped run that converged within the cap.

    ``on_truncate``: peeling can need up to n rounds on adversarial
    inputs (a path graph peels one layer per round), so a run that
    exhausts ``max_rounds`` without reaching the fixpoint would silently
    return a SUPERSET of the k-core. ``"raise"`` (default) turns that
    into a RuntimeError; ``"ignore"`` returns the truncated peel (valid
    when the caller mirrors the same fixed round count, e.g. the
    unrolled-SQL oracle).
    """
    if on_truncate not in ("raise", "ignore"):
        raise ValueError(f"on_truncate must be 'raise' or 'ignore', got {on_truncate!r}")
    edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    prev_n = None
    converged = False
    start_round = 0
    # the peel state is exactly the survivor edge set (CC's contracted-
    # edges pattern): a resumed run replays the identical monotone peel
    if checkpointer is not None:
        state = checkpointer.load_latest(graph.edges.sparkSession)
        if state is not None:
            it, saved, metric = state
            edges = saved.localCheckpoint(eager=True)
            start_round = it + 1
            prev_n = metric.get("n_keep")
            converged = bool(metric.get("converged"))
    for _rnd in range(start_round, max_rounds):
        if converged:
            break
        deg = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") >= k).select("v").localCheckpoint(eager=True)
        n = keep.count()
        if prev_n is not None and n == prev_n:
            converged = True
            if checkpointer is not None:
                checkpointer.save(_rnd, edges, {"n_keep": n, "converged": True})
            break
        prev_n = n
        edges = (
            edges.join(keep.select(F.col("v").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("v").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        if checkpointer is not None:
            checkpointer.save(_rnd, edges, {"n_keep": n, "converged": False})
    if not converged and on_truncate == "raise":
        # a peel can hit its fixpoint exactly at max_rounds with no spare
        # round to observe the repeat; one extra O(1)-result count settles
        # whether the last filter actually removed anything before raising
        deg = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        converged = deg.filter(F.col("d") >= k).count() == prev_n
    if not converged and on_truncate == "raise":
        raise RuntimeError(
            f"k_core did not reach its fixpoint within max_rounds={max_rounds}; "
            "the result would be a superset of the k-core. Raise max_rounds, or "
            "pass on_truncate='ignore' to accept the truncated peel."
        )
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("core_degree"))


def _apex_degrees(graph: GraphTables) -> DataFrame:
    """(w, dw): every vertex's degree, the apex side of a wedge."""
    return graph.edges.groupBy(F.col("src").alias("w")).agg(F.count("*").alias("dw"))


def _open_wedges(graph: GraphTables, max_apex_degree: int) -> tuple[DataFrame, DataFrame]:
    """``(deg, wedges)`` of the capped link predictors: the degree table
    (w, dw) and one (u, v, dw) row per apex w with 2 <= dw <=
    ``max_apex_degree`` and neighbours u < v that are not adjacent."""
    deg = _apex_degrees(graph)
    apex_ok = deg.filter((F.col("dw") >= 2) & (F.col("dw") <= max_apex_degree))
    nbrs = graph.edges.select(F.col("src").alias("w"), F.col("dst").alias("n")).join(
        apex_ok, "w"
    )
    wedges = (
        nbrs.alias("l")
        .join(nbrs.alias("r"), ["w", "dw"])
        .filter(F.col("l.n") < F.col("r.n"))
        .select(F.col("l.n").alias("u"), F.col("r.n").alias("v"), "dw")
    )
    canon = graph.edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return deg, wedges.join(canon, ["u", "v"], "left_anti")


def adamic_adar(
    graph: GraphTables, max_apex_degree: int = 64, min_common: int = 1
) -> DataFrame:
    """(u, v, common_neighbors: long, aa_r9: double, apex_cap: int) for
    NON-adjacent pairs u < v at distance 2, scored by Adamic-Adar
    sum_w 1/ln(deg(w)) over shared neighbors w.

    Apexes with deg < 2 span no wedge; apexes with deg >
    ``max_apex_degree`` are excluded by definition (see module
    docstring — this is the semantic hub cap that keeps the wedge join
    O(cap^2) per apex instead of O(hub^2)). Because the cap changes the
    scores, it is SURFACED: every row carries ``apex_cap``, and
    :func:`adamic_adar_excluded_hubs` lists exactly which apexes the cap
    removed — a 100x-scale caller can see what the numbers mean without
    reading the job's config (the k-core truncation-guard philosophy).
    """
    _, wedges = _open_wedges(graph, max_apex_degree)
    return (
        wedges.groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.round(F.sum(F.lit(1.0) / F.log(F.col("dw").cast("double"))), 9).alias("aa_r9"),
        )
        .filter(F.col("common_neighbors") >= min_common)
        .withColumn("apex_cap", F.lit(max_apex_degree).cast("int"))
    )


def jaccard_similarity(
    graph: GraphTables, max_apex_degree: int = 64, min_common: int = 1
) -> DataFrame:
    """(u, v, common_neighbors: long, jaccard_r9: double, apex_cap: int)
    for NON-adjacent pairs u < v at distance 2:
    J(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|.

    Same capped wedge join as :func:`adamic_adar` (the cap is semantic
    and surfaced — see that docstring): the intersection is counted over
    apexes with 2 <= deg <= ``max_apex_degree`` only, while the union
    denominator deg(u) + deg(v) - common uses FULL degrees, so a capped
    intersection can only lower the score — hub-mediated "similarity"
    is exactly what link prediction wants discounted. Numerator and
    denominator are integers, so the division is bit-reproducible; r9
    rounding is belt-and-braces for the cross-engine hash.
    """
    deg, wedges = _open_wedges(graph, max_apex_degree)
    common = (
        wedges.groupBy("u", "v")
        .agg(F.count("*").alias("common_neighbors"))
        .filter(F.col("common_neighbors") >= min_common)
    )
    return (
        common.join(deg.select(F.col("w").alias("u"), F.col("dw").alias("du")), "u")
        .join(deg.select(F.col("w").alias("v"), F.col("dw").alias("dv")), "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")).cast("double"),
                9,
            ).alias("jaccard_r9"),
            F.lit(max_apex_degree).cast("int").alias("apex_cap"),
        )
    )


def community_metrics(graph: GraphTables, labels: DataFrame) -> DataFrame:
    """(community, n_vertices, volume, internal_weight, cut,
    conductance_r9) — per-community quality diagnostics of a given
    partition (the evaluation-side complement of Louvain itself).

    ``labels``: (id, community). Per community c: volume = Σ k_v over
    members (directed incident weight), internal_weight = Σ directed
    weights of intra-c edges, cut = volume − internal_weight, and
    conductance φ(c) = cut / min(volume, 2m − volume) — 0 when the
    denominator is 0 (a community spanning the whole graph cuts
    nothing). All sums are integer-valued float64 (link counts), so
    only the final ratio is rounded for the cross-engine hash.

    Scale: one labels join per edge endpoint + two groupBys — the same
    shape as one Louvain Q evaluation; no per-pair or per-wedge work.
    """
    ls = labels.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    ld = labels.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    intra = (
        graph.edges.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("cs") == F.col("cd"))
        .groupBy(F.col("cs").alias("community"))
        .agg(F.sum("weight").alias("internal_weight"))
    )
    vol = (
        graph.vertices.join(labels, "id")
        .groupBy("community")
        .agg(F.count("*").alias("n_vertices"), F.sum("k").alias("volume"))
    )
    two_m = 2.0 * graph.m
    cut = F.col("volume") - F.col("internal_weight")
    denom = F.least(F.col("volume"), F.lit(two_m) - F.col("volume"))
    return (
        vol.join(intra, "community", "left")
        .select(
            "community",
            "n_vertices",
            "volume",
            F.coalesce("internal_weight", F.lit(0.0)).alias("internal_weight"),
        )
        .select(
            "community",
            "n_vertices",
            "volume",
            "internal_weight",
            cut.alias("cut"),
            F.when(denom > 0.0, F.round(cut / denom, 9))
            .otherwise(F.lit(0.0))
            .alias("conductance_r9"),
        )
    )


def adamic_adar_excluded_hubs(
    graph: GraphTables, max_apex_degree: int = 64
) -> DataFrame:
    """(w, dw) — the hub apexes :func:`adamic_adar` excluded under the
    same ``max_apex_degree``. Tiny by construction (hubs are the tail of
    the degree distribution), so a caller can collect or join it to
    qualify the scores."""
    return _apex_degrees(graph).filter(F.col("dw") > max_apex_degree)


def edge_support(edges: DataFrame) -> DataFrame:
    """(src, dst, support: long) — per-edge triangle support over a
    canonical (src < dst) edge table. Edges in no triangle emit no row.

    Each triangle of :func:`oriented_triangles` (hub-safe
    O(sqrt(m)) out-degrees) is listed once, so exploding its row into
    its three canonical edges adds exactly +1 support to each.
    """
    tri = oriented_triangles(edges)[1]

    def _edge(p, q):
        return F.struct(F.least(p, q).alias("src"), F.greatest(p, q).alias("dst"))

    return (
        tri.select(F.explode(F.array(_edge("a", "b"), _edge("b", "c"), _edge("a", "c"))).alias("e"))
        .groupBy("e.src", "e.dst")
        .agg(F.count("*").alias("support"))
    )


def k_truss(
    graph: GraphTables,
    k: int = 4,
    max_rounds: int = 20,
    on_truncate: str = "raise",
    checkpointer=None,
) -> DataFrame:
    """(src, dst, support: long) — edges of the k-truss (the maximal
    subgraph where every edge sits in >= k-2 triangles WITHIN the
    subgraph), with each surviving edge's in-truss support.

    Iterative support peel (the edge analogue of :func:`k_core`):
    recompute per-edge support over the survivor set, drop edges below
    k-2, repeat to a fixpoint or ``max_rounds``. Peeling is monotone —
    identity once the fixpoint is reached — so a fixed-round unrolled
    SQL oracle equals any early-stopped run that converged within the
    cap. ``on_truncate`` follows k_core: "raise" (default) refuses to
    return a superset of the truss; "ignore" returns the truncated peel
    (for callers that mirror the same fixed round count).

    Scale: each round is one degree-oriented triangle enumeration over
    the SHRINKING edge set — the dominant first round is exactly the
    triangle-count plan (wedge join bounded O(sqrt(m)) per vertex);
    localCheckpoint truncates lineage per round.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3, got {k}")
    if on_truncate not in ("raise", "ignore"):
        raise ValueError(f"on_truncate must be 'raise' or 'ignore', got {on_truncate!r}")
    edges = (
        graph.edges.filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    prev_n = None
    start_round = 0
    # survivor-edge-set state, same resume shape as k_core/s_core
    if checkpointer is not None:
        state = checkpointer.load_latest(graph.edges.sparkSession)
        if state is not None:
            it, saved, metric = state
            edges = saved.localCheckpoint(eager=True)
            start_round = it + 1
            prev_n = metric.get("n_keep")
    for _rnd in range(start_round, max_rounds):
        sup = edge_support(edges).localCheckpoint(eager=True)
        keep = sup.filter(F.col("support") >= k - 2)
        n = keep.count()
        if prev_n is not None and n == prev_n:
            # keep is a subset of edges (== previous keep); equal counts
            # mean the last filter removed nothing -> edges was already
            # the fixpoint and sup is its in-truss support
            return keep
        prev_n = n
        edges = keep.select("src", "dst").localCheckpoint(eager=True)
        if checkpointer is not None:
            checkpointer.save(_rnd, edges, {"n_keep": n, "converged": False})
    # cap exhausted: recompute support on the FINAL edge set (the loop's
    # sup describes the pre-filter set) and apply one more filter — if
    # nothing would drop, the peel hit its fixpoint exactly at
    # max_rounds (k_core's truncation guard); otherwise the result is a
    # truncated peel, identical to an unrolled oracle of the same depth
    final = edge_support(edges).filter(F.col("support") >= k - 2).localCheckpoint(
        eager=True
    )
    if on_truncate == "raise" and final.count() != prev_n:
        raise RuntimeError(
            f"k_truss did not reach its fixpoint within max_rounds={max_rounds}; "
            "the result would be a superset of the k-truss. Raise max_rounds, or "
            "pass on_truncate='ignore' to accept the truncated peel."
        )
    return final


def reciprocity(raw_pairs: DataFrame) -> DataFrame:
    """One row (n_directed, n_reciprocated, reciprocity_r9) — over the
    DIRECTED link table (before canonicalization): of the distinct
    ordered pairs a -> b (a != b), how many have the reverse b -> a?
    The standard directed-graph reciprocity statistic; on the
    transcript graph it measures how often two turns link both ways
    (e.g. a reply chain later revisited through a tool chain).

    Plan: distinct (one shuffle), then a self-join on the reversed key
    and one fused aggregate — counts are exact integers, the final
    divide is one r9-rounded expression.
    """
    d = (
        raw_pairs.select(F.col("a"), F.col("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    rev = d.select(
        F.col("b").alias("a"), F.col("a").alias("b"), F.lit(1).alias("has_rev")
    )
    marked = d.join(rev, ["a", "b"], "left")
    return marked.agg(
        F.count("*").alias("n_directed"),
        F.coalesce(F.sum("has_rev"), F.lit(0)).cast("long").alias("n_reciprocated"),
        F.round(
            F.coalesce(F.sum("has_rev"), F.lit(0)).cast("double")
            / F.count("*").cast("double"),
            9,
        ).alias("reciprocity_r9"),
    )


def quad_census(graph, max_middle_degree: int | None = None):
    """One row (n_wedges, n_four_cycles) — global wedge (path-2) and
    4-cycle counts, the motif census one step past triangle_count.

    Method: enumerate each wedge u-v-w once (middle v joins its
    neighbor list to itself, u < w), group by the endpoint pair to get
    co-degrees c, then C4 = Σ C(c, 2) / 2 — every 4-cycle is counted
    once per diagonal and has exactly two, so the division is exact
    integer arithmetic (chords don't matter; this counts cycles, not
    induced cycles).

    Scale: wedge enumeration is Σ deg(v)² over middle vertices — fine
    on the path-like transcript graph (bounded degrees), quadratic on a
    hub. ``max_middle_degree`` drops higher-degree middles from wedge
    enumeration for such graphs; the result then UNDERCOUNTS both
    metrics (wedges/cycles through dropped middles vanish) — the same
    explicit-cap philosophy as adamic_adar's max_apex_degree. Default
    None = exact.
    """
    edges = graph.edges
    if max_middle_degree is not None:
        deg = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        keep = deg.filter(F.col("d") <= max_middle_degree).select("v")
        edges = edges.join(keep.withColumnRenamed("v", "src"), "src", "left_semi")
    e1 = edges.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    e2 = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    codeg = (
        e1.join(e2, "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("c"))
    )
    return codeg.agg(
        F.sum("c").alias("n_wedges"),
        F.expr("sum(c * (c - 1) div 2) div 2").alias("n_four_cycles"),
    )


def rich_club(graph: GraphTables, thresholds: tuple = (1, 2, 4, 8, 16)) -> DataFrame:
    """(k, n_rich, e_rich, phi_r9) — the rich-club coefficient at each
    degree threshold: among the n_rich vertices with unweighted degree
    > k, e_rich is the number of undirected edges joining two of them
    and phi = 2*e_rich / (n_rich*(n_rich-1)) their realized link
    density (1-row-per-threshold; phi NULL when n_rich < 2, where the
    density is undefined).

    Exact integers end to end except the one final division (same IEEE
    expression both engines, r9-rounded): degrees come from the
    symmetric unit adjacency (count per src), edges from the canonical
    src < dst half so each undirected pair counts once. One degree agg
    + per-threshold conditional sums — the thresholds ride ONE scan of
    the (broadcast-joined) edge list, no per-threshold passes.
    """
    deg = (
        graph.edges.select("src")
        .groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("d"))
    )
    half = graph.edges.filter(F.col("src") < F.col("dst")).select("src", "dst")
    pair_deg = (
        half.join(deg.select(F.col("v").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dd")), "dst")
    )
    one = deg.agg(
        *[F.sum((F.col("d") > k).cast("long")).alias(f"n{k}") for k in thresholds]
    ).crossJoin(
        pair_deg.agg(
            *[
                F.sum(((F.col("ds") > k) & (F.col("dd") > k)).cast("long")).alias(
                    f"e{k}"
                )
                for k in thresholds
            ]
        )
    )
    rows = [
        one.select(
            F.lit(int(k)).alias("k"),
            F.coalesce(f"n{k}", F.lit(0)).alias("n_rich"),
            F.coalesce(f"e{k}", F.lit(0)).alias("e_rich"),
            F.when(
                F.coalesce(f"n{k}", F.lit(0)) >= 2,
                F.round(
                    F.lit(2.0)
                    * F.coalesce(f"e{k}", F.lit(0))
                    / (F.col(f"n{k}") * (F.col(f"n{k}") - F.lit(1))),
                    9,
                ),
            ).alias("phi_r9"),
        )
        for k in thresholds
    ]
    res = rows[0]
    for df in rows[1:]:
        res = res.unionByName(df)
    return res


def katz_centrality(
    graph: GraphTables, alpha: float = 0.05, max_hops: int = 4
) -> DataFrame:
    """(id, w1..w{K}, katz_r9) — TRUNCATED Katz centrality: katz(v) =
    sum over k = 1..max_hops of alpha^k * (number of length-k walks
    ending at v, from every vertex). Truncation at max_hops is part of
    the semantics (the bounded-radius contract of landmark_distances),
    so no spectral-radius condition on alpha is needed.

    The walk counts are exact integers (c_k = A·c_{k-1} over the
    symmetric adjacency, c_0 = 1) and ship in the output, so the heavy
    part of the oracle compare is integer-exact; the one float fold
    alpha^1*w1 + ... + alpha^K*wK uses literal alpha powers and fixed
    left association — the same IEEE tree in both engines. Integer walk
    counts grow like lambda_max^k; ANSI mode turns any int64 overflow
    into a loud error (lower max_hops), never a silent wrap.

    Scale: K frontier-free supersteps, each ONE equi-join of the count
    vector against the edge list + partial-agg sum — the sparse
    matrix-vector product; the K result vectors then join back to the
    vertex table once.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    edges = graph.edges.select("src", "dst")
    c = graph.vertices.select("id", F.lit(1).cast("long").alias("c"))
    hops: list[DataFrame] = []
    for _k in range(1, max_hops + 1):
        c = (
            edges.join(c, edges["src"] == c["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("c").alias("c"))
            .localCheckpoint(eager=True)
        )
        hops.append(c)
    out = graph.vertices.select("id")
    for k, ck in enumerate(hops, start=1):
        out = out.join(
            ck.select("id", F.col("c").alias(f"w{k}")), "id", "left"
        )
    wcols = [
        F.coalesce(f"w{k}", F.lit(0)).alias(f"w{k}")
        for k in range(1, max_hops + 1)
    ]
    katz = F.lit(alpha ** 1) * F.coalesce("w1", F.lit(0))
    for k in range(2, max_hops + 1):
        katz = katz + F.lit(alpha ** k) * F.coalesce(f"w{k}", F.lit(0))
    return out.select("id", *wcols, F.round(katz, 9).alias("katz_r9"))


def coreness(
    graph: GraphTables,
    max_rounds: int = 20,
    on_truncate: str = "raise",
    checkpointer=None,
) -> DataFrame:
    """(id, coreness) — the core number of EVERY vertex (the largest k
    such that v belongs to the k-core), via the h-index iteration of
    Lü et al. 2016: c_0 = degree; c_{t+1}(v) = H-index of
    {c_t(u) : u neighbor of v} (the largest h with >= h neighbors of
    value >= h). The sequence is monotone non-increasing and its
    fixpoint is exactly the coreness — a peel-free formulation whose
    rounds are pure BSP (one join + one window per round), the
    all-shells generalization of :func:`k_core`.

    The per-vertex H-index is max over i of min(i, v_i) with v_i the
    i-th largest neighbor value — one row_number window partitioned by
    vertex (hub-degree partitions are the skew point, the standard
    per-key window caveat) and one integer max. All quantities are
    integers, so the fixed-round SQL oracle matches bit-for-bit; at the
    fixpoint further rounds are identity, so the unroll and the
    early-stopping engine agree whenever both converge within the
    budget. ``on_truncate`` follows the k_core contract: a truncated
    run OVERSTATES coreness (values still descending), so ``"raise"``
    (default) refuses to return it.

    ``checkpointer``: optional plans.checkpoint
    .VertexIterationCheckpointer — every round durably commits the
    (id, c) descent state; a fresh call resumes the identical monotone
    sequence from the latest committed round (a budget-exhausted run
    that raised keeps its committed rounds for the retry).
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if on_truncate not in ("raise", "ignore"):
        raise ValueError(f"on_truncate must be 'raise' or 'ignore', got {on_truncate!r}")
    from pyspark.sql import Window

    edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    c = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    converged = False
    start_round = 0
    # descent state is one (id, c) table; rounds depend on nothing else,
    # so a resumed run replays the identical monotone sequence
    if checkpointer is not None:
        state = checkpointer.load_latest(graph.edges.sparkSession)
        if state is not None:
            it, saved, metric = state
            c = saved.localCheckpoint(eager=True)
            start_round = it + 1
            converged = bool(metric.get("converged"))
    for _rnd in range(start_round, max_rounds):
        if converged:
            break
        nv = edges.join(
            c.select(F.col("id").alias("dst"), F.col("c").alias("cv")), "dst"
        ).select("src", "cv")
        # tie order among equal cv values cannot change max(min(rn, cv)),
        # so the result is deterministic without a tiebreak column
        w = Window.partitionBy("src").orderBy(F.desc("cv"))
        nxt = (
            nv.withColumn("rn", F.row_number().over(w))
            .groupBy(F.col("src").alias("id"))
            .agg(F.max(F.least(F.col("rn"), F.col("cv"))).alias("c"))
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.join(c.select(F.col("id"), F.col("c").alias("prev")), "id")
            .filter(F.col("c") != F.col("prev"))
            .count()
        )
        c = nxt
        converged = changed == 0
        if checkpointer is not None:
            checkpointer.save(_rnd, c, {"changed": changed, "converged": converged})
        if converged:
            break
    if not converged and on_truncate == "raise":
        raise RuntimeError(
            f"coreness h-index iteration did not converge in {max_rounds} rounds; "
            "the result would overstate core numbers. Raise max_rounds, or pass "
            "on_truncate='ignore' to accept the truncated descent."
        )
    return (
        graph.vertices.select("id")
        .join(c, "id", "left")
        .select("id", F.coalesce("c", F.lit(0)).alias("coreness"))
    )


def s_core(
    graph: GraphTables,
    s: int = 3,
    max_rounds: int = 30,
    on_truncate: str = "raise",
    checkpointer=None,
) -> DataFrame:
    """(id, core_strength: long) — the s-core (Eidsaa & Almaas 2013):
    the maximal subgraph where every vertex has total incident WEIGHT
    >= s within it, with each survivor's strength inside the core. The
    weighted generalization of :func:`k_core` (which it reduces to on a
    unit-weight graph); same iterative peel, same monotone-fixpoint /
    truncation-guard contract (a truncated peel is a SUPERSET).

    Weights must be integer-valued (the weighted-merge graph's counts):
    they are cast to int64 so the peel predicate and the reported
    strengths are exact in any engine.
    """
    if on_truncate not in ("raise", "ignore"):
        raise ValueError(f"on_truncate must be 'raise' or 'ignore', got {on_truncate!r}")
    edges = (
        graph.edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )
    prev_n = None
    converged = False
    start_round = 0
    if checkpointer is not None:
        state = checkpointer.load_latest(graph.edges.sparkSession)
        if state is not None:
            it, saved, metric = state
            edges = saved.localCheckpoint(eager=True)
            start_round = it + 1
            prev_n = metric.get("n_keep")
            converged = bool(metric.get("converged"))
    for _rnd in range(start_round, max_rounds):
        if converged:
            break
        st = edges.groupBy(F.col("src").alias("v")).agg(F.sum("w").alias("d"))
        keep = st.filter(F.col("d") >= s).select("v").localCheckpoint(eager=True)
        n = keep.count()
        if prev_n is not None and n == prev_n:
            converged = True
            if checkpointer is not None:
                checkpointer.save(_rnd, edges, {"n_keep": n, "converged": True})
            break
        prev_n = n
        edges = (
            edges.join(keep.select(F.col("v").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("v").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        if checkpointer is not None:
            checkpointer.save(_rnd, edges, {"n_keep": n, "converged": False})
    if not converged and on_truncate == "raise":
        st = edges.groupBy(F.col("src").alias("v")).agg(F.sum("w").alias("d"))
        converged = st.filter(F.col("d") >= s).count() == prev_n
    if not converged and on_truncate == "raise":
        raise RuntimeError(
            f"s_core did not reach its fixpoint within max_rounds={max_rounds}; "
            "the result would be a superset of the s-core. Raise max_rounds, or "
            "pass on_truncate='ignore' to accept the truncated peel."
        )
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").alias("core_strength")
    )


def densest_subgraph(
    graph: GraphTables, max_rounds: int = 32, checkpointer=None
) -> DataFrame:
    """(round, n_vertices, n_edges, density_r9, is_best) — the greedy
    peel trace of the densest-subgraph 2(1+eps) approximation (Charikar
    peeling in the MapReduce form of Bahmani-Kumar-Vassilvitskii 2012,
    eps = 1/2): each round records the surviving subgraph's size and
    edge density e/n, then removes EVERY vertex whose degree is at most
    3*(e/n). The max-density round (ties -> earliest) is flagged
    ``is_best`` — its survivor set is a 3-approximate densest subgraph.

    Exactness: the removal test is evaluated in INTEGER arithmetic
    (``deg * n <= 3 * e`` — identical to deg <= 3e/n with no float in
    sight), so every round's survivor set is bit-reproducible in any
    engine at any shuffle order; the only doubles are the per-round
    density report (exact-int division, r9-rounded) and the final
    argmax, whose ties the round index breaks deterministically.

    Scale: since the vertices NOT removed have deg*n > 3e while degrees
    sum to 2e, each round keeps < 2n/3 — the peel empties within
    log_1.5(n) rounds, so ``max_rounds=32`` fully peels graphs up to
    ~1.5^32 ≈ 4×10^5 vertices (a 10^14-vertex graph needs ~80 rounds —
    raise ``max_rounds`` there; a truncated trace can miss the round
    that attains the 3-approximation guarantee, though the best-seen
    density is still reported). Each round is one degree agg + one action (the (n, e)
    scalar pair) + two semi-joins, the k_core pattern exactly; the
    ``deg * n`` product stays inside int64 up to ~10^12-vertex graphs.

    ``checkpointer``: superstep resume (k_core's contract) — the state
    is the survivor edge set plus the emitted (round, n, e) trace.
    """
    edges = graph.edges.select("src", "dst").localCheckpoint(eager=True)
    spark = graph.edges.sparkSession
    trace = []
    start_round = 0
    if checkpointer is not None:
        state = checkpointer.load_latest(spark)
        if state is not None:
            it, saved, metric = state
            edges = saved.localCheckpoint(eager=True)
            start_round = it + 1
            trace = [tuple(t) for t in metric.get("trace", [])]
    for _rnd in range(start_round, max_rounds):
        deg = edges.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("d"))
        row = deg.agg(
            F.count("*").alias("n"),
            (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("long").alias("e"),
        ).collect()[0]
        n, e = row["n"], row["e"]
        if n == 0:
            break
        trace.append((_rnd, n, e))
        keep = (
            deg.filter(F.col("d") * F.lit(n) > F.lit(3 * e)).select("v")
            .localCheckpoint(eager=True)
        )
        edges = (
            edges.join(keep.select(F.col("v").alias("src")), "src", "left_semi")
            .join(keep.select(F.col("v").alias("dst")), "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
        if checkpointer is not None:
            checkpointer.save(_rnd, edges, {"trace": [list(t) for t in trace]})
    from pyspark.sql import Window

    out = spark.createDataFrame(
        trace, "round int, n_vertices long, n_edges long"
    ).withColumn(
        "density_r9", F.round(F.col("n_edges") / F.col("n_vertices"), 9)
    )
    w = Window.orderBy(F.desc("density_r9"), F.asc("round"))
    return out.withColumn("is_best", F.row_number().over(w) == 1)


def weighted_clustering(graph: GraphTables) -> DataFrame:
    """(id, strength, degree, n_triangles, cw_r9) — the Barrat et al.
    (2004) weighted clustering coefficient over the weighted-merge
    graph:

        c_w(i) = [ sum over triangles (i,j,h) of (w_ij + w_ih) ]
                 / ( 2 * s_i * (k_i - 1) )

    (the /2 of the textbook formula is folded into the denominator so
    the numerator stays an EXACT integer-valued sum — weights are
    duplicate-link counts). 0 where degree < 2, matching
    clustering_coefficient's convention.

    Triangles are listed once each on the degree orientation (hub-safe
    O(sqrt(m)) out-degrees, the triangles.py plan); each listing then
    credits all three corners with its two incident weights, one
    groupBy-sum per vertex, one r9 division at the end.
    """
    half = graph.edges.filter(F.col("src") < F.col("dst"))
    tri = oriented_triangles(half)[1]
    half = half.select(F.col("src").alias("x"), F.col("dst").alias("y"), F.col("weight").alias("w"))

    def _key(p, q, alias):
        return (
            F.least(F.col(p), F.col(q)).alias(f"{alias}_x"),
            F.greatest(F.col(p), F.col(q)).alias(f"{alias}_y"),
        )

    wt = (
        tri.select("a", "b", "c", *_key("a", "b", "ab"), *_key("b", "c", "bc"), *_key("a", "c", "ac"))
        .join(half.select(F.col("x").alias("ab_x"), F.col("y").alias("ab_y"), F.col("w").alias("wab")), ["ab_x", "ab_y"])
        .join(half.select(F.col("x").alias("bc_x"), F.col("y").alias("bc_y"), F.col("w").alias("wbc")), ["bc_x", "bc_y"])
        .join(half.select(F.col("x").alias("ac_x"), F.col("y").alias("ac_y"), F.col("w").alias("wac")), ["ac_x", "ac_y"])
    )
    credits = (
        wt.select(F.col("a").alias("id"), (F.col("wab") + F.col("wac")).alias("cr"))
        .unionByName(wt.select(F.col("b").alias("id"), (F.col("wab") + F.col("wbc")).alias("cr")))
        .unionByName(wt.select(F.col("c").alias("id"), (F.col("wac") + F.col("wbc")).alias("cr")))
    )
    agg = credits.groupBy("id").agg(
        F.sum("cr").alias("c2"), F.count("*").alias("nt")
    )
    deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    return (
        graph.vertices.select("id", F.col("k").alias("strength"))
        .join(deg, "id", "left")
        .join(agg, "id", "left")
        .select(
            "id",
            "strength",
            F.coalesce("deg", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("nt", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                F.round(
                    F.coalesce("c2", F.lit(0.0))
                    / (F.lit(2.0) * F.col("strength") * (F.col("deg") - F.lit(1.0))),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("cw_r9"),
        )
    )


def weighted_assortativity(graph: GraphTables) -> DataFrame:
    """One row (assortativity_w_r9) — strength assortativity of the
    weighted-merge graph: the Pearson correlation of (s_src, s_dst)
    over directed edges, each edge weighted by its merged weight
    (Leung-Chau 2007 generalization of Newman's r).

    Every sum is a sum of products of integer-valued doubles (weights
    are duplicate-link counts, strengths their sums), so all five
    moments are exact under any association order; one rounded final
    expression, same contract as the unweighted twin.
    """
    s = graph.vertices.select(F.col("id"), F.col("k").alias("s"))
    e = (
        graph.edges.join(
            s.select(F.col("id").alias("src"), F.col("s").alias("sx")), "src"
        ).join(s.select(F.col("id").alias("dst"), F.col("s").alias("sy")), "dst")
    )
    agg = e.agg(
        F.sum("weight").alias("m"),
        F.sum(F.col("weight") * F.col("sx") * F.col("sy")).alias("sxy"),
        F.sum(F.col("weight") * F.col("sx")).alias("sx"),
        F.sum(F.col("weight") * F.col("sy")).alias("sy"),
        F.sum(F.col("weight") * F.col("sx") * F.col("sx")).alias("sxx"),
        F.sum(F.col("weight") * F.col("sy") * F.col("sy")).alias("syy"),
    )
    m, sxy, sx, sy, sxx, syy = (F.col(c) for c in ["m", "sxy", "sx", "sy", "sxx", "syy"])
    r = (m * sxy - sx * sy) / F.sqrt((m * sxx - sx * sx) * (m * syy - sy * sy))
    return agg.select(F.round(r, 9).alias("assortativity_w_r9"))


def degree_gini(graph: GraphTables) -> DataFrame:
    """One row (n_vertices, sum_degree, gini_r9) — the Gini coefficient
    of the degree distribution, the scalar hub-concentration measure
    behind the engine's skew-salting trigger:

        G = (2 * sum_i i*d_(i) - (n+1) * sum d) / (n * sum d)

    with d_(i) the ascending degree order statistics. Computed WITHOUT
    a global sort: for each distinct degree value v with count c and
    cumulative prior count C, the rank-sum contribution is exactly
    v * (c*C + c*(c+1)/2) — the window runs over the DISTINCT degree
    values only (hundreds of rows on a power-law graph, never n), so
    the plan scales by the histogram, not the vertex count. Every term
    is int64-exact; ties contribute identically under any rank
    assignment, so no tie-break is needed at all.

    Isolated vertices count with degree 0 (they dilute concentration,
    as they should). G = 0 on a regular graph, -> 1 as one hub takes
    all the edges; NULL when the graph has no edges (sum d = 0).
    """
    from pyspark.sql import Window

    hist = degree_histogram(graph).select(
        F.col("degree").cast("long").alias("v"),
        F.col("n_vertices").alias("c"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = hist.withColumn("cprev", F.coalesce(F.sum("c").over(w), F.lit(0)))
    agg = ranked.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("v") * F.col("c")).alias("sd"),
        F.sum(
            F.col("v") * (F.col("c") * F.col("cprev") + F.expr("c * (c + 1) div 2"))
        ).alias("ranksum"),
    )
    g = (
        (F.lit(2) * F.col("ranksum") - (F.col("n") + 1) * F.col("sd"))
        / (F.col("n") * F.col("sd"))
    )
    return agg.select(
        F.col("n").alias("n_vertices"),
        F.col("sd").alias("sum_degree"),
        F.when(F.col("sd") > 0, F.round(g, 9)).alias("gini_r9"),
    )


def graph_profile(graph: GraphTables) -> DataFrame:
    """One row (n_vertices, n_edges, n_isolated, min_degree, max_degree,
    avg_degree_r9, density_r9) — the one-glance graph summary. One
    degree agg + one fused scalar aggregate; every value exact-int
    except the two r9 divisions."""
    deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    alld = (
        graph.vertices.select("id")
        .join(deg, "id", "left")
        .select(F.coalesce("d", F.lit(0)).alias("d"))
    )
    agg = alld.agg(
        F.count("*").alias("n"),
        (F.coalesce(F.sum("d"), F.lit(0)) / 2).cast("long").alias("e"),
        F.coalesce(F.sum(F.when(F.col("d") == 0, 1).otherwise(0)), F.lit(0)).alias("iso"),
        F.coalesce(F.min("d"), F.lit(0)).alias("mind"),
        F.coalesce(F.max("d"), F.lit(0)).alias("maxd"),
    )
    return agg.select(
        F.col("n").alias("n_vertices"),
        F.col("e").alias("n_edges"),
        F.col("iso").alias("n_isolated"),
        F.col("mind").cast("long").alias("min_degree"),
        F.col("maxd").cast("long").alias("max_degree"),
        F.round(F.lit(2.0) * F.col("e") / F.col("n"), 9).alias("avg_degree_r9"),
        F.when(
            F.col("n") >= 2,
            F.round(
                F.lit(2.0) * F.col("e") / (F.col("n") * (F.col("n") - 1)), 9
            ),
        ).alias("density_r9"),
    )


def powerlaw_alpha(graph: GraphTables, dmin: int = 2) -> DataFrame:
    """One row (dmin, n_tail, sum_micronats, alpha_r9) — the
    Clauset-Shalizi-Newman continuous-approximation MLE of the
    power-law exponent over the degree tail d >= dmin:

        alpha = 1 + n_tail / sum ln( d / (dmin - 0.5) )

    Shuffle-order-proof by the textstats micro-nat trick: each distinct
    degree's log term is rounded to integer MICRO-nats (one double
    expression, bit-identical in any engine, tolerant of ~1 ulp libm
    differences), scaled by its histogram count, and summed as exact
    int64 — so the only float work is one per-distinct-degree
    expression and the final division. The aggregation runs over the
    degree HISTOGRAM (hundreds of rows), never the vertex table.
    NULL alpha when the tail is empty or the log-sum is 0.
    """
    hist = degree_histogram(graph).select(
        F.col("degree").cast("long").alias("v"),
        F.col("n_vertices").alias("c"),
    ).filter(F.col("v") >= dmin)
    unats = F.round(
        F.log(F.col("v").cast("double") / F.lit(dmin - 0.5)) * F.lit(1000000.0)
    ).cast("long")
    agg = hist.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_tail"),
        F.coalesce(F.sum(F.col("c") * unats), F.lit(0)).alias("s"),
    )
    alpha = F.lit(1.0) + F.col("n_tail").cast("double") / (
        F.col("s").cast("double") / F.lit(1000000.0)
    )
    return agg.select(
        F.lit(dmin).cast("long").alias("dmin"),
        F.col("n_tail"),
        F.col("s").alias("sum_micronats"),
        F.when((F.col("n_tail") > 0) & (F.col("s") > 0), F.round(alpha, 9)).alias(
            "alpha_r9"
        ),
    )


def resource_allocation(
    graph: GraphTables, max_apex_degree: int = 64, min_common: int = 1
) -> DataFrame:
    """(u, v, common_neighbors, ra_r9, pa_score, apex_cap) — the
    Resource-Allocation link predictor (Zhou-Lu-Zhang 2009: sum of
    1/deg(w) over shared neighbors — the stronger-decaying sibling of
    Adamic-Adar) plus the preferential-attachment score
    deg(u)*deg(v) on the same candidate pairs, the two classic
    baselines a link-prediction evaluation wants side by side.

    Same surface contract as :func:`adamic_adar`: non-adjacent pairs at
    distance 2, the SEMANTIC hub cap surfaced on every row (and
    :func:`adamic_adar_excluded_hubs` lists the apexes it removed —
    the cap is shared), r9-rounded double sum over <= cap^2 wedge
    terms; pa_score is exact int64 (FULL degrees, not capped — the cap
    governs which pairs are candidates, not their endpoint degrees).
    """
    deg, wedges = _open_wedges(graph, max_apex_degree)
    pairs = (
        wedges.groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.round(F.sum(F.lit(1.0) / F.col("dw").cast("double")), 9).alias("ra_r9"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    du = deg.select(F.col("w").alias("u"), F.col("dw").alias("du"))
    dv = deg.select(F.col("w").alias("v"), F.col("dw").alias("dv"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common_neighbors",
            "ra_r9",
            (F.col("du") * F.col("dv")).cast("long").alias("pa_score"),
            F.lit(max_apex_degree).cast("int").alias("apex_cap"),
        )
    )


def degree_ccdf(graph: GraphTables) -> DataFrame:
    """(degree, n_vertices, n_ge, ccdf_r9) — the degree distribution's
    complementary CDF: for each observed degree value, how many
    vertices have AT LEAST that degree and the survival fraction
    P(D >= d). The standard log-log plotting surface for power-law
    eyeballing, and the exact companion to :func:`powerlaw_alpha`.

    One window cumsum over the DISTINCT degree values (descending), so
    the plan scales by the histogram; counts exact int64, one r9
    division per emitted row.
    """
    from pyspark.sql import Window

    hist = degree_histogram(graph).select(
        F.col("degree").cast("long").alias("degree"),
        F.col("n_vertices"),
    )
    w = Window.orderBy(F.desc("degree")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.withColumn("n_ge", F.sum("n_vertices").over(w))
    total = hist.agg(F.coalesce(F.sum("n_vertices"), F.lit(0)).alias("nt"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "degree",
            "n_vertices",
            F.col("n_ge").cast("long").alias("n_ge"),
            F.round(F.col("n_ge") / F.col("nt"), 9).alias("ccdf_r9"),
        )
    )
