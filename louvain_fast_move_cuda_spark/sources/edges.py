"""Edge-table construction: the engine's ingest layer.

Reproduces the reference's ingest semantics (`/root/reference/graph.cu:17-87`)
Spark-first:

* canonicalize each undirected edge to (min,max) and dedup  (graph.cu:36-46)
* drop self-loops (the reference's test graphs contain none; its optimizer
  filters src==dst anyway, operatorsCommunity.h:12)
* symmetrize — materialize both directions                  (graph.cu:68-79)
* contiguous 0-based vertex ids — robust generalization of the reference's
  dense-id `min_id` rebase                                  (graph.cuh:66-76)
* weighted degree k_v and total weight m                    (graph.cuh:79-98)

Everything is plain DataFrame ops (Catalyst-optimizable, no UDFs).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.scan import _exclusive_scan


def assign_contiguous_ids(
    df: DataFrame,
    cols: list[str],
    id_col: str = "vid",
    num_partitions: int | None = None,
    assume_distinct: bool = False,
    with_count: bool = False,
    carry_all: bool = False,
):
    """Order-preserving dense relabel: distinct key -> rank (0-based long).

    Scale-correct equivalent of `zipWithIndex`: the rank is the exclusive
    prefix sum of a constant 1 in ``cols`` order, run by the engine's one
    two-level scan (plans/scan.py) — a range shuffle, a local window per
    partition and per-partition totals. No global single-partition
    window, no RDDs.

    ``assume_distinct``: the caller guarantees ``df.select(cols)`` has no
    duplicate rows (e.g. it is a groupBy output) — skips the dedup shuffle.
    ``with_count``: also return the total key count (the scan's grand
    total) as ``(mapping_df, n)`` — callers needing the cardinality then
    skip a separate ``.count()`` job.

    ``carry_all`` (requires ``assume_distinct``): rank the FULL rows of
    ``df`` instead of a key projection, returning every input column plus
    ``id_col`` — callers that would otherwise join the mapping straight
    back onto ``df`` (two more exchanges of the big table) get the joined
    result in the same single range shuffle. Ranks are identical: the
    ordering key is still ``cols`` and rows are unique in it.

    Returns a mapping DataFrame: ``cols..., id_col`` (or ``(df, n)``).
    """
    if carry_all:
        assert assume_distinct, "carry_all requires key-unique rows"
        keys = df
    else:
        keys = df.select(*cols) if assume_distinct else df.select(*cols).distinct()
    out, n = _exclusive_scan(keys, cols, F.lit(1), id_col, num_partitions)
    return (out, n) if with_count else out


def derive_edges_from_transcripts(transcripts: DataFrame) -> DataFrame:
    """Derive raw (a, b) vertex-id pairs from a transcripts table.

    Vertices are turns, keyed by (conv_id, turn_idx) and densely relabeled.
    Two link kinds (FIXTURES.md §1):

    * **reply links** — (conv_id, i) -> (conv_id, next i) via a `lead()`
      window within each conversation (ordered by turn_idx);
    * **tool-invocation links** — each tool-using turn links to the next
      turn (any conversation) using the same tool, ordered by (ts, conv_id,
      turn_idx). Linear in input size (chains, not cliques) so a hot tool
      cannot cause a quadratic blowup at 10^12 turns.

    Returns columns ``a:long, b:long`` (directed raw pairs, may contain
    duplicates; feed to :func:`canonicalize_edges`).
    """
    ids = assign_contiguous_ids(transcripts, ["conv_id", "turn_idx"], id_col="vid")
    return transcript_links(transcripts.join(ids, ["conv_id", "turn_idx"]))


def transcript_links(turns: DataFrame, reply_only: bool = False) -> DataFrame:
    """The two link kinds of :func:`derive_edges_from_transcripts` as
    ``a:long, b:long`` pairs, from turns already carrying their ``vid``
    (and ``conv_id``, ``turn_idx``, ``tool``, ``ts``): reply links by a
    ``lead()`` over each conversation, tool links by a ``lead()`` over
    each tool's (ts, conv_id, turn_idx) order. ``reply_only`` drops the
    tool links."""
    w_conv = Window.partitionBy("conv_id").orderBy("turn_idx")
    reply = (
        turns.withColumn("b", F.lead("vid").over(w_conv))
        .filter(F.col("b").isNotNull())
        .select(F.col("vid").alias("a"), "b")
    )
    if reply_only:
        return reply
    w_tool = Window.partitionBy("tool").orderBy("ts", "conv_id", "turn_idx")
    tool = (
        turns.filter(F.col("tool").isNotNull())
        .withColumn("b", F.lead("vid").over(w_tool))
        .filter(F.col("b").isNotNull())
        .select(F.col("vid").alias("a"), "b")
    )
    return reply.unionByName(tool)


def canonicalize_edges(
    raw: DataFrame, a: str = "a", b: str = "b", weight: str | None = None
) -> DataFrame:
    """(min,max) canonical form, self-loops dropped, duplicates merged.

    Mirrors graph.cu:36-46 (std::set of (min,max) pairs) for the
    unweighted case (``weight=None``: exact dedup, weight 1.0). With a
    ``weight`` column, duplicate pairs SUM their weights — the weighted
    ingest the reference left as a TODO (graph.cu:32-34,64-66); the rest
    of the engine (Louvain ΔQ/Q, coarsening, degrees) already handles
    arbitrary positive weights.

    Output: ``src:long, dst:long, weight:double`` with src < dst.
    """
    canon = raw.select(
        F.least(F.col(a), F.col(b)).cast("long").alias("src"),
        F.greatest(F.col(a), F.col(b)).cast("long").alias("dst"),
        *([F.col(weight).cast("double").alias("w")] if weight else []),
    ).filter(F.col("src") != F.col("dst"))
    if weight is None:
        return canon.distinct().withColumn("weight", F.lit(1.0))
    return canon.groupBy("src", "dst").agg(F.sum("w").alias("weight"))


def symmetrize(canonical: DataFrame) -> DataFrame:
    """Materialize both directions of each undirected edge (graph.cu:68-79)."""
    return canonical.unionByName(
        canonical.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )


def vertex_weights(edges: DataFrame) -> DataFrame:
    """Weighted degree k_v = sum of outgoing directed weights (graph.cuh:79-98).

    On the directed-symmetric list a self-loop's stored weight is already
    the full 2x undirected weight, so a plain per-src sum double-counts it
    correctly.
    """
    return edges.groupBy(F.col("src").alias("id")).agg(F.sum("weight").alias("k"))


@dataclass
class GraphTables:
    """edges: directed symmetric (src,dst,weight); vertices: (id,k); m: total undirected weight."""

    edges: DataFrame
    vertices: DataFrame
    m: float
    n_nodes: int


def build_graph(
    raw_pairs: DataFrame, relabel: bool = True, weight: str | None = None
) -> GraphTables:
    """Raw (a,b[,weight]) pairs -> canonical symmetric graph tables.

    ``relabel=True`` maps arbitrary vertex ids to contiguous 0-based longs
    (robust version of the reference's min_id rebase, graph.cuh:66-76).
    ``weight`` names an input weight column (duplicate pairs merge by
    sum); None = unweighted reference semantics (dedup, weight 1).
    """
    canon = canonicalize_edges(raw_pairs, weight=weight)
    if relabel:
        ids = assign_contiguous_ids(
            canon.select(F.col("src").alias("v"))
            .unionByName(canon.select(F.col("dst").alias("v"))),
            ["v"],
            id_col="nid",
        )
        canon = (
            canon.join(ids.withColumnRenamed("v", "src").withColumnRenamed("nid", "nsrc"), "src")
            .join(ids.withColumnRenamed("v", "dst").withColumnRenamed("nid", "ndst"), "dst")
            .select(
                F.least("nsrc", "ndst").alias("src"),
                F.greatest("nsrc", "ndst").alias("dst"),
                "weight",
            )
        )
    edges = symmetrize(canon)
    verts = vertex_weights(edges)
    agg = edges.agg(
        F.sum("weight").alias("w2"), (F.max("dst")).alias("maxid")
    ).collect()[0]
    # sum() over zero edges is NULL — an empty edge set is a valid graph
    # (e.g. dedup_clusters over a corpus with no LSH candidate pairs)
    m = float(agg["w2"]) / 2.0 if agg["w2"] is not None else 0.0
    n_nodes = int(agg["maxid"]) + 1 if agg["maxid"] is not None else 0
    return GraphTables(edges=edges, vertices=verts, m=m, n_nodes=n_nodes)
