"""Leiden-style connectivity refinement — the refine phase the CUDA
reference declares but never implements (phaseRefine.cuh:1-3 is an empty
stub). Added surface, semantics from the published algorithm (Traag,
Waltman & van Eck, "From Louvain to Leiden: guaranteeing well-connected
communities", 2019).

Louvain can emit internally DISCONNECTED communities — a vertex can be
moved for gain against a community it later loses its only bridge to.
Leiden's core guarantee is that every output community is connected.
This module enforces exactly that guarantee as a post-pass: split every
community into its connected parts. The split can never lower
modularity: intra-community edges are preserved by construction (parts
are the components of the intra-community subgraph, so no intra edge
crosses parts), and Σ_c Σ_tot(c)² only shrinks when a nonnegative sum
is split ((Σa_i)² ≥ Σa_i² for a_i ≥ 0).

Scale shape: ONE connected-components run over the intra-community
subgraph — pure reuse of the large-star/small-star operator
(operators/components.py), no new iteration machinery; the corpus-sized
label table is touched by two hash joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.superstep import LOCAL_MAX_EDGES
from ..sources.edges import GraphTables
from .components import connected_components


def refine_partition(
    graph: GraphTables,
    labels: DataFrame,
    id_col: str = "orig_id",
    comm_col: str = "community",
    local_max_edges: int = LOCAL_MAX_EDGES,
    max_iter: int = 50,
) -> DataFrame:
    """(id_col, comm_col) -> (id_col, comm_col): each input community is
    split into its connected parts; the refined label is the minimum
    vertex id reachable through INTRA-community edges. Parts of distinct
    communities have disjoint vertex sets, so min-ids are globally
    unique labels. Identity (up to relabeling to min-ids) on partitions
    whose communities are already internally connected.

    ``local_max_edges`` / ``max_iter`` pass through to
    :func:`connected_components` (0: not its NumPy tail).
    """
    ls = labels.select(F.col(id_col).alias("src"), F.col(comm_col).alias("cs"))
    ld = labels.select(F.col(id_col).alias("dst"), F.col(comm_col).alias("cd"))
    intra = (
        graph.edges.select("src", "dst")
        .join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("cs") == F.col("cd"))
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    sub = GraphTables(
        edges=intra,
        vertices=labels.select(F.col(id_col).alias("id")),
        m=0.0,  # unused by connected_components
        n_nodes=graph.n_nodes,  # bounds the vertex ids of the labels
    )
    comp = connected_components(
        sub, max_iter=max_iter, local_max_edges=local_max_edges
    )
    return comp.select(
        F.col("id").alias(id_col), F.col("component").alias(comm_col)
    )
