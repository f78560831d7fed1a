"""The Spark placement of the Louvain move kernel (CSR-blocked Arrow pass).

The reference streams CSR-aligned edge chunks through a GPU hash table
(`/root/reference/hashmap.cuh:14-73` insert+accumulate,
`phaseOptimizationHash.cu:38-158` per-chunk score+argmax). The Spark
analogue: the edge state stays hash-partitioned by ``src`` across rounds,
so every vertex's adjacency is partition-local (the CSR-block invariant —
chunk ends never split a node, `phaseOptimizationSort.cu:54-60`), and
ONE ``mapInArrow`` pass per round scores the whole partition. The
per-(node, community) weight sum, ΔQ, argmax and move filter all happen
inside the Python worker, so a round has no candidate shuffle at all.

The pass concatenates the partition's Arrow batches once and calls
:func:`louvain_local._round_moves` — the same NumPy function the
driver-local tail runs on the whole graph — so the move rule exists in
exactly one place. A batch boundary may split a vertex's adjacency; the
partition is never split, so concatenating first is all the
partial-aggregate bookkeeping the kernel needs.

The frontier travels on the edge state: ``dm`` marks rows whose ``dst``
moved in the previous round (every row at a level start). The active
sources are ``unique(src[dm & (cs != cd)])`` — the sources of edges
whose dst moved into a community other than src's
(phaseOptimizationUpdate.cu:117-132) — and, since all of a source's
rows are partition-local, that set is computed partition-locally too.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .louvain_local import _round_moves

MOVES_SCHEMA = "node long, newc long"
# the kernel's per-row inputs: _round_moves's arguments plus the frontier flag
KERNEL_COLUMNS = ("src", "cd", "w", "k_src", "cs", "ctot_cs", "ctot_cd", "dm")


def _moves_kernel(m: float, rnd: int):
    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import numpy as np
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        src, cd, w, k_src, cs, ctot_cs, ctot_cd, dm = (
            t.column(c).to_numpy() for c in KERNEL_COLUMNS
        )
        sel = np.isin(src, np.unique(src[dm & (cs != cd)]))
        nodes, newc = _round_moves(
            src[sel], cd[sel], w[sel], k_src[sel], cs[sel], ctot_cs[sel], ctot_cd[sel], m, rnd
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, pa.int64()), pa.array(newc, pa.int64())], names=["node", "newc"]
        )

    return fn


def arrow_round_moves(
    est: DataFrame,
    comm_w: DataFrame,
    m: float,
    rnd: int,
    npart: int,
    broadcast_comm_w: bool,
) -> DataFrame:
    """One fast-local-move round as a single CSR-blocked Arrow pass.

    ``est``: edge state (src, dst, w, k_src, cs, cd, dm), hash-partitioned
    on ``src``. Σ_tot is attached by two joins (broadcast when the
    community table is small — always true after the first coarsening),
    then one mapInArrow over the same partitions emits the (node, newc)
    moves.
    """
    # ONE Σ_tot subplan joined twice via conditions: identical broadcast
    # subplans let exchange reuse ship the community table once per round
    cw = comm_w.select("comm", "ctot")
    if broadcast_comm_w:
        cw = F.broadcast(cw)
    joined = (
        est.filter(F.col("src") != F.col("dst"))
        .join(cw, F.col("cs") == F.col("comm"))
        .withColumnRenamed("ctot", "ctot_cs")
        .drop("comm")
        .join(cw, F.col("cd") == F.col("comm"))
        .withColumnRenamed("ctot", "ctot_cd")
        .drop("comm")
        .select(*KERNEL_COLUMNS)
    )
    if not broadcast_comm_w:
        # shuffle joins destroyed src-colocation; restore the CSR-block invariant
        joined = joined.repartition(npart, "src")
    return joined.mapInArrow(_moves_kernel(m, rnd), schema=MOVES_SCHEMA)
