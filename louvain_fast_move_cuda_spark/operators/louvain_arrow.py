"""The Spark placement of the Louvain move kernel (CSR-blocked Arrow pass).

The reference streams CSR-aligned edge chunks through a GPU hash table
(hashmap.cuh:14-73 insert+accumulate, phaseOptimizationHash.cu:38-158
per-chunk score+argmax). The Spark analogue: the edges stay
hash-partitioned by ``src`` across rounds, so every vertex's adjacency
is partition-local (the CSR-block invariant — chunk ends never split a
node, phaseOptimizationSort.cu:54-60), and ONE ``mapInArrow`` pass per
round scores the whole partition. The per-(node, community) weight sum,
ΔQ, argmax and move filter all happen inside the Python worker, so a
round has no candidate shuffle at all.

The pass concatenates the partition's Arrow batches once and calls the
NumPy kernel of operators/louvain_local.py on it, so the move rule
exists in exactly one place. A batch boundary may split a vertex's
adjacency; the partition is never split, so concatenating first is all
the partial-aggregate bookkeeping the kernel needs. The active sources
(the frontier) are computed partition-locally too, since all of a
source's rows are partition-local.

The kernel has two inputs. While the vertex state is on the driver
(:func:`driver_round_moves`), the pass reads a level's static edges and
calls :func:`louvain_local._state_moves` with the driver's broadcast
arrays — the very function the in-process placement calls on the whole
level — and also returns the partition's W_in. Above that bound
(:func:`arrow_round_moves`) the state is carried on the edge rows:
``cs``/``cd``/``dm`` are columns and Σ_tot is joined in.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .louvain_local import _frontier_moves, _state_moves

MOVES_SCHEMA = "node long, newc long"
# the kernel's per-row inputs: _round_moves's arguments plus the frontier flag
KERNEL_COLUMNS = ("src", "cd", "w", "k_src", "cs", "ctot_cs", "ctot_cd", "dm")
# a level's static edges when its vertex state lives on the driver
STATIC_COLUMNS = ("src", "dst", "w", "k_src")
# driver-state rounds: the moves, plus one row per partition (node -1)
# carrying that partition's W_in
DRIVER_MOVES_SCHEMA = "node long, newc long, win double"


def _concat(batches):
    """The partition's non-empty Arrow batches as one table, or None."""
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    return pa.Table.from_batches(batches) if batches else None


def _moves_kernel(m: float, rnd: int):
    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa

        t = _concat(batches)
        if t is None:
            return
        nodes, newc = _frontier_moves(*(t.column(c).to_numpy() for c in KERNEL_COLUMNS), m, rnd)
        yield pa.RecordBatch.from_arrays(
            [pa.array(nodes, pa.int64()), pa.array(newc, pa.int64())], names=["node", "newc"]
        )

    return fn


def _driver_kernel(state, m: float, rnd: int):
    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import numpy as np
        import pyarrow as pa

        t = _concat(batches)
        if t is None:
            return
        nodes, newc, win = _state_moves(
            *(t.column(c).to_numpy() for c in STATIC_COLUMNS), *state.value, m, rnd
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.append(nodes, -1), pa.int64()),
                pa.array(np.append(newc, -1), pa.int64()),
                pa.array(np.append(np.zeros(len(nodes)), win), pa.float64()),
            ],
            names=["node", "newc", "win"],
        )

    return fn


def driver_round_moves(static: DataFrame, state, m: float, rnd: int) -> DataFrame:
    """One fast-local-move round over a level's static edges, its vertex
    state read from the broadcast ``state = (comm, ctot, moved)``: NumPy
    arrays indexed by vertex id (community, Σ_tot per community id, moved
    last round).

    ``static``: (src, dst, w, k_src), hash-partitioned on ``src`` (every
    vertex's adjacency in one partition, as for :func:`arrow_round_moves`).
    One mapInArrow, no join and no shuffle: each partition emits its
    (node, newc) moves with ``win`` 0, then one row with node −1 whose
    ``win`` is the partition's intra-community weight under ``state``.
    Vertex ids must be ≥ 0.
    """
    return static.select(*STATIC_COLUMNS).mapInArrow(
        _driver_kernel(state, m, rnd), schema=DRIVER_MOVES_SCHEMA
    )


def relabel_edges(static: DataFrame, newid) -> DataFrame:
    """(src, dst, w) with both endpoints mapped through the broadcast array
    ``newid`` (vertex id -> id at the next level): the map half of the
    coarsen, before its groupBy merges parallel edges."""

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import pyarrow as pa

        lab = newid.value
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(lab[b.column(0).to_numpy()], pa.int64()),
                    pa.array(lab[b.column(1).to_numpy()], pa.int64()),
                    b.column(2),
                ],
                names=["src", "dst", "w"],
            )

    return static.select("src", "dst", "w").mapInArrow(fn, schema="src long, dst long, w double")


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
