"""Streaming incremental connected components: contract-by-labels.

Batch CC (operators/components.py, Kiveris et al. star rounds) re-solves
the whole accumulated graph; at continuous-ingest scale (the 10^12-turn
deployment: reply/tool edges land forever) the engine instead needs to
MAINTAIN the component labels as edges arrive. Not in the CUDA reference
(batch-only, /root/reference/main.cu); added streaming surface alongside
ingest.py / dedup_stream.py / session_stream.py.

Design (classic incremental CC by contraction):

* Durable state is ONE labels table ``(id, component)`` with
  component = min reachable vertex id — the same graph invariant as the
  batch operator, so "incremental == batch" is a bit-exact check, not
  an up-to-relabeling one.
* Per micro-batch: map the arriving edges' endpoints through the
  current labels (unseen endpoints label themselves), keep the pairs
  whose labels differ, and run the BATCH CC operator on that CONTRACTED
  delta graph only. Its result is a root map old_label -> new min;
  composing it over the labels table (and the batch's endpoints)
  restores the invariant. Work per batch scales with the delta and the
  components it touches — never with the accumulated edge count.
  The min label composes: labels hold the min id of each component so
  far, the contracted solve takes mins of those mins, so by induction
  every vertex ends at the min id of its full component.
* **Scale note on the snapshot write.** The root map is tiny (one row
  per merged component) and broadcast into the compose join; only rows
  whose component is in the map actually change. This sandbox rewrites
  the labels snapshot per batch (parquet, _SUCCESS-gated); the 100 TB
  deployment makes the compose an Iceberg ``MERGE INTO`` on the
  component column (plans/iceberg.py seam) so the write is also
  delta-sized. The algorithm is unchanged.
* **Restart safety.** Snapshots are written under
  ``labels_dir/batch=<id>`` and committed by parquet's _SUCCESS marker;
  a batch reads the latest committed snapshot with a STRICTLY smaller
  batch id, so replaying a batch after a crash (foreachBatch's
  at-least-once contract) recomputes from the same input state and
  idempotently overwrites its own snapshot. Per-batch metrics land in
  ``labels_dir/metrics/batch=<id>`` for lineage.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..operators.components import connected_components
from ..plans.superstep import LOCAL_MAX_EDGES
from ..sources.edges import build_graph

EDGE_STREAM_SCHEMA = StructType(
    [
        StructField("src", LongType()),
        StructField("dst", LongType()),
    ]
)

_LABEL_SCHEMA = "id long, component long"


def _latest_committed(labels_dir: str, before_batch: int) -> int | None:
    best = None
    if not os.path.isdir(labels_dir):
        return None
    for name in os.listdir(labels_dir):
        if not name.startswith("batch="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if b < before_batch and os.path.exists(
            os.path.join(labels_dir, name, "_SUCCESS")
        ):
            best = b if best is None or b > best else best
    return best


def read_labels(
    spark: SparkSession, labels_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """Latest committed labels snapshot (strictly before ``before_batch``
    if given), or None if no batch has committed yet."""
    b = _latest_committed(
        labels_dir, 2**62 if before_batch is None else before_batch
    )
    if b is None:
        return None
    return spark.read.parquet(f"{labels_dir}/batch={b}")


def _cc_step(labels_dir: str, local_max_edges: int):
    def step(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = read_labels(spark, labels_dir, before_batch=batch_id)
        if prev is None:
            prev = spark.createDataFrame([], _LABEL_SCHEMA)
        e = (
            batch_df.select("src", "dst")
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # endpoints -> current labels (unseen endpoints label themselves)
        ls = prev.select(F.col("id").alias("src"), F.col("component").alias("ls"))
        ld = prev.select(F.col("id").alias("dst"), F.col("component").alias("ld"))
        lab = (
            e.join(ls, "src", "left")
            .join(ld, "dst", "left")
            .select(
                "src",
                "dst",
                F.coalesce("ls", "src").alias("ls"),
                F.coalesce("ld", "dst").alias("ld"),
            )
            .localCheckpoint(eager=True)
        )
        # the batch's endpoints with their pre-merge labels (one row per
        # endpoint; new vertices enter the labels table through this)
        touched = (
            lab.select(F.col("src").alias("id"), F.col("ls").alias("component"))
            .unionByName(
                lab.select(F.col("dst").alias("id"), F.col("ld").alias("component"))
            )
            .distinct()
        )
        contracted = lab.filter(F.col("ls") != F.col("ld")).select("ls", "ld")
        n_contracted = contracted.count()
        if n_contracted > 0:
            g = build_graph(
                contracted.select(F.col("ls").alias("a"), F.col("ld").alias("b")),
                relabel=False,
            )
            sub = connected_components(g, local_max_edges=local_max_edges)
            roots = sub.filter(F.col("component") != F.col("id")).select(
                F.col("id").alias("old_c"), F.col("component").alias("new_c")
            )
        else:
            roots = spark.createDataFrame([], "old_c long, new_c long")
        # compose: only rows whose component is in the (tiny) root map
        # change — broadcast, never a full shuffle of the labels table
        merged = (
            prev.unionByName(touched)
            .distinct()
            .join(
                F.broadcast(roots),
                F.col("component") == F.col("old_c"),
                "left",
            )
            .select(
                "id", F.coalesce("new_c", "component").alias("component")
            )
        )
        out = f"{labels_dir}/batch={batch_id}"
        merged.write.mode("overwrite").parquet(out)
        n_labels = spark.read.parquet(out).count()
        mdir = f"{labels_dir}/metrics/batch={batch_id}"
        os.makedirs(mdir, exist_ok=True)
        with open(f"{mdir}/metrics.json", "w") as fh:
            json.dump(
                {
                    "batch_id": batch_id,
                    "n_batch_edges": e.count(),
                    "n_contracted_pairs": n_contracted,
                    "n_merged_components": roots.count(),
                    "n_labels": n_labels,
                },
                fh,
            )

    return step


def run_incremental_cc(
    spark: SparkSession,
    in_dir: str,
    labels_dir: str,
    ck_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    local_max_edges: int = LOCAL_MAX_EDGES,
) -> None:
    """Replay the edge-file stream in ``in_dir`` through the incremental
    CC maintainer; blocks until the available data is drained. Re-running
    with the same ``ck_dir`` after more files land (or after a crash)
    resumes from the streaming checkpoint and the last committed labels
    snapshot."""
    reader = (
        spark.readStream.schema(EDGE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )
    writer = reader.writeStream.foreachBatch(
        _cc_step(labels_dir, local_max_edges)
    ).option("checkpointLocation", ck_dir)
    if available_now:
        q = writer.trigger(availableNow=True).start()
    else:  # pragma: no cover - continuous mode is exercised manually
        q = writer.start()
    q.awaitTermination()
