"""Durable per-superstep checkpointing with per-partition lineage metrics.

North-rule requirement: every superstep checkpoints its state so runs
resume mid-iteration. The reference keeps all state resident on one GPU
(community.h); at 10^12-turn scale state must instead round-trip through
a table format. We write parquet
(Iceberg-shaped layout: one directory per superstep + a JSON manifest
committed last, so a torn write is never visible to resume).

Layout:
    <root>/level=<L>/round=<R>/{edges_state,labels}/
    <root>/level=<L>/round=<R>/_META.json     (commit marker, written last)

The Louvain edge state is the whole vertex state: the frontier is its
``dm`` column ("dst moved in the previous round") and a vertex's degree
its ``k_src`` column, so no vertex table is written.

_META.json records q, q_level_start, the level's vertex count,
timestamps, per-partition row counts of the edge state
(lineage/metrics per north_rule) and the round's metric record, whose
``done`` is the stop test the run evaluated after that round: a resume
reads it instead of re-deriving it, as ``plans/superstep.py::supersteps``
does for the vertex programs.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class SuperstepState:
    edges_state: DataFrame
    labels: DataFrame
    level: int
    round: int
    q: float
    q_level_start: float
    n_vertices: int  # the level's vertex count
    metric: dict | None = None  # the saved round's {n_moves, dq, ..., done}:
    # ``done`` says whether that round ended its level's optimization phase


def _write(d: str, tables: dict[str, DataFrame], meta: dict) -> None:
    """Write ``tables`` as parquet under ``d``, add the first one's
    per-partition row counts to ``meta`` as ``<name>_partitions``, and
    commit ``d`` by writing ``meta`` as its _META.json, last."""
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(d, name))
    name, df = next(iter(tables.items()))
    parts = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    meta[f"{name}_partitions"] = {int(r["pid"]): int(r["count"]) for r in parts}
    tmp = os.path.join(d, "_META.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(d, "_META.json"))  # atomic commit marker


def _latest(root: str, keys: tuple[str, ...]):
    """``(index, dir, meta)`` of the latest committed directory under
    ``root`` whose path components are ``<key>=<int>`` for ``keys`` in
    order: of those holding a _META.json, the one whose integers form the
    largest tuple. A directory without its commit marker (a torn write) is
    never seen. None when there is none."""
    pattern = os.path.join(glob.escape(root), *(f"{k}=*" for k in keys), "_META.json")
    found = []
    for path in glob.glob(pattern):
        d = os.path.dirname(path)
        parts = os.path.relpath(d, root).split(os.sep)
        found.append((tuple(int(p.split("=", 1)[1]) for p in parts), d))
    if not found:
        return None
    index, d = max(found)
    with open(os.path.join(d, "_META.json")) as f:
        return index, d, json.load(f)


class SuperstepCheckpointer:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def save(
        self,
        level: int,
        rnd: int,
        edges_state: DataFrame,
        labels: DataFrame,
        q: float,
        q_level_start: float,
        n_vertices: int,
        metric: dict | None = None,
    ) -> None:
        meta = {
            "level": level,
            "round": rnd,
            "q": q,
            "q_level_start": q_level_start,
            "n_vertices": n_vertices,
            "ts": time.time(),
            "metric": metric or {},
        }
        d = os.path.join(self.root, f"level={level}", f"round={rnd}")
        _write(d, {"edges_state": edges_state, "labels": labels}, meta)

    def load_latest(self, spark: SparkSession) -> SuperstepState | None:
        latest = _latest(self.root, ("level", "round"))
        if latest is None:
            return None
        (level, rnd), d, meta = latest
        return SuperstepState(
            edges_state=spark.read.parquet(os.path.join(d, "edges_state")),
            labels=spark.read.parquet(os.path.join(d, "labels")),
            level=level,
            round=rnd,
            q=float(meta["q"]),
            q_level_start=float(meta["q_level_start"]),
            n_vertices=int(meta["n_vertices"]),
            metric=meta.get("metric") or {},
        )


class VertexIterationCheckpointer:
    """Durable per-iteration checkpointing for the single-table algorithms
    (PageRank ranks, LPA labels, CC's contracted edge set).

    Same commit discipline as SuperstepCheckpointer: one directory per
    iteration, state parquet first, JSON manifest (with algo tag,
    convergence metric and per-partition row counts) renamed into place
    last — a torn write is never visible to resume.

    Layout:
        <root>/iter=<I>/state/
        <root>/iter=<I>/_META.json
    """

    def __init__(self, root: str, algo: str):
        self.root = root
        self.algo = algo
        os.makedirs(root, exist_ok=True)

    def save(self, iteration: int, state: DataFrame, metric: dict | None = None) -> None:
        meta = {
            "algo": self.algo,
            "iteration": iteration,
            "ts": time.time(),
            "metric": metric or {},
        }
        d = os.path.join(self.root, f"iter={iteration}")
        _write(d, {"state": state}, meta)

    def load_latest(self, spark: SparkSession):
        """-> (iteration, state DataFrame, metric dict) or None."""
        latest = _latest(self.root, ("iter",))
        if latest is None:
            return None
        (iteration,), d, meta = latest
        if meta.get("algo") != self.algo:
            raise ValueError(
                f"checkpoint dir {self.root!r} belongs to algo {meta.get('algo')!r}, "
                f"not {self.algo!r}"
            )
        return iteration, spark.read.parquet(os.path.join(d, "state")), meta.get("metric") or {}
