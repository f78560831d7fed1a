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
timestamps and per-partition row counts of the edge state
(lineage/metrics per north_rule).
"""

from __future__ import annotations

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
    metric: dict | None = None  # the saved round's {n_moves, dq, ...} — resume
    # uses it to decide whether the inner loop had already terminated


def _commit(d: str, meta: dict, key: str, df: DataFrame) -> None:
    """Add ``df``'s per-partition row counts to ``meta`` under ``key`` and
    write it as ``d``'s _META.json, the commit marker written last."""
    parts = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    meta[key] = {int(r["pid"]): int(r["count"]) for r in parts}
    tmp = os.path.join(d, "_META.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(d, "_META.json"))  # atomic commit marker


class SuperstepCheckpointer:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, level: int, rnd: int) -> str:
        return os.path.join(self.root, f"level={level}", f"round={rnd}")

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
        d = self._dir(level, rnd)
        edges_state.write.mode("overwrite").parquet(os.path.join(d, "edges_state"))
        labels.write.mode("overwrite").parquet(os.path.join(d, "labels"))
        meta = {
            "level": level,
            "round": rnd,
            "q": q,
            "q_level_start": q_level_start,
            "n_vertices": n_vertices,
            "ts": time.time(),
            "metric": metric or {},
        }
        _commit(d, meta, "edges_state_partitions", edges_state)

    def load_latest(self, spark: SparkSession) -> SuperstepState | None:
        best = None
        if not os.path.isdir(self.root):
            return None
        for lv in os.listdir(self.root):
            if not lv.startswith("level="):
                continue
            level = int(lv.split("=")[1])
            for rd in os.listdir(os.path.join(self.root, lv)):
                if not rd.startswith("round="):
                    continue
                rnd = int(rd.split("=")[1])
                meta_path = os.path.join(self.root, lv, rd, "_META.json")
                if os.path.exists(meta_path) and (best is None or (level, rnd) > best):
                    best = (level, rnd)
        if best is None:
            return None
        level, rnd = best
        d = self._dir(level, rnd)
        with open(os.path.join(d, "_META.json")) as f:
            meta = json.load(f)
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

    def _dir(self, iteration: int) -> str:
        return os.path.join(self.root, f"iter={iteration}")

    def save(self, iteration: int, state: DataFrame, metric: dict | None = None) -> None:
        d = self._dir(iteration)
        state.write.mode("overwrite").parquet(os.path.join(d, "state"))
        meta = {
            "algo": self.algo,
            "iteration": iteration,
            "ts": time.time(),
            "metric": metric or {},
        }
        _commit(d, meta, "state_partitions", state)

    def load_latest(self, spark: SparkSession):
        """-> (iteration, state DataFrame, metric dict) or None."""
        best = None
        if not os.path.isdir(self.root):
            return None
        for it in os.listdir(self.root):
            if not it.startswith("iter="):
                continue
            iteration = int(it.split("=")[1])
            meta_path = os.path.join(self.root, it, "_META.json")
            if os.path.exists(meta_path) and (best is None or iteration > best):
                best = iteration
        if best is None:
            return None
        d = self._dir(best)
        with open(os.path.join(d, "_META.json")) as f:
            meta = json.load(f)
        if meta.get("algo") != self.algo:
            raise ValueError(
                f"checkpoint dir {self.root!r} belongs to algo {meta.get('algo')!r}, "
                f"not {self.algo!r}"
            )
        return best, spark.read.parquet(os.path.join(d, "state")), meta.get("metric") or {}
