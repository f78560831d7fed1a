"""The three benchmark workloads, driven through the program's public API.

Each workload has a set-up (Spark session, and for the two prebuilt-graph
workloads the graph build) and a timed operation that returns collected
outputs for the oracles. All program calls go through
``Tracer.span(layer)`` so the traced run can attribute time and Spark
jobs to layers without touching the program.
"""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import sys
import time

import numpy as np

# conversations per workload input, and the share of assistant turns that
# call a tool (each tool call links to the next call of the same tool)
CONVS = {"ingest_louvain": 20_000, "louvain_supersteps": 5_000, "vertex_programs": 5_000}
TOOL_RATE = {"ingest_louvain": 0.25, "louvain_supersteps": 0.75, "vertex_programs": 0.75}
# louvain_supersteps runs level 0 only, for exactly six rounds: the early
# stop ends it after round 5, the first that the default adaptive mode runs
# on the Arrow kernel, and a negative threshold turns off the modularity-gain
# test. On the tool-rich graph every seed surveyed (1-20) still moves 11-26
# vertices in round 4, so no seed runs out of moves a round early and makes
# wall_s jump between seeds
SUPERSTEP_LEVELS = 1
SUPERSTEP_MAX_ROUND = 5
SUPERSTEP_THRESHOLD = -1.0
PR_ALPHA = 0.85
PR_ITERS = 5
LPA_ITERS = 2
# env vars the program reads; the measured process must not inherit them
PROGRAM_ENV = ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_GRAFT_DUMP_PLAN_DIR")
# a fixed, pre-touched heap: peak RSS then reads heap + everything else
# instead of the moment G1 happened to grow the heap (1.6-2.3 GB swings)
DRIVER_MEMORY = "2g"
DRIVER_JAVA_OPTIONS = "-Xms2g -XX:+AlwaysPreTouch"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def scrub_env(work: str) -> None:
    """Pin the measured process's environment: no program knobs, all
    scratch files under ``work``, workers on this interpreter."""
    for k in PROGRAM_ENV + ("SPARK_LOCAL_DIRS", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included, would otherwise write
    # its perf-data file under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def start_session(work: str, trace: bool):
    from louvain_fast_move_cuda_spark.session import get_spark

    n = cpus()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"{DRIVER_JAVA_OPTIONS} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.ui.enabled"] = "true"
        conf["spark.ui.port"] = str(_free_port())
    return get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )


def stop_session(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the JVM the gateway
    launched: SIGTERM once the context has stopped, SIGKILL if it lingers."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None) if shutdown_jvm else None
    if proc is None:
        return
    proc.stdin.close()
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


# --- program calls ----------------------------------------------------------


def build_graph(spark, path: str, tr):
    """transcripts parquet -> GraphTables through the sources layer.

    The canonical edge table is checkpointed exactly as the program's own
    ``transcript_graph`` does; every other step stays lazy unless traced.
    """
    from pyspark.sql import functions as F

    from louvain_fast_move_cuda_spark.sources.edges import (
        GraphTables,
        canonicalize_edges,
        derive_edges_from_transcripts,
        symmetrize,
        vertex_weights,
    )

    with tr.span("sources.derive"):
        raw = tr.force(derive_edges_from_transcripts(spark.read.parquet(path)))
    with tr.span("sources.canonicalize"):
        canon = canonicalize_edges(raw).localCheckpoint(eager=True)
    with tr.span("sources.symmetrize"):
        edges = tr.force(symmetrize(canon))
    with tr.span("sources.degrees"):
        verts = tr.force(vertex_weights(edges))
        agg = edges.agg(
            F.sum("weight").alias("w2"), F.max("dst").alias("mx"), F.count("*").alias("ne")
        ).collect()[0]
    g = GraphTables(edges=edges, vertices=verts, m=float(agg["w2"]) / 2.0,
                    n_nodes=int(agg["mx"]) + 1)
    return g, int(agg["ne"])


def louvain_outputs(res, labels_pdf) -> dict:
    return {
        "ids": labels_pdf["orig_id"].to_numpy(),
        "labels": labels_pdf["community"].to_numpy(),
        "modularity": float(res.modularity),
        "n_communities": int(res.n_communities),
        "levels": int(res.levels),
        "metrics": list(res.metrics),
    }


def run_ingest_louvain(ctx, tr) -> dict:
    import pyarrow.parquet as pq

    from louvain_fast_move_cuda_spark.operators.louvain import louvain

    g, ne = build_graph(ctx.spark, ctx.input_path, tr)
    with tr.span("louvain"):
        res = louvain(g)
        tr.force(res.labels)
    out_dir = os.path.join(ctx.work, "labels")
    with tr.span("sink"):
        res.labels.write.mode("overwrite").parquet(out_dir)
    ctx.stop_clock()
    # outside the timed section: read the written labels back without Spark
    out = louvain_outputs(res, pq.read_table(out_dir).to_pandas())
    out["graph"] = g
    out["directed_edges"] = ne
    return out


def run_louvain_supersteps(ctx, tr) -> dict:
    from louvain_fast_move_cuda_spark.operators.louvain import louvain

    with tr.span("louvain"):
        # level 0 plus its coarsening, every round on Spark
        res = louvain(ctx.graph, local_finish_max_edges=0, max_levels=SUPERSTEP_LEVELS,
                      early_stop_limit=SUPERSTEP_MAX_ROUND, threshold=SUPERSTEP_THRESHOLD)
        labels = res.labels.toPandas()
    ctx.stop_clock()
    return louvain_outputs(res, labels)


def run_vertex_programs(ctx, tr) -> dict:
    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
    from louvain_fast_move_cuda_spark.operators.triangles import triangle_count

    g = ctx.graph
    with tr.span("pagerank"):
        pr = pagerank(g, alpha=PR_ALPHA, max_iter=PR_ITERS, tol=1e-12, local_max_edges=0).toPandas()
    with tr.span("components"):
        cc = connected_components(g, local_max_edges=0).toPandas()
    with tr.span("labelprop"):
        lp = label_propagation(g, max_iter=LPA_ITERS, local_max_edges=0).toPandas()
    with tr.span("triangles"):
        tri = int(triangle_count(g))
    ctx.stop_clock()
    return {
        "pr_ids": pr["id"].to_numpy(), "pr": pr["rank"].to_numpy(),
        "cc_ids": cc["id"].to_numpy(), "cc": cc["component"].to_numpy(),
        "lp_ids": lp["id"].to_numpy(), "lp": lp["label"].to_numpy(),
        "triangles": tri,
    }


RUN = {
    "ingest_louvain": run_ingest_louvain,
    "louvain_supersteps": run_louvain_supersteps,
    "vertex_programs": run_vertex_programs,
}
PREBUILT = {"louvain_supersteps", "vertex_programs"}


# --- checks -----------------------------------------------------------------


def graph_arrays(g) -> tuple[np.ndarray, np.ndarray]:
    e = g.edges.select("src", "dst").toPandas()
    return e["src"].to_numpy(), e["dst"].to_numpy()


def check(workload: str, out: dict, ref) -> list[str]:
    """Every oracle check of one iteration's outputs."""
    if workload in ("ingest_louvain", "louvain_supersteps"):
        return ref.check_louvain(out["ids"], out["labels"], out["modularity"], out["n_communities"])
    errs = ref.check_pagerank(out["pr_ids"], out["pr"], PR_ALPHA, PR_ITERS)
    errs += ref.check_components(out["cc_ids"], out["cc"])
    errs += ref.check_label_propagation(out["lp_ids"], out["lp"], LPA_ITERS)
    errs += ref.check_triangles(out["triangles"])
    return errs


def corrupt(workload: str, out: dict) -> None:
    """Relabel one vertex of the primary output (self-test hook)."""
    if workload == "vertex_programs":
        cc = out["cc"].copy()
        cc[0] = cc.max() + 1
        out["cc"] = cc
    else:
        lab = out["labels"].copy()
        lab[0] = (lab[0] + 1) % max(2, out["n_communities"])
        out["labels"] = lab


def clean_work(work: str) -> None:
    for sub in ("spark-local", "labels", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)


class Context:
    """Per-run state shared by the set-up and the timed operation."""

    def __init__(self, work: str, input_path: str):
        self.work = work
        self.input_path = input_path
        self.spark = None
        self.graph = None
        self.t_stop = None

    def stop_clock(self) -> None:
        self.t_stop = time.perf_counter()
