"""Extra benchmarks for optimization work (guide §1.4): NOT the driver
metric — bench.py stays frozen. Each mode isolates one operator with the
noop sink / scalar action it really pays, labels jobs, and can dump
.explain("formatted") plans for plans/r06/.

Usage:
    python bench_extra.py louvain_rounds      # per-round sec for the distributed loop
    python bench_extra.py pagerank            # distributed pagerank, per-iter wall
    python bench_extra.py cc | lpa            # distributed cc / lpa
    python bench_extra.py graph_build         # transcript_graph phases
    python bench_extra.py minhash | ann | triangles
    python bench_extra.py ann_extras          # the untimed bench tail (recall metrics)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from louvain_fast_move_cuda_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"}
    # A/B knob: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" applied on top
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    return get_spark(app_name="bench_extra", master=f"local[{CPUS}]",
                     shuffle_partitions=max(8, CPUS), extra_conf=extra)


def _sched_counts(spark):
    """Noise-free structural metrics: total jobs / stages / tasks so far
    (monitoring REST API). Wall-clock on this host swings ±20% with CPU
    throttling; scheduling counts are deterministic for a fixed plan."""
    try:
        import json as _json
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/jobs", timeout=10) as r:
            jobs = _json.loads(r.read().decode())
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=COMPLETE", timeout=10
        ) as r:
            stages = _json.loads(r.read().decode())
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "shuffle_write_mb": round(
                sum(s.get("shuffleWriteBytes", 0) for s in stages) / 1e6, 1
            ),
        }
    except Exception as e:  # pragma: no cover - diagnostics only
        return {"err": str(e)}


def _graph(spark):
    from pyspark.sql import functions as F  # noqa: F401
    from louvain_fast_move_cuda_spark.sources.transcripts import transcript_graph

    t0 = time.time()
    _, _, g = transcript_graph(spark, SF_DIR)
    g.edges = g.edges.repartition(max(8, CPUS), "src").localCheckpoint(eager=True)
    g.vertices = g.vertices.localCheckpoint(eager=True)
    n = g.edges.count()
    return g, n, time.time() - t0


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "louvain_rounds"
    from pyspark.sql import functions as F

    spark = _spark()
    sc = spark.sparkContext
    out: dict = {"mode": mode}

    if mode == "louvain_rounds":
        from louvain_fast_move_cuda_spark.operators.louvain import louvain

        g, n, tb = _graph(spark)
        out["graph_build_sec"] = round(tb, 3)
        sc.setJobDescription("louvain_distributed")
        t0 = time.time()
        res = louvain(g, local_finish_max_edges=0)
        out["louvain_distributed_sec"] = round(time.time() - t0, 3)
        out["modularity"] = res.modularity
        out["sched"] = _sched_counts(spark)
        out["rounds"] = [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in mt.items()}
            for mt in res.metrics
        ]
    elif mode == "louvain_lvl0":
        from louvain_fast_move_cuda_spark.operators.louvain import louvain

        g, n, tb = _graph(spark)
        out["graph_build_sec"] = round(tb, 3)
        sc.setJobDescription("louvain_lvl0")
        t0 = time.time()
        res = louvain(g, local_finish_max_edges=0, max_levels=1,
                      broadcast_moves_max=5_000_000)
        out["louvain_lvl0_sec"] = round(time.time() - t0, 3)
        out["modularity"] = res.modularity
        out["rounds"] = [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in mt.items()}
            for mt in res.metrics
        ]
    elif mode == "pagerank":
        from louvain_fast_move_cuda_spark.operators.pagerank import pagerank

        g, n, tb = _graph(spark)
        out["graph_build_sec"] = round(tb, 3)
        sc.setJobDescription("pagerank_distributed")
        t0 = time.time()
        pagerank(g, max_iter=20, tol=1e-12, local_max_edges=0).agg(F.sum("rank")).collect()
        out["pagerank_distributed_sec"] = round(time.time() - t0, 3)
    elif mode == "cc":
        from louvain_fast_move_cuda_spark.operators.components import connected_components

        g, n, tb = _graph(spark)
        out["graph_build_sec"] = round(tb, 3)
        sc.setJobDescription("cc_distributed")
        t0 = time.time()
        connected_components(g, local_max_edges=0).agg(
            F.countDistinct("component")
        ).collect()
        out["cc_distributed_sec"] = round(time.time() - t0, 3)
    elif mode == "lpa":
        from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation

        g, n, tb = _graph(spark)
        out["graph_build_sec"] = round(tb, 3)
        sc.setJobDescription("lpa_distributed")
        t0 = time.time()
        label_propagation(g, max_iter=5, local_max_edges=0).agg(
            F.countDistinct("label")
        ).collect()
        out["lpa_distributed_sec"] = round(time.time() - t0, 3)
    elif mode == "graph_build":
        # phase split of transcript_graph so the 15-22 s has an address
        from louvain_fast_move_cuda_spark.sources.transcripts import (
            transcript_graph,
            transcripts_from_events,
        )
        from louvain_fast_move_cuda_spark.sources.edges import assign_contiguous_ids

        t0 = time.time()
        events = spark.read.parquet(f"{SF_DIR}/events.parquet")
        events.count()
        out["read_events_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        t = transcripts_from_events(events)
        ids = assign_contiguous_ids(t, ["conv_id", "turn_idx"], id_col="vid")
        ids.write.format("noop").mode("overwrite").save()
        out["assign_ids_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        _, _, g = transcript_graph(spark, SF_DIR)
        out["transcript_graph_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        g.edges = g.edges.repartition(max(8, CPUS), "src").localCheckpoint(eager=True)
        g.edges.count()
        out["repartition_checkpoint_sec"] = round(time.time() - t0, 3)
    elif mode == "minhash":
        from louvain_fast_move_cuda_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
            shingles,
        )

        sc.setJobDescription("minhash")
        t0 = time.time()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        sigs = minhash_signatures(shingles(docs, k=5), num_hashes=32)
        minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).count()
        out["minhash_sec"] = round(time.time() - t0, 3)
    elif mode == "triangles":
        from louvain_fast_move_cuda_spark.operators.triangles import triangle_count

        g, n, tb = _graph(spark)
        sc.setJobDescription("triangles")
        t0 = time.time()
        out["n_triangles"] = triangle_count(g)
        out["triangles_sec"] = round(time.time() - t0, 3)
    elif mode in ("ann", "ann_extras"):
        from louvain_fast_move_cuda_spark.operators.similarity import (
            brute_force_topk,
            ivf_assign,
            ivf_topk,
        )

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        queries = emb.filter(F.col("vec_id") < 50)
        if mode == "ann":
            sc.setJobDescription("ann: ivf_topk cold")
            t0 = time.time()
            ivf = ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=8)
            ivf.collect()
            out["ann_sec"] = round(time.time() - t0, 3)
        else:
            # the untimed tail of bench.py's ann block, piece by piece
            t0 = time.time()
            idx_cents, idx_assigned = ivf_assign(emb, n_centroids=16)
            idx_assigned = idx_assigned.localCheckpoint(eager=True)
            out["ivf_assign_sec"] = round(time.time() - t0, 3)
            t0 = time.time()
            ivf_topk(emb, emb.filter(F.col("vec_id").between(50, 99)), k=10,
                     index=(idx_cents, idx_assigned), nprobe=8).count()
            out["repeat_query_sec"] = round(time.time() - t0, 3)
            t0 = time.time()
            brute_force_topk(emb, queries, k=10).collect()
            out["brute_force_sec"] = round(time.time() - t0, 3)
            t0 = time.time()
            ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4).collect()
            out["ivf4_sec"] = round(time.time() - t0, 3)
            dim = len(emb.select("embedding").first()[0])
            n_cl = 64
            clustered = emb.select(
                "vec_id",
                F.transform(
                    F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda d: (
                        (F.pmod(F.xxhash64(F.pmod(F.col("vec_id"), F.lit(n_cl)), d), F.lit(2001)) - 1000)
                        / 1000.0
                        + (F.pmod(F.xxhash64(F.col("vec_id"), d, F.lit(7)), F.lit(201)) - 100)
                        / 1000.0
                    ),
                ).alias("embedding"),
            ).localCheckpoint(eager=True)
            cq = clustered.filter(F.col("vec_id") < 50)
            t0 = time.time()
            ivf_topk(clustered, cq, k=10, n_centroids=16).collect()
            out["ivf_clustered_sec"] = round(time.time() - t0, 3)
            t0 = time.time()
            brute_force_topk(clustered, cq, k=10).collect()
            out["brute_clustered_sec"] = round(time.time() - t0, 3)
    else:
        raise SystemExit(f"unknown mode {mode}")

    print(json.dumps(out))


if __name__ == "__main__":
    main()
