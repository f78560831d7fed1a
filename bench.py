"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline metric = total wall seconds of the query suite; the JSON also
carries the BASELINE.json target metric (Louvain fast-move edges/sec per
iteration) computed from the per-round metrics of the Louvain run.

Modes:
    python bench.py                         # full suite (driver entry point)
    python bench.py --queries louvain       # subset
    python bench.py --scaling               # N-vs-4N-cores scaling proxy:
        reruns the Louvain job in two subprocesses (SPARK_GRAFT_CPUS=8 and
        =32, shuffle partitions scaled alike) on the SAME synthesized
        input and reports throughput at both + scaling efficiency
        (BASELINE.json: >=0.8 from N to 4N executors; sandbox proxy per
        BASELINE.md since no real cluster exists here).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# driver-local tail threshold (0 = always distributed — used by --scaling
# so the efficiency number measures the distributed kernel, not NumPy)
LOCAL_FINISH = int(os.environ.get("SPARK_GRAFT_LOCAL_FINISH_MAX_EDGES", "5000000"))
# broadcast-vs-shuffle threshold for move sets / community weights: at
# ~30M-vertex scale a round-0 move set (~12M rows, ~250 MB) broadcasts
# comfortably, replacing 3 edge-table shuffles per early round
BCAST_MAX = int(os.environ.get("SPARK_GRAFT_BCAST_MAX", "5000000"))


def _exec_mem_mb(val: str) -> int:
    """Normalize a JVM memory size ('8g', '8G', '8192m', '8192') to MB.

    Used for BOTH spark.executor.memory and the local-cluster master
    string's MB field so the two can never disagree."""
    v = val.strip().lower()
    if v.endswith("g"):
        return 1024 * int(v[:-1])
    if v.endswith("m"):
        return int(v[:-1])
    return int(v)  # bare number = MB (the local-cluster convention)


def _shuffle_totals(spark):
    """(shuffle_read_bytes, shuffle_write_bytes) summed over completed
    stages, from the Spark UI monitoring REST API (a public, stable
    API). None on any failure (UI disabled, port race, ...) — metrics
    must never kill a leg."""
    try:
        import json as _json
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        url = f"{base}/api/v1/applications/{app}/stages?status=COMPLETE"
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = _json.loads(r.read().decode())
        return (
            sum(s.get("shuffleReadBytes", 0) for s in stages),
            sum(s.get("shuffleWriteBytes", 0) for s in stages),
        )
    except Exception:
        return None


def _sf(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_suite(names: list[str] | None, scaling_convs: int | None = None) -> dict:
    from pyspark.sql import functions as F

    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        shingles,
    )
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.louvain import louvain
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
    from louvain_fast_move_cuda_spark.operators.similarity import ivf_topk
    from louvain_fast_move_cuda_spark.operators.triangles import triangle_count
    from louvain_fast_move_cuda_spark.session import get_spark
    from louvain_fast_move_cuda_spark.sources.edges import (
        GraphTables,
        canonicalize_edges,
        symmetrize,
        vertex_weights,
    )
    from louvain_fast_move_cuda_spark.sources.transcripts import (
        synthesize_transcripts,
        transcript_graph,
    )

    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{CPUS}]")
    extra_conf = None
    if os.environ.get("SPARK_GRAFT_UI") == "1":
        # the UI (off by default: session.py) carries the monitoring
        # REST API that _shuffle_totals reads; scaling legs turn it on
        extra_conf = {"spark.ui.enabled": "true"}
    if master.startswith("local-cluster"):
        # local-cluster[W,C,M]: W worker JVMs x C cores — the closest this
        # sandbox gets to executor-count (not core-count) scaling
        extra_conf = dict(extra_conf or {})
        extra_conf["spark.executor.memory"] = (
            f"{_exec_mem_mb(os.environ.get('SPARK_GRAFT_EXEC_MEM', '8g'))}m"
        )
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir:
            # e.g. /dev/shm/spark: keep shuffle files off the disk path
            extra_conf["spark.local.dir"] = local_dir
    if os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS"):
        # memory/bus trade knob (VERDICT r3 #6): this box is bus-bound,
        # so compression trades CPU cycles against bytes moved
        extra_conf = dict(extra_conf or {})
        extra_conf["spark.shuffle.compress"] = os.environ["SPARK_GRAFT_SHUFFLE_COMPRESS"]
    spark = get_spark(
        app_name="bench", master=master, shuffle_partitions=max(8, CPUS),
        extra_conf=extra_conf,
    )
    timings: dict[str, float] = {}
    extra: dict = {}

    t0 = time.time()
    scaling_edges = os.environ.get("SPARK_GRAFT_SCALING_EDGES")
    if scaling_edges:
        # pre-materialized scaling graph (--materialize-scaling-graph):
        # legs skip synthesis + canonicalization entirely, so nearly all
        # of a leg's wall-clock is the metric's distributed rounds
        with open(os.path.join(scaling_edges, "_meta.json")) as fh:
            meta = json.load(fh)
        edges = (
            spark.read.parquet(os.path.join(scaling_edges, "edges"))
            .repartition(max(8, CPUS), "src")
            .localCheckpoint(eager=True)
        )
        verts = (
            spark.read.parquet(os.path.join(scaling_edges, "vertices"))
            .localCheckpoint(eager=True)
        )
        g = GraphTables(
            edges=edges, vertices=verts, m=meta["m"], n_nodes=meta["n_nodes"]
        )
    elif scaling_convs:
        # deterministic synthetic transcripts at a size where per-round work
        # dominates scheduling overhead (same input at every parallelism)
        from louvain_fast_move_cuda_spark.sources.edges import derive_edges_from_transcripts

        t = synthesize_transcripts(spark, n_convs=scaling_convs, seed=42)
        raw = derive_edges_from_transcripts(t)
        canon = canonicalize_edges(raw)
        edges = symmetrize(canon).repartition(max(8, CPUS), "src").localCheckpoint(eager=True)
        verts = vertex_weights(edges).localCheckpoint(eager=True)
        m = float(edges.agg(F.sum("weight")).collect()[0][0]) / 2.0
        g = GraphTables(edges=edges, vertices=verts, m=m, n_nodes=verts.count())
    else:
        _, _, g = transcript_graph(spark, SF_DIR)
        g.edges = g.edges.repartition(max(8, CPUS), "src").localCheckpoint(eager=True)
        g.vertices = g.vertices.localCheckpoint(eager=True)
    n_directed = g.edges.count()
    timings["graph_build"] = time.time() - t0
    extra["n_edges_directed"] = n_directed
    extra["n_vertices"] = g.n_nodes

    def want(n):
        return names is None or n in names

    if want("louvain"):
        t0 = time.time()
        res = louvain(g, local_finish_max_edges=LOCAL_FINISH)
        timings["louvain"] = time.time() - t0
        opt_rounds = [mt for mt in res.metrics if mt.get("round", -1) >= 0]
        extra["louvain_spark_rounds"] = sum(
            1 for mt in opt_rounds if mt.get("engine") != "local"
        )
        extra["louvain_local_rounds"] = sum(
            1 for mt in opt_rounds if mt.get("engine") == "local"
        )
        opt_sec = sum(mt["sec"] for mt in opt_rounds)
        # every inner round scores the full directed edge list of its level
        # (upper bound: frontier pruning shrinks late rounds) — the
        # reference's metric is edges/sec per optimization iteration
        extra["louvain_modularity"] = res.modularity
        extra["louvain_levels"] = res.levels
        extra["louvain_rounds"] = len(opt_rounds)
        extra["louvain_edges_per_sec_per_iter"] = (
            n_directed * len(opt_rounds) / opt_sec if opt_sec > 0 else 0.0
        )
        # distributed-regime throughput: level-0 rounds on the Spark engine
        # (the regime where cluster size matters; coarse tails run local).
        # Each level-0 round scores <= the full directed edge list.
        lvl0 = [
            mt for mt in opt_rounds
            if mt.get("engine") != "local" and mt.get("level") == 0
        ]
        lvl0_sec = sum(mt["sec"] for mt in lvl0)
        extra["louvain_spark_edges_per_sec_per_iter"] = (
            n_directed * len(lvl0) / lvl0_sec if lvl0_sec > 0 else 0.0
        )
    if want("louvain_lvl0"):
        # scaling-leg mode: ONLY the distributed level-0 optimization
        # rounds (max_levels=1, no local tail) — the regime the N->4N
        # efficiency number is about; everything else is leg overhead
        sh_before = _shuffle_totals(spark)
        t0 = time.time()
        res = louvain(
            g, local_finish_max_edges=0, max_levels=1,
            broadcast_moves_max=BCAST_MAX,
        )
        timings["louvain_lvl0"] = time.time() - t0
        sh_after = _shuffle_totals(spark)
        lvl0 = [mt for mt in res.metrics if mt.get("round", -1) >= 0]
        lvl0_sec = sum(mt["sec"] for mt in lvl0)
        extra["louvain_lvl0_rounds"] = len(lvl0)
        extra["louvain_lvl0_edges_per_sec_per_iter"] = (
            n_directed * len(lvl0) / lvl0_sec if lvl0_sec > 0 else 0.0
        )
        extra["louvain_lvl0_q"] = res.modularity
        if sh_before is not None and sh_after is not None and lvl0:
            # per-round shuffle volume: separates "fixed per-round
            # latency amortizing" from "shuffle bytes saturating the
            # bus" when reading the scaling table (BENCH.md)
            rd = sh_after[0] - sh_before[0]
            wr = sh_after[1] - sh_before[1]
            extra["louvain_lvl0_shuffle_read_bytes"] = rd
            extra["louvain_lvl0_shuffle_write_bytes"] = wr
            extra["louvain_lvl0_shuffle_mb_per_round"] = round(
                (rd + wr) / (1024 * 1024) / len(lvl0), 2
            )
        if names is not None and names == {"louvain_lvl0"}:
            # scaling legs parse these two keys; only publish them when
            # this is the sole query so they can't clobber the full louvain
            # run's metrics in a full-suite run
            extra["louvain_spark_rounds"] = len(lvl0)
            extra["louvain_spark_edges_per_sec_per_iter"] = extra[
                "louvain_lvl0_edges_per_sec_per_iter"
            ]
    if want("louvain_distributed"):
        # the 100 TB path end-to-end: every superstep on the Spark engine
        # (local tail disabled) — this is the timing that tracks the
        # scale-relevant plan round over round
        t0 = time.time()
        res = louvain(g, local_finish_max_edges=0)
        timings["louvain_distributed"] = time.time() - t0
        opt_rounds = [mt for mt in res.metrics if mt.get("round", -1) >= 0]
        opt_sec = sum(mt["sec"] for mt in opt_rounds)
        extra["louvain_distributed_rounds"] = len(opt_rounds)
        extra["louvain_distributed_edges_per_sec_per_iter"] = (
            n_directed * len(opt_rounds) / opt_sec if opt_sec > 0 else 0.0
        )
        extra["louvain_distributed_modularity"] = res.modularity
    if want("pagerank"):
        t0 = time.time()
        pagerank(g, max_iter=20, tol=1e-12).agg(F.sum("rank")).collect()
        timings["pagerank"] = time.time() - t0
    if want("pagerank_distributed"):
        t0 = time.time()
        pagerank(g, max_iter=20, tol=1e-12, local_max_edges=0).agg(F.sum("rank")).collect()
        timings["pagerank_distributed"] = time.time() - t0
    if want("cc"):
        t0 = time.time()
        connected_components(g).agg(F.countDistinct("component")).collect()
        timings["cc"] = time.time() - t0
    if want("cc_distributed"):
        t0 = time.time()
        connected_components(g, local_max_edges=0).agg(
            F.countDistinct("component")
        ).collect()
        timings["cc_distributed"] = time.time() - t0
    if want("lpa"):
        t0 = time.time()
        label_propagation(g, max_iter=5).agg(F.countDistinct("label")).collect()
        timings["lpa"] = time.time() - t0
    if want("lpa_distributed"):
        t0 = time.time()
        label_propagation(g, max_iter=5, local_max_edges=0).agg(
            F.countDistinct("label")
        ).collect()
        timings["lpa_distributed"] = time.time() - t0
    if want("triangles"):
        t0 = time.time()
        extra["n_triangles"] = triangle_count(g)
        timings["triangles"] = time.time() - t0
    if want("minhash"):
        t0 = time.time()
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        sigs = minhash_signatures(shingles(docs, k=5), num_hashes=32)
        minhash_lsh_candidates(sigs, bands=8, rows_per_band=4).count()
        timings["minhash"] = time.time() - t0
    if want("ann"):
        t0 = time.time()
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
        )
        queries = emb.filter(F.col("vec_id") < 50)
        # high-recall half-the-cells point (nprobe=8 at C=16) — explicit
        # since round 4: the library default is now the cheaper
        # ceil(sqrt(C)) (see ivf_probes' measured recall/cost table)
        ivf = ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=8)
        ivf_pairs = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
        timings["ann"] = time.time() - t0
        # prebuilt-index reuse: a second query batch must pay probes +
        # within-cell top-k only, never the 2 corpus scans of ivf_assign
        from louvain_fast_move_cuda_spark.operators.similarity import ivf_assign

        idx_cents, idx_assigned = ivf_assign(emb, n_centroids=16)
        idx_assigned = idx_assigned.localCheckpoint(eager=True)
        t0 = time.time()
        ivf_topk(
            emb, emb.filter(F.col("vec_id").between(50, 99)), k=10,
            index=(idx_cents, idx_assigned), nprobe=8,
        ).count()
        extra["ann_repeat_query_sec"] = round(time.time() - t0, 3)
        # recall@10 vs brute force (the IVF quality metric; measured, not
        # assumed — centroid training changes must not sag it)
        from louvain_fast_move_cuda_spark.operators.similarity import brute_force_topk

        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(emb, queries, k=10).collect()
        }
        extra["ann_ivf_recall_at_10"] = (
            round(len(ivf_pairs & exact) / len(exact), 4) if exact else 1.0
        )
        # recall/cost curve: a cheaper low-probe point (uniform-random
        # test embeddings are IVF's worst case — no cluster structure)
        ivf4 = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=4).collect()
        }
        extra["ann_ivf_recall_at_10_nprobe4"] = (
            round(len(ivf4 & exact) / len(exact), 4) if exact else 1.0
        )
        # IVF's intended regime: clustered embeddings under the LIBRARY
        # DEFAULT nprobe (ceil(sqrt(C)) = 4 at C=16) — the sublinear
        # default must hold full recall where cluster structure exists
        # (64 deterministic
        # hash-derived cluster centers + small per-vector noise, same
        # ids/dim as the uniform table, JVM-only expressions)
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
        ivf_cl = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(clustered, cq, k=10, n_centroids=16).collect()
        }
        exact_cl = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(clustered, cq, k=10).collect()
        }
        extra["ann_ivf_recall_at_10_clustered"] = (
            round(len(ivf_cl & exact_cl) / len(exact_cl), 4) if exact_cl else 1.0
        )

    return {"timings": timings, "extra": extra}


def main():
    args = sys.argv[1:]
    if "--scaling" in args:
        # same job, same input, two parallelism levels (N=8, 4N=32 cores)
        # sized so the level-0 graph (~5.8M directed edges) stays ABOVE the
        # 5M local-tail threshold: level 0 runs distributed (the regime the
        # efficiency number is about), coarse tails run local in both runs.
        # Legs alternate 8,32,32,8 (each core count gets one fresh-host
        # position) and each leg keeps its BEST throughput — this sandbox
        # throttles CPU after sustained load, which would otherwise punish
        # whichever leg runs later regardless of core count.
        convs = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "1500000"))
        order = [int(c) for c in os.environ.get("SPARK_GRAFT_SCALING_ORDER", "8,32,32,8").split(",")]
        results = {}
        for i, cpus in enumerate(order):
            if i:
                time.sleep(90)  # cool-down between legs
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--queries", "louvain",
                 "--scaling-convs", str(convs)],
                env=env, capture_output=True, text=True,
            )
            if out.returncode != 0:
                # a failed leg must not kill the experiment — report and move on
                sys.stderr.write(
                    f"LEG FAILED cpus={cpus} rc={out.returncode}\n"
                    f"--- child stderr tail ---\n{out.stderr[-4000:]}\n"
                )
                continue
            line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
            r = json.loads(line)
            best = results.get(cpus)
            if best is None or (
                r["louvain_spark_edges_per_sec_per_iter"]
                > best["louvain_spark_edges_per_sec_per_iter"]
            ):
                results[cpus] = r
        th8 = results[8]["louvain_spark_edges_per_sec_per_iter"]
        th32 = results[32]["louvain_spark_edges_per_sec_per_iter"]
        eff = (th32 / th8) / 4.0 if th8 > 0 else 0.0
        print(json.dumps({
            "metric": "louvain_scaling_efficiency_8_to_32_cores",
            "value": round(eff, 4),
            "unit": "ratio",
            "regime": "distributed level-0 rounds" if th8 > 0 else "INVALID: no distributed rounds",
            "throughput_spark_edges_per_sec_per_iter": {"local[8]": th8, "local[32]": th32},
            "spark_rounds": {"local[8]": results[8].get("louvain_spark_rounds"),
                             "local[32]": results[32].get("louvain_spark_rounds")},
            "n_convs": convs,
            "n_edges_directed": results[32].get("n_edges_directed"),
            "louvain_sec": {"local[8]": results[8]["queries"]["louvain"],
                            "local[32]": results[32]["queries"]["louvain"]},
        }))
        return

    if "--scaling-executors" in args:
        # EXECUTOR-count scaling (the north rule's N -> 4N executors):
        # W separate worker JVMs x 8 cores each via local-cluster — unlike
        # core-count scaling inside one JVM, each executor has its own heap,
        # GC and shuffle client, the multi-executor mechanics a real cluster
        # exercises. Same job, same synthesized input; legs alternate
        # 1,4,4,1 workers and each keeps its best throughput (the sandbox
        # throttles CPU after sustained load — see BENCH.md).
        convs = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "4000000"))
        order = [int(c) for c in os.environ.get(
            "SPARK_GRAFT_SCALING_EXEC_ORDER", "1,4,4,1").split(",")]
        graph_dir = os.environ.get(
            "SPARK_GRAFT_SCALING_GRAPH_DIR", f"/tmp/scaling_graph_{convs}"
        )
        if not os.path.exists(os.path.join(graph_dir, "_meta.json")):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--materialize-scaling-graph", str(convs), graph_dir],
                check=True,
            )
            time.sleep(60)  # cool down after the build burst
        # Per-ARM executor memory, e.g. "1:20g,4:10g". Needed above ~40M
        # edges on this 128 GB box: the 1-worker arm must hold the whole
        # working set in ONE executor (starves below ~20g), while 4x20g
        # heaps + shuffle + page cache exceed host RAM and collapse the
        # 4-worker arm (measured: 0.6M e/s/iter at 4x20g vs 1.9M at
        # 4x10g on identical input). Giving the 4x arm LESS per-executor
        # memory makes the measured efficiency a conservative lower
        # bound w.r.t. the equal-memory fairness concern.
        per_arm_mem = {}
        mems_env = os.environ.get("SPARK_GRAFT_SCALING_EXEC_MEMS")
        if mems_env:
            for part in mems_env.split(","):
                w, mv = part.split(":")
                per_arm_mem[int(w)] = mv
        results = {}
        for i, workers in enumerate(order):
            if i:
                time.sleep(90)  # cool-down between legs
            mem_mb = _exec_mem_mb(
                per_arm_mem.get(workers, os.environ.get("SPARK_GRAFT_EXEC_MEM", "8g"))
            )
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(8 * workers),
                SPARK_GRAFT_MASTER=f"local-cluster[{workers},8,{mem_mb}]",
                SPARK_GRAFT_EXEC_MEM=f"{mem_mb}m",
                SPARK_GRAFT_SCALING_EDGES=graph_dir,
                SPARK_GRAFT_UI="1",  # REST metrics: shuffle bytes/round
            )
            sys.stderr.write(f"LEG {i} START workers={workers} t={time.time():.0f}\n")
            sys.stderr.flush()
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--queries", "louvain_lvl0"],
                env=env, capture_output=True, text=True,
            )
            sys.stderr.write(
                f"LEG {i} END workers={workers} rc={out.returncode} t={time.time():.0f}\n"
            )
            sys.stderr.flush()
            if out.returncode != 0:
                # a failed leg must not kill the experiment — report and move on
                sys.stderr.write(
                    f"LEG FAILED workers={workers} rc={out.returncode}\n"
                    f"--- child stderr tail ---\n{out.stderr[-4000:]}\n"
                )
                continue
            line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
            r = json.loads(line)
            best = results.get(workers)
            if best is None or (
                r["louvain_spark_edges_per_sec_per_iter"]
                > best["louvain_spark_edges_per_sec_per_iter"]
            ):
                results[workers] = r
        if not all(w in results for w in set(order)):
            print(json.dumps({
                "metric": "louvain_scaling_efficiency_executors",
                "value": None, "unit": "ratio",
                "error": f"legs missing: have {sorted(results)}, want {sorted(set(order))}",
            }))
            return
        # efficiency between the smallest and largest worker counts in
        # the order (1->4 for the north-rule number; 1->2 / arbitrary
        # brackets for the memory/bus trade arms, VERDICT r3 #6)
        base_w, top_w = min(results), max(results)
        ratio = top_w / base_w
        th_b = results[base_w]["louvain_spark_edges_per_sec_per_iter"]
        th_t = results[top_w]["louvain_spark_edges_per_sec_per_iter"]
        eff = (th_t / th_b) / ratio if th_b > 0 else 0.0
        lab_b, lab_t = f"{base_w}x8", f"{top_w}x8"
        print(json.dumps({
            "metric": f"louvain_scaling_efficiency_{base_w}_to_{top_w}_executors",
            "value": round(eff, 4),
            "unit": "ratio",
            "topology": "local-cluster[W,8,mem]: W separate executor JVMs x 8 cores",
            "exec_mems": per_arm_mem or os.environ.get("SPARK_GRAFT_EXEC_MEM", "8g"),
            "regime": "distributed level-0 rounds" if th_b > 0 else "INVALID: no distributed rounds",
            "throughput_spark_edges_per_sec_per_iter": {lab_b: th_b, lab_t: th_t},
            "spark_rounds": {lab_b: results[base_w].get("louvain_spark_rounds"),
                             lab_t: results[top_w].get("louvain_spark_rounds")},
            "n_convs": convs,
            "n_edges_directed": results[top_w].get("n_edges_directed"),
            "louvain_lvl0_sec": {
                lab_b: results[base_w]["distributed_sec"]["louvain_lvl0"],
                lab_t: results[top_w]["distributed_sec"]["louvain_lvl0"],
            },
            "shuffle_mb_per_round": {
                lab_b: results[base_w].get("louvain_lvl0_shuffle_mb_per_round"),
                lab_t: results[top_w].get("louvain_lvl0_shuffle_mb_per_round"),
            },
        }))
        return

    if "--materialize-scaling-graph" in args:
        # one-time prep for --scaling-executors: synthesize transcripts,
        # build the canonical symmetric edge table, write it to parquet so
        # every leg reads the identical input without paying synthesis
        i = args.index("--materialize-scaling-graph")
        convs, graph_dir = int(args[i + 1]), args[i + 2]
        from pyspark.sql import functions as F

        from louvain_fast_move_cuda_spark.session import get_spark
        from louvain_fast_move_cuda_spark.sources.edges import (
            canonicalize_edges,
            derive_edges_from_transcripts,
            symmetrize,
            vertex_weights,
        )
        from louvain_fast_move_cuda_spark.sources.transcripts import (
            synthesize_transcripts,
        )

        spark = get_spark(
            app_name="bench-materialize", master=f"local[{CPUS}]",
            shuffle_partitions=max(8, CPUS),
        )
        t = synthesize_transcripts(spark, n_convs=convs, seed=42)
        edges = symmetrize(canonicalize_edges(derive_edges_from_transcripts(t)))
        edges.write.mode("overwrite").parquet(os.path.join(graph_dir, "edges"))
        edges = spark.read.parquet(os.path.join(graph_dir, "edges"))
        verts = vertex_weights(edges)
        verts.write.mode("overwrite").parquet(os.path.join(graph_dir, "vertices"))
        meta = {
            "n_convs": convs,
            "m": float(edges.agg(F.sum("weight")).collect()[0][0]) / 2.0,
            "n_nodes": spark.read.parquet(os.path.join(graph_dir, "vertices")).count(),
            "n_edges_directed": edges.count(),
        }
        with open(os.path.join(graph_dir, "_meta.json"), "w") as fh:
            json.dump(meta, fh)
        print(json.dumps({"materialized": graph_dir, **meta}))
        spark.stop()
        return

    names = None
    scaling_convs = None
    if "--queries" in args:
        names = set(args[args.index("--queries") + 1].split(","))
    if "--scaling-convs" in args:
        scaling_convs = int(args[args.index("--scaling-convs") + 1])

    # Default driver entry point = BEST-OF-N (VERDICT r3 #2): this host
    # throttles CPU after sustained load (BENCH.md: identical code
    # measured 16.9 s vs 99.2 s back-to-back), so a single throw is
    # noise, not evidence. Each run is a fresh JVM subprocess with a
    # cool-down between runs; the recorded value is the per-run minimum
    # and every per-query timing is its own across-run minimum — the
    # same alternating best-of protocol the scaling legs already use.
    # --single runs one pass (used by the subprocesses and iteration).
    best_of = int(os.environ.get("SPARK_GRAFT_BEST_OF", "3"))
    if "--single" not in args and names is None and scaling_convs is None and best_of > 1:
        def merged_json(runs):
            best = min(runs, key=lambda r: r["value"])
            merged = dict(best)
            merged["value"] = round(min(r["value"] for r in runs), 3)
            merged["queries"] = {
                k: round(min(r["queries"][k] for r in runs if k in r["queries"]), 3)
                for k in best["queries"]
            }
            merged["distributed_sec"] = {
                k: round(min(r["distributed_sec"][k] for r in runs
                             if k in r["distributed_sec"]), 3)
                for k in best["distributed_sec"]
            }
            for k in best:
                # throughput metrics: best = max across runs
                if isinstance(best[k], (int, float)) and k.endswith("edges_per_sec_per_iter"):
                    merged[k] = max(r.get(k, 0.0) for r in runs)
            merged["protocol"] = (
                f"best-of-{len(runs)} (fresh JVM per run, "
                f"{os.environ.get('SPARK_GRAFT_BEST_OF_COOLDOWN', '60')}s cool-down; "
                "value/per-query = across-run minima, throughput = maxima — "
                "throttle-robust per VERDICT r3)"
            )
            merged["runs_headline_sec"] = [r["value"] for r in runs]
            merged["runs_wall_sec"] = [r["wall_sec_incl_distributed"] for r in runs]
            return json.dumps(merged)

        runs = []
        for i in range(best_of):
            if i:
                time.sleep(int(os.environ.get("SPARK_GRAFT_BEST_OF_COOLDOWN", "60")))
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--single"],
                capture_output=True, text=True,
            )
            if out.returncode != 0:
                sys.stderr.write(
                    f"BEST-OF RUN {i} FAILED rc={out.returncode}\n{out.stderr[-4000:]}\n"
                )
                continue
            line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
            runs.append(json.loads(line))
            # print the merged best-so-far after EVERY run: if an outer
            # timeout kills the protocol mid-way, the last stdout line is
            # still a complete, parseable best-of-k record
            print(merged_json(runs), flush=True)
        if not runs:
            sys.stderr.write("all best-of runs failed\n")
            sys.exit(1)
        return

    t0 = time.time()
    r = run_suite(names, scaling_convs)
    total = round(time.time() - t0, 3)
    # headline value = the round-1-comparable default-engine queries only, so
    # round-over-round totals stay apples-to-apples; the *_distributed /
    # *_lvl0 timings (the 100 TB plan with the local tail disabled) are
    # reported alongside, not mixed into the total
    dist = {k: round(v, 3) for k, v in r["timings"].items()
            if k.endswith("_distributed") or k.endswith("_lvl0")}
    # same basis as round 1 (wall incl. session startup), minus the
    # added distributed legs
    headline = round(total - sum(dist.values()), 3)
    out = {
        "metric": "headline_suite_sec",
        "value": headline,
        "unit": "sec",
        "wall_sec_incl_distributed": total,
        "distributed_sec": dist,
        "queries": {k: round(v, 3) for k, v in r["timings"].items()
                    if k not in dist},
        "sf": _sf(SF_DIR),
        "cpus": CPUS,
    }
    for k, v in r["extra"].items():
        out[k] = v
    print(json.dumps(out))


if __name__ == "__main__":
    main()
