"""Link-graph benchmark: one run of one workload, or a multi-run report.

One run (the last stdout line is the JSON result):

    python3 perfbench/run.py --workload louvain_supersteps --seed 1 --seconds 10 --trace 0

Report (fresh process per run, medians and high percentiles, traced pass):

    python3 perfbench/run.py --report --runs 10

See perfbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import instrument  # noqa: E402
import oracles  # noqa: E402
import workloads as wl  # noqa: E402

# a run that has not finished by then kills its processes and fails
WATCHDOG_S = 170
# turns, directed edges, Louvain rounds and Q recorded per workload, size and seed
EXPECTED = os.path.join(HERE, "expected.json")
DETAIL = "PERFBENCH_DETAIL "


def spec(kind: str) -> list[dict]:
    """The ``workloads``, ``end_to_end`` or ``per_layer`` list of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def spec_units(kind: str) -> dict[str, str]:
    """name -> unit of every ``end_to_end`` or ``per_layer`` metric."""
    return {m["name"]: m["unit"] for m in spec(kind)}


# --- one run ----------------------------------------------------------------


def input_path(convs: int, seed: int, tool_rate: float) -> str:
    path = os.path.join(WORK, "inputs", f"transcripts-{convs}-{tool_rate}-{seed}.parquet")
    if not os.path.exists(path):
        gen.write_transcripts(path, convs, seed, tool_rate)
    return path


def recorded_counts(workload: str, convs: int, seed: int) -> dict:
    with open(EXPECTED) as f:
        return json.load(f).get(workload, {}).get(f"{convs}/{seed}", {})


def setup(ctx, workload: str, trace: bool, tr) -> tuple[float, float]:
    """Start the session and, on the prebuilt-graph workloads, build the
    graph; returns the seconds each took."""
    t0 = time.perf_counter()
    ctx.spark = wl.start_session(WORK, trace)
    tr.attach(ctx.spark)
    t1 = time.perf_counter()
    if workload in wl.PREBUILT:
        ctx.graph, _ = wl.build_graph(ctx.spark, ctx.input_path, tr)
    return t1 - t0, time.perf_counter() - t1


def louvain_layers(out: dict, louvain_s: float, local_s: float, directed_edges: int) -> dict:
    from louvain_fast_move_cuda_spark.operators.louvain import MODULARITY_CONVERGED_THRESHOLD

    rm = [x for x in out["metrics"] if "round" in x]
    spark_r = [x for x in rm if x.get("engine") != "local"]
    local_r = [x for x in rm if x.get("engine") == "local"]
    arrow_r = [x for x in spark_r if x["round"] > 4]
    secs = [x["sec"] for x in rm]
    spark_s = sum(x["sec"] for x in spark_r)
    return {
        "louvain.s": louvain_s,
        "louvain.rounds": len(rm),
        "louvain.levels": out["levels"],
        "louvain.spark_rounds": len(spark_r),
        "louvain.round0_s": secs[0] if secs else 0.0,
        "louvain.round_s_p50": instrument.median(secs),
        "louvain.round_s_max": max(secs) if secs else 0.0,
        "louvain.between_rounds_s": louvain_s - sum(secs),
        "louvain.edges_per_s_per_round": directed_edges * len(spark_r) / spark_s if spark_s else 0.0,
        "louvain.moves": sum(x["n_moves"] for x in rm),
        "louvain.productive_round_ratio": (
            sum(1 for x in rm if x["dq"] > MODULARITY_CONVERGED_THRESHOLD) / len(rm) if rm else 0.0
        ),
        "louvain_arrow.rounds": len(arrow_r),
        "louvain_arrow.round_s_p50": instrument.median([x["sec"] for x in arrow_r]),
        "louvain_local.rounds": len(local_r),
        "louvain_local.s": local_s,
        "louvain.handoff_s": louvain_s - local_s if local_r else 0.0,
    }


def layer_metrics(workload, tr, outs, jobs, gc, session_s, directed_edges, turns):
    """Per-iteration dicts of every per-layer metric (0 where a layer is idle)."""
    names = list(spec_units("per_layer"))
    setup_spans = [s for s in tr.spans if s["phase"] == "setup"]
    per_iter = []
    for i, out in enumerate(outs):
        if out is None:
            continue
        spans = [s for s in tr.spans if s["phase"] == i]
        d = dict.fromkeys(names, 0)
        d["session.start_s"] = session_s

        def time_of(layer, pool=spans):
            return sum(s["s"] for s in pool if s["layer"] == layer)

        def add_counts(prefix, pool):
            for s in pool:
                for k in instrument.COUNT_KEYS:
                    if s["group"] and f"{prefix}.{k}" in d:
                        d[f"{prefix}.{k}"] += jobs[s["group"]][k]

        # the sources run inside the timed section only on ingest_louvain
        src_pool = spans if workload == "ingest_louvain" else setup_spans
        for step in ("derive", "canonicalize", "symmetrize", "degrees"):
            d[f"sources.{step}_s"] = time_of(f"sources.{step}", src_pool)
        add_counts("sources", [s for s in src_pool if s["layer"].startswith("sources.")])
        d["sources.turns"] = turns
        d["sources.directed_edges"] = directed_edges
        if "levels" in out:
            d.update(louvain_layers(out, time_of("louvain"), time_of("louvain_local"), directed_edges))
            add_counts("louvain", [s for s in spans if s["layer"] == "louvain"])
            d["louvain.jobs_per_round"] = d["louvain.jobs"] / max(1, d["louvain.rounds"])
        for layer in ("pagerank", "components", "labelprop", "triangles"):
            d[f"{layer}.s"] = time_of(layer)
            add_counts(layer, [s for s in spans if s["layer"] == layer])
        if "triangles" in out:
            d["triangles.count"] = out["triangles"]
        add_counts("spark", spans)
        d["spark.gc_s"] = gc[i]
        per_iter.append({k: d[k] for k in names})
    return per_iter


def summarize_layers(per_iter: list[dict]) -> tuple[dict, dict]:
    """Times as medians over iterations; counts from the first iteration,
    with the per-iteration values of counts that did not repeat exactly."""
    units = spec_units("per_layer")
    out, unsteady = {}, {}
    for name in per_iter[0]:
        vals = [d[name] for d in per_iter]
        if units[name] == "count":
            out[name] = vals[0]
            if any(v != vals[0] for v in vals):
                unsteady[name] = vals
        else:
            out[name] = instrument.median(vals)
    return out, unsteady


def abort(why: str) -> None:
    """Kill every process this run started and exit without a result."""
    print(f"perfbench: {why}", file=sys.stderr, flush=True)
    for pid in instrument.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


def one_run(args) -> int:
    t0 = time.perf_counter()
    try:
        # the submodule, not the ``louvain`` function the package re-exports
        lv = importlib.import_module("louvain_fast_move_cuda_spark.operators.louvain")
        importlib.import_module("louvain_fast_move_cuda_spark.session")
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import_s = time.perf_counter() - T_START
    watchdog = threading.Timer(WATCHDOG_S, abort, (f"no result after {WATCHDOG_S} s",))
    watchdog.daemon = True
    watchdog.start()
    workload, trace = args.workload, bool(args.trace)
    convs = args.convs or wl.CONVS[workload]
    os.makedirs(WORK, exist_ok=True)
    wl.clean_work(WORK)
    wl.scrub_env(WORK)
    tool_rate = wl.TOOL_RATE[workload]
    path = input_path(convs, args.seed, tool_rate)
    ref = oracles.Reference(gen.expected_graph(convs, args.seed, tool_rate))
    tr = instrument.Tracer(trace)
    if trace:
        lv.local_louvain = tr.wrap(lv.local_louvain, "louvain_local")
    ctx = wl.Context(WORK, path)
    walls, outs, gc, errors = [], [], [], []
    attempted = failed = 0
    with instrument.PeakRss() as rss:
        try:
            session_s, build_s = setup(ctx, workload, trace, tr)
            # process start to the first timed call, less the benchmark's own
            # input generation and reference graph
            setup_s = import_s + session_s + build_s
            if workload in wl.PREBUILT:
                errors += ref.check_edges(*wl.graph_arrays(ctx.graph), ctx.graph.n_nodes)
            t_begin = time.perf_counter()
            while True:
                tr.begin(attempted)
                attempted += 1
                gc0 = tr.gc_seconds() if trace else 0.0
                ctx.t_stop = None
                t_it = time.perf_counter()
                try:
                    out = wl.RUN[workload](ctx, tr)
                    walls.append(ctx.t_stop - t_it)
                except Exception:
                    traceback.print_exc()
                    out = None
                outs.append(out)
                gc.append(tr.gc_seconds() - gc0 if trace else 0.0)
                # the program persists DataFrames by plan; without this the
                # next iteration would reuse the previous one's cached data
                ctx.spark.catalog.clearCache()
                elapsed = time.perf_counter() - t_begin
                if elapsed >= args.seconds and attempted >= args.min_iters:
                    break
            jobs = tr.job_counts() if trace else {}
            if workload == "ingest_louvain":
                for out in outs:
                    if out is not None:
                        g = out.pop("graph")
                        out["graph_errors"] = ref.check_edges(*wl.graph_arrays(g), g.n_nodes)
        finally:
            if ctx.spark is not None:
                wl.stop_session(ctx.spark, shutdown_jvm=True)
            instrument.reap_descendants()

    # --- checks, outside every timed section ---
    first_ok = next((o for o in outs if o is not None), None)
    for i, out in enumerate(outs):
        if out is None:
            failed += 1
            continue
        if args.corrupt:
            wl.corrupt(workload, out)
        errs = list(errors) + out.get("graph_errors", []) + wl.check(workload, out, ref)
        if "levels" in out:
            for key in ("modularity", "n_communities", "levels"):
                if out[key] != first_ok[key]:
                    errs.append(f"{key} did not repeat: {out[key]!r} != {first_ok[key]!r}")
        if errs:
            failed += 1
            for e in errs:
                print(f"perfbench: CHECK FAILED (iteration {i}): {e}")

    directed = ref.directed_edges
    wall = instrument.median(walls)
    result = {
        "wall_s": wall,
        "edges_per_s": directed / wall if wall else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": rss.mb(),
    }
    rounds = len([x for x in first_ok.get("metrics", []) if "round" in x]) if first_ok else 0
    seen = {"turns": ref.n_turns, "directed_edges": directed, "rounds": rounds,
            "modularity": first_ok.get("modularity") if first_ok else None}
    for key, want in recorded_counts(workload, convs, args.seed).items():
        if seen[key] is not None and abs(seen[key] - want) > oracles.Q_TOL:
            print(f"perfbench: CHECK FAILED: {key} {seen[key]!r} != {want!r} recorded for this seed")
            failed = attempted
    detail = {
        "workload": workload, "seed": args.seed, "convs": convs, "trace": int(trace),
        "turns": ref.n_turns, "directed_edges": directed, "rounds": rounds,
        "wall_s": walls, "setup_s": setup_s, "import_s": import_s, "session_s": session_s,
        "build_s": build_s,
        "attempted": attempted, "failed": failed, "run_s": time.perf_counter() - t0,
    }
    if first_ok and "modularity" in first_ok:
        detail["modularity"] = first_ok["modularity"]
    metrics = {k: {"value": result[k], "unit": u} for k, u in spec_units("end_to_end").items()}
    if trace:
        per_iter = layer_metrics(workload, tr, outs, jobs, gc, session_s, directed,
                                 ref.n_turns)
        if per_iter:
            layers, unsteady = summarize_layers(per_iter)
        else:
            layers, unsteady = dict.fromkeys(spec_units("per_layer"), 0), {}
        detail["unsteady_counts"] = unsteady
        detail["layers"] = layers
        units = spec_units("per_layer")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    print(f"perfbench {workload} seed={args.seed} convs={convs} turns={ref.n_turns} "
          f"directed_edges={directed} rounds={rounds} modularity={detail.get('modularity')} "
          f"iterations={attempted} failed={failed}")
    for k, v in metrics.items():
        print(f"  {k:<34} {v['value']:>16.6g} {v['unit']}")
    print(DETAIL + json.dumps(detail))
    watchdog.cancel()
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


# --- report -----------------------------------------------------------------


def high_percentile(xs: list[float]) -> tuple[str, float]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples above
    it; the maximum when the sample is too small for any of them."""
    xs = sorted(xs)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", xs[min(n - 1, int(p / 100 * n))]
    return "max", xs[-1]


def child(workload: str, seed: int, seconds: int, trace: int, extra: list[str]) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    detail = next((json.loads(ln[len(DETAIL):]) for ln in lines if ln.startswith(DETAIL)), None)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or result is None:
        sys.stderr.write(p.stderr[-4000:])
    return {"result": result, "detail": detail}


def report(args) -> int:
    names = [args.workload] if args.workload else list(wl.CONVS)
    extra = ["--convs", str(args.convs)] if args.convs else []
    for w in names:
        print(f"\n== {w}")
        runs = []
        for i in range(args.runs):
            r = child(w, args.first_seed + i, args.seconds, 0, extra)
            runs.append(r)
            if r["result"] is not None:
                vals = " ".join(f"{k}={v['value']:.6g}" for k, v in r["result"]["metrics"].items())
                print(f"   seed {args.first_seed + i}: correct={r['result']['correct']} {vals}", flush=True)
            else:
                print(f"   seed {args.first_seed + i}: run FAILED", flush=True)
        ok = [r for r in runs if r["result"] is not None]
        attempted = sum(r["result"]["attempted"] for r in ok) + (len(runs) - len(ok))
        failed = sum(r["result"]["failed"] for r in ok) + (len(runs) - len(ok))
        print(f"   {len(runs)} runs x {args.seconds} s, closed loop, 1 client, "
              f"local[{wl.cpus()}], seeds {args.first_seed}..{args.first_seed + args.runs - 1}")
        print(f"   why: {next(x['why'] for x in spec('workloads') if x['name'] == w)}")
        print(f"   {'metric':<14} {'unit':<8} {'n':>4} {'median':>14} {'high':>20}")
        # modularity is printed but not bounded: it exists on two workloads only
        for k, unit in {**spec_units("end_to_end"), "modularity": "Q"}.items():
            if k == "modularity":
                vals = [r["detail"][k] for r in ok if k in r["detail"]]
            else:
                vals = [r["result"]["metrics"][k]["value"] for r in ok]
            if not vals:
                continue
            tag, hi = high_percentile(vals)
            print(f"   {k:<14} {unit:<8} {len(vals):>4} {instrument.median(vals):>14.6g} "
                  f"{tag + ' ' + format(hi, '.6g'):>20}")
        print(f"   {'fail_frac':<14} {'ratio':<8} {attempted:>4} {failed / max(1, attempted):>14.6g}")
        for r in ok:
            d = r["detail"]
            print(f"   recorded seed {d['seed']}: " + json.dumps(
                {k: d[k] for k in ("turns", "directed_edges", "rounds", "modularity") if k in d}))
        t = child(w, args.first_seed, args.seconds, 1, extra + ["--min-iters", "2"])
        if t["result"] is None:
            print("   traced run FAILED")
            continue
        d = t["detail"]
        # first (cold) iterations of the same seed, traced minus untraced
        untraced = [r["detail"]["wall_s"][0] for r in ok if r["detail"]["seed"] == args.first_seed]
        if d["wall_s"] and untraced:
            print(f"   traced run (seed {args.first_seed}, {d['attempted']} iterations): tracing "
                  f"overhead = {d['wall_s'][0] - untraced[0]:+.3f} s on the first iteration's wall_s")
        if d.get("unsteady_counts"):
            print(f"   counts that did not repeat (per iteration): {d['unsteady_counts']}")
        for k, v in t["result"]["metrics"].items():
            print(f"     {k:<34} {v['value']:>16.6g} {v['unit']}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=list(wl.CONVS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--min-iters", type=int, default=1, help="timed iterations at least")
    ap.add_argument("--convs", type=int, default=0, help="override the input size (self-tests)")
    ap.add_argument("--corrupt", action="store_true", help="relabel one output vertex (self-tests)")
    ap.add_argument("--report", action="store_true",
                    help="multi-run report over all workloads, or over --workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    if args.report:
        return report(args)
    if not args.workload:
        ap.error("--workload is required (or --report)")
    return one_run(args)


if __name__ == "__main__":
    sys.exit(main())
