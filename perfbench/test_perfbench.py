"""Self-tests of the benchmark: generator, oracles, and tiny end-to-end runs.

    python3 -m pytest perfbench -q

The end-to-end cases start Spark (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracles  # noqa: E402
import workloads as wl  # noqa: E402

TINY = 300


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- generator and oracles (no Spark) ---------------------------------------


def test_generator_is_seeded():
    a, b, c = (gen.expected_graph(TINY, s) for s in (7, 7, 8))
    assert np.array_equal(a["src"], b["src"]) and np.array_equal(a["dst"], b["dst"])
    assert not (len(a["src"]) == len(c["src"]) and np.array_equal(a["src"], c["src"]))
    # every conversation has >= 2 turns, so every turn has a reply link
    assert np.array_equal(np.unique(a["src"]), np.arange(a["n_turns"]))


def test_generator_writes_the_transcript_schema(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    gen.write_transcripts(path, TINY, 3)
    t = pq.read_table(path)
    assert t.column_names == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.num_rows == gen.expected_graph(TINY, 3)["n_turns"]
    tools = set(t.column("tool").drop_null().to_pylist())
    assert tools and tools <= set(gen.TOOLS)


def test_reference_checks_catch_a_relabelled_vertex():
    ref = oracles.Reference(gen.expected_graph(TINY, 5))
    comm = ref.components()
    ids = np.arange(ref.n)
    assert ref.check_components(ids, comm) == []
    bad = comm.copy()
    bad[0] = comm.max() + 1
    assert ref.check_components(ids, bad)
    # a partition into components has exactly the Q the formula gives
    q = ref.modularity(comm)
    dense = np.unique(comm, return_inverse=True)[1]
    assert ref.check_louvain(ids, dense, q, int(dense.max()) + 1) == []
    moved = dense.copy()
    moved[0] = (moved[0] + 1) % (dense.max() + 1)
    assert ref.check_louvain(ids, moved, q, int(dense.max()) + 1)


def test_reference_pagerank_and_label_propagation():
    ref = oracles.Reference(gen.expected_graph(TINY, 6))
    ids = np.arange(ref.n)
    pr = ref.pagerank(0.85, 10)
    assert abs(pr.sum() - 1.0) < 1e-12
    assert ref.check_pagerank(ids, pr, 0.85, 10) == []
    assert ref.check_pagerank(ids, pr * 1.01, 0.85, 10)
    lp = ref.label_propagation(3)
    assert ref.check_label_propagation(ids, lp, 3) == []
    assert ref.check_label_propagation(ids, np.arange(ref.n), 3)


def test_benchmark_spec_matches_the_runner():
    s = spec()
    assert s["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in s["workloads"]] == list(wl.CONVS)
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


# --- end to end (Spark) -------------------------------------------------------


@pytest.mark.parametrize("workload", list(wl.CONVS))
def test_tiny_run_prints_every_metric(workload):
    out = result(bench("--workload", workload, "--seed", "2", "--seconds", "0",
                       "--trace", "0", "--convs", str(TINY)))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    # large enough that level 0 still moves vertices in round 4, so round 5
    # (the first on the Arrow kernel) runs
    out = result(bench("--workload", "louvain_supersteps", "--seed", "2", "--seconds", "0",
                       "--trace", "1", "--convs", "1000"))
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["louvain.spark_rounds"] == m["louvain.rounds"] == wl.SUPERSTEP_MAX_ROUND + 1
    assert m["louvain_arrow.rounds"] > 0
    assert m["louvain.jobs"] > 0 and m["spark.jobs"] >= m["louvain.jobs"]


def test_corrupted_output_fails_its_check():
    p = bench("--workload", "ingest_louvain", "--seed", "2", "--seconds", "0",
              "--trace", "0", "--convs", str(TINY), "--corrupt")
    out = result(p)
    assert not out["correct"] and out["failed"] == out["attempted"] >= 1
    assert "CHECK FAILED" in p.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = bench("--workload", "ingest_louvain", "--seed", "1", "--seconds", "1",
              "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert not p.stdout.strip()
