"""plans/superstep.py: the one superstep loop PageRank, LPA and CC share."""

import os

from pyspark.sql import functions as F

from louvain_fast_move_cuda_spark.plans import debug
from louvain_fast_move_cuda_spark.plans.checkpoint import VertexIterationCheckpointer
from louvain_fast_move_cuda_spark.plans.superstep import supersteps


class _Toy:
    """A counter program: every superstep adds 1 to ``v``; done at v == 3.
    Records each step's input ``v`` and each measure's job name."""

    def __init__(self):
        self.steps, self.jobs = [], []

    def step(self, state, metric):
        self.steps.append(sorted({r.v for r in state.collect()}))
        return state.select("id", (F.col("v") + 1).alias("v"))

    def measure(self, state, job):
        self.jobs.append(job)
        return {"v": state.agg(F.max("v")).collect()[0][0]}

    @staticmethod
    def done(metric, _prev):
        return metric["v"] >= 3


def test_supersteps_loop_resume_and_edge_cases(spark, tmp_path):
    start = spark.range(4).select("id", F.lit(0).alias("v"))

    # one step and one measure per superstep, stopping at done
    toy = _Toy()
    state, metric, rounds = supersteps("toy", start, toy.step, toy.measure, toy.done, 10)
    assert (rounds, metric) == (3, {"v": 3, "done": True})
    assert toy.steps == [[0], [1], [2]]
    assert toy.jobs == ["toy R0", "toy R1", "toy R2"]
    assert {r.v for r in state.collect()} == {3}

    # a run cut after committed superstep 1 resumes at superstep 2
    ck = VertexIterationCheckpointer(str(tmp_path / "toy"), algo="toy")
    toy = _Toy()
    _, metric, rounds = supersteps("toy", start, toy.step, toy.measure, toy.done, 2, ck)
    assert (rounds, metric) == (2, {"v": 2, "done": False})
    toy = _Toy()
    state, metric, rounds = supersteps("toy", start, toy.step, toy.measure, toy.done, 10, ck)
    assert toy.steps == [[2]] and toy.jobs == ["toy R2"]
    assert (rounds, metric) == (3, {"v": 3, "done": True})
    assert sorted(os.listdir(tmp_path / "toy")) == ["iter=0", "iter=1", "iter=2"]

    # resuming a done checkpoint runs no step and returns its state
    toy = _Toy()
    state, metric, rounds = supersteps("toy", start, toy.step, toy.measure, toy.done, 10, ck)
    assert toy.steps == [] and toy.jobs == []
    assert (rounds, metric["done"]) == (3, True)
    assert {r.v for r in state.collect()} == {3}

    # max_iter=0: the input state and no metric
    toy = _Toy()
    state, metric, rounds = supersteps("toy", start, toy.step, toy.measure, toy.done, 0)
    assert state is start and metric is None and rounds == 0
    assert toy.steps == [] and toy.jobs == []


def test_vertex_programs_dump_their_superstep_plans(spark, tmp_path, monkeypatch):
    """With SPARK_GRAFT_DUMP_PLAN_DIR set, the first superstep of
    distributed PageRank, LPA and CC writes its formatted plan there."""
    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    out = tmp_path / "plans"
    monkeypatch.setenv("SPARK_GRAFT_DUMP_PLAN_DIR", str(out))
    monkeypatch.setattr(debug, "_seen", set())
    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=60, m_attach=2, seed=2), "a long, b long"),
        relabel=False,
    )
    pagerank(g, max_iter=2, local_max_edges=0).collect()
    label_propagation(g, max_iter=2, local_max_edges=0).collect()
    connected_components(g, local_max_edges=0).collect()
    for name in ("superstep_pagerank", "superstep_lpa", "superstep_cc"):
        text = (out / f"{name}.txt").read_text()
        assert "Physical Plan" in text, name
