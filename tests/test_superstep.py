"""plans/superstep.py: the superstep loops PageRank, LPA and CC share, and
plans/conf.py: the conf scope their driver placement runs in."""

import os
import warnings

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


def test_superstep_plan_is_dumped_after_it_ran(spark, tmp_path, monkeypatch):
    """The DataFrame loop dumps a superstep's plan once the superstep ran,
    so under AQE the file holds the final plan, not the initial one."""
    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    out = tmp_path / "plans"
    monkeypatch.setenv("SPARK_GRAFT_DUMP_PLAN_DIR", str(out))
    monkeypatch.setattr(debug, "_seen", set())
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=60, m_attach=2, seed=2), "a long, b long"),
        relabel=False,
    )
    ck = VertexIterationCheckpointer(str(tmp_path / "ck"), algo="cc")
    connected_components(g, checkpointer=ck).collect()
    assert "isFinalPlan=true" in (out / "superstep_cc.txt").read_text()


def test_sql_conf_restores_settings(spark):
    """The conf scope puts back a set key after a normal return and after
    an exception, and leaves a key that was unset unset."""
    import pytest

    from louvain_fast_move_cuda_spark.plans.conf import sql_conf

    aqe = "spark.sql.adaptive.enabled"
    unset = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(aqe)
    assert spark.conf.get(unset, None) is None
    with sql_conf(spark, {aqe: "false", unset: "1m"}):
        assert spark.conf.get(aqe) == "false"
        assert spark.conf.get(unset) == "1m"
    assert spark.conf.get(aqe) == before
    assert spark.conf.get(unset, None) is None
    with pytest.raises(RuntimeError):
        with sql_conf(spark, {aqe: "false", unset: "1m"}):
            raise RuntimeError("superstep failed")
    assert spark.conf.get(aqe) == before
    assert spark.conf.get(unset, None) is None


def _powerlaw(spark):
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    return build_graph(
        spark.createDataFrame(powerlaw_graph(n=200, m_attach=2, seed=4), "a long, b long"),
        relabel=False,
    )


def test_driver_placement_runs_two_jobs_per_superstep(spark):
    """With the vertex state on the driver, each superstep of PageRank, LPA
    and CC is at most two Spark jobs (the state's broadcast and the
    aggregate), counted through a job group around calls that differ only
    in how many supersteps they run; the whole call adds one job (the
    vertex gather)."""
    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank

    g = _powerlaw(spark)
    sc = spark.sparkContext

    def jobs(group, run):
        sc.setJobGroup(group, group)
        try:
            run().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    programs = {
        "pagerank": lambda it: pagerank(g, max_iter=it, tol=0.0, local_max_edges=0),
        # synchronous LPA keeps changing labels on this graph
        "lpa": lambda it: label_propagation(g, max_iter=it, local_max_edges=0),
        "cc": lambda it: connected_components(g, max_iter=it, local_max_edges=0),
    }
    for name, run in programs.items():
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # CC cut at 1 round
            one, two = jobs(f"{name}-1", lambda: run(1)), jobs(f"{name}-2", lambda: run(2))
        assert one <= 1 + 2, (name, one)
        assert two - one <= 2, (name, one, two)


def test_driver_placement_repeats_bit_identically_and_caches_nothing(spark):
    """Two runs of each program in one session give bit-identical output,
    and none of them leaves an entry in the CacheManager."""
    from louvain_fast_move_cuda_spark.operators.components import connected_components
    from louvain_fast_move_cuda_spark.operators.labelprop import label_propagation
    from louvain_fast_move_cuda_spark.operators.pagerank import pagerank

    g = _powerlaw(spark)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    for run in (
        lambda: pagerank(g, max_iter=5, tol=0.0, local_max_edges=0),
        lambda: label_propagation(g, max_iter=3, local_max_edges=0),
        lambda: connected_components(g, local_max_edges=0),
    ):
        first, second = (sorted(map(tuple, run().collect())) for _ in range(2))
        assert first == second
    assert cache.isEmpty()
