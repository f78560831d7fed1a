"""Physical-plan shape checks — the 100 TB efficiency contract.

Correctness tests prove the operators compute the right thing at small
scale; these prove Catalyst compiles them to the plans that survive a
1000-executor / 100 TB scale-up:

* parquet scans prune columns (ReadSchema) and push predicates
  (PushedFilters) — a scan reading all columns for a 2-column
  projection is wrong regardless of local timing;
* the per-round Louvain joins broadcast the small side (community
  weights / moves), never cartesian, and one Arrow kernel pass scores
  the round;
* the hot column expressions stay inside WholeStageCodegen.
"""

from pyspark.sql import functions as F

from conftest import SF_DIR


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_parquet_scan_prunes_columns_and_pushes_filters(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 100).select("doc_id", F.length("text").alias("n"))
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    # ReadSchema must carry only the two referenced columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read and "text" in read
    for col in docs.columns:
        if col not in ("doc_id", "text"):
            assert col not in read


def test_events_scan_prunes_to_edge_derivation_columns(spark):
    """The transcript->edge derivation must not drag `props` (the wide text
    column) through the shuffle when the caller never touches text."""
    from louvain_fast_move_cuda_spark.sources.transcripts import transcripts_from_events

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t = transcripts_from_events(events).select("conv_id", "turn_idx", "tool", "ts")
    read = [ln for ln in _plan(t).splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read and "value" in read  # value feeds `tool`


def test_louvain_round_joins_broadcast_small_side(spark):
    """round0_moves is the round louvain() runs first: Σ_tot joins the
    edge state by broadcast (never cartesian), and ONE mapInArrow pass
    scores, argmaxes and filters every candidate partition-locally — the
    reference's HASH mode (phaseOptimizationHash.cu:38-158), with no
    DataFrame aggregate left for the argmax."""
    import re

    from louvain_fast_move_cuda_spark.operators.louvain import round0_moves
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    raw = spark.createDataFrame([(a, a + 1) for a in range(50)], "a long, b long")
    g = build_graph(raw, relabel=False)
    moves = round0_moves(g)
    moves.collect()  # let AQE finalize join strategies
    plan = _plan(moves)
    assert "CartesianProduct" not in plan
    assert "isFinalPlan=true" in plan
    final = _plan(moves, mode="simple").split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert re.search(r"BroadcastHashJoin \[cs#\d+L\], \[comm#\d+L\]", final)
    assert final.count("MapInArrow") == 1
    assert "partial_max" not in final


def test_textstats_stay_in_wholestage_codegen(spark):
    from louvain_fast_move_cuda_spark.operators.textstats import token_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(token_stats(docs))
    assert "* ColumnarToRow" in plan  # scan feeds a codegen stage
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    assert "ArrowEvalPython" not in plan  # and no UDF at all on this path
    assert "Exchange" not in plan  # per-document stats are shuffle-free


def test_media_metadata_never_deserializes_payload_rows(spark):
    """media_metadata touches payload only via length(); the plan must be
    pure projection — no Python eval, no exchange."""
    from louvain_fast_move_cuda_spark.operators.multimodal import (
        media_metadata,
        synthesize_media,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(media_metadata(synthesize_media(docs)))
    assert "Exchange" not in plan  # narrow: projection only, no shuffle
    assert "EvalPython" not in plan


def test_coarsen_aggregation_is_shuffle_hash(spark):
    from louvain_fast_move_cuda_spark.operators.louvain import aggregate_graph

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0)], "src long, dst long, weight double"
    )
    labels = spark.createDataFrame([(0, 0), (1, 0)], "id long, community long")
    plan = _plan(aggregate_graph(edges, labels))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_salted_sum_two_stage_plan_and_identity(spark):
    """SURVEY.md §8 skew row: salted_sum_by_key must (a) equal the plain
    groupBy sum exactly on integer-valued weights and (b) compile to TWO
    hash-agg stages keyed first on (keys + _salt) — the hot key is split
    across salt_buckets reducers before the final combine."""
    from louvain_fast_move_cuda_spark.plans.skew import salted_sum_by_key

    # one hub key holding most of the rows + a few cold keys
    rows = [(0, i % 7, 1.0) for i in range(5000)] + [(j, 0, 1.0) for j in range(1, 50)]
    df = spark.createDataFrame(rows, "src long, label long, w double")
    salted = salted_sum_by_key(df, ["src", "label"], "w", "wsum", salt_buckets=8)
    plain = df.groupBy("src", "label").agg(F.sum("w").alias("wsum"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    # count within the AQE final plan only (explain repeats the initial plan)
    plan = _plan(salted, mode="simple").split("== Initial Plan ==")[0]
    assert "_salt" in plan
    # partial+final for the salted stage, partial+final for the combine
    assert plan.count("HashAggregate") == 4


def test_skew_trigger_scales_with_partition_load():
    from louvain_fast_move_cuda_spark.plans.skew import skewed_degree_trigger

    # 10^6-degree hub, 10^9 total degree, 1000 reducers: one key would be
    # 4x a partition's average load -> salt
    assert skewed_degree_trigger(1_000_001 * 4, 1_000_000_000, 1000)
    assert not skewed_degree_trigger(999_999 * 4, 1_000_000_000, 1000)
    assert not skewed_degree_trigger(10.0, 0.0, 32)  # empty graph: no-op


def test_lpa_hub_graph_salted_identical_to_unsalted(spark, tmp_path, monkeypatch):
    """A 2*10^4-degree hub star + ring: the salted vote aggregation must
    produce bit-identical labels to the single-stage plan (the DataFrame
    loop a checkpointer selects) and to the driver placement. The
    trigger alone picks the plan: at 4 shuffle partitions the hub is under
    4x a partition's load (single-stage), at 64 it is over (salted)."""
    from louvain_fast_move_cuda_spark.operators import labelprop
    from louvain_fast_move_cuda_spark.plans.checkpoint import VertexIterationCheckpointer
    from louvain_fast_move_cuda_spark.plans.conf import sql_conf
    from louvain_fast_move_cuda_spark.plans.skew import salted_sum_by_key, skewed_degree_trigger
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    n = 20_000
    und = [(0, i) for i in range(1, n)] + [(i, i + 1) for i in range(1, n - 1)]
    g = build_graph(spark.createDataFrame(und, "a long, b long"), relabel=False)
    mx, tot = g.vertices.agg(F.max("k"), F.sum("k")).collect()[0]
    salted_calls = []

    def spy(*args, **kw):
        salted_calls.append(1)
        return salted_sum_by_key(*args, **kw)

    monkeypatch.setattr(labelprop, "salted_sum_by_key", spy)

    def labels(**kw):
        return sorted(map(tuple, labelprop.label_propagation(g, max_iter=2, **kw).collect()))

    runs = []
    for npart, skewed in ((4, False), (64, True)):
        assert skewed_degree_trigger(float(mx), float(tot), npart) is skewed
        salted_calls.clear()
        with sql_conf(spark, {"spark.sql.shuffle.partitions": str(npart)}):
            ck = VertexIterationCheckpointer(str(tmp_path / f"p{npart}"), algo="lpa")
            runs.append(labels(checkpointer=ck))
        assert bool(salted_calls) is skewed
    plain, salted = runs
    assert plain == salted == labels(local_max_edges=0)


def test_iceberg_seam_detection(spark):
    """Sandbox has no Iceberg runtime: the seam must report unavailable
    (never raise), and its table naming must be deterministic."""
    from louvain_fast_move_cuda_spark.plans import iceberg

    assert iceberg.iceberg_available(spark) is False
    assert iceberg.table_name("ckpt", "pagerank", 7) == "ckpt.checkpoints.pagerank_step_7"


def test_graphstats_plans_have_no_cartesian_products(spark):
    """The new graph-statistics operators must stay equi-join shaped:
    a CartesianProduct/BroadcastNestedLoopJoin in any of them would be
    a 100 TB scale-killer."""
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        adamic_adar,
        assortativity,
        clustering_coefficient,
        degree_histogram,
        k_core,
    )
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=120, m_attach=2, seed=1), "a long, b long"),
        relabel=False,
    )
    for df in (
        clustering_coefficient(g),
        assortativity(g),
        degree_histogram(g),
        k_core(g, k=2, max_rounds=3),
        adamic_adar(g),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_sort_shuffle(spark):
    """Gap sessionization must be ONE range-partitioned sort: the lag,
    the running sum and the final groupBy all reuse the (user_id) window
    partitioning — a second Exchange on user_id would double the shuffle."""
    import datetime as dt

    from louvain_fast_move_cuda_spark.operators.temporal import sessionize

    df = spark.createDataFrame(
        [(0, dt.datetime(2024, 1, 1), 1, "a", 0.0)],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, value double",
    )
    plan = _plan(sessionize(df))
    # one exchange for the window sort; the groupBy(user_id, sess_no)
    # hash-partitions on a superset key so AQE may add one partial agg
    # exchange, but never a second full sort
    assert plan.count("Sort ") <= 2  # window sort (+ possible agg sort)
    assert "CartesianProduct" not in plan


def test_refine_plan_has_no_cartesian_products(spark):
    """The refine phase (intra-community restriction + CC) must stay
    equi-join shaped end-to-end: its subgraph build is two hash joins
    against the label table, never a nested-loop."""
    from pyspark.sql import functions as F

    from louvain_fast_move_cuda_spark.operators.refine import refine_partition
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=120, m_attach=2, seed=1), "a long, b long"),
        relabel=False,
    )
    labels = g.vertices.select(
        F.col("id").alias("orig_id"), F.pmod("id", F.lit(7)).alias("community")
    )
    plan = _plan(refine_partition(g, labels, local_max_edges=0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_edge_file_skip_scan_is_jvm_only(spark, tmp_path):
    """The skip_lines path must never leave the JVM (round-4 rewrite:
    _metadata.file_block_start + per-file head window replaced the
    RDD+Python generator): no Python eval, no RDD scan, and only the
    head-split rows meet an Exchange."""
    from louvain_fast_move_cuda_spark.sources.edgefile import read_edge_file

    d = tmp_path / "edges"
    d.mkdir()
    (d / "a.edge").write_text("header\n0 1\n1 2\n")
    (d / "b.edge").write_text("header\n2 3\n")
    df = read_edge_file(spark, str(d), skip_lines=1)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Scan ExistingRDD" not in plan
    assert sorted((r.a, r.b) for r in df.collect()) == [(0, 1), (1, 2), (2, 3)]


def test_walks_and_new_stats_plans_are_equi_join_shaped(spark):
    """Round-4 additions (walks, neighbor sampling, Jaccard, community
    metrics, personalized PageRank's static tables) must stay
    equi-join/window shaped — no nested-loop anywhere, and the walk
    step must join on the current vertex (frontier-sized work/step)."""
    from pyspark.sql import functions as F

    from louvain_fast_move_cuda_spark.operators.graphstats import (
        community_metrics,
        jaccard_similarity,
    )
    from louvain_fast_move_cuda_spark.operators.distances import landmark_distances
    from louvain_fast_move_cuda_spark.operators.walks import (
        random_walks,
        sample_neighbors,
        skipgram_pairs,
        weighted_random_walks,
    )
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=120, m_attach=2, seed=1), "a long, b long"),
        relabel=False,
    )
    labels = g.vertices.select("id", F.pmod("id", F.lit(5)).alias("community"))
    for df in (
        random_walks(g, length=3, seed_mod=2),
        weighted_random_walks(g, length=3, seed_mod=2),
        skipgram_pairs(random_walks(g, length=3, seed_mod=2), window=2),
        landmark_distances(g, seed_mod=10, max_hops=2),
        sample_neighbors(g, k=3),
        jaccard_similarity(g),
        community_metrics(g, labels),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "EvalPython" not in plan


def test_neighbor_sample_single_window_shuffle(spark):
    """Over a materialized edge table (the production shape — _graph
    localCheckpoints it), sample_neighbors is ONE hash-partition-by-src
    window sort, and Spark's WindowGroupLimit pushdown pre-truncates
    each partition to the top-k BEFORE the Exchange — the hub-friendly
    plan (a hub ships at most k·n_map_partitions rows, not its whole
    adjacency)."""
    from louvain_fast_move_cuda_spark.operators.walks import sample_neighbors
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=120, m_attach=2, seed=1), "a long, b long"),
        relabel=False,
    )
    g.edges = g.edges.localCheckpoint(eager=True)
    plan = _plan(sample_neighbors(g, k=3), mode="simple")  # one line per node
    assert plan.count("Exchange") == 1
    assert plan.count("WindowGroupLimit") == 2  # partial (pre-shuffle) + final


def test_curation_and_corpus_stats_plans_jvm_only_equi_joins(spark):
    """The round-4 corpus operators (top-terms, rarity, curation, kNN
    eval) must stay JVM-side (no Python eval of any kind) and
    equi-join shaped — with the one deliberate exception: kNN label
    eval rides brute_force_topk's bounded broadcast cross join, which
    must appear as BroadcastNestedLoopJoin over the SMALL query set
    only, never CartesianProduct."""
    from louvain_fast_move_cuda_spark.operators.curation import (
        decontaminate,
        dup_spans,
        lang_confusion,
        source_quality_rollup,
    )
    from louvain_fast_move_cuda_spark.operators.textstats import (
        rarity_scores,
        top_terms,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (
        top_terms(docs, k=3),
        rarity_scores(docs),
        decontaminate(docs, eval_mod=100, n=4),
        dup_spans(docs, n=6),
        source_quality_rollup(docs),
        lang_confusion(docs),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_round4_late_operators_plans_jvm_only(spark):
    """The late-round-4 operators must stay JVM-side with no cartesian
    blowups: repetition/bigram-LM/vocab/quantiles/stratified-sample over
    documents, tool transitions over transcripts, edge support over the
    graph. Known bounded exceptions: length_quantiles joins 5 quantile
    rows against the bounded distinct-length table (broadcast NLJ over
    a 5-row side is the intended plan), and its window input — like
    vocab_coverage's — is one row per DISTINCT length, so the single
    partition is not a scale hazard."""
    from louvain_fast_move_cuda_spark.operators.curation import stratified_sample
    from louvain_fast_move_cuda_spark.operators.graphstats import edge_support
    from louvain_fast_move_cuda_spark.operators.temporal import tool_transitions
    from louvain_fast_move_cuda_spark.operators.textstats import (
        bigram_lm_scores,
        repetition_scores,
        vocab_coverage,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = docs.select("source").distinct().withColumn(
        "keep_permille", F.lit(500)
    )
    t = spark.createDataFrame(
        [("c", 0, "user", "x", "grep"), ("c", 1, "tool", "y", "edit")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long"
    )
    for df in (
        repetition_scores(docs),
        vocab_coverage(docs, top_v=10),
        bigram_lm_scores(docs),
        stratified_sample(docs, rates),
        tool_transitions(t),
        edge_support(edges),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    # stratified_sample must broadcast the strata-sized rates table
    assert "BroadcastHashJoin" in _plan(stratified_sample(docs, rates))

    # length_quantiles: the only NLJ is the 5-row quantile-target side
    from louvain_fast_move_cuda_spark.operators.textstats import length_quantiles

    qplan = _plan(length_quantiles(docs))
    assert "CartesianProduct" not in qplan
    assert "BatchEvalPython" not in qplan


def test_round4_closing_operators_plans_jvm_only(spark):
    """The round-4 closing operators stay JVM-side with no cartesian
    blowups: curation verdicts / PII over documents, funnel / retention
    / cube / quantiles / rolling counts over events, conv stats + role
    transitions + tool co-occurrence over transcripts, quad census over
    the graph. Bounded exception: value_quantiles_by_type broadcasts a
    (group x quantile) target table — a broadcast join over rows
    bounded by |event_type| x 5 is the intended plan."""
    from louvain_fast_move_cuda_spark.operators.curation import (
        curation_verdicts,
        pii_scan,
    )
    from louvain_fast_move_cuda_spark.operators.graphstats import quad_census
    from louvain_fast_move_cuda_spark.operators.temporal import (
        conv_stats,
        events_cube,
        funnel_counts,
        retention_cohorts,
        role_transitions,
        rolling_activity,
        tool_cooccurrence,
        value_quantiles_by_type,
    )
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    t = spark.createDataFrame(
        [("c", 0, "user", "x", "grep", None), ("c", 1, "tool", "y", "edit", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp_ntz",
    )
    g = build_graph(spark.createDataFrame([(0, 1), (1, 2)], "a long, b long"))
    for df in (
        pii_scan(docs),
        curation_verdicts(docs),
        funnel_counts(ev),
        retention_cohorts(ev),
        events_cube(ev),
        value_quantiles_by_type(ev),
        rolling_activity(ev),
        conv_stats(t),
        role_transitions(t),
        tool_cooccurrence(t),
        quad_census(g),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
    # pure projections must not shuffle at all
    assert "Exchange" not in _plan(pii_scan(docs))


def test_sketch_plans_takeordered_jvm_only(spark):
    """The sketch family's bottom-k stages must compile to TakeOrdered
    (per-partition top-k + driver merge — the distributed sketch-union)
    and never a full global Sort; everything stays JVM-side. Bounded
    exceptions by construction: kmv's 1-row x 1-row stat join and
    quantile_sketch's (5-quantile x k-sample) joins are
    constant-size, so a nested-loop there is the intended plan."""
    from louvain_fast_move_cuda_spark.operators.sketch import (
        kmv_distinct,
        quantile_sketch,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    hv = ev.filter(F.col("value").isNotNull()).select(
        F.xxhash64("event_id").alias("h"), "value"
    )
    for df in (kmv_distinct(hv.select("h"), k=64), quantile_sketch(hv, k=64)):
        plan = _plan(df)
        assert "TakeOrdered" in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
    # the full-data rank-check pass must reach the estimates via a
    # broadcast, not a shuffle of the corpus
    assert "BroadcastNestedLoopJoin" in _plan(quantile_sketch(hv, k=64))


def test_new_graph_operator_plans_jvm_only(spark):
    """stress/MIS/node2vec/rich-club must stay JVM-side with no
    unbounded cartesian products; their per-round/per-step joins are
    equi-joins against static tables. (node2vec's per-walk window and
    MIS's integer max are WindowExec/HashAggregate shapes — both
    whole-stage-codegen friendly.)"""
    from louvain_fast_move_cuda_spark.operators.distances import stress_centrality
    from louvain_fast_move_cuda_spark.operators.graphstats import rich_club
    from louvain_fast_move_cuda_spark.operators.mis import maximal_independent_set
    from louvain_fast_move_cuda_spark.operators.walks import node2vec_walks
    from louvain_fast_move_cuda_spark.sources.edges import build_graph

    edges = spark.createDataFrame(
        [(i, (i + 1) % 24) for i in range(24)] + [(i, (i + 7) % 24) for i in range(24)],
        "a long, b long",
    )
    g = build_graph(edges, relabel=False)
    for df in (
        stress_centrality(g, seed_mod=6, max_hops=2),
        maximal_independent_set(g, max_rounds=12),
        node2vec_walks(g, length=2, seed_mod=6),
        rich_club(g, thresholds=(1, 2)),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


def test_ppr_sweep_topk_is_take_ordered_not_global_sort(spark):
    """The sweep-cut prefix selection must compile to TakeOrderedAnd-
    Project (per-partition heaps + driver merge) — a global Sort over
    the full vertex set would single-partition 10^12 rows."""
    from louvain_fast_move_cuda_spark.operators.pagerank import (
        personalized_pagerank,
    )
    from louvain_fast_move_cuda_spark.sources.transcripts import transcript_graph

    _, _, g = transcript_graph(spark, SF_DIR)
    seeds = g.vertices.select("id").filter(F.col("id") % 97 == 0)
    pr = personalized_pagerank(g, seeds, max_iter=1, tol=0.0)
    top = (
        pr.select("id", F.round("rank", 9).alias("r9"))
        .filter(F.col("r9") > 0)
        .orderBy(F.desc("r9"), F.asc("id"))
        .limit(64)
    )
    plan = _plan(top, "simple")
    assert "TakeOrderedAndProject" in plan


def test_round5_operator_plans_stay_equi_join_and_jvm_side(spark):
    """The round-5 additions must keep the same plan discipline: no
    cartesian/nested-loop joins (the scalar-aggregate crossJoins are
    single-row by construction and compile to broadcast loops over ONE
    row — explicitly allowed), and no Python row evaluation anywhere."""
    from louvain_fast_move_cuda_spark.operators.graphstats import (
        degree_ccdf,
        degree_gini,
        densest_subgraph,
        graph_profile,
        powerlaw_alpha,
        resource_allocation,
        weighted_assortativity,
        weighted_clustering,
    )
    from louvain_fast_move_cuda_spark.operators.triads import triad_census
    from louvain_fast_move_cuda_spark.operators.triangles import clique4_count
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    edges = powerlaw_graph(n=120, m_attach=2, seed=1)
    g = build_graph(
        spark.createDataFrame(edges, "a long, b long"), relabel=False
    )
    gw = build_graph(
        spark.createDataFrame(
            [(a, b, 1.0) for a, b in edges], "a long, b long, w double"
        ),
        relabel=False,
        weight="w",
    )
    raw = spark.createDataFrame(edges, "a long, b long")
    for df in (
        degree_gini(g),
        degree_ccdf(g),
        graph_profile(g),
        powerlaw_alpha(g),
        resource_allocation(g),
        weighted_clustering(gw),
        weighted_assortativity(gw),
        densest_subgraph(g, max_rounds=2),
        triad_census(raw),
        clique4_count(g),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


def test_cc_star_round_is_join_free_with_three_exchanges(spark):
    """One connected-components star round is one plan of windows,
    explodes and in-place distincts: no join, broadcast or cartesian
    product, and at most three shuffles (the large star's window over the
    previous round's checkpoint, and one per star output)."""
    from louvain_fast_move_cuda_spark.operators.components import _star_round
    from louvain_fast_move_cuda_spark.sources.edges import build_graph
    from oracle import powerlaw_graph

    g = build_graph(
        spark.createDataFrame(powerlaw_graph(n=120, m_attach=2, seed=1), "a long, b long"),
        relabel=False,
    )
    # the round's input is the previous round's checkpoint, as in the loop
    edges = g.edges.select("src", "dst").localCheckpoint(eager=True)
    plan = _plan(_star_round(edges, 4), "simple")
    nodes = [ln.lstrip(" +-:") for ln in plan.splitlines()]
    for banned in ("Join", "BroadcastExchange", "CartesianProduct"):
        assert not [n for n in nodes if banned in n.split("(")[0]], (banned, plan)
    assert 1 <= sum(n.startswith("Exchange ") for n in nodes) <= 3, plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
