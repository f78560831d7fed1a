"""Ingest-layer tests: edge derivation, canonicalization, symmetrize, relabel.

Mirrors reference semantics graph.cu:17-87 / graph.cuh:58-99 (SURVEY.md §2.1).
"""

import os

from pyspark.sql import functions as F

from louvain_fast_move_cuda_spark.sources.edges import (
    assign_contiguous_ids,
    build_graph,
    canonicalize_edges,
    derive_edges_from_transcripts,
    symmetrize,
)
from louvain_fast_move_cuda_spark.sources.transcripts import synthesize_transcripts


def test_canonicalize_dedup_selfloop(spark):
    raw = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 5)], "a long, b long"
    )
    got = sorted(
        (r.src, r.dst, r.weight) for r in canonicalize_edges(raw).collect()
    )
    assert got == [(1, 2, 1.0), (2, 5, 1.0)]


def test_symmetrize_doubles_rows(spark):
    canon = canonicalize_edges(spark.createDataFrame([(1, 2), (2, 5)], "a long, b long"))
    sym = symmetrize(canon)
    assert sym.count() == 4
    assert sym.filter(F.col("src") == 2).count() == 2


def test_contiguous_ids_order_preserving(spark):
    df = spark.createDataFrame([(v,) for v in [100, 7, 42, 100, 7, 9001]], "v long")
    ids = {r.v: r.nid for r in assign_contiguous_ids(df, ["v"], id_col="nid").collect()}
    assert ids == {7: 0, 42: 1, 100: 2, 9001: 3}


def test_relabel_and_scan_leave_nothing_cached(spark):
    """assign_contiguous_ids and prefix_sum hold their per-partition rows
    in a local checkpoint, not in the session's cache: nothing outlives
    the call, and a second derive in the same session recomputes from its
    input and gives the same pairs."""
    from louvain_fast_move_cuda_spark.operators.scan import prefix_sum

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    df = spark.createDataFrame([(v, v % 7) for v in range(0, 3000, 3)], "v long, x long")
    ids = {r.v: r.nid for r in assign_contiguous_ids(df, ["v"], id_col="nid").collect()}
    assert ids == {v: v // 3 for v in range(0, 3000, 3)}
    cum = {r.v: r.cum_before for r in prefix_sum(df, "v", "x", num_partitions=5).collect()}
    assert cum[2997] == sum(v % 7 for v in range(0, 2997, 3))
    assert cache.isEmpty()

    t = synthesize_transcripts(spark, n_convs=200, seed=7)
    first = sorted((r.a, r.b) for r in derive_edges_from_transcripts(t).collect())
    second = sorted((r.a, r.b) for r in derive_edges_from_transcripts(t).collect())
    assert first == second and len(first) > 200
    assert cache.isEmpty()


def test_build_graph_counts(spark):
    # triangle 10-20-30 plus pendant 40
    raw = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 10), (30, 40)], "a long, b long"
    )
    g = build_graph(raw)
    assert g.m == 4.0
    assert g.n_nodes == 4
    assert g.edges.count() == 8  # directed symmetric
    k = {r.id: r.k for r in g.vertices.collect()}
    assert k == {0: 2.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_transcript_edge_derivation_tiny(spark):
    rows = [
        ("c0", 0, "user", "t-0-0", None),
        ("c0", 1, "assistant", "t-0-1", "search"),
        ("c0", 2, "user", "t-0-2", None),
        ("c1", 0, "user", "t-1-0", None),
        ("c1", 1, "assistant", "t-1-1", "search"),
    ]
    t = spark.createDataFrame(
        [(c, i, r, x, tool, None) for (c, i, r, x, tool) in rows],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    pairs = derive_edges_from_transcripts(t)
    # vertex ids rank by (conv_id, turn_idx): c0/0->0 c0/1->1 c0/2->2 c1/0->3 c1/1->4
    got = sorted((r.a, r.b) for r in pairs.collect())
    # reply: 0-1, 1-2, 3-4 ; tool chain over 'search' ordered by (ts, conv, idx): (c0,1)->(c1,1) = 1->4
    assert got == [(0, 1), (1, 2), (1, 4), (3, 4)]


def test_synthesized_transcripts_deterministic_and_text_equality(spark):
    a = synthesize_transcripts(spark, n_convs=50, seed=42)
    b = synthesize_transcripts(spark, n_convs=50, seed=42)
    # per-turn text equality under stable (conv_id, turn_idx) ordering (north rule)
    diff = (
        a.alias("x")
        .join(b.alias("y"), ["conv_id", "turn_idx"], "full")
        .filter(F.col("x.text") != F.col("y.text"))
        .count()
    )
    assert diff == 0
    assert a.count() == b.count() > 50
    # turn_idx dense per conv
    bad = (
        a.groupBy("conv_id")
        .agg(F.max("turn_idx").alias("mx"), F.count("*").alias("n"))
        .filter(F.col("mx") != F.col("n") - 1)
        .count()
    )
    assert bad == 0


def test_end_to_end_graph_from_synth_transcripts(spark):
    t = synthesize_transcripts(spark, n_convs=100, seed=42)
    g = build_graph(derive_edges_from_transcripts(t))
    assert g.n_nodes > 100
    assert g.m > 0
    # symmetric: every (s,d) has (d,s)
    e = g.edges
    missing = (
        e.alias("x")
        .join(
            e.alias("y"),
            (F.col("x.src") == F.col("y.dst")) & (F.col("x.dst") == F.col("y.src")),
            "left_anti",
        )
        .count()
    )
    assert missing == 0


REF_EDGE_FILE = "/root/reference/graph-power-law-10000-2-99-1.edge"


def test_edge_file_ingest_bundled_reference_graph(spark):
    """End-to-end on the reference's own bundled graph (main.cu:10):
    node/edge counts must match GraphHost's parse (graph.cu:17-87) and
    Louvain on it must agree with the float64 oracle."""
    import os

    import pytest

    from louvain_fast_move_cuda_spark.operators.louvain import louvain
    from louvain_fast_move_cuda_spark.sources.edgefile import (
        edge_file_graph,
        read_edge_file,
    )
    from oracle import louvain_oracle

    if not os.path.exists(REF_EDGE_FILE):
        pytest.skip("reference edge file not present")
    raw = read_edge_file(spark, REF_EDGE_FILE)
    pairs = [(r.a, r.b) for r in raw.collect()]
    # the file is pre-deduped canonical pairs: n_links == line count
    assert len(pairs) == 19996
    g = edge_file_graph(spark, REF_EDGE_FILE, relabel=False)
    assert g.n_nodes == 10000
    assert g.m == 19996.0  # total_weight = n_links (graph.cu:77)
    res = louvain(g)
    want, q_want = louvain_oracle(pairs)
    got = {r.orig_id: r.community for r in res.labels.collect()}
    assert res.modularity == pytest.approx(q_want, abs=1e-6)
    assert got == want


def test_edge_file_skip_lines_comments_and_weighted(spark, tmp_path):
    """skip_lines drops exactly the header (graph.cu:21-23); comments and
    blanks are ignored; the weighted branch (reference TODO graph.cu:32)
    parses a third token and merges duplicate pairs by sum."""
    from louvain_fast_move_cuda_spark.sources.edgefile import (
        edge_file_graph,
        read_edge_file,
    )

    p = tmp_path / "g.edge"
    p.write_text("10000 3 header\n# comment\n0 1 2.0\n\n% other\n1 2 0.5\n0 1 1.0\n3 4\n")
    raw = read_edge_file(spark, str(p), weighted=True, skip_lines=1)
    rows = sorted((r.a, r.b, r.weight) for r in raw.collect())
    assert rows == [(0, 1, 1.0), (0, 1, 2.0), (1, 2, 0.5), (3, 4, 1.0)]
    g = edge_file_graph(spark, str(p), weighted=True, skip_lines=1, relabel=False)
    canon = {(r.src, r.dst): r.weight for r in
             g.edges.filter("src < dst").collect()}
    assert canon == {(0, 1): 3.0, (1, 2): 0.5, (3, 4): 1.0}
    # without skip_lines the header would parse as edge (10000, 3)
    raw2 = read_edge_file(spark, str(p), weighted=True)
    assert (10000, 3, 1.0) in {(r.a, r.b, r.weight) for r in raw2.collect()}


def test_edge_file_skip_lines_per_file(spark, tmp_path):
    """skip_lines must drop the header of EVERY input file when the path
    is a directory — a numeric header like '10000 3' in a second file
    must not parse as a bogus edge."""
    from louvain_fast_move_cuda_spark.sources.edgefile import read_edge_file

    d = tmp_path / "edges"
    d.mkdir()
    (d / "a.edge").write_text("10000 3\n0 1\n1 2\n")
    (d / "b.edge").write_text("20000 5\n2 3\n3 4\n")
    raw = read_edge_file(spark, str(d), skip_lines=1)
    rows = sorted((r.a, r.b) for r in raw.collect())
    assert rows == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_reference_graph_script_dedups_duplicate_lines(tmp_path):
    """scripts/check_reference_graph.py on a user file with REPEATED
    edge lines: the engine dedups them (canonicalize_edges, weight 1),
    so the script must canonical-dedup the raw pairs before the oracle
    too — duplicating only SOME lines would otherwise skew the oracle's
    weights and produce a false parity failure (ADVICE r4 #4).

    Runs the script end-to-end in a subprocess (it owns and stops its
    Spark session, so it must not share the suite's)."""
    import json
    import subprocess
    import sys

    # two triangles + a bridge; 3 of the 7 lines repeated (a uniform
    # duplication would leave Q invariant and mask the bug)
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    lines = [f"{a} {b}" for a, b in edges] + ["0 1", "1 0", "3 4"]
    p = tmp_path / "dup.edge"
    p.write_text("\n".join(lines) + "\n")
    proc = subprocess.run(
        [sys.executable, "scripts/check_reference_graph.py",
         "--edge-file", str(p), "--master", "local[2]"],
        capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    out = proc.stdout.strip().splitlines()[-1]
    rep = json.loads(out)
    assert rep["ok"], rep
    assert proc.returncode == 0
    assert rep["n_links"] == 7  # duplicates merged, both orientations
