"""Corpus-curation operators: decontamination, duplicated spans,
deterministic splits, reporting rollups (operators/curation.py).

No CUDA-reference counterpart; oracles are hand-computed on tiny
corpora (the driver gate re-checks every operator against DuckDB SQL
at sf0.01)."""

import math

from pyspark.sql import functions as F

from louvain_fast_move_cuda_spark.operators.curation import (
    decontaminate,
    doc_content_hash,
    doc_ngrams,
    dup_spans,
    lang_confusion,
    sequence_pack,
    source_quality_rollup,
    split_from_hashes,
)
from louvain_fast_move_cuda_spark.operators.textstats import quality_scores


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_ngrams_positions_and_short_doc_guard(spark):
    df = _docs(spark, [(0, "a b c d e"), (1, "x y")])
    got = sorted((r.doc_id, r.pos, r.gram) for r in doc_ngrams(df, 3).collect())
    # doc 0: 5 tokens -> 3 trigrams at positions 0,1,2; doc 1 too short -> nothing
    assert got == [(0, 0, "a b c"), (0, 1, "b c d"), (0, 2, "c d e")]


def test_decontaminate_counts_by_hand(spark):
    # doc 100 is eval (id % 100 == 0); doc 1 repeats one of its 2-grams
    # twice, doc 2 shares nothing
    df = _docs(
        spark,
        [
            (100, "alpha beta gamma"),
            (1, "alpha beta x alpha beta"),
            (2, "delta epsilon zeta"),
        ],
    )
    got = {r.doc_id: r for r in decontaminate(df, eval_mod=100, n=2).collect()}
    assert set(got) == {1, 2}  # eval doc excluded from the output
    r1 = got[1]
    # doc 1 grams: 'alpha beta','beta x','x alpha','alpha beta' -> hits at pos 0 and 3
    assert r1.n_grams == 4
    assert r1.n_hit_positions == 2
    assert r1.n_hit_grams == 1
    assert r1.n_eval_docs == 1
    assert r1.contaminated == 1
    r2 = got[2]
    assert (r2.n_hit_positions, r2.n_eval_docs, r2.contaminated) == (0, 0, 0)


def test_decontaminate_eval_gram_join_is_broadcast(spark):
    df = _docs(spark, [(0, "a b c"), (1, "a b d"), (2, "c d e")])
    plan = decontaminate(df, eval_mod=100, n=2)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the benchmark-sized eval gram table must broadcast: the 100 TB
    # train side is never shuffled by the contamination join
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dup_spans_shared_span_detected(spark):
    shared = "one two three four five six"
    df = _docs(
        spark,
        [
            (0, shared + " tail0"),
            (1, "head1 " + shared),
            (2, "nothing in common here at all"),
        ],
    )
    got = {r.doc_id: r for r in dup_spans(df, n=6).collect()}
    # docs 0 and 1 each contain the shared 6-gram exactly once
    assert got[0].n_dup_spans == 1 and got[0].n_dup_grams == 1
    assert got[1].n_dup_spans == 1 and got[1].n_dup_grams == 1
    assert got[2].n_dup_spans == 0 and got[2].dup_frac_r9 == 0.0
    assert got[0].n_spans == 2  # 7 tokens -> 2 six-grams
    assert got[0].dup_frac_r9 == 0.5


def test_split_from_hashes_buckets_and_negative_pmod(spark):
    hs = spark.createDataFrame(
        [(0, 3), (1, 7), (2, 55), (3, -1)], "doc_id long, h long"
    )
    got = {r.doc_id: (r.bucket, r.split) for r in split_from_hashes(hs).collect()}
    assert got[0] == (3, "val")
    assert got[1] == (7, "test")
    assert got[2] == (55, "train")
    assert got[3] == (99, "train")  # pmod, not C-style remainder


def test_hash_split_is_content_keyed(spark):
    # byte-identical texts land in the same split regardless of doc_id
    df = _docs(spark, [(0, "same text"), (777, "same text"), (1, "other")])
    hs = doc_content_hash(df)
    got = {r.doc_id: r.split for r in split_from_hashes(hs).collect()}
    assert got[0] == got[777]


def test_source_quality_rollup_micro_mean(spark):
    df = spark.createDataFrame(
        [
            (0, "the quick brown fox", "en", "s0", 19),
            (1, "a lazy dog sleeps here", "en", "s0", 22),
            (2, "der hund", "de", "s1", 8),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    q = {r.doc_id: r.quality for r in quality_scores(df).collect()}
    expect_s0 = round(
        (round(q[0] * 1e6) + round(q[1] * 1e6)) / (2 * 1e6), 9
    )
    got = {(r.source, r.lang): r for r in source_quality_rollup(df).collect()}
    r0 = got[("s0", "en")]
    assert r0.n_docs == 2 and r0.total_chars == 41
    assert math.isclose(r0.mean_quality_r9, expect_s0, abs_tol=1e-12)
    assert got[("s1", "de")].n_docs == 1


def test_lang_confusion_counts(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is here", "en"),
            (1, "der hund und die katze ist hier", "de"),
            (2, "der mann und die frau sind da", "en"),  # mislabeled on purpose
        ],
        "doc_id long, text string, lang string",
    )
    got = {(r.lang, r.lang_pred): r.n_docs for r in lang_confusion(df).collect()}
    assert got[("en", "en")] == 1
    assert got[("de", "de")] == 1
    assert got[("en", "de")] == 1  # the mislabeled row shows up off-diagonal


def test_prefix_sum_matches_serial_scan_across_partitions(spark):
    from louvain_fast_move_cuda_spark.plans.scan import prefix_sum

    vals = [(i, (i * 7 + 3) % 11) for i in range(200)]
    df = spark.createDataFrame(vals, "k long, v long")
    # force many range partitions so the offset machinery actually runs
    got = {r.k: r.cum_before for r in prefix_sum(df, "k", "v", num_partitions=16).collect()}
    acc = 0
    for k, v in vals:
        assert got[k] == acc, (k, got[k], acc)
        acc += v


def test_sequence_pack_boundaries_and_empty_doc(spark):
    df = _docs(
        spark,
        [
            (0, "a b c"),        # 3 tokens -> pack 0, off 0..2
            (1, "d e f g"),      # 4 tokens, cum 3 -> starts pack 0 off 3, ends pack 1
            (2, ""),             # empty: start == end pack
            (3, "h i"),          # cum 7 -> pack 1
        ],
    )
    got = {r.doc_id: r for r in sequence_pack(df, seq_len=5).collect()}
    assert (got[0].start_pack, got[0].start_off, got[0].end_pack) == (0, 0, 0)
    assert (got[1].start_pack, got[1].start_off, got[1].end_pack) == (0, 3, 1)
    assert got[2].n_tokens == 0 and got[2].start_pack == got[2].end_pack == 1
    assert (got[3].start_pack, got[3].start_off, got[3].end_pack) == (1, 2, 1)
    assert got[3].cum_before == 7


def test_stratified_sample_thresholds_and_content_keying(spark):
    from louvain_fast_move_cuda_spark.operators.curation import stratified_sample

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma", "web"),
            (1, "alpha beta gamma", "books"),  # byte-identical text, other source
            (2, "delta epsilon", "web"),
            (3, "zeta eta theta", "books"),
        ],
        "doc_id long, text string, source string",
    )
    rates = spark.createDataFrame(
        [("web", 1000), ("books", 0)], "source string, keep_permille int"
    )
    got = {r.doc_id: r for r in stratified_sample(df, rates).collect()}
    # keep_permille=1000 keeps every bucket; 0 keeps none
    assert got[0].kept == 1 and got[2].kept == 1
    assert got[1].kept == 0 and got[3].kept == 0
    # content-keyed: identical text -> identical bucket across sources
    assert got[0].bucket == got[1].bucket
    assert 0 <= got[0].bucket < 1000
    # verdict changes with the rate, not the doc: swap rates, doc 1 flips
    rates2 = spark.createDataFrame(
        [("web", 0), ("books", 1000)], "source string, keep_permille int"
    )
    got2 = {r.doc_id: r for r in stratified_sample(df, rates2).collect()}
    assert got2[1].kept == 1 and got2[0].kept == 0


def test_pii_scan_pattern_counts_by_hand(spark):
    from louvain_fast_move_cuda_spark.operators.curation import pii_scan

    df = spark.createDataFrame(
        [
            (0, "mail me at A.User+tag@Example.co.uk or bob@x.io"),
            (1, "server 10.0.0.1 and 192.168.001.255 up"),
            (2, "call +1 (555) 123-4567 today"),
            (3, "card 4111111111111111 leaked"),
            (4, "clean prose with no identifiers at all"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scan(df).collect()}
    assert (got[0].n_emails, got[0].has_pii) == (2, 1)
    assert (got[1].n_ipv4, got[1].has_pii) == (2, 1)
    assert (got[2].n_phones, got[2].has_pii) == (1, 1)
    # 16-digit card: one phone-shaped run AND one long digit run
    assert (got[3].n_long_digit_runs, got[3].n_phones, got[3].has_pii) == (1, 1, 1)
    assert tuple(got[4])[1:] == (0, 0, 0, 0, 0)


def test_curation_verdicts_first_failing_gate(spark):
    from louvain_fast_move_cuda_spark.operators.curation import curation_verdicts

    good = (
        "the cat and the dog went to the park and the sun was shining "
        "over the green field and the children were playing during the "
        "long warm afternoon while the birds were singing in the trees "
        "and the wind was moving the leaves of the old oak standing to "
        "the side of the path going down to the river and the meadow "
        "near the bridge and the mill and the garden of the cottage and "
        "the orchard full of apples and the lane going to the village"
    )
    df = spark.createDataFrame(
        [
            (0, good),                          # keep
            (1, good),                          # byte-identical dup of 0
            (2, "!!! ??? ###"),                 # garbage -> low_quality
            (3, good + " mail me at a@b.io"),   # PII (passes quality first)
            (4, " el que de los una " * 60),    # Spanish -> lang
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in curation_verdicts(df).collect()}
    assert (got[0].verdict, got[0].keep) == ("keep", 1)
    assert (got[1].verdict, got[1].is_rep) == ("duplicate", 0)
    assert got[2].verdict == "low_quality"
    assert (got[3].verdict, got[3].has_pii) == ("pii", 1)
    assert (got[4].verdict, got[4].lang_pred) == ("lang", "es")
    assert sum(r.keep for r in got.values()) == 1


def test_chunk_documents_windows_and_hashes(spark):
    import hashlib

    from louvain_fast_move_cuda_spark.operators.curation import chunk_documents

    toks = [f"t{i}" for i in range(80)]
    df = spark.createDataFrame(
        [(0, " ".join(toks)), (1, "a  b"), (2, "   "), (3, "solo")],
        "doc_id long, text string",
    )
    rows = sorted(
        tuple(r) for r in chunk_documents(df, window=32, stride=24).collect()
    )

    def md5(ts):
        return hashlib.md5(" ".join(ts).encode()).hexdigest()

    # 80 tokens -> 1 + ceil(48/24) = 3 chunks at starts 0/24/48
    want = [
        (0, 0, 0, 32, md5(toks[0:32])),
        (0, 1, 24, 32, md5(toks[24:56])),
        (0, 2, 48, 32, md5(toks[48:80])),
        (1, 0, 0, 2, md5(["a", "b"])),        # multi-space collapses
        (2, 0, 0, 0, md5([])),                # empty doc -> empty chunk
        (3, 0, 0, 1, md5(["solo"])),
    ]
    assert rows == sorted(want)
    # every token is covered: last start + window >= n for every doc
    assert max(r[2] for r in rows if r[0] == 0) + 32 >= 80


def test_chunk_documents_exact_dedup_composes(spark):
    from louvain_fast_move_cuda_spark.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    ch = chunk_documents(df, window=32, stride=24)
    dup = ch.groupBy("chunk_hash").count().filter("count > 1")
    # both docs produce the identical 2 chunks -> 2 duplicated hashes
    assert dup.count() == 2


def test_boilerplate_ngrams_detects_planted_chrome(spark):
    from louvain_fast_move_cuda_spark.operators.curation import boilerplate_ngrams

    chrome = "all rights reserved"
    rows = []
    # srcA: 8 docs, chrome in 3 (df*4 >= 8 at frac 1/4... use frac 1/4)
    for i in range(8):
        body = f"unique words number {i} body filler content here"
        text = (body + " " + chrome) if i < 3 else body
        rows.append((i, text, "srcA"))
    # srcB: chrome in only 1 of 8 docs -> below min_docs
    for i in range(8):
        body = f"other base text piece {i} with more tokens"
        text = (body + " " + chrome) if i == 0 else body
        rows.append((100 + i, text, "srcB"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    got = boilerplate_ngrams(
        df, n=3, min_docs=2, frac_num=1, frac_den=4, top_k=50
    ).collect()
    a = {(r["gram"]): r for r in got if r["source"] == "srcA"}
    assert "all rights reserved" in a
    r = a["all rights reserved"]
    assert (r["df"], r["n_docs"]) == (3, 8)
    assert abs(r["frac_r9"] - 0.375) < 1e-12
    # srcB's single-doc chrome must not appear
    assert not any(
        x["source"] == "srcB" and x["gram"] == chrome for x in got
    )
    # ranks are 1..k contiguous per source, ordered by (df desc, gram)
    for s in ("srcA", "srcB"):
        rs = sorted(
            ((x["rank"], x["df"], x["gram"]) for x in got if x["source"] == s)
        )
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        assert rs == sorted(rs, key=lambda t: (t[0],))
        dfs = [(-x[1], x[2]) for x in rs]
        assert dfs == sorted(dfs)


def test_boilerplate_threshold_is_exact_rational(spark):
    from louvain_fast_move_cuda_spark.operators.curation import boilerplate_ngrams

    # 3 of 12 docs -> df*4 == n_docs exactly: the >= must include it
    phrase = "exact threshold case"
    rows = [
        (i, (f"pad{i} filler body words " + (phrase if i < 3 else "nothing")), "s")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = boilerplate_ngrams(df, n=3, min_docs=2, frac_num=1, frac_den=4).collect()
    assert any(r["gram"] == phrase for r in got)


def test_dedup_by_source_rates(spark):
    from louvain_fast_move_cuda_spark.operators.dedup import dedup_by_source

    df = spark.createDataFrame(
        [
            (0, "same text", "a"),
            (1, "same  TEXT ", "a"),   # normalizes equal to doc 0
            (2, "other", "a"),
            (3, "unique one", "b"),
            (4, "unique two", "b"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in dedup_by_source(df).collect()}
    assert (got["a"]["n_docs"], got["a"]["n_distinct"], got["a"]["n_dup_docs"]) == (3, 2, 1)
    assert abs(got["a"]["dup_rate_r9"] - round(1.0 - 2 / 3, 9)) < 1e-12
    assert (got["b"]["n_docs"], got["b"]["n_dup_docs"]) == (2, 0)
    assert got["b"]["dup_rate_r9"] == 0.0


def test_length_gini_by_source(spark):
    from louvain_fast_move_cuda_spark.operators.textstats import (
        length_gini_by_source,
    )

    df = spark.createDataFrame(
        [
            (0, "aaaa", "uniform"),   # all length 4 -> G = 0
            (1, "bbbb", "uniform"),
            (2, "cccc", "uniform"),
            (3, "x", "skewed"),       # lengths 1,1,1,1,4
            (4, "y", "skewed"),
            (5, "z", "skewed"),
            (6, "w", "skewed"),
            (7, "vvvv", "skewed"),
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in length_gini_by_source(df).collect()}
    assert got["uniform"]["gini_r9"] == 0.0
    # same shape as the degree star: (1,1,1,1,4) -> G = 0.3
    assert (got["skewed"]["n_docs"], got["skewed"]["sum_len"]) == (5, 8)
    assert got["skewed"]["gini_r9"] == 0.3


def test_cdc_chunks_shift_resilience(spark):
    """The CDC property: prepending one token only changes the FIRST
    chunk's identity; fixed-window chunking would shift every chunk."""
    from louvain_fast_move_cuda_spark.operators.curation import (
        cdc_chunks_from_flags,
        cdc_token_flags,
        chunk_documents,
    )

    base = " ".join(f"tok{i}" for i in range(200))
    shifted = "EXTRA " + base
    df = spark.createDataFrame(
        [(0, base), (1, shifted)], "doc_id long, text string"
    )
    rows = cdc_chunks_from_flags(cdc_token_flags(df, divisor=8)).collect()
    h0 = {r["chunk_hash"] for r in rows if r["doc_id"] == 0}
    h1 = {r["chunk_hash"] for r in rows if r["doc_id"] == 1}
    assert len(h0) > 3, "divisor 8 over 200 tokens must cut several chunks"
    # all but the first chunk survive the shift
    assert len(h0 - h1) <= 1
    # fixed-window chunking shares (almost) nothing after the shift
    fw = chunk_documents(df, window=8, stride=8).collect()
    f0 = {r["chunk_hash"] for r in fw if r["doc_id"] == 0}
    f1 = {r["chunk_hash"] for r in fw if r["doc_id"] == 1}
    assert len(f0 & f1) <= 1

    # chunk partition invariants: contiguous, covering, boundary-ended
    per_doc = sorted(
        (r["chunk_idx"], r["start_tok"], r["n_toks"]) for r in rows if r["doc_id"] == 0
    )
    pos = 0
    for idx, (ci, st, nt) in enumerate(per_doc):
        assert ci == idx and st == pos
        pos += nt
    assert pos == 200


def test_lexical_richness_by_hand(spark):
    from louvain_fast_move_cuda_spark.operators.textstats import lexical_richness

    df = spark.createDataFrame(
        [
            (0, "a b a b a", "loop"),      # tokens: a x3, b x2 -> 2 types, 0 hapax
            (1, "x y z x", "rich"),        # x x2, y, z -> 3 types, 2 hapax
        ],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in lexical_richness(df).collect()}
    assert (got["loop"]["n_tokens"], got["loop"]["n_types"], got["loop"]["n_hapax"]) == (5, 2, 0)
    assert got["loop"]["ttr_r9"] == 0.4 and got["loop"]["hapax_frac_r9"] == 0.0
    assert (got["rich"]["n_tokens"], got["rich"]["n_types"], got["rich"]["n_hapax"]) == (4, 3, 2)
    assert abs(got["rich"]["ttr_r9"] - 0.75) < 1e-12
    assert abs(got["rich"]["hapax_frac_r9"] - round(2 / 3, 9)) < 1e-12


def test_source_overlap_matrix(spark):
    from louvain_fast_move_cuda_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [(0, "srcA"), (1, "srcA"), (2, "srcB"), (3, "srcC")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    got = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in source_overlap(docs, pairs).collect()
    }
    assert got == {
        ("srcA", "srcA"): 1,   # 0-1 internal dup
        ("srcA", "srcB"): 2,   # 0-2 and 1-2 cross-contamination
        ("srcB", "srcC"): 1,
    }


def test_embedding_norm_quantiles_exact(spark):
    import math

    from louvain_fast_move_cuda_spark.operators.similarity import (
        embedding_norm_quantiles,
    )

    # norms 3,4,5 exactly (pythagorean vectors)
    df = spark.createDataFrame(
        [(0, [3.0, 0.0]), (1, [0.0, 4.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["q"]: r for r in embedding_norm_quantiles(df, quantiles=(50, 99)).collect()}
    assert got[50]["norm"] == 4.0   # rank ceil(1.5)=2 of [3,4,5]
    assert got[99]["norm"] == 5.0
    assert all(r["n"] == 3 for r in got.values())
    assert math.sqrt(9.0) == 3.0  # sanity: exact squares chosen on purpose


def test_ivf_cell_balance_shares_sum_to_one(spark):
    from louvain_fast_move_cuda_spark.operators.similarity import ivf_assign
    from pyspark.sql import functions as F

    # clustered data: 3 tight clusters -> 3 non-empty cells, shares sum 1
    import math

    rows = []
    for c in range(3):
        base = [0.0] * 8
        base[c] = 1.0
        for i in range(10):
            v = list(base)
            v[(c + 1) % 8] = 0.01 * i
            rows.append((c * 10 + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, assigned = ivf_assign(df, n_centroids=3)
    counts = assigned.groupBy("cid").agg(F.count("*").alias("n"))
    got = {r["cid"]: r["n"] for r in counts.collect()}
    assert sum(got.values()) == 30
    assert len(got) <= 3


def test_winnow_pairs_shared_run_guarantee(spark):
    from louvain_fast_move_cuda_spark.operators.dedup import (
        winnow_fingerprints_from_hashes,
        winnow_hashes,
        winnow_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, shared + " unique tail zero alpha beta gamma"),
            (1, shared + " different ending one delta epsilon zeta"),
            (2, "totally unrelated content with no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints_from_hashes(winnow_hashes(docs, k=4), w=4)
    got = {(r["id_a"], r["id_b"]): r["n_shared"] for r in winnow_pairs(fps, min_shared=2).collect()}
    # the long shared run guarantees multiple shared fingerprints for (0,1)
    assert (0, 1) in got and got[(0, 1)] >= 2
    # doc 2 must pair with nobody
    assert not any(2 in p for p in got)
