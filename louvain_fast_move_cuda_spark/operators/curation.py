"""Corpus-curation operators: decontamination, duplicated spans,
deterministic splits, per-source reporting.

No CUDA-reference counterpart (the reference is a Louvain engine,
louvain.cu); these are the corpus-hygiene passes a large-scale
training-data pipeline runs beside dedup/quality (build brief). All
pure DataFrame ops — no UDFs, no collect — so every one of them rides
whole-stage codegen and scales by partitioning alone.

Shared machinery: `doc_ngrams` tokenizes with the SAME RE2-compatible
BPE-ish pre-tokenizer as textstats (so the DuckDB oracles mirror it
verbatim) and emits one row per (doc, position, n-gram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import language_id, quality_scores

_TOK_PATTERN = r"[a-z0-9]+|[^a-z0-9\s]"


def doc_ngrams(
    docs: DataFrame, n: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, gram) — every ``n``-token span, space-joined, with
    its 0-based start position. Docs shorter than ``n`` tokens emit no
    rows (the guard matters: F.sequence(0, negative) would DESCEND).

    Scale: tokenize + explode only — output is |tokens| rows per doc,
    never quadratic.
    """
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(_TOK_PATTERN), F.lit(0)
    )
    base = docs.select(F.col(id_col), toks.alias("ts"))
    idx = F.when(
        F.size("ts") >= n, F.sequence(F.lit(0), F.size("ts") - n)
    ).otherwise(F.array().cast("array<int>"))
    pg = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.array_join(F.slice("ts", i + 1, n), " ").alias("gram"),
        ),
    )
    return base.select(id_col, F.explode(pg).alias("pg")).select(
        id_col, F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram")
    )


def decontaminate(
    docs: DataFrame,
    eval_mod: int = 100,
    n: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap (the GPT-3/Pile
    recipe: drop training docs sharing any n-gram with the eval set).

    The "eval set" here is the deterministic slice doc_id % eval_mod == 0
    (stand-in for a real benchmark table — swap in any (doc_id, text)
    DataFrame). Returns one row per TRAINING doc:
    (doc_id, n_grams, n_hit_positions, n_hit_grams, n_eval_docs,
    contaminated) — all integers, so the check is exact.

    Scale: the eval side is benchmark-sized (fixed, small) regardless of
    corpus size, so its distinct gram table is broadcast — the 100 TB
    train side is tokenized and filtered in ONE pass with a broadcast
    hash join; no shuffle of the corpus at all.
    """
    grams = doc_ngrams(docs, n, text_col, id_col)
    is_eval = (F.col(id_col) % eval_mod) == 0
    ev_grams = (
        grams.filter(is_eval)
        .select("gram", F.col(id_col).alias("eval_doc"))
        .distinct()
    )
    train = grams.filter(~is_eval)
    hits = train.join(F.broadcast(ev_grams), "gram").groupBy(id_col).agg(
        F.countDistinct("pos").alias("n_hit_positions"),
        F.countDistinct("gram").alias("n_hit_grams"),
        F.countDistinct("eval_doc").alias("n_eval_docs"),
    )
    totals = (
        docs.filter(~is_eval)
        .select(id_col)
        .join(train.groupBy(id_col).agg(F.count("*").alias("n_grams")), id_col, "left")
    )
    return totals.join(hits, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_hit_positions", F.lit(0)).alias("n_hit_positions"),
        F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
        F.coalesce("n_eval_docs", F.lit(0)).alias("n_eval_docs"),
        (F.coalesce("n_hit_positions", F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


def dup_spans(
    docs: DataFrame, n: int = 6, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Substring-level duplication profile (the signal behind
    "deduplicate repeated spans, not just whole documents"): for each
    doc, how many of its n-token spans also appear in at least one
    OTHER doc. Returns (doc_id, n_spans, n_dup_spans, n_dup_grams,
    dup_frac_r9) for every doc; dup_frac is a single divide of two
    exact integers, r9-rounded.

    Scale: one groupBy computes per-gram distinct-doc counts (the
    vocabulary-of-spans table), one join marks duplicated positions,
    one per-doc aggregate — all linear in corpus tokens; no doc-pair
    blowup ever materializes.
    """
    grams = doc_ngrams(docs, n, text_col, id_col)
    shared = (
        grams.groupBy("gram")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gram")
    )
    dup = grams.join(shared, "gram").groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.countDistinct("gram").alias("n_dup_grams"),
    )
    totals = docs.select(id_col).join(
        grams.groupBy(id_col).agg(F.count("*").alias("n_spans")), id_col, "left"
    )
    n_spans = F.coalesce("n_spans", F.lit(0))
    n_dup = F.coalesce("n_dup_spans", F.lit(0))
    return totals.join(dup, id_col, "left").select(
        id_col,
        n_spans.alias("n_spans"),
        n_dup.alias("n_dup_spans"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.round(
            n_dup.cast("double")
            / F.greatest(n_spans, F.lit(1)).cast("double"),
            9,
        ).alias("dup_frac_r9"),
    )


def doc_content_hash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, h) — xxhash64 of the raw text. The materialize-for-
    oracle seam for `split_from_hashes` (xxhash64 has no DuckDB twin)."""
    return docs.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("h"))


def split_from_hashes(
    hashes: DataFrame, val_pct: int = 5, test_pct: int = 5
) -> DataFrame:
    """(doc_id, bucket, split) — deterministic content-hash train/val/
    test assignment: bucket = pmod(h, 100); val = [0, val_pct),
    test = [val_pct, val_pct+test_pct), train = rest.

    Hashing the TEXT (not the id) means byte-identical duplicates land
    in the same split — the standard guard against train/eval leakage
    through dups. Pure projection: no shuffle, no state; re-running on
    a grown corpus never reassigns an existing doc.
    """
    b = F.pmod(F.col("h"), F.lit(100))
    split = (
        F.when(b < val_pct, F.lit("val"))
        .when(b < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return hashes.select(
        "doc_id", b.cast("int").alias("bucket"), split.alias("split")
    )


def source_quality_rollup(docs: DataFrame) -> DataFrame:
    """(source, lang, n_docs, total_chars, mean_quality_r9) — the
    per-source curation report card (which crawl slices to keep /
    reweight). The mean is order-independent house-style: each doc's
    quality is rounded to integer micro-units first, the per-group sum
    is an exact integer aggregate, one final divide produces r9.

    Scale: per-doc quality is whole-stage codegen (textstats), then one
    groupBy on a low-cardinality key — partial aggregation makes the
    shuffle O(|sources × langs|), not O(docs).
    """
    q = quality_scores(docs)
    j = docs.select("doc_id", "source", "lang", "n_chars").join(q, "doc_id")
    micro = F.round(F.col("quality") * 1000000.0, 0).cast("long")
    return (
        j.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(micro).alias("micro_sum"),
        )
        .select(
            "source",
            "lang",
            "n_docs",
            "total_chars",
            F.round(
                F.col("micro_sum").cast("double")
                / (F.col("n_docs").cast("double") * 1000000.0),
                9,
            ).alias("mean_quality_r9"),
        )
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """(lang, lang_pred, n_docs) — confusion matrix of the heuristic
    language-ID against the table's labeled `lang` column: the
    evaluation loop that tells a pipeline operator whether the cheap
    classifier is good enough to route on. Integer counts only.
    """
    preds = language_id(docs)
    return (
        docs.select("doc_id", "lang")
        .join(preds, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def sequence_pack(
    docs: DataFrame,
    seq_len: int = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, cum_before, start_pack, start_off, end_pack)
    — boundary-agnostic sequence packing, the standard pretraining
    layout: concatenate all docs in doc_id order and cut fixed
    ``seq_len``-token windows; each doc records which pack its first
    token lands in (start_pack/start_off) and which pack holds its
    last token (end_pack — docs crossing a boundary span several).
    Tokens are the BPE-ish pre-tokenizer counts (textstats). Every
    output column is an integer, so the check is exact; empty docs
    keep end_pack == start_pack.

    Scale: the only non-local step is the exclusive prefix sum of doc
    lengths, which runs as the two-level distributed scan
    (plans/scan.py — thrust::exclusive_scan's cluster twin,
    graph.cuh:87); pack arithmetic is then a pure projection.
    """
    from ..plans.scan import prefix_sum

    n_tok = F.size(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(_TOK_PATTERN), F.lit(0))
    )
    stats = docs.select(F.col(id_col), n_tok.alias("n_tokens"))
    cum = prefix_sum(stats, id_col, "n_tokens")
    start_pack = F.expr(f"cum_before DIV {seq_len}")
    end_pack = F.when(
        F.col("n_tokens") > 0,
        F.expr(f"(cum_before + n_tokens - 1) DIV {seq_len}"),
    ).otherwise(start_pack)
    return cum.select(
        id_col,
        "n_tokens",
        "cum_before",
        start_pack.cast("long").alias("start_pack"),
        (F.col("cum_before") % seq_len).cast("long").alias("start_off"),
        end_pack.cast("long").alias("end_pack"),
    )


def sample_buckets(
    docs: DataFrame,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, source, bucket) — pmod(xxhash64(text, seed), 1000) per
    doc. The materialize-for-oracle seam for `sample_from_buckets`
    (xxhash64 has no DuckDB twin — same split as hash_split)."""
    h = F.xxhash64(F.col(text_col), F.lit(seed))
    return docs.select(
        F.col(id_col), "source", F.pmod(h, F.lit(1000)).cast("int").alias("bucket")
    )


def sample_from_buckets(buckets: DataFrame, rates: DataFrame) -> DataFrame:
    """(doc_id, source, bucket, keep_permille, kept) — join each doc's
    content bucket against its source's keep rate; kept = 1 iff
    bucket < keep_permille. Every doc is emitted with its verdict so
    acceptance is auditable per stratum; filter kept == 1 for the
    sampled corpus.

    Scale: the rates table is strata-sized — broadcast; the corpus is
    touched once, no shuffle at all.
    """
    return buckets.join(F.broadcast(rates), "source").select(
        "doc_id",
        "source",
        "bucket",
        "keep_permille",
        (F.col("bucket") < F.col("keep_permille")).cast("int").alias("kept"),
    )


def stratified_sample(
    docs: DataFrame,
    rates: DataFrame,
    seed: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, source, bucket, keep_permille, kept) — deterministic
    per-source downsampling (source reweighting, the knob behind "crawl
    slice X is over-represented, keep 20% of it"): a doc survives iff
    pmod(xxhash64(text, seed), 1000) < its source's keep_permille.
    Content-keyed like hash_split, so byte-identical dups get one
    verdict; re-running on a grown corpus never flips an existing doc.
    `rates` is (source, keep_permille:int in [0, 1000]).

    Composition of `sample_buckets` (the xxhash64 stage) and
    `sample_from_buckets` (pure relational verdict).
    """
    return sample_from_buckets(
        sample_buckets(docs, seed=seed, text_col=text_col, id_col=id_col), rates
    )


# RE2-compatible (and Java-regex-identical) patterns: both engines use
# leftmost non-overlapping matching, so the COUNTS are exact integers.
_PII_PATTERNS = {
    "n_emails": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "n_ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "n_phones": r"\+?[0-9][0-9() .-]{7,}[0-9]",
    "n_long_digit_runs": r"[0-9]{9,}",
}


def pii_scan(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_emails, n_ipv4, n_phones, n_long_digit_runs, has_pii)
    — per-doc counts of the standard scrub-before-training surface
    patterns (emails, IPv4 literals, phone-shaped digit runs, long bare
    digit runs: account/card-number shaped). Counting, not redaction:
    the downstream policy decision (drop / mask / keep) needs the
    numbers, and a redactor built on the same patterns is one
    regexp_replace per column.

    Scale: pure per-row projection over lowered text — no shuffle, no
    UDF, whole-stage codegen; all four patterns are RE2-safe so the
    DuckDB oracle runs them verbatim.
    """
    low = F.lower(F.col(text_col))
    counts = [
        F.size(F.regexp_extract_all(low, F.lit(p), F.lit(0))).alias(name)
        for name, p in _PII_PATTERNS.items()
    ]
    out = docs.select(F.col(id_col), *counts)
    total = None
    for name in _PII_PATTERNS:
        total = F.col(name) if total is None else total + F.col(name)
    return out.select(
        id_col, *_PII_PATTERNS, (total > 0).cast("int").alias("has_pii")
    )


def curation_verdicts(
    docs: DataFrame,
    quality_min: float = 0.5,
    keep_langs: tuple = ("en",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, is_rep, quality_ok, has_pii, lang_pred, verdict, keep) —
    the end-to-end keep/drop decision table composing the pipeline's
    per-doc signals: exact-dup representative (min id per normalized
    text), quality threshold, PII presence, language allow-list. The
    verdict names the FIRST failing gate in a fixed order
    (duplicate -> low_quality -> pii -> lang), mirroring how a real
    curation pipeline reports drop reasons.

    Scale: four independent per-doc projections joined on the id — the
    only shuffle beyond the joins is the exact-dup groupBy on
    normalized content. The quality threshold compares doubles that are
    bit-identical across engines (same IEEE tree as quality_scores), so
    the boundary decision is deterministic.
    """
    from .dedup import _normalized
    from .textstats import language_id, quality_scores

    norm = docs.select(F.col(id_col), _normalized(F.col(text_col)).alias("_t"))
    rep = norm.groupBy("_t").agg(F.min(id_col).alias("_rep"))
    is_rep = norm.join(rep, "_t").select(
        id_col, (F.col(id_col) == F.col("_rep")).cast("int").alias("is_rep")
    )
    q = quality_scores(docs, text_col=text_col, id_col=id_col).select(
        id_col, (F.col("quality") >= F.lit(quality_min)).cast("int").alias("quality_ok")
    )
    lang = language_id(docs, text_col=text_col, id_col=id_col).select(
        id_col, "lang_pred"
    )
    p = pii_scan(docs, text_col=text_col, id_col=id_col).select(id_col, "has_pii")
    out = is_rep.join(q, id_col).join(lang, id_col).join(p, id_col)
    verdict = (
        F.when(F.col("is_rep") == 0, F.lit("duplicate"))
        .when(F.col("quality_ok") == 0, F.lit("low_quality"))
        .when(F.col("has_pii") == 1, F.lit("pii"))
        .when(~F.col("lang_pred").isin(*keep_langs), F.lit("lang"))
        .otherwise(F.lit("keep"))
    )
    return out.select(
        id_col,
        "is_rep",
        "quality_ok",
        "has_pii",
        "lang_pred",
        verdict.alias("verdict"),
        (verdict == F.lit("keep")).cast("int").alias("keep"),
    )


def chunk_documents(
    docs: DataFrame, window: int = 32, stride: int = 24
) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, n_toks, chunk_hash) — overlapping
    fixed-size token-window chunking, the standard pre-training /
    retrieval preprocessing step that `sequence_pack` consumes
    downstream: each document is split into windows of ``window``
    whitespace tokens advancing by ``stride`` (overlap = window -
    stride), the last window clipped at the document end. Chunk
    identity is the MD5 of the space-rejoined token span — both engines
    produce identical lowercase-hex digests, so cross-chunk exact dedup
    composes directly (groupBy chunk_hash).

    Chunk count is exact-integer: 1 for docs of <= ``window`` tokens,
    else ``1 + ceil((n - window) / stride)`` — every token lands in at
    least one chunk, no chunk starts past the end.

    Scale: tokenize + sequence + posexplode only — output rows =
    sum(n_chunks) ~ |corpus| / stride, never quadratic; no shuffle at
    all (a pure per-row projection), so the operator inherits the
    scan's partitioning at any corpus size.

    ``stride`` must be <= ``window``: chunk i covers
    [i*stride, i*stride + window), so a larger stride would leave the
    gap tokens in no chunk, violating the coverage contract above.
    """
    if stride > window:
        raise ValueError(
            f"stride ({stride}) > window ({window}) leaves token gaps uncovered"
        )
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    n = F.size("ts")
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.lit(1) + (n - window + (stride - 1)).cast("long") / stride
    ).cast("long")
    base = docs.select(
        "doc_id",
        toks.alias("ts"),
        F.sequence(
            F.lit(0),
            ((n_chunks - 1) * stride).cast("int"),
            F.lit(stride),
        ).alias("starts"),
    )
    ch = base.select(
        "doc_id",
        F.posexplode("starts").alias("chunk_idx", "start_tok"),
        F.col("ts"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("int").alias("start_tok"),
        F.slice("ts", F.col("start_tok") + 1, window).alias("chunk"),
    )
    return ch.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size("chunk").alias("n_toks"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
    )


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 3,
    min_docs: int = 2,
    frac_num: int = 1,
    frac_den: int = 20,
    top_k: int = 20,
) -> DataFrame:
    """(source, gram, df, n_docs, rank, frac_r9) — per-source
    boilerplate detection: the ``n``-grams that recur across an
    unusually large share of one source's documents (headers, footers,
    navigation chrome, license blurbs). A gram is boilerplate when its
    document frequency df >= ``min_docs`` AND
    ``df * frac_den >= n_docs * frac_num`` (the threshold is a RATIONAL
    compared in exact int64 — no float ever enters the decision, so the
    selected set is engine-exact); the top ``top_k`` per source are
    ranked by (df DESC, gram ASC).

    Scale: one distinct over (doc, gram) — each gram counted once per
    doc so a gram repeated inside one doc can't fake corpus-level
    boilerplate — then a (source, gram) count. The heavy side shuffles
    once on the gram key; the per-source doc counts are a broadcast-
    sized dimension. The rank window partitions by source, never
    global. Downstream: anti-join documents' grams against this table
    to strip chrome before quality scoring.
    """
    from pyspark.sql import Window

    dg = doc_ngrams(docs, n).select("doc_id", "gram").distinct()
    src = docs.select("doc_id", "source")
    nd = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    dfx = (
        dg.join(src, "doc_id")
        .groupBy("source", "gram")
        .agg(F.count("*").alias("df"))
    )
    bl = dfx.join(F.broadcast(nd), "source").filter(
        (F.col("df") >= min_docs)
        & (F.col("df") * frac_den >= F.col("n_docs") * frac_num)
    )
    w = Window.partitionBy("source").orderBy(F.desc("df"), F.asc("gram"))
    return (
        bl.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "source",
            "gram",
            "df",
            "n_docs",
            "rank",
            F.round(F.col("df") / F.col("n_docs"), 9).alias("frac_r9"),
        )
    )


def cdc_token_flags(docs: DataFrame, divisor: int = 16) -> DataFrame:
    """(doc_id, pos, tok, flag) — the hash stage of content-defined
    chunking: every whitespace token flagged as a chunk BOUNDARY when
    xxhash64(token) % divisor == 0 (expected chunk length = divisor
    tokens, geometric tail). Split out so the oracle harness can
    materialize it (xxhash64 has no DuckDB twin) and check everything
    downstream side-by-side.
    """
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    return docs.select("doc_id", F.posexplode(toks).alias("pos", "tok")).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        "tok",
        (F.pmod(F.xxhash64("tok"), F.lit(divisor)) == 0).cast("int").alias("flag"),
    )


def cdc_chunks_from_flags(flags: DataFrame) -> DataFrame:
    """(doc_id, chunk_idx, start_tok, n_toks, chunk_hash) — the
    deterministic downstream of content-defined chunking: a boundary
    token ENDS its chunk, so token i belongs to chunk
    sum(flag[j] for j < i). Unlike fixed-window chunk_documents, an
    insertion or deletion only perturbs the chunks it touches — the
    shift-resilience property CDC dedup pipelines buy with the rolling
    boundary (here hash-per-token; identical contract, simpler state).

    Per-doc window cumsum + one groupBy; chunk text re-joined in pos
    order (sort_array over (pos, tok) structs — deterministic in any
    engine), identity = MD5 like chunk_documents so the two chunkers'
    outputs dedup against each other.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cid = flags.withColumn(
        "chunk_idx", F.coalesce(F.sum("flag").over(w), F.lit(0)).cast("int")
    )
    return (
        cid.groupBy("doc_id", "chunk_idx")
        .agg(
            F.min("pos").alias("start_tok"),
            F.count("*").alias("n_toks"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.col("start_tok").cast("int").alias("start_tok"),
            F.col("n_toks").cast("int").alias("n_toks"),
            "chunk_hash",
        )
    )
