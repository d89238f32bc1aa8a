"""Document-level text operators: language ID, quality profiling,
fingerprint dedup inputs.

These compose the expression builders in ``functions.text`` into
DataFrame transforms over a ``(doc_id, text, ...)`` table.

Scale notes: language_id is explode → broadcast-join against a tiny
profile table → groupBy(doc_id) with map-side combine; the profile
side is always broadcast (a few hundred rows), so the only shuffle is
the per-document re-aggregation, partitioned by doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ts_spark.functions import text as TX
from auto_ts_spark.operators.partitioning import MaterializeScope, ensure_parallelism


def profile_metric_exprs(
    text_col: str = "text", toks: "F.Column | None" = None
) -> dict[str, "F.Column"]:
    """THE metric expression table — single source for the profile
    projection (``text_profile``), the DataFrame quality gate
    (``quality_filter``), and the streaming inline gate
    (``quality_keep_expr``), so their decisions cannot drift.

    ``toks``: optionally a STAGED token-array column. Four of the
    metrics are token-derived; without staging each evaluates its own
    tokenizer regex per document. ``text_profile`` stages the array in
    a ``withColumn`` and passes it here (one tokenize per doc); the
    streaming gate, which must stay a single inline expression,
    omits it and pays the constant factor."""
    t = F.col(text_col)
    return {
        "n_chars": TX.char_count(t),
        "n_tokens": TX.token_count(t, toks),
        "n_bpe_tokens": TX.bpe_ish_token_count(t),
        "mean_word_len": F.round(TX.mean_word_length(t, toks), 6),
        "stopword_ratio": F.round(TX.stopword_ratio(t, toks=toks), 6),
        "punct_ratio": F.round(TX.punct_ratio(t), 6),
        "digit_ratio": F.round(TX.digit_ratio(t), 6),
        # multiply-path rounding (round(x*1e6)/1e6), NOT round(x, 6):
        # the composite score lands on exact dyadic half-points of the
        # 6th decimal (char counts are frequently powers of two), where
        # Spark's BigDecimal HALF_UP on the true value rounds UP while
        # engines that scale-then-round (DuckDB, Python) see x*1e6
        # fall BELOW .5 and round down. Scaling first makes every
        # engine round the same pre-scaled double. Caught by the sf1
        # parity sweep (doc with 384 chars, 51 digits: 17/128 ratio).
        "quality": F.round(TX.quality_score(t, toks) * 1_000_000.0)
        / F.lit(1_000_000.0),
    }


def text_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    metrics: tuple[str, ...] | None = None,
) -> DataFrame:
    """Per-document text-quality metrics (one projection, no shuffle).

    ``metrics`` selects a subset by output name — callers that only
    consume a few columns (``quality_filter``) skip the regex work of
    the rest (n_bpe_tokens is a full-text regexp_extract_all; the
    composite quality score re-derives four ratios)."""
    # stage the token array once per document: four metrics are
    # token-derived, and an inline tokenizer would re-run per metric.
    # CollapseProject keeps the staged column (non-cheap, referenced
    # >1×); if the selected metrics never reference it, column
    # pruning drops the stage entirely.
    staged = df.withColumn("_ats_toks", TX.tokens(F.col(text_col)))
    exprs = profile_metric_exprs(text_col, toks=F.col("_ats_toks"))
    names = metrics if metrics is not None else tuple(exprs)
    unknown = set(names) - set(exprs)
    if unknown:
        raise ValueError(f"unknown text_profile metrics: {sorted(unknown)}")
    return staged.select(F.col(id_col), *[exprs[n].alias(n) for n in names])


# Gopher-rule default thresholds (Rae et al. 2021 §A1.1, the public
# numbers the Gopher/MassiveText cleaning pipeline applies; C4 uses
# close variants). Each rule: (name, min, max) over a profile column.
QUALITY_RULES: tuple[tuple[str, float | None, float | None], ...] = (
    ("n_tokens", 50, 100_000),
    ("mean_word_len", 3.0, 10.0),
    ("stopword_ratio", 0.02, None),
    ("punct_ratio", None, 0.20),
    ("digit_ratio", None, 0.30),
)


def _fail_reasons_expr(
    metric: dict[str, "F.Column"],
    rules: tuple[tuple[str, float | None, float | None], ...],
    *,
    null_key: str = "n_chars",
):
    """Sorted array of violated rule names from metric EXPRESSIONS —
    shared by the DataFrame gate (metrics as profile columns), the
    streaming inline filter (metrics re-derived from the text column,
    no join needed), and the repetition gate (``null_key`` names the
    metric whose NULL marks a NULL document)."""
    reasons = []
    for name, lo, hi in rules:
        c = metric[name]
        bad = F.lit(False)
        if lo is not None:
            bad = bad | (c < lo)
        if hi is not None:
            bad = bad | (c > hi)
        reasons.append(F.when(bad, F.lit(name)))
    arr = F.array_sort(F.filter(F.array(*reasons), lambda x: x.isNotNull()))
    # NULL text yields NULL metrics, and NULL comparisons are neither
    # true nor false — without the explicit gate a NULL document would
    # sail through every rule
    return F.when(
        metric[null_key].isNull(), F.array(F.lit("null_text"))
    ).otherwise(arr)


def quality_keep_expr(
    text_col: str = "text",
    rules: tuple[tuple[str, float | None, float | None], ...] = QUALITY_RULES,
):
    """The quality gate as ONE boolean expression over the raw text
    column — usable in a plain ``filter`` with no profile projection
    or join, which is what a streaming pipeline needs (stream-to-
    stream joins require watermarks a pure per-row gate shouldn't)."""
    return F.size(_gate_fail_reasons(text_col, rules)) == 0


def _gate_fail_reasons(
    text_col: str,
    rules: tuple[tuple[str, float | None, float | None], ...],
) -> "F.Column":
    """``fail_reasons`` as ONE self-contained expression over the raw
    text column, the token array let-bound across all token-derived
    metrics. Self-containment matters: predicate pushdown substitutes
    projection aliases into a filter condition with NO cheapness
    guard (unlike CollapseProject), so a gate built over staged metric
    columns re-tokenizes once per referenced metric after pushdown —
    measured 67 s vs 7 s for the full profile at 500k docs. A
    let-bound expression tokenizes once wherever the optimizer moves
    it."""
    needed = tuple(
        dict.fromkeys(["n_chars", *[name for name, _, _ in rules]])
    )

    def _over_toks(tk: "F.Column") -> "F.Column":
        m = profile_metric_exprs(text_col, toks=tk)
        # bind the metric VALUES once as a struct: a lo+hi rule
        # otherwise embeds (and re-evaluates) its metric expression
        # twice
        s = F.struct(*[m[n].alias(n) for n in needed])
        return TX.let_bind(
            s, lambda ms: _fail_reasons_expr({n: ms[n] for n in needed}, rules)
        )

    return TX.let_bind(TX.tokens(F.col(text_col)), _over_toks)


def quality_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: tuple[tuple[str, float | None, float | None], ...] = QUALITY_RULES,
) -> DataFrame:
    """Composite Gopher-style quality gate: every profile metric must
    fall inside its [min, max] band. Output adds ``keep`` and
    ``fail_reasons`` (sorted array of the rules violated — empty when
    kept) to the rule-referenced profile columns, so a pipeline can filter on
    ``keep`` while auditors see WHY a document was dropped. One
    projection over the profile, no shuffle; only the metrics the
    rules reference (plus n_chars for the NULL gate) are computed."""
    needed = tuple(
        dict.fromkeys(["n_chars", *[name for name, _, _ in rules]])
    )
    # the audit metric columns come from the staged profile; keep /
    # fail_reasons are the SELF-CONTAINED let-bound gate expression
    # (see _gate_fail_reasons) rather than references to those
    # columns, so `filter("keep")` stays one-tokenize-per-doc after
    # predicate pushdown. Both derive from profile_metric_exprs, so
    # the decisions cannot drift from the audit columns.
    staged = df.withColumn("_ats_toks", TX.tokens(F.col(text_col)))
    exprs = profile_metric_exprs(text_col, toks=F.col("_ats_toks"))
    arr = _gate_fail_reasons(text_col, rules)
    return staged.select(
        F.col(id_col),
        *[exprs[n].alias(n) for n in needed],
        arr.alias("fail_reasons"),
        (F.size(arr) == 0).alias("keep"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    context-length chunking every RAG / pretraining pipeline applies
    before embedding or packing. Chunk k covers normalized-token
    positions [k*stride+1, k*stride+chunk_tokens] (1-based); the chunk
    count is 1 + ceil(max(0, n - chunk_tokens) / stride), so the final
    window always reaches the document tail with at most
    (chunk_tokens - stride) tokens of overlap and no degenerate
    all-overlap trailing chunk. Documents with zero normalized tokens
    are dropped.

    Output: (id_col, chunk_id, n_tokens, chunk_text), deterministic.

    Scale: one explode, zero shuffles — the token array is let-bound
    so the tokenizer regex runs once per document, and each output row
    materializes only its own window via ``slice`` (the 100 TB corpus
    is never re-scanned per chunk). Chunk rows inherit the input
    partitioning; downstream embedding/packing stages repartition on
    their own keys anyway.
    """
    if not 1 <= stride <= chunk_tokens:
        raise ValueError(
            f"need 1 <= stride <= chunk_tokens, got {stride} > {chunk_tokens}"
        )
    toks = F.filter(TX.tokens(F.col(text_col)), lambda t: t != F.lit(""))

    def _chunks(tk: "F.Column") -> "F.Column":
        n = F.size(tk)
        extra = F.greatest(F.lit(0), n - F.lit(chunk_tokens))
        # integer ceil-division: floor((extra + stride-1) / stride) —
        # exact in double far past any real token count
        n_chunks = F.lit(1) + F.floor(
            (extra + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda k: F.struct(
                k.cast("long").alias("chunk_id"),
                F.least(
                    F.lit(chunk_tokens), n - k * F.lit(stride)
                ).alias("n_tokens"),
                F.array_join(
                    F.slice(tk, k * F.lit(stride) + 1, chunk_tokens), " "
                ).alias("chunk_text"),
            ),
        )

    staged = df.withColumn("_ats_ck_toks", toks).filter(
        F.size("_ats_ck_toks") > 0
    )
    return (
        staged.select(
            F.col(id_col), F.explode(_chunks(F.col("_ats_ck_toks"))).alias("c")
        )
        .select(
            id_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def language_profile_df(spark: SparkSession) -> DataFrame:
    rows = [
        (lang, word) for lang, words in TX.LANG_PROFILES.items() for word in words
    ]
    return spark.createDataFrame(rows, "lang string, word string")


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Predict language by stopword-profile hit count.

    Deterministic tie-break: highest hit count, then lexicographically
    smallest language code (``min_by`` over (-hits, lang)). Documents
    matching no profile word get 'und' (undetermined).
    """
    spark = df.sparkSession
    profiles = F.broadcast(language_profile_df(spark))
    toks = df.select(
        F.col(id_col), F.explode(TX.tokens(F.col(text_col))).alias("word")
    )
    hits = (
        toks.join(profiles, "word")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    best = hits.groupBy(id_col).agg(F.max("hits").alias("max_hits"))
    # deterministic argmax: join back and keep min(lang) among max-hit rows
    out = (
        hits.join(best, id_col)
        .filter(F.col("hits") == F.col("max_hits"))
        .groupBy(id_col)
        .agg(F.min("lang").alias("pred_lang"), F.max("max_hits").alias("hits"))
    )
    all_docs = df.select(id_col)
    return (
        all_docs.join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )


def corpus_vocabulary(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Corpus term statistics — the vocabulary-building step of a
    training-data pipeline: per term, total occurrences (``tf``),
    document frequency (``df``), and smoothed
    ``idf = ln((N+1)/(df+1)) + 1`` (the sklearn TfidfVectorizer
    convention).

    Scale shape: one explode + ONE shuffle on term (count and
    count-distinct-doc both partial-aggregate map-side); the corpus
    size N is a scalar broadcast into the projection. ``min_df``
    prunes the hapax tail before it is ever shuffled onward.
    """
    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(TX.tokens(F.col(text_col))).alias("term"),
    ).filter(F.col("term") != "")
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct("_doc").alias("df"),
    )
    return stats.filter(F.col("df") >= min_df).select(
        "term",
        "tf",
        "df",
        F.round(F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1)) + 1, 6).alias(
            "idf"
        ),
    )


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition metrics (the Gopher/C4 quality-filter
    family): per document, the fraction of mass taken by the most
    frequent unigram and bigram, and the fraction of trigrams that are
    duplicates. High values flag boilerplate/spam for a training-data
    pipeline; the reference has no text surface (extension operator).

    Scale: n-grams are built with array slices + zip_with (one
    projection), then explode → count keyed by (doc, gram) →
    re-aggregate per doc — two shuffles per n-gram order, both keyed by
    high-cardinality composite keys, no per-doc quadratic work.
    """
    toks = TX.tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("_doc"), toks.alias("_toks"))
    n = F.size(F.col("_toks"))

    def ngrams(nn: int):
        if nn == 1:
            return F.col("_toks")
        ln = F.greatest(n - (nn - 1), F.lit(0))
        parts = [F.slice(F.col("_toks"), i + 1, ln) for i in range(nn)]
        out = parts[0]
        for p in parts[1:]:
            out = F.zip_with(out, p, lambda a, b: F.concat(a, F.lit(" "), b))
        return out

    def stats(nn: int, prefix: str):
        g = base.select("_doc", F.explode(ngrams(nn)).alias("_g"))
        c = g.groupBy("_doc", "_g").agg(F.count(F.lit(1)).alias("_c"))
        return c.groupBy("_doc").agg(
            F.sum("_c").alias(f"{prefix}_total"),
            F.max("_c").alias(f"{prefix}_max"),
            F.count(F.lit(1)).alias(f"{prefix}_distinct"),
        )

    s1, s2, s3 = stats(1, "uni"), stats(2, "bi"), stats(3, "tri")
    # anchor on the full document set: a NULL-text doc (tokens = NULL
    # array → explode drops it from every n-gram frame) must still get
    # a profile row (n_tokens 0, zero fractions), not silently vanish
    # from the output a downstream filter joins against
    all_docs = df.select(F.col(id_col).alias("_doc")).distinct()
    joined = (
        all_docs.join(s1, "_doc", "left")
        .join(s2, "_doc", "left")
        .join(s3, "_doc", "left")
    )
    frac = lambda num, den: F.coalesce(  # noqa: E731
        F.round(num / den, 6), F.lit(0.0)
    )
    return joined.select(
        F.col("_doc").alias(id_col),
        F.coalesce(F.col("uni_total"), F.lit(0)).alias("n_tokens"),
        frac(F.col("uni_max"), F.col("uni_total")).alias("top_unigram_frac"),
        frac(F.col("bi_max"), F.col("bi_total")).alias("top_bigram_frac"),
        F.coalesce(
            F.round(1 - F.col("tri_distinct") / F.col("tri_total"), 6), F.lit(0.0)
        ).alias("dup_trigram_frac"),
    )


# Gopher repetition-rule thresholds (Rae et al. 2021 §A1.1, the
# "repetitious text" family, adapted to this engine's token-level
# metrics): documents where one unigram/bigram dominates, or where
# most trigrams repeat, are spam/boilerplate.
REPETITION_RULES: tuple[tuple[str, float | None, float | None], ...] = (
    ("top_unigram_frac", None, 0.30),
    ("top_bigram_frac", None, 0.20),
    ("dup_trigram_frac", None, 0.30),
)


def repetition_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    rules: tuple[tuple[str, float | None, float | None], ...] = REPETITION_RULES,
) -> DataFrame:
    """Repetition gate over ``repetition_profile`` metrics — the
    second half of the Gopher quality recipe (the first half,
    ``quality_filter``, covers length/ratio rules; this one drops the
    repetitious documents those rules cannot see). Output mirrors
    ``quality_filter``: the metric columns plus ``fail_reasons`` and
    ``keep``; NULL-text documents fail with ``null_text`` like the
    quality gate. Costlier than the inline gate — the profile shuffles
    per n-gram order — so the curation chain runs it AFTER the cheap
    rules have already shrunk the corpus."""
    prof = repetition_profile(df, text_col=text_col, id_col=id_col)
    # the profile coalesces NULL-text metrics to 0, so NULL-ness must
    # travel alongside explicitly for the null_text verdict to fire
    nulls = df.select(
        F.col(id_col), F.col(text_col).isNull().alias("_null_text")
    )
    prof = prof.join(nulls, id_col)
    metric = {name: F.col(name) for name, _, _ in rules}
    metric["_null_probe"] = F.when(
        F.col("_null_text"), F.lit(None).cast("int")
    ).otherwise(F.lit(0))
    arr = _fail_reasons_expr(metric, rules, null_key="_null_probe")
    return (
        prof.withColumn("fail_reasons", arr)
        .withColumn("keep", F.size("fail_reasons") == 0)
        .drop("_null_text")
    )


def add_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    *,
    minhash_k: int = 16,
    shingle_n: int = 3,
    simhash_bits: int = 32,
) -> DataFrame:
    """Append content fingerprints: exact (md5-60bit), MinHash
    signature, SimHash.

    The MinHash base hashes (tokenize → shingle → md5) are staged as
    their own projection before the ``minhash_k`` permutations — the
    same staging ``minhash_lsh_pairs`` uses. Inlining
    ``TX.minhash_signature`` here would duplicate the md5 chain once
    per hash function inside a single projection, which blows up
    whole-stage codegen (measured ~85 s of Janino compilation at
    k=16 vs sub-second staged)."""
    t = F.col(text_col)
    base_col = "_mh_base"
    while base_col in df.columns:
        base_col += "_"
    sim_col = "_sh_base"
    while sim_col in df.columns:
        sim_col += "_"
    df = ensure_parallelism(df)  # md5/shingle chain is CPU-bound
    staged = df.select(
        "*",
        F.transform(TX.shingles(t, shingle_n), lambda s: TX.hash60(s)).alias(
            base_col
        ),
        F.expr(TX.simhash_token_hashes_sql(text_col)).alias(sim_col),
    )
    return staged.select(
        *df.columns,
        TX.fingerprint(t).alias("fingerprint"),
        TX.minhash_from_base(F.col(base_col), minhash_k).alias("minhash"),
        F.expr(TX.simhash_from_hashes_sql(sim_col, simhash_bits)).alias("simhash"),
    )


# C4 per-line retention rules (Raffel et al. 2020 §2.2, the public
# numbers): a line survives when it ends in terminal punctuation and
# carries at least `min_words` words and does not mention javascript;
# a PAGE is dropped outright when it contains "lorem ipsum" or a curly
# brace (code leakage), or when too few lines survive the line rules.
C4_TERMINAL_PUNCT = r'[.!?"”]$'
C4_PAGE_DROP_MARKERS = ("lorem ipsum", "{")


def c4_line_clean(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 3,
    min_lines: int = 1,
    mode: str = "profile",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2) — the
    step the reference-recipe pipelines run BEFORE document-level
    quality gates, because boilerplate lines (nav menus, cookie
    banners) poison document statistics.

    One shuffle-free projection: the text splits into lines, a
    higher-order ``filter`` applies the per-line rules inside codegen,
    and the survivors re-join. ``mode="profile"`` (default) outputs
    ``(id, clean_text, n_lines_total, n_lines_kept, keep)`` where
    ``keep`` folds in the page-level drops (lorem ipsum / curly braces
    / too few surviving lines); ``mode="apply"`` instead returns the
    input frame with ``text_col`` replaced by the cleaned text and
    dropped pages filtered out — the form the curation chain consumes,
    still one shuffle-free map. No UDF, no explode — a 100 TB corpus
    cleans in one pass."""
    lines = F.split(F.col(text_col), "\n")
    line_ok = lambda l: (  # noqa: E731 — inline HOF predicate
        (F.size(F.split(F.trim(l), r"\s+")) >= min_words)
        & F.regexp_like(F.trim(l), F.lit(C4_TERMINAL_PUNCT))
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, line_ok)
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    page_ok = ~low.contains(C4_PAGE_DROP_MARKERS[0]) & ~low.contains(
        C4_PAGE_DROP_MARKERS[1]
    )
    keep = F.coalesce(page_ok & (F.size(kept) >= min_lines), F.lit(False))
    if mode == "apply":
        return df.filter(keep).withColumn(text_col, F.array_join(kept, "\n"))
    if mode != "profile":
        raise ValueError(f"unknown c4_line_clean mode: {mode!r}")
    # explicit NULL gate (not coalesce over size(NULL)): legacy
    # non-ANSI runtimes return -1 for size(NULL), which a coalesce
    # would pass through as a negative line count
    null_text = F.col(text_col).isNull()
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.when(null_text, F.lit(0)).otherwise(F.size(lines)).alias("n_lines_total"),
        F.when(null_text, F.lit(0)).otherwise(F.size(kept)).alias("n_lines_kept"),
        # NULL text is dropped, not passed through as a NULL verdict —
        # same policy as the quality gate's null_text rule
        keep.alias("keep"),
    )


def drop_boilerplate_lines(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs_per_line: int = 2,
    min_line_chars: int = 10,
    mode: str = "profile",
) -> DataFrame:
    """Cross-document boilerplate removal (the CCNet/RefinedWeb
    paragraph-hash dedup): a normalized line that appears in more than
    ``max_docs_per_line`` DISTINCT documents is boilerplate (cookie
    banners, nav menus, license headers) and is removed from every
    document; short lines (< ``min_line_chars``) are exempt so "yes."
    or list bullets are not mass-deleted.

    Distributed shape — two shuffles, both on bounded-width rows:
    posexplode lines → per-(line-hash) distinct-doc count (map-side
    partial agg) → hash-join the over-threshold set back → per-doc
    reassembly ordered by original line position. The join key is the
    60-bit line fingerprint, never the line text, so the wide column
    crosses the shuffle once. ``mode="profile"`` (default) returns
    ``(id, clean_text, n_lines_kept, n_boilerplate_dropped)``;
    ``mode="apply"`` joins the cleaned text back onto the input frame
    (one extra shuffle on the id), replacing ``text_col`` and keeping
    every other column — the form the curation chain consumes. Apply
    mode reads the input plan TWICE (count side + join side): persist
    the input first when it is expensive to recompute (``curate``
    checkpoints it for you).
    NULL-text documents emit no lines and therefore no output row in
    either mode (the explode's standard NULL policy — pre-filter if
    they must survive)."""
    lines = (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("_doc"),
            F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
        )
        .withColumn(
            "_lh",
            F.when(
                F.length(F.trim(F.col("_line"))) >= min_line_chars,
                TX.fingerprint(F.trim(F.col("_line"))),
            ),
        )
    )
    boiler = (
        lines.filter(F.col("_lh").isNotNull())
        .groupBy("_lh")
        .agg(F.count_distinct("_doc").alias("_docs"))
        .filter(F.col("_docs") > max_docs_per_line)
        .select("_lh", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(boiler, "_lh", "left")
    profile = (
        marked.groupBy(F.col("_doc").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct("_pos", "_line"),
                            )
                        )
                    ),
                    lambda s: s["_line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.sum(F.when(F.col("_boiler").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lines_kept"),
            F.sum(F.when(F.col("_boiler").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_boilerplate_dropped"),
        )
    )
    if mode == "apply":
        return (
            df.join(
                profile.select(id_col, "clean_text"), id_col, "inner"
            )
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text")
        )
    if mode != "profile":
        raise ValueError(f"unknown drop_boilerplate_lines mode: {mode!r}")
    return profile


# Below this compile-time input-size estimate the span frame keeps the
# default fused partial+final aggregate — at bench scale (sf0.1 ≈ 3 MB
# of text) the extra exchange costs more than the partial maps it
# avoids (r11 bench: +0.2 s on a 1.7 s query); above it the explicit
# repartition wins by removing per-task hash maps over millions of
# mostly-unique fingerprints (see scrub_repeated_spans). Same
# zero-job `sizeInBytes` gate as lags.needs_sharding; stats
# unavailable → repartition (the scale-safe default).
SPAN_REPARTITION_MIN_BYTES = 256 * 1024 * 1024


def _wants_fp_repartition(df: DataFrame) -> bool:
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(raw if isinstance(raw, int) else raw.toString())
        return size >= SPAN_REPARTITION_MIN_BYTES
    except Exception:
        return True


def scrub_repeated_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_dup_docs: int = 2,
    mode: str = "profile",
    scope: MaterializeScope | None = None,
) -> DataFrame:
    """Cross-document repeated-span scrubbing — the distributed
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499 §4.1): any ``window``-token run of RAW whitespace
    tokens that appears verbatim in at least ``min_dup_docs`` distinct
    documents is memorization-grade duplication; every token position
    covered by such a run is removed from every document carrying it.
    A shared substring of length L >= window contains only duplicated
    windows, so the whole substring is scrubbed; windows shared by
    chance cost exactly ``window`` tokens — the fixed-width window is
    what makes the suffix-array recipe shuffle-expressible.

    Distributed shape — one lazy plan: stage raw tokens → explode
    (start, 64-bit window fingerprint) pairs → explicit
    ``repartition(col(fp))`` → per-fingerprint dup test → shuffle-hash
    join the duplicated set back → per-doc sorted start list →
    coverage/reassembly entirely in array expressions (no second
    explode). The explicit repartition is the r11 scale fix: it moves
    the dup aggregation entirely ABOVE the exchange, removing the
    pre-exchange partial-aggregation maps that were pure overhead —
    an r11 5M-doc A/B measured the default partial+final plan at
    172 s for the dup aggregate vs 99-107 s repartitioned, and those
    per-task maps over millions of mostly-unique fingerprints were
    the allocation-failure/spill source the r10 in-chain probe hit on
    an 8g heap (map-side combine buys nothing when almost every key
    is unique). At true web-corpus scale the duplicated set is
    billions of common 8-grams — a shuffle join is the honest plan;
    when it is small, AQE's runtime stats convert the join to
    broadcast on their own. The fingerprint (never the window text)
    crosses the shuffle; per-doc state is one array bounded by the
    token count.

    ``mode="profile"`` returns ``(id, clean_text, n_tokens_kept,
    n_tokens_removed)`` — NULL-text docs keep a row with NULL
    clean_text and zero counts. ``mode="apply"`` joins the scrubbed
    text back over the input frame (the curation-chain form; reads the
    input plan twice — persist upstream when expensive).

    ``scope``: above the input-size gate the token frame (read by two
    plan branches) is held DISK_ONLY in the caller's scope, so the
    corpus is tokenized once per action; the caller materializes the
    result before the scope exits. Without a scope nothing is held.
    """
    if mode not in ("profile", "apply"):
        raise ValueError(f"unknown mode: {mode!r}")
    raw_tokens = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("_doc"), raw_tokens.alias("_tk")
    )
    big_input = _wants_fp_repartition(df)
    if big_input and scope is not None:
        # the token frame feeds TWO plan branches (the span explode and
        # the coverage rejoin), so without a persist the whitespace
        # tokenization of the whole corpus runs twice (r13 verdict's
        # top "not yet" item). Above the same compile-time size gate as
        # the fingerprint repartition, hold it DISK_ONLY —
        # write-through, so the token arrays never compete with
        # execution heap (the similarity.vec_storage_level rationale) —
        # and the second branch re-reads tokens instead of re-splitting
        # text. Below the gate (bench scale) the recompute is cheaper
        # than the block round-trip, so the plan is unchanged.
        from pyspark import StorageLevel

        toks = scope.hold(toks, StorageLevel.DISK_ONLY)
    n = F.size(F.col("_tk"))
    spans = toks.select(
        "_doc",
        "_tk",
        F.explode(
            F.when(
                n >= window, F.sequence(F.lit(1), n - window + 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_s"),
    ).select(
        "_doc",
        "_s",
        # xxhash64 over the token-array slice itself: JVM-native (the
        # r10 5M probe measured the old md5+conv+substring fingerprint
        # at 91 s of a ~300 s job — per-span string building dominated)
        # and structurally token-boundary-safe, unlike a concat_ws
        # string which collides across boundaries. The fingerprint
        # never surfaces in output, so the DuckDB oracle groups by the
        # literal window text instead — no cross-engine hash coupling.
        F.xxhash64(F.slice(F.col("_tk"), F.col("_s"), window)).alias("_fp"),
    )
    # Explicit fingerprint exchange BELOW the dup aggregate (see the
    # docstring's measured rationale: kills the useless pre-exchange
    # partial-agg maps — the r10 in-chain spill source), gated by the
    # zero-job compile-time size estimate so bench-scale inputs keep
    # the cheaper fused plan. Partition count inherits
    # spark.sql.shuffle.partitions — the session's cluster-scale
    # knob — and AQE may coalesce.
    if big_input:
        spans = spans.repartition(F.col("_fp"))
    if min_dup_docs == 2:
        # "appears in >= 2 distinct docs" is exactly min(doc) != max(doc)
        # — a plain one-shuffle aggregate. count_distinct compiles to an
        # Expand + TWO full shuffles of the span frame with per-group
        # hash-set state; the r10 5M-doc probe measured that plan
        # superlinear (11.6 s -> 205.7 s for 10x docs, hash-agg spill),
        # while min/max stays a slim map-side-combinable state.
        dup = (
            spans.groupBy("_fp")
            .agg(F.min("_doc").alias("_lo"), F.max("_doc").alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("_fp")
        )
    else:
        dup = (
            spans.groupBy("_fp")
            .agg(F.count_distinct("_doc").alias("_docs"))
            .filter(F.col("_docs") >= min_dup_docs)
            .select("_fp")
        )
    # shuffle-hash, not sort-merge: the span frame is the corpus x
    # positions (240M rows at 5M docs) — sorting it for an SMJ is the
    # join's whole cost; hashing the duplicated-fp side (bounded by the
    # true duplication volume) streams the big side through. Both
    # sides inherit the explicit _fp partitioning above, so the join
    # itself inserts no exchange. A small dup side gets converted to
    # broadcast by AQE's runtime stats without any eager driver probe.
    dup_starts = (
        spans.join(dup.hint("shuffle_hash"), "_fp")
        .groupBy("_doc")
        .agg(F.array_sort(F.collect_list("_s")).alias("_starts"))
    )
    marked = toks.join(dup_starts, "_doc", "left")
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("_starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + window - 1),
            )
        )
    )
    # Guard the zero-token case exactly like the spans explode above:
    # sequence(1, 0) is DESCENDING [1, 0] and element_at(empty, 0|1)
    # raises INVALID_ARRAY_INDEX_IN_ELEMENT_AT on Spark 4.x, so an
    # empty or whitespace-only document (reachable mid-curate() after
    # boilerplate removal empties the text) must short-circuit to [].
    kept_idx = F.when(
        F.size(F.col("_tk")) > 0,
        F.array_except(F.sequence(F.lit(1), F.size(F.col("_tk"))), covered),
    ).otherwise(F.array().cast("array<int>"))
    clean = F.when(
        F.col("_tk").isNotNull(),
        F.array_join(
            F.transform(kept_idx, lambda i: F.element_at(F.col("_tk"), i)), " "
        ),
    )
    profile = marked.select(
        F.col("_doc").alias(id_col),
        clean.alias("clean_text"),
        F.coalesce(F.size(kept_idx), F.lit(0)).cast("bigint").alias("n_tokens_kept"),
        F.coalesce(F.size(covered), F.lit(0)).cast("bigint").alias(
            "n_tokens_removed"
        ),
    )
    if mode == "profile":
        return profile
    cleaned = profile.select(id_col, "clean_text")
    return (
        df.join(cleaned, id_col, "left")
        .withColumn(text_col, F.coalesce("clean_text", F.col(text_col)))
        .drop("clean_text")
    )
