"""End-to-end corpus curation facade — the canonical order a
training-data preparation pipeline chains the engine's corpus
operators in, as one call:

    [HTML extraction] → [line-level cleaning] → quality gate →
    PII scrub → exact dedup →
    near-dup (MinHash-LSH cluster) retention → [LM-perplexity
    terciles] → [trained quality-classifier gate] → [DSIR targeted
    selection] → benchmark decontamination → source mixture →
    token budget

The optional raw-web head stage (``html_input=<col>`` — markup
extraction via ``operators.markup.html_extract``) runs before
everything: every later stage is defined over visible text, not
markup. The optional line-level head stages (C4 per-line rules,
cross-document boilerplate removal — both in ``operators.textops``)
run next, because boilerplate lines poison the document-level
statistics every later stage keys on; all head stages default OFF
for backward compatibility.

Each stage is the already-tested operator; this module only fixes the
composition order (quality first so later, costlier stages see fewer
documents; dedup before decontamination so the n-gram join runs on
unique text; mixture before budget so budgets apply to the mixed
distribution) and threads the id/text column names through. Every
stage is optional — pass None/False to skip it.

The chain is lazy except at these eager points, each inside the
``curate`` call:

- the stages that read their input twice — boilerplate removal, span
  scrub, the repetition gate and near-dedup — first checkpoint it
  (the near-dup stage's connected components run eagerly anyway);
- the LM-perplexity gate (``perplexity_ref``) trains its LM, counts
  and rank-offsets the scored corpus, and checkpoints its survivor
  ids;
- the classifier gate (``classifier_ref``) runs its training
  iterations and checkpoints its survivor ids;
- a DSIR stage (``dsir_target``) collects its bucket distributions
  and rank offsets, plus one survivor count when ``dsir_keep`` is
  fractional;
- a GLOBAL token budget (``token_budget`` with ``budget_by=None``)
  collects the offsets of its two-pass distributed cumsum;
- ``stage_counts=True`` checkpoints and counts every enabled stage
  (diagnostic runs only, not the 100 TB hot path).

Per-key budgets (``budget_by`` set) and every other stage stay lazy.
Intermediates a stage holds for its own reuse are released before
``curate`` returns or raises; the checkpoints the result reads are
freed with it.
"""

from __future__ import annotations

import time as _time

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    html_input: str | None = None,
    html_normalize: bool = False,
    line_clean: bool = False,
    boilerplate_max_docs: int | None = None,
    scrub_spans: bool = False,
    scrub_window: int = 8,
    quality: bool = True,
    repetition: bool = False,
    redact: bool = True,
    dedup_exact: bool = True,
    near_dedup: bool = True,
    near_dedup_method: str = "minhash",
    near_dedup_max_bucket: int | None = 1000,
    embeddings: DataFrame | None = None,
    embedding_vec_col: str = "embedding",
    semantic_threshold: float = 0.95,
    semantic_centroids: int | None = None,  # None = auto-size to corpus
    perplexity_ref: DataFrame | None = None,
    perplexity_keep: tuple[str, ...] = ("head", "middle"),
    classifier_ref: DataFrame | None = None,
    classifier_threshold: float = 0.5,
    classifier_neg_fraction: float = 1.0,
    classifier_iters: int = 5,
    classifier_lr: float = 4.0,
    dsir_target: DataFrame | None = None,
    dsir_keep: float | int = 0.5,
    dsir_stochastic: bool = False,
    dsir_seed: int = 42,
    benchmark: DataFrame | None = None,
    decontam_n: int = 5,
    mixture: dict[str, float] | None = None,
    mixture_key: str = "source",
    token_budget: int | None = None,
    budget_by: str | None = None,
    budget_priority: str | None = None,
    stage_counts: bool = False,
    stage_seconds: dict[str, float] | None = None,
) -> DataFrame | tuple[DataFrame, dict[str, int]]:
    """Run the curation chain; see module docstring for the order.

    Returns the curated DataFrame (original schema, plus
    ``mixture_sample``'s ``copy_n`` counter — suffixed with ``_`` if
    that name is taken — when a mixture is applied), or
    ``(df, counts)`` with per-stage surviving-row counts when
    ``stage_counts`` is set. Pass a dict as ``stage_seconds`` (only
    meaningful together with ``stage_counts``, whose per-stage
    checkpoint+count is what forces each stage to actually execute at
    its tick) to also receive each stage's wall-clock — the scale-probe
    hook."""
    from auto_ts_spark.operators import dedup as DD
    from auto_ts_spark.operators.budget import budget_select
    from auto_ts_spark.operators.decontam import decontaminate
    from auto_ts_spark.operators.partitioning import (
        MaterializeScope,
        ensure_parallelism,
    )
    from auto_ts_spark.operators.pii import redact_documents
    from auto_ts_spark.operators.sampling import mixture_sample
    from auto_ts_spark.operators.textops import (
        c4_line_clean,
        drop_boilerplate_lines,
        quality_keep_expr,
        repetition_filter,
    )

    # every stage is CPU-bound text work; spread an under-partitioned
    # input (e.g. one small file) across cores once, up front — a
    # no-op when the scan already has enough partitions
    df = ensure_parallelism(df)

    counts: dict[str, int] = {}
    _last_tick = [_time.perf_counter()]
    # the scope owns every intermediate a stage materializes for its
    # own reuse (scrub tokens, LM tables, classifier features, DSIR
    # weights) and releases them when curate returns or raises; the
    # eager checkpoints the returned frame reads stay, freed by the
    # ContextCleaner with it
    with MaterializeScope() as scope:

        def tick(name: str, frame: DataFrame) -> DataFrame:
            if stage_counts:
                # checkpoint each counted stage so later ticks don't
                # recompute the whole upstream chain per count — the
                # near-dup stage dominates wall-clock and would otherwise
                # be re-executed for every later stage's count; a reuse
                # point right after a tick finds the frame checkpointed
                frame = scope.checkpoint(frame)
                counts[name] = frame.count()
                if stage_seconds is not None:
                    now = _time.perf_counter()
                    stage_seconds[name] = now - _last_tick[0]
                    _last_tick[0] = now
            return frame

        out = tick("input", df)
        if html_input is not None:
            # raw-web head: markup extraction runs before EVERYTHING —
            # every later stage (line rules, quality stats, fingerprints)
            # is defined over visible text, not markup. One Arrow-batched
            # projection, zero shuffle; the raw HTML column is dropped so
            # downstream shuffles never carry the markup bytes (~5-10×
            # the visible text at corpus scale).
            from auto_ts_spark.operators.markup import html_extract

            out = tick(
                "html_extract",
                html_extract(
                    out,
                    html_col=html_input,
                    out_col=text_col,
                    normalize=html_normalize,
                    drop_html=True,
                ),
            )
        if line_clean:
            out = tick(
                "line_clean",
                c4_line_clean(out, text_col=text_col, id_col=id_col, mode="apply"),
            )
        if boilerplate_max_docs is not None:
            # apply-mode boilerplate removal reads its input twice (line
            # counting + the rejoin) — checkpoint so the upstream
            # line-clean regex work and source scan run once
            out = scope.checkpoint(out)
            out = tick(
                "boilerplate",
                drop_boilerplate_lines(
                    out,
                    text_col=text_col,
                    id_col=id_col,
                    max_docs_per_line=boilerplate_max_docs,
                    mode="apply",
                ),
            )
        if scrub_spans:
            # ExactSubstr-approx repeated-span scrubbing (textops.
            # scrub_repeated_spans) — like boilerplate, apply mode reads
            # its input twice (fingerprint counting + the rejoin). Above
            # its size gate the operator holds its token frame in the
            # scope (one tokenize pass per action instead of two); the
            # next checkpoint (a tick, or the repetition/near-dup reuse
            # point) reads the scrub output while the tokens are held.
            from auto_ts_spark.operators.textops import scrub_repeated_spans

            out = scope.checkpoint(out)
            out = tick(
                "scrub_spans",
                scrub_repeated_spans(
                    out,
                    text_col=text_col,
                    id_col=id_col,
                    window=scrub_window,
                    mode="apply",
                    scope=scope,
                ),
            )
        if quality:
            # the gate is one boolean expression over the text column —
            # a shuffle-free filter, decision-identical to quality_filter
            # (both build on the same shared metric/rule expressions)
            out = tick("quality", out.filter(quality_keep_expr(text_col)))
        if repetition:
            # the Gopher repetition family (opt-in — it shuffles per
            # n-gram order, so it runs AFTER the cheap inline gate has
            # already shrunk the corpus); drop-list join keeps the
            # chain's column set unchanged. Checkpoint: the gate derives
            # its drop list from the same frame it anti-joins, the
            # self-join pattern the boilerplate/near-dup stages
            # checkpoint for as well
            out = scope.checkpoint(out)
            rep_drop = (
                repetition_filter(out, text_col=text_col, id_col=id_col)
                .filter(~F.col("keep"))
                .select(id_col)
            )
            out = tick("repetition", out.join(rep_drop, id_col, "left_anti"))
        if redact:
            out = tick("redact", redact_documents(out, text_col=text_col))
        if dedup_exact:
            out = tick(
                "dedup_exact", DD.dedup_exact(out, text_col=text_col, id_col=id_col)
            )
        if near_dedup:
            # the near-dup stage is eager by nature (iterative connected
            # components), so the upstream chain is computed inside this
            # call no matter what — checkpoint it so the final
            # materialization reuses those rows instead of recomputing
            # quality/redact/exact-dedup from the source scan a second
            # time
            out = scope.checkpoint(out)
            if near_dedup_method == "minhash":
                clusters = DD.dedup_clusters(
                    out,
                    text_col=text_col,
                    id_col=id_col,
                    max_bucket_size=near_dedup_max_bucket,
                )
            elif near_dedup_method == "simhash":
                # SimHash blocking: cheaper signatures, hamming-ball
                # candidate generation — the better fit for short/near-
                # identical documents; same clustering + retention shape
                pairs = DD.simhash_pairs(out, text_col=text_col, id_col=id_col)
                clusters = DD.clusters_from_pairs(pairs, id_col=id_col)
            elif near_dedup_method == "semantic":
                # SemDeDup blocking (similarity.semantic_dedup): dedup on
                # MEANING via a per-document embedding column — ``embeddings``
                # maps id_col -> embedding_vec_col. Joined to the surviving
                # docs first so the quantizer and pair join only see live
                # rows; batch-only (curate_stream keeps lexical methods).
                from auto_ts_spark.operators.similarity import semantic_dedup

                if embeddings is None:
                    raise ValueError(
                        "near_dedup_method='semantic' needs an `embeddings` "
                        f"DataFrame with ({id_col}, {embedding_vec_col})"
                    )
                vecs = embeddings.select(
                    id_col, embedding_vec_col
                ).join(out.select(id_col), id_col)
                clusters = semantic_dedup(
                    vecs,
                    id_col=id_col,
                    vec_col=embedding_vec_col,
                    threshold=semantic_threshold,
                    n_centroids=semantic_centroids,
                )
            else:
                raise ValueError(
                    f"unknown near_dedup_method: {near_dedup_method!r}"
                )
            drop = clusters.filter(~F.col("is_keep")).select(id_col)
            out = tick("near_dedup", out.join(drop, id_col, "left_anti"))
        if perplexity_ref is not None:
            # CCNet LM-perplexity gate (lm_quality): train a bigram
            # stupid-backoff LM on the trusted reference, tercile the
            # surviving corpus by per-token perplexity, keep the
            # ``perplexity_keep`` buckets (CCNet keeps head+middle).
            # Ordered after dedup, as in CCNet, so the LM scores each
            # unique document once. Costs one per-doc shuffle (scoring
            # agg) + the two-pass tercile rank + a semi join on id; docs
            # with zero tokens have no perplexity and are dropped.
            from auto_ts_spark.operators.lm_quality import (
                perplexity_score,
                perplexity_tercile_assign,
                train_ngram_lm,
            )

            lm = train_ngram_lm(
                perplexity_ref, text_col=text_col, id_col=id_col, scope=scope
            )
            assigned = perplexity_tercile_assign(
                perplexity_score(out, lm, text_col=text_col, id_col=id_col),
                id_col=id_col,
            )
            # checkpoint the survivor-id column (one small id frame): the
            # returned chain then reads neither the LM tables nor the
            # scored corpus, so the scope can release the LM's count
            # table when curate returns. The tercile stage already runs
            # eagerly (its scalar count + rank-offset collect), so this
            # adds only the bucket filter.
            keep_ids = scope.checkpoint(
                assigned.filter(F.col("bucket").isin(*perplexity_keep)).select(
                    id_col
                )
            )
            out = tick("perplexity", out.join(keep_ids, id_col, "left_semi"))
        if classifier_ref is not None:
            # GPT-3 appendix-A quality classifier gate
            # (operators/quality_classifier.py): train the hashed-n-gram
            # logistic model with the trusted reference as positives and a
            # deterministic hash sample of the surviving corpus as
            # negatives (GPT-3: WebText/Wikipedia/books positives, random
            # CommonCrawl negatives), then keep documents scoring >=
            # ``classifier_threshold``. Reference ids are remapped to a
            # disjoint negative range so a reference that overlaps the
            # corpus (the common case) can't double-label a document.
            from auto_ts_spark.operators.quality_classifier import (
                classify,
                labeled_features,
                train_quality_classifier,
            )
            from auto_ts_spark.operators.sampling import deterministic_sample

            neg = (
                deterministic_sample(out, classifier_neg_fraction, id_col=id_col)
                if classifier_neg_fraction < 1.0
                else out
            )
            train_docs = (
                classifier_ref.select(
                    (-F.col(id_col) - 1).alias(id_col), F.col(text_col)
                )
                .unionByName(neg.select(F.col(id_col), F.col(text_col)))
            )
            label = F.col(id_col) < 0
            labeled = scope.hold(
                labeled_features(train_docs, label, text_col=text_col, id_col=id_col),
                StorageLevel.MEMORY_AND_DISK,
            )
            w = train_quality_classifier(
                train_docs,
                label,
                text_col=text_col,
                id_col=id_col,
                iters=classifier_iters,
                lr=classifier_lr,
                features=labeled,
            )
            # when the whole surviving corpus is the negative class the
            # held feature table already covers every document to
            # score: reuse it (r13 — one corpus tokenize→hash→aggregate
            # pass for the stage instead of two). The corpus rows are
            # the non-negative ids — the invariant the reference-id
            # remap above relies on. A strict negative sample does not
            # cover the corpus, so scoring builds its own features.
            keep_ids = scope.checkpoint(
                classify(
                    out,
                    w,
                    text_col=text_col,
                    id_col=id_col,
                    threshold=classifier_threshold,
                    features=(
                        labeled.filter(F.col("id") >= 0)
                        if classifier_neg_fraction >= 1.0
                        else None
                    ),
                )
                .filter(F.col("keep"))
                .select(id_col)
            )
            out = tick("classifier", out.join(keep_ids, id_col, "left_semi"))
        if dsir_target is not None:
            # DSIR targeted selection (operators/dsir.py — Xie et al. 2023
            # importance resampling): weight every surviving document by
            # the hashed-n-gram log-likelihood ratio of target over raw,
            # then keep the top ``dsir_keep`` (int = count, float =
            # fraction of survivors; one scalar count when fractional).
            # ``dsir_stochastic`` uses the paper's Gumbel-top-k resampling
            # (seeded, retry-deterministic) instead of the deterministic
            # top-k. Ordered after the quality gates — DSIR assumes its
            # raw pool is already language/quality filtered — and before
            # decontamination/mixture/budget, which operate on whatever
            # subset survives selection.
            from auto_ts_spark.operators.dsir import (
                dsir_log_weights,
                gumbel_select,
                select_top_weighted,
            )

            wts = dsir_log_weights(
                out, dsir_target, text_col=text_col, id_col=id_col
            )
            if isinstance(dsir_keep, float):
                if not 0.0 < dsir_keep <= 1.0:
                    raise ValueError(
                        f"fractional dsir_keep must be in (0, 1], got {dsir_keep!r}"
                    )
                # the survivor count and the top-k rank below both consume
                # wts — hold it across the two (r13) so the gram-scoring
                # pass runs once, not twice; the selection's eager rank
                # checkpoint cuts the returned chain's lineage above it
                wts = scope.hold(wts, StorageLevel.MEMORY_AND_DISK)
                n_sel = max(1, int(dsir_keep * wts.count()))
            else:
                # bool is an int subclass — dsir_keep=True would silently
                # mean "keep 1 document"; and a count < 1 empties the
                # corpus. Both are caller bugs, mirror the fractional check.
                if isinstance(dsir_keep, bool) or int(dsir_keep) < 1:
                    raise ValueError(
                        f"integer dsir_keep must be a count >= 1, got {dsir_keep!r}"
                    )
                n_sel = int(dsir_keep)
            sel = (
                gumbel_select(wts, n_sel, id_col=id_col, seed=dsir_seed)
                if dsir_stochastic
                else select_top_weighted(wts, n_sel, id_col=id_col)
            )
            out = tick(
                "dsir", out.join(sel.select(id_col), id_col, "left_semi")
            )
        if benchmark is not None:
            out = tick(
                "decontaminate",
                decontaminate(
                    out, benchmark, text_col=text_col, id_col=id_col, n=decontam_n
                ),
            )
        copy_col = "copy_n"
        if mixture is not None:
            while copy_col in out.columns:  # don't clobber a caller column
                copy_col += "_"
            out = tick(
                "mixture",
                mixture_sample(
                    out, mixture, key_col=mixture_key, id_col=id_col,
                    copy_col=copy_col,
                ),
            )
        if token_budget is not None:
            out = tick(
                "budget",
                budget_select(
                    out,
                    token_budget,
                    by=budget_by,
                    priority_col=budget_priority,
                    text_col=text_col,
                    id_col=id_col,
                    # upsampled copies share the doc id; the copy counter
                    # restores a total order so the budget cut among tied
                    # copies is deterministic
                    extra_tiebreak=(copy_col,) if mixture is not None else (),
                ),
            )
        if stage_counts:
            return out, counts
        return out


def curate_stream(
    stream: DataFrame,
    *,
    text_col: str = "text",
    ts_col: str | None = None,
    html_input: str | None = None,
    html_normalize: bool = False,
    line_clean: bool = False,
    quality: bool = True,
    redact: bool = True,
    dedup: bool = True,
    watermark: str = "2 hours",
    **batch_only,
) -> DataFrame:
    """Streaming ingestion form of the curation chain — the subset of
    stages that are per-row stateless (HTML markup extraction, C4 line
    cleaning, quality gate, PII scrub) plus exactly-once content
    dedup, applied to a ``readStream`` source so a live feed is
    cleaned as it lands instead of by nightly batch.

    Dedup keys on the md5 content fingerprint: with ``ts_col`` set it
    uses ``dropDuplicatesWithinWatermark`` (state per fingerprint
    expires with the watermark — bounded by arrival rate × horizon);
    without a time column it falls back to global
    ``dropDuplicates`` state (unbounded — only for bounded backfills).

    **Batch-only stages — rejected loudly, not silently weakened.**
    Corpus-wide stages (near-dup/semantic dedup, cross-doc span scrub,
    boilerplate removal, decontamination, DSIR, mixture sampling,
    token budget) need the whole corpus and stay batch; the
    LM-perplexity and classifier gates also stay batch (corpus-
    relative terciles / a corpus-trained model, plus per-document
    re-aggregation that would be unbounded streaming state). Passing
    any ``curate()`` kwarg for those stages here raises a TypeError
    naming the handoff instead of silently running a weaker recipe.
    The production wiring is stream → land → batch-curate:
    ``curate_stream(...)`` cleans the live feed as it lands
    (``writeStream`` to parquet), then ``curate()`` runs the
    corpus-wide stages on the landed table per ingestion window —
    see README "Streaming vs batch curation". Same operators as
    ``curate``, so streaming ≡ batch on identical input (tested)."""
    from auto_ts_spark.functions import text as TX
    from auto_ts_spark.operators.pii import redact_documents
    from auto_ts_spark.operators.textops import c4_line_clean, quality_keep_expr

    if batch_only:
        raise TypeError(
            f"curate_stream() got batch-only curation stage kwargs "
            f"{sorted(batch_only)}: corpus-wide stages (near-dup/semantic "
            "dedup, span scrub, boilerplate, decontamination, perplexity/"
            "classifier gates, DSIR, mixture, token budget) cannot run on "
            "an unbounded stream. Land the cleaned stream first "
            "(writeStream to parquet), then run curate() on the landed "
            "table — see README 'Streaming vs batch curation'."
        )
    out = stream
    if html_input is not None:
        # raw-web head, same as curate(): one per-row Arrow-batched
        # projection — streams as a plain map, no state
        from auto_ts_spark.operators.markup import html_extract

        out = html_extract(
            out,
            html_col=html_input,
            out_col=text_col,
            normalize=html_normalize,
            drop_html=True,
        )
    if line_clean:
        # one shuffle-free map — streams as a plain filter+project
        # (cross-document boilerplate removal needs corpus-wide counts
        # and stays batch, like near-dup/decontam/mixture/budget)
        out = c4_line_clean(out, text_col=text_col, mode="apply")
    if quality:
        # the gate as ONE inline boolean expression — no projection,
        # no join, so it streams (and batches) as a plain filter with
        # decisions identical to quality_filter's keep column
        out = out.filter(quality_keep_expr(text_col))
    if redact:
        out = redact_documents(out, text_col=text_col)
    if dedup:
        fp = "_fp"
        while fp in out.columns:  # don't clobber a caller column
            fp += "_"
        out = out.withColumn(fp, TX.fingerprint(F.col(text_col)))
        if ts_col is not None and out.isStreaming:
            out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
                [fp]
            )
        else:
            out = out.dropDuplicates([fp])
        out = out.drop(fp)
    return out



def prepare_rag_corpus(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    stride: int = 384,
    embeddings: DataFrame | None = None,
    embed=None,
    embedding_col: str = "embedding",
    dedup_threshold: float | None = 0.95,
    n_centroids: int | None = None,
    max_cell_size: int = 1024,
) -> DataFrame:
    """Chunk-granularity RAG corpus preparation — the FineWeb-style
    composition the standalone pieces already support, fixed in order:

        chunk_documents (overlapping token windows) → per-CHUNK
        embeddings → SemDeDup at chunk granularity (IVF-cell blocked,
        bounded) → one retained representative per near-dup cluster

    Near-duplicate CHUNKS recur across documents (shared boilerplate,
    quoted passages, templated sections) even after document-level
    dedup, and retrieval quality degrades when k neighbors are k
    copies — so RAG pipelines dedup at the chunk level before
    indexing. The output feeds the ANN operators
    (``operators/similarity.py``) directly.

    Embeddings come from the caller (real pipelines call a model):
    either ``embeddings`` — a precomputed ``(id_col, chunk_id,
    embedding_col)`` frame joined on the composite chunk key — or
    ``embed`` — a callable ``chunks -> chunks + embedding_col`` applied
    to the chunk frame (the hook for a Pandas-UDF model encoder).
    Exactly one must be provided when ``dedup_threshold`` is set.

    Returns ``(id_col, chunk_id, n_tokens, chunk_text,
    embedding_col, cluster_id, cluster_size)`` — retained chunks only;
    ``cluster_id``/``cluster_size`` are NULL for chunks that were in no
    near-dup pair, and name the cluster each retained representative
    speaks for otherwise.

    Scale shape: chunking is one explode (zero Exchange); the optional
    embedding join is one composite-key hash join at chunk
    cardinality; dedup is the bounded-cell SemDeDup machinery
    (Σ|cell|² ≤ n·max_cell_size pair work); retention is a left-anti
    join on the dropped-chunk ids — the same shape ``curate()`` uses
    for every dedup family. Nothing in the chain is driver-side or
    quadratic in corpus size.
    """
    from auto_ts_spark.operators.partitioning import ensure_parallelism
    from auto_ts_spark.operators.similarity import semantic_dedup
    from auto_ts_spark.operators.textops import chunk_documents

    # same head fan-out as curate(): chunking and embedding are
    # shuffle-free projections, so they inherit the INPUT partitioning
    # — a few fat parquet files would otherwise serialize the whole
    # chain onto a few cores (the r5 lesson, re-measured on this
    # facade's r13 decade probe: the 500k-doc point lost ~2x wall to
    # a single-file fixture before this line)
    df = ensure_parallelism(df)
    chunks = chunk_documents(
        df,
        text_col=text_col,
        id_col=id_col,
        chunk_tokens=chunk_tokens,
        stride=stride,
    )
    if embeddings is not None and embed is not None:
        raise ValueError("pass embeddings= or embed=, not both")
    if embeddings is not None:
        chunks = chunks.join(
            embeddings.select(id_col, "chunk_id", embedding_col),
            [id_col, "chunk_id"],
        )
    elif embed is not None:
        chunks = embed(chunks)
        if embedding_col not in chunks.columns:
            raise ValueError(
                f"embed callable did not add {embedding_col!r}; "
                f"columns: {chunks.columns}"
            )
    if dedup_threshold is None:
        if embeddings is None and embed is None:
            return chunks  # chunk-only mode: no embedding required
        return chunks
    if embeddings is None and embed is None:
        raise ValueError(
            "chunk-level dedup needs embeddings= or embed= "
            "(or pass dedup_threshold=None for chunk-only mode)"
        )
    # composite -> single key for the shared dedup machinery; '#' is
    # safe because chunk_id is numeric (no collision two ways)
    uid = "_chunk_uid"
    while uid in chunks.columns:
        uid += "_"
    keyed = chunks.withColumn(
        uid, F.concat_ws("#", F.col(id_col).cast("string"), F.col("chunk_id"))
    )
    clusters = semantic_dedup(
        keyed.select(uid, embedding_col),
        id_col=uid,
        vec_col=embedding_col,
        threshold=dedup_threshold,
        n_centroids=n_centroids,
        max_cell_size=max_cell_size,
    )
    # one keeper per near-dup cluster survives; chunks in no pair pass
    # through (left join + filter rather than anti-join so the keeper
    # rows carry their cluster_id/cluster_size out for provenance)
    out = (
        keyed.join(
            clusters.select(uid, "cluster_id", "cluster_size", "is_keep"),
            uid,
            "left",
        )
        .filter(F.coalesce(F.col("is_keep"), F.lit(True)))
        .drop(uid, "is_keep")
    )
    return out.select(
        id_col, "chunk_id", "n_tokens", "chunk_text", embedding_col,
        "cluster_id", "cluster_size",
    )
