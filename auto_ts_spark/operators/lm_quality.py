"""Language-model perplexity quality scoring — the CCNet recipe.

Published recipe (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data", arXiv:1911.00359): score
every document by its perplexity under a small language model trained
on a trusted reference corpus (CCNet uses Wikipedia + KenLM 5-gram),
then split the corpus into head / middle / tail perplexity terciles —
the head tercile is the "looks like the reference" slice that
curation keeps or upweights.

This module re-expresses the recipe with a bigram stupid-backoff LM
(Brants et al. 2007, "Large Language Models in Machine Translation" —
the backoff score S(w_i|w_{i-1}) = c(w_{i-1} w_i)/c(w_{i-1}) when the
bigram was seen, else alpha * S(w_i) with alpha = 0.4), built entirely
from Catalyst expressions:

- TRAIN: two map-side-combined groupBys over the reference corpus
  (unigram + bigram counts) — the LM is two count tables plus two
  scalars (token total N, vocabulary size V).
- SCORE: stage the token array once per document, zip it with its
  1-shift to one struct array, ONE linear explode (never
  posexplode-over-a-kept-array, which duplicates the array per
  position), two LM-table joins, one per-document aggregate. The LM
  joins are SIZE-AWARE: tables up to ``BROADCAST_MAX_ROWS`` broadcast
  (one wide shuffle total — the per-doc agg); a Wikipedia-scale
  reference (hundreds of millions of distinct bigrams) shuffle-joins
  on the gram key instead — still linear, never a driver collect.
- BUCKET: NTILE-style terciles from a two-pass distributed rank
  (``partitioning.with_global_row_number`` — no single-task global
  window), driver state O(partitions).

Cross-engine determinism (the money-sum discipline): each per-token
log-probability is rounded to 9 dp and accumulated as an exact
decimal; the per-doc sum is rounded to 6 dp while still decimal and
only then cast to double, so aggregation order and engine rounding
never move the result. The per-doc average divides that exact double
by an exact integer count — one correctly-rounded IEEE op, identical
in any engine.

Unigram probabilities are add-one smoothed over V+1 classes
(the +1 is the out-of-vocabulary class), so OOV tokens score
ln(alpha * 1/(N+V+1)) instead of -inf.

Extension beyond the reference (no Auto_TS counterpart) — part of the
training-data curation surface alongside ``dsir``/``textops``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from auto_ts_spark.functions.text import tokens
from auto_ts_spark.operators.partitioning import (
    MaterializeScope,
    checkpoint,
    ensure_parallelism,
    with_global_row_number,
)

BACKOFF_ALPHA = 0.4

# LM-table rows up to this size are broadcast to the scoring join;
# larger tables shuffle-join (a real reference corpus — CCNet uses
# Wikipedia — has hundreds of millions of distinct bigrams, far past
# any sane driver/executor broadcast budget)
BROADCAST_MAX_ROWS = 1_000_000


def _maybe_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ROWS else df


@dataclass(frozen=True)
class NgramLM:
    """A trained bigram stupid-backoff LM: two count tables + scalars.

    ``uni``: (w, c1) unigram instance counts over the reference.
    ``bi``:  (big, c2, c1_prev) bigram counts keyed by the space-joined
    bigram string, carrying the history's unigram count so scoring
    needs no second unigram lookup for the conditional numerator.
    ``n_tokens``: total token instances; ``vocab``: distinct unigrams;
    ``n_bigrams``: distinct bigrams — scoring uses the two sizes to
    pick broadcast vs shuffle joins (a Wikipedia-scale reference has
    hundreds of millions of distinct bigrams: never broadcastable).
    """

    uni: DataFrame
    bi: DataFrame
    n_tokens: int
    vocab: int
    n_bigrams: int


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tk) with empty tokens dropped; empty/NULL-text docs keep an
    empty array (they produce no scored positions downstream)."""
    return ensure_parallelism(df.filter(F.col(text_col).isNotNull())).select(
        F.col(id_col).alias("id"),
        F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0).alias("_tk"),
    )


def _bigram_strings(tk: Column) -> Column:
    n1 = F.greatest(F.size(tk) - 1, F.lit(0))
    return F.zip_with(
        F.slice(tk, 1, n1), F.slice(tk, 2, n1), lambda a, b: F.concat_ws(" ", a, b)
    )


def train_ngram_lm(
    ref: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope: MaterializeScope | None = None,
) -> NgramLM:
    """Fit the bigram stupid-backoff LM on the reference corpus.

    Two groupBys (map-side combined) and two scalar aggregates; at any
    reference size the result is a pair of count tables a curation run
    broadcasts once.

    The count table both LM tables derive from is held for its
    several consumers: persisted in ``scope`` when given (released
    when the caller's scope exits — materialize every scoring pass
    before that), else eagerly checkpointed, its blocks owned by the
    returned LM.
    """
    toks = _doc_tokens(ref, text_col, id_col)
    tk = F.col("_tk")
    # ONE pass over the reference (r13 — separate uni/bi groupBys each
    # re-scanned and re-tokenized the whole reference): unigrams and
    # bigrams ride one explode as (kind, gram) structs into one
    # map-side-combined count table, held for its three consumers
    # (totals aggregate, cur-side lookup, prev-side lookup + bigram
    # table). O(reference vocabulary + bigrams) memory, same as the
    # two tables it replaces.
    tag_uni = F.transform(
        tk, lambda w: F.struct(F.lit(1).alias("k"), w.alias("g"))
    )
    tag_bi = F.transform(
        _bigram_strings(tk), lambda b: F.struct(F.lit(2).alias("k"), b.alias("g"))
    )
    counts = (
        toks.select(F.explode(F.concat(tag_uni, tag_bi)).alias("kg"))
        .select(F.col("kg.k").alias("k"), F.col("kg.g").alias("g"))
        .groupBy("k", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = scope.hold(counts) if scope is not None else checkpoint(counts)
    # one scalar job over the held table replaces the r12 pair of
    # jobs (uni totals collect + bi.count): n_bigrams pre-join equals
    # n_bigrams post-join because every bigram's history token is by
    # construction in the same corpus's vocabulary (inner join on
    # _prev drops nothing)
    totals = counts.agg(
        F.sum(F.when(F.col("k") == 1, F.col("c"))).alias("n"),
        F.count(F.when(F.col("k") == 1, True)).alias("v"),
        F.count(F.when(F.col("k") == 2, True)).alias("nb"),
    ).collect()[0]
    n_tokens = int(totals["n"] or 0)
    vocab = int(totals["v"] or 0)
    n_bigrams = int(totals["nb"] or 0)
    uni = counts.filter(F.col("k") == 1).select(
        F.col("g").alias("w"), F.col("c").alias("c1")
    )
    # attach the history's unigram count: bigram "a b" backs onto c1(a)
    bi = (
        counts.filter(F.col("k") == 2)
        .select(F.col("g").alias("big"), F.col("c").alias("c2"))
        .withColumn("_prev", F.substring_index("big", " ", 1))
        .join(
            _maybe_broadcast(
                uni.select(
                    F.col("w").alias("_prev"), F.col("c1").alias("c1_prev")
                ),
                vocab,
            ),
            "_prev",
        )
        .select("big", "c2", "c1_prev")
    )
    return NgramLM(
        uni=uni,
        bi=bi,
        n_tokens=n_tokens,
        vocab=vocab,
        n_bigrams=n_bigrams,
    )


def _ln_uni(c1: Column, n_tokens: int, vocab: int) -> Column:
    """Add-one-smoothed unigram log-probability (V+1 classes: OOV)."""
    return F.log((c1 + F.lit(1.0)) / F.lit(float(n_tokens + vocab + 1)))


def perplexity_score(
    docs: DataFrame,
    lm: NgramLM,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LM score: ``(id_col, n_tokens, nlp_sum, avg_nlp)``
    for every document with at least one token.

    ``nlp_sum`` is the summed per-token negative log-probability under
    the stupid-backoff bigram LM (exact decimal accumulation, round-6,
    then double); ``avg_nlp = nlp_sum / n_tokens`` is the per-token
    score CCNet terciles on (perplexity = e^avg_nlp, monotone in it).
    """
    toks = _doc_tokens(docs, text_col, id_col)
    tk = F.col("_tk")
    prevs = F.concat(
        F.array(F.lit(None).cast("string")), F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0)))
    )
    pairs = F.zip_with(
        prevs, tk, lambda p, c: F.struct(p.alias("prev"), c.alias("cur"))
    )
    # zip_with pads to the LONGER side: a zero-token doc still yields
    # one (NULL, NULL) element (prevs is [NULL]) — drop those rows so
    # empty documents are excluded instead of scored as one OOV token
    pos = (
        toks.select("id", F.explode(pairs).alias("pc"))
        .select("id", F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur"))
        .filter(F.col("cur").isNotNull())
    )
    scored = (
        pos.withColumn("big", F.concat_ws(" ", F.col("prev"), F.col("cur")))
        .join(
            _maybe_broadcast(
                lm.uni.select(
                    F.col("w").alias("cur"), F.col("c1").alias("c1_cur")
                ),
                lm.vocab,
            ),
            "cur",
            "left",
        )
        .join(_maybe_broadcast(lm.bi, lm.n_bigrams), "big", "left")
    )
    ln_uni_cur = _ln_uni(F.coalesce(F.col("c1_cur"), F.lit(0)), lm.n_tokens, lm.vocab)
    lp = (
        F.when(F.col("prev").isNull(), ln_uni_cur)
        .when(F.col("c2").isNotNull(), F.log(F.col("c2") / F.col("c1_prev")))
        .otherwise(F.log(F.lit(float(BACKOFF_ALPHA))) + ln_uni_cur)
    )
    lp9 = F.round(lp, 9).cast("decimal(28,9)")
    return (
        scored.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # round the exact decimal sum to 6 dp BEFORE the double
            # cast (the DSIR half-point lesson: round-after-cast flips
            # between engines on exact 6th-decimal half-points)
            (-F.round(F.sum(lp9), 6)).cast("double").alias("nlp_sum"),
        )
        .withColumn("avg_nlp", F.col("nlp_sum") / F.col("n_tokens"))
    )


def perplexity_tercile_assign(
    scored: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document CCNet bucket: NTILE(3) over ``(avg_nlp, id)``
    ascending (head = lowest perplexity = most reference-like), added
    as a ``bucket`` column.

    The rank is the two-pass distributed row number (range repartition
    -> local rank -> O(partitions) driver offsets) — no single-task
    global window; the tercile boundaries are literal arithmetic from
    one scalar count, matching SQL NTILE (first ``n mod 3`` buckets
    take the extra row).

    The scored frame is persisted across the two consumers here (the
    scalar count and the rank's range repartition) and released before
    returning: without it each consumer re-ran the WHOLE scoring pass
    — corpus tokenize, LM joins, per-doc aggregate — once (r13, guide
    §1.2: remove repeated passes). The release is safe because
    with_global_row_number eagerly checkpoints its range-partitioned
    input, cutting the returned frame's lineage above ``scored``.
    """
    from pyspark import StorageLevel

    with MaterializeScope() as scope:
        scored = scope.hold(scored, StorageLevel.MEMORY_AND_DISK)
        n = scored.count()
        base, rem = divmod(n, 3)
        cut1 = base + (1 if rem >= 1 else 0)
        cut2 = cut1 + base + (1 if rem >= 2 else 0)
        ranked = with_global_row_number(
            scored.withColumn("_series", F.lit("all")).withColumn(
                "_ord", F.struct(F.col("avg_nlp"), F.col(id_col))
            ),
            order_col="_ord",
            series_col="_series",
            name="_rn",
        )
    bucket = (
        F.when(F.col("_rn") <= F.lit(cut1), F.lit("head"))
        .when(F.col("_rn") <= F.lit(cut2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return ranked.withColumn("bucket", bucket).drop("_series", "_ord", "_rn")


def perplexity_terciles(
    scored: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Tercile summary ``(bucket, n_docs, min_avg_nlp, max_avg_nlp)``
    over :func:`perplexity_tercile_assign`."""
    return (
        perplexity_tercile_assign(scored, id_col=id_col)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_nlp").alias("min_avg_nlp"),
            F.max("avg_nlp").alias("max_avg_nlp"),
        )
    )
