"""Data Selection with Importance Resampling (DSIR) — hashed n-gram
importance weights for targeted pretraining-data selection.

Published recipe (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling", arXiv:2302.03169): featurize every document
as hashed unigram+bigram counts, fit bag-of-grams distributions for a
small TARGET corpus (what you want more of) and the RAW corpus (what
you have), and weight each raw document by the log-likelihood ratio

    log w(doc) = sum_over_gram_instances  ln( p_target[b] / p_raw[b] )

where ``b`` is the gram's hash bucket. High-weight documents look like
the target distribution; selection keeps the top slice (or
Gumbel-resamples with the weights — the deterministic top-k variant is
what :func:`select_top_weighted` implements so results are
oracle-reproducible).

Scale shape: both distributions are ``n_buckets`` numbers — built with
one map-side-combined groupBy each and broadcast back as a single tiny
join table, so scoring a 100 TB corpus is scan → explode grams →
broadcast-join (bucket) → per-doc agg: ONE wide shuffle (the per-doc
groupBy), no driver state beyond the O(n_buckets) distribution.
Per-gram log-ratios are rounded to 9 dp and accumulated as exact
decimals so the per-doc sum is independent of aggregation order (the
same engine-parity discipline the money sums use).

Extension beyond the reference (no Auto_TS counterpart) — part of the
training-data curation surface alongside ``sampling``/``budget``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from auto_ts_spark.functions.text import hash60, tokens
from auto_ts_spark.operators.partitioning import ensure_parallelism


def gram_buckets(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """One row per gram instance: ``(id, bucket)``.

    Grams are whitespace unigrams plus adjacent-pair bigrams of the
    normalized text; bucket = shared md5-derived ``hash60`` mod
    ``n_buckets`` (reproducible in any SQL engine). The token array is
    staged once per document; the bigram zip reads the staged array.
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_tk")
    )
    tk = F.col("_tk")
    bigrams = F.zip_with(
        F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))),
        F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    grams = toks.select(
        "id", F.explode(F.concat(tk, bigrams)).alias("gram")
    )
    return grams.select(
        "id", F.pmod(hash60(F.col("gram")), F.lit(n_buckets)).alias("bucket")
    )


def _bucket_counts(grams: DataFrame) -> DataFrame:
    return grams.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))


def _log_ratio(ct: Column, tot_t: Column, cr: Column, tot_r: Column, s: float, b: int) -> Column:
    """round-9 ln of the smoothed probability ratio, as an exact decimal."""
    pt = (ct + F.lit(s)) / (tot_t + F.lit(s * b))
    pr = (cr + F.lit(s)) / (tot_r + F.lit(s * b))
    return F.round(F.log(pt / pr), 9).cast("decimal(28,9)")


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-document DSIR importance weight: ``(id, n_grams,
    log_weight)`` for every raw document with at least one gram.

    ``log_weight`` is the summed per-gram log-likelihood ratio of the
    add-``smoothing`` bucket distributions (target over raw); rounded
    to 6 dp after an exact decimal accumulation.
    """
    raw_grams = gram_buckets(
        raw, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    tgt_grams = gram_buckets(
        target, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    )
    # distributions: n_buckets rows each. Collect them (O(n_buckets)
    # driver state — the same order as the broadcast that follows) and
    # derive the gram totals by summing the collected counts: the r12
    # shape paid TWO EXTRA full explode+count passes (raw_grams.count()
    # / tgt_grams.count() actions) for scalars that are just
    # sum(bucket counts), and rebuilt both count aggregates inside the
    # scoring job's broadcast subtree on top (r13, guide §1.2: remove
    # whole passes first). One bucket-count job per side is now all
    # the distribution work; scoring is the only other raw pass.
    rc = {
        int(r["bucket"]): int(r["cnt"])
        for r in _bucket_counts(raw_grams).collect()
    }
    tc = {
        int(r["bucket"]): int(r["cnt"])
        for r in _bucket_counts(tgt_grams).collect()
    }
    tot_r = sum(rc.values())
    tot_t = sum(tc.values())
    spark = raw.sparkSession
    dist = spark.createDataFrame(
        [
            (b, rc.get(b, 0), tc.get(b, 0))
            for b in sorted(set(rc) | set(tc))
        ],
        "bucket long, cnt_r long, cnt_t long",
    ).withColumn(
        "lnr",
        _log_ratio(
            F.col("cnt_t"),
            F.lit(tot_t),
            F.col("cnt_r"),
            F.lit(tot_r),
            smoothing,
            n_buckets,
        ),
    )
    scored = raw_grams.join(F.broadcast(dist.select("bucket", "lnr")), "bucket")
    return (
        scored.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            # round the EXACT decimal sum to 6 dp first, THEN cast:
            # the 9-dp sum can land on an exact half-point of the 6th
            # decimal (seen at 100x scale: -0.0080425), where rounding
            # the nearest-double approximation flips between engines.
            # Decimal HALF_UP (Spark) and half-away-from-zero (DuckDB)
            # agree on the exact value, and the 6-dp decimal -> double
            # cast is correctly rounded in both.
            F.round(F.sum("lnr"), 6).cast("double").alias("log_weight"),
        )
    )


def _top_n_by(weights: DataFrame, key: Column, n: int, id_col: str) -> DataFrame:
    """Distributed top-``n`` rows by ``(key desc, id asc)``.

    r7: the earlier ``orderBy().limit(n)`` form executes as
    TakeOrderedAndProject, which COLLECTS all ``n`` rows to the driver
    — fine for a thousand-doc selection, driver-fatal for the
    million-doc selections DSIR exists for. The two-pass distributed
    row number (range repartition → local rank → O(partitions) driver
    offsets) keeps the selection executor-side at any ``n``; output is
    identical."""
    from auto_ts_spark.operators.partitioning import with_global_row_number

    ranked = with_global_row_number(
        weights.withColumn("_series", F.lit("all")).withColumn(
            "_ord", F.struct((-key).alias("k"), F.col(id_col).alias("i"))
        ),
        order_col="_ord",
        series_col="_series",
        name="_rn",
    )
    return ranked.filter(F.col("_rn") <= n).drop("_series", "_ord", "_rn")


def select_top_weighted(
    weights: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic DSIR selection: the ``n`` highest-weight documents
    (weight desc, id asc tiebreak), distributed at any ``n`` (see
    :func:`_top_n_by`). The stochastic variant in the paper adds Gumbel
    noise to ``log_weight`` before the same top-k —
    :func:`gumbel_select`."""
    return _top_n_by(weights, F.col("log_weight"), n, id_col)


def gumbel_select(
    weights: DataFrame,
    n: int,
    *,
    id_col: str = "doc_id",
    seed: int = 42,
    temperature: float = 1.0,
) -> DataFrame:
    """Stochastic DSIR selection — the paper's importance-RESAMPLING
    form, via the Gumbel-top-k trick: perturb ``log_weight /
    temperature`` with Gumbel(0,1) noise and keep the ``n`` largest
    keys, which samples n documents without replacement with
    probability proportional to ``exp(log_weight / temperature)``.

    The noise is hash-seeded (md5 of id:seed → uniform in (0,1) →
    ``-ln(-ln(u))``), so selection is deterministic, reproducible
    across retries/partitionings, and needs no driver-side RNG state.
    ``temperature -> 0`` converges on :func:`select_top_weighted`.
    """
    two53 = float(1 << 53)
    u = (
        F.pmod(
            hash60(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))),
            F.lit(1 << 53),
        )
        + F.lit(1.0)
    ) / F.lit(two53 + 2.0)
    gumbel = -F.log(-F.log(u))
    key = F.col("log_weight") / F.lit(temperature) + gumbel
    return _top_n_by(
        weights.withColumn("_key", key), F.col("_key"), n, id_col
    ).drop("_key")
