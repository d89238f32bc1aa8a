"""In-engine quality classifier — the fastText-style recipe.

Published recipe (LLaMA, Touvron et al. 2023 §2 "pre-training data";
GPT-3, Brown et al. 2020 appendix A; fastText, Joulin et al. 2017):
train a linear classifier on hashed bag-of-n-gram features to predict
"looks like the trusted reference" (Wikipedia/books) vs "random web
text", then keep or upweight documents the classifier scores highly.

This module trains the classifier INSIDE the engine — full-batch
gradient descent where every iteration is a fixed set of DataFrame
aggregations, so the whole fit distributes and the driver holds only
the O(n_buckets) weight vector between iterations:

    features  = hashed-unigram term frequencies (one explode + one
                groupBy, reused across iterations via a serialized
                memory-and-disk persist)
    iteration = join features with broadcast weights
                -> per-doc margin z (one groupBy)
                -> error (sigmoid(z) - y) joined back on doc
                -> per-bucket gradient (one groupBy)
                -> driver update of n_buckets weights

Scale shape per iteration: one broadcast join + two wide shuffles
(per-doc, per-bucket); the feature table is computed once. A 100 TB
corpus trains in ``iters`` passes with no driver state beyond the
weight vector, and scoring is the same broadcast join + per-doc agg
as every other corpus operator here.

Cross-engine determinism — FIXED-POINT MICRO-UNITS, not decimal
rounding: every quantity is a bigint count of 1e-6 units, every sum
is exact integer addition (order-independent), and every
quantization is ``floor(x * 1e6 + 0.5)`` over an IEEE double chain
whose operations (multiply, divide, add, floor) are all
correctly-rounded and therefore BIT-IDENTICAL in any engine given
identical inputs. Nothing depends on an engine's round()
implementation — which is exactly where decimal-rounding schemes
diverge: Spark rounds the shortest-repr BigDecimal of a double while
DuckDB multiplies by 1e9 and nearbyints, and a gradient-descent loop
manufactures systematic half-points (iteration-1 errors are exactly
±0.5, so x*e lands on 10th-decimal halves whenever x's 9th digit is
odd). The only non-exact ingredient is libm's exp() (1-ulp engine
differences), absorbed by the 1e-6 quantization (flip probability
~1e-10 per value).

Extension beyond the reference (no Auto_TS counterpart) — part of the
training-data curation surface alongside ``lm_quality``/``dsir``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from auto_ts_spark.functions.text import hash60, tokens
from auto_ts_spark.operators.partitioning import MaterializeScope, ensure_parallelism

UNIT = 1_000_000  # fixed-point scale: 1 unit = 1e-6


def _q(x: Column) -> Column:
    """Quantize a double expression to micro-units (bigint):
    ``floor(x * 1e6 + 0.5)`` — every op correctly-rounded IEEE, so the
    result is bit-identical across engines."""
    return F.floor(x * F.lit(float(UNIT)) + F.lit(0.5)).cast("long")


BIAS_BUCKET = -1


def hashed_features(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
) -> DataFrame:
    """Hashed-unigram term-frequency features: one row per
    ``(id, bucket)`` with ``x_u = floor(count/total * 1e6 + 0.5)``
    micro-units — the fastText bag-of-words input, bucketed by the
    shared md5-derived ``hash60`` so any SQL engine reproduces the
    hashing. Every document with tokens also carries one intercept
    row ``(id, BIAS_BUCKET, 1e6)`` so the model can calibrate the
    class base rate (without it, an imbalanced corpus pins every
    probability on one side of 0.5)."""
    toks = ensure_parallelism(
        df.filter(F.col(text_col).isNotNull())
    ).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0)
        ).alias("w"),
    )
    from pyspark.sql import Window

    grams = toks.select(
        "id", F.pmod(hash60(F.col("w")), F.lit(n_buckets)).alias("bucket")
    )
    cnt = grams.groupBy("id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    # ONE pass over the corpus (plan-pinned single scan/tokenizer):
    # per-doc totals are a window sum over the bucket counts (no
    # self-join — Spark duplicates both sides' full scan subtrees and
    # exchange reuse doesn't kick in), and the intercept row rides a
    # conditional explode on each document's first bucket row instead
    # of a union with a second aggregate over the same scan. Both
    # window functions share the ordered (id, bucket) spec — the sum
    # over an explicit unbounded frame — so the physical plan sorts
    # once, not once per frame shape (r13: an unordered sum spec next
    # to the ordered row_number cost a second local sort of the whole
    # feature table).
    w_ord = Window.partitionBy("id").orderBy("bucket")
    w_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    staged = cnt.select(
        "id",
        "bucket",
        _q(F.col("c") / F.sum("c").over(w_all)).alias("x_u"),
        F.row_number().over(w_ord).alias("_rn"),
    )
    pair = F.struct(
        F.col("bucket").cast("int").alias("bucket"), F.col("x_u")
    )
    bias = F.struct(
        F.lit(BIAS_BUCKET).cast("int").alias("bucket"),
        F.lit(UNIT).cast("long").alias("x_u"),
    )
    rows = F.when(F.col("_rn") == 1, F.array(pair, bias)).otherwise(
        F.array(pair)
    )
    return staged.select("id", F.explode(rows).alias("r")).select(
        "id", F.col("r.bucket").alias("bucket"), F.col("r.x_u").alias("x_u")
    )


def _wx_u(w_u: Column, x_u: Column) -> Column:
    """w*x in micro-units: w_u (exact in double while |w| < 2^53/1e6)
    times the unit-valued feature, requantized."""
    return F.floor(
        w_u.cast("double") * (x_u.cast("double") / F.lit(float(UNIT)))
        + F.lit(0.5)
    ).cast("long")


def _p_u(z_u: Column) -> Column:
    """Quantized logistic of a micro-unit margin."""
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(z_u.cast("double") / F.lit(float(UNIT))))
    )
    return _q(p)


def labeled_features(
    docs: DataFrame,
    label: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
) -> DataFrame:
    """:func:`hashed_features` joined with the 0/1 ``label``:
    ``(id, bucket, x_u, y)`` — the table every training iteration
    reads. Callers that also score the same documents build it
    themselves, persist it (serialized ``MEMORY_AND_DISK``) in their
    :class:`MaterializeScope`, and pass it both to
    :func:`train_quality_classifier` and — filtered to the documents
    to score — to :func:`classify` as ``features``: one
    tokenize→hash→aggregate pass instead of two."""
    y = docs.select(F.col(id_col).alias("id"), label.cast("int").alias("y"))
    return hashed_features(
        docs, text_col=text_col, id_col=id_col, n_buckets=n_buckets
    ).join(y, "id")


def train_quality_classifier(
    docs: DataFrame,
    label: Column,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
    iters: int = 3,
    lr: float = 1.0,
    features: DataFrame | None = None,
) -> DataFrame:
    """Fit the hashed-n-gram logistic classifier; returns the weight
    table ``(bucket, w_u)`` (micro-units, bigint) after ``iters``
    full-batch gradient steps ``w <- w - lr * grad / n_docs`` from
    ``w = 0``.

    ``label`` is a boolean Column over ``docs`` (1 = reference-like).
    Documents with zero tokens carry no features and drop out of the
    fit. The :func:`labeled_features` table is materialized once
    (SERIALIZED memory-and-disk persist) and reused by every
    iteration, then released before returning (PySpark's
    MEMORY_AND_DISK is the serialized level; _DESER is the
    localCheckpoint default). r7 scale fix: the earlier eager
    localCheckpoint built DESERIALIZED heap blocks —
    at 5M docs (~230M feature rows) that OOMed an 8g JVM during
    checkpoint materialization; serialized blocks unroll incrementally
    and spill, keeping the iteration loop disk-bounded at any corpus
    size.

    ``features``: the caller's own (persisted) :func:`labeled_features`
    table for ``docs`` and ``label`` (same ``n_buckets``), read as is
    — the caller releases it.
    """
    from pyspark import StorageLevel

    with MaterializeScope() as scope:
        labeled = (
            features
            if features is not None
            else scope.hold(
                labeled_features(
                    docs, label, text_col=text_col, id_col=id_col, n_buckets=n_buckets
                ),
                StorageLevel.MEMORY_AND_DISK,
            )
        )
        return _gd_iterate(labeled, docs.sparkSession, n_buckets, iters, lr)


def _gd_iterate(labeled, spark, n_buckets: int, iters: int, lr: float):
    """The micro-unit gradient-descent loop over the persisted feature
    table.

    r13 loop-shape notes (measured on the per-iteration plans): the
    persisted table is already hash-partitioned by ``id`` (the feature
    window's exchange), so the per-doc aggregate and the error join
    run exchange-free; the gradient side reads ``labeled`` DIRECTLY —
    the broadcast weight join contributes nothing to ``x_u * e_u``
    (every bucket matches), so joining weights there was a per-
    iteration broadcast probe over the whole feature table for no
    bits of output; and the error join is hinted shuffle-hash —
    ``err`` is one slim row per document, so hashing it per partition
    beats sorting the feature table twice per iteration (the SMJ the
    planner picks otherwise). n_docs is the bias-row count — every
    featured document carries exactly one intercept row — which is a
    map-side count over the persisted blocks instead of a distinct
    (shuffle) over the id column."""
    n_docs = labeled.filter(F.col("bucket") == BIAS_BUCKET).count()

    # micro-units, exact ints; BIAS_BUCKET is the intercept
    w = {b: 0 for b in range(n_buckets)}
    w[BIAS_BUCKET] = 0
    for _ in range(iters):
        w_df = spark.createDataFrame(
            list(w.items()), "bucket int, w_u long"
        )
        contrib = labeled.join(F.broadcast(w_df), "bucket").select(
            "id", "y", _wx_u(F.col("w_u"), F.col("x_u")).alias("wx_u")
        )
        z = contrib.groupBy("id", "y").agg(F.sum("wx_u").alias("z_u"))
        err = z.select(
            "id", (_p_u(F.col("z_u")) - F.col("y") * F.lit(UNIT)).alias("e_u")
        )
        grad = (
            labeled.select("id", "bucket", "x_u")
            .join(err.hint("shuffle_hash"), "id")
            .select(
                "bucket",
                # x * e in micro-units: x back to unit scale (exact
                # double chain), times the micro-unit error
                F.floor(
                    (F.col("x_u").cast("double") / F.lit(float(UNIT)))
                    * F.col("e_u").cast("double")
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("g_u"),
            )
            .groupBy("bucket")
            .agg(F.sum("g_u").alias("g_u"))
            .collect()
        )
        for row in grad:
            # mirror of the oracle's floor(lr * g / n + 0.5): Python
            # floats are the same IEEE doubles, so the step is
            # bit-identical to the SQL replay
            step = math.floor(float(lr) * float(row["g_u"]) / n_docs + 0.5)
            w[row["bucket"]] = w[row["bucket"]] - step
    return spark.createDataFrame(
        sorted(w.items()), "bucket int, w_u long"
    )


def classify(
    docs: DataFrame,
    weights: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 128,
    threshold: float = 0.5,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score documents under a trained weight table: ``(id_col,
    z_micro, p, keep)`` — micro-unit margin (exact bigint), quantized
    probability, and the keep flag at ``threshold``. Same
    broadcast-join + per-doc-agg shape as every scoring operator
    here; token-less documents are excluded.

    ``features``: optionally a precomputed :func:`hashed_features`
    frame for ``docs`` (extra columns are ignored) — a caller that
    just trained on the same documents passes its persisted
    :func:`labeled_features` table so scoring reads the persisted
    blocks instead of re-running the tokenize→hash→aggregate pass
    over the corpus."""
    feats = (
        features
        if features is not None
        else hashed_features(
            docs, text_col=text_col, id_col=id_col, n_buckets=n_buckets
        )
    )
    scored = (
        feats.join(F.broadcast(weights), "bucket")
        .select("id", _wx_u(F.col("w_u"), F.col("x_u")).alias("wx_u"))
        .groupBy(F.col("id").alias(id_col))
        .agg(F.sum("wx_u").alias("z_micro"))
    )
    p_u = _p_u(F.col("z_micro"))
    return scored.select(
        id_col,
        "z_micro",
        (p_u.cast("double") / F.lit(float(UNIT))).alias("p"),
        (p_u >= F.lit(int(round(threshold * UNIT)))).alias("keep"),
    )
