"""Time-series cross-validation fold assignment.

Reference parity (SURVEY.md §2.3):
- W12 expanding-window CV — sklearn ``TimeSeriesSplit(n_splits,
  test_size)`` semantics (auto_ts/models/build_ml.py:204-213,
  auto_ts/utils/val.py:15-53) → :func:`expanding_folds`
- W13 sliding-window CV (auto_ts/models/build_prophet.py:538-585)
  → :func:`sliding_folds`
- W14 walk-forward weighted-average RMSE (auto_ts/utils/val.py:55-131)
  → weighted agg in metrics; fold table from here.

Implementation: fold membership is pure row-number arithmetic — one
window pass to number rows per series, then a lateral fold expansion
(``explode(sequence(...))`` with range predicates). No per-fold scans:
a query that evaluates k folds reads the data once.

sklearn TimeSeriesSplit parity: with n rows, n_splits folds and
test_size h, fold i (0-based) trains on rows [1 .. n - (n_splits - i)*h]
and tests on the following h rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_row_number(
    df: DataFrame, *, order_col: str = "ts", series_col: str = "series_id", name: str = "rn"
) -> DataFrame:
    w = Window.partitionBy(series_col).orderBy(F.col(order_col))
    return df.withColumn(name, F.row_number().over(w))


def expanding_folds(
    df: DataFrame,
    n_splits: int,
    test_size: int,
    *,
    order_col: str = "ts",
    series_col: str = "series_id",
) -> DataFrame:
    """Expanding-window folds: returns input rows × matching folds with
    columns ``fold`` (0-based) and ``role`` ('train' | 'test').

    A row belongs to every fold whose train or test range covers it, so
    the output is the exploded (row, fold) membership table — the shape
    every downstream per-fold fit/metric consumes.
    """
    dfn = with_row_number(df, order_col=order_col, series_col=series_col)
    n_per_series = F.count(F.lit(1)).over(Window.partitionBy(series_col))
    dfn = dfn.withColumn("_n", n_per_series)
    folds = dfn.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n_splits - 1))).alias("fold")
    )
    train_end = F.col("_n") - (F.lit(n_splits) - F.col("fold")) * F.lit(test_size)
    test_end = train_end + F.lit(test_size)
    rn = F.col("rn")
    out = folds.withColumn(
        "role",
        F.when(rn <= train_end, F.lit("train")).when(
            (rn > train_end) & (rn <= test_end), F.lit("test")
        ),
    ).filter(F.col("role").isNotNull())
    return out.drop("_n")


def sliding_folds(
    df: DataFrame,
    initial: int,
    horizon: int,
    period: int,
    *,
    order_col: str = "ts",
    series_col: str = "series_id",
    max_folds: int = 1000,
) -> DataFrame:
    """Sliding-window folds (Prophet ``easy_cross_validation`` semantics):
    fold i trains on rows [1 .. initial + i*period], tests on the next
    ``horizon`` rows, while the test window fits.
    """
    dfn = with_row_number(df, order_col=order_col, series_col=series_col)
    n_per_series = F.count(F.lit(1)).over(Window.partitionBy(series_col))
    dfn = dfn.withColumn("_n", n_per_series)
    n_folds = F.least(
        F.floor((F.col("_n") - F.lit(initial + horizon)) / F.lit(period)) + F.lit(1),
        F.lit(max_folds),
    )
    # guard: Spark's sequence(0, -1) counts DOWN, so a series shorter
    # than initial+horizon would fabricate negative folds — drop it
    dfn = dfn.withColumn("_nf", n_folds).filter(F.col("_nf") >= 1)
    folds = dfn.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("_nf") - F.lit(1))).alias("fold"),
    ).drop("_nf")
    train_end = F.lit(initial) + F.col("fold") * F.lit(period)
    test_end = train_end + F.lit(horizon)
    rn = F.col("rn")
    out = folds.withColumn(
        "role",
        F.when(rn <= train_end, F.lit("train")).when(
            (rn > train_end) & (rn <= test_end), F.lit("test")
        ),
    ).filter(F.col("role").isNotNull())
    return out.drop("_n")
