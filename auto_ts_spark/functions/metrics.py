"""Forecast-accuracy metrics as Catalyst aggregate expressions.

Reference parity (SURVEY.md §2.4, auto_ts/utils/metrics.py:11-112):
- A6 RMSE ``sqrt(mean((y-yhat)^2))``
- A7 MAPE ``mean(abs(100*(y-yhat)/y))``
- A8 MAE / MSE / min-max-normalized RMSE (``rmse/(max-min)``) and
  std-normalized RMSE (``rmse/std(y)``; pandas std is ddof=1 →
  ``stddev_samp``)
- A10 weighted-average RMSE ``sum(v*w)/sum(w)``

All pure SQL expressions — usable in ``agg`` directly or grouped by
(model, fold, series).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rmse(y: Column, yhat: Column) -> Column:
    return F.sqrt(F.avg(F.pow(y - yhat, 2)))


def mse(y: Column, yhat: Column) -> Column:
    return F.avg(F.pow(y - yhat, 2))


def mae(y: Column, yhat: Column) -> Column:
    return F.avg(F.abs(y - yhat))


def mape(y: Column, yhat: Column) -> Column:
    # defined over non-zero actuals: zero-y rows become NULL (skipped by
    # avg) instead of raising under ANSI / yielding inf like pandas
    return F.avg(F.abs(F.try_divide(y - yhat, y))) * 100


def rmse_normalized_by_std(y: Column, yhat: Column) -> Column:
    # try_divide: a constant fold (std = 0) yields NULL instead of an
    # ANSI DIVIDE_BY_ZERO error; leaderboard ranking is nulls-last, so
    # degenerate folds lose without killing the job
    return F.try_divide(rmse(y, yhat), F.stddev_samp(y))


def rmse_normalized_by_range(y: Column, yhat: Column) -> Column:
    return F.try_divide(rmse(y, yhat), F.max(y) - F.min(y))


METRIC_EXPRS = {
    "rmse": rmse,
    "mse": mse,
    "mae": mae,
    "mape": mape,
    "normalized_rmse": rmse_normalized_by_std,
    "range_normalized_rmse": rmse_normalized_by_range,
}


def score(
    df: DataFrame,
    y_col: str,
    yhat_col: str,
    group_cols: list[str] | None = None,
    metrics: list[str] | None = None,
) -> DataFrame:
    """Score predictions: one agg computing all requested metrics,
    optionally grouped (e.g. by model/fold)."""
    y, yhat = F.col(y_col), F.col(yhat_col)
    metrics = metrics or ["rmse", "mae", "mape", "normalized_rmse"]
    aggs = [METRIC_EXPRS[m](y, yhat).alias(m) for m in metrics]
    if group_cols:
        return df.groupBy(*group_cols).agg(*aggs)
    return df.agg(*aggs)
