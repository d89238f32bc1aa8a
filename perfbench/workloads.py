"""Workload inputs, calls and output checks.

Each workload has three parts:

- ``generate(workload, seed, out_dir, size)`` writes the seeded inputs as parquet.
  It runs in the launcher, before the measured process starts, so input
  generation never counts toward set-up time.
- A class built on a live SparkSession. Its constructor loads and caches
  the inputs (part of set-up; ``recache`` repeats that after the cache
  is cleared); ``call(span)`` is the timed call, and ``check(result)``
  verifies the outputs after the timer has stopped.
- A ``check_*`` function over plain pandas/numpy values, so the tests can
  feed it a perturbed result without Spark.

The library only ever receives the generated inputs; the seed stays here.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HOLDOUT = 8

# (series, points per series) of each fit panel; the last HOLDOUT points
# of every series are held out for predict
FIT_SIZES = {
    "fit_panel": {"full": (100, 128), "tiny": (6, 64)},
    "fit_gbt": {"full": (4, 128), "tiny": (3, 64)},
}

# scale factor handed to tools/gen_testdata.generate for curate_full
CURATE_SF = {"full": 0.02, "tiny": 0.01}


def digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(repr(p).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ fit


def make_panel(seed: int, n_series: int, n_points: int) -> pd.DataFrame:
    """Daily panel: level + trend + weekly cycle + AR(1) noise + 0.5*x,
    where ``x`` is a per-series random walk (the exogenous column)."""
    rng = np.random.default_rng(seed)
    t = np.arange(n_points)
    x = np.cumsum(rng.normal(0.0, 1.0, (n_series, n_points)), axis=1)
    level = rng.uniform(20.0, 80.0, (n_series, 1))
    slope = rng.normal(0.0, 0.05, (n_series, 1))
    amp = rng.uniform(1.0, 5.0, (n_series, 1))
    phase = rng.uniform(0.0, 2 * np.pi, (n_series, 1))
    shocks = rng.normal(0.0, 1.0, (n_series, n_points))
    noise = np.zeros_like(shocks)
    for i in range(n_points):
        noise[:, i] = shocks[:, i] + (0.5 * noise[:, i - 1] if i else 0.0)
    y = level + slope * t + amp * np.sin(2 * np.pi * t / 7 + phase) + 0.5 * x + noise
    ts = pd.date_range("2021-01-01", periods=n_points, freq="D")
    return pd.DataFrame({
        "series_id": np.repeat([f"s{i:04d}" for i in range(n_series)], n_points),
        "ts": pd.DatetimeIndex(np.tile(ts.values, n_series)).tz_localize("UTC"),
        "y": y.ravel(),
        "x": x.ravel(),
    })


def generate_fit(workload: str, seed: int, out_dir: str, size: str) -> None:
    n_series, n_points = FIT_SIZES[workload][size]
    panel = make_panel(seed, n_series, n_points)
    step = panel.groupby("series_id").cumcount()
    train = panel[step < n_points - HOLDOUT]
    test = panel[step >= n_points - HOLDOUT].drop(columns="y")
    for name, frame in (("train", train), ("test", test)):
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
            coerce_timestamps="us",
        )


def check_fit(
    board: pd.DataFrame,
    folds: pd.DataFrame,
    actuals: pd.DataFrame,
    preds: dict[str, pd.DataFrame],
    n_series: int,
) -> list[str]:
    """Problems found in one fit+predict result (empty list = correct).

    - leaderboard ranks follow ``mean_rmse`` ascending;
    - every ``mean_rmse`` equals numpy's mean over (series, fold) of the
      per-group RMSE of the out-of-fold predictions against the actuals;
    - every predict frame has series x HOLDOUT rows and finite ``yhat``.
    """
    problems = []
    ordered = board.sort_values("rank")
    if list(ordered["rank"]) != list(range(1, len(board) + 1)):
        problems.append("leaderboard ranks are not 1..n")
    if not np.all(np.diff(ordered["mean_rmse"].to_numpy()) >= 0):
        problems.append("leaderboard ranks not ordered by mean_rmse")
    joined = folds.merge(actuals, on=["series_id", "ts"])
    err2 = (joined["y"].to_numpy() - joined["yhat"].to_numpy()) ** 2
    per_group = (
        joined.assign(err2=err2)
        .groupby(["model", "series_id", "fold"])["err2"]
        .mean()
        .pow(0.5)
        .groupby("model")
        .mean()
    )
    for model, rmse in zip(board["model"], board["mean_rmse"]):
        want = per_group.get(model)
        if want is None or not np.isclose(rmse, want, rtol=1e-6, atol=1e-9):
            problems.append(f"{model}: mean_rmse {rmse} != recomputed {want}")
    for model, frame in preds.items():
        if len(frame) != n_series * HOLDOUT:
            problems.append(f"predict {model}: {len(frame)} rows, want {n_series * HOLDOUT}")
        if not np.all(np.isfinite(frame["yhat"].to_numpy(dtype=float))):
            problems.append(f"predict {model}: non-finite yhat")
    return problems


def fit_digest(board: pd.DataFrame, preds: dict[str, pd.DataFrame]) -> str:
    rows = [
        (r.model, int(r.rank), round(float(r.mean_rmse), 4))
        for r in board.sort_values("rank").itertuples()
    ]
    for model in sorted(preds):
        frame = preds[model].sort_values(["series_id", "ts"])
        rows += [
            (model, s, str(t), round(float(v), 4))
            for s, t, v in zip(frame["series_id"], frame["ts"], frame["yhat"])
        ]
    return digest(rows)


class Fit:
    """``AutoTimeSeries.fit`` with ``options``, then ``predict`` on the
    held-out rows with the leaderboard's best model."""

    def __init__(self, spark, data_dir: str, options: dict):
        self.spark = spark
        self.data_dir = data_dir
        self.options = options
        self.n_series = pd.read_parquet(
            os.path.join(data_dir, "test.parquet"), columns=["series_id"]
        )["series_id"].nunique()
        self.recache()

    def recache(self) -> None:
        read = self.spark.read.parquet
        self.train = read(os.path.join(self.data_dir, "train.parquet")).cache()
        self.test = read(os.path.join(self.data_dir, "test.parquet")).cache()
        self.train.count()
        self.test.count()

    def call(self, span):
        from auto_ts_spark.auto import AutoTimeSeries

        model = AutoTimeSeries(forecast_period=HOLDOUT, **self.options)
        model.fit(self.train, "ts", "y", series_id="series_id")
        frame = model.predict(self.test)
        with span("bench.collect"):
            return model, {model.get_best_model_name(): frame.toPandas()}

    def check(self, result) -> tuple[list[str], str]:
        model, preds = result
        board = model.leaderboard_
        folds = (
            model.predictions_.filter("fold >= 0")
            .select("model", "series_id", "ts", "fold", "yhat")
            .toPandas()
        )
        actuals = pd.read_parquet(os.path.join(self.data_dir, "train.parquet"))
        actuals["ts"] = actuals["ts"].dt.tz_localize(None)  # as Spark returns it
        problems = check_fit(board, folds, actuals, preds, self.n_series)
        return problems, fit_digest(board, preds)


# --------------------------------------------------------- curate_full


def generate_curate(workload: str, seed: int, out_dir: str, size: str) -> None:
    from tools.gen_testdata import generate

    with contextlib.redirect_stdout(io.StringIO()):  # it prints row counts
        generate(CURATE_SF[size], out_dir, seed)


def check_curate(out_ids, input_ids) -> list[str]:
    missing = set(out_ids) - set(input_ids)
    problems = []
    if missing:
        problems.append(f"{len(missing)} output ids not in the input")
    if len(out_ids) == 0:
        problems.append("empty output")
    return problems


def curate_digest(out_ids) -> str:
    return digest(sorted(int(i) for i in out_ids))


class CurateFull:
    """``corpus.curate`` with exactly the arguments of bench.py's
    ``q_curate_full`` (the full recipe), over cached inputs."""

    def __init__(self, spark, data_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.input_ids = pd.read_parquet(
            os.path.join(data_dir, "documents.parquet"), columns=["doc_id"]
        )["doc_id"].to_numpy()
        self.recache()

    def recache(self) -> None:
        from pyspark.sql import functions as F

        from auto_ts_spark.io.sources import load_table

        self.docs = load_table(self.spark, self.data_dir, "documents").cache()
        self.emb = (
            load_table(self.spark, self.data_dir, "embeddings")
            .select(F.col("vec_id").alias("doc_id"), "embedding")
            .cache()
        )
        self.docs.count()
        self.emb.count()

    def call(self, span):
        from pyspark.sql import functions as F

        from auto_ts_spark.corpus import curate

        docs = self.docs
        ref = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")
        bench_docs = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
        mixture = {f"src{i}": (2.0 if i < 3 else 1.0) for i in range(20)}
        out = curate(
            docs,
            scrub_spans=True,
            near_dedup_method="semantic",
            embeddings=self.emb,
            semantic_threshold=0.95,
            perplexity_ref=ref,
            classifier_ref=ref,
            classifier_threshold=0.125,
            benchmark=bench_docs,
            mixture=mixture,
            token_budget=200_000,
            budget_by="source",
        )
        with span("bench.collect"):
            return out.toPandas()

    def check(self, result) -> tuple[list[str], str]:
        ids = result["doc_id"].to_numpy()
        return check_curate(ids, self.input_ids), curate_digest(ids)


# name -> (input generator, workload class, keyword arguments)
WORKLOADS = {
    # many short series: per-series Python worker compute in one
    # applyInPandas stage; never touches models.ml
    "fit_panel": (generate_fit, Fit, {
        "options": {"model_type": ["prophet", "sarimax", "var"], "n_splits": 3},
    }),
    # few series, GBT only: bound by Spark job latency (~440 jobs)
    "fit_gbt": (generate_fit, Fit, {"options": {"model_type": "ml", "n_splits": 1}}),
    "curate_full": (generate_curate, CurateFull, {}),
}
