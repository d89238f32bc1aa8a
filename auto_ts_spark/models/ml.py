"""ML forecaster — Spark-native re-expression of the reference's
XGBoost pipeline (auto_ts/models/build_ml.py:88-414, M8/M9/M13) plus
the classification dispatch (auto_ts/models/ml_models.py:35-365).

Pipeline: lag matrix (W1) + calendar features (W8) → Spark ML
``GBTRegressor`` (the container's gradient-boosted trees; swap for
SparkXGBRegressor where available) → expanding-window CV scored with
one-step-ahead (teacher-forced) lag features → final refit → h-step
recursive forecast.

The recursion (M13/W15) is inherently sequential in TIME — exactly
like the reference's one-row-at-a-time loop (build_ml.py:594-660) —
but NOT in series. The fitted ensemble is exported once to a plain-data
predictor (tree_export.py), so the h-step loop runs with ZERO Spark
jobs on the driver (small S), or as ONE applyInPandas job where every
series walks its own tail in parallel (``forecast_ml_grouped``, the
million-series path). Each series keeps its own tail window, so
multi-series forecasts are attributed to the right series_id.

predict-on-unseen (auto_ts/models/build_ml.py:531-683): the stored
train tail is spliced ahead of the test rows; test rows supply the
future timestamps and known exog values; each step's yhat is written
back into the target so later lag features see it — the reference's
df_pre_test cycle, re-expressed with per-series pandas windows and
batched Spark predicts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.regression import GBTRegressor
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from auto_ts_spark.functions.calendar import add_calendar_features
from auto_ts_spark.operators.folds import with_row_number
from auto_ts_spark.operators.lags import supervised_lag_matrix
from auto_ts_spark.operators.partitioning import MaterializeScope

CAL_FEATURES = ("month", "quarter", "dayofweek", "weekend", "dayofmonth")


def build_features(
    df: DataFrame, target: str = "y", *, lags: int = 3, exog_cols: list[str] | None = None
) -> tuple[DataFrame, list[str]]:
    value_cols = [target] + list(exog_cols or [])
    feat = supervised_lag_matrix(df, value_cols, n_in=lags)
    feat = add_calendar_features(feat, "ts", CAL_FEATURES)
    feature_cols = [f"{c}_lag_{i}" for c in value_cols for i in range(1, lags + 1)]
    feature_cols += [f"ts_{f}" for f in CAL_FEATURES]
    return feat, feature_cols


def _pandas_calendar(ts: pd.Timestamp) -> dict[str, int]:
    """CAL_FEATURES for one timestamp, matching calendar.py exactly
    (pandas dayofweek is already Monday=0, the convention calendar.py
    emits via ``(dayofweek(ts)+5)%7``)."""
    dow = int(ts.dayofweek)
    return {
        "ts_month": int(ts.month),
        "ts_quarter": int((ts.month - 1) // 3 + 1),
        "ts_dayofweek": dow,
        "ts_weekend": int(dow in (5, 6)),
        "ts_dayofmonth": int(ts.day),
    }


def fit_gbt(
    train: DataFrame,
    feature_cols: list[str],
    target: str = "y",
    *,
    max_iter: int = 40,
    max_depth: int = 5,
    seed: int = 99,
):
    """Assemble + fit; seed pinned like the reference (seed=99,
    build_ml.py:191)."""
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    gbt = GBTRegressor(
        labelCol=target,
        featuresCol="features",
        maxIter=max_iter,
        maxDepth=max_depth,
        stepSize=0.1,
        seed=seed,
    )
    assembled = assembler.transform(train)
    return assembler, gbt.fit(assembled)


def fit_classifier(
    train: DataFrame,
    feature_cols: list[str],
    target: str = "y",
    *,
    n_classes: int = 2,
    max_iter: int = 40,
    max_depth: int = 5,
    seed: int = 99,
    weight_col: str | None = None,
):
    """Classification twin of :func:`fit_gbt` (reference dispatch
    ml_models.py:35-365): GBTClassifier for binary targets,
    RandomForestClassifier for multiclass (Spark's GBT is binary-only),
    both class-weighted when ``weight_col`` is set — the analogue of
    the reference's balanced class weights (ml_models.py:390-457)."""
    from pyspark.ml.classification import GBTClassifier, RandomForestClassifier

    assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
    common = dict(labelCol=target, featuresCol="features", maxDepth=max_depth, seed=seed)
    if weight_col:
        common["weightCol"] = weight_col
    if n_classes <= 2:
        clf = GBTClassifier(maxIter=max_iter, stepSize=0.1, **common)
    else:
        clf = RandomForestClassifier(numTrees=max_iter, **common)
    assembled = assembler.transform(train)
    return assembler, clf.fit(assembled)


def tune_gbt_max_iter(
    df: DataFrame,
    *,
    target: str = "y",
    lags: int = 3,
    exog_cols: list[str] | None = None,
    candidates: tuple[int, ...] = (10, 20, 40, 80),
    holdout: int = 8,
) -> tuple[int, pd.DataFrame]:
    """M9's boost-round tuning (reference ml_models.py:340-365:
    ``xgb.cv(nfold=5, early_stopping_rounds=10)`` picks
    num_boost_rounds), re-expressed for time series: hold out each
    series' last ``holdout`` rows, fit each candidate maxIter on the
    prefix, score one-step-ahead RMSE on the holdout, return the
    argmin (and the trial table). Random k-fold CV would leak future
    rows into training, so the temporal holdout replaces nfold=5.

    Cost: len(candidates) distributed fits — the candidate axis is
    small and sequential like the reference's early-stopping sweep.
    """
    feat, feature_cols = build_features(df, target, lags=lags, exog_cols=exog_cols)
    # same minimum-train gate as cv_scores_ml: series shorter than the
    # holdout + a usable prefix contribute to NEITHER side (otherwise a
    # short series lands entirely in validation, scored by a model that
    # never saw it — or an all-short dataset fits on zero rows)
    min_train = max(10, len(feature_cols))
    cut = F.col("_n") - holdout
    rows = []
    with MaterializeScope() as scope:
        feat = scope.hold(_per_series_cutoff(feat))
        train = feat.filter((F.col("rn") <= cut) & (cut >= min_train))
        val = feat.filter((F.col("rn") > cut) & (cut >= min_train))
        if train.limit(1).count() == 0 or val.limit(1).count() == 0:
            return 40, pd.DataFrame(columns=["max_iter", "rmse"])
        for m in candidates:
            _, model = fit_gbt(train, feature_cols, target, max_iter=m)
            assembler = VectorAssembler(inputCols=feature_cols, outputCol="features")
            pred = model.transform(assembler.transform(val))
            rmse = pred.agg(
                F.sqrt(F.avg(F.pow(F.col(target) - F.col("prediction"), 2))).alias("r")
            ).collect()[0]["r"]
            rows.append({"max_iter": m, "rmse": float(rmse)})
    trials = pd.DataFrame(rows)
    best = int(trials.sort_values(["rmse", "max_iter"]).iloc[0]["max_iter"])
    return best, trials


def feature_importances(model, feature_cols: list[str]) -> pd.DataFrame:
    """O3 (auto_ts/models/ml_models.py:159-176): ranked feature
    importances of a fitted tree ensemble. The reference sorts the
    XGBoost importance series descending and keeps the top 10; here the
    vector comes from Spark ML's ``featureImportances`` (impurity
    gain, normalized to sum 1)."""
    imp = model.featureImportances
    rows = [
        {"feature": feature_cols[i], "importance": float(imp[i])}
        for i in range(len(feature_cols))
    ]
    out = pd.DataFrame(rows).sort_values(
        ["importance", "feature"], ascending=[False, True]
    )
    out["rank"] = range(1, len(out) + 1)
    return out.reset_index(drop=True)


def _per_series_cutoff(feat: DataFrame) -> DataFrame:
    """Attach per-series row number and count so expanding-fold
    cutoffs are evaluated per series (a global count would interleave
    series — the round-2 verdict's misattribution class)."""
    feat = with_row_number(feat)
    w = Window.partitionBy("series_id")
    return feat.withColumn("_n", F.count(F.lit(1)).over(w))


def cv_scores_ml(
    df: DataFrame,
    *,
    target: str = "y",
    lags: int = 3,
    n_splits: int = 3,
    horizon: int = 8,
    exog_cols: list[str] | None = None,
    max_iter: int = 40,
    return_preds: bool = False,
) -> pd.DataFrame | tuple[pd.DataFrame, DataFrame | None]:
    """Expanding-window CV: per fold, train on every series' prefix,
    score the next ``horizon`` rows of each series (one-step-ahead
    features). Fold cutoffs are per-series (series of different lengths
    each contribute their own tail window). Returns a small pandas
    frame (model, fold, rmse, n_test); with ``return_preds=True`` also
    the per-row out-of-fold predictions (series_id, ts, fold, yhat) —
    the residual source for the ML family's prediction intervals
    (reference build_ml.py:674-680)."""
    feat, feature_cols = build_features(df, target, lags=lags, exog_cols=exog_cols)
    min_train = max(10, len(feature_cols))
    rows = []
    pred_parts: list[DataFrame] = []
    with MaterializeScope() as scope:
        feat = scope.hold(_per_series_cutoff(feat))
        for fold in range(n_splits):
            cut = F.col("_n") - (n_splits - fold) * horizon
            train = feat.filter((F.col("rn") <= cut) & (cut >= min_train))
            test = feat.filter(
                (F.col("rn") > cut) & (F.col("rn") <= cut + horizon) & (cut >= min_train)
            )
            if train.limit(1).count() == 0:
                continue
            assembler, model = fit_gbt(train, feature_cols, target, max_iter=max_iter)
            pred = model.transform(assembler.transform(test))
            agg = pred.agg(
                F.sqrt(F.avg(F.pow(F.col(target) - F.col("prediction"), 2))).alias("rmse"),
                F.count(F.lit(1)).alias("n"),
                F.stddev_samp(F.col(target)).alias("sd"),
            ).collect()[0]
            sd = float(agg["sd"]) if agg["sd"] else None
            nrmse = float(agg["rmse"]) / sd if sd else None
            rows.append(("ml_gbt", fold, float(agg["rmse"]), int(agg["n"]), nrmse))
            if return_preds:
                pred_parts.append(
                    pred.select(
                        "series_id",
                        "ts",
                        F.lit(fold).cast("int").alias("fold"),
                        F.col("prediction").alias("yhat"),
                    )
                )
    summary = pd.DataFrame(rows, columns=["model", "fold", "rmse", "n_test", "nrmse"])
    if not return_preds:
        return summary
    fold_preds = None
    if pred_parts:
        fold_preds = pred_parts[0]
        for p in pred_parts[1:]:
            fold_preds = fold_preds.unionByName(p)
    return summary, fold_preds


def cv_scores_ml_classifier(
    df: DataFrame,
    *,
    target: str = "y",
    lags: int = 3,
    n_splits: int = 3,
    horizon: int = 8,
    exog_cols: list[str] | None = None,
) -> pd.DataFrame:
    """Classification CV (reference ml_models.py:35-365): same
    expanding folds, class-weighted classifier, scored by error rate
    (1 - accuracy) so the ascending leaderboard contract (O1) holds
    unchanged — the 'rmse' column carries the loss."""
    from auto_ts_spark.operators.profile import class_weights

    feat, feature_cols = build_features(df, target, lags=lags, exog_cols=exog_cols)
    feat = _per_series_cutoff(feat)
    # balanced class weights n/(k·count) — the A12 operator (profile.py)
    wmap = class_weights(feat, target).select(target, F.col("weight").alias("_w"))
    min_train = max(10, len(feature_cols))
    rows = []
    with MaterializeScope() as scope:
        feat = scope.hold(feat.join(F.broadcast(wmap), target, "left"))
        n_classes = wmap.count()
        for fold in range(n_splits):
            cut = F.col("_n") - (n_splits - fold) * horizon
            train = feat.filter((F.col("rn") <= cut) & (cut >= min_train))
            test = feat.filter(
                (F.col("rn") > cut) & (F.col("rn") <= cut + horizon) & (cut >= min_train)
            )
            if train.limit(1).count() == 0:
                continue
            assembler, model = fit_classifier(
                train, feature_cols, target, n_classes=n_classes, weight_col="_w"
            )
            pred = model.transform(assembler.transform(test))
            agg = pred.agg(
                F.avg((F.col(target) != F.col("prediction")).cast("double")).alias("err"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            rows.append(
                ("ml_gbt_classifier", fold, float(agg["err"]), int(agg["n"]), None)
            )
    return pd.DataFrame(rows, columns=["model", "fold", "rmse", "n_test", "nrmse"])


def collect_series_tails(
    df: DataFrame, *, lags: int, target: str = "y", exog_cols: list[str] | None = None
) -> dict[str, pd.DataFrame]:
    """Per-series last ``lags+1`` rows as pandas windows — ONE Spark
    job (per-series window rank + filter), bounded to S·(lags+1) rows
    on the driver. This replaces the round-2 global
    ``orderBy(ts).limit`` tail that interleaved series."""
    cols = ["series_id", "ts", target] + list(exog_cols or [])
    w = Window.partitionBy("series_id").orderBy(F.col("ts").desc())
    tails = (
        df.select(*cols)
        .withColumn("_rd", F.row_number().over(w))
        .filter(F.col("_rd") <= lags + 1)
        .drop("_rd")
        .toPandas()
    )
    out: dict[str, pd.DataFrame] = {}
    for sid, g in tails.groupby("series_id", sort=True):
        out[sid] = g.sort_values("ts").reset_index(drop=True)
    return out


def _feature_row(
    window: pd.DataFrame,
    next_ts: pd.Timestamp,
    exog_vals: dict[str, float],
    *,
    target: str,
    lags: int,
    exog_cols: list[str],
) -> dict:
    """Feature vector for the next step, mirroring build_features
    (lag_i = value at t-i over the spliced window; calendar from the
    next timestamp)."""
    row: dict = {}
    value_cols = [target] + exog_cols
    spliced = {c: list(window[c]) + [exog_vals.get(c)] for c in value_cols}
    for c in value_cols:
        vals = spliced[c]
        while len(vals) < lags + 1:  # short series: edge-pad like ffill
            vals.insert(0, vals[0])
        for i in range(1, lags + 1):
            row[f"{c}_lag_{i}"] = float(vals[-1 - i])
    row.update(_pandas_calendar(next_ts))
    return row


def _batch_predict(
    spark, assembler, model, rows: list[dict], feature_cols: list[str]
) -> dict[str, float]:
    """One model.transform over all series' next-step rows (Spark-job
    fallback for models whose trees can't be exported)."""
    pdf = pd.DataFrame(rows)
    sdf = spark.createDataFrame(pdf[["series_id"] + feature_cols])
    pred = model.transform(assembler.transform(sdf)).select("series_id", "prediction")
    return {r["series_id"]: float(r["prediction"]) for r in pred.collect()}


def _local_predictor(model):
    """Export the fitted ensemble to a driver-local predictor (see
    tree_export.py): the h-step recursion then runs with ZERO Spark
    jobs instead of one scheduler round-trip per step. Returns None
    for anything but GBT regression (the weighted-sum walk is exactly
    GBT regression's blended prediction; classifiers threshold/vote on
    top of it) — then the transform fallback runs."""
    from pyspark.ml.regression import GBTRegressionModel

    if not isinstance(model, GBTRegressionModel):
        return None
    try:
        from auto_ts_spark.models.tree_export import export_ensemble

        return export_ensemble(model)
    except Exception:
        return None


def _predict_step(
    spark, assembler, model, ensemble, rows: list[dict], feature_cols: list[str]
) -> dict[str, float]:
    if ensemble is not None:
        from auto_ts_spark.models.tree_export import predict_rows

        preds = predict_rows(ensemble, rows, feature_cols)
        return {r["series_id"]: p for r, p in zip(rows, preds)}
    return _batch_predict(spark, assembler, model, rows, feature_cols)


def _series_freq(window: pd.DataFrame) -> pd.Timedelta:
    if len(window) > 1:
        deltas = window["ts"].diff().dropna()
        return deltas.median()
    return pd.Timedelta(days=1)


def _series_step(window: pd.DataFrame) -> tuple:
    """Classify the series cadence for future-timestamp stepping, with
    the same day-threshold bands as infer_frequency (reference
    auto_ts/__init__.py:399-453). Sub-monthly cadences step by the
    exact median delta; monthly and coarser step by calendar month
    offsets so month-end anchors stay on month-end (the reference
    shifts the DatetimeIndex by periods at freq, build_ml.py:585-593 —
    a fixed ~30.4-day delta would drift off the calendar)."""
    delta = _series_freq(window)
    d = delta.total_seconds() / 86400.0
    if d < 28:
        return ("delta", delta)
    if d < 89:
        return ("months", 1)
    if d < 178:
        return ("months", 3)
    if d < 360:
        return ("months", 6)
    return ("months", 12)


def _advance(anchor: pd.Timestamp, step: tuple, k: int) -> pd.Timestamp:
    """k-th future timestamp past ``anchor`` — always computed FROM the
    anchor (anchor + k·step), never iteratively, so month-end clamping
    doesn't compound (08-31 → 09-30 → 10-31, not 10-30)."""
    kind, v = step
    if kind == "delta":
        return anchor + k * v
    return anchor + pd.DateOffset(months=v * k)


def recursive_forecast_ml(
    df: DataFrame,
    horizon: int,
    *,
    target: str = "y",
    lags: int = 3,
    exog_cols: list[str] | None = None,
    fitted: tuple | None = None,
) -> pd.DataFrame:
    """M13: refit on all data, then h sequential one-step predictions
    per series, each feeding its yhat back into that series' lag
    window. All series advance together: step k is ONE batched Spark
    predict over every series' step-k row (h jobs total, independent
    of series count). Returns (series_id, ts, fold=-1, yhat).

    ``fitted`` lets the caller pass a pre-fit (assembler, model) pair
    (the facade fits once and reuses it for predict-on-unseen)."""
    exog_cols = list(exog_cols or [])
    if fitted is None:
        feat, feature_cols = build_features(df, target, lags=lags, exog_cols=exog_cols)
        assembler, model = fit_gbt(feat, feature_cols, target)
    else:
        assembler, model, feature_cols = fitted
    spark = df.sparkSession
    ensemble = _local_predictor(model)
    tails = collect_series_tails(df, lags=lags, target=target, exog_cols=exog_cols)
    steps = {sid: _series_step(w) for sid, w in tails.items()}
    anchors = {sid: w["ts"].iloc[-1] for sid, w in tails.items()}

    out = []
    for _step in range(horizon):
        rows = []
        next_info: dict[str, tuple] = {}
        for sid, window in tails.items():
            next_ts = _advance(anchors[sid], steps[sid], _step + 1)
            exog_vals = {c: float(window[c].iloc[-1]) for c in exog_cols}
            row = _feature_row(
                window, next_ts, exog_vals, target=target, lags=lags, exog_cols=exog_cols
            )
            row["series_id"] = sid
            rows.append(row)
            next_info[sid] = (next_ts, exog_vals)
        preds = _predict_step(spark, assembler, model, ensemble, rows, feature_cols)
        for sid, (next_ts, exog_vals) in next_info.items():
            yhat = preds.get(sid, float(tails[sid][target].iloc[-1]))
            out.append(
                {"series_id": sid, "ts": next_ts, "fold": -1, "yhat": yhat}
            )
            new_row = {"series_id": sid, "ts": next_ts, target: yhat, **exog_vals}
            tails[sid] = pd.concat(
                [tails[sid], pd.DataFrame([new_row])], ignore_index=True
            ).iloc[1:]
    return pd.DataFrame(out)[["series_id", "ts", "fold", "yhat"]]


def forecast_ml_grouped(
    df: DataFrame,
    horizon: int,
    *,
    target: str = "y",
    lags: int = 3,
    exog_cols: list[str] | None = None,
    fitted: tuple | None = None,
) -> DataFrame:
    """Million-series form of :func:`recursive_forecast_ml`: the WHOLE
    h-step recursion is ONE grouped-map job. The exported ensemble
    (plain tuples, picklable) ships to every worker; each series group
    walks its own ``lags+1`` tail for h steps locally. No driver
    collect, no per-step jobs — wall-clock is one shuffle on series_id
    plus h tree walks per series, regardless of series count.

    Falls back to the driver-loop implementation when the model's
    trees can't be exported.
    """
    exog_cols = list(exog_cols or [])
    if fitted is None:
        feat, feature_cols = build_features(df, target, lags=lags, exog_cols=exog_cols)
        assembler, model = fit_gbt(feat, feature_cols, target)
    else:
        assembler, model, feature_cols = fitted
    ensemble = _local_predictor(model)
    if ensemble is None:
        pdf = recursive_forecast_ml(
            df, horizon, target=target, lags=lags, exog_cols=exog_cols,
            fitted=(assembler, model, feature_cols),
        )
        return df.sparkSession.createDataFrame(pdf)

    cols = ["series_id", "ts", target] + exog_cols
    w = Window.partitionBy("series_id").orderBy(F.col("ts").desc())
    tails = (
        df.select(*cols)
        .withColumn("_rd", F.row_number().over(w))
        .filter(F.col("_rd") <= lags + 1)
        .drop("_rd")
    )
    h, tgt, lg, ex, fc = int(horizon), target, int(lags), exog_cols, feature_cols

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        from auto_ts_spark.models.tree_export import predict_row

        window = pdf.sort_values("ts").reset_index(drop=True)
        sid = window["series_id"].iloc[0]
        step = _series_step(window)
        anchor = window["ts"].iloc[-1]
        out = []
        for k in range(h):
            next_ts = _advance(anchor, step, k + 1)
            exog_vals = {c: float(window[c].iloc[-1]) for c in ex}
            row = _feature_row(
                window, next_ts, exog_vals, target=tgt, lags=lg, exog_cols=ex
            )
            yhat = predict_row(ensemble, [float(row[c]) for c in fc])
            out.append(
                {"series_id": sid, "ts": next_ts, "fold": -1, "yhat": yhat}
            )
            new_row = {"series_id": sid, "ts": next_ts, tgt: yhat, **exog_vals}
            window = pd.concat(
                [window, pd.DataFrame([new_row])], ignore_index=True
            ).iloc[1:]
        return pd.DataFrame(out, columns=["series_id", "ts", "fold", "yhat"])

    return tails.groupBy("series_id").applyInPandas(
        walk, schema="series_id string, ts timestamp, fold int, yhat double"
    )


def forecast_ml_on_testdata(
    train_df: DataFrame,
    test_pdf: pd.DataFrame,
    *,
    target: str = "y",
    lags: int = 3,
    exog_cols: list[str] | None = None,
    fitted: tuple | None = None,
) -> pd.DataFrame:
    """predict(testdata) for the ML family (reference
    build_ml.py:531-683): splice the stored train tail ahead of the
    unseen rows, then advance one test row at a time per series —
    timestamps and exog come from the TEST rows (known future exog),
    yhat is written into the target so later lags see it (the
    reference's df_pre_test cycle). Steps are batched across series
    like :func:`recursive_forecast_ml`.

    ``test_pdf``: pandas with series_id, ts and the exog columns
    (target column, if present, is ignored — never leaked)."""
    exog_cols = list(exog_cols or [])
    if fitted is None:
        feat, feature_cols = build_features(
            train_df, target, lags=lags, exog_cols=exog_cols
        )
        assembler, model = fit_gbt(feat, feature_cols, target)
    else:
        assembler, model, feature_cols = fitted
    spark = train_df.sparkSession
    ensemble = _local_predictor(model)
    tails = collect_series_tails(
        train_df, lags=lags, target=target, exog_cols=exog_cols
    )

    test_rows: dict[str, pd.DataFrame] = {
        sid: g.sort_values("ts").reset_index(drop=True)
        for sid, g in test_pdf.groupby("series_id", sort=True)
    }
    max_steps = max((len(g) for g in test_rows.values()), default=0)
    out = []
    for step in range(max_steps):
        rows = []
        next_info: dict[str, tuple] = {}
        for sid, g in test_rows.items():
            if step >= len(g) or sid not in tails:
                continue
            trow = g.iloc[step]
            next_ts = pd.Timestamp(trow["ts"])
            exog_vals = {c: float(trow[c]) for c in exog_cols}
            row = _feature_row(
                tails[sid], next_ts, exog_vals, target=target, lags=lags, exog_cols=exog_cols
            )
            row["series_id"] = sid
            rows.append(row)
            next_info[sid] = (next_ts, exog_vals)
        if not rows:
            break
        preds = _predict_step(spark, assembler, model, ensemble, rows, feature_cols)
        for sid, (next_ts, exog_vals) in next_info.items():
            yhat = preds.get(sid, float(tails[sid][target].iloc[-1]))
            out.append({"series_id": sid, "ts": next_ts, "yhat": yhat})
            new_row = {"series_id": sid, "ts": next_ts, target: yhat, **exog_vals}
            tails[sid] = pd.concat(
                [tails[sid], pd.DataFrame([new_row])], ignore_index=True
            ).iloc[1:]
    return pd.DataFrame(out, columns=["series_id", "ts", "yhat"])
