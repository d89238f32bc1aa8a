"""Tests of the benchmark itself: the output checks reject perturbed
results, the metric names match BENCHMARK.json, and a tiny-size smoke
run of each workload prints every metric and well-nested spans.

Run from the repository root: ``python -m pytest perfbench/tests -q``
(the smoke runs start Spark and take a few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import measure  # noqa: E402
import workloads as W  # noqa: E402


def _fit_result(n_series=3):
    rng = np.random.default_rng(0)
    ts = pd.date_range("2021-01-01", periods=W.HOLDOUT, freq="D", tz="UTC")
    actuals = pd.DataFrame({
        "series_id": np.repeat([f"s{i}" for i in range(n_series)], W.HOLDOUT),
        "ts": np.tile(ts, n_series),
        "y": rng.normal(size=n_series * W.HOLDOUT),
    })
    folds = pd.concat([
        actuals.drop(columns="y").assign(model=m, fold=0, yhat=actuals["y"] + rng.normal(0, s, len(actuals)))
        for m, s in (("fourier", 0.5), ("ml_gbt", 1.0))
    ])
    err = folds.merge(actuals, on=["series_id", "ts"]).assign(e2=lambda d: (d.y - d.yhat) ** 2)
    rmse = err.groupby(["model", "series_id"])["e2"].mean().pow(0.5).groupby("model").mean()
    board = pd.DataFrame({"model": rmse.index, "mean_rmse": rmse.values})
    board["rank"] = board["mean_rmse"].rank(method="first").astype(int)
    preds = {m: folds[folds.model == m][["series_id", "ts", "yhat"]] for m in ("fourier", "ml_gbt")}
    return board, folds, actuals, preds


def test_fit_check_accepts_consistent_result():
    board, folds, actuals, preds = _fit_result()
    assert W.check_fit(board, folds, actuals, preds, 3) == []


@pytest.mark.parametrize("perturb", ["fold_yhat", "rank_swap", "predict_rows", "mean_rmse"])
def test_fit_check_rejects_perturbed_result(perturb):
    board, folds, actuals, preds = _fit_result()
    if perturb == "fold_yhat":
        folds = folds.copy()
        folds.iloc[0, folds.columns.get_loc("yhat")] += 1.0
    elif perturb == "rank_swap":
        board = board.assign(rank=board["rank"].max() + 1 - board["rank"])
    elif perturb == "predict_rows":
        preds = dict(preds, ml_gbt=preds["ml_gbt"].iloc[1:])
    else:
        board = board.assign(mean_rmse=board["mean_rmse"] * 1.001)
    assert W.check_fit(board, folds, actuals, preds, 3)


def test_fit_digest_sees_a_changed_forecast():
    board, _, _, preds = _fit_result()
    changed = dict(preds, fourier=preds["fourier"].assign(yhat=preds["fourier"]["yhat"] + 0.01))
    assert W.fit_digest(board, preds) != W.fit_digest(board, changed)


def test_curate_check_rejects_perturbed_result():
    inputs = np.arange(100)
    out = inputs[::3]
    assert W.check_curate(out, inputs) == []
    assert W.check_curate(np.append(out, 1000), inputs)
    assert W.check_curate(out[:0], inputs)
    assert W.curate_digest(out) != W.curate_digest(out[1:])


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(measure.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(measure.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(W.WORKLOADS)


def _run(workload, trace, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", str(seconds), "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    # the untraced tiny fit_panel call is short enough that a 25 s
    # window adds warm calls: cache reset, re-cache, digest repeat
    warm = workload == "fit_panel" and not trace
    detail, result = _run(workload, trace, 25 if warm else 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == len(detail["calls"])
    assert result["attempted"] >= 2 if warm else result["attempted"] == 1
    assert len({c["digest"] for c in detail["calls"]}) == 1
    want = measure.PER_LAYER if trace else measure.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(want)
    if not trace:
        assert all(result["metrics"][k]["value"] > 0 for k, _ in measure.END_TO_END)
        return
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["spark.jobs"] > 0
    assert all(v >= -1e-6 for k, v in metrics.items() if k.endswith(".self_s"))
    spans = {s["id"]: s for s in detail["spans"]}
    assert spans
    for s in spans.values():
        assert s["end"] >= s["start"]
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    # every job of the call is charged to exactly one span or to none
    charged = sum(v for k, v in metrics.items() if k.endswith(".jobs") and k != "spark.jobs")
    assert charged <= metrics["spark.jobs"]
