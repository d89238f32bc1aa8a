"""Statistical tests: ADF stationarity + auto-differencing order.

Reference parity: W16 (auto_ts/utils/eda.py:204-314) runs
``smt.adfuller(..., autolag='AIC')`` and differences the series until
p < 0.05 (max 2 rounds). statsmodels isn't in this container, so the
test is implemented directly from the published algorithm:

- lag budget: Schwert's rule ``12·(n/100)^(1/4)`` capped to the
  sample (the statsmodels default);
- autolag(AIC): every candidate lag k in 0..maxlag is fitted on the
  SAME maxlag-aligned sample (rows t > maxlag) with regressors
  ``[const, y_{t-1}, Δy_{t-1..k}]`` and scored by the Gaussian AIC
  ``n·log(RSS/n) + 2·(k+2)``; the argmin (first on ties → smaller
  lag) is the used lag — identical ranking to statsmodels' OLS
  ``.aic`` since the ``n·(log 2π + 1)`` term is constant across
  candidates;
- the chosen lag is then REFIT on its own full sample (rows
  t > usedlag, statsmodels' second pass) and the t-statistic on the
  ``y_{t-1}`` coefficient is the ADF statistic;
- decisions use MacKinnon (2010) finite-sample response-surface
  critical values ``b0 + b1/n + b2/n² + b3/n³`` (constant-only case)
  rather than the asymptotic constants, matching
  ``p < 0.05  ⇔  stat < crit_5%(n)`` near the boundary.

The decision (stationary at 5%) is what drives differencing —
identical decision procedure; p-values themselves are not needed.

Runs per-series inside applyInPandas (see registry.adf_table).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# MacKinnon (2010) asymptotic critical values, constant, no trend.
ADF_CRIT = {"1%": -3.43, "5%": -2.86, "10%": -2.57}

# MacKinnon (2010) response-surface coefficients (constant, no trend):
# crit(n) = b0 + b1/n + b2/n^2 + b3/n^3, n = regression observations.
MACKINNON_2010 = {
    "1%": (-3.43035, -6.5393, -16.786, -79.433),
    "5%": (-2.86154, -2.8903, -4.234, -40.040),
    "10%": (-2.56677, -1.5384, -2.809, 0.0),
}


def adf_crit(n: int, alpha: str = "5%") -> float:
    """Finite-sample ADF critical value (constant-only case)."""
    b0, b1, b2, b3 = MACKINNON_2010[alpha]
    n = max(int(n), 1)
    return b0 + b1 / n + b2 / n**2 + b3 / n**3


def _ols_tstat_gamma(y: np.ndarray, dy: np.ndarray, k: int, start: int):
    """Fit Δy_t = α + γ·y_{t-1} + Σ_{j≤k} δ_j Δy_{t-j} over rows
    ``start..`` of dy; returns (t-stat on γ, rss, nobs, n_params)."""
    rows = np.arange(start, len(dy))
    if len(rows) < k + 4:
        return None
    X = np.column_stack(
        [np.ones(len(rows)), y[rows]] + [dy[rows - j] for j in range(1, k + 1)]
    )
    t = dy[rows]
    beta, *_ = np.linalg.lstsq(X, t, rcond=None)
    resid = t - X @ beta
    rss = float(resid @ resid)
    dof = max(len(rows) - X.shape[1], 1)
    sigma2 = rss / dof
    XtX_inv = np.linalg.pinv(X.T @ X)
    se_gamma = float(np.sqrt(sigma2 * XtX_inv[1, 1]))
    stat = float(beta[1] / se_gamma) if se_gamma > 0 else 0.0
    return stat, rss, len(rows), X.shape[1]


def adf_test(
    y: np.ndarray, max_lag: int | None = None, autolag: str | None = "aic"
) -> dict:
    """ADF test following statsmodels ``adfuller`` semantics (public
    algorithm; see module docstring). Returns
    ``{stat, usedlag, nobs, crit_5pct, stationary}``."""
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    n = len(y)
    empty = {
        "stat": 0.0,
        "usedlag": 0,
        "nobs": 0,
        "crit_5pct": ADF_CRIT["5%"],
        "stationary": False,
    }
    if n < 10:
        return empty
    if max_lag is None:
        # Schwert rule, capped like statsmodels: maxlag ≤ n//2 - 3
        max_lag = min(int(np.ceil(12.0 * (n / 100.0) ** 0.25)), n // 2 - 3)
    max_lag = max(int(max_lag), 0)
    dy = np.diff(y)

    if autolag:
        # all candidates share the maxlag-aligned sample
        best_k, best_aic = None, np.inf
        for k in range(max_lag + 1):
            fit = _ols_tstat_gamma(y, dy, k, start=max_lag)
            if fit is None:
                continue
            _, rss, nobs, n_par = fit
            if rss <= 0:
                aic_k = -np.inf
            else:
                aic_k = nobs * np.log(rss / nobs) + 2.0 * n_par
            if aic_k < best_aic:  # strict: first minimum wins ties
                best_aic, best_k = aic_k, k
        usedlag = best_k if best_k is not None else 0
    else:
        usedlag = max_lag

    # second pass: refit the chosen lag on its own full sample
    fit = _ols_tstat_gamma(y, dy, usedlag, start=usedlag)
    if fit is None:
        return empty
    stat, _, nobs, _ = fit
    crit5 = adf_crit(nobs, "5%")
    return {
        "stat": stat,
        "usedlag": usedlag,
        "nobs": nobs,
        "crit_5pct": crit5,
        "stationary": bool(stat < crit5),
    }


def is_stationary(y: np.ndarray, alpha: str = "5%") -> bool:
    res = adf_test(y)
    if alpha == "5%":
        return bool(res["stationary"])
    return bool(res["stat"] < adf_crit(res["nobs"], alpha))


def auto_diff_order(y: np.ndarray, max_diff: int = 2, alpha: str = "5%") -> int:
    """Number of differencing rounds until stationary (reference's
    diff_limit logic, auto_ts/utils/eda.py:276-314)."""
    yd = np.asarray(y, dtype=float)
    for d in range(max_diff + 1):
        if is_stationary(yd, alpha):
            return d
        yd = np.diff(yd)
    return max_diff
