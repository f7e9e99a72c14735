"""Per-window (S)ARIMA fitting in pure numpy.

Plays the role of the reference's R ``forecast::auto.arima`` call
(/root/reference/auto_arima.R:69-120 invoked through rpy2 from
/root/reference/darima.py:216-219). This container has no R and no
statsmodels, so we implement the classical public algorithms directly:

* differencing-order selection (d, D) by deterministic strength heuristics
  (variance-ratio / autocorrelation rules — cf. Hyndman & Athanasopoulos,
  *Forecasting: Principles and Practice*, unit-root/seasonal-strength chapter);
* AR/seasonal-AR estimation by OLS on lagged regressors;
* MA terms by two-stage Hannan–Rissanen (long-AR residuals as proxies);
* order selection by AIC over a bounded grid or by the Hyndman–Khandakar
  stepwise search under AICc (reference bounds are max.p=max.q=max.P=max.Q=20
  at auto_arima.R:74; the grid defaults lower but the bounds are
  parameters) — :func:`auto_ar_fit` is the one reader of ``search``;
* in every search only admissible candidates (AR and MA roots outside the
  unit circle, :func:`_roots_admissible`) can win, as in auto.arima.

The fitted model is immediately linearized to the truncated-AR global form
via :func:`python_darima_spark.darima.arima_math.sarima_to_ar`, which is the
only representation the distributed combine ever sees — so per-window model
order is free to vary.

Everything here is called inside an Arrow-backed grouped pandas UDF; numpy
only, no Spark imports.
"""

from __future__ import annotations

import numpy as np

from python_darima_spark.darima.arima_math import DEFAULT_TOL, ar_recursion, sarima_to_ar


def _acf1(x: np.ndarray) -> float:
    x = x - x.mean()
    denom = float(np.dot(x, x))
    if denom <= 0:
        return 0.0
    return float(np.dot(x[1:], x[:-1]) / denom)


def _seasonal_strength(y: np.ndarray, m: int) -> float:
    """1 - var(y - per-phase means) / var(y), clipped to [0, 1]."""
    if m <= 1 or y.size < 3 * m:
        return 0.0
    var_y = float(np.var(y))
    if var_y <= 0:
        return 0.0
    phases = np.arange(y.size) % m
    resid = y.astype(float).copy()
    for ph in range(m):
        mask = phases == ph
        resid[mask] -= resid[mask].mean()
    return float(np.clip(1.0 - np.var(resid) / var_y, 0.0, 1.0))


def select_orders_of_differencing(
    y: np.ndarray, m: int = 1, max_d: int = 2
) -> tuple[int, int]:
    """Deterministic (d, D) selection: seasonal difference once if the
    seasonal pattern explains >60% of variance, then regular-difference while
    the lag-1 autocorrelation stays ≥0.90 (unit-root proxy)."""
    y = np.asarray(y, dtype=float)
    D = 1 if (m > 1 and _seasonal_strength(y, m) > 0.60) else 0
    w = y[m:] - y[:-m] if D else y
    d = 0
    while d < max_d and w.size > 8 and _acf1(w) >= 0.90:
        w = np.diff(w)
        d += 1
    return d, D


def select_orders_by_holdout(
    y: np.ndarray,
    m: int = 1,
    max_d: int = 2,
    max_p: int = 5,
    max_q: int = 2,
    max_P: int = 2,
    max_Q: int = 1,
    tol: int = DEFAULT_TOL,
    search: str = "grid",
    max_order: int = 40,
) -> tuple[int, int]:
    """Pick (d, D) by RECURSIVE HOLDOUT forecast error of the actual
    candidate models.

    Threshold unit-root heuristics (acf1 ≥ 0.9 → difference) cannot tell
    a near-unit-root stationary series (φ ≈ 0.97 — exactly what hourly
    electricity demand looks like) from a true random walk, and
    over-differencing the former roughly doubles forecast error. So each
    candidate (d, D) is evaluated exactly the way the final model is
    used: run the SAME AIC grid on the train split with (d, D) forced,
    linearize through the differencing (:func:`sarima_to_ar`), forecast
    the held-out tail recursively on the ORIGINAL scale, keep the
    candidate with the smallest MAE (ties → least differencing).

    Two details matter (both found the hard way on the reference's own
    GEFCom workload):

    * the holdout must be LONG (≈ n/8, horizon-scale, not a token tail):
      candidates with built-in trends (d ≥ 1 integrates the mean, d = 2
      a slope) fit a 2-day tail fine but diverge over thousands of
      steps — a 2·m-point holdout selected (2,0)/(1,1) per window and
      the combined 2,879-step forecast exploded;
    * the candidates must be the REAL grid models, not a long-AR proxy:
      a 48-lag proxy AR captures daily seasonality that the bounded
      final grid cannot, flattering (0,0) — proxy selection scored mean
      MASE 2.10 across the 10 zones where real-model selection scores
      ~1.5 (the (0,1) the proxy kept rejecting).

    Falls back to the threshold heuristic
    (:func:`select_orders_of_differencing`) when the window is too short
    to hold out a meaningful tail. Selection linearizes at the FULL
    caller ``tol``: truncating π to a few seasonal periods looked like a
    cheap shortcut but discards tail mass that keeps the recursion
    stable — measured holdout MAE 7e6 at tol=144 vs 1.8e3 at tol=2000 on
    the same fitted (0,1) model (the truncated operator is effectively a
    different, explosive model over thousands of steps)."""
    y = np.asarray(y, dtype=float)
    n = y.size
    hold = int(np.clip(n // 8, 8, 4096))
    split = n - hold
    if split < max(3 * m, 32):
        return select_orders_of_differencing(y, m, max_d)
    cands = [(dd, 0) for dd in range(0, max_d + 1)]
    # seasonal candidates are admissible whenever the TRAIN side spans
    # the 3 full periods the threshold heuristic itself requires (the
    # guard above guarantees split >= 3*m) — gating on the longer
    # 6*m-of-total made D=1 unreachable for 3-6-period windows even
    # where the fallback heuristic would have differenced seasonally
    if m > 1:
        cands += [(0, 1), (1, 1)]
    tr, ho = y[:split], y[split:]
    best: tuple | None = None
    p = min(tol, split)
    tvals = np.arange(split + 1, n + 1, dtype=float)
    # explosive candidates (e.g. d=2 trends) legitimately overflow
    # to inf over thousands of steps — the non-finite mae below
    # rejects them, so the warning is noise in executor logs (the
    # errstate also spans the candidate fits: it only silences
    # warnings, never changes results)
    with np.errstate(over="ignore", invalid="ignore"):
        for d, D in cands:
            try:
                fit = auto_ar_fit(
                    tr, m=m, max_p=max_p, max_q=max_q, max_P=max_P,
                    max_Q=max_Q,
                    d=d, D=D, tol=tol, search=search,
                    max_order=max_order,
                )
            except (ValueError, np.linalg.LinAlgError):
                continue
            fc = ar_recursion(
                fit["beta0"] + fit["beta1"] * tvals, fit["pi"][:p], init=tr
            )
            mae = float(np.abs(ho - fc).mean())
            if not np.isfinite(mae):
                continue
            key = (mae, d + D, d)  # deterministic; prefer less differencing
            if best is None or key < best[0]:
                best = (key, (d, D))
    if best is None:
        return select_orders_of_differencing(y, m, max_d)
    return best[1]


def _build_design(
    w: np.ndarray,
    p: int,
    P: int,
    m: int,
    eps: np.ndarray | None,
    q: int,
    Q: int = 0,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Regression target/design for w_t on [1, w_{t-1..p}, w_{t-m..Pm},
    eps_{t-1..q}, eps_{t-m..Qm}]. Returns (y_vec, X, start_index)."""
    lags = list(range(1, p + 1)) + [m * j for j in range(1, P + 1)]
    eps_lags = list(range(1, q + 1)) + [m * j for j in range(1, Q + 1)]
    start = max([0] + lags + eps_lags)
    n = w.size
    if n - start < len(lags) + len(eps_lags) + 2:
        raise ValueError("window too short for requested orders")
    # Fill a preallocated C-order matrix instead of column_stack: the same
    # float64 values land in the same (row, col) cells, so downstream math
    # is bit-identical; what goes away is the per-column temporary arrays
    # and the final concatenate (~30% of this function at these sizes).
    rows = n - start
    X = np.empty((rows, 1 + len(lags) + len(eps_lags)))
    X[:, 0] = 1.0
    c = 1
    for lag in lags:
        X[:, c] = w[start - lag : n - lag]
        c += 1
    for j in eps_lags:
        assert eps is not None
        X[:, c] = eps[start - j : n - j]
        c += 1
    return w[start:n], X, start


def _ols(yv: np.ndarray, X: np.ndarray) -> tuple[np.ndarray, float, int]:
    # lstsq (SVD, gelsd) ON PURPOSE — faster solvers were tried and
    # rejected on measured numerics (round 8): QR+solve is no faster on
    # these tall-skinny designs (LAPACK-bound either way), and normal
    # equations (3× faster) diverge on near-unit-root lagged designs —
    # measured max beta error 4.8e2 at 25 lags and 6.5 at 7 lags on
    # AR(2) fixtures, because κ(X'X) = κ(X)² and integrated-ish series
    # make lag columns near-collinear at ANY order. The rank-revealing
    # SVD path is the only one whose answers are placement- and
    # conditioning-stable, which the oracle hash gates require.
    beta = np.linalg.lstsq(X, yv, rcond=None)[0]
    resid = yv - X @ beta
    sigma2 = float(np.dot(resid, resid) / max(1, yv.size))
    return beta, sigma2, yv.size


def _candidate(
    wc: np.ndarray,
    p: int,
    q: int,
    P: int,
    Q: int,
    m: int,
    long_resid: np.ndarray | None,
) -> dict | None:
    """One scored (p, q, P, Q) model on the centred, differenced window —
    white noise for (0, 0, 0, 0), an OLS / Hannan–Rissanen fit otherwise;
    None when the window is too short for the orders."""
    if p == q == P == Q == 0:
        # σ² is the only parameter; the zero intercept is the centring
        beta, n_eff, k = np.array([0.0]), wc.size, 1
        sigma2 = max(float(wc.var()), 1e-12)
    else:
        try:
            yv, X, _ = _build_design(
                wc, p, P, m, long_resid if (q or Q) else None, q, Q
            )
        except ValueError:
            return None
        beta, sigma2, n_eff = _ols(yv, X)
        if sigma2 <= 0:
            sigma2 = 1e-12
        k = beta.size + 1  # + sigma2
    return {
        "p": p,
        "q": q,
        "P": P,
        "Q": Q,
        "beta": beta,
        "sigma2": sigma2,
        "aic": float(n_eff * np.log(sigma2) + 2.0 * k),
        "n_eff": n_eff,
    }


def _aicc(cand: dict) -> float:
    """AICc from a _candidate result — the information criterion
    forecast::auto.arima defaults to (ic="aicc")."""
    k = cand["beta"].size + 1 if cand["beta"].size else 1
    n = cand["n_eff"]
    denom = n - k - 1
    if denom <= 0:
        return float("inf")
    return cand["aic"] + 2.0 * k * (k + 1) / denom


def _roots_admissible(cand: dict, min_modulus: float = 1.001) -> bool:
    """forecast::auto.arima's admissibility check (myarima rejects fits
    whose AR or MA characteristic roots fall inside 1/1.001 of the unit
    circle): without it, high-order Hannan–Rissanen OLS fits that AICc
    barely penalizes at n≈30k can be explosive/non-invertible, and the
    2,879-step ψ-recursion diverges (measured: stepwise-20 without this
    check scored GEFCom MASE 18.9 vs ~2 with it). Seasonal and
    non-seasonal polynomials are checked separately — the product is
    stationary iff both factors are."""
    p, q, P, Q = cand["p"], cand["q"], cand["P"], cand["Q"]
    beta = cand["beta"]
    ar = beta[1 : 1 + p]
    sar = beta[1 + p : 1 + p + P]
    ma = beta[1 + p + P : 1 + p + P + q]
    sma = beta[1 + p + P + q : 1 + p + P + q + Q]
    for coefs, sign in ((ar, -1.0), (sar, -1.0), (ma, 1.0), (sma, 1.0)):
        c = np.asarray(coefs, dtype=float)
        c = np.trim_zeros(c, "b")
        if c.size == 0:
            continue
        # φ(B) = 1 − φ1B − …  /  θ(B) = 1 + θ1B + … ; np.roots wants
        # highest-degree-first coefficients of the polynomial in B
        poly = np.concatenate([[1.0], sign * c])[::-1]
        if np.abs(np.roots(poly)).min() < min_modulus:
            return False
    return True


def _stepwise_search(
    wc: np.ndarray,
    m: int,
    long_resid: np.ndarray | None,
    max_p: int,
    max_q: int,
    max_P: int,
    max_Q: int,
    max_order: int,
    nmodels: int = 94,
) -> dict | None:
    """Hyndman–Khandakar STEPWISE order search (the algorithm
    ``forecast::auto.arima`` actually runs at the reference's call site —
    auto_arima.R:74 passes max.p/q/P/Q=20 but leaves ``stepwise=TRUE``,
    so the reference never enumerates the 21⁴ grid either): start from
    the four canonical models, then hill-climb over ±1 neighbor moves in
    (p, q, P, Q) under AICc until no move improves, capped at ``nmodels``
    evaluated candidates (forecast's own cap). ``max_order`` bounds
    p+q+P+Q the way max.order=40 does. Candidates a short window cannot
    support return None from the fitter and are skipped, like failed
    CSS-ML fits in R. The bounds arrive capped by :func:`auto_ar_fit`:
    no MA terms without ``long_resid``, no seasonal terms when m <= 1."""
    seen: set[tuple[int, int, int, int]] = set()

    def ok(p: int, q: int, P: int, Q: int) -> bool:
        return (
            0 <= p <= max_p and 0 <= q <= max_q
            and 0 <= P <= max_P and 0 <= Q <= max_Q
            and p + q + P + Q <= max_order
        )

    def consider(p: int, q: int, P: int, Q: int) -> dict | None:
        key = (p, q, P, Q)
        if not ok(*key) or key in seen or len(seen) >= nmodels:
            return None
        seen.add(key)
        cand = _candidate(wc, *key, m, long_resid)
        if cand is not None and not _roots_admissible(cand):
            return None
        return cand

    best, best_ic = None, float("inf")
    for p, q, P, Q in [(2, 2, 1, 1), (0, 0, 0, 0), (1, 0, 1, 0), (0, 1, 0, 1)]:
        cand = consider(
            min(p, max_p), min(q, max_q), min(P, max_P), min(Q, max_Q)
        )
        if cand is not None and _aicc(cand) < best_ic:
            best, best_ic = cand, _aicc(cand)
    if best is None:
        return None
    improved = True
    while improved and len(seen) < nmodels:
        improved = False
        p, q, P, Q = best["p"], best["q"], best["P"], best["Q"]
        moves = [
            (p + 1, q, P, Q), (p - 1, q, P, Q),
            (p, q + 1, P, Q), (p, q - 1, P, Q),
            (p, q, P + 1, Q), (p, q, P - 1, Q),
            (p, q, P, Q + 1), (p, q, P, Q - 1),
            (p + 1, q + 1, P, Q), (p - 1, q - 1, P, Q),
            (p, q, P + 1, Q + 1), (p, q, P - 1, Q - 1),
        ]
        for mv in moves:
            cand = consider(*mv)
            if cand is not None and _aicc(cand) < best_ic:
                best, best_ic = cand, _aicc(cand)
                improved = True
    return best


def auto_ar_fit(
    y: np.ndarray,
    m: int = 1,
    max_p: int = 5,
    max_q: int = 2,
    max_P: int = 2,
    max_Q: int = 1,
    d: int | None = None,
    D: int | None = None,
    tol: int = DEFAULT_TOL,
    search: str = "grid",
    max_order: int = 40,
) -> dict:
    """Fit a SARIMA-style model and return it in global AR(tol) linear form.

    ``search`` is interpreted here and nowhere else:

    * ``"grid"`` (default) scores every order within the declared bounds
      under AIC;
    * ``"stepwise"`` runs the Hyndman–Khandakar neighborhood search under
      AICc — the procedure ``forecast::auto.arima`` ACTUALLY executes at
      the reference's call site (auto_arima.R:74 sets max.p/q/P/Q=20 and
      max.order=40 but keeps the default stepwise=TRUE, so the reference
      never enumerates the 21⁴ grid either);
    * ``"reference"`` is ``"stepwise"`` at those reference bounds: it
      overrides ``max_p/q/P/Q`` with 20 and ``max_order`` with 40.

    Any other value raises ``ValueError``. Every search picks only an
    admissible model (:func:`_roots_admissible`): the grid takes the
    lowest-AIC candidate that passes, and the holdout (d, D) selection
    inherits the rule because it runs this same fit.

    The candidate grid covers p, q, P AND seasonal-MA Q (Hannan–Rissanen
    ``eps_{t−m·j}`` regressors) — matching the shape of the reference's
    search space (max.p/q/P/Q at /root/reference/auto_arima.R:74).

    Returns a dict with the raw model (``ar``, ``ma``, ``sar``, ``sma``,
    ``d``, ``D``, ``mean``, ``drift``, ``sigma2``, ``m``, ``n``) and the
    linearized form (``beta0``, ``beta1``, ``pi`` — length ``tol``).
    """
    if search == "reference":
        # reference-bounds parity: auto_arima.R:74
        search, max_order = "stepwise", 40
        max_p = max_q = max_P = max_Q = 20
    elif search not in ("grid", "stepwise"):
        raise ValueError(f"unknown search {search!r}")
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    n = y.size
    if n < 8:
        # Degenerate window: intercept-only model.
        mu = float(y.mean()) if n else 0.0
        sig = float(y.var()) if n > 1 else 1.0
        lin = sarima_to_ar(mean=mu, m=m, tol=tol)
        return {
            "ar": np.array([]), "ma": np.array([]), "sar": np.array([]),
            "sma": np.array([]),
            "d": 0, "D": 0, "mean": mu, "drift": 0.0,
            "sigma2": max(sig, 1e-12), "m": m, "n": n, **lin,
        }

    if d is None or D is None:
        d_sel, D_sel = select_orders_by_holdout(
            y, m, max_p=max_p, max_q=max_q, max_P=max_P, max_Q=max_Q, tol=tol,
            search=search, max_order=max_order,
        )
        d = d_sel if d is None else d
        D = D_sel if D is None else D

    w = y.copy()
    for _ in range(D):
        w = w[m:] - w[:-m]
    for _ in range(d):
        w = np.diff(w)
    wbar = float(w.mean())
    wc = w - wbar

    # Long-AR residuals for Hannan–Rissanen MA proxies. The long-AR must
    # span ≥ 2 seasonal periods when seasonal-MA terms are in the grid:
    # SMA(1)_m has AR(∞) mass only at lags m, 2m, …, so an AR(p_long < m)
    # leaves the seasonal structure in the residuals and the eps_{t−m}
    # regressor degenerates into a seasonal-AR column.
    long_resid = None
    if max_q > 0 or (max_Q > 0 and m > 1):
        p_long = max(8, 2 * max_p)
        if max_Q > 0 and m > 1:
            p_long = max(p_long, 2 * m)
        p_long = min(p_long, max(1, wc.size // 4))
        try:
            yv, X, start = _build_design(wc, p_long, 0, m, None, 0)
            beta_l, _, _ = _ols(yv, X)
            long_resid = np.zeros_like(wc)
            long_resid[start:] = yv - X @ beta_l
        except ValueError:
            long_resid = None

    # Cap orders to what the window length supports.
    cap = max(0, wc.size // 3 - 2)
    max_p = min(max_p, cap)
    max_P = min(max_P, cap // max(1, m)) if m > 1 else 0
    max_q = min(max_q, cap) if long_resid is not None else 0
    max_Q = (
        min(max_Q, cap // max(1, m)) if (m > 1 and long_resid is not None) else 0
    )

    if search == "stepwise":
        best = _stepwise_search(
            wc, m, long_resid, max_p, max_q, max_P, max_Q, max_order
        )
    else:
        cands = [
            _candidate(wc, p, q, P, Q, m, long_resid)
            for P in range(max_P + 1)
            for Q in range(max_Q + 1)
            for p in range(max_p + 1)
            for q in range(max_q + 1)
        ]
        # lowest AIC first, enumeration order breaking ties (stable sort);
        # roots are checked only from the winner down, and white noise is
        # always admissible
        ranked = sorted((c for c in cands if c is not None), key=lambda c: c["aic"])
        best = next(c for c in ranked if _roots_admissible(c))
    assert best is not None
    p, q, P, Q = best["p"], best["q"], best["P"], best["Q"]
    beta = best["beta"]
    ar = beta[1 : 1 + p]
    sar = beta[1 + p : 1 + p + P]
    ma = beta[1 + p + P : 1 + p + P + q]
    sma = beta[1 + p + P + q : 1 + p + P + q + Q]

    # Constant handling mirrors the forecast-package convention the reference
    # relies on (/root/reference/auto_arima.R:82-89): d=D=0 → intercept (level);
    # d+D=1 → drift (slope); d+D≥2 → no constant.
    intercept = beta[0] + wbar * (1.0 - ar.sum() - sar.sum())
    ar_sum = float(ar.sum() + sar.sum())
    denom = (1.0 - ar_sum) if abs(1.0 - ar_sum) > 1e-10 else 1e-10
    mean_level = float(intercept / denom)
    if d == 0 and D == 0:
        mu, dft = mean_level, 0.0
    elif (d + D) == 1:
        mu, dft = 0.0, mean_level
    else:
        mu, dft = 0.0, 0.0

    lin = sarima_to_ar(
        ar=ar, d=d, ma=ma, sar=sar, D=D, sma=sma, mean=mu, drift=dft, m=m, tol=tol
    )
    return {
        "ar": ar, "ma": ma, "sar": sar, "sma": sma, "d": int(d), "D": int(D),
        "mean": mu, "drift": dft, "sigma2": float(best["sigma2"]),
        "m": m, "n": n, **lin,
    }


def coef_names(tol: int) -> list[str]:
    """Names of :func:`fit_window_to_coef_vec`'s values, in its order: the
    coefficient key space the combine groups by (the reference's
    auto_arima.R:62-65,109-113)."""
    return ["beta0", "beta1", *(f"ar{i}" for i in range(1, tol + 1)), "sigma2"]


def fit_window_to_coef_vec(
    y: np.ndarray,
    m: int = 1,
    tol: int = DEFAULT_TOL,
    method: str = "mean",
    **fit_kwargs,
) -> list[float]:
    """Fit one window and emit its coefficient values in
    :func:`coef_names` order (intercept, slope, the ``tol`` AR weights,
    then σ²).

    ``method="dlsa"`` pre-scales every coefficient by T/σ² and stores that
    weight under ``sigma2`` (reference behavior at auto_arima.R:103-110);
    ``method="mean"`` stores σ² itself.
    """
    fit = auto_ar_fit(np.asarray(y, dtype=float), m=m, tol=tol, **fit_kwargs)
    vec = np.concatenate(([fit["beta0"], fit["beta1"]], fit["pi"]))
    if method == "dlsa":
        weight = fit["n"] / max(fit["sigma2"], 1e-300)
        vec = vec * weight
        sigma_val = weight
    else:
        sigma_val = fit["sigma2"]
    out = vec.tolist()
    out.append(float(sigma_val))
    return out
