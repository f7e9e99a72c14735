"""Pure-numpy ARIMA math: SARIMA→AR linearization, ψ-weights, quantiles.

Every recursive step of the engine is one linear recurrence,
:func:`ar_recursion` (``y_j = x_j + Σ_k c_k·y_{j−k}``): the power-series
division behind :func:`sarima_to_ar`, the ψ-weights of :func:`ar_to_ma`,
the holdout forecast that picks (d, D) and the final h-step forecast.

Behavioral parity targets (reference files, studied for semantics only):

* ``sarima_to_ar``     ~ /root/reference/auto_arima.R:7-67 (``ar_coefficients``)
* ``ar_to_ma``         ~ /root/reference/py_handlers/utils.py:39-55 — the
  reference recursion never seeds ψ0=1 so it returns all zeros; we implement
  the correct MA(∞) recursion.
* ``normal_ppf``       ~ /root/reference/py_handlers/utils.py:4-21 (bisection
  over erf; we use the closed-form inverse CDF — same math).
* ``inv_box_cox``      ~ /root/reference/py_handlers/utils.py:23-37 — the
  reference's λ∉{0,1} branches compute the *forward* transform under the
  inverse's name; we implement the true inverse.

All functions are driver/UDF-side scalar math on ≤O(tol) vectors — no Spark
interaction. ``tol`` defaults to 2000 per /root/reference/auto_arima.R:71.
"""

from __future__ import annotations

import numpy as np

DEFAULT_TOL = 2000

# per-tol cache of the lag-index vector used by every linearization —
# sarima_to_ar runs 6× per fitted window (once per holdout candidate plus
# the final fit), and the arange allocation was a measurable slice of the
# r11 fit profile (values are identical: same dtype, same contents)
_IDX_CACHE: dict[int, np.ndarray] = {}


def _polymul(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Product of polynomials given as ascending-power coefficient arrays.

    Multiplying by the unit polynomial [1.0] is skipped outright: convolve
    with [1.0] returns each coefficient as the single exact product
    1.0·c — bit-identical to the input — and the hot fit path hits this
    case on every candidate with an empty AR/MA factor (r11 profile)."""
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    if b.size == 1 and b[0] == 1.0:
        return a
    if a.size == 1 and a[0] == 1.0:
        return b
    return np.convolve(a, b)


def _polypow(a: np.ndarray, n: int) -> np.ndarray:
    out = np.array([1.0])
    for _ in range(int(n)):
        out = _polymul(out, a)
    return out


def _seasonal_poly(coefs: np.ndarray, m: int, sign: float) -> np.ndarray:
    """1 + sign*c1*B^m + sign*c2*B^2m + ... as an ascending coef array."""
    coefs = np.atleast_1d(np.asarray(coefs, dtype=float))
    if coefs.size == 0 or not np.any(coefs):
        # Still multiply by (1 - B^m)^D etc. outside; bare unit here.
        return np.array([1.0])
    out = np.zeros(m * coefs.size + 1)
    out[0] = 1.0
    for i, c in enumerate(coefs, start=1):
        out[m * i] = sign * c
    return out


def ar_recursion(x, c, init=()) -> np.ndarray:
    """The one linear recurrence of the engine: y with
    ``y_j = x_j + Σ_{k=1..K} c_k·y_{j−k}`` over the history ``init ++ y``,
    where K = min(len(c), len(init) + j).

    Each step is ``x_j + c[:K] · (y_{j−1}, …, y_{j−K})``: one dot product
    over a reversed view of the history, so every caller gets the same
    rounding."""
    x = np.asarray(x, dtype=float)
    c = np.atleast_1d(np.asarray(c, dtype=float))
    if c.size == 0:
        return x.copy()
    init = np.asarray(init, dtype=float)
    if c.size == 1 and init.size == 0:
        # One lag (e.g. one MA term in sarima_to_ar): np.dot over one
        # element is that single IEEE multiply, so Python-float arithmetic
        # performs the identical two round-to-nearest double ops and the
        # series is bit-identical while the per-step numpy dispatch goes
        # away (matters at tol=2000: ~2000 loop steps per linearization).
        c1 = float(c[0])
        vals = x.tolist()
        for j in range(1, len(vals)):
            vals[j] += c1 * vals[j - 1]
        return np.asarray(vals, dtype=float)
    n0, K = init.size, c.size
    buf = np.concatenate((init, np.empty(x.size)))
    for pos, xj in enumerate(x.tolist(), n0):
        k = K if pos >= K else pos
        buf[pos] = xj + np.dot(c[:k], buf[pos - k : pos][::-1])
    return buf[n0:]


def sarima_to_ar(
    ar=(),
    d: int = 0,
    ma=(),
    sar=(),
    D: int = 0,
    sma=(),
    mean: float = 0.0,
    drift: float = 0.0,
    m: int = 1,
    tol: int = DEFAULT_TOL,
) -> dict[str, float | np.ndarray]:
    """Linearize a SARIMA(p,d,q)(P,D,Q)_m model with mean/drift to
    ``y_t = beta0 + beta1*t + sum_i pi_i * y_{t-i} + eps_t`` truncated at
    ``tol`` lags.

    Returns ``{"beta0": float, "beta1": float, "pi": np.ndarray[tol]}``.

    Math: with AR operator a(B) = φ(B)Φ(B^m)(1-B)^d(1-B^m)^D and MA operator
    b(B) = θ(B)Θ(B^m), the AR(∞) operator is π(B) = a(B)/b(B), computed by
    power-series long division; then pi_i = -π_i for i≥1,
    beta1 = drift·(1-Σpi), beta0 = mean·(1-Σpi) + drift·Σ(i·pi_i)
    (same normalization as /root/reference/auto_arima.R:58-59).
    """
    ar = np.atleast_1d(np.asarray(ar, dtype=float)) if np.ndim(ar) or ar else np.array([])
    ma = np.atleast_1d(np.asarray(ma, dtype=float)) if np.ndim(ma) or ma else np.array([])
    sar = np.atleast_1d(np.asarray(sar, dtype=float)) if np.ndim(sar) or sar else np.array([])
    sma = np.atleast_1d(np.asarray(sma, dtype=float)) if np.ndim(sma) or sma else np.array([])
    tol = int(tol)
    m = max(1, int(m))

    # a(B): (1 - ar1 B - ...) * (1-B)^d * (1 - sar1 B^m - ...) * (1-B^m)^D
    a_poly = _polymul(
        np.concatenate(([1.0], -ar)) if ar.size else np.array([1.0]),
        _polypow(np.array([1.0, -1.0]), d),
    )
    if m > 1:
        a_poly = _polymul(a_poly, _seasonal_poly(sar, m, sign=-1.0))
        seas_diff = np.zeros(m + 1)
        seas_diff[0], seas_diff[m] = 1.0, -1.0
        a_poly = _polymul(a_poly, _polypow(seas_diff, D))

    # b(B): (1 + ma1 B + ...) * (1 + sma1 B^m + ...)
    b_poly = np.concatenate(([1.0], ma)) if ma.size else np.array([1.0])
    if m > 1:
        b_poly = _polymul(b_poly, _seasonal_poly(sma, m, sign=+1.0))

    # Power-series division pi(B) = a(B)/b(B) to order tol:
    # pi_j = a_j - sum_{k=1..min(j, deg b)} b_k * pi_{j-k}
    a_pad = np.zeros(tol + 1)
    a_pad[: min(a_poly.size, tol + 1)] = a_poly[: tol + 1]
    pi = ar_recursion(a_pad, -b_poly[1:])

    pie = -pi[1:]  # y_t = ... + pie_i y_{t-i}
    idx = _IDX_CACHE.get(tol)
    if idx is None:
        idx = _IDX_CACHE[tol] = np.arange(1, tol + 1, dtype=float)
    # a non-invertible candidate's pi series diverges; downstream holdout
    # scoring rejects it on the non-finite forecast, so don't warn here
    with np.errstate(over="ignore", invalid="ignore"):
        s = pie.sum()
        beta0 = mean * (1.0 - s) + drift * float(idx @ pie)
        beta1 = drift * (1.0 - s)
    return {"beta0": float(beta0), "beta1": float(beta1), "pi": pie}


def ar_to_ma(ar_coeffs, n: int) -> np.ndarray:
    """ψ-weights (MA(∞) coefficients) of an AR(p) model, ψ_0..ψ_{n-1}:
    a unit impulse through the AR recursion, ψ_0 = 1,
    ψ_j = Σ_{k=1..min(j,p)} φ_k ψ_{j-k}."""
    impulse = np.zeros(max(int(n), 0))
    impulse[:1] = 1.0
    return ar_recursion(impulse, ar_coeffs)


def normal_ppf(q: float) -> float:
    """Standard-normal inverse CDF (the reference bisects erf to 1e-9;
    closed form via statistics.NormalDist is the same function)."""
    from statistics import NormalDist

    return NormalDist().inv_cdf(q)


def inv_box_cox(y, lambda_: float):
    """True inverse Box-Cox: exp(y) if λ=0 else (λy+1)^(1/λ)."""
    y = np.asarray(y, dtype=float)
    if lambda_ == 0:
        return np.exp(y)
    return np.power(np.maximum(y * lambda_ + 1.0, 0.0), 1.0 / lambda_)


def reference_pi_recursion(phi_poly: np.ndarray, theta: np.ndarray, tol: int) -> np.ndarray:
    """Direct transcription of the π recursion *shape* used by the reference
    (/root/reference/auto_arima.R:42-56) — retained only for differential
    tests against :func:`sarima_to_ar`'s long-division formulation."""
    n = tol
    theta = np.atleast_1d(np.asarray(theta, dtype=float))
    if theta.size == 0:
        theta = np.array([0.0])
    phi = np.concatenate((-phi_poly[1:], np.zeros(n)))
    q = theta.size
    pie = np.concatenate((np.zeros(q), [1.0], np.zeros(n)))
    for j in range(1, n + 1):
        # pie[j + q] = -phi[j-1] + sum(theta * pie[q-1+j .. j-1+... reversed])
        pie[j + q] = -phi[j - 1] + float(np.dot(theta, pie[j : j + q][::-1]))
    out = pie[q : q + n + 1]
    return -out[1:]
