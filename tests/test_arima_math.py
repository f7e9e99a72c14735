"""Unit tests for the SARIMA→AR linearization and ψ-weight math
(hand-computed small polynomials per SURVEY.md §7 M3a)."""

from __future__ import annotations

import numpy as np
import pytest

from python_darima_spark.darima.arima_math import (
    ar_recursion,
    ar_to_ma,
    inv_box_cox,
    normal_ppf,
    reference_pi_recursion,
    sarima_to_ar,
)


def test_pure_ar1():
    out = sarima_to_ar(ar=[0.5], mean=10.0, tol=10)
    np.testing.assert_allclose(out["pi"], [0.5] + [0.0] * 9, atol=1e-12)
    assert out["beta0"] == pytest.approx(10.0 * (1 - 0.5))
    assert out["beta1"] == 0.0


def test_ar1_with_d1():
    # (1-0.5B)(1-B) = 1 - 1.5B + 0.5B^2  →  pi = [1.5, -0.5, 0...]
    out = sarima_to_ar(ar=[0.5], d=1, drift=2.0, tol=8)
    np.testing.assert_allclose(out["pi"], [1.5, -0.5] + [0.0] * 6, atol=1e-12)
    # (1 - sum(pi)) = 0 when d>=1, so beta1 = 0 and beta0 = drift * sum(i*pi_i)
    assert out["beta1"] == pytest.approx(0.0, abs=1e-12)
    assert out["beta0"] == pytest.approx(2.0 * (1 * 1.5 + 2 * -0.5))


def test_pure_ma1_geometric():
    # pi(B) = 1/(1+0.4B) → pi_j = (-0.4)^j; pie_j = -pi_j = -(-0.4)^j
    theta = 0.4
    out = sarima_to_ar(ma=[theta], tol=6)
    expect = [-((-theta) ** j) for j in range(1, 7)]
    np.testing.assert_allclose(out["pi"], expect, atol=1e-12)


def test_seasonal_ar_period4():
    # (1 - 0.6 B^4): pi_4 = 0.6, all other zero
    out = sarima_to_ar(sar=[0.6], m=4, tol=10)
    expect = np.zeros(10)
    expect[3] = 0.6
    np.testing.assert_allclose(out["pi"], expect, atol=1e-12)


def test_seasonal_diff_D1():
    # (1-B^4): pi_4 = 1
    out = sarima_to_ar(D=1, m=4, tol=10)
    expect = np.zeros(10)
    expect[3] = 1.0
    np.testing.assert_allclose(out["pi"], expect, atol=1e-12)


def test_full_sarima_matches_reference_recursion():
    """Long-division formulation ≡ the reference's π recursion
    (auto_arima.R:42-56) on a mixed seasonal model and on a one-MA-term
    model (the single-lag path of :func:`ar_recursion`)."""
    ar, ma, sar, sma, d, D, m, tol = [0.4, -0.2], [0.3], [0.5], [-0.25], 1, 1, 4, 60
    out = sarima_to_ar(ar=ar, d=d, ma=ma, sar=sar, D=D, sma=sma, m=m, tol=tol)

    # Rebuild the a(B), b(B) polys exactly as the R code does, then run the
    # transcribed recursion.
    a = np.convolve([1.0, -0.4, 0.2], [1.0, -1.0])  # (1-ar1 B-ar2 B^2)(1-B)
    sar_poly = np.zeros(5)
    sar_poly[0], sar_poly[4] = 1.0, -0.5
    seas_diff = np.zeros(5)
    seas_diff[0], seas_diff[4] = 1.0, -1.0
    a = np.convolve(np.convolve(a, sar_poly), seas_diff)
    b = np.array([1.0, 0.3])
    smapoly = np.zeros(5)
    smapoly[0], smapoly[4] = 1.0, -0.25
    b = np.convolve(b, smapoly)
    theta = -b[1:]
    ref = reference_pi_recursion(a, theta, tol)
    np.testing.assert_allclose(out["pi"], ref, atol=1e-10)

    # ARIMA(1,1,1): a(B) = (1 - 0.5B)(1 - B), b(B) = 1 + 0.6B
    out = sarima_to_ar(ar=[0.5], d=1, ma=[0.6], tol=tol)
    a = np.convolve([1.0, -0.5], [1.0, -1.0])
    ref = reference_pi_recursion(a, [-0.6], tol)
    np.testing.assert_allclose(out["pi"], ref, atol=1e-10)


def _loop_recursion(x, c, init):
    """y_j = x_j + sum_{k=1..K} c_k * y_{j-k} over init ++ y, written out."""
    hist = list(init)
    for xj in x:
        K = min(len(c), len(hist))
        hist.append(xj + sum(c[k - 1] * hist[-k] for k in range(1, K + 1)))
    return hist[len(init) :]


@pytest.mark.parametrize("with_init", [False, True])
@pytest.mark.parametrize("p", [0, 1, 2, 30])
def test_ar_recursion_matches_python_loop(p, with_init):
    rng = np.random.default_rng(p)
    c = rng.uniform(-0.9, 0.9, p) / max(p, 1)
    x = rng.normal(size=50)
    # 5 initial values: shorter than the 30-lag c, so K grows into it
    init = rng.normal(size=5) if with_init else ()
    got = ar_recursion(x, c, init=init)
    assert got.shape == (50,)
    np.testing.assert_allclose(got, _loop_recursion(x, c, init), rtol=1e-12, atol=1e-12)


def test_ar_to_ma_ar1():
    psi = ar_to_ma([0.5], 5)
    np.testing.assert_allclose(psi, [1, 0.5, 0.25, 0.125, 0.0625])


def test_ar_to_ma_ar2():
    # psi0=1, psi1=phi1, psi2=phi1*psi1+phi2, ...
    phi1, phi2 = 0.4, 0.3
    psi = ar_to_ma([phi1, phi2], 4)
    np.testing.assert_allclose(
        psi,
        [1, phi1, phi1 * phi1 + phi2, phi1 * (phi1 * phi1 + phi2) + phi2 * phi1],
    )


def test_normal_ppf():
    assert normal_ppf(0.975) == pytest.approx(1.959964, abs=1e-5)
    assert normal_ppf(0.5) == pytest.approx(0.0, abs=1e-12)
    assert normal_ppf(0.9) == pytest.approx(1.281552, abs=1e-5)


def test_inv_box_cox_roundtrip():
    y = np.array([0.5, 1.0, 4.0, 9.0])
    for lam in [0.0, 0.5, 1.0, 2.0]:
        fwd = np.log(y) if lam == 0 else (y**lam - 1) / lam
        np.testing.assert_allclose(inv_box_cox(fwd, lam), y, atol=1e-10)
