"""Single-node python oracle for the distributed DARIMA queries
(SURVEY.md §5.2 item 2): replicate resample→split→fit→combine in pure
pandas/numpy on the same sf0.001 parquet and compare coefficient vectors
exactly (same fit code, so the distributed plumbing — grouping, Arrow
transport, hash-agg combine — is what's under test)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from python_darima_spark.darima.fit import coef_names, fit_window_to_coef_vec
from python_darima_spark.queries.domain import _CFG, q_ts_fit_combine

SF = "/root/testdata/sf0.001"


def _oracle_coefs() -> pd.DataFrame:
    ev = pq.read_table(f"{SF}/events.parquet").to_pandas()
    ev["ts"] = pd.to_datetime(ev["ts"]).dt.floor("us")  # engine reads micros
    ev["hour"] = ev["ts"].dt.floor("h")
    agg = (
        ev.groupby(["event_type", "hour"])["value"].sum().reset_index()
    )
    out_rows = []
    for sid, g in agg.groupby("event_type"):
        grid = pd.date_range(g["hour"].min(), g["hour"].max(), freq="h")
        y = (
            g.set_index("hour")["value"].reindex(grid).fillna(0.0).to_numpy()
        )
        # range split, k=4 (mirrors operators/timeseries.py::split_series)
        lo, hi = 0, len(grid) - 1
        ids = np.minimum(
            np.floor(
                (np.arange(len(grid)) - lo)
                / max(hi - lo, 1e-9)
                * _CFG.num_windows
            ),
            _CFG.num_windows - 1,
        ).astype(int)
        per_window = []
        for wid in range(_CFG.num_windows):
            vals = fit_window_to_coef_vec(
                y[ids == wid],
                m=_CFG.period,
                tol=_CFG.tol,
                method="mean",
                max_p=_CFG.max_p,
                max_q=_CFG.max_q,
                max_P=_CFG.max_P,
            )
            rows = dict(zip(coef_names(_CFG.tol), vals))
            per_window.append(rows)
        keys = per_window[0].keys()
        for k in keys:
            out_rows.append(
                (str(sid), k, float(np.mean([w[k] for w in per_window])))
            )
    return pd.DataFrame(out_rows, columns=["series_id", "coef", "value"])


def test_fit_combine_matches_single_node_oracle(spark):
    got = (
        q_ts_fit_combine(spark, SF)
        .toPandas()
        .sort_values(["series_id", "coef"])
        .reset_index(drop=True)
    )
    want = _oracle_coefs().sort_values(["series_id", "coef"]).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["series_id"], want["series_id"])
    pd.testing.assert_series_equal(got["coef"], want["coef"])
    np.testing.assert_allclose(
        got["value"].to_numpy(), want["value"].to_numpy(), rtol=1e-9, atol=1e-12
    )


def test_forecast_query_shape(spark):
    from python_darima_spark.queries.domain import q_ts_forecast

    fc = q_ts_forecast(spark, SF).toPandas()
    assert len(fc) == 5 * 24  # 5 event types × h=24
    assert set(fc.columns) == {
        "series_id", "step", "ts", "mean", "se",
        "lo_80", "hi_80", "lo_95", "hi_95",
    }
    assert fc["se"].ge(0).all()
    assert (fc["hi_95"] >= fc["hi_80"]).all()
    assert (fc["lo_95"] <= fc["lo_80"]).all()
    assert np.isfinite(fc["mean"]).all()


def test_holt_winters_matches_numpy_twin(spark):
    # the grouped-map Holt-Winters must agree with the single-series
    # numpy recursion exactly (same floats, same order), and forecast
    # timestamps must continue the hourly grid
    import numpy as np
    import pandas as pd

    from python_darima_spark.operators.timeseries import (
        holt_winters_forecast,
        holt_winters_numpy,
    )

    rng = np.arange(24 * 8)
    y = 10 + 0.05 * rng + 5 * np.sin(2 * np.pi * (rng % 24) / 24)
    ts0 = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "ts": [ts0 + pd.Timedelta(hours=int(i)) for i in rng],
            "y": y,
        }
    )
    out = (
        holt_winters_forecast(spark.createDataFrame(pdf), period=24, h=12)
        .orderBy("step")
        .toPandas()
    )
    want = holt_winters_numpy(y, 24, 12)
    assert len(out) == 12
    np.testing.assert_allclose(out["mean"].to_numpy(), want, rtol=0, atol=0)
    assert out.ts.iloc[0] == ts0 + pd.Timedelta(hours=24 * 8)
    # short series (< 2 periods) produce no forecast rather than garbage
    short = holt_winters_forecast(
        spark.createDataFrame(pdf.head(30)), period=24, h=12
    )
    assert short.count() == 0


def test_arima_backtest_beats_seasonal_naive(spark):
    """Model-quality regression guard on real rolling origins: across the
    15 (series, fold) cells the DARIMA path's mean backtest MAE must
    beat the seasonal-naive baseline (measured 100.2 vs 130.3).
    Pinned to sf0.01: at sf0.001 the ~72-point series leave ARIMA
    nothing to learn beyond the seasonal profile and the two tie — the
    win needs series long enough for the AR structure to matter. A
    silent estimation regression shows up here before it shows up in
    the GEFCom golden band."""
    from python_darima_spark.queries.domain import (
        q_ts_backtest,
        q_ts_backtest_arima,
    )

    sf_dir = "/root/testdata/sf0.01"
    arima = q_ts_backtest_arima(spark, sf_dir).toPandas()
    naive = q_ts_backtest(spark, sf_dir).toPandas()
    m = arima.merge(naive, on=["series_id", "fold"], suffixes=("_a", "_n"))
    assert len(m) == len(arima) == len(naive)
    assert (m.n_points_a == m.n_points_n).all()
    # the naive twin carries MAE as exact micro-unit sums
    naive_mae = m.sum_ae_e4 / 1e4 / m.n_points_n
    assert m.mae.mean() < naive_mae.mean(), (m.mae.mean(), naive_mae.mean())


def test_unrolled_forecast_matches_real_pipeline(spark, sf_dir):
    """The q_ts_forecast_unrolled surrogate must compute the SAME numbers
    the real Arrow forecast() recursion produces when given the
    surrogate's fixed coefficients (tol=2, h=3) — proving the hash-green
    SQL restatement certifies the actual pipeline arithmetic, not a
    lookalike."""
    import pandas as pd

    from python_darima_spark.darima.pipeline import DarimaConfig, forecast
    from python_darima_spark.queries.domain import (
        _UF_A1,
        _UF_A2,
        _UF_B0,
        _UF_B1,
        _UF_SIG2,
        _hourly_series,
        q_ts_forecast_unrolled,
    )

    series = _hourly_series(spark, sf_dir)
    sids = [r.series_id for r in series.select("series_id").distinct().collect()]
    coef_rows = []
    for sid in sids:
        coef_rows += [
            {"series_id": sid, "coef": "beta0", "value": _UF_B0},
            {"series_id": sid, "coef": "beta1", "value": _UF_B1},
            {"series_id": sid, "coef": "ar1", "value": _UF_A1},
            {"series_id": sid, "coef": "ar2", "value": _UF_A2},
            {"series_id": sid, "coef": "sigma2", "value": _UF_SIG2},
        ]
    coefs = spark.createDataFrame(pd.DataFrame(coef_rows))
    cfg = DarimaConfig(period=24, tol=2, levels=(80, 95))
    real = (
        forecast(series, coefs, h=3, cfg=cfg)
        .toPandas()
        .sort_values(["series_id", "step"])
        .reset_index(drop=True)
    )
    surr = (
        q_ts_forecast_unrolled(spark, sf_dir)
        .toPandas()
        .sort_values(["series_id", "step"])
        .reset_index(drop=True)
    )
    assert len(real) == len(surr) == 3 * len(sids)
    for col in ("mean", "se", "lo_80", "hi_80", "lo_95", "hi_95"):
        # surrogate rounds y-lags to 6dp before the recursion; allow that
        assert (real[col] - surr[col]).abs().max() < 1e-5, col
    assert (real.ts.values == surr.ts.values).all()


def test_unrolled_fitted_matches_real_pipeline(spark, sf_dir):
    """q_ts_fitted_unrolled must compute the same numbers the real
    cogrouped-Arrow fitted_values() produces for the surrogate's fixed
    coefficients (tol=2), including the explicit-null head."""
    import pandas as pd

    from python_darima_spark.darima.pipeline import DarimaConfig, fitted_values
    from python_darima_spark.queries.domain import (
        _UF_A1,
        _UF_A2,
        _UF_B0,
        _UF_B1,
        _UF_SIG2,
        _hourly_series,
        q_ts_fitted_unrolled,
    )

    series = _hourly_series(spark, sf_dir)
    sids = [r.series_id for r in series.select("series_id").distinct().collect()]
    coef_rows = []
    for sid in sids:
        coef_rows += [
            {"series_id": sid, "coef": "beta0", "value": _UF_B0},
            {"series_id": sid, "coef": "beta1", "value": _UF_B1},
            {"series_id": sid, "coef": "ar1", "value": _UF_A1},
            {"series_id": sid, "coef": "ar2", "value": _UF_A2},
            {"series_id": sid, "coef": "sigma2", "value": _UF_SIG2},
        ]
    coefs = spark.createDataFrame(pd.DataFrame(coef_rows))
    real = (
        fitted_values(series, coefs, DarimaConfig(period=24, tol=2))
        .toPandas()
        .sort_values(["series_id", "ts"])
        .reset_index(drop=True)
    )
    surr = (
        q_ts_fitted_unrolled(spark, sf_dir)
        .toPandas()
        .sort_values(["series_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(real) == len(surr) > 0
    # null head: exactly the first tol=2 rows of each series
    assert real.fitted.isna().equals(surr.fitted.isna())
    d = (real.fitted - surr.fitted).abs().max()
    assert d < 1e-5, d
    dr = (real.residual - surr.residual).abs().max()
    assert dr < 1e-5, dr
