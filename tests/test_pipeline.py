"""DARIMA pipeline tests on Spark (SURVEY.md §5.2 items 2-4)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from python_darima_spark.darima.arima_math import normal_ppf
from python_darima_spark.darima.fit import coef_names, fit_window_to_coef_vec
from python_darima_spark.darima.pipeline import (
    FORECAST_SCHEMA,
    DarimaConfig,
    combine_coefs,
    darima,
    evaluate,
    fit_windows,
    forecast,
    score,
)
from python_darima_spark.operators.timeseries import resample_regular, split_series

T0 = dt.datetime(2024, 1, 1)


def _series_pdf(y, series_id="s1", start=T0, step_hours=1):
    return pd.DataFrame(
        {
            "series_id": series_id,
            "ts": [start + dt.timedelta(hours=i * step_hours) for i in range(len(y))],
            "y": np.asarray(y, dtype=float),
        }
    )


def _ar1(n, phi=0.6, mu=20.0, seed=0):
    rng = np.random.default_rng(seed)
    y = np.zeros(n + 50)
    for t in range(1, n + 50):
        y[t] = phi * y[t - 1] + rng.normal()
    return y[50:] + mu


@pytest.fixture(scope="module")
def cfg():
    return DarimaConfig(num_windows=2, period=1, tol=30, max_p=3, max_q=0, max_P=0)


def test_split_series_range_contiguous(spark):
    pdf = _series_pdf(np.arange(100.0))
    out = (
        split_series(spark.createDataFrame(pdf), 4)
        .orderBy("ts")
        .select("window_id")
        .toPandas()["window_id"]
        .to_numpy()
    )
    # contiguous non-decreasing blocks covering 0..3
    assert (np.diff(out) >= 0).all()
    assert set(out) == {0, 1, 2, 3}
    counts = np.bincount(out)
    assert counts.min() >= 20  # roughly balanced on a regular grid


def test_split_series_ntile_exact(spark):
    pdf = _series_pdf(np.arange(100.0))
    out = split_series(spark.createDataFrame(pdf), 4, strategy="ntile")
    counts = out.groupBy("window_id").count().orderBy("window_id").toPandas()
    assert counts["count"].tolist() == [25, 25, 25, 25]


def test_resample_fills_gaps(spark):
    pdf = _series_pdf([1.0, 2.0, 3.0])
    pdf = pdf.drop(index=1)  # hole at hour 1
    out = resample_regular(spark.createDataFrame(pdf)).orderBy("ts").toPandas()
    assert len(out) == 3
    assert out["y"].tolist() == [1.0, 0.0, 3.0]
    ff = (
        resample_regular(spark.createDataFrame(pdf), fill="ffill")
        .orderBy("ts")
        .toPandas()
    )
    assert ff["y"].tolist() == [1.0, 1.0, 3.0]


def test_resample_interpolates_gaps(spark):
    # holes at hours 1-2 between observations 1.0 (h0) and 4.0 (h3):
    # linear interpolation gives 2.0, 3.0; edge gaps extend nearest value
    pdf = _series_pdf([1.0, 9.9, 9.9, 4.0, 5.0])
    pdf = pdf.drop(index=[1, 2])
    out = (
        resample_regular(spark.createDataFrame(pdf), fill="interp")
        .orderBy("ts")
        .toPandas()
    )
    assert out["y"].tolist() == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_interpolate_edges_extend_nearest(spark):
    # nulls BEFORE the first and AFTER the last observation take the
    # nearest observed value (ffill/bfill at the boundaries); interior
    # nulls interpolate on actual time distance (uneven 2h gap)
    from python_darima_spark.operators.timeseries import interpolate_linear

    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "ts": [T0 + dt.timedelta(hours=h) for h in range(6)],
            "y": [None, 2.0, None, None, 8.0, None],
        }
    )
    out = (
        interpolate_linear(spark.createDataFrame(pdf))
        .orderBy("ts")
        .toPandas()
    )
    assert out["y"].tolist() == [2.0, 2.0, 4.0, 6.0, 8.0, 8.0]


def test_resample_aggregates_within_bucket(spark):
    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "ts": [T0, T0 + dt.timedelta(minutes=30), T0 + dt.timedelta(hours=2)],
            "y": [1.0, 2.0, 5.0],
        }
    )
    out = resample_regular(spark.createDataFrame(pdf)).orderBy("ts").toPandas()
    assert out["y"].tolist() == [3.0, 0.0, 5.0]


def test_resample_rejects_multi_unit_step(spark):
    """date_trunc truncates to the unit, not the step: a "15 minutes" grid
    would silently lose every value off the quarter hours."""
    pdf = pd.DataFrame(
        {"series_id": "s1", "ts": [T0 + dt.timedelta(minutes=k) for k in (0, 10, 15, 40)],
         "y": [1.0, 2.0, 4.0, 8.0]}
    )
    with pytest.raises(ValueError, match="one unit"):
        resample_regular(spark.createDataFrame(pdf), step="15 minutes")


def test_k1_combine_equals_single_fit(spark, cfg):
    """Property: one window → combined vector == direct local fit."""
    y = _ar1(300)
    sdf = spark.createDataFrame(_series_pdf(y))
    one = DarimaConfig(num_windows=1, period=1, tol=30, max_p=3, max_q=0, max_P=0)
    combined = (
        combine_coefs(fit_windows(sdf, one), one).toPandas().set_index("coef")["value"]
    )
    vals = fit_window_to_coef_vec(y, m=1, tol=30, method="mean", max_p=3, max_q=0, max_P=0)
    local = dict(zip(coef_names(30), vals))
    for k, v in local.items():
        assert combined[k] == pytest.approx(v, rel=1e-9), k


def test_mean_combine_is_average(spark, cfg):
    y = _ar1(400)
    sdf = spark.createDataFrame(_series_pdf(y))
    rows = fit_windows(sdf, cfg).toPandas()
    combined = combine_coefs(spark.createDataFrame(rows), cfg).toPandas()
    manual = (
        rows[rows.coef != "n_obs"].groupby("coef")["value"].mean()
    )
    got = combined.set_index("coef")["value"]
    for k in manual.index:
        assert got[k] == pytest.approx(manual[k], rel=1e-9)


def test_presplit_frame_keeps_its_windows(spark, cfg):
    """A frame that already carries ``window_id`` is fitted window by
    window as given — the way to run a split other than the default
    contiguous one."""
    y = _ar1(400)
    sdf = split_series(spark.createDataFrame(_series_pdf(y)), 2, strategy="roundrobin")
    got = darima(sdf, cfg).coefs.toPandas().set_index("coef")["value"]
    # round robin numbers rows from 1 in ts order and takes row % 2
    kw = dict(m=1, tol=30, max_p=3, max_q=0, max_P=0)
    want = np.mean(
        [fit_window_to_coef_vec(w, **kw) for w in (y[1::2], y[0::2])], axis=0
    )
    names = coef_names(30)
    assert len(got) == len(names)
    for k, v in zip(names, want):
        assert got[k] == pytest.approx(v, rel=1e-9, abs=1e-12), k


def test_dlsa_combine_weighting(spark):
    """DLSA: θ = Σ(w_k θ_k)/Σw_k, σ² = T_total/Σw_k (paper semantics)."""
    cfg = DarimaConfig(num_windows=2, period=1, tol=5, method="dlsa", max_p=2, max_q=0, max_P=0)
    rows = pd.DataFrame(
        {
            "series_id": ["s1"] * 8,
            "window_id": [0, 0, 0, 0, 1, 1, 1, 1],
            # window 0: theta=[2.0], w=10 (rows pre-scaled: 20), T=100
            # window 1: theta=[4.0], w=30 (rows pre-scaled: 120), T=200
            "coef": ["ar1", "sigma2", "n_obs", "beta0"] * 2,
            "value": [20.0, 10.0, 100.0, 0.0, 120.0, 30.0, 200.0, 0.0],
        }
    )
    out = (
        combine_coefs(spark.createDataFrame(rows), cfg)
        .toPandas()
        .set_index("coef")["value"]
    )
    assert out["ar1"] == pytest.approx((20 + 120) / (10 + 30))  # 3.5
    assert out["sigma2"] == pytest.approx((100 + 200) / (10 + 30))  # 7.5
    assert "n_obs" not in out.index


def test_forecast_recursion_matches_numpy(spark):
    """h-step recursion on a hand-specified AR(2)+trend model."""
    cfg = DarimaConfig(tol=5, period=1)
    beta0, beta1, pi = 1.0, 0.1, np.array([0.5, 0.2, 0.0, 0.0, 0.0])
    sigma2 = 2.0
    y = np.array([1.0, 2.0, 1.5, 2.5, 2.0, 3.0])
    coef_pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "coef": ["beta0", "beta1", "ar1", "ar2", "sigma2"],
            "value": [beta0, beta1, 0.5, 0.2, sigma2],
        }
    )
    h = 4
    fc = (
        forecast(
            spark.createDataFrame(_series_pdf(y)),
            spark.createDataFrame(coef_pdf),
            h,
            cfg,
        )
        .orderBy("step")
        .toPandas()
    )
    # driver-side replication
    ext = np.concatenate([y, np.zeros(h)])
    T = y.size
    for i in range(h):
        t = T + i + 1
        ext[T + i] = beta0 + beta1 * t + pi[0] * ext[t - 2] + pi[1] * ext[t - 3]
    np.testing.assert_allclose(fc["mean"].to_numpy(), ext[T:], rtol=1e-12)
    # psi: [1, .5, .45, .325]; se_h = sqrt(sigma2*cumsum(psi^2))
    psi = np.array([1.0, 0.5, 0.5 * 0.5 + 0.2, 0.5 * 0.45 + 0.2 * 0.5])
    np.testing.assert_allclose(
        fc["se"].to_numpy(), np.sqrt(sigma2 * np.cumsum(psi**2)), rtol=1e-12
    )
    z95 = normal_ppf(0.975)
    np.testing.assert_allclose(
        fc["hi_95"].to_numpy(), fc["mean"].to_numpy() + z95 * fc["se"].to_numpy(), rtol=1e-12
    )
    # hourly future timestamps continue the grid
    assert fc["ts"].iloc[0] == T0 + dt.timedelta(hours=6)


def test_evaluate_golden_values(spark):
    """Hand-computed MASE/sMAPE/MSIS on a 2-point example (§5.2 golden)."""
    cfg = DarimaConfig(period=1, levels=(80, 95))
    train = _series_pdf([1.0, 2.0, 3.0, 4.0, 5.0, 6.0])  # scale = mean|diff| = 1
    test = _series_pdf([6.0, 6.0], start=T0 + dt.timedelta(hours=6))
    fc = pd.DataFrame(
        {
            "series_id": "s1",
            "step": [1, 2],
            "ts": test["ts"],
            "mean": [5.0, 7.0],
            "se": [1.0, 1.0],
            "lo_80": [4.0, 6.5],
            "hi_80": [6.5, 8.0],
            "lo_95": [3.0, 5.0],
            "hi_95": [7.0, 9.0],
        }
    )
    ev = (
        evaluate(
            spark.createDataFrame(fc),
            spark.createDataFrame(test),
            spark.createDataFrame(train),
            cfg,
        )
        .orderBy("ts")
        .toPandas()
    )
    np.testing.assert_allclose(ev["mase"], [1.0, 1.0])
    np.testing.assert_allclose(ev["smape"], [2 / 11, 2 / 13])
    # msis_80: alpha=.2 → width + 10*(lo-y if y<lo) + 10*(y-hi if y>hi), /scale
    np.testing.assert_allclose(ev["msis_80"], [2.5, 1.5 + 10 * 0.5])
    np.testing.assert_allclose(ev["msis_95"], [4.0, 4.0])


def test_evaluate_scale_join_not_pinned_broadcast(spark):
    """The per-series scale join must NOT carry a user-forced broadcast
    hint: at millions of series a pinned broadcast OOMs the driver. The
    strategy is left to AQE, which broadcasts only when the aggregate's
    runtime size fits (small here), shuffle-joins otherwise."""
    cfg = DarimaConfig(period=1, levels=(80,))
    train = _series_pdf([1.0, 2.0, 3.0, 4.0])
    test = _series_pdf([4.0], start=T0 + dt.timedelta(hours=4))
    fc = pd.DataFrame(
        {
            "series_id": "s1", "step": [1], "ts": test["ts"],
            "mean": [4.0], "se": [1.0], "lo_80": [3.0], "hi_80": [5.0],
        }
    )
    ev = evaluate(
        spark.createDataFrame(fc),
        spark.createDataFrame(test),
        spark.createDataFrame(train),
        cfg,
    )
    analyzed = ev._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in analyzed and "ResolvedHint" not in analyzed
    physical = ev._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in physical


def test_evaluate_keeps_series_without_seasonal_pair(spark):
    """A series with no two observed values m rows apart has no MASE/MSIS
    scale. Its test rows stay, with NULL MASE and MSIS, as a constant
    series' (scale 0) do, and its sMAPE counts in the scores; in
    ``evaluate`` and in ``darima``'s one-pass scale alike."""
    cfg = DarimaConfig(period=4, levels=(80,))
    at = T0 + dt.timedelta(hours=10)
    train = pd.concat(
        [
            _series_pdf([1.0, 2.0, 3.0], "short"),
            _series_pdf([5.0] * 6, "flat"),
            _series_pdf([1.0, 2.0, 3.0, 4.0, 5.0, 6.0], "ok"),
        ]
    )
    sids = ["flat", "ok", "short"]
    test = pd.DataFrame({"series_id": sids, "ts": at, "y": 6.0})
    fc = pd.DataFrame(
        {
            "series_id": sids, "step": 1, "ts": at,
            "mean": 4.0, "se": 1.0, "lo_80": 3.0, "hi_80": 5.0,
        }
    )
    ev = (
        evaluate(
            spark.createDataFrame(fc),
            spark.createDataFrame(test),
            spark.createDataFrame(train),
            cfg,
        )
        .orderBy("series_id")
        .toPandas()
    )
    assert ev["series_id"].tolist() == sids
    assert ev["mase"].isna().tolist() == [True, False, True]
    assert ev["msis_80"].isna().tolist() == [True, False, True]
    np.testing.assert_allclose(ev["smape"], [0.4] * 3)

    # observed only at hours ≡ 2, 3 (mod 4): no observed pair 2 rows apart
    y = _ar1(400, seed=5)
    gappy = _series_pdf(np.where(np.arange(400) % 4 >= 2, y, np.nan), "gappy")
    cfg = DarimaConfig(num_windows=2, period=2, tol=10, max_p=2, max_q=0, max_P=0, max_Q=0)
    res = darima(
        spark.createDataFrame(pd.concat([_series_pdf(_ar1(400), "a"), gappy])),
        cfg,
        spark.createDataFrame(
            pd.concat(
                [
                    _series_pdf(_ar1(5, seed=s), sid, start=T0 + dt.timedelta(hours=400))
                    for s, sid in ((1, "a"), (2, "gappy"))
                ]
            )
        ),
    )
    ev = res.evaluation.toPandas()
    assert (ev.groupby("series_id").size() == 5).all() and len(ev) == 10
    assert ev["mase"].isna().tolist() == (ev["series_id"] == "gappy").tolist()
    assert ev["smape"].notna().all()


@pytest.fixture(scope="module")
def two_series(spark):
    """Two AR(1) series, 400 hourly training and 20 test points each."""
    train = pd.concat(
        [
            _series_pdf(_ar1(400, phi=0.5, mu=10.0, seed=1), "a"),
            _series_pdf(_ar1(400, phi=0.7, mu=-5.0, seed=2), "b"),
        ]
    )
    test = pd.concat(
        [
            _series_pdf(_ar1(20, phi=0.5, mu=10.0, seed=3), "a", start=T0 + dt.timedelta(hours=400)),
            _series_pdf(_ar1(20, phi=0.7, mu=-5.0, seed=4), "b", start=T0 + dt.timedelta(hours=400)),
        ]
    )
    return spark.createDataFrame(train), spark.createDataFrame(test)


def test_full_pipeline_two_series(spark, two_series):
    """End-to-end: 2 series, fit+combine+forecast+evaluate; sane metrics."""
    cfg = DarimaConfig(num_windows=2, period=1, tol=20, max_p=3, max_q=0, max_P=0)
    train, test = two_series
    res = darima(train, cfg, test_df=test)
    coefs = res.coefs.toPandas()
    assert set(coefs["series_id"]) == {"a", "b"}
    assert len(coefs) == 2 * 23  # beta0, beta1, ar1..20, sigma2
    fc = res.forecasts.toPandas()
    assert len(fc) == 40
    # forecasts should hover near each series' level
    a_mean = fc[fc.series_id == "a"]["mean"].mean()
    b_mean = fc[fc.series_id == "b"]["mean"].mean()
    assert abs(a_mean - 10) < 2 and abs(b_mean + 5) < 2
    scores = res.scores.toPandas()
    assert 0 < scores["mase"].iloc[0] < 3
    assert 0 < scores["msis_95"].iloc[0] < 50


def _with_y_at(sdf, i, value):
    """``sdf`` with the y of its i-th hourly row replaced by ``value``."""
    ts = T0 + dt.timedelta(hours=i)
    return sdf.withColumn("y", F.when(F.col("ts") == F.lit(ts), value).otherwise(F.col("y")))


def test_null_training_value_is_skipped_by_forecast(spark):
    """A null or NaN y inside the last tol training rows is no
    observation: the forecasts equal those of the same data without that
    row, and a NaN scores as a null does (a NaN used to turn the MASE/MSIS
    scale, and with it those scores, into NaN)."""
    cfg = DarimaConfig(num_windows=2, period=1, tol=10, max_p=3, max_q=0, max_P=0)
    sdf = spark.createDataFrame(_series_pdf(_ar1(305)))
    is_train = F.col("ts") < F.lit(T0 + dt.timedelta(hours=300))
    train, test = sdf.where(is_train), sdf.where(~is_train)
    without = train.where(F.col("ts") != F.lit(T0 + dt.timedelta(hours=295)))
    want = darima(without, cfg, test_df=test).forecasts.orderBy("step").toPandas()
    scores = []
    for bad in (F.lit(None).cast("double"), F.lit(float("nan"))):
        res = darima(_with_y_at(train, 295, bad), cfg, test_df=test)
        got = res.forecasts.orderBy("step").toPandas()
        assert np.isfinite(got["mean"]).all()
        for c in ["mean", "se", "lo_95", "hi_95"]:
            np.testing.assert_allclose(got[c], want[c], rtol=1e-12)
        assert (got["ts"] == want["ts"]).all()
        scores.append(res.scores.toPandas())
    assert np.isfinite(scores[0].to_numpy()).all()
    pd.testing.assert_frame_equal(scores[1], scores[0], check_exact=False, rtol=1e-12)


def test_nan_training_value_is_no_dlsa_observation(spark):
    """A NaN y is dropped by the fit, so it must not count in n_obs either:
    DLSA coefficients (σ² included) equal those without that row."""
    cfg = DarimaConfig(
        num_windows=2, period=1, tol=10, method="dlsa", max_p=3, max_q=0, max_P=0
    )
    y = _ar1(300)
    sdf = spark.createDataFrame(_series_pdf(y))
    with_nan = _with_y_at(sdf, 100, F.lit(float("nan")))
    without = sdf.where(F.col("ts") != F.lit(T0 + dt.timedelta(hours=100)))
    got = darima(with_nan, cfg).coefs.toPandas().set_index("coef")["value"]
    want = darima(without, cfg).coefs.toPandas().set_index("coef")["value"]
    assert sorted(got.index) == sorted(want.index)
    for k in want.index:
        assert got[k] == pytest.approx(want[k], rel=1e-12), k


def _lazy_case(train, test, case):
    """``two_series`` as the named case of the lazy-composition test."""
    if case == "roundrobin":
        return split_series(train, 2, strategy="roundrobin"), test
    if case == "empty_window":
        # three range windows; the middle one of each series has no
        # observed row, so each series still combines two fitted windows
        win = split_series(train, 3)
        return win.withColumn("y", F.when(F.col("window_id") != 1, F.col("y"))), test
    if case == "null_last":
        return _with_y_at(train, 399, F.lit(None).cast("double")), test
    if case == "ntz":
        # unsplit: darima() and the building blocks split it themselves
        def ntz(df):
            return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))

        return ntz(train), ntz(test)
    return train, test


def _sorted(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


@pytest.mark.parametrize("case", ["contiguous", "roundrobin", "empty_window", "null_last", "ntz"])
@pytest.mark.parametrize("method", ["mean", "dlsa"])
def test_darima_equals_lazy_composition(spark, two_series, method, case):
    """The checkpointed result holds what the lazy building blocks
    compute: the same combined coefficients bit for bit (two fitted
    windows per series, so the combine's sums cannot depend on merge
    order), the same forecasts, evaluation and scores, for any split of
    the training rows, unobserved rows and timestamp type."""
    cfg = DarimaConfig(
        num_windows=2, period=1, tol=20, method=method, max_p=3, max_q=0, max_P=0
    )
    train, test = _lazy_case(*two_series, case)
    res = darima(train, cfg, test, h=10)
    lazy_coefs = combine_coefs(fit_windows(train, cfg), cfg)
    keys = ["series_id", "coef"]
    pd.testing.assert_frame_equal(
        _sorted(res.coefs, keys), _sorted(lazy_coefs, keys), check_exact=True
    )
    lazy_fc = forecast(train, lazy_coefs, 10, cfg)
    plan = lazy_fc._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    want_schema = [(f.name, f.dataType) for f in _parse_datatype_string(FORECAST_SCHEMA).fields]
    for fc in (res.forecasts, lazy_fc):
        assert [(f.name, f.dataType) for f in fc.schema.fields] == want_schema
    keys = ["series_id", "step"]
    got, want = _sorted(res.forecasts, keys), _sorted(lazy_fc, keys)
    assert len(got) == 20
    assert (got["ts"] == want["ts"]).all()
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12, atol=0)
    keys = ["series_id", "ts"]
    lazy_ev = evaluate(lazy_fc, test, train, cfg)
    got, want = _sorted(res.evaluation, keys), _sorted(lazy_ev, keys)
    assert len(got) == (18 if case == "null_last" else 20)
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12, atol=0)
    pd.testing.assert_frame_equal(
        res.scores.toPandas(), score(lazy_ev, cfg).toPandas(), check_exact=False, rtol=1e-12
    )


def test_darima_reads_training_rows_once(spark, two_series):
    """Fit, combine, forecast and the MASE/MSIS scale share one pass over
    the training rows: reading every frame of the result evaluates the
    training frame once per row."""
    cfg = DarimaConfig(num_windows=2, period=1, tol=20, max_p=3, max_q=0, max_P=0)
    train, test = two_series
    seen = spark.sparkContext.accumulator(0)

    def count(y):
        seen.add(1)
        return y

    counted = train.withColumn("y", F.udf(count, "double").asNondeterministic()("y"))
    res = darima(counted, cfg, test, h=20)
    for name in ("coefs", "forecasts", "evaluation", "scores"):
        getattr(res, name).collect()
    assert seen.value == train.count()


def test_darima_empty_test_needs_h(spark, two_series):
    """Without ``h`` the horizon comes from the test rows; an empty test
    frame has none, which is a usage error, not a crash in the forecast."""
    train, test = two_series
    cfg = DarimaConfig(num_windows=2, period=1, tol=20, max_p=3, max_q=0, max_P=0)
    with pytest.raises(ValueError, match="pass h"):
        darima(train, cfg, test_df=test.limit(0))


def test_darima_fits_and_forecasts_once(spark, two_series):
    """Every frame of the result reads the checkpoints ``darima`` took:
    no plan holds the fit UDF or the forecast cogroup, so reading several
    frames does not fit or forecast again."""
    cfg = DarimaConfig(num_windows=2, period=1, tol=20, max_p=3, max_q=0, max_P=0)
    train, test = two_series
    res = darima(train, cfg, test, h=20)
    for name in ("coefs", "forecasts", "evaluation", "scores"):
        plan = getattr(res, name)._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapCoGroupsInPandas" not in plan, name


def test_forecast_step_ignores_missing_second_row(spark):
    """A null y at hour 1 drops that row from the forecast's input; the
    step is still one hour, so the forecast continues the hourly grid and
    every test row is scored."""
    cfg = DarimaConfig(num_windows=2, period=1, tol=10, max_p=3, max_q=0, max_P=0)
    sdf = _with_y_at(spark.createDataFrame(_series_pdf(_ar1(300))), 1, F.lit(None).cast("double"))
    test = spark.createDataFrame(
        _series_pdf(_ar1(5, seed=1), start=T0 + dt.timedelta(hours=300))
    )
    res = darima(sdf, cfg, test)
    fc = res.forecasts.orderBy("step").toPandas()
    want = [T0 + dt.timedelta(hours=300 + i) for i in range(5)]
    assert fc["ts"].tolist() == want
    assert res.evaluation.count() == 5
