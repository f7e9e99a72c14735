"""Distributed DARIMA pipeline, DataFrame-native end to end.

Reference lifecycle (/root/reference/darima.py:50-125): CSV scan →
round-robin repartition → RDD mapPartitions (rpy2→R auto.arima) → flatMap →
aggregateByKey combine → collect → driver-side pandas forecast + eval.

Engine lifecycle (SURVEY.md §3, target): every stage stays a DataFrame op —

    read → split_series (contiguous windows) → applyInPandas(fit)      [Arrow]
         → groupBy(coef).agg(...) combine                     [hash agg, JVM]
         → cogroup(coefs, series).applyInPandas(forecast)              [Arrow]
         → metric column arithmetic + agg                              [JVM]

Per-series parallelism comes from ``groupBy(series_id, window_id)`` over
many series; the driver never materializes a series (the reference collects
the full train series at darima.py:96-97 — its scalability cliff).

:func:`darima` runs the fit, the combine and the forecast once per call:
it checkpoints the combined coefficients (≤ tol+3 doubles per series) and
the forecasts (series × h rows) into executor storage with an eager
``localCheckpoint``, and every frame it returns reads those blocks. The
driver still holds no series data. ``fit_windows``, ``combine_coefs``,
``forecast``, ``fitted_values`` and ``evaluate`` stay lazy building blocks.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_darima_spark.darima.arima_math import DEFAULT_TOL, ar_recursion, ar_to_ma, normal_ppf
from python_darima_spark.darima.fit import coef_names, fit_window_to_coef_vec
from python_darima_spark.operators.timeseries import split_series

FORECAST_SCHEMA = (
    "series_id string, step int, ts timestamp, mean double, se double, "
    "lo_80 double, hi_80 double, lo_95 double, hi_95 double"
)
FITTED_SCHEMA = "series_id string, ts timestamp, fitted double, residual double"


@dataclass
class DarimaConfig:
    """Knobs mirroring /root/reference/darima_config.json:1-9 semantics."""

    num_windows: int = 4           # num_partitions
    period: int = 24               # data_time_freq (obs per seasonal cycle)
    method: str = "mean"           # "mean" | "dlsa"
    tol: int = DEFAULT_TOL         # AR truncation (auto_arima.R:71)
    max_p: int = 5
    max_q: int = 2
    max_P: int = 2
    max_Q: int = 1
    # Passed through to fit.auto_ar_fit, which alone interprets it.
    # "grid" (default): exhaustive AIC over the compact bounds above.
    # "reference": the reference's EXACT search — Hyndman–Khandakar
    # stepwise under AICc at max.p=max.q=max.P=max.Q=20, max.order=40
    # (auto_arima.R:74 with forecast's default stepwise=TRUE), overriding
    # the bounds above. "stepwise": HK stepwise at the configured bounds.
    # Anything else raises ValueError when the first window is fitted.
    search: str = "grid"
    max_order: int = 40
    # Pin differencing orders instead of per-window holdout selection.
    # Selection is per window and cannot see the cross-window combine: a
    # domain-informed global choice (e.g. (d=0, D=1) for strongly seasonal
    # demand data — measured mean MASE 1.46 vs 2.16 auto on the
    # reference's GEFCom workload) can beat it, because unit-root
    # structures average coherently across windows while independently
    # selected stationary fits need not (see fit.select_orders_by_holdout).
    d: int | None = None
    D: int | None = None
    levels: tuple[int, int] = (80, 95)


def _observed(y_col: str):
    """The one observation predicate: y is neither null nor NaN."""
    return F.col(y_col).isNotNull() & ~F.isnan(y_col)


def fit_windows(
    series_df: DataFrame,
    cfg: DarimaConfig,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """Per-window (S)ARIMA fit → long coefficient rows.

    Replaces the reference's ``mapPartitions(MapDarima().map_arima)`` +
    rpy2 R call (its darima.py:157-159, 216-219). Emits one row per
    :func:`~python_darima_spark.darima.fit.coef_names` entry plus an
    ``n_obs`` row carrying the window's observation count for DLSA
    normalization.

    A ``series_df`` that already has ``window_id`` keeps its split (e.g.
    ``split_series(df, k, strategy="roundrobin")``); otherwise windows are
    ``split_series``' contiguous ones.

    Shape (round 3): each window is packed to ONE row carrying its
    ts-sorted y array by a codegen'd JVM aggregate
    (``array_sort(collect_list(struct(ts, y)))``), the numpy fit runs in a
    SCALAR Arrow ``pandas_udf`` (thousands of windows per Arrow batch),
    and the coef rows come back via a JVM ``explode(arrays_zip(...))``.
    The previous grouped-map ``applyInPandas`` paid per-GROUP overhead
    (one pandas DataFrame construction + sort per window) and shipped the
    full long-form rows (series_id string repeated per observation)
    through Arrow — measured ~12 ms/window at 15k windows vs ~0.75 ms of
    actual fit math; this path moves grouping/sorting into Tungsten and
    amortizes the Python crossing, 5.7 s → ~2 s on the many-series probe.
    Nulls and NaNs: rows whose y is null or NaN are filtered BEFORE
    packing — ``collect_list(struct(ts, y))`` would otherwise keep them
    (the struct is non-null even when ``y`` is) — so ``n_obs`` counts real
    observations and the DLSA ``T_total`` stays consistent with each
    window's NaN-dropped fit length.
    """
    tol = cfg.tol
    kw = dict(
        m=cfg.period, tol=tol, method=cfg.method, max_p=cfg.max_p,
        max_q=cfg.max_q, max_P=cfg.max_P, max_Q=cfg.max_Q, d=cfg.d, D=cfg.D,
        search=cfg.search, max_order=cfg.max_order,
    )

    @F.pandas_udf("array<double>")
    def fit_vec(ys: pd.Series) -> pd.Series:
        return pd.Series(
            [fit_window_to_coef_vec(np.asarray(a, dtype=float), **kw) for a in ys]
        )

    with_windows = (
        series_df
        if "window_id" in series_df.columns
        else split_series(series_df, cfg.num_windows, series_col, ts_col)
    )
    packed = with_windows.where(_observed(y_col)).groupBy(
        F.col(series_col).cast("string").alias("series_id"),
        F.col("window_id").cast("int").alias("window_id"),
    ).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(ts_col).alias("t"), F.col(y_col).alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("_ys")
    )
    # one string literal split into the name array (constant-folded): an
    # array of tol + 4 separate lit() columns took ~0.8 s of driver-side
    # plan building at tol=2000 (measured on a 4-core host)
    names = F.split(F.lit(",".join(coef_names(tol) + ["n_obs"])), ",")
    vals = F.concat(fit_vec("_ys"), F.array(F.size("_ys").cast("double")))
    zipped = F.arrays_zip(names.alias("coef"), vals.alias("value"))
    return packed.select("series_id", "window_id", F.explode(zipped).alias("_e")).select(
        "series_id", "window_id", "_e.coef", "_e.value"
    )


def combine_coefs(coef_df: DataFrame, cfg: DarimaConfig) -> DataFrame:
    """Cross-window coefficient combine → one vector per series.

    * ``mean``: per-coef arithmetic mean — the reference's two-pass
      ``aggregateByKey`` (/root/reference/darima.py:260-280) restated as a
      single Catalyst hash aggregate (partial + final for free).
    * ``dlsa``: per-coef Σ(w_k·θ_k) / Σw_k with w_k = T_k/σ²_k (values
      arrive pre-scaled from the fit; the weight is the ``sigma2`` row —
      auto_arima.R:103-110). Global σ² = T_total / Σw_k. This is the method
      paper's normalization, not the reference's literal post-processing
      (darima.py:86-93), which divides by the *test* length and no-ops the
      sigma2 update.
    """
    if cfg.method == "mean":
        return (
            coef_df.where(F.col("coef") != "n_obs")
            .groupBy("series_id", "coef")
            .agg(F.avg("value").alias("value"))
        )
    if cfg.method != "dlsa":
        raise ValueError(f"unknown combine method {cfg.method!r}")

    sums = coef_df.groupBy("series_id", "coef").agg(F.sum("value").alias("value"))
    per_series = (
        coef_df.groupBy("series_id")
        .agg(
            F.sum(F.when(F.col("coef") == "sigma2", F.col("value"))).alias("_wsum"),
            F.sum(F.when(F.col("coef") == "n_obs", F.col("value"))).alias("_ttotal"),
        )
    )
    return (
        sums.join(F.broadcast(per_series), "series_id")
        .withColumn(
            "value",
            F.when(F.col("coef") == "sigma2", F.col("_ttotal") / F.col("_wsum"))
            .otherwise(F.col("value") / F.col("_wsum")),
        )
        .where(F.col("coef") != "n_obs")
        .select("series_id", "coef", "value")
    )


def _coef_vector(
    pdf_coef: pd.DataFrame, index: dict[str, int]
) -> tuple[float, float, np.ndarray, float]:
    """(beta0, beta1, pi[tol], sigma2) from long coef rows, placed by the
    ``{name: position}`` of :func:`coef_names`; unknown names are ignored,
    missing ones are 0 and a missing sigma2 is 1."""
    vec = np.zeros(len(index))
    vec[index["sigma2"]] = 1.0
    for name, value in zip(pdf_coef["coef"], pdf_coef["value"]):
        i = index.get(name)
        if i is not None:
            vec[i] = value
    return float(vec[0]), float(vec[1]), vec[2:-1], float(vec[-1])


def _per_series(
    train_df: DataFrame,
    coef_df: DataFrame,
    tol: int,
    fn,
    schema: str,
    series_col: str,
    ts_col: str,
    y_col: str,
) -> DataFrame:
    """Cogroup each series' combined coefficients with its observed
    training rows and emit ``fn(sid, ts, y, beta0, beta1, pi, sigma2)``, a
    dict of ``schema`` columns, per series (``ts``/``y`` sorted by time).
    A series without coefficients or observations yields no rows."""
    index = {name: i for i, name in enumerate(coef_names(tol))}

    def run(pdf_coef: pd.DataFrame, pdf_train: pd.DataFrame) -> pd.DataFrame:
        if pdf_coef.empty or pdf_train.empty:
            return pd.DataFrame()
        pdf_train = pdf_train.sort_values(ts_col)
        return pd.DataFrame(
            fn(
                str(pdf_train[series_col].iloc[0]),
                pdf_train[ts_col].to_numpy(),
                pdf_train[y_col].to_numpy(dtype=float),
                *_coef_vector(pdf_coef, index),
            )
        )

    return (
        coef_df.groupBy(series_col)
        .cogroup(train_df.where(_observed(y_col)).groupBy(series_col))
        .applyInPandas(run, schema)
    )


def forecast(
    train_df: DataFrame,
    coef_df: DataFrame,
    h: int,
    cfg: DarimaConfig,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """h-step recursive AR forecast with prediction intervals, per series.

    Replicates /root/reference/darima.py:292-351 + 353-414 semantics
    (sequential recursion — inherently serial in h, so it runs inside one
    grouped-UDF call per series; across-series parallelism is the scale
    axis). The mean is :func:`ar_recursion` seeded with the series'
    observed history (rows with a null or NaN y are skipped, as in the
    fit), over its last min(tol, T) points. Standard errors use the
    CORRECT ψ-weight recursion (the reference's ar_to_ma returns all
    zeros — SURVEY.md §2A R28); intervals are mean ∓ z·se at the
    configured percent levels (darima.py:371-387).
    """
    tol, levels = cfg.tol, cfg.levels
    z = {lev: normal_ppf(0.5 + lev / 200.0) for lev in levels}

    def fc_one(sid, ts, y, beta0, beta1, pi, sigma2) -> dict:
        T = y.size
        # the step is the smallest positive gap between observed points:
        # the first two (reference darima.py:316) are one step apart only
        # when no row between them was dropped as unobserved
        gaps = np.diff(ts)
        gaps = gaps[gaps > np.timedelta64(0)]
        dt = gaps.min() if gaps.size else np.timedelta64(1, "h")
        t_idx = np.arange(T + 1, T + h + 1, dtype=float)  # 1-based time index
        mean = ar_recursion(beta0 + beta1 * t_idx, pi[: min(tol, T)], init=y)
        se = np.sqrt(sigma2 * np.cumsum(ar_to_ma(pi, h) ** 2))
        out = {
            "series_id": sid,
            "step": np.arange(1, h + 1, dtype="int32"),
            "ts": ts[-1] + dt * np.arange(1, h + 1),
            "mean": mean,
            "se": se,
        }
        for lev in levels:
            out[f"lo_{lev}"] = mean - z[lev] * se
            out[f"hi_{lev}"] = mean + z[lev] * se
        return out

    return _per_series(
        train_df, coef_df, tol, fc_one, FORECAST_SCHEMA, series_col, ts_col, y_col
    )


def fitted_values(
    train_df: DataFrame,
    coef_df: DataFrame,
    cfg: DarimaConfig,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """In-sample one-step fits + residuals (reference darima.py:320-327)
    for every observed row (a null or NaN y has no row, as in the fit).

    First ``tol`` points have no full lag window → null fitted/residual
    (the reference silently starts at index tol; explicit nulls here).
    """
    tol = cfg.tol

    def score_one(sid, ts, y, beta0, beta1, pi, sigma2) -> dict:
        T = y.size
        fitted = np.full(T, np.nan)
        if T > tol:
            lag_mat = np.lib.stride_tricks.sliding_window_view(y[:-1], tol)[:, ::-1]
            t_idx = np.arange(tol + 1, T + 1, dtype=float)
            fitted[tol:] = beta0 + beta1 * t_idx + lag_mat @ pi
        return {"series_id": sid, "ts": ts, "fitted": fitted, "residual": y - fitted}

    return _per_series(
        train_df, coef_df, tol, score_one, FITTED_SCHEMA, series_col, ts_col, y_col
    )


def evaluate(
    forecast_df: DataFrame,
    test_df: DataFrame,
    train_df: DataFrame,
    cfg: DarimaConfig,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """Per-timestamp MASE / sMAPE / MSIS columns (reference
    darima.py:425-488), all JVM-side column arithmetic.

    The MASE/MSIS scale is the seasonal-naive in-sample MAE
    ``mean(|y_t − y_{t−m}|)`` over train — the formula the reference *cites*
    (DAinBD_DARIMA.Rmd:193-195); its code iterates ``np.diff`` m times
    instead (bug R32). Computed per series with a lag window + aggregate,
    joined back to the h test rows WITHOUT a forced broadcast hint: the
    scale table is one row per series, so at millions of series a pinned
    broadcast would OOM the driver — AQE sees the aggregate's actual size
    at runtime and picks broadcast when it fits, shuffle join when not.
    """
    m = cfg.period
    w = Window.partitionBy(series_col).orderBy(ts_col)
    # a NaN y becomes null before the lag: no observation, as a null is,
    # but its row stays, so the lag still spans m rows
    scale = (
        train_df.withColumn("_y", F.when(_observed(y_col), F.col(y_col)))
        .withColumn("_lag", F.lag("_y", m).over(w))
        .where(F.col("_lag").isNotNull())
        .groupBy(series_col)
        .agg(F.avg(F.abs(F.col("_y") - F.col("_lag"))).alias("_scale"))
    )
    joined = (
        forecast_df.alias("f")
        .join(
            test_df.select(
                F.col(series_col), F.col(ts_col), F.col(y_col).alias("_actual")
            ).alias("t"),
            on=[series_col, ts_col],
        )
        .join(scale, on=series_col)
    )
    err = F.abs(F.col("_actual") - F.col("mean"))
    # try_divide, not `/`: a zero denominator is REACHABLE data, not a
    # bug — sMAPE's (|a|+|m|)/2 is 0 when a test point and its forecast
    # are both 0 (gap-filled silence at small SF; found by the round-5
    # sf0.001 probe as an ANSI DIVIDE_BY_ZERO crash), and the MASE/MSIS
    # scale is 0 for a constant train series. NULL matches both DuckDB
    # (x/0 → NULL) and the undefined-metric semantics.
    cols = [
        F.try_divide(err, F.col("_scale")).alias("mase"),
        F.try_divide(
            err, (F.abs(F.col("_actual")) + F.abs(F.col("mean"))) / 2
        ).alias("smape"),
    ]
    for lev in cfg.levels:
        alpha = (100 - lev) / 100.0
        lo, hi, ya = F.col(f"lo_{lev}"), F.col(f"hi_{lev}"), F.col("_actual")
        msis_num = (
            (hi - lo)
            + F.when(ya < lo, (2.0 / alpha) * (lo - ya)).otherwise(0.0)
            + F.when(ya > hi, (2.0 / alpha) * (ya - hi)).otherwise(0.0)
        )
        cols.append(
            F.try_divide(msis_num, F.col("_scale")).alias(f"msis_{lev}")
        )
    return joined.select(series_col, ts_col, *cols)


def score(eval_df: DataFrame, cfg: DarimaConfig) -> DataFrame:
    """Mean over all test points per metric (reference darima.py:120-121)."""
    metrics = ["mase", "smape"] + [f"msis_{lev}" for lev in cfg.levels]
    return eval_df.agg(*[F.avg(c).alias(c) for c in metrics])


@dataclass
class DarimaResult:
    """What :func:`darima` computed. ``coefs`` and ``forecasts`` are
    checkpointed frames; ``evaluation`` and ``scores`` are lazy JVM joins
    and aggregates over the forecast checkpoint. None of them runs the fit
    or the forecast again, whichever is read first or how often."""

    coefs: DataFrame
    forecasts: DataFrame | None = None
    evaluation: DataFrame | None = None
    scores: DataFrame | None = None


def darima(
    train_df: DataFrame,
    cfg: DarimaConfig | None = None,
    test_df: DataFrame | None = None,
    h: int | None = None,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DarimaResult:
    """Full pipeline: split → fit → combine [→ forecast → evaluate].

    The call is eager. It runs the fit and the combine and stores the
    combined coefficients (≤ tol+3 doubles per series) with
    ``localCheckpoint(eager=True)``; when ``h`` or ``test_df`` is given it
    runs the forecast and stores it (series × h rows) the same way. The
    returned frames read those checkpoints, so the caller can read any of
    them, in any order, without fitting again. Their lineage is truncated
    at the checkpoint, so blocks lost with an executor cannot be
    recomputed; the blocks are released when the frames are garbage
    collected. For a lazy plan, compose :func:`fit_windows`,
    :func:`combine_coefs` and :func:`forecast` directly.
    """
    cfg = cfg or DarimaConfig()
    coef_rows = fit_windows(train_df, cfg, series_col, ts_col, y_col)
    coefs = combine_coefs(coef_rows, cfg).localCheckpoint(eager=True)
    if h is None and test_df is None:
        return DarimaResult(coefs=coefs)
    if h is None:
        h_rows = test_df.groupBy(series_col).count().agg(F.max("count")).collect()
        h = int(h_rows[0][0])
    fc = forecast(train_df, coefs, h, cfg, series_col, ts_col, y_col).localCheckpoint(
        eager=True
    )
    if test_df is None:
        return DarimaResult(coefs=coefs, forecasts=fc)
    ev = evaluate(fc, test_df, train_df, cfg, series_col, ts_col, y_col)
    return DarimaResult(coefs=coefs, forecasts=fc, evaluation=ev, scores=score(ev, cfg))
