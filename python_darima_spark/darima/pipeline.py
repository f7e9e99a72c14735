"""Distributed DARIMA pipeline, DataFrame-native end to end.

Reference lifecycle (/root/reference/darima.py:50-125): CSV scan →
round-robin repartition → RDD mapPartitions (rpy2→R auto.arima) → flatMap →
aggregateByKey combine → collect → driver-side pandas forecast + eval.

Engine lifecycle of :func:`darima` (SURVEY.md §3, target): every stage
stays a DataFrame op, and the training rows are read in one job chain —

    read → split_series → one ordered window per series    [gap, seasonal term]
         → groupBy(series, window) pack                             [hash agg]
         → fit per window (scalar pandas_udf)                          [Arrow]
         → groupBy(series) → combine + forecast (scalar pandas_udf)    [Arrow]
         → localCheckpoint: one row per series
         → explode / join test / agg views                               [JVM]

Per-series parallelism comes from ``groupBy(series_id, window_id)`` over
many series; the driver never materializes a series (the reference collects
the full train series at darima.py:96-97 — its scalability cliff). After
the fit only each window's coefficients, its last ``tol`` observations and
a few scalars travel on.

``fit_windows``, ``combine_coefs``, ``forecast``, ``fitted_values`` and
``evaluate`` stay lazy building blocks; ``fit_windows`` and ``forecast``
build on the same per-window pack as :func:`darima`.
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


_HOUR_US = 3_600_000_000  # the forecast step when no two observed times differ


def _observed(y_col: str):
    """The one observation predicate: y is neither null nor NaN."""
    return F.col(y_col).isNotNull() & ~F.isnan(y_col)


def _seasonal_term(series_col: str, ts_col: str, y_col: str, m: int):
    """``|y_t − y_{t−m}|`` over each series' rows in time order, null
    unless both values are observed: the terms whose mean is the MASE/MSIS
    scale. A NaN y is no observation, as a null is, but its row stays, so
    the lag still spans m rows."""
    y = F.when(_observed(y_col), F.col(y_col))
    return F.abs(y - F.lag(y, m).over(Window.partitionBy(series_col).orderBy(ts_col)))


def _last(arr, n: int):
    """The last ``n`` elements of an array column (all of a shorter one)."""
    return F.slice(arr, F.greatest(F.size(arr) - n + 1, F.lit(1)), n)


def _names(tol: int, *extra: str):
    """:func:`coef_names` (then ``extra``) as one array column."""
    # one string literal split into the name array (constant-folded): an
    # array of tol + 4 separate lit() columns took ~0.8 s of driver-side
    # plan building at tol=2000 (measured on a 4-core host)
    return F.split(F.lit(",".join(coef_names(tol) + list(extra))), ",")


def _pack(
    series_df: DataFrame, cfg: DarimaConfig, series_col: str, ts_col: str, y_col: str
) -> DataFrame:
    """One row per (series, window) with all that the fit, the forecast
    and the MASE/MSIS scale read from the training rows:

    * ``_ys``: the window's observed y in time order; ``_n``: their count;
    * ``_tail``: its last ``tol`` observed ``(t, v)`` pairs, and
      ``_last_us``: its last observed time (times in integer µs);
    * ``_gap``: the smallest positive gap from one of its observed rows to
      the series' previous observed row;
    * ``_ssum`` / ``_scnt``: sum and count of its seasonal terms.

    Gaps and seasonal terms come from one ordered window over the whole
    series, so they do not depend on how the rows are split. A frame that
    already has ``window_id`` keeps its split (e.g.
    ``split_series(df, k, strategy="roundrobin")``); otherwise windows are
    ``split_series``' contiguous ones. Every row is kept, so a window with
    no observed row still carries its scale partials, with an empty
    ``_ys``. Rows whose y is null or NaN are no observation: they stay out
    of ``_ys`` (so ``_n`` and the DLSA ``T_total`` count real
    observations), the tail and the gaps.
    """
    obs = _observed(y_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    before = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    gap = us - F.last(F.when(obs, us), ignorenulls=True).over(before)
    rows = series_df.select(
        "*",
        F.when(obs, F.struct(us.alias("t"), F.col(y_col).alias("v"))).alias("_pt"),
        F.when(obs & (gap > 0), gap).alias("_gap"),
        _seasonal_term(series_col, ts_col, y_col, cfg.period).alias("_term"),
    )
    if "window_id" not in series_df.columns:
        rows = split_series(rows, cfg.num_windows, series_col, ts_col)
    return (
        rows.groupBy(
            F.col(series_col).cast("string").alias("series_id"),
            F.col("window_id").cast("int").alias("window_id"),
        )
        .agg(
            F.array_sort(F.collect_list("_pt")).alias("_pts"),
            F.max("_pt.t").alias("_last_us"),
            F.min("_gap").alias("_gap"),
            F.sum("_term").alias("_ssum"),
            F.count("_term").alias("_scnt"),
        )
        .select(
            "series_id",
            "window_id",
            F.col("_pts.v").alias("_ys"),
            F.size("_pts").alias("_n"),
            _last(F.col("_pts"), cfg.tol).alias("_tail"),
            "_last_us",
            "_gap",
            "_ssum",
            "_scnt",
        )
    )


def _fit_udf(cfg: DarimaConfig):
    """The scalar Arrow fit: a window's observed y in time order → its
    coefficient vector in :func:`coef_names` order. A window without
    observations is not fitted (null)."""
    kw = dict(
        m=cfg.period, tol=cfg.tol, method=cfg.method, max_p=cfg.max_p,
        max_q=cfg.max_q, max_P=cfg.max_P, max_Q=cfg.max_Q, d=cfg.d, D=cfg.D,
        search=cfg.search, max_order=cfg.max_order,
    )

    @F.pandas_udf("array<double>")
    def fit_vec(ys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                fit_window_to_coef_vec(np.asarray(a, dtype=float), **kw) if len(a) else None
                for a in ys
            ]
        )

    return fit_vec


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
    normalization. Windows are those of :func:`_pack`; a window without
    observations has no rows.

    Shape (round 3): each window is packed to ONE row carrying its
    ts-sorted y array by a codegen'd JVM aggregate, the numpy fit runs in
    a SCALAR Arrow ``pandas_udf`` (thousands of windows per Arrow batch),
    and the coef rows come back via a JVM ``explode(arrays_zip(...))``.
    The previous grouped-map ``applyInPandas`` paid per-GROUP overhead
    (one pandas DataFrame construction + sort per window) and shipped the
    full long-form rows (series_id string repeated per observation)
    through Arrow — measured ~12 ms/window at 15k windows vs ~0.75 ms of
    actual fit math; this path moves grouping/sorting into Tungsten and
    amortizes the Python crossing, 5.7 s → ~2 s on the many-series probe.
    """
    packed = _pack(series_df, cfg, series_col, ts_col, y_col).where(F.col("_n") > 0)
    vals = F.concat(_fit_udf(cfg)("_ys"), F.array(F.col("_n").cast("double")))
    zipped = F.arrays_zip(_names(cfg.tol, "n_obs").alias("coef"), vals.alias("value"))
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


def _series_state(packed: DataFrame, tol: int, *aggs) -> DataFrame:
    """One row per series from its window packs: ``_n`` observations, the
    last ``tol`` of them in time order (``_tail_y``), the last observed
    time ``_last_us``, the forecast step ``_step_us`` and the MASE/MSIS
    ``_scale``, then ``aggs``.

    The step is the smallest positive gap between observed times (one hour
    without one): the first two (reference darima.py:316) are one step
    apart only when no row between them was dropped as unobserved. The
    scale is Σsum / Σcount of the seasonal terms, NULL without a term."""
    tail = _last(F.array_sort(F.flatten(F.collect_list("_tail"))), tol)
    return packed.groupBy("series_id").agg(
        F.sum("_n").alias("_n"),
        tail["v"].alias("_tail_y"),
        F.max("_last_us").alias("_last_us"),
        F.coalesce(F.min("_gap"), F.lit(_HOUR_US)).alias("_step_us"),
        F.try_divide(F.sum("_ssum"), F.sum("_scnt")).alias("_scale"),
        *aggs,
    )


def _coef_vector(names, values, index: dict[str, int]) -> np.ndarray:
    """A coefficient vector in :func:`coef_names` order from (name, value)
    pairs, placed by the ``{name: position}`` ``index``: unknown names are
    ignored, missing ones are 0 and a missing sigma2 is 1."""
    vec = np.zeros(len(index))
    vec[index["sigma2"]] = 1.0
    for name, value in zip(names, values):
        i = index.get(name)
        if i is not None:
            vec[i] = value
    return vec


def _combine(vecs, n_obs: int, method: str) -> np.ndarray:
    """:func:`combine_coefs` for one series' window vectors (in
    ``window_id`` order), summed one by one from 0.0 as Spark's ``sum``
    adds them; ``n_obs`` is the series' observation count (DLSA
    ``T_total``)."""
    total = np.zeros(len(vecs[0]))
    for v in vecs:
        total += v
    if method == "mean":
        return total / len(vecs)
    out = total / total[-1]
    out[-1] = n_obs / total[-1]
    return out


def _forecast_arrays(vec: np.ndarray, n_obs: int, tail_y, h: int, tol: int):
    """Mean and standard error of the h-step forecast by coefficient
    vector ``vec`` (:func:`coef_names` order) after ``n_obs`` observations,
    of which ``tail_y`` are the last min(tol, n_obs) in time order."""
    beta0, beta1, pi, sigma2 = vec[0], vec[1], vec[2:-1], vec[-1]
    t_idx = np.arange(n_obs + 1, n_obs + h + 1, dtype=float)  # 1-based time index
    mean = ar_recursion(beta0 + beta1 * t_idx, pi[: min(tol, n_obs)], init=tail_y)
    se = np.sqrt(sigma2 * np.cumsum(ar_to_ma(pi, h) ** 2))
    return mean, se


def _forecast_rows(state: DataFrame, cfg: DarimaConfig, *keep: str) -> DataFrame:
    """``FORECAST_SCHEMA`` rows, then the ``keep`` columns, from one state
    row per series whose struct ``_r`` holds the ``_mean`` and ``_se``
    arrays. Future times are ``_last_us + step·_step_us``, exact in
    integer µs; intervals are mean ∓ z·se at the configured levels."""
    z = {lev: normal_ppf(0.5 + lev / 200.0) for lev in cfg.levels}
    steps = state.select(
        "series_id",
        "_last_us",
        "_step_us",
        *keep,
        F.posexplode(
            F.arrays_zip(F.col("_r._mean").alias("mean"), F.col("_r._se").alias("se"))
        ).alias("_i", "_f"),
    )
    step = (F.col("_i") + 1).cast("int")
    mean, se = F.col("_f.mean"), F.col("_f.se")
    cols = [
        "series_id",
        step.alias("step"),
        F.timestamp_micros(F.col("_last_us") + step * F.col("_step_us")).alias("ts"),
        mean.alias("mean"),
        se.alias("se"),
    ]
    for lev in cfg.levels:
        cols += [(mean - z[lev] * se).alias(f"lo_{lev}"), (mean + z[lev] * se).alias(f"hi_{lev}")]
    return steps.select(*cols, *keep)


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
    scalar Arrow UDF call per series; across-series parallelism is the
    scale axis). The training rows go through the same per-window pack as
    :func:`darima`'s, so only each series' last ``tol`` observations (null
    or NaN y skipped, as in the fit), its last time and its step reach
    Python. ``coef_df``'s long rows are placed by name. The mean is
    :func:`ar_recursion` seeded with those observations. Standard errors
    use the CORRECT ψ-weight recursion (the reference's ar_to_ma returns
    all zeros — SURVEY.md §2A R28); intervals are mean ∓ z·se at the
    configured percent levels (darima.py:371-387). A series without
    coefficients or observations has no rows.
    """
    tol = cfg.tol
    index = {name: i for i, name in enumerate(coef_names(tol))}

    @F.pandas_udf("_mean array<double>, _se array<double>")
    def run(names: pd.Series, values: pd.Series, ns: pd.Series, tails: pd.Series) -> pd.DataFrame:
        out = {"_mean": [], "_se": []}
        for nm, vals, n, tail in zip(names, values, ns, tails):
            mean, se = _forecast_arrays(_coef_vector(nm, vals, index), n, tail, h, tol)
            out["_mean"].append(mean)
            out["_se"].append(se)
        return pd.DataFrame(out)

    coefs = coef_df.groupBy(F.col(series_col).cast("string").alias("series_id")).agg(
        F.collect_list(F.struct("coef", "value")).alias("_cv")
    )
    state = (
        _series_state(_pack(train_df, cfg, series_col, ts_col, y_col), tol)
        .where(F.col("_n") > 0)
        .join(coefs, "series_id")
    )
    return _forecast_rows(
        state.select(
            "series_id",
            "_last_us",
            "_step_us",
            run("_cv.coef", "_cv.value", "_n", "_tail_y").alias("_r"),
        ),
        cfg,
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

    Each series' combined coefficients are cogrouped with its observed
    training rows. First ``tol`` points have no full lag window → null
    fitted/residual (the reference silently starts at index tol; explicit
    nulls here). A series without coefficients or observations has no
    rows.
    """
    tol = cfg.tol
    index = {name: i for i, name in enumerate(coef_names(tol))}

    def run(pdf_coef: pd.DataFrame, pdf_train: pd.DataFrame) -> pd.DataFrame:
        if pdf_coef.empty or pdf_train.empty:
            return pd.DataFrame()
        pdf_train = pdf_train.sort_values(ts_col)
        y = pdf_train[y_col].to_numpy(dtype=float)
        vec = _coef_vector(pdf_coef["coef"], pdf_coef["value"], index)
        T = y.size
        fitted = np.full(T, np.nan)
        if T > tol:
            lag_mat = np.lib.stride_tricks.sliding_window_view(y[:-1], tol)[:, ::-1]
            t_idx = np.arange(tol + 1, T + 1, dtype=float)
            fitted[tol:] = vec[0] + vec[1] * t_idx + lag_mat @ vec[2:-1]
        return pd.DataFrame(
            {
                "series_id": str(pdf_train[series_col].iloc[0]),
                "ts": pdf_train[ts_col].to_numpy(),
                "fitted": fitted,
                "residual": y - fitted,
            }
        )

    return (
        coef_df.groupBy(series_col)
        .cogroup(train_df.where(_observed(y_col)).groupBy(series_col))
        .applyInPandas(run, FITTED_SCHEMA)
    )


def _metrics(
    forecast_df: DataFrame,
    test_df: DataFrame,
    cfg: DarimaConfig,
    series_col: str,
    ts_col: str,
    y_col: str,
) -> DataFrame:
    """Per-timestamp metric columns of the forecast rows (with their
    series' ``_scale``) that meet a test row at the same series and time."""
    joined = forecast_df.join(
        test_df.select(F.col(series_col), F.col(ts_col), F.col(y_col).alias("_actual")),
        on=[series_col, ts_col],
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
    and left-joined to the forecast rows WITHOUT a forced broadcast hint:
    the scale table is one row per series, so at millions of series a
    pinned broadcast would OOM the driver — AQE sees the aggregate's
    actual size at runtime and picks broadcast when it fits, shuffle join
    when not. A series without a seasonal pair (≤ m rows, or no two
    observed values m rows apart) keeps its rows, with a NULL MASE and
    MSIS, as a constant series (scale 0) does.
    """
    scale = (
        train_df.select(
            series_col, _seasonal_term(series_col, ts_col, y_col, cfg.period).alias("_term")
        )
        .groupBy(series_col)
        .agg(F.try_divide(F.sum("_term"), F.count("_term")).alias("_scale"))
    )
    return _metrics(
        forecast_df.join(scale, on=series_col, how="left"),
        test_df, cfg, series_col, ts_col, y_col,
    )


def score(eval_df: DataFrame, cfg: DarimaConfig) -> DataFrame:
    """Mean over all test points per metric (reference darima.py:120-121)."""
    metrics = ["mase", "smape"] + [f"msis_{lev}" for lev in cfg.levels]
    return eval_df.agg(*[F.avg(c).alias(c) for c in metrics])


@dataclass
class DarimaResult:
    """What :func:`darima` computed. All four frames are JVM views over
    one checkpoint holding one row per series (its combined coefficient
    vector, forecast arrays and MASE/MSIS scale): ``coefs`` and
    ``forecasts`` explode it, ``evaluation`` joins the forecasts with the
    test rows and ``scores`` aggregates that. None of them reads the
    training rows or runs the fit again, whichever is read first or how
    often."""

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

    The call is eager and reads the training rows in one job chain: the
    per-window pack (:func:`fit_windows`' windows), the fit, then per
    series one Arrow UDF call that combines the window vectors as
    :func:`combine_coefs` does and runs :func:`forecast`'s recursion over
    the series' last ``tol`` observations. The result, one row per series
    (≤ tol+3 coefficients, 2·h forecast values and the MASE/MSIS scale),
    is stored with ``localCheckpoint(eager=True)``, and every returned
    frame reads it, in any order, without fitting again. ``h`` defaults
    to the most test rows of any series; with neither ``h`` nor
    ``test_df`` only ``coefs`` is returned. The lineage is truncated at
    the checkpoint, so blocks lost with an executor cannot be recomputed;
    the blocks are released when the frames are garbage collected. For a
    lazy plan, compose :func:`fit_windows`, :func:`combine_coefs`,
    :func:`forecast` and :func:`evaluate` directly.
    """
    cfg = cfg or DarimaConfig()
    if cfg.method not in ("mean", "dlsa"):
        raise ValueError(f"unknown combine method {cfg.method!r}")
    if h is None and test_df is not None:
        h = test_df.groupBy(series_col).count().agg(F.max("count")).collect()[0][0]
        if h is None:
            raise ValueError("test_df has no rows, so the horizon is unknown: pass h")
    tol, method, horizon = cfg.tol, cfg.method, int(h or 0)

    @F.pandas_udf("_coef array<double>, _mean array<double>, _se array<double>")
    def run(vecs: pd.Series, ns: pd.Series, tails: pd.Series) -> pd.DataFrame:
        out = {"_coef": [], "_mean": [], "_se": []}
        for v, n, tail in zip(vecs, ns, tails):
            vec = _combine(v, n, method) if len(v) else None
            mean, se = _forecast_arrays(vec, n, tail, horizon, tol) if len(v) else (None, None)
            out["_coef"].append(vec)
            out["_mean"].append(mean)
            out["_se"].append(se)
        return pd.DataFrame(out)

    fitted = _pack(train_df, cfg, series_col, ts_col, y_col).withColumn(
        "_vec", _fit_udf(cfg)("_ys")
    )
    windows = F.array_sort(
        F.collect_list(F.when(F.col("_vec").isNotNull(), F.struct("window_id", "_vec")))
    )
    state = (
        _series_state(fitted, tol, windows["_vec"].alias("_vecs"))
        .select(
            "series_id",
            "_last_us",
            "_step_us",
            "_scale",
            run("_vecs", "_n", "_tail_y").alias("_r"),
        )
        .localCheckpoint(eager=True)
    )
    zipped = F.arrays_zip(_names(tol).alias("coef"), F.col("_r._coef").alias("value"))
    coefs = state.select("series_id", F.explode(zipped).alias("_e")).select(
        "series_id", "_e.coef", "_e.value"
    )
    if h is None:
        return DarimaResult(coefs=coefs)
    fc = _forecast_rows(state, cfg, "_scale")
    forecasts = fc.drop("_scale")
    if test_df is None:
        return DarimaResult(coefs=coefs, forecasts=forecasts)
    ev = _metrics(fc, test_df, cfg, series_col, ts_col, y_col)
    return DarimaResult(coefs=coefs, forecasts=forecasts, evaluation=ev, scores=score(ev, cfg))
