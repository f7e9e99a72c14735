"""DARIMA domain queries (SURVEY.md §2B q_ts_*): the reference's core
capability as registry entries. Fit/forecast are not SQL-expressible
(iterative model estimation / sequential recursion), so the driver records
rows-only checks for them; the real correctness gate is the single-node
numpy oracle in tests/test_pipeline.py and tests/test_domain_queries.py.
q_ts_resample IS SQL-expressible and hash-matched."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_darima_spark.darima.arima_math import normal_ppf
from python_darima_spark.darima.pipeline import (
    DarimaConfig,
    darima,
    evaluate,
    forecast,
)
from python_darima_spark.operators.timeseries import (
    holt_winters_forecast,
    resample_regular,
)
from python_darima_spark.queries import QuerySpec, load

# Small tol for the sf0.01 check: series are ~720 hourly points, so a
# 48-lag global form captures 2 daily cycles; the full reference tol=2000
# is a config knob (DarimaConfig(tol=2000)), not a different code path.
_CFG = DarimaConfig(
    num_windows=4, period=24, tol=48, max_p=3, max_q=1, max_P=1, method="mean"
)


from python_darima_spark.queries import rhu as _rhu  # noqa: E402 — shared
# round-half-up quantizer (see queries/__init__.py:rhu for the tie-rule
# rationale; it used to live here and is now shared with relational.py).


def _hourly_series(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    series = ev.select(
        F.col("event_type").alias("series_id"),
        F.col("ts"),
        F.col("value").alias("y"),
    )
    return resample_regular(series, "1 hour")


def q_ts_resample(spark: SparkSession, sf: str) -> DataFrame:
    out = _hourly_series(spark, sf)
    return out.select("series_id", "ts", F.round("y", 6).alias("y"))


def q_ts_fit_combine(spark: SparkSession, sf: str) -> DataFrame:
    """Full DARIMA map+reduce (ref darima.py:143-169, Spark-first)."""
    return darima(_hourly_series(spark, sf), _CFG).coefs


def q_ts_fit_combine_dlsa(spark: SparkSession, sf: str) -> DataFrame:
    """DARIMA map+reduce with the DLSA combine — the reference's second
    combine method (/root/reference/darima.py:233-258, auto_arima.R:103-110):
    per-coef Σ(w_k·θ_k)/Σw_k with w_k = T_k/σ²_k, global σ² = T_total/Σw_k.
    Same plan shape as q_ts_fit_combine (grouped-map fit → one hash agg);
    the weighting is pre-scaled inside the fit UDF, so the combine is still
    a single keyed aggregate plus a broadcast-sized per-series weight row.
    Unit parity vs the numpy oracle: tests/test_pipeline.py,
    tests/test_fit.py."""
    cfg = DarimaConfig(
        num_windows=4, period=24, tol=48, max_p=3, max_q=1, max_P=1,
        method="dlsa",
    )
    return darima(_hourly_series(spark, sf), cfg).coefs


def q_ts_fit_reference_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """DARIMA fit with the REFERENCE'S exact search procedure and bounds:
    Hyndman–Khandakar stepwise under AICc at max.p=max.q=max.P=max.Q=20,
    max.order=40 — what forecast::auto.arima actually executes at
    /root/reference/auto_arima.R:74 (its stepwise=TRUE default means the
    reference never enumerates the 21⁴ grid either), plus the root-
    admissibility rejection (|root| ≥ 1.001) R's myarima applies. Parity
    evidence: GEFCom accuracy band pinned in
    tests/test_reference_accuracy.py (MASE 2.0966 vs 2.1565 for the
    compact grid). Fit recursion is not SQL-expressible → rows-only."""
    cfg = DarimaConfig(
        num_windows=4, period=24, tol=48, search="reference", method="mean"
    )
    return darima(_hourly_series(spark, sf), cfg).coefs


def q_ts_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Fit + combine + 24-step-ahead forecast with 80/95% intervals."""
    series = _hourly_series(spark, sf)
    coefs = darima(series, _CFG).coefs
    return forecast(series, coefs, h=24, cfg=_CFG)


#: Fixed surrogate model for q_ts_forecast_unrolled: AR(2) + drift with
#: literal coefficients, and the ψ-weight standard errors they imply
#: (ψ0=1, ψ1=a1, ψ2=a1²+a2; se_k = √(σ²·Σ_{j<k}ψ_j²)) computed ONCE here
#: and inlined as the SAME literal into both engines — the recursion and
#: interval arithmetic stay data-dependent and in-engine.
_UF_B0, _UF_B1, _UF_A1, _UF_A2, _UF_SIG2 = 5.0, 0.001, 0.6, 0.3, 2.25
_UF_PSI1 = _UF_A1
_UF_PSI2 = _UF_A1 * _UF_A1 + _UF_A2
_UF_SE = [
    math.sqrt(_UF_SIG2 * s)
    for s in (
        1.0,
        1.0 + _UF_PSI1**2,
        1.0 + _UF_PSI1**2 + _UF_PSI2**2,
    )
]
_UF_Z = {80: normal_ppf(0.9), 95: normal_ppf(0.975)}


def q_ts_forecast_unrolled(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-green surrogate for the forecast RECURSION (r4 verdict ask
    #6, the q_ts_eval_metrics trick): a FIXED-coefficient AR(2)+drift
    model, horizon 3, unrolled into closed-form column expressions —
    f₁ = β₀+β₁(T+1)+a₁y_T+a₂y_{T-1}, f₂/f₃ chained on f₁ — so the exact
    arithmetic q_ts_forecast runs inside its Arrow UDF (design index,
    lag feed-forward, mean∓z·se intervals; reference
    /root/reference/darima.py:292-351) is restated as chained CTEs the
    DuckDB oracle value-hashes. q_ts_forecast itself stays rows-only
    (data-fit coefficients + h=24 recursion are not SQL-expressible);
    this pins the arithmetic. Last-2-obs via one keyed window, then a
    3-row explode per series — no Python, no shuffle beyond the grid's."""
    series = _hourly_series(spark, sf)
    w = Window.partitionBy("series_id").orderBy(F.desc("ts"))
    ranked = series.withColumn("_rn", F.row_number().over(w))
    base = ranked.groupBy("series_id").agg(
        F.max("ts").alias("ts_last"),
        F.count("*").alias("t_n"),
        # y_T / y_{T-1} quantized to 6dp BEFORE the recursion on both
        # engines (floor-based _rhu, not round(): tie rules diverge —
        # ADVICE r5), so hourly-sum ulps can't feed the chained arithmetic
        _rhu(F.max(F.when(F.col("_rn") == 1, F.col("y"))), 6).alias("y1"),
        _rhu(F.max(F.when(F.col("_rn") == 2, F.col("y"))), 6).alias("y2"),
    )
    b0, b1, a1, a2 = (F.lit(c) for c in (_UF_B0, _UF_B1, _UF_A1, _UF_A2))
    tN = F.col("t_n")
    f1 = b0 + b1 * (tN + 1).cast("double") + a1 * F.col("y1") + a2 * F.col("y2")
    stepped = base.withColumn("f1", f1)
    f2 = b0 + b1 * (tN + 2).cast("double") + a1 * F.col("f1") + a2 * F.col("y1")
    stepped = stepped.withColumn("f2", f2)
    f3 = b0 + b1 * (tN + 3).cast("double") + a1 * F.col("f2") + a2 * F.col("f1")
    stepped = stepped.withColumn("f3", f3)

    def row(k: int) -> F.Column:
        mean = F.col(f"f{k}")
        se = F.lit(_UF_SE[k - 1])
        return F.struct(
            F.lit(k).alias("step"),
            F.expr(f"ts_last + INTERVAL {k} HOURS").alias("ts"),
            _rhu(mean, 6).alias("mean"),
            _rhu(se, 6).alias("se"),
            _rhu(mean - F.lit(_UF_Z[80]) * se, 6).alias("lo_80"),
            _rhu(mean + F.lit(_UF_Z[80]) * se, 6).alias("hi_80"),
            _rhu(mean - F.lit(_UF_Z[95]) * se, 6).alias("lo_95"),
            _rhu(mean + F.lit(_UF_Z[95]) * se, 6).alias("hi_95"),
        )

    return stepped.select(
        "series_id", F.explode(F.array(row(1), row(2), row(3))).alias("_f")
    ).select("series_id", "_f.*")


def q_ts_fitted(spark: SparkSession, sf: str) -> DataFrame:
    """In-sample one-step fitted values + residuals through the engine's
    real ``fitted_values`` path (reference R23-R30 scoring semantics,
    /root/reference/darima.py:320-327) with the fit+combine coefficients.
    Rows-only like q_ts_forecast (data-fit coefficients); the ARITHMETIC
    is hash-certified by q_ts_fitted_unrolled below."""
    from python_darima_spark.darima.pipeline import fitted_values

    series = _hourly_series(spark, sf)
    coefs = darima(series, _CFG).coefs
    fv = fitted_values(series, coefs, _CFG)
    return fv.select(
        "series_id",
        "ts",
        F.round("fitted", 6).alias("fitted"),
        F.round("residual", 6).alias("residual"),
    )


def q_ts_fitted_unrolled(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-green surrogate for the FITTED-VALUES arithmetic: with the
    fixed AR(2)+drift coefficients (same literals as
    q_ts_forecast_unrolled), the one-step in-sample fit is pure window
    algebra — fitted_t = β₀+β₁·t+a₁·y_{t-1}+a₂·y_{t-2}, null for the
    first p points (the real path's explicit-null contract) — so the
    exact expression the Arrow UDF evaluates
    (darima/pipeline.py:fitted_values lag_mat @ pi) restates as two
    lag() windows in DuckDB. Twin-tested against the real path. Lags
    round to 6dp before the algebra on both engines (hourly-sum ulp
    guard); the expression is written in the identical left-assoc order
    on both sides."""
    series = _hourly_series(spark, sf)
    w = Window.partitionBy("series_id").orderBy("ts")
    b0, b1, a1, a2 = (F.lit(c) for c in (_UF_B0, _UF_B1, _UF_A1, _UF_A2))
    t_idx = F.row_number().over(w)
    l1 = _rhu(F.lag("y", 1).over(w), 6)
    l2 = _rhu(F.lag("y", 2).over(w), 6)
    fitted = _rhu(
        b0 + b1 * t_idx.cast("double") + a1 * l1 + a2 * l2, 6
    )
    return series.select(
        "series_id",
        "ts",
        fitted.alias("fitted"),
        _rhu(_rhu(F.col("y"), 6) - fitted, 6).alias("residual"),
    )


def q_ts_seasonal(spark: SparkSession, sf: str) -> DataFrame:
    """Hour-of-day seasonal profile per series: per-(series, hod) mean,
    support count, and the additive seasonal component (profile mean −
    series mean). This is the period-m seasonal-naive baseline the MASE
    scaling divides by (ref R32 semantics, /root/reference/darima.py:451-454
    with the seasonal-lag fix per SURVEY §2A). Two hash aggs sharing the
    series_id key + one join of 24-row profiles — the join side is tiny
    per series, so AQE broadcasts it; no windows, no Python."""
    ev = load(spark, sf, "events")
    # means from EXACT micro-unit integer sums (round-6 sf1 probe: raw
    # double avg() diverged by one 1e-4 quantum on 10/1200 rows at sf1
    # volume — summation-order ulps landing on a floor boundary); the
    # per-row quantization is deterministic on bit-identical doubles,
    # integer sums are order-exact, and the division is then one
    # deterministic double op on both engines
    base = ev.select(
        F.col("event_type").alias("series_id"),
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") * 1e6 + 0.5).alias("y6"),
    )
    prof = base.groupBy("series_id", "hod").agg(
        F.sum("y6").alias("_s"), F.count("*").alias("n")
    )
    mu = base.groupBy("series_id").agg(
        F.sum("y6").alias("_st"), F.count("*").alias("_nt")
    )
    hm = F.col("_s").cast("double") / (F.col("n").cast("double") * 1e6)
    m = F.col("_st").cast("double") / (F.col("_nt").cast("double") * 1e6)
    return prof.join(mu, "series_id").select(
        "series_id",
        "hod",
        _rhu(hm, 4).alias("hod_mean"),
        "n",
        _rhu(hm - m, 4).alias("seasonal"),
    )


def q_ts_many_series(spark: SparkSession, sf: str) -> DataFrame:
    """Many-series scale probe: the reference workload is 10 series; this
    derives ~10k short series (event_type × user_id mod 2000) and runs the
    full fit+combine. Exercises the per-series parallelism axis — every
    stage is keyed by series_id, the driver only ever sees the plan (the
    combine output stays distributed; bench executes via noop sink)."""
    ev = load(spark, sf, "events")
    series = ev.select(
        F.concat_ws(
            "_", "event_type", F.pmod("user_id", F.lit(2000))
        ).alias("series_id"),
        "ts",
        F.col("value").alias("y"),
    )
    # NO persist (round 3): split_series(strategy="range") does read the
    # resampled grid twice (the min/max bounds aggregate plus the probe
    # side of the bounds join), but the bounds side collapses to a tiny
    # per-series aggregate — recomputing that subtree is cheaper than the
    # 4.6M-row materialization barrier a persist puts between resample
    # and fit (measured: warm rep ~11.7 s with persist, ~5 s pipelined).
    # Revisit if resample grows real per-row cost (interpolation) or a
    # full-width second consumer (e.g. forecasting the same grid) appears.
    hourly = resample_regular(series, "1 hour")
    cfg = DarimaConfig(
        num_windows=2, period=24, tol=24,
        max_p=2, max_q=1, max_P=0, max_Q=0, method="mean",
    )
    return darima(hourly, cfg).coefs


def q_ts_many_series_census(spark: SparkSession, sf: str) -> DataFrame:
    """HASH-CERTIFIED census over the many-series fit (round-5 verdict
    ask #9): the coefficient VALUES are data-fit floats no SQL oracle
    can restate (q_ts_many_series stays rows-only), but the fit's
    STRUCTURAL contract is exactly checkable — every derived series
    must come back (no silent series loss anywhere in
    resample→split→fit→combine), each with exactly the 27 coefficients
    the config implies (ar1..ar24 = tol, beta0, beta1, sigma2), all
    FINITE (a diverged/NaN fit flips n_finite and fails the hash). The
    oracle recomputes the series universe from events and asserts the
    27/27 invariant per series."""
    coefs = q_ts_many_series(spark, sf)
    v = F.col("value")
    finite = v.isNotNull() & ~F.isnan(v) & (F.abs(v) < F.lit(float("inf")))
    return coefs.groupBy("series_id").agg(
        F.count("*").alias("n_coefs"),
        F.sum(finite.cast("int")).alias("n_finite"),
    )


def q_ts_gaps_islands(spark: SparkSession, sf: str) -> DataFrame:
    """GAPS-AND-ISLANDS over discrete activity hours — maximal runs of
    consecutive active hours per event_type with the preceding gap
    length (uptime/outage reporting, the classic row_number-difference
    idiom, which Spark has no built-in for). Active hours are the
    DISTINCT (event_type, hour) pairs; hour index is
    timestampdiff(HOUR, min(hour) over series, hour) so everything
    downstream is pure BIGINT arithmetic (no epoch/timezone
    dependence); island key = hidx − row_number (constant exactly on
    consecutive runs); islands aggregate to (start, end, n_hours) and a
    second, islands-level window emits the gap to the previous island.
    Two keyed window passes + one keyed agg, all on the same
    partitioning — one exchange total. At 100 TB the distinct-hour
    pre-agg is the reducer: everything after it is
    series×active-hours-sized, not event-sized."""
    ev = load(spark, sf, "events")
    hours = ev.select(
        F.col("event_type").alias("series_id"),
        F.date_trunc("hour", F.col("ts").cast("timestamp")).alias("h"),
    ).distinct()
    w = Window.partitionBy("series_id").orderBy("h")
    keyed = hours.select(
        "series_id",
        "h",
        (
            F.expr(
                "timestampdiff(HOUR, min(h) OVER "
                "(PARTITION BY series_id), h)"
            )
            - F.row_number().over(w)
        ).alias("ik"),
    )
    islands = keyed.groupBy("series_id", "ik").agg(
        F.min("h").alias("island_start"),
        F.max("h").alias("island_end"),
        F.count("*").cast("long").alias("n_hours"),
    )
    return islands.select(
        "series_id",
        "island_start",
        "island_end",
        "n_hours",
        (
            F.expr(
                "timestampdiff(HOUR, "
                "lag(island_end) OVER (PARTITION BY series_id "
                "ORDER BY island_start), island_start)"
            )
            - 1
        ).cast("long").alias("gap_hours_before"),
    )


def q_ts_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-fill with LINEAR INTERPOLATION (TimescaleDB ``interpolate()``
    semantics): sparse per-user series (user_id mod 25 → ~55% empty grid
    hours at sf0.01) resampled onto the hourly grid, nulls interpolated
    between nearest observations, edges extended. Same keyed-shuffle
    shape as q_ts_resample plus one per-series window pass."""
    # pre-aggregate to the hourly grid with MICRO-UNIT quantized values
    # (round-5 sf0.001 probe): interpolation between ulp-divergent raw
    # sums flipped the final quantization on decimal-midpoint data; with
    # y quantized FIRST, both interpolation endpoints are identical
    # doubles and the interp expression (association-aligned with the
    # oracle) is deterministic
    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        F.pmod("user_id", F.lit(25)).cast("int").alias("series_id"),
        F.date_trunc("hour", "ts").alias("ts"),
    ).agg(
        (
            F.floor(F.sum("value") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).alias("y")
    )
    out = resample_regular(hourly, "1 hour", fill="interp")
    return out.select("series_id", "ts", _rhu(F.col("y"), 6).alias("y"))


def q_ts_stl(spark: SparkSession, sf: str) -> DataFrame:
    """STL-style additive decomposition per series, fully relational:
    trend = centered 25-hour moving average (rows frame), seasonal =
    hour-of-day mean of the detrended values (one hash agg, re-joined
    broadcast-sized), residual = y − trend − seasonal. One window pass +
    one agg + one small join — the decomposition a monitoring pipeline
    runs before anomaly thresholds (residual z-scores), and the additive
    counterpart of q_ts_seasonal's profile. Each stage's output is
    rounded before the next consumes it, so cross-engine summation-order
    ulps cannot compound across stages."""
    # INTEGER MICRO-UNIT decomposition (round-5 sf0.001 probe): the
    # float formulation diverged cross-engine because Spark's sliding
    # window avg and DuckDB's segment-tree avg produce ulp-different
    # doubles and the fixture's decimal-grid values make every
    # quantization boundary a midpoint. Here the ONLY float→int
    # quantization is the hourly sum (y_i6); trend/detr/seasonal/resid
    # are exact bigint arithmetic on y_i6 — floor of a deterministic
    # integer-ratio double, so window-avg implementation details cannot
    # leak into the result.
    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("hour", "ts").alias("ts"),
    ).agg(
        F.floor(F.sum("value") * F.lit(1e6) + F.lit(0.5)).alias("y_i6")
    )
    w = Window.partitionBy("series_id").orderBy("ts").rowsBetween(-12, 12)
    trend_i6 = F.floor(
        F.sum("y_i6").over(w).cast("double") / F.count("y_i6").over(w)
        + F.lit(0.5)
    )
    base = hourly.withColumn("trend_i6", trend_i6).withColumn(
        "detr_i6", F.col("y_i6") - F.col("trend_i6")
    )
    seas = base.groupBy("series_id", F.hour("ts").alias("hod")).agg(
        F.floor(
            F.sum("detr_i6").cast("double") / F.count("*") + F.lit(0.5)
        ).alias("seasonal_i6")
    )
    return (
        base.withColumn("hod", F.hour("ts"))
        .join(F.broadcast(seas), ["series_id", "hod"])
        .select(
            "series_id",
            "ts",
            (F.col("y_i6") / F.lit(1e6)).alias("y"),
            (F.col("trend_i6") / F.lit(1e6)).alias("trend"),
            (F.col("seasonal_i6") / F.lit(1e6)).alias("seasonal"),
            (
                (F.col("detr_i6") - F.col("seasonal_i6")) / F.lit(1e6)
            ).alias("resid"),
        )
    )


def q_ts_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """BATCH robust anomaly detection per series: rolling 24-row median
    + IQR over events (the Tukey-fence variant of median/MAD — IQR is
    frame-expressible as two quantiles where a true MAD would need a
    nested median-of-deviations window), flag |y − med| > 1.5·IQR. The
    batch complement of the STREAMING q_stream_anomaly EWMA detector,
    and fully SQL-expressible, so the driver hash-checks it. One keyed
    window per series — no global sort; frames are ROWS-based over a
    deterministic (ts, event_id) order so both engines see identical
    frame contents; quantile interpolation on identical doubles is
    bit-identical, so the flag set cannot diverge."""
    from python_darima_spark.operators import fan_out

    e = fan_out(load(spark, sf, "events"), "event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, 0)
    )
    # the flag compares the ROUNDED med/iqr/value (the emitted columns),
    # not the raw doubles: Spark percentile() vs DuckDB quantile_cont
    # interpolate identically in exact arithmetic, but a last-ulp
    # difference on a borderline row must not flip the flag (r4 ADVICE).
    # The three sliding percentiles are materialized ONCE in a first
    # select — Catalyst does no CSE across window expressions, so
    # inlining med/iqr into both the output columns and the flag ran SIX
    # percentile frames per row instead of three (plan-verified,
    # plans/r10/q_ts_anomaly_mad_{before,after}.txt).
    d = e.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias("med"),
        F.round(
            F.expr("percentile(value, 0.75)").over(w)
            - F.expr("percentile(value, 0.25)").over(w),
            6,
        ).alias("iqr"),
    )
    return d.select(
        "event_id",
        "event_type",
        "value",
        "med",
        "iqr",
        (F.abs(F.col("value") - F.col("med")) > 1.5 * F.col("iqr")).alias(
            "is_anomaly"
        ),
    )


def q_ts_changepoint(spark: SparkSession, sf: str) -> DataFrame:
    """Offline CUSUM changepoint per series (Page 1954 shape, depth-1
    binary segmentation): S_t = Σ_{i≤t}(y_i − ȳ); the mean-shift point is
    argmax |S_t|. One running-frame window pass per series + a keyed
    self-join for the before/after means — no Python, no iteration. The
    argmax ranks the ROUNDED statistic (tie-break earliest ts): ranking
    raw doubles would let a last-ulp difference pick a different ts per
    engine (the rounded-then-ranked rule, cf. q_text_tfidf)."""
    from python_darima_spark.operators.timeseries import cusum_changepoint

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("hour", "ts").alias("ts"),
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    return cusum_changepoint(hourly).select(
        "series_id", "cp_ts", "abs_s", "mean_before", "mean_after"
    )


def q_ts_twap(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-WEIGHTED average over IRREGULAR observations (TimescaleDB
    ``time_weight('LOCF', ...)`` semantics) — the correct daily average
    when sampling is uneven, where a plain avg() over-weights bursty
    periods: each observation's value holds until the next observation
    (last-observation-carried-forward), weighted by that holding
    interval in exact SECONDS; the final day average is
    Σ(value_e3 · dur_us) / Σ(dur_us) with the numerator an exact BIGINT
    sum (value MILLI-units × exact microsecond durations — milli not
    micro because the per-group numerator is bounded by
    max(v_e3)·86400e6 ≈ 5e16, provably inside BIGINT for any value
    distribution, where micro-units could overflow Spark's long on a
    sparse high-valued series while DuckDB silently promotes to
    HUGEINT), so cross-engine
    summation order cannot move the hash and the only float is the one
    final division. Per (series, day): observations ordered by ts, the
    interval to the NEXT observation via lead() (the day's last
    observation extends to midnight). One keyed window + one keyed agg
    on the same (series, day) partitioning — a single exchange; at
    100 TB this is the standard irregular-series downsampler (the
    window never spans series)."""
    ev = load(spark, sf, "events")
    obs = ev.select(
        F.col("event_type").alias("series_id"),
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.floor(F.col("value") * F.lit(1e3) + F.lit(0.5))
        .cast("long")
        .alias("v_e3"),
    )
    # multiple events can share a timestamp: pre-aggregate to one
    # observation per instant (mean in micro-units, floor-quantized) so
    # lead() intervals are well-defined and identical both engines
    obs = obs.groupBy("series_id", "day", "ts").agg(
        F.floor(F.avg("v_e3")).cast("long").alias("v_e3")
    )
    w = Window.partitionBy("series_id", "day").orderBy("ts")
    timed = obs.select(
        "series_id",
        "day",
        "v_e3",
        (
            F.unix_micros(
                F.coalesce(
                    F.lead("ts").over(w),
                    F.col("day") + F.expr("INTERVAL 1 DAY"),
                )
            )
            - F.unix_micros(F.col("ts"))
        )
        .alias("dur_us"),
    )
    return (
        timed.groupBy("series_id", "day")
        .agg(
            F.count("*").alias("n_obs"),
            F.sum("dur_us").alias("total_us"),
            F.sum(F.col("v_e3") * F.col("dur_us")).alias("wsum"),
        )
        .select(
            "series_id",
            "day",
            "n_obs",
            (
                F.col("wsum").cast("double")
                / F.col("total_us").cast("double")
                / F.lit(1e3)
            ).alias("twap"),
        )
    )


def q_ts_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hour AND day aggregates
    of events per event_type in ONE pass via GROUPING SETS — a single
    Expand (2×) feeding one shuffle on the grouping key, instead of two
    scans + two shuffles for separate hour/day queries. Plain count/sum
    only: no distinct-sketch buffers ride the Expand (see PLANS.md §2.5
    HLL/Expand hazard)."""
    e = load(spark, sf, "events").select(
        F.date_trunc("day", "ts").alias("day_ts"),
        F.date_trunc("hour", "ts").alias("hour_ts"),
        "event_type",
        "value",
    )
    agg = e.groupingSets(
        [["day_ts", "event_type"], ["hour_ts", "event_type"]],
        "day_ts", "hour_ts", "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    return agg.select(
        F.when(F.col("hour_ts").isNull(), "day").otherwise("hour").alias("grain"),
        F.coalesce("hour_ts", "day_ts").alias("bucket_ts"),
        "event_type",
        "n",
        "sum_value",
    )


def q_ts_holtwinters(spark: SparkSession, sf: str) -> DataFrame:
    """Additive Holt-Winters 24-step forecast per series — the second
    forecasting family beside the ARIMA pipeline (exponential smoothing;
    operators/timeseries.py:holt_winters_forecast). Rows-only driver
    check like the other fit/forecast entries (the sequential recursion
    is not SQL-expressible); the real oracle is the single-series numpy
    twin asserted equal in tests/test_domain_queries.py."""
    fc = holt_winters_forecast(_hourly_series(spark, sf), period=24, h=24)
    return fc.select(
        "series_id", "step", "ts", F.round("mean", 6).alias("mean")
    )


def q_ts_holt_recursive(spark: SparkSession, sf: str) -> DataFrame:
    """Hash-green EXPONENTIAL-SMOOTHING recursion — the q_ts_eval_metrics
    trick applied to the smoothing recursion itself. q_ts_holtwinters can
    only ever get a rows-only driver check because its per-step float
    recursion is engine-divergent; this twin runs the SAME sequential
    level/trend update (Holt's linear method, α=β=½) in exact integer
    micro-unit arithmetic, so the recursion is deterministic and DuckDB
    can replay it with a recursive CTE:

        l_t = floor((y_t + l_{t-1} + b_{t-1}) / 2)
        b_t = floor((l_t - l_{t-1} + b_{t-1}) / 2),   l_1 = y_1, b_1 = 0

    Every operand stays a BIGINT (micro-units of the hourly sum), and
    floor((a)/2.0) is exact for |a| < 2^53, so Spark's grouped Arrow UDF
    and the oracle's recursive CTE produce bit-identical states — the
    driver hash check covers a genuinely sequential recursion, not just
    its unrolled first steps. Scale: identical to q_ts_holtwinters (one
    task per series, driver holds nothing); the per-series Python loop IS
    the operator (sequential by construction, not a missed built-in).
    Emits final level/trend + the h∈{1,2,3} linear forecast per series."""
    import pandas as pd

    ev = load(spark, sf, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("series_id"),
        F.date_trunc("hour", "ts").alias("ts"),
    ).agg(
        F.floor(F.sum("value") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("y_i6")
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        ys = [int(v) for v in pdf["y_i6"].tolist()]
        lev, tr = ys[0], 0
        for y in ys[1:]:
            nl = (y + lev + tr) // 2
            tr = (nl - lev + tr) // 2
            lev = nl
        hs = [1, 2, 3]
        return pd.DataFrame(
            {
                "series_id": pdf["series_id"].iloc[0],
                "h": pd.array(hs, dtype="int32"),
                "level": lev / 1e6,
                "trend": tr / 1e6,
                "yhat": [(lev + h * tr) / 1e6 for h in hs],
            }
        )

    return hourly.groupBy("series_id").applyInPandas(
        _one, "series_id string, h int, level double, trend double, yhat double"
    )


def q_ts_eval_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Driver-visible run of the reference's EVALUATION stage (R32-R35,
    /root/reference/darima.py:425-488): per-timestamp MASE / sMAPE /
    MSIS through the engine's real ``evaluate()`` path. The forecast
    under evaluation is the deterministic SEASONAL-NAIVE (the last train
    day repeated by hour-of-day, ± a constant interval) rather than the
    ARIMA mean — identical metric arithmetic, but every input is
    SQL-expressible, so this entry carries a full DuckDB hash oracle
    where q_ts_forecast can only ever get a rows-only check. Scale: the
    naive forecast is a per-series window slice + hour-of-day join;
    evaluate()'s MASE scale table is one row per series and joins
    AQE-sized (pipeline.py evaluate docstring)."""
    series = _hourly_series(spark, sf)
    w = Window.partitionBy("series_id")
    bounded = series.withColumn("_max_ts", F.max("ts").over(w))
    cut = F.col("_max_ts") - F.expr("INTERVAL 24 HOURS")
    train = bounded.where(F.col("ts") <= cut).drop("_max_ts")
    test = bounded.where(F.col("ts") > cut).drop("_max_ts")
    wl = Window.partitionBy("series_id").orderBy(F.desc("ts"))
    last_day = (
        train.withColumn("_rn", F.row_number().over(wl))
        .where(F.col("_rn") <= 24)
        .select(
            "series_id", F.hour("ts").alias("_hod"), F.col("y").alias("mean")
        )
    )
    fc = (
        test.select("series_id", "ts", F.hour("ts").alias("_hod"))
        .join(last_day, ["series_id", "_hod"])
        .select(
            "series_id",
            "ts",
            "mean",
            (F.col("mean") - 10.0).alias("lo_80"),
            (F.col("mean") + 10.0).alias("hi_80"),
        )
    )
    cfg = DarimaConfig(period=24, levels=(80,))
    ev = evaluate(fc, test, train, cfg)
    return ev.select(
        "series_id",
        "ts",
        F.round("mase", 6).alias("mase"),
        F.round("smape", 6).alias("smape"),
        F.round("msis_80", 6).alias("msis_80"),
    )


def q_ts_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLING-ORIGIN BACKTESTING — the evaluation harness the reference
    lacks (it scores one fixed holdout, darima.py:417-488; rolling
    origins are the standard for forecast model selection): three
    origins per series (cutoff = max_ts − fold·48 h), horizon 24 h,
    seasonal-naive forecaster ŷ(t) = y(t − 24 h) so every quantity is
    SQL-expressible and the fold/join/metric plumbing is hash-verified
    end-to-end (swap in `forecast()` for the ARIMA path — same fold
    frame, rows-only). Per (series, fold): MAE and sMAPE over the 24
    points, carried as EXACT integer micro-unit sums (floor(x·1e4+0.5)
    per term, summed as BIGINT — the classifier/zorder pattern): a
    float average is summation-order-dependent at the ulp level, and
    with 24 terms one fixture cell landed within an ulp of the round(4)
    boundary, flipping between partition counts. Integer sums are
    order-independent, so the contract has no float aggregation at all.
    Plan: fold frame is a per-series aggregate (broadcast-sized); the
    horizon slice and the t−24 h prediction join are keyed on
    (series, ts) — two keyed joins, no window over the full grid."""
    grid = _hourly_series(spark, sf)
    folds = (
        grid.groupBy("series_id")
        .agg(F.max("ts").alias("_hi"))
        .select(
            "series_id",
            "_hi",
            F.explode(F.expr("array(1, 2, 3)")).alias("fold"),
        )
        .withColumn(
            "cutoff", F.expr("_hi - make_interval(0, 0, 0, 0, fold * 48, 0, 0)")
        )
    )
    horizon = grid.join(F.broadcast(folds), "series_id").where(
        (F.col("ts") > F.col("cutoff"))
        & (
            F.col("ts")
            <= F.expr("cutoff + make_interval(0, 0, 0, 0, 24, 0, 0)")
        )
    )
    pred = grid.select(
        "series_id",
        F.expr("ts + make_interval(0, 0, 0, 0, 24, 0, 0)").alias("ts"),
        F.col("y").alias("_pred"),
    )
    scored = horizon.join(pred, ["series_id", "ts"])
    # terms are built from ROUNDED grid values: grid.y is itself a float
    # sum whose ulps vary with partitioning, and an unrounded ae can sit
    # exactly on a floor(·1e4+0.5) boundary — rounding first pins both
    # engines to the identical double before any integer conversion
    y6, p6 = F.round("y", 6), F.round("_pred", 6)
    ae = F.abs(y6 - p6)
    denom = F.abs(y6) + F.abs(p6)
    smape_term = F.when(denom == 0, F.lit(0.0)).otherwise(2.0 * ae / denom)
    return (
        scored.groupBy("series_id", "fold")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.floor(ae * 1e4 + 0.5).cast("long")).alias("sum_ae_e4"),
            F.sum(F.floor(smape_term * 1e6 + 0.5).cast("long")).alias(
                "sum_smape_e6"
            ),
        )
    )


def q_ts_backtest_arima(spark: SparkSession, sf: str) -> DataFrame:
    """The REAL-model half of the backtesting harness: the same three
    rolling origins as q_ts_backtest, but forecast by the full DARIMA
    fit+combine+recursive-forecast path instead of seasonal naive. Per
    fold the train slice is a plan-level filter (ts ≤ cutoff) — three
    fit pipelines union into one job, each a grouped Arrow fit + hash
    combine + per-series Arrow forecast exactly like q_ts_forecast. Rows-only
    (ARIMA is not SQL-expressible); the fold/metric plumbing it shares
    with q_ts_backtest IS hash-verified there, so this entry adds only
    the model swap. Output: (series_id, fold, n_points, mae)."""
    grid = _hourly_series(spark, sf).localCheckpoint(eager=True)
    cfg = DarimaConfig(
        num_windows=2, period=24, tol=24, max_p=2, max_q=1, max_P=0, method="mean"
    )
    bounds = grid.groupBy("series_id").agg(F.max("ts").alias("_hi"))
    per_fold = []
    for fold in (1, 2, 3):
        cut = bounds.select(
            "series_id",
            F.expr(
                f"_hi - make_interval(0, 0, 0, 0, {fold * 48}, 0, 0)"
            ).alias("cutoff"),
        )
        train = grid.join(F.broadcast(cut), "series_id").where(
            F.col("ts") <= F.col("cutoff")
        ).select("series_id", "ts", "y")
        coefs = darima(train, cfg).coefs
        fc = forecast(train, coefs, h=24, cfg=cfg).select(
            "series_id", "ts", F.col("mean").alias("_pred")
        )
        scored = grid.join(fc, ["series_id", "ts"]).select(
            "series_id",
            F.lit(fold).alias("fold"),
            F.abs(F.col("y") - F.col("_pred")).alias("_ae"),
        )
        per_fold.append(scored)
    allf = per_fold[0].union(per_fold[1]).union(per_fold[2])
    return allf.groupBy("series_id", "fold").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg("_ae"), 4).alias("mae"),
    )


def q_ts_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series LINEAR TREND via the SQL regression aggregates
    (regr_slope / regr_intercept / regr_r2) — the cheap screen a metric
    catalog runs before reaching for a model: one hash aggregate per
    series, no window, no Python. The regressor is hours SINCE SERIES
    START (one broadcast-joined min per series), not epoch hours —
    centering keeps the moment sums far from catastrophic cancellation,
    so the 6-decimal rounding sits ~6 orders above the engines'
    summation-order ulps."""
    grid = _hourly_series(spark, sf)
    start = grid.groupBy("series_id").agg(F.min("ts").alias("_t0"))
    x = (
        F.col("ts").cast("double") - F.col("_t0").cast("double")
    ) / 3600.0
    return (
        grid.join(F.broadcast(start), "series_id")
        .groupBy("series_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope(F.col("y"), x), 6).alias("slope_per_hour"),
            F.round(F.regr_intercept(F.col("y"), x), 4).alias("intercept"),
            F.round(F.regr_r2(F.col("y"), x), 6).alias("r2"),
        )
    )


def q_ts_xcorr(spark: SparkSession, sf: str) -> DataFrame:
    """Lead-lag CROSS-CORRELATION matrix between series: Pearson corr of
    series A at t against series B at t − lag for lags 0..2 h — the
    standard screen for leading indicators across a metric catalog. One
    keyed self-join on the shifted timestamp (the lag set rides an
    explode on the probe side), one corr aggregate per (A, B, lag);
    corr is rounded to 4 so the two engines' streaming-moment
    accumulation orders cannot flip the hash. At scale the join is keyed
    on (ts) with series fan-out — partition the grid by time range and
    both sides co-locate."""
    grid = _hourly_series(spark, sf)
    probe = (
        grid.select(
            F.col("series_id").alias("sid_a"), "ts", F.col("y").alias("_ya")
        )
        .withColumn("lag", F.explode(F.expr("array(0, 1, 2)")))
        .withColumn(
            "_bts", F.expr("ts - make_interval(0, 0, 0, 0, lag, 0, 0)")
        )
    )
    base = grid.select(
        F.col("series_id").alias("sid_b"),
        F.col("ts").alias("_bts"),
        F.col("y").alias("_yb"),
    )
    return (
        probe.join(base, "_bts")
        .groupBy("sid_a", "sid_b", "lag")
        .agg(F.round(F.corr("_ya", "_yb"), 4).alias("xcorr"))
    )


# Shared oracle restatement of resample_regular's hourly grid (sum per
# hour, per-series gap-free spine, gaps filled with 0.0) — the input CTE
# for every oracle that consumes _hourly_series.
def q_ts_motif(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-SERIES MOTIF DISCOVERY, SAX-style (Lin et al. 2003): the
    hourly grid is discretized per series into quartile letters a–d
    (ntile(4) over the micro-unit-quantized value with a unique ts
    tiebreak — both engines implement ANSI ntile's equal-buckets-
    remainder-first rule, and quantizing BEFORE the ordering keeps
    cross-engine sum ulps out of the bucket boundaries), then sliding
    4-hour words are formed with three leads and counted per series;
    top-5 recurring words (count desc, word asc) are the motifs. This
    is the symbolic screen a monitoring system runs to find repeated
    daily shapes before any expensive distance computation. One keyed
    window for ntile + one for the leads (same partitioning, one
    exchange), one keyed agg, top-k window on the tiny word table —
    at 100 TB every stage is per-series."""
    grid = _hourly_series(spark, sf)
    q = grid.select(
        "series_id",
        "ts",
        F.floor(F.col("y") * 1e6 + F.lit(0.5)).cast("long").alias("yq"),
    )
    lettered = q.withColumn(
        "c", F.expr("substring('abcd', ntile(4) OVER (PARTITION BY series_id ORDER BY yq, ts), 1)")
    )
    lw = Window.partitionBy("series_id").orderBy("ts")
    words = lettered.select(
        "series_id",
        F.concat(
            "c",
            F.lead("c", 1).over(lw),
            F.lead("c", 2).over(lw),
            F.lead("c", 3).over(lw),
        ).alias("word"),
    ).where(F.col("word").isNotNull())
    counts = words.groupBy("series_id", "word").agg(F.count("*").alias("n"))
    tw = Window.partitionBy("series_id").orderBy(F.desc("n"), F.asc("word"))
    return (
        counts.withColumn("rank", F.row_number().over(tw))
        .where(F.col("rank") <= 5)
        .select("series_id", "word", "n", "rank")
    )


def q_ts_downsample_ltob(spark: SparkSession, sf: str) -> DataFrame:
    """VISUAL DOWNSAMPLING, largest-triangle-one-bucket (the LTOB
    variant of Steinarsson's LTTB, 2013 — LTTB's previous-SELECTED-
    point dependency is sequential; LTOB's fixed prev/next neighbors
    keep it one window pass and relational): per series, each daily
    bucket of the hourly grid keeps the point with the largest
    triangle area against its immediate neighbors — the perceptually
    important extremes — cutting 24× while preserving shape. Area is
    EXACT integer arithmetic (cross product on hour index × micro-unit
    y, |(x_p−x_n)(y_c−y_p) − (x_p−x_c)(y_n−y_p)|), argmax ties to the
    earlier hour, so the selection hash-matches. One lag/lead window +
    one argmax window per series — the same single-exchange shape as
    every grid operator here."""
    grid = _hourly_series(spark, sf)
    w0 = Window.partitionBy("series_id").orderBy("ts")
    q = grid.select(
        "series_id",
        "ts",
        F.floor(F.col("y") * 1e6 + F.lit(0.5)).cast("long").alias("yq"),
        F.row_number().over(w0).cast("long").alias("xi"),
    )
    nb = q.select(
        "series_id",
        "ts",
        "yq",
        "xi",
        F.lag("yq").over(w0).alias("yp"),
        F.lead("yq").over(w0).alias("yn"),
        F.lag("xi").over(w0).alias("xp"),
        F.lead("xi").over(w0).alias("xn"),
    ).where(F.col("yp").isNotNull() & F.col("yn").isNotNull())
    area = F.abs(
        (F.col("xp") - F.col("xn")) * (F.col("yq") - F.col("yp"))
        - (F.col("xp") - F.col("xi")) * (F.col("yn") - F.col("yp"))
    )
    scored = nb.select(
        "series_id",
        "ts",
        "yq",
        F.expr("(xi - 1) div 24").cast("long").alias("bucket"),
        area.alias("area"),
    )
    aw = Window.partitionBy("series_id", "bucket").orderBy(
        F.desc("area"), F.asc("ts")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(aw))
        .where(F.col("_rn") == 1)
        .select(
            "series_id",
            "bucket",
            "ts",
            (F.col("yq") / F.lit(1e6)).alias("y"),
            "area",
        )
        .orderBy("series_id", "bucket")
    )


_STL_ORACLE = """WITH hourly AS (
             SELECT event_type AS series_id,
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
                    CAST(floor(sum(value) * 1e6 + 0.5) AS BIGINT) AS y_i6
             FROM events GROUP BY 1, 2
           ), tr AS (
             SELECT series_id, ts, y_i6,
                    CAST(floor(
                        CAST(sum(y_i6) OVER w AS DOUBLE)
                        / count(y_i6) OVER w + 0.5) AS BIGINT) AS trend_i6
             FROM hourly
             WINDOW w AS (PARTITION BY series_id ORDER BY ts
                          ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
           ), dt AS (
             SELECT *, y_i6 - trend_i6 AS detr_i6, hour(ts) AS hod
             FROM tr
           ), seas AS (
             SELECT series_id, hod,
                    CAST(floor(CAST(sum(detr_i6) AS DOUBLE) / count(*)
                               + 0.5) AS BIGINT) AS seasonal_i6
             FROM dt GROUP BY 1, 2
           )
           SELECT dt.series_id, dt.ts,
                  dt.y_i6 / 1e6 AS y,
                  dt.trend_i6 / 1e6 AS trend,
                  seas.seasonal_i6 / 1e6 AS seasonal,
                  (dt.detr_i6 - seas.seasonal_i6) / 1e6 AS resid
           FROM dt JOIN seas USING (series_id, hod)"""


def q_ts_strength(spark: SparkSession, sf: str) -> DataFrame:
    """TREND / SEASONAL STRENGTH (Hyndman's tsfeatures F_T = max(0,
    1 − Var(R)/Var(T+R)), F_S = max(0, 1 − Var(R)/Var(S+R))) — the
    per-series features a forecasting catalog computes to ROUTE models
    (strong seasonality → seasonal model) before any fit. COMPOSES the
    certified q_ts_stl decomposition: components are re-quantized to
    exact milli-unit BIGINTs (round of identical doubles — both
    engines divided the same i6 integers, so the integers agree), the
    variances come from exact (n, Σv, Σv²) sums, and only the final
    ratio is a double. Milli not micro: Σv² stays ≪ 2^63 through
    ~1000× this fixture. One keyed agg over the STL output — strength
    is free once the decomposition exists."""
    stl = q_ts_stl(spark, sf)
    v = stl.select(
        "series_id",
        # floor-quantize, not round(): half-up vs half-even tie rules
        # diverge across engines on exact milli-unit midpoints (ADVICE r5)
        F.floor(F.col("resid") * 1e3 + 0.5).cast("long").alias("r"),
        F.floor((F.col("trend") + F.col("resid")) * 1e3 + 0.5)
        .cast("long")
        .alias("ds"),
        F.floor((F.col("seasonal") + F.col("resid")) * 1e3 + 0.5)
        .cast("long")
        .alias("dt"),
    )
    s = v.groupBy("series_id").agg(
        F.count("*").alias("n"),
        F.sum("r").alias("sr"),
        F.sum(F.col("r") * F.col("r")).alias("srr"),
        F.sum("ds").alias("sds"),
        F.sum(F.col("ds") * F.col("ds")).alias("sdsds"),
        F.sum("dt").alias("sdt"),
        F.sum(F.col("dt") * F.col("dt")).alias("sdtdt"),
    )
    varr = "(CAST(n AS DOUBLE)*CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)*CAST(sr AS DOUBLE))"
    vards = "(CAST(n AS DOUBLE)*CAST(sdsds AS DOUBLE) - CAST(sds AS DOUBLE)*CAST(sds AS DOUBLE))"
    vardt = "(CAST(n AS DOUBLE)*CAST(sdtdt AS DOUBLE) - CAST(sdt AS DOUBLE)*CAST(sdt AS DOUBLE))"
    return s.select(
        "series_id",
        "n",
        F.expr(
            f"floor(greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - {varr} / {vards}) * 1e6 + 0.5) / 1e6"
        ).alias("trend_strength"),
        F.expr(
            f"floor(greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - {varr} / {vardt}) * 1e6 + 0.5) / 1e6"
        ).alias("seasonal_strength"),
    ).orderBy("series_id")


_GRID_CTE = """t AS (
             SELECT event_type AS series_id, date_trunc('hour', ts) AS ts,
                    sum(value) AS y
             FROM events GROUP BY 1, 2
           ), b AS (
             SELECT series_id, min(ts) AS lo, max(ts) AS hi FROM t GROUP BY 1
           ), g AS (
             SELECT series_id,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
             FROM b
           ), grid AS (
             SELECT g.series_id, g.ts, coalesce(t.y, 0.0) AS y
             FROM g LEFT JOIN t USING (series_id, ts)
           )"""

QUERIES = {
    "q_ts_downsample_ltob": QuerySpec(
        q_ts_downsample_ltob,
        f"""WITH {_GRID_CTE.strip()}, q AS (
             SELECT series_id, ts,
                    CAST(floor(y * 1e6 + 0.5) AS BIGINT) AS yq,
                    CAST(row_number() OVER w AS BIGINT) AS xi
             FROM grid
             WINDOW w AS (PARTITION BY series_id ORDER BY ts)
           ), nb AS (
             SELECT series_id, ts, yq, xi,
                    lag(yq) OVER w AS yp, lead(yq) OVER w AS yn,
                    lag(xi) OVER w AS xp, lead(xi) OVER w AS xn
             FROM q
             WINDOW w AS (PARTITION BY series_id ORDER BY ts)
           ), scored AS (
             SELECT series_id, ts, yq,
                    (xi - 1) // 24 AS bucket,
                    abs((xp - xn) * (yq - yp)
                        - (xp - xi) * (yn - yp)) AS area
             FROM nb WHERE yp IS NOT NULL AND yn IS NOT NULL
           )
           SELECT series_id, CAST(bucket AS BIGINT) AS bucket, ts,
                  yq / 1e6 AS y, CAST(area AS BIGINT) AS area
           FROM (
             SELECT *, row_number() OVER (
                 PARTITION BY series_id, bucket
                 ORDER BY area DESC, ts) AS rn
             FROM scored
           ) WHERE rn = 1
           ORDER BY series_id, bucket""",
    ),
    "q_ts_motif": QuerySpec(
        q_ts_motif,
        f"""WITH {_GRID_CTE.strip()}, yq AS (
             SELECT series_id, ts,
                    CAST(floor(y * 1e6 + 0.5) AS BIGINT) AS yq
             FROM grid
           ), lettered AS (
             SELECT series_id, ts,
                    substring('abcd', ntile(4) OVER (
                        PARTITION BY series_id ORDER BY yq, ts), 1) AS c
             FROM yq
           ), words AS (
             SELECT series_id,
                    c || lead(c, 1) OVER w || lead(c, 2) OVER w
                      || lead(c, 3) OVER w AS word
             FROM lettered
             WINDOW w AS (PARTITION BY series_id ORDER BY ts)
           ), counts AS (
             SELECT series_id, word, CAST(count(*) AS BIGINT) AS n
             FROM words WHERE word IS NOT NULL GROUP BY 1, 2
           )
           SELECT series_id, word, n, rank FROM (
             SELECT *, CAST(row_number() OVER (
                 PARTITION BY series_id ORDER BY n DESC, word)
                 AS INTEGER) AS rank
             FROM counts
           ) WHERE rank <= 5""",
    ),
    "q_ts_holtwinters": QuerySpec(q_ts_holtwinters),  # rows-only: numpy oracle in tests
    "q_ts_holt_recursive": QuerySpec(
        q_ts_holt_recursive,
        """WITH RECURSIVE s AS (
             SELECT event_type AS series_id,
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
                    CAST(floor(sum(value) * 1e6 + 0.5) AS BIGINT) AS y
             FROM events GROUP BY 1, 2
           ), r AS (
             SELECT series_id, y,
                    row_number() OVER (
                        PARTITION BY series_id ORDER BY ts) AS rn
             FROM s
           ), mx AS (
             SELECT series_id, max(rn) AS t FROM r GROUP BY 1
           ), rec AS (
             SELECT series_id, rn, y AS l, CAST(0 AS BIGINT) AS b
             FROM r WHERE rn = 1
             UNION ALL
             SELECT r.series_id, r.rn,
                    CAST(floor((r.y + rec.l + rec.b) / 2.0) AS BIGINT),
                    CAST(floor((CAST(floor((r.y + rec.l + rec.b) / 2.0)
                                     AS BIGINT) - rec.l + rec.b) / 2.0)
                         AS BIGINT)
             FROM rec JOIN r ON r.series_id = rec.series_id
                            AND r.rn = rec.rn + 1
           )
           SELECT rec.series_id, h.h,
                  rec.l / 1e6 AS level,
                  rec.b / 1e6 AS trend,
                  (rec.l + h.h * rec.b) / 1e6 AS yhat
           FROM rec
           JOIN mx ON rec.series_id = mx.series_id AND rec.rn = mx.t
           CROSS JOIN (VALUES (1), (2), (3)) AS h(h)""",
    ),
    "q_ts_eval_metrics": QuerySpec(
        q_ts_eval_metrics,
        """WITH t AS (
             SELECT event_type AS series_id, date_trunc('hour', ts) AS ts,
                    sum(value) AS y
             FROM events GROUP BY 1, 2
           ), b AS (
             SELECT series_id, min(ts) AS lo, max(ts) AS hi FROM t GROUP BY 1
           ), g AS (
             SELECT series_id,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
             FROM b
           ), s AS (
             SELECT g.series_id, g.ts, coalesce(t.y, 0.0) AS y,
                    b.hi AS max_ts
             FROM g
             LEFT JOIN t USING (series_id, ts)
             JOIN b USING (series_id)
           ), train AS (
             SELECT series_id, ts, y FROM s
             WHERE ts <= max_ts - INTERVAL 24 HOUR
           ), test AS (
             SELECT series_id, ts, y FROM s
             WHERE ts > max_ts - INTERVAL 24 HOUR
           ), last_day AS (
             SELECT series_id, hour(ts) AS hod, y AS fc_mean
             FROM (SELECT series_id, ts, y, row_number() OVER (
                       PARTITION BY series_id ORDER BY ts DESC) AS rn
                   FROM train)
             WHERE rn <= 24
           ), scale AS (
             SELECT series_id, avg(abs(y - ly)) AS sc
             FROM (SELECT series_id, y, lag(y, 24) OVER (
                       PARTITION BY series_id ORDER BY ts) AS ly
                   FROM train)
             WHERE ly IS NOT NULL GROUP BY 1
           )
           SELECT test.series_id, test.ts,
                  round(abs(test.y - fc_mean) / sc, 6) AS mase,
                  round(abs(test.y - fc_mean)
                        / ((abs(test.y) + abs(fc_mean)) / 2), 6) AS smape,
                  round((((fc_mean + 10.0) - (fc_mean - 10.0))
                         + CASE WHEN test.y < fc_mean - 10.0
                                THEN (2.0 / 0.2) * ((fc_mean - 10.0) - test.y)
                                ELSE 0.0 END
                         + CASE WHEN test.y > fc_mean + 10.0
                                THEN (2.0 / 0.2) * (test.y - (fc_mean + 10.0))
                                ELSE 0.0 END) / sc, 6) AS msis_80
           FROM test
           JOIN last_day ON last_day.series_id = test.series_id
                        AND hod = hour(test.ts)
           LEFT JOIN scale ON scale.series_id = test.series_id""",
    ),
    "q_ts_backtest": QuerySpec(
        q_ts_backtest,
        f"""WITH {_GRID_CTE}, f AS (
             SELECT series_id, fold,
                    hi - to_hours(fold * 48) AS cutoff
             FROM (SELECT series_id, max(ts) AS hi FROM grid GROUP BY 1),
                  (SELECT unnest([1, 2, 3]) AS fold)
           ), h AS (
             SELECT grid.series_id, grid.ts, grid.y, f.fold
             FROM grid JOIN f USING (series_id)
             WHERE grid.ts > f.cutoff
               AND grid.ts <= f.cutoff + to_hours(24)
           ), p AS (
             SELECT series_id, ts + to_hours(24) AS ts, y AS pred FROM grid
           )
           SELECT h.series_id, h.fold,
                  CAST(count(*) AS BIGINT) AS n_points,
                  CAST(sum(CAST(floor(
                      abs(round(h.y, 6) - round(p.pred, 6)) * 1e4 + 0.5)
                                AS BIGINT)) AS BIGINT) AS sum_ae_e4,
                  CAST(sum(CAST(floor(
                      (CASE WHEN abs(round(h.y, 6)) + abs(round(p.pred, 6))
                                 = 0 THEN 0.0
                            ELSE 2.0 * abs(round(h.y, 6) - round(p.pred, 6))
                                 / (abs(round(h.y, 6))
                                    + abs(round(p.pred, 6))) END)
                      * 1e6 + 0.5)
                      AS BIGINT)) AS BIGINT) AS sum_smape_e6
           FROM h JOIN p USING (series_id, ts)
           GROUP BY 1, 2""",
    ),
    "q_ts_trend": QuerySpec(
        q_ts_trend,
        f"""WITH {_GRID_CTE}, s AS (
             SELECT series_id, min(ts) AS t0 FROM grid GROUP BY 1
           )
           SELECT g2.series_id, CAST(count(*) AS BIGINT) AS n,
                  round(regr_slope(g2.y,
                      epoch(g2.ts - s.t0) / 3600.0), 6) AS slope_per_hour,
                  round(regr_intercept(g2.y,
                      epoch(g2.ts - s.t0) / 3600.0), 4) AS intercept,
                  round(regr_r2(g2.y,
                      epoch(g2.ts - s.t0) / 3600.0), 6) AS r2
           FROM grid g2 JOIN s USING (series_id)
           GROUP BY g2.series_id""",
    ),
    "q_ts_xcorr": QuerySpec(
        q_ts_xcorr,
        f"""WITH {_GRID_CTE}, pr AS (
             SELECT series_id AS sid_a, ts, y AS ya,
                    unnest([0, 1, 2]) AS lag
             FROM grid
           )
           SELECT pr.sid_a, b2.series_id AS sid_b, pr.lag,
                  round(corr(pr.ya, b2.y), 4) AS xcorr
           FROM pr JOIN grid b2 ON b2.ts = pr.ts - to_hours(pr.lag)
           GROUP BY 1, 2, 3""",
    ),
    "q_ts_resample": QuerySpec(
        q_ts_resample,
        f"""WITH {_GRID_CTE}
           SELECT series_id, ts, round(y, 6) AS y FROM grid""",
    ),
    "q_ts_rollup": QuerySpec(
        q_ts_rollup,
        """WITH e AS (
             SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day_ts,
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_ts,
                    event_type, value
             FROM events
           )
           SELECT CASE WHEN hour_ts IS NULL THEN 'day' ELSE 'hour' END AS grain,
                  COALESCE(hour_ts, day_ts) AS bucket_ts,
                  event_type,
                  COUNT(*) AS n,
                  round(SUM(value), 4) AS sum_value
           FROM e
           GROUP BY GROUPING SETS ((day_ts, event_type), (hour_ts, event_type))""",
    ),
    "q_ts_twap": QuerySpec(
        q_ts_twap,
        """WITH o0 AS (
             SELECT event_type AS series_id,
                    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                    CAST(ts AS TIMESTAMP) AS ts,
                    CAST(floor(value * 1e3 + 0.5) AS BIGINT) AS v_e3
             FROM events
           ), o AS (
             SELECT series_id, day, ts,
                    CAST(floor(avg(v_e3)) AS BIGINT) AS v_e3
             FROM o0 GROUP BY 1, 2, 3
           ), t AS (
             SELECT series_id, day, v_e3,
                    epoch_us(coalesce(
                        lead(ts) OVER (
                            PARTITION BY series_id, day ORDER BY ts),
                        day + INTERVAL 1 DAY))
                    - epoch_us(ts) AS dur_us
             FROM o
           )
           SELECT series_id, day,
                  CAST(count(*) AS BIGINT) AS n_obs,
                  CAST(sum(v_e3 * dur_us) AS DOUBLE)
                      / CAST(sum(dur_us) AS DOUBLE) / 1e3 AS twap
           FROM t GROUP BY 1, 2""",
    ),
    "q_ts_gaps_islands": QuerySpec(
        q_ts_gaps_islands,
        """WITH hours AS (
             SELECT DISTINCT event_type AS series_id,
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
             FROM events
           ), keyed AS (
             SELECT series_id, h,
                    datediff('hour',
                        min(h) OVER (PARTITION BY series_id), h)
                    - row_number() OVER (
                        PARTITION BY series_id ORDER BY h) AS ik
             FROM hours
           ), islands AS (
             SELECT series_id, ik,
                    min(h) AS island_start,
                    max(h) AS island_end,
                    CAST(count(*) AS BIGINT) AS n_hours
             FROM keyed GROUP BY 1, 2
           )
           SELECT series_id, island_start, island_end, n_hours,
                  CAST(datediff('hour',
                           lag(island_end) OVER (
                               PARTITION BY series_id
                               ORDER BY island_start),
                           island_start) - 1 AS BIGINT)
                      AS gap_hours_before
           FROM islands""",
    ),
    "q_ts_gapfill": QuerySpec(
        q_ts_gapfill,
        """WITH t AS (
             SELECT CAST(user_id % 25 AS INT) AS series_id,
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
                    floor(sum(value) * 1e6 + 0.5) / 1e6 AS y
             FROM events GROUP BY 1, 2
           ), b AS (
             SELECT series_id, min(ts) AS lo, max(ts) AS hi FROM t GROUP BY 1
           ), g AS (
             SELECT series_id,
                    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
             FROM b
           ), j AS (
             SELECT g.series_id, g.ts, t.y
             FROM g LEFT JOIN t USING (series_id, ts)
           ), w AS (
             SELECT series_id, ts, y,
                    last_value(y IGNORE NULLS) OVER (
                        PARTITION BY series_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS py,
                    last_value(CASE WHEN y IS NOT NULL THEN ts END IGNORE NULLS)
                        OVER (PARTITION BY series_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pts,
                    first_value(y IGNORE NULLS) OVER (
                        PARTITION BY series_id ORDER BY ts
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ny,
                    first_value(CASE WHEN y IS NOT NULL THEN ts END IGNORE NULLS)
                        OVER (PARTITION BY series_id ORDER BY ts
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nts
             FROM j
           )
           SELECT series_id, ts,
                  floor((CASE WHEN y IS NOT NULL THEN y
                             WHEN py IS NOT NULL AND ny IS NOT NULL
                             THEN py + (ny - py)
                                  * ((epoch(ts) - epoch(pts))
                                     / (epoch(nts) - epoch(pts)))
                             ELSE coalesce(py, ny) END) * 1e6 + 0.5)
                      / 1e6 AS y
           FROM w""",
    ),
    "q_ts_stl": QuerySpec(q_ts_stl, _STL_ORACLE),
    "q_ts_strength": QuerySpec(
        q_ts_strength,
        f"""WITH stl AS ({_STL_ORACLE}),
           v AS (
             SELECT series_id,
                    CAST(floor(resid * 1e3 + 0.5) AS BIGINT) AS r,
                    CAST(floor((trend + resid) * 1e3 + 0.5) AS BIGINT) AS ds,
                    CAST(floor((seasonal + resid) * 1e3 + 0.5) AS BIGINT)
                        AS dt
             FROM stl
           ), s AS (
             SELECT series_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(r) AS BIGINT) AS sr,
                    CAST(sum(r * r) AS BIGINT) AS srr,
                    CAST(sum(ds) AS BIGINT) AS sds,
                    CAST(sum(ds * ds) AS BIGINT) AS sdsds,
                    CAST(sum(dt) AS BIGINT) AS sdt,
                    CAST(sum(dt * dt) AS BIGINT) AS sdtdt
             FROM v GROUP BY 1
           )
           SELECT series_id, n,
                  floor(greatest(CAST(0 AS DOUBLE),
                      CAST(1 AS DOUBLE)
                      - (CAST(n AS DOUBLE)*CAST(srr AS DOUBLE)
                         - CAST(sr AS DOUBLE)*CAST(sr AS DOUBLE))
                        / (CAST(n AS DOUBLE)*CAST(sdsds AS DOUBLE)
                           - CAST(sds AS DOUBLE)*CAST(sds AS DOUBLE)))
                      * 1e6 + 0.5) / 1e6 AS trend_strength,
                  floor(greatest(CAST(0 AS DOUBLE),
                      CAST(1 AS DOUBLE)
                      - (CAST(n AS DOUBLE)*CAST(srr AS DOUBLE)
                         - CAST(sr AS DOUBLE)*CAST(sr AS DOUBLE))
                        / (CAST(n AS DOUBLE)*CAST(sdtdt AS DOUBLE)
                           - CAST(sdt AS DOUBLE)*CAST(sdt AS DOUBLE)))
                      * 1e6 + 0.5) / 1e6 AS seasonal_strength
           FROM s ORDER BY series_id""",
    ),
    "q_ts_anomaly_mad": QuerySpec(
        q_ts_anomaly_mad,
        """WITH x AS (
             SELECT event_id, event_type, value,
                    quantile_cont(value, 0.5) OVER w AS med,
                    quantile_cont(value, 0.25) OVER w AS p25,
                    quantile_cont(value, 0.75) OVER w AS p75
             FROM events
             WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                          ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
           )
           SELECT event_id, event_type,
                  round(value, 6) AS value,
                  round(med, 6) AS med,
                  round(p75 - p25, 6) AS iqr,
                  abs(round(value, 6) - round(med, 6))
                      > 1.5 * round(p75 - p25, 6) AS is_anomaly
           FROM x""",
    ),
    "q_ts_changepoint": QuerySpec(
        q_ts_changepoint,
        """WITH hourly AS (
             SELECT event_type AS series_id,
                    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts,
                    CAST(floor(round(sum(value), 6) * 1e6 + 0.5)
                         AS BIGINT) AS yq
             FROM events GROUP BY 1, 2
           ), cum AS (
             SELECT series_id, ts, yq,
                    count(*) OVER (PARTITION BY series_id) AS n,
                    sum(yq) OVER (PARTITION BY series_id) AS tot,
                    sum(yq) OVER w AS cum,
                    row_number() OVER (
                        PARTITION BY series_id ORDER BY ts) AS t
             FROM hourly
             WINDOW w AS (PARTITION BY series_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
           ), ns AS (
             SELECT series_id, ts, n,
                    abs(n * cum - t * tot) AS nsv
             FROM cum
           ), cp AS (
             SELECT series_id, ts AS cp_ts,
                    round(CAST(nsv AS DOUBLE)
                          / (CAST(n AS DOUBLE) * 1e6), 4) AS abs_s
             FROM (SELECT *, row_number() OVER (
                       PARTITION BY series_id
                       ORDER BY nsv DESC, ts) AS rn
                   FROM ns)
             WHERE rn = 1
           )
           SELECT h.series_id, cp.cp_ts, cp.abs_s,
                  round(CAST(sum(CASE WHEN h.ts <= cp.cp_ts
                                 THEN h.yq END) AS DOUBLE)
                        / (CAST(count(CASE WHEN h.ts <= cp.cp_ts
                                      THEN 1 END) AS DOUBLE) * 1e6), 4)
                      AS mean_before,
                  round(CAST(sum(CASE WHEN h.ts > cp.cp_ts
                                 THEN h.yq END) AS DOUBLE)
                        / (CAST(count(CASE WHEN h.ts > cp.cp_ts
                                      THEN 1 END) AS DOUBLE) * 1e6), 4)
                      AS mean_after
           FROM hourly h JOIN cp ON h.series_id = cp.series_id
           GROUP BY 1, 2, 3""",
    ),
    "q_ts_fit_combine": QuerySpec(q_ts_fit_combine, None),
    "q_ts_fit_combine_dlsa": QuerySpec(q_ts_fit_combine_dlsa, None),
    "q_ts_fit_reference_bounds": QuerySpec(q_ts_fit_reference_bounds, None),
    "q_ts_forecast": QuerySpec(q_ts_forecast, None),
    "q_ts_forecast_unrolled": QuerySpec(
        q_ts_forecast_unrolled,
        f"""WITH {_GRID_CTE}, ranked AS (
             SELECT series_id, ts, y, row_number() OVER (
                 PARTITION BY series_id ORDER BY ts DESC) AS rn
             FROM grid
           ), base AS (
             SELECT series_id, max(ts) AS ts_last, count(*) AS t_n,
                    floor(max(CASE WHEN rn = 1 THEN y END) * 1e6 + 0.5)
                        / 1e6 AS y1,
                    floor(max(CASE WHEN rn = 2 THEN y END) * 1e6 + 0.5)
                        / 1e6 AS y2
             FROM ranked GROUP BY series_id
           ), s1 AS (
             SELECT *, {_UF_B0!r} + {_UF_B1!r} * CAST(t_n + 1 AS DOUBLE)
                       + {_UF_A1!r} * y1 + {_UF_A2!r} * y2 AS f1
             FROM base
           ), s2 AS (
             SELECT *, {_UF_B0!r} + {_UF_B1!r} * CAST(t_n + 2 AS DOUBLE)
                       + {_UF_A1!r} * f1 + {_UF_A2!r} * y1 AS f2
             FROM s1
           ), s3 AS (
             SELECT *, {_UF_B0!r} + {_UF_B1!r} * CAST(t_n + 3 AS DOUBLE)
                       + {_UF_A1!r} * f2 + {_UF_A2!r} * f1 AS f3
             FROM s2
           )
           SELECT series_id, step, ts,
                  floor(mean * 1e6 + 0.5) / 1e6 AS mean,
                  floor(se * 1e6 + 0.5) / 1e6 AS se,
                  floor((mean - {_UF_Z[80]!r} * se) * 1e6 + 0.5) / 1e6
                      AS lo_80,
                  floor((mean + {_UF_Z[80]!r} * se) * 1e6 + 0.5) / 1e6
                      AS hi_80,
                  floor((mean - {_UF_Z[95]!r} * se) * 1e6 + 0.5) / 1e6
                      AS lo_95,
                  floor((mean + {_UF_Z[95]!r} * se) * 1e6 + 0.5) / 1e6
                      AS hi_95
           FROM (
             SELECT series_id, 1 AS step, ts_last + INTERVAL 1 HOUR AS ts,
                    f1 AS mean, {_UF_SE[0]!r} AS se FROM s3
             UNION ALL
             SELECT series_id, 2, ts_last + INTERVAL 2 HOUR,
                    f2, {_UF_SE[1]!r} FROM s3
             UNION ALL
             SELECT series_id, 3, ts_last + INTERVAL 3 HOUR,
                    f3, {_UF_SE[2]!r} FROM s3
           )""",
    ),
    "q_ts_fitted": QuerySpec(q_ts_fitted, None),  # data-fit coefs
    "q_ts_fitted_unrolled": QuerySpec(
        q_ts_fitted_unrolled,
        f"""WITH {_GRID_CTE}, r AS (
             SELECT series_id, ts,
                    floor(y * 1e6 + 0.5) / 1e6 AS y6,
                    row_number() OVER w AS t,
                    floor(lag(y, 1) OVER w * 1e6 + 0.5) / 1e6 AS l1,
                    floor(lag(y, 2) OVER w * 1e6 + 0.5) / 1e6 AS l2
             FROM grid
             WINDOW w AS (PARTITION BY series_id ORDER BY ts)
           ), f AS (
             SELECT series_id, ts, y6,
                    floor(({_UF_B0!r} + {_UF_B1!r} * CAST(t AS DOUBLE)
                           + {_UF_A1!r} * l1 + {_UF_A2!r} * l2)
                          * 1e6 + 0.5) / 1e6 AS fitted
             FROM r
           )
           SELECT series_id, ts, fitted,
                  floor((y6 - fitted) * 1e6 + 0.5) / 1e6 AS residual
           FROM f""",
    ),
    # rows-only: the fold/metric plumbing is hash-verified via
    # q_ts_backtest (seasonal-naive twin); this swaps in the real model
    "q_ts_backtest_arima": QuerySpec(q_ts_backtest_arima, None),
    "q_ts_many_series": QuerySpec(q_ts_many_series, None),  # iterative fit
    "q_ts_many_series_census": QuerySpec(
        q_ts_many_series_census,
        """WITH s AS (
             SELECT DISTINCT event_type || '_'
                    || CAST(user_id % 2000 AS VARCHAR) AS series_id
             FROM events
           )
           SELECT series_id,
                  CAST(27 AS BIGINT) AS n_coefs,
                  CAST(27 AS BIGINT) AS n_finite
           FROM s""",
    ),
    "q_ts_seasonal": QuerySpec(
        q_ts_seasonal,
        """WITH q AS (
             SELECT event_type AS series_id,
                    CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
                    CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS y6
             FROM events
           ), prof AS (
             SELECT series_id, hod,
                    CAST(sum(y6) AS BIGINT) AS s, count(*) AS n
             FROM q GROUP BY 1, 2
           ), mu AS (
             SELECT series_id, CAST(sum(y6) AS BIGINT) AS st,
                    count(*) AS nt
             FROM q GROUP BY 1
           )
           SELECT p.series_id, p.hod,
                  floor(CAST(p.s AS DOUBLE)
                        / (CAST(p.n AS DOUBLE) * 1e6) * 1e4 + 0.5) / 1e4
                      AS hod_mean,
                  p.n,
                  floor((CAST(p.s AS DOUBLE)
                         / (CAST(p.n AS DOUBLE) * 1e6)
                         - CAST(mu.st AS DOUBLE)
                           / (CAST(mu.nt AS DOUBLE) * 1e6))
                        * 1e4 + 0.5) / 1e4 AS seasonal
           FROM prof p JOIN mu USING (series_id)""",
    ),
}
