"""Time-series shaping operators: regular-grid resampling and contiguous
window splitting.

The reference splits ONE series with ``df.repartition(n)`` (round-robin,
/root/reference/darima.py:151-155), which destroys the temporal contiguity
the DARIMA method assumes (contiguous blocks per the method paper; see
SURVEY.md §1.4). The engine's default strategies preserve contiguity and
scale to many series:

* ``range``   — window_id from the timestamp's position inside the series'
  [min, max] span. Needs only one tiny per-series aggregate (broadcast
  back); no global sort, no single-partition window — the 100 TB-safe
  default for gap-free regular grids.
* ``ntile``   — exact equal-count contiguous windows via
  ``F.ntile(k).over(Window.partitionBy(series).orderBy(ts))``. Exact but
  sorts each series inside one task; fine when no single series is huge.
* ``roundrobin`` — compat mode reproducing the reference's semantics
  (hash of a monotonic id mod k — temporal contiguity intentionally lost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_darima_spark.operators import epoch_seconds, fan_out


def resample_regular(
    df: DataFrame,
    step: str = "1 hour",
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
    fill: str = "zero",
) -> DataFrame:
    """Gap-fill each series onto a regular grid (operator q_ts_resample).

    Sums the observations per series and truncated timestamp, builds each
    series' [min, max] grid at ``step`` with ``sequence`` + explode
    (distributed, no driver loop), looks each grid point up in the sums,
    then fills gaps: ``zero`` → 0.0, ``null`` → leave null, ``ffill`` →
    last non-null value via an ignore-nulls window, ``interp`` → linear.

    ``step`` must be one unit (``"1 hour"``, ``"1 minute"``, ...):
    ``date_trunc`` truncates to the unit, not to the step, so a multi-unit
    step such as ``"15 minutes"`` would leave off-grid keys that the
    gap-fill lookup never reads. Anything else raises ``ValueError``.
    """
    parts = step.split()
    if len(parts) != 2 or parts[0] != "1":
        raise ValueError(f"step must be one unit, e.g. '1 hour'; got {step!r}")
    unit = parts[1].rstrip("s")  # "1 hour" -> "hour"
    # null grid timestamps can't happen (date_trunc of a null ts): drop
    # them up front — the previous join-based shape dropped such rows
    # implicitly (a null key matches no grid row), and map_from_entries
    # below rejects null keys outright.
    truncated = df.select(
        F.col(series_col),
        F.date_trunc(unit, F.col(ts_col)).alias(ts_col),
        F.col(y_col),
    ).where(F.col(ts_col).isNotNull()).groupBy(series_col, ts_col).agg(
        F.sum(y_col).alias(y_col)
    )

    # Gap-fill WITHOUT the grid join (r11, guide §2.4): the previous shape
    # exploded a per-series [lo, hi] grid and shuffle_hash-joined it back
    # onto the observations — both join sides exchanged by (series, ts),
    # i.e. the full grid (span/step rows per series, 4.6M at sf0.1)
    # crossed the wire, and the downstream fit re-shuffled those rows a
    # second time to pack windows. Instead, pack each series' observed
    # (ts, y) pairs into ONE map row (exactly the per-series-bounded
    # payload the fit's window pack materializes anyway), explode the
    # grid next to its map, and gap-fill with a map lookup — the grid
    # rows are BORN next to their values, so nothing grid-sized is ever
    # shuffled, and the output keeps hashpartitioning(series): the
    # split/pack aggregates downstream reuse it with no new exchange.
    # The y values are byte-identical: same per-(series, step) sum, same
    # sequence() grid, lookup-miss ↔ join-miss.
    # fan_out BEFORE the per-series pack: the packed aggregate is one
    # KB-scale row per series, so every later exchange is a byte-based
    # coalescing target — AQE would run the explode (×span/step rows,
    # e.g. 7.5k series → 4.6M grid rows) and everything fused after it
    # (the ARIMA fit UDF, measured 5.7 s → 44 s when it happened) in a
    # handful of tasks. Pinning the width on the pack's INPUT lets the
    # aggregate, the explode and all series-keyed consumers reuse one
    # full-width hash(series) partitioning with no further exchange.
    packed = fan_out(truncated, series_col).groupBy(series_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col(ts_col), F.col(y_col)))
        ).alias("_obs"),
        F.min(ts_col).alias("_lo"),
        F.max(ts_col).alias("_hi"),
    )
    joined = (
        packed
        .select(
            series_col,
            "_obs",
            F.explode(
                F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step}"))
            ).alias(ts_col),
        )
        .select(
            series_col,
            ts_col,
            # try_element_at: NULL on a gap hour (ANSI mode would make
            # plain element_at/getItem throw on the missing key)
            F.try_element_at("_obs", F.col(ts_col)).alias(y_col),
        )
    )
    if fill == "zero":
        out = joined.withColumn(y_col, F.coalesce(F.col(y_col), F.lit(0.0)))
    elif fill == "ffill":
        w = (
            Window.partitionBy(series_col)
            .orderBy(ts_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = joined.withColumn(y_col, F.last(y_col, ignorenulls=True).over(w))
    elif fill == "interp":
        out = interpolate_linear(joined, series_col, ts_col, y_col)
    elif fill == "null":
        out = joined
    else:
        raise ValueError(f"unknown fill mode {fill!r}")
    return out


def interpolate_linear(
    df: DataFrame,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """Fill null gaps by linear interpolation between the nearest non-null
    neighbors in time (TimescaleDB's ``interpolate()`` gap-fill semantics);
    before the first / after the last observation the nearest value is
    extended (ffill/bfill at the edges).

    Two per-series window passes (last-non-null backward, first-non-null
    forward) — both share ONE hash exchange + sort on ``series_col``, the
    same cost as any per-series window; no global window, no Python. At
    100 TB this scales exactly like q_window_frame: per-series sort work,
    keyed shuffle only.
    """
    w_prev = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    y = F.col(y_col)
    obs_ts = F.when(y.isNotNull(), F.col(ts_col))
    prev_y = F.last(y, ignorenulls=True).over(w_prev)
    prev_ts = F.last(obs_ts, ignorenulls=True).over(w_prev)
    next_y = F.first(y, ignorenulls=True).over(w_next)
    next_ts = F.first(obs_ts, ignorenulls=True).over(w_next)
    frac = (
        epoch_seconds(F.col(ts_col), fractional=True)
        - epoch_seconds(prev_ts, fractional=True)
    ) / (
        epoch_seconds(next_ts, fractional=True)
        - epoch_seconds(prev_ts, fractional=True)
    )
    interp = prev_y + (next_y - prev_y) * frac
    return df.withColumn(
        y_col,
        F.when(y.isNotNull(), y)
        .when(prev_y.isNotNull() & next_y.isNotNull(), interp)
        .otherwise(F.coalesce(prev_y, next_y)),
    )


def split_series(
    df: DataFrame,
    num_windows: int,
    series_col: str = "series_id",
    ts_col: str = "ts",
    strategy: str = "range",
) -> DataFrame:
    """Assign a contiguous ``window_id`` (0..k-1) within each series.

    Replaces the reference's round-robin ``repartition(num_partitions)``
    (/root/reference/darima.py:151-155, n from darima_config.json:2) with
    contiguity-preserving splits; ``strategy="roundrobin"`` keeps the
    literal (order-destroying) behavior for compat diffing.
    """
    k = int(num_windows)
    if k < 1:
        raise ValueError("num_windows must be >= 1")
    if strategy == "range":
        # Per-series bounds via an unordered window over the series key,
        # not the old aggregate + equi-join (r11): the join shape let
        # Catalyst broadcast whichever side it mis-estimated as small —
        # after the resample rewrite it picked the DATA side (the
        # exploded hourly grid, 4.6M rows at sf0.1), collected it to the
        # driver, and left the fit running at the tiny bounds side's
        # post-AQE width (1 task, 5.7 s → 44 s). The window needs no
        # exchange when the input is already hash-partitioned by the
        # series (resample_regular's output is) and computes the exact
        # same per-series min/max, so window_id values are identical.
        # The null-series filter reproduces the inner join's null-key
        # drop semantics verbatim.
        w = Window.partitionBy(series_col)
        lo = F.min(ts_col).over(w)
        hi = F.max(ts_col).over(w)
        # epoch_seconds, not a double cast: TIMESTAMP_NTZ has no numeric
        # cast, and for TIMESTAMP the two are the same value
        lo, hi, t = (epoch_seconds(c, fractional=True) for c in (lo, hi, ts_col))
        frac = (t - lo) / F.greatest(hi - lo, F.lit(1e-9))
        return df.where(F.col(series_col).isNotNull()).withColumn(
            "window_id",
            F.least(F.floor(frac * k), F.lit(k - 1)).cast("int"),
        )
    if strategy == "ntile":
        w = Window.partitionBy(series_col).orderBy(ts_col)
        return df.withColumn("window_id", (F.ntile(k).over(w) - 1).cast("int"))
    if strategy == "roundrobin":
        w = Window.partitionBy(series_col).orderBy(ts_col)
        return df.withColumn(
            "window_id", (F.row_number().over(w) % k).cast("int")
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def cusum_changepoint(
    df: DataFrame,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """Offline CUSUM changepoint per series (Page 1954 shape, depth-1
    binary segmentation): S_t = Σ_{i≤t}(y_i − ȳ), changepoint =
    argmax |S_t|. One running-frame window pass + one keyed join for the
    before/after means; the argmax ranks the ROUNDED statistic with a
    ``ts`` tie-break (a raw-double argmax can pick a different row per
    engine/partitioning). Returns one row per series:
    ``(series, cp_ts, abs_s, mean_before, mean_after)``. For k > 1
    changepoints, re-apply to each side of the cut (binary segmentation);
    each level is one more window pass."""
    # EXACT INTEGER statistic (round-5 sf1 probe): the float running
    # sum of (y − ȳ) accumulates in engine-specific order and flipped
    # the rounded statistic at sf1 magnitudes (6/50 rows). Multiply
    # through by n instead: n·S_t = n·cumsum(y_i6) − t·total(y_i6) —
    # all BIGINT, so |n·S_t| is exact and the argmax is deterministic;
    # the emitted abs_s is one double division of exact integers.
    yq = F.floor(F.col(y_col) * F.lit(1e6) + F.lit(0.5)).cast("long")
    q = df.withColumn("_yq", yq)
    wall = Window.partitionBy(series_col)
    wrun = (
        Window.partitionBy(series_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        q.withColumn("_n", F.count("*").over(wall))
        .withColumn("_tot", F.sum("_yq").over(wall))
        .withColumn("_cum", F.sum("_yq").over(wrun))
        .withColumn("_t", F.row_number().over(Window.partitionBy(series_col).orderBy(ts_col)))
        .withColumn(
            "_ns",
            F.abs(
                F.col("_n") * F.col("_cum") - F.col("_t") * F.col("_tot")
            ),
        )
    )
    cp = (
        cum.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(series_col).orderBy(
                    F.desc("_ns"), F.asc(ts_col)
                )
            ),
        )
        .where(F.col("_rn") == 1)
        .select(
            series_col,
            F.col(ts_col).alias("cp_ts"),
            F.round(
                F.col("_ns").cast("double")
                / (F.col("_n").cast("double") * F.lit(1e6)),
                4,
            ).alias("abs_s"),
        )
    )
    sides = (
        q.join(cp, series_col)
        .groupBy(series_col, "cp_ts", "abs_s")
        .agg(
            F.sum(
                F.when(F.col(ts_col) <= F.col("cp_ts"), F.col("_yq"))
            ).alias("_sb"),
            F.count(
                F.when(F.col(ts_col) <= F.col("cp_ts"), F.lit(1))
            ).alias("_nb"),
            F.sum(
                F.when(F.col(ts_col) > F.col("cp_ts"), F.col("_yq"))
            ).alias("_sa"),
            F.count(
                F.when(F.col(ts_col) > F.col("cp_ts"), F.lit(1))
            ).alias("_na"),
        )
    )
    return sides.select(
        series_col,
        "cp_ts",
        "abs_s",
        F.round(
            F.col("_sb").cast("double")
            / (F.col("_nb").cast("double") * F.lit(1e6)),
            4,
        ).alias("mean_before"),
        F.round(
            F.col("_sa").cast("double")
            / (F.col("_na").cast("double") * F.lit(1e6)),
            4,
        ).alias("mean_after"),
    )


def holt_winters_numpy(
    y, m: int, h: int, alpha: float = 0.3, beta: float = 0.05, gamma: float = 0.2
):
    """Single-series additive Holt-Winters (the numpy core + test
    oracle): level/trend from the first two seasonal blocks, classic
    recursive updates, h-step forecast level + k·trend + season. A pure
    function of (y, params) — deterministic everywhere."""
    import numpy as np

    y = np.asarray(y, dtype=float)
    lvl = y[:m].mean()
    tr = (y[m : 2 * m].mean() - lvl) / m
    seas = y[:m] - lvl
    for t in range(len(y)):
        s = seas[t % m]
        new_lvl = alpha * (y[t] - s) + (1 - alpha) * (lvl + tr)
        tr = beta * (new_lvl - lvl) + (1 - beta) * tr
        seas[t % m] = gamma * (y[t] - new_lvl) + (1 - gamma) * s
        lvl = new_lvl
    k = np.arange(1, h + 1, dtype=float)
    fc = lvl + k * tr + seas[(len(y) + np.arange(h)) % m]
    return fc


def holt_winters_forecast(
    df: DataFrame,
    period: int = 24,
    h: int = 24,
    alpha: float = 0.3,
    beta: float = 0.05,
    gamma: float = 0.2,
    series_col: str = "series_id",
    ts_col: str = "ts",
    y_col: str = "y",
) -> DataFrame:
    """Additive HOLT-WINTERS per series — the second forecasting family
    beside DARIMA (exponential smoothing vs ARIMA): one grouped-map
    Arrow UDF per series, fixed smoothing parameters so the whole path
    is deterministic (no optimizer in the loop; tune α/β/γ by holdout
    upstream if needed — the same axis DARIMA's d/D selection uses).
    Scales on the series axis exactly like the DARIMA fit: each task
    holds one series, the driver holds nothing. The recursion is
    inherently sequential per series, so this is a legitimate Arrow-UDF
    crossing, not a missed built-in. Forecast timestamps continue the
    series' median sampling interval."""
    import pandas as pd

    schema = f"{series_col} string, step int, {ts_col} timestamp, mean double"

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        y = pdf[y_col].to_numpy(dtype=float)
        if len(y) < 2 * period:
            return pd.DataFrame(
                columns=[series_col, "step", ts_col, "mean"]
            ).astype({"step": "int32", "mean": "float64"})
        fc = holt_winters_numpy(y, period, h, alpha, beta, gamma)
        ts = pdf[ts_col].to_numpy()
        freq = pd.Series(ts).diff().dropna().median()
        last = pd.Timestamp(ts[-1])
        return pd.DataFrame(
            {
                series_col: str(pdf[series_col].iloc[0]),
                "step": range(1, h + 1),
                ts_col: [last + freq * (k + 1) for k in range(h)],
                "mean": fc,
            }
        )

    return df.groupBy(series_col).applyInPandas(_one, schema)
