"""Output checkers for the benchmark's jobs.

Every checker takes plain pandas / Python data the job already brought to
the driver and returns a list of problems; an empty list means the output
passed. A job with any problem counts as failed.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from gen import jaccard, shingle_set


def coef_names(tol: int) -> list[str]:
    """The ``tol + 3`` coefficient names a combined DARIMA vector carries."""
    return ["beta0", "beta1"] + [f"ar{i}" for i in range(1, tol + 1)] + ["sigma2"]


def check_forecasts(fc: pd.DataFrame, series: list[str], h: int) -> list[str]:
    """``series × h`` finite forecast rows, steps 1..h for every series,
    and ``lo_95 <= lo_80 <= mean <= hi_80 <= hi_95`` on every row."""
    problems = []
    if len(fc) != len(series) * h:
        problems.append(f"forecast rows {len(fc)} != {len(series)} series x h={h}")
    missing = set(series) - set(fc["series_id"])
    if missing:
        problems.append(f"{len(missing)} series without forecasts, e.g. {sorted(missing)[:3]}")
    extra = set(fc["series_id"]) - set(series)
    if extra:
        problems.append(f"forecasts for unknown series {sorted(extra)[:3]}")
    steps = fc.groupby("series_id")["step"].agg(lambda s: sorted(s) == list(range(1, h + 1)))
    if not steps.all():
        problems.append(f"{int((~steps).sum())} series with steps other than 1..{h}")
    cols = ["lo_95", "lo_80", "mean", "hi_80", "hi_95"]
    vals = fc[cols].to_numpy(dtype=float)
    if not np.isfinite(vals).all():
        problems.append(f"{int((~np.isfinite(vals)).any(axis=1).sum())} forecast rows not finite")
    elif not (np.diff(vals, axis=1) >= 0).all():
        problems.append("prediction intervals out of order")
    return problems


def check_coefs(coefs: pd.DataFrame, series: list[str], tol: int) -> list[str]:
    """Every series has exactly the ``tol + 3`` named coefficients, all finite."""
    problems = []
    names = set(coef_names(tol))
    got = coefs.groupby("series_id")["coef"].agg(lambda c: len(c) == len(names) and set(c) == names)
    missing = set(series) - set(got.index)
    if missing:
        problems.append(f"{len(missing)} series without coefficients, e.g. {sorted(missing)[:3]}")
    if not got.all():
        problems.append(f"{int((~got).sum())} series without exactly tol+3={tol + 3} coefficients")
    bad = coefs.loc[~np.isfinite(coefs["value"].to_numpy(dtype=float)), "series_id"]
    if len(bad):
        problems.append(f"{bad.nunique()} series with non-finite coefficients, e.g. {sorted(bad.unique())[:3]}")
    return problems


def check_oracle(coefs: pd.DataFrame, oracle: dict[str, np.ndarray], tol: int) -> list[str]:
    """The engine's combined vectors equal the driver-side mean of the
    per-window fits (``oracle``: series -> vector in ``coef_names`` order)."""
    problems = []
    order = {n: i for i, n in enumerate(coef_names(tol))}
    for sid, want in oracle.items():
        rows = coefs[coefs["series_id"] == sid]
        got = np.full(len(order), np.nan)
        for name, value in zip(rows["coef"], rows["value"]):
            if name in order:
                got[order[name]] = value
        if not np.allclose(got, want, rtol=1e-6, atol=1e-8):
            worst = int(np.nanargmax(np.abs(got - want)))
            problems.append(
                f"series {sid}: engine {coef_names(tol)[worst]}={got[worst]!r}, oracle {want[worst]!r}"
            )
    return problems


def check_keepers(texts: list[str]) -> list[str]:
    """No exact copy survives the dedup."""
    dup = sum(c - 1 for c in Counter(texts).values() if c > 1)
    return [f"{dup} exact copies kept"] if dup else []


def check_pairs(pairs: pd.DataFrame, text_of: dict[int, str], threshold: float) -> list[str]:
    """Every reported pair's exact shingle Jaccard is at least ``threshold``."""
    low = []
    for a, b in zip(pairs["id_a"], pairs["id_b"]):
        j = jaccard(shingle_set(text_of[int(a)]), shingle_set(text_of[int(b)]))
        if j < threshold - 1e-9:
            low.append((int(a), int(b), round(j, 4)))
    return [f"{len(low)} pairs below Jaccard {threshold}, e.g. {low[:3]}"] if low else []


def pair_scores(cluster: dict[int, int], family: dict[int, int]) -> tuple[float, float]:
    """Pairwise (precision, recall) of the predicted clustering against the
    planted families: a pair of documents counts when both clusterings put
    them together."""

    def together(labels) -> int:
        return sum(c * (c - 1) // 2 for c in Counter(labels).values())

    docs = sorted(family)
    both = together((cluster[d], family[d]) for d in docs)
    pred = together(cluster[d] for d in docs)
    true = together(family[d] for d in docs)
    return (both / pred if pred else 1.0), (both / true if true else 1.0)
