"""The benchmark's own tests: seeded inputs, self-time arithmetic and the
output checkers. Needs no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import filecmp
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402


def _files(d):
    return sorted(os.listdir(d))


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 5, a)
    gen.generate(workload, 5, b)
    gen.generate(workload, 6, c)
    assert _files(a) == _files(b) == _files(c)
    match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []
    data = [f for f in _files(a) if f != "summary.json"]
    assert any(not filecmp.cmp(os.path.join(a, f), os.path.join(c, f), shallow=False) for f in data)


def test_planted_near_copies_hit_the_jaccard_range(tmp_path):
    gen.generate("llm_near_dedup", 3, str(tmp_path))
    docs = pd.read_parquet(tmp_path / "docs.parquet")
    text = dict(zip(docs["doc_id"], docs["text"]))
    fam = pd.read_json(tmp_path / "families.json", typ="series")
    js = [
        gen.jaccard(gen.shingle_set(text[int(d)]), gen.shingle_set(text[int(s)]))
        for d, s in fam.items()
        if s >= 0 and text[int(d)] != text[int(s)]
    ]
    assert len(js) == int(gen.DEDUP_DOCS * gen.DEDUP_NEAR)
    # each copy sits at its target or at most one word edit above it
    assert min(js) >= gen.DEDUP_J_RANGE[0] and max(js) < 1.0
    assert gen.DEDUP_J_RANGE[0] < np.median(js) < gen.DEDUP_J_RANGE[1]


# ---------------------------------------------------------------- self time


def _span(sid, start, end, parent=None, probe_s=0.0):
    return Span(f"s{sid}", start, end, sid, parent, "r", probe_s=probe_s)


def test_covered_counts_overlaps_once_and_clips_to_the_parent():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == pytest.approx(4)
    assert covered([(-2, 3), (8, 12)], 0, 10) == pytest.approx(5)
    assert covered([(1, 2), (4, 6), (5, 7)], 0, 10) == pytest.approx(4)
    assert covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, 0, 10),
        _span(1, 1, 4, parent=0),
        _span(2, 3, 6, parent=0),  # overlaps its sibling
        _span(3, 2, 3, parent=1),  # nested: belongs to span 1, not span 0
        _span(4, 9, 12, parent=0),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_self_time_leaves_out_the_probe_cost():
    st = self_times([_span(0, 0, 10, probe_s=0.5), _span(1, 2, 4, parent=0, probe_s=0.25)])
    assert st[0] == pytest.approx(7.5)
    assert st[1] == pytest.approx(1.75)


def test_tracer_keeps_probe_inside_the_span_and_diffs_counters():
    state = {"n": 0}

    def probe():
        state["n"] += 1
        return {"tasks": float(state["n"] * 10)}

    tr = Tracer("r", probe)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.span_id
    assert outer.start <= inner.start and inner.end <= outer.end
    assert inner.counts["tasks"] == 10 and outer.counts["tasks"] == 30
    assert inner.probe_s > 0 and outer.probe_s > 0
    st = tr.self_time_by_name()
    assert st["outer"] == pytest.approx(outer.wall - inner.wall - outer.probe_s)


# ---------------------------------------------------------------- checkers


def _forecasts(series, h):
    rows = []
    for s in series:
        for step in range(1, h + 1):
            rows.append((s, step, 10.0, 9.0, 11.0, 8.0, 12.0))
    return pd.DataFrame(rows, columns=["series_id", "step", "mean", "lo_80", "hi_80", "lo_95", "hi_95"])


def _coefs(series, tol):
    names = check.coef_names(tol)
    return pd.DataFrame(
        [(s, n, 0.1) for s in series for n in names], columns=["series_id", "coef", "value"]
    )


def test_forecast_checker_passes_good_output_and_catches_a_dropped_series():
    series = ["a", "b", "c"]
    fc = _forecasts(series, 4)
    assert check.check_forecasts(fc, series, 4) == []
    problems = check.check_forecasts(fc[fc["series_id"] != "b"], series, 4)
    assert any("without forecasts" in p for p in problems)


def test_forecast_checker_catches_nan_and_crossed_intervals():
    fc = _forecasts(["a"], 3)
    fc.loc[1, "mean"] = np.nan
    assert check.check_forecasts(fc, ["a"], 3)
    fc = _forecasts(["a"], 3)
    fc.loc[2, "hi_80"] = 13.0  # above hi_95
    assert check.check_forecasts(fc, ["a"], 3) == ["prediction intervals out of order"]


def test_coef_checker_catches_a_nan_coefficient_and_a_dropped_series():
    series = ["a", "b"]
    good = _coefs(series, 5)
    assert check.check_coefs(good, series, 5) == []
    bad = good.copy()
    bad.loc[3, "value"] = np.nan
    assert any("non-finite" in p for p in check.check_coefs(bad, series, 5))
    assert any("without coefficients" in p for p in check.check_coefs(good[good["series_id"] == "a"], series, 5))
    short = good.drop(index=2)
    assert any("tol+3" in p for p in check.check_coefs(short, series, 5))


def test_oracle_checker_compares_the_combined_vector():
    coefs = _coefs(["a"], 2)
    want = np.full(5, 0.1)
    assert check.check_oracle(coefs, {"a": want}, 2) == []
    want[3] = 0.2
    assert check.check_oracle(coefs, {"a": want}, 2)


def test_pair_checker_catches_a_spurious_pair():
    base = "the quick brown fox jumps over the lazy dog " * 4
    text_of = {1: base, 2: base.replace("lazy", "idle", 1), 3: "completely different words here " * 5}
    good = pd.DataFrame({"id_a": [1], "id_b": [2]})
    assert check.check_pairs(good, text_of, 0.7) == []
    spurious = pd.DataFrame({"id_a": [1, 1], "id_b": [2, 3]})
    assert check.check_pairs(spurious, text_of, 0.7)


def test_keeper_checker_catches_a_kept_exact_copy():
    assert check.check_keepers(["x", "y"]) == []
    assert check.check_keepers(["x", "y", "x"]) == ["1 exact copies kept"]


def test_pair_scores_against_planted_families():
    family = {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}
    assert check.pair_scores({1: 1, 2: 1, 3: 1, 4: 4, 5: 5}, family) == (1.0, 1.0)
    precision, recall = check.pair_scores({1: 1, 2: 1, 3: 3, 4: 1, 5: 5}, family)
    assert precision == pytest.approx(1 / 3) and recall == pytest.approx(1 / 3)
