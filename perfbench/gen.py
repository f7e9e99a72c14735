"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of ``seed`` and writes only files; the
engine never sees the generator, only what it wrote. The same seed gives
byte-identical files, a different seed different ones (checked by
``perfbench/test_perfbench.py``).

Run one on its own::

    python3 perfbench/gen.py --workload darima_many_series --seed 1 --out /tmp/x
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are below the intended 3,000 series, 10 zones and 8,000 documents.
# Measured on 4 cores: a warm job at the design sizes took 50 s (many),
# 23 s (long) and 25 s (dedup). A run times several warm jobs and reports
# their median, so a job must take a few seconds: at 80 series and 600
# documents a warm job takes 3-4 s on a quiet 4-core host and 6-10 s on a
# busy one, mostly per-stage overhead that does not shrink with the input. The shapes that matter are kept:
# window length and AR order, documents per size band and duplicate rates.
MANY_SERIES = 80
MANY_DAYS = 30
MANY_H = 24
MANY_DROP = 0.10

LONG_ZONES = 4
LONG_TRAIN = 8760
LONG_H = 480

DEDUP_DOCS = 600
DEDUP_EXACT = 0.05
DEDUP_NEAR = 0.10
DEDUP_J_RANGE = (0.75, 0.95)
SHINGLE_K = 5

_T0 = np.datetime64("2016-01-01T00:00:00", "us")
_HOUR_US = 3_600_000_000


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us", tz="UTC"))


def _write_series_parquet(path: str, sid: np.ndarray, ts_us: np.ndarray, y: np.ndarray) -> None:
    table = pa.table({"series_id": pa.array(sid), "ts": _ts_array(ts_us), "y": pa.array(y)})
    pq.write_table(table, path)


def gen_many_series(seed: int, out: str) -> dict:
    """Hourly short series with dropped hours and jittered timestamps.

    About ``MANY_DROP`` of the training hours are missing (never the first
    or last one, so every series spans the same grid) and every timestamp
    is moved forward by up to 59 minutes, so ``resample_regular`` has both
    truncation and gap filling to do. The last ``MANY_H`` hours are the
    test set, complete and on the hour.
    """
    rng = np.random.default_rng([seed, 1])
    n_hours = MANY_DAYS * 24
    n_train = n_hours - MANY_H
    t = np.arange(n_hours)
    level = rng.uniform(50, 150, MANY_SERIES)
    amp = rng.uniform(5, 25, MANY_SERIES)
    phase = rng.uniform(0, 24, MANY_SERIES)
    phi = rng.uniform(0.3, 0.8, MANY_SERIES)
    shocks = rng.normal(0, 3, (MANY_SERIES, n_hours))
    noise = np.empty_like(shocks)
    noise[:, 0] = shocks[:, 0]
    for i in range(1, n_hours):
        noise[:, i] = phi * noise[:, i - 1] + shocks[:, i]
    y = (
        level[:, None]
        + amp[:, None] * np.sin(2 * np.pi * (t[None, :] + phase[:, None]) / 24)
        + noise
    )
    sids = np.array([f"s{i:05d}" for i in range(MANY_SERIES)])

    keep = rng.random((MANY_SERIES, n_train)) >= MANY_DROP
    keep[:, 0] = keep[:, -1] = True
    jitter = rng.integers(0, 60, (MANY_SERIES, n_train)) * 60_000_000
    base_us = _T0.astype(np.int64) + t[:n_train] * _HOUR_US
    rows, cols = np.nonzero(keep)
    _write_series_parquet(
        os.path.join(out, "train.parquet"),
        sids[rows],
        base_us[cols] + jitter[rows, cols],
        y[:, :n_train][rows, cols],
    )
    test_us = _T0.astype(np.int64) + t[n_train:] * _HOUR_US
    _write_series_parquet(
        os.path.join(out, "test.parquet"),
        np.repeat(sids, MANY_H),
        np.tile(test_us, MANY_SERIES),
        y[:, n_train:].ravel(),
    )
    return {"series_ids": sids.tolist(), "h": MANY_H, "train_rows": int(keep.sum())}


def gen_long_series(seed: int, out: str) -> dict:
    """GEFCom-like hourly zone demand in the reference CSV layout.

    One ``<ZONE>_train.csv`` and ``<ZONE>_test.csv`` per zone with header
    ``"demand","time"``: a daily and a weekly profile and a slow trend on a
    zone-sized base, plus AR(1) noise. There is no yearly swing: with one,
    some quarter-year windows fit to AR(2000) vectors with coefficients
    near 1e16 and the combined forecasts diverge.
    """
    rng = np.random.default_rng([seed, 2])
    n = LONG_TRAIN + LONG_H
    t = np.arange(n)
    hour = t % 24
    dow = (t // 24) % 7
    daily_shape = np.sin(2 * np.pi * (hour - 7) / 24) + 0.4 * np.sin(4 * np.pi * (hour - 3) / 24)
    weekly_shape = np.where(dow >= 5, -1.0, 0.3)
    times = (_T0 + t.astype("timedelta64[h]")).astype("datetime64[s]").astype(str)
    times = np.char.replace(times, "T", " ")
    zones = []
    for z in range(LONG_ZONES):
        base = rng.uniform(1500, 4000)
        shocks = rng.normal(0, 0.01 * base, n)
        noise = np.empty(n)
        noise[0] = shocks[0]
        for i in range(1, n):
            noise[i] = 0.9 * noise[i - 1] + shocks[i]
        demand = (
            base
            + 0.2 * base * rng.uniform(0.8, 1.2) * daily_shape
            + 0.08 * base * rng.uniform(0.8, 1.2) * weekly_shape
            + base * rng.uniform(-0.05, 0.05) * t / n
            + noise
        )
        name = f"Z{z:02d}"
        zones.append(name)
        for part, sl in (("train", slice(0, LONG_TRAIN)), ("test", slice(LONG_TRAIN, n))):
            lines = [f'{d:.3f},"{s}"' for d, s in zip(demand[sl], times[sl])]
            with open(os.path.join(out, f"{name}_{part}.csv"), "w") as fh:
                fh.write('"demand","time"\n' + "\n".join(lines) + "\n")
    return {"series_ids": zones, "h": LONG_H}


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    """The k-char shingles ``char_shingles`` produces for ``text``."""
    return {text[i : i + k] for i in range(max(len(text) - k + 1, 1))}


def jaccard(a: set[str], b: set[str]) -> float:
    return len(a & b) / len(a | b)


def _near_copy(rng: np.random.Generator, words: list[str], vocab: np.ndarray, target: float) -> str:
    """Replace the fewest words, in a seeded order, that bring the copy's
    shingle Jaccard with the original down to ``target`` or just above."""
    orig_sh = shingle_set(" ".join(words))
    order = rng.permutation(len(words))
    repl = vocab[rng.integers(0, len(vocab), len(words))]

    def edit(n: int) -> str:
        w = list(words)
        for i in order[:n]:
            w[i] = repl[i]
        return " ".join(w)

    lo, hi = 0, len(words)
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if jaccard(orig_sh, shingle_set(edit(mid))) >= target:
            lo = mid
        else:
            hi = mid - 1
    return edit(lo)


def gen_documents(seed: int, out: str) -> dict:
    """~1-2 KB documents over a random vocabulary with planted duplicates.

    ``DEDUP_EXACT`` of the documents are byte-identical copies of another
    document and ``DEDUP_NEAR`` are near copies whose 5-char-shingle
    Jaccard with their source is a target drawn from ``DEDUP_J_RANGE``
    or at most one word edit above it. Document ids are
    shuffled so a copy is as likely to hold the smaller id as its source.
    ``families.json`` maps each document id to its source's id (``-1`` for
    an original) for the scorer.
    """
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(rng.choice(letters, rng.integers(2, 10))) for _ in range(6000)]
    )
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    n_exact = int(DEDUP_DOCS * DEDUP_EXACT)
    n_near = int(DEDUP_DOCS * DEDUP_NEAR)
    n_orig = DEDUP_DOCS - n_exact - n_near
    texts: list[str] = []
    source: list[int] = []
    word_lists = []
    for _ in range(n_orig):
        words = list(vocab[rng.choice(len(vocab), rng.integers(180, 360), p=zipf)])
        word_lists.append(words)
        texts.append(" ".join(words))
        source.append(-1)
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        texts.append(texts[src])
        source.append(src)
    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        target = float(rng.uniform(*DEDUP_J_RANGE))
        texts.append(_near_copy(rng, word_lists[src], vocab, target))
        source.append(src)
    ids = rng.permutation(DEDUP_DOCS).astype(np.int64) + 1
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[i] for i in order]),
        }
    )
    pq.write_table(table, os.path.join(out, "docs.parquet"))
    families = {
        str(int(ids[i])): (int(ids[source[i]]) if source[i] >= 0 else -1)
        for i in order
    }
    with open(os.path.join(out, "families.json"), "w") as fh:
        json.dump(families, fh)
    return {"docs": DEDUP_DOCS, "exact": n_exact, "near": n_near}


GENERATORS = {
    "darima_many_series": gen_many_series,
    "darima_long_series": gen_long_series,
    "llm_near_dedup": gen_documents,
}


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``; return their
    summary (sizes and, for the series workloads, the series ids and the
    horizon), which is also written to ``summary.json``."""
    os.makedirs(out, exist_ok=True)
    summary = GENERATORS[workload](seed, out)
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump(summary, fh)
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    summary = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: v for k, v in summary.items() if k != "series_ids"}))


if __name__ == "__main__":
    main()
