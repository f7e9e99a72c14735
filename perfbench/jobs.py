"""The benchmark's three jobs: each as the timed job, the checks of its
output, and a traced form that times every layer on its own.

Every function reaches the engine only through the package's public
functions (``sources``, ``operators.timeseries``, ``darima.fit``,
``darima.pipeline``, ``operators.dedup``); the engine sees only the files
``gen.py`` wrote.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen
from python_darima_spark.darima.fit import fit_window_to_coef_vec
from python_darima_spark.darima.pipeline import (
    DarimaConfig,
    combine_coefs,
    darima,
    evaluate,
    fit_windows,
    forecast,
    score,
)
from python_darima_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    doc_shingle_gids,
    minhash_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
)
from python_darima_spark.operators.timeseries import resample_regular, split_series
from python_darima_spark.sources import read_parquet, read_reference_series_csv

DEDUP_THRESHOLD = 0.7


def _read_parquet_dir(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class DarimaWorkload:
    """Scan -> (resample) -> darima(train, cfg, test, h) -> forecasts to
    parquet, scores to the driver."""

    def __init__(self, name, cfg, h, resample, oracle_series):
        self.name, self.cfg, self.h = name, cfg, h
        self.resample = resample
        self.oracle_series = oracle_series

    def series(self, inp: str) -> list[str]:
        with open(os.path.join(inp, "summary.json")) as fh:
            return json.load(fh)["series_ids"]

    def items(self, inp: str) -> int:
        return len(self.series(inp))

    def read(self, spark, inp: str):
        if self.resample:
            train = read_parquet(spark, os.path.join(inp, "train.parquet"))
            test = read_parquet(spark, os.path.join(inp, "test.parquet"))
        else:
            train = read_reference_series_csv(spark, os.path.join(inp, "*_train.csv"))
            test = read_reference_series_csv(spark, os.path.join(inp, "*_test.csv"))
        return train, test

    def grid(self, train):
        return resample_regular(train) if self.resample else train

    def job(self, spark, inp: str, out: str) -> dict:
        """The timed job."""
        train, test = self.read(spark, inp)
        r = darima(self.grid(train), self.cfg, test, self.h)
        r.forecasts.write.mode("overwrite").parquet(out)
        return {"scores": r.scores.collect()[0].asDict(), "result": r}

    def check_job(self, inp: str, out: str, done: dict) -> list[str]:
        problems = check.check_forecasts(_read_parquet_dir(out), self.series(inp), self.h)
        bad = [k for k, v in done["scores"].items() if v is None or not np.isfinite(v)]
        return problems + ([f"non-finite scores {bad}"] if bad else [])

    def oracle_windows(self, spark, inp: str, sample: list[str]) -> list[tuple[str, np.ndarray]]:
        """The sampled series' windows, cut and ordered as ``fit_windows``
        cuts them, brought to the driver."""
        train, _ = self.read(spark, inp)
        win = split_series(self.grid(train), self.cfg.num_windows)
        pdf = (
            win.where(F.col("series_id").isin(sample) & F.col("y").isNotNull())
            .select("series_id", "window_id", "ts", "y")
            .toPandas()
        )
        pdf = pdf.sort_values(["series_id", "window_id", "ts"])
        return [
            (sid, g["y"].to_numpy(dtype=float))
            for (sid, _), g in pdf.groupby(["series_id", "window_id"], sort=True)
        ]

    def fit_on_driver(self, y: np.ndarray) -> np.ndarray:
        c = self.cfg
        return np.asarray(
            fit_window_to_coef_vec(
                y, m=c.period, tol=c.tol, method=c.method, max_p=c.max_p,
                max_q=c.max_q, max_P=c.max_P, max_Q=c.max_Q, d=c.d, D=c.D,
                search=c.search, max_order=c.max_order,
            ),
            dtype=float,
        )

    def sample(self, inp: str, seed: int) -> list[str]:
        rng = np.random.default_rng([seed, 7])
        ids = self.series(inp)
        return sorted(rng.choice(ids, self.oracle_series, replace=False).tolist())

    def check_run(self, spark, inp: str, done: dict, seed: int) -> tuple[list[str], dict]:
        """Once per run, after the first job: every series' combined
        coefficients, and the driver-side oracle on a seeded sample."""
        coefs = done["result"].coefs.toPandas()
        problems = check.check_coefs(coefs, self.series(inp), self.cfg.tol)
        oracle = {}
        for sid, y in self.oracle_windows(spark, inp, self.sample(inp, seed)):
            oracle.setdefault(sid, []).append(self.fit_on_driver(y))
        problems += check.check_oracle(
            coefs, {sid: np.mean(v, axis=0) for sid, v in oracle.items()}, self.cfg.tol
        )
        scores = done["scores"]
        return problems, {"forecast_mase": scores["mase"], "forecast_msis_95": scores["msis_95"]}

    def traced(self, spark, inp: str, out: str, tr, seed: int) -> dict:
        """Each layer's public function on its own, inputs materialized
        first. Returns the counts the spans cannot see."""
        cfg = self.cfg
        cached = []

        def keep(df):
            df = df.cache()
            cached.append(df)
            return df, df.count()

        with tr.span("job"):
            with tr.span("sources.scan"):
                train, test = self.read(spark, inp)
                train, n_obs = keep(train)
                test, _ = keep(test)
            if self.resample:
                with tr.span("timeseries.resample"):
                    train, n_grid = keep(resample_regular(train))
            else:
                n_grid = n_obs
            with tr.span("pipeline.fit_windows"):
                rows, n_rows = keep(fit_windows(train, cfg))
            with tr.span("pipeline.combine"):
                coefs, _ = keep(combine_coefs(rows, cfg))
            with tr.span("pipeline.forecast"):
                fc, _ = keep(forecast(train, coefs, self.h, cfg))
            with tr.span("sources.write"):
                fc.write.mode("overwrite").parquet(out)
            with tr.span("pipeline.evaluate"):
                score(evaluate(fc, test, train, cfg), cfg).collect()
        windows = rows.select("series_id", "window_id").distinct().count()
        nonfinite = (
            rows.where("isnan(value) or value in (double('inf'), double('-inf'))")
            .select("series_id", "window_id").distinct().count()
        )
        for df in cached:
            df.unpersist()
        sample = self.oracle_windows(spark, inp, self.sample(inp, seed))
        with tr.span("fit.kernel"):
            for _, y in sample:
                self.fit_on_driver(y)
        return {
            "grid_rows_per_obs": n_grid / n_obs,
            "windows": windows,
            "nonfinite_windows": nonfinite,
            "coef_rows": n_rows,
            "kernel_windows": len(sample),
        }


class DedupWorkload:
    """dedup_exact -> doc_shingle_gids -> minhash_near_duplicates ->
    connected_components -> keepers to parquet."""

    name = "llm_near_dedup"

    def items(self, inp: str) -> int:
        with open(os.path.join(inp, "summary.json")) as fh:
            return json.load(fh)["docs"]

    def job(self, spark, inp: str, out: str) -> dict:
        """The timed job. It returns the pair and component frames for the
        checks: components are checkpointed, and the pairs re-run only the
        exact verify over checkpointed candidates."""
        docs = read_parquet(spark, os.path.join(inp, "docs.parquet"))
        uniq = dedup_exact(docs)
        gids = doc_shingle_gids(uniq).persist()
        pairs = minhash_near_duplicates(uniq, threshold=DEDUP_THRESHOLD, shingle_gids=gids)
        comps = connected_components(pairs, uniq)
        keepers = uniq.join(comps.where("doc_id = cluster_id").select("doc_id"), "doc_id")
        keepers.write.mode("overwrite").parquet(out)
        return {"pairs": pairs, "comps": comps}

    def check_job(self, inp: str, out: str, done: dict) -> list[str]:
        kept = _read_parquet_dir(out)
        problems = check.check_keepers(kept["text"].tolist())
        return problems + ([] if len(kept) else ["no documents kept"])

    def check_run(self, spark, inp: str, done: dict, seed: int) -> tuple[list[str], dict]:
        """Once per run, after the first job: the exact Jaccard of every
        reported pair, and pairwise precision / recall against the planted
        families."""
        pair_rows = done["pairs"].toPandas()
        cluster_of = dict(done["comps"].toPandas().itertuples(index=False, name=None))
        docs = _read_parquet_dir(os.path.join(inp, "docs.parquet"))
        text_of = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        problems = check.check_pairs(pair_rows, text_of, DEDUP_THRESHOLD)
        # exact copies the engine dropped join the cluster of their kept twin
        rep = {}
        for d, t in sorted(text_of.items()):
            rep.setdefault(t, d)
        cluster = {d: cluster_of.get(rep[t], -d) for d, t in text_of.items()}
        with open(os.path.join(inp, "families.json")) as fh:
            source = {int(k): v for k, v in json.load(fh).items()}
        family = {d: (s if s >= 0 else d) for d, s in source.items()}
        precision, recall = check.pair_scores(cluster, family)
        return problems, {"dedup_precision": precision, "dedup_recall": recall}

    def traced(self, spark, inp: str, out: str, tr, seed: int) -> dict:
        with tr.span("job"):
            with tr.span("sources.scan"):
                docs = read_parquet(spark, os.path.join(inp, "docs.parquet")).cache()
                docs.count()
            with tr.span("dedup.exact"):
                uniq = dedup_exact(docs).cache()
                uniq.count()
            with tr.span("dedup.shingle"):
                gids = doc_shingle_gids(uniq).persist()
                gids.count()
            with tr.span("dedup.signatures"):
                sigs = minhash_signatures(uniq, shingle_gids=gids).persist()
                sigs.count()
            with tr.span("dedup.candidates"):
                lsh = minhash_candidate_pairs(sigs).count()
            with tr.span("dedup.near_duplicates"):
                pairs = minhash_near_duplicates(
                    uniq, threshold=DEDUP_THRESHOLD, shingle_gids=gids
                ).localCheckpoint(eager=True)
                verified = pairs.count()
            with tr.span("dedup.components"):
                comps = connected_components(pairs, uniq).cache()
                comps.count()
            with tr.span("sources.write"):
                uniq.join(
                    comps.where("doc_id = cluster_id").select("doc_id"), "doc_id"
                ).write.mode("overwrite").parquet(out)
        spark.catalog.clearCache()
        return {
            "lsh_candidates": lsh,
            "verified_pairs": verified,
            "verify_yield": verified / lsh if lsh else 0.0,
        }


WORKLOADS = {
    w.name: w
    for w in (
        DarimaWorkload(
            "darima_many_series",
            DarimaConfig(num_windows=2, period=24, tol=24, max_p=2, max_q=1, max_P=0, max_Q=0),
            h=gen.MANY_H, resample=True, oracle_series=8,
        ),
        DarimaWorkload(
            "darima_long_series",
            DarimaConfig(num_windows=4, period=24, tol=2000, method="mean"),
            h=gen.LONG_H, resample=False, oracle_series=2,
        ),
        DedupWorkload(),
    )
}
