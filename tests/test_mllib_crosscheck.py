"""Cross-validation of the engine's custom MinHash+LSH against BOTH the
exact all-pairs truth and Spark MLlib's built-in MinHashLSH
(pyspark.ml.feature.MinHashLSH + approxSimilarityJoin).

Why the engine ships a custom implementation when MLlib has one: the
custom path emits codegen'd relational operators only (explode + 64 min
aggregates + banded equi-joins — PLANS.md §2.5), needs no
CountVectorizer vocabulary broadcast (vocab over 5-char shingles is
unbounded at 100 TB), and verifies candidates with EXACT Jaccard so its
precision is 1.0 by construction. This test pins that the shortcut
loses nothing: at sf0.001 both recover the exact truth set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from python_darima_spark.operators.dedup import (
    doc_shingle_gids,
    minhash_near_duplicates,
)

THRESHOLD = 0.5


@pytest.fixture(scope="module")
def shingled(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # each doc's distinct 5-shingles as gid strings (CountVectorizer
    # takes string tokens)
    return docs, doc_shingle_gids(docs).groupBy("doc_id").agg(
        F.collect_list(F.col("gid").cast("string")).alias("sh")
    ).persist()


@pytest.fixture(scope="module")
def truth(shingled):
    """Exact all-pairs Jaccard ≥ threshold (O(n²) — fixture scale only)."""
    _, base = shingled
    l, r = base.alias("l"), base.alias("r")
    inter = F.size(F.array_intersect("l.sh", "r.sh")).cast("double")
    union = F.size(F.array_union("l.sh", "r.sh")).cast("double")
    rows = (
        l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            (inter / union).alias("j"),
        )
        .where(F.col("j") >= THRESHOLD)
        .collect()
    )
    return {(x["a"], x["b"]) for x in rows}


def test_custom_minhash_recovers_exact_truth(shingled, truth):
    docs, _ = shingled
    ours = {
        (x["id_a"], x["id_b"])
        for x in minhash_near_duplicates(docs, threshold=THRESHOLD).collect()
    }
    assert truth, "fixture has no near-dup pairs; test is vacuous"
    assert ours == truth  # precision 1.0 by exact verification; full recall


def test_mllib_minhashlsh_agrees(shingled, truth):
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    _, base = shingled
    cv = CountVectorizer(inputCol="sh", outputCol="features", binary=True)
    feat = cv.fit(base).transform(base).where(F.size("sh") > 0)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=16, seed=42
    ).fit(feat)
    sim = model.approxSimilarityJoin(feat, feat, 1.0 - THRESHOLD, distCol="d")
    got = {
        (x["a"], x["b"])
        for x in sim.where("datasetA.doc_id < datasetB.doc_id")
        .select(
            F.col("datasetA.doc_id").alias("a"),
            F.col("datasetB.doc_id").alias("b"),
        )
        .collect()
    }
    # approxSimilarityJoin computes the exact key distance on candidates,
    # so precision is exact; recall depends on the LSH tables — allow one
    # miss for cross-version hash drift.
    assert len(got & truth) >= len(truth) - 1
    assert got <= truth
