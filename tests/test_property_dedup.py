"""Property-based tests (hypothesis) for the counting prefix filter,
the place where a recall bug would be silent: it generates the
candidates of both ngram_jaccard_pairs (word 3-gram Jaccard) and
containment_pairs (shingle containment in either direction). Oracles
are single-node brute-force set computations.

Example counts are small: every example is a full Spark round trip.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from python_darima_spark.operators.dedup import (
    containment_pairs,
    ngram_jaccard_pairs,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a tiny vocabulary forces heavy gram sharing (the regime where the
# prefix filter's df-ranking actually has to work), and duplicated word
# runs create genuine near-dup and containment structure
WORDS = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
)
DOC = st.lists(WORDS, min_size=4, max_size=30).map(" ".join)
CORPUS = st.lists(DOC, min_size=2, max_size=10)


def _grams(text: str, n: int = 3) -> set[str]:
    ws = text.lower().split()
    return {
        " ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1))
    }


def _shingles(text: str, k: int = 5) -> set[str]:
    return {
        text[i : i + k] for i in range(max(len(text) - k + 1, 1))
    }


@given(corpus=CORPUS)
@settings(**_SETTINGS)
def test_ngram_prefix_filter_equals_bruteforce(spark, corpus):
    pdf = pd.DataFrame(
        {"doc_id": range(len(corpus)), "text": corpus}
    )
    df = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.3
        ).collect()
    }
    want = set()
    for i in range(len(corpus)):
        for j in range(i + 1, len(corpus)):
            a, b = _grams(corpus[i]), _grams(corpus[j])
            if len(a & b) / len(a | b) >= 0.3:
                want.add((i, j))
    assert got == want


@given(corpus=CORPUS, nest=st.booleans())
@settings(**_SETTINGS)
def test_containment_equals_bruteforce(spark, corpus, nest):
    docs = list(corpus)
    if nest and len(docs) >= 2:
        # plant a genuine asymmetric containment: doc 0 verbatim inside
        # a much larger concatenation
        docs.append(" ".join(docs) + " " + docs[0])
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    df = spark.createDataFrame(pdf)
    got = {
        (r.id_a, r.id_b)
        for r in containment_pairs(
            df, "text", "doc_id", threshold=0.9
        ).collect()
    }
    want = set()
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = _shingles(docs[i]), _shingles(docs[j])
            inter = len(a & b)
            if max(inter / len(a), inter / len(b)) >= 0.9:
                want.add((i, j))
    assert got == want


# --- r10: the ASCII byte-slice shingle fast path ----------------------------
# doc_shingle_gids / minhash_signatures slice the UTF-8 BYTES for all-ASCII
# rows (string `substring` re-scans from the head — O(len²) per doc) and
# keep the exact char path otherwise. The two paths must be value-identical
# on any input, ASCII or not.

UNICODE_DOC = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FFF),
    min_size=1,
    max_size=60,
)


@given(texts=st.lists(UNICODE_DOC, min_size=1, max_size=6))
@settings(**_SETTINGS)
def test_shingle_gid_fast_path_equals_char_path(spark, texts):
    from pyspark.sql import functions as F
    from python_darima_spark.operators.dedup import doc_shingle_gids

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    got = {
        (r.doc_id, r.gid) for r in doc_shingle_gids(df).collect()
    }
    want = {
        (r.doc_id, r.gid)
        for r in df.select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("text") - 4, F.lit(1))
                )
            ).alias("_i"),
            "text",
        )
        .select(
            "doc_id",
            F.xxhash64(F.expr("substring(text, _i, 5)")).alias("gid"),
        )
        .distinct()
        .collect()
    }
    assert got == want
