"""Document deduplication operators for large-scale training-data pipelines.

All variants are pure DataFrame programs — shingling, hashing, banding and
verification all stay JVM-side (whole-stage codegen); there is no Python in
the hot path. Every near-dup operator reads one token table, ``(id, gid =
xxhash64(token))`` with distinct rows per document (:func:`doc_shingle_gids`,
:func:`doc_word_gids`; a NULL text has no tokens and never pairs), takes
candidates from one bucket self-join (:func:`_bucket_pairs`) or one prefix
filter (:func:`_prefix_pairs`), settles the candidate ids in one eager
checkpoint (:func:`_settle`), and verifies Jaccard or containment exactly in
one tail (:func:`_verify`) on sorted gid arrays of the candidate docs only;
every verified result is an eager checkpoint. Scale notes per operator:

* exact       — one hash-shuffle on the 8-byte digest; keep-first is a
                per-digest min, not a window sort over everything.
* minhash     — O(docs × shingles) map work, then LSH banding turns the
                O(n²) pair space into per-bucket joins; only candidate
                pairs (tiny at realistic thresholds) are verified exactly.
* simhash     — 63 partial aggregates per doc (one shuffle); near-dup
                pairs via pigeonhole banding on fingerprint chunks, then
                an exact Hamming check with xor+bit_count.
* ngram,
  containment — the counting prefix filter: probe each doc's rarest
                tokens against an inverted index, recall 1.0 by a
                deterministic bound.

MinHash runs one fixed configuration: 64 hashes in 16 bands of 4 rows,
hash coefficients drawn from seed 42, over char 5-shingles. It is fixed
because the rest of the path is derived from it: the estimate
prefilter's ``threshold − 0.2`` margin is ≈3.5σ at 64 hashes, the
banding recall bounds quoted below assume b = 16, r = 4 (S-curve
threshold (1/b)^(1/r) = 0.5; Leskovec, Rajaraman & Ullman, *Mining of
Massive Datasets*, §3.4), and a persisted index is only probed correctly
with the signatures and band keys it was written with.

ANSI-mode note: Spark 4 throws on bigint overflow, so the universal-hash
family (a·h+b) mod p keeps h < 2³² and a,b < 2³⁰ — products stay < 2⁶²
and never overflow, whatever spark.sql.ansi.enabled is set to.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from python_darima_spark.operators import (
    ensure_parallelism,
    fan_out,
    shuffle_width,
)
from python_darima_spark.operators.ledger import (
    commit_staged_ingest,
    staged_parquet_writer,
)

# Prime just above 2^32: keeps the base hash domain small enough that the
# affine family (a*h + b) % P never overflows a signed 64-bit value.
_MERSENNE_P = 4294967311

# The one MinHash configuration (module docstring): 64 (a, b) pairs of the
# affine family, drawn once, in 16 bands of 4 rows, over char 5-shingles.
_NUM_HASHES, _NUM_BANDS, _ROWS_PER_BAND, _SHINGLE_K = 64, 16, 4, 5
_rng = np.random.default_rng(42)
_HASH_A = _rng.integers(1, 2**30, size=_NUM_HASHES).tolist()
_HASH_B = _rng.integers(0, 2**30, size=_NUM_HASHES).tolist()
del _rng


def dedup_exact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup by content digest (sha2-256), keeping one representative
    per digest (the min id — an agg+semi-join, cheaper than a global
    row_number window at scale).

    SKINNY shuffles (round-6 sf1 profile): the digest aggregate sees only
    (digest, id) — never the text — and the final semi-join keys on the
    id alone, so when the keeper-id set fits the broadcast threshold
    (8 B/doc) the full-width rows never cross an exchange; when it does
    not, the semi-join shuffles rows once by id, still never by the
    64-char digest with text in tow."""
    digest = F.sha2(F.col(text_col), 256)
    keeper_ids = (
        df.select(F.col(id_col), digest.alias("_digest"))
        .groupBy("_digest")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keeper_ids, on=id_col, how="left_semi")


def _shingle_rows(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """The one shingler: ``(id, gid)`` per k-char shingle OFFSET, not
    distinct; gid is the replay-stable ``xxhash64`` of the shingle. NULL
    texts are dropped: ``greatest(length(NULL) − (k−1), 1)`` would give
    each one shingle, ``xxhash64(NULL)``, so null docs would pair.

    Shape: explode the OFFSET sequence and substring per row — NOT
    ``array_distinct(transform(...))``: Spark interprets higher-order
    lambdas row-at-a-time instead of codegen (measured 8×), and the
    first cut of the shared stage shipped with the HOF shape and doubled
    the near-dup family's wall at sf0.01 (probe 4.0 s → 8.7 s) before
    the round-8 re-audit caught it. ``fan_out`` runs BEFORE the
    ~300×-row explode: full-core shingling, and the consumer's
    groupBy(id) reuses this partitioning (no second exchange).

    All-ASCII rows (length == octet_length) hash an O(1) slice of the
    UTF-8 BYTES: ``substring`` on a string re-scans from the head,
    O(len²) per document (r10; it dominated the whole family's shingle
    stages). xxhash64 hashes raw bytes, so both slices hash identically;
    non-ASCII rows keep the exact char-substring path."""
    offsets = F.sequence(
        F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    )
    gid = F.when(
        F.col("_a"), F.xxhash64(F.expr(f"substring(_b, _i, {k})"))
    ).otherwise(F.xxhash64(F.expr(f"substring({text_col}, _i, {k})")))
    return (
        fan_out(df.where(F.col(text_col).isNotNull()), id_col)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.col(text_col).cast("binary").alias("_b"),
            (
                F.length(text_col) == F.expr(f"octet_length({text_col})")
            ).alias("_a"),
            F.explode(offsets).alias("_i"),
        )
        .select(id_col, gid.alias("gid"))
    )


def doc_shingle_gids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = _SHINGLE_K,
) -> DataFrame:
    """The SHARED corpus shingle stage: one ``(id, gid)`` row per
    DISTINCT shingle per document (NULL texts have none), gid =
    replay-stable ``xxhash64`` of the shingle text. Every dedup pipeline
    in the family starts from exactly this table — MinHash signatures
    (``pmod(gid, P)`` is the base hash), the containment prefix filter
    (document frequency per gid), and exact set verification (sorted
    int-gid arrays intersect ~10× cheaper than 5-char-string arrays) —
    so a caller that computes it once and persists it
    (queries/llm_data.py `_corpus_shingles`) pays the corpus text scan +
    shingle explode a single time for the whole family instead of once
    per pipeline. A 64-bit collision merges one shingle pair
    deterministically (P ≈ n²/2⁶⁴ per doc, ~1e-13 at 2k shingles/doc —
    the same accepted bound for every gid table). The gid is a
    content hash, not ``monotonically_increasing_id``: a run-dependent id
    is only bijective if every partition is computed exactly once, and a
    lineage replay of a lost cached partition would re-draw ids and
    silently mix two vocabularies in the verify arrays.

    Per-doc distinctness comes from the (id, gid) hash aggregate —
    partial aggregation dedups map-side, no per-row array ever
    materializes."""
    return _shingle_rows(df, text_col, id_col, shingle_k).distinct()


def doc_word_gids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The word-gram sibling of :func:`doc_shingle_gids`: one ``(id, gid)``
    row per DISTINCT word n-gram per document, gid = ``xxhash64`` of the n
    consecutive lowercased whitespace-split words joined by one space (a
    text of fewer than n words is one gram). NULL texts are dropped:
    ``greatest(size(NULL) − (n−1), 1)`` would give each one an empty gram,
    so null docs would pair. Same shape as :func:`_shingle_rows`: fan out,
    then explode the gram offsets (no higher-order functions)."""
    words = fan_out(df.where(F.col(text_col).isNotNull()), id_col).select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), r"\s+").alias("_w")
    )
    offsets = F.sequence(F.lit(1), F.greatest(F.size("_w") - (n - 1), F.lit(1)))
    gram = F.concat_ws(" ", F.slice("_w", F.col("_i"), F.lit(n)))
    return (
        words.select(id_col, "_w", F.explode(offsets).alias("_i"))
        .select(id_col, F.xxhash64(gram).alias("gid"))
        .distinct()
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_gids: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature → (id_col, sig: array<bigint>).

    Shape matters for speed here: shingles are EXPLODED by
    :func:`_shingle_rows` (no higher-order functions) and each of the
    64 minima is a plain codegen'd ``min`` aggregate with map-side
    partial aggregation, so the only shuffle carries one 64-wide partial
    row per (task, doc). Duplicate shingles need no dedup — they cannot
    change a min, which is also why the (distinct-per-doc) shared stage
    gives identical signatures.

    ``shingle_gids`` — a :func:`doc_shingle_gids` table (typically the
    family-shared persisted stage) — skips the text scan + explode
    entirely: the base hash is ``pmod(gid, P)``, the same value the
    inline path computes (gid = xxhash64(shingle)).
    """
    rows = shingle_gids
    if rows is None:
        rows = _shingle_rows(df, text_col, id_col, _SHINGLE_K)
    base = rows.select(id_col, F.pmod("gid", F.lit(_MERSENNE_P)).alias("_h"))
    mins = [
        F.min(
            F.pmod(F.col("_h") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))
        ).alias(f"_mh{i}")
        for i, (a, b) in enumerate(zip(_HASH_A, _HASH_B))
    ]
    return (
        base.groupBy(id_col)
        .agg(*mins)
        .select(
            id_col, F.array(*[f"_mh{i}" for i in range(_NUM_HASHES)]).alias("sig")
        )
    )


def band_hashes(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a signature table to its LSH band keys:
    ``(id, band_id, band_hash)`` — n·bands skinny rows. Shared by the
    self-join (all-pairs) and probe-vs-index (incremental) shapes."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.xxhash64(
                    F.slice("sig", i * _ROWS_PER_BAND + 1, _ROWS_PER_BAND)
                ).alias("band_hash"),
            )
            for i in range(_NUM_BANDS)
        ]
    )
    return sig_df.select(F.col(id_col), F.explode(bands).alias("b")).select(
        id_col, "b.band_id", "b.band_hash"
    )


def minhash_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.
    Shuffle key is (band_id, band_hash) — n·bands rows total, never n².

    ``max_bucket_size``: per-bucket self-joins are quadratic in bucket
    size, so one HOT bucket (boilerplate text whose common shingles win
    several minhash minima across unrelated docs) can dominate the whole
    candidate stage — the sf1 scale probe measured candidates growing
    17× for 10× docs on the dense-vocabulary fixture for exactly this
    reason. Setting a cap skips buckets larger than the cap (one extra
    keyed count, then a semi-filter), the standard production LSH
    mitigation: a pair whose EVERY shared band is hot is dropped
    (bounded recall cost — genuinely near-dup pairs collide in many
    bands, so they survive unless all their bands are hot), while cost
    becomes ≤ cap × bucket rows. Default None keeps the exact banding
    contract the hash-checked oracles verify."""
    exploded = band_hashes(sig_df, id_col)
    if max_bucket_size is not None:
        sizes = exploded.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("_bsz")
        )
        exploded = (
            exploded.join(sizes, ["band_id", "band_hash"])
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    return _bucket_pairs(exploded, id_col, ["band_id", "band_hash"])


def _bucket_pairs(rows: DataFrame, id_col: str, keys: list[str]) -> DataFrame:
    """The one bucket self-join: the distinct ``(id_a, id_b)`` pairs,
    ``id_a < id_b``, of rows that agree on every column in ``keys``. Any
    other column of ``rows`` comes along as ``<col>_a`` and ``<col>_b``.
    The shuffle key is ``keys`` — rows·buckets skinny rows, never n² —
    and a pair that shares several buckets comes out once. MinHash
    bands, SimHash chunks and the embedding LSH tables all pair here."""
    a, b = rows.alias("a"), rows.alias("b")
    match = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
        + [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")],
    )
    rest = [c for c in rows.columns if c != id_col and c not in keys]
    return (
        a.join(b, match)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in rest],
        )
        .distinct()
    )


def _estimate_prefilter(
    cands: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """The candidate id pairs (``cands``' two columns) whose
    signature-estimated Jaccard — matching minhashes / 64 — is
    at least ``threshold − 0.2``: ≈3.5σ below the target for 64 hashes,
    so true pairs survive while the LSH false positives never reach
    exact verification. The survivors are settled (:func:`_settle`), so
    callers may release the signatures."""
    est_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return _settle(
        _with_sides(cands, sig_a, sig_b, id_col, "sig")
        .where(est_match / F.lit(float(_NUM_HASHES)) >= F.lit(threshold - 0.2))
        .select(*cands.columns)
    )


def _settle(pairs: DataFrame) -> DataFrame:
    """The one candidate settle step: ``pairs`` repartitioned BY NUMBER
    and checkpointed eagerly. Candidates are byte-tiny, and AQE's
    byte-based coalescing ran the CPU-heavy verify on 6 of 32 cores
    (34 s vs 14 s at sf1; REPARTITION_BY_NUM is exempt). The checkpoint
    stops each of the verify's reads re-running the candidate lineage
    (4 s of the 5.5 s sf0.01 wall, round 8) and drops that lineage, so
    callers may release what it read."""
    return pairs.repartition(shuffle_width(pairs.sparkSession)).localCheckpoint(
        eager=True
    )


def _with_sides(
    pairs: DataFrame, side_a: DataFrame, side_b: DataFrame, id_col: str, col: str
) -> DataFrame:
    """``pairs`` (two id columns) with ``col`` of each side's per-id table
    joined on as ``<col>_a`` and ``<col>_b``: the MinHash signatures of
    :func:`_estimate_prefilter`, the sorted gid arrays ``_sh`` of
    :func:`_verify`, or the embedding vectors. An id missing from its
    table (a NULL text has no tokens) drops the pair."""
    a, b = pairs.columns
    return pairs.join(
        side_a.select(F.col(id_col).alias(a), F.col(col).alias(f"{col}_a")),
        on=a,
    ).join(
        side_b.select(F.col(id_col).alias(b), F.col(col).alias(f"{col}_b")),
        on=b,
    )


def _verify(
    pairs: DataFrame,
    gids: DataFrame,
    id_col: str,
    threshold: float,
    gids_b: DataFrame | None = None,
    containment: bool = False,
) -> DataFrame:
    """The one exact-verify tail: the settled candidate ids (``pairs``'
    two columns) whose token sets, as sorted gid arrays built for the
    candidate docs only, have Jaccard |A∩B| / (|A| + |B| − |A∩B|) ≥
    ``threshold`` (the arrays are distinct, so that is the union's size)
    or, with ``containment``, |A∩B|/|A| or |A∩B|/|B| ≥ it; rounded to 6
    places. Both sides read ``gids`` and share one array table unless
    side b has its own ``gids_b``. The pair ids are broadcast and not
    distinct: the planner cannot see their size through a checkpoint, so
    it shuffled the whole token table, and a distinct costs a shuffle
    stage. Int arrays intersect ~10× cheaper than 5-char strings; gid
    Jaccard equals string Jaccard up to 64-bit collisions (~1e-13/doc).
    The result is an eager checkpoint: callers may release the tables."""
    a, b = pairs.columns
    sides = [(gids, [a, b])] if gids_b is None else [(gids, [a]), (gids_b, [b])]
    arrs = [
        tokens.join(
            F.broadcast(pairs.select(F.explode(F.array(*ids)).alias(id_col))),
            id_col,
            "left_semi",
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("gid")).alias("_sh"))
        for tokens, ids in sides
    ]
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    na, nb = F.size("_sh_a"), F.size("_sh_b")
    if containment:
        cols = {"containment_a": inter / na, "containment_b": inter / nb}
        keep = F.greatest(*cols.values()) >= threshold
    else:
        cols = {"jaccard": inter / (na + nb - inter)}
        keep = cols["jaccard"] >= threshold
    return (
        _with_sides(pairs, arrs[0], arrs[-1], id_col, "_sh")
        .where(keep)
        .select(a, b, *[F.round(c, 6).alias(n) for n, c in cols.items()])
        .localCheckpoint(eager=True)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    shingle_gids: DataFrame | None = None,
) -> DataFrame:
    """End-to-end near-dup pairs: MinHash → LSH candidates → signature
    Jaccard-estimate prefilter → EXACT Jaccard verification. Returns
    (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Scale decisions, each measured on sf0.1 (5k docs, 138k LSH
    candidates → 256 true pairs):

    * signatures are ``persist()``-ed — the band self-join and both
      estimate-join sides would otherwise recompute the full
      scan→shingle→hash subtree (2× faster overall) — and released once
      the prefilter's eager checkpoint drops them from the lineage;
    * the Jaccard-estimate prefilter (:func:`_estimate_prefilter`) keeps
      the ~500× excess of LSH false positives from exact verification,
      which builds sorted gid arrays ONLY for candidate docs, from the
      gid table the signatures use — no text re-shingle.

    The (small) result is checkpointed eagerly, so whatever this call
    persisted is released before it returns.
    """
    # inline gids feed TWO consumers (the signature aggregate and the
    # exact-verify arrays) — unpersisted, each replays the corpus
    # scan + shingle explode (the dominant stage; measured ~2 s/replay
    # at sf0.1 inside q_curation_pipeline). A caller-supplied shared
    # stage is the caller's to persist (queries/llm_data._corpus_shingles
    # does), so only the inline table is persisted and released here.
    gids = (
        shingle_gids
        if shingle_gids is not None
        else doc_shingle_gids(df, text_col, id_col).persist()
    )
    sigs = minhash_signatures(df, text_col, id_col, shingle_gids=gids).persist()
    cands = minhash_candidate_pairs(sigs, id_col, max_bucket_size)
    pre = _estimate_prefilter(cands, sigs, sigs, id_col, threshold)
    sigs.unpersist()
    result = _verify(pre, gids, id_col, threshold)
    if shingle_gids is None:
        gids.unpersist()
    return result


def minhash_incremental(
    new_df: DataFrame,
    index_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL near-dup: probe a NEW batch against an EXISTING corpus
    — the production shape for continuously-ingested training data,
    where re-running all-pairs dedup over 100 TB per ingest is not an
    option. Returns ``(id_new, id_old, jaccard)`` with exact shingle
    Jaccard ≥ threshold; new-vs-new duplicates are intentionally NOT
    reported (run the all-pairs pass within the batch for those).

    Same hash family and banding as :func:`minhash_near_duplicates`, but
    the band join is new-batch × index instead of a self-join: cost
    scales with ``|new| · bands`` probe rows against the bucketed index,
    independent of corpus size per ingest. At scale the index side is a PERSISTED
    table of (band_id, band_hash, id) bucketed by band key — signatures
    are computed once at ingest and appended by
    :func:`minhash_index_append`, so each increment pays only its own
    shingling. Candidates are estimate-prefiltered and exact-verified on
    their shingle sets, so every EMITTED pair is a true Jaccard-≥-threshold
    pair (no false positives ever). Recall is w.h.p. for pairs well
    above the threshold, not certain: a pair at similarity s collides
    in ≥1 of b bands with probability 1−(1−s^r)^b (≈64% at s=0.5 with
    b=16, r=4; >99.9% at s≥0.8), and the estimate prefilter at
    ``threshold − 0.2`` is a ~3σ margin at 64 hashes — the same
    banding-recall contract :func:`minhash_near_duplicates` documents.
    Fixtures for hash-checked oracles must therefore keep their true
    pairs comfortably above the threshold (the q_dedup_incremental
    fixture pairs sit at j ≥ 0.8, where missed-pair probability is
    < 1e-3 per pair).

    The (small) result is an eager checkpoint: reading it again does not
    re-run the verify and its text re-shingle, and the signatures this
    call persisted are released before it returns.
    """
    # NOTE (round 10): wiring the family-shared ``shingle_gids`` stage
    # through here (as minhash_probe_index does) was tried and MEASURED
    # SLOWER (4.6 vs 3.3 s isolated at sf0.1): the new/index slices are
    # disjoint, so the inline path already shingles the corpus exactly
    # once in total, fused into the signature aggregates — the shared
    # stage adds a materialization barrier + two semi-joins with no
    # reuse to amortize them (verify shingles only candidate pairs).
    sig_new = minhash_signatures(new_df, text_col, id_col).persist()
    sig_idx = minhash_signatures(index_df, text_col, id_col).persist()
    result = _probe_verified_pairs(
        band_hashes(sig_new, id_col), band_hashes(sig_idx, id_col),
        sig_new, sig_idx, new_df, index_df, text_col, id_col, threshold,
    )
    sig_new.unpersist()
    sig_idx.unpersist()
    return result


def _probe_verified_pairs(
    bands_new: DataFrame,
    bands_idx: DataFrame,
    sig_new: DataFrame,
    sig_idx: DataFrame,
    new_df: DataFrame,
    old_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_gids: DataFrame | None = None,
) -> DataFrame:
    """Shared tail of the incremental probe shapes: join the new batch's
    band keys to the index's (in memory or the persisted table) for
    ``(id_new, id_old)`` candidates, estimate-prefilter, exact-verify.
    Gids come from ``shingle_gids`` (covering batch and corpus) if given,
    else from the candidate docs' texts, one table per side, so batch and
    corpus ids never mix."""
    cands = (
        bands_new.withColumnRenamed(id_col, "id_new")
        .join(bands_idx.withColumnRenamed(id_col, "id_old"), ["band_id", "band_hash"])
        .select("id_new", "id_old")
        .distinct()
    )
    pre = _estimate_prefilter(cands, sig_new, sig_idx, id_col, threshold)
    if shingle_gids is not None:
        return _verify(pre, shingle_gids, id_col, threshold)
    # only the candidate docs' texts are shingled; the ids are broadcast
    # and not distinct, as in _verify
    new_gids, old_gids = (
        doc_shingle_gids(
            docs.join(F.broadcast(pre.select(c).toDF(id_col)), id_col, "left_semi"),
            text_col,
            id_col,
        )
        for docs, c in ((new_df, "id_new"), (old_df, "id_old"))
    )
    return _verify(pre, new_gids, id_col, threshold, gids_b=old_gids)


def minhash_index_append(
    batch_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    ingest_tag: str | None = None,
    shingle_gids: DataFrame | None = None,
) -> None:
    """WRITE path of the incremental dedup index: shingle + MinHash the
    batch ONCE and append its ``(id, sig)`` rows to ``{index}/sigs`` and
    its ``(id, band_id, band_hash)`` rows to ``{index}/bands`` (parquet,
    directory-partitioned by band_id so a probe prunes to its band).
    Each ingest pays only its own signatures — the corpus is never
    re-shingled. At cluster scale the bands table would instead be a
    metastore table ``bucketBy(N, "band_hash")`` so probe joins are
    co-located shuffle-free; the path layout here is the
    filesystem-only equivalent. Texts are NOT stored — exact
    verification joins back to the corpus by id, so the index stays
    skinny (~520 bytes/doc + bands) no matter how large documents are.

    ``ingest_tag`` makes the append EXACTLY-ONCE under replay: each
    table's batch goes through the two-phase-commit directory protocol
    in :mod:`python_darima_spark.operators.ledger` (stage with
    overwrite → atomic per-file renames into the table dir → marker),
    so a caller that retries the same logical batch after a crash at
    ANY single point (e.g. a replayed foreachBatch micro-batch under
    at-least-once semantics — the round-5 ADVICE hazard in
    q_stream_dedup_near) neither duplicates nor loses signature rows —
    the commit-vs-marker window the previous marker-file ledger left
    open (round-7 VERDICT) is closed, and the ledger is scheme-routed
    through the Hadoop FileSystem API, so ``file://`` URIs and remote
    filesystems with atomic rename (HDFS, ABFS) work identically
    (round-7 ADVICE: the old whitelist handed file:// URIs to
    ``os.path``). Markers and staging dirs are underscore-prefixed —
    invisible to parquet scans — so the read path stays identical to
    untagged appends (flat layout; the ``ingest=<tag>`` partition-dir
    alternative measured ~2.5× worse probe parallelism at sf1)."""
    sig = minhash_signatures(
        batch_df, text_col, id_col,
        # a family-shared stage covers the whole corpus; this ingest
        # signs only ITS batch (semi-join on the batch ids)
        shingle_gids=(
            shingle_gids.join(batch_df.select(id_col), id_col, "left_semi")
            if shingle_gids is not None
            else None
        ),
    ).persist()
    try:
        # repartition on the directory key first: ONE file per band dir
        # per ingest instead of shuffle-partition-count tiny files per
        # dir (the small-files problem compounds across ingests;
        # measured ~2× faster append+probe round trip at fixture scale)
        bands = band_hashes(sig, id_col).repartition(_NUM_BANDS, "band_id")
        # sig rows are skinny (id + 64 longs); writing them at
        # full shuffle width leaves shuffle-partition-count tiny files
        # PER INGEST (the small-files problem again, and each extra
        # file is one extra task commit + one extra ledger rename).
        # Scale file count with the session's width so big clusters
        # still write in parallel; parquet row groups keep reads
        # splittable either way.
        #
        # Trade-off (round-9 ADVICE): coalesce without shuffle collapses
        # the PARENT stage too, so when `sig` is recomputed for this
        # write (cache miss / eviction) the signature computation itself
        # runs at ≤ width/8 tasks — acceptable while the persist() above
        # holds (the compute ran wide once), and net-faster in the
        # bench. If sig computation ever dominates, switch to
        # repartition(n) (one extra skinny shuffle, full compute
        # parallelism) or localCheckpoint before coalescing.
        sig_out = sig.coalesce(
            max(4, shuffle_width(batch_df.sparkSession) // 8)
        )
        # The sigs table and the bands table are INDEPENDENT targets that
        # both derive from the persisted `sig`: submit the two write jobs
        # concurrently (guide §2.6 — actions are only sequential because
        # driver code calls them sequentially) so the second job's tasks
        # back-fill executors freed by the first job's tail. Safe because
        # each per-table ledger transaction is self-contained (its own
        # staging dir, marker, and tag-prefixed file names) and Spark's
        # block-level cache locks deduplicate the concurrent first
        # materialization of `sig`. A crash/replay interleaving where one
        # table commits and the other does not was already reachable
        # sequentially; the per-table replay decision table is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        if ingest_tag is None:
            # untagged: plain appends; Spark's commit protocol makes a
            # died-mid-job retry safe, but a caller-level replay
            # duplicates (that is what tags are for)
            jobs = [
                lambda: sig_out.write.mode("append").parquet(
                    f"{index_path}/sigs"
                ),
                lambda: bands.write.mode("append")
                .partitionBy("band_id")
                .parquet(f"{index_path}/bands"),
            ]
        else:
            spark = batch_df.sparkSession
            jobs = [
                lambda: commit_staged_ingest(
                    spark, f"{index_path}/sigs", ingest_tag,
                    staged_parquet_writer(sig_out),
                ),
                lambda: commit_staged_ingest(
                    spark, f"{index_path}/bands", ingest_tag,
                    staged_parquet_writer(bands, partition_by="band_id"),
                ),
            ]
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [pool.submit(j) for j in jobs]
            errs = []
            for f in futures:
                try:
                    f.result()
                except Exception as exc:  # noqa: BLE001 — re-raised below
                    errs.append(exc)
            if errs:
                raise errs[0]
    finally:
        sig.unpersist()


def minhash_probe_index(
    new_df: DataFrame,
    index_path: str,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_gids: DataFrame | None = None,
) -> DataFrame:
    """PROBE a new batch against the PERSISTED index maintained by
    :func:`minhash_index_append` — the full production loop: append
    batch N, probe batch N+1 against everything ingested so far, append
    batch N+1, … Cost per ingest is O(|new|·bands) probe rows against
    the bucketed bands table + exact verification of the surviving
    candidates; the corpus is touched only by id — without
    ``shingle_gids`` only the candidate docs' texts are shingled for
    the exact verify, never the whole corpus. ``corpus_df`` must
    contain the texts of every id previously appended. Same emitted-pair
    contract as :func:`minhash_incremental`: no false positives ever;
    recall w.h.p. by the banding bound documented there. The result is
    an eager checkpoint, as in :func:`minhash_incremental`."""
    spark = new_df.sparkSession
    sig_new = minhash_signatures(
        new_df, text_col, id_col,
        shingle_gids=(
            shingle_gids.join(new_df.select(id_col), id_col, "left_semi")
            if shingle_gids is not None
            else None
        ),
    ).persist()
    # ensure_parallelism on BOTH index scans (round 6): the index files
    # are few and small, so their scans plan at a handful of splits; when
    # AQE then broadcasts the (small) candidate side of the verify joins,
    # the expensive per-pair stages INHERIT that scan parallelism — a
    # measured 2.5× swing at sf1 depending on the file-split lottery.
    # Forcing the skinny index tables up to the shuffle width pins it.
    bands_idx = ensure_parallelism(spark.read.parquet(f"{index_path}/bands"))
    sig_idx = ensure_parallelism(spark.read.parquet(f"{index_path}/sigs"))
    result = _probe_verified_pairs(
        band_hashes(sig_new, id_col), bands_idx,
        sig_new, sig_idx, new_df, corpus_df, text_col, id_col, threshold,
        shingle_gids=shingle_gids,
    )
    sig_new.unpersist()
    return result


# ε of the counting prefix filter (see _prefix_pairs)
_PROBE_FRAC = 0.05


def _prefix_pairs(gids: DataFrame, id_col: str, threshold: float) -> DataFrame:
    """The one prefix filter over a token table ``(id, gid)``: candidate
    ``(id_a, id_b)`` pairs, ``id_a < id_b``, each unordered pair once.

    A COUNTING prefix filter (the PPJoin prefix bound, Xiao et al.,
    WWW 2008, generalized from "≥1 shared probe token" to "≥k shared"):
    order each doc's tokens by global document frequency ascending and
    probe the ``n − ⌈t·n⌉ + k`` RAREST, with ``k = max(3, ⌈ε·n⌉)``
    (ε = ``_PROBE_FRAC``). Recall is PROVABLY 1.0 for every pair whose
    smaller set S shares ≥ ⌈t·n_S⌉ tokens with its partner — containment
    max(|A∩B|/|A|, |A∩B|/|B|) ≥ t, and Jaccard ≥ t too, since J ≥ t
    implies |A∩B| ≥ t·|A∪B| ≥ t·n_S: at most ``n_S − ⌈t·n_S⌉`` of S's
    probes can miss, so at least ``min(k, ⌈t·n_S⌉)`` MUST hit the
    partner's inverted index, and that many hits are required. A random
    pair fakes ONE shared rare token easily but ⌈ε·n⌉ of them
    binomially never (containment at sf0.1: 6.6 M candidates with k=1 →
    84 k with k=εn, against 256 true pairs), for a 1.5× probe price at
    t=0.9 ((1−t+ε)·n rows per doc instead of (1−t)·n).

    Only the SMALLER side of a pair needs to probe (the guarantee is the
    smaller doc's), so the index join keeps a probe row only when the
    indexed doc is larger (ids break size ties) — half the join volume,
    and each unordered pair emerges from one probe direction, so no
    distinct is needed. Every stage is linear in corpus token volume
    (containment: 10.0× candidates / ~4× wall at 10× data on local[32]).
    The survivors are settled (:func:`_settle`)."""
    # document frequency as a window count over gid: one shuffle, not
    # groupBy + join-back; then one keyed window pass computes both the
    # df-ascending probe rank and the doc's token-set size
    wdoc = Window.partitionBy(id_col)
    ranked = (
        gids.withColumn("_df", F.count("*").over(Window.partitionBy("gid")))
        .withColumn("_rn", F.row_number().over(wdoc.orderBy("_df", "gid")))
        .withColumn("_n", F.count("*").over(wdoc))
    )
    # exact prefix bound n − ⌈t·n⌉ + k, epsilon-guarded: the float
    # floor((1−t)·n)+1 form dropped a probe at the exact-threshold
    # boundary ((1.0−0.9)·20 = 1.999…96 floors to 1) and with it a true
    # pair (hypothesis-found, round 5)
    kcol = F.greatest(F.lit(3), F.ceil(F.lit(_PROBE_FRAC) * F.col("_n")))
    tn = F.ceil(F.lit(threshold) * F.col("_n") - F.lit(1e-9))
    probe = ranked.where(
        F.col("_rn") <= F.col("_n") - tn + kcol
    ).select(
        F.col(id_col).alias("_pid"),
        "gid",
        F.col("_n").alias("_np"),
        F.least(kcol, tn).alias("_need"),
    )
    index = ranked.select(
        F.col(id_col).alias("_iid"), "gid", F.col("_n").alias("_ni")
    )
    bigger = (F.col("_ni") > F.col("_np")) | (
        (F.col("_ni") == F.col("_np")) & (F.col("_iid") > F.col("_pid"))
    )
    return _settle(
        probe.join(index, "gid")
        .where(bigger)
        .groupBy("_pid", "_iid", "_need")
        .agg(F.count("*").alias("_hits"))
        .where(F.col("_hits") >= F.col("_need"))
        .select(
            F.least("_pid", "_iid").alias("id_a"),
            F.greatest("_pid", "_iid").alias("id_b"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Word n-gram Jaccard pairs ``(id_a, id_b, jaccard)``, ``id_a <
    id_b``, jaccard ≥ ``threshold``, over every pair of the corpus; the
    sets are the docs' distinct word n-grams (:func:`doc_word_gids`).
    Candidates come from the counting prefix filter
    (:func:`_prefix_pairs`, recall 1.0); word 3-grams are overwhelmingly
    df=1, so candidate volume tracks true-pair volume, not corpus-pair
    volume. Candidates are verified on sorted gid arrays of candidate
    docs only (:func:`_verify`)."""
    # persisted: the prefix filter and the verify arrays both read the
    # gram table; released once the (small) result is materialized
    gids = doc_word_gids(df, text_col, id_col, n).persist()
    result = _verify(_prefix_pairs(gids, id_col, threshold), gids, id_col, threshold)
    gids.unpersist()
    return result


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer: str = "words",
) -> DataFrame:
    """64-bit SimHash per doc → ``(id_col, simhash)``; each token's hash
    is its gid in a token table, and a NULL text has no fingerprint.

    ``tokenizer``: ``"words"`` (lowercased whitespace tokens, the n=1
    :func:`doc_word_gids` table — coarse, good when vocabularies differ)
    or ``"shingle5"`` (char 5-shingles, :func:`doc_shingle_gids` — the
    same token space MinHash uses, so fingerprint distance tracks
    shingle-Jaccard; on corpora with a shared vocabulary word tokens
    saturate and near-dup/non-dup Hamming bands overlap)."""
    if tokenizer.startswith("shingle") and tokenizer[7:].isdigit():
        gids = doc_shingle_gids(df, text_col, id_col, int(tokenizer[7:]))
    elif tokenizer == "words":
        gids = doc_word_gids(df, text_col, id_col, 1)
    else:
        raise ValueError(
            f"tokenizer must be 'words' or 'shingle<k>' (e.g. 'shingle5'), "
            f"got {tokenizer!r}"
        )
    return _fingerprints(gids, id_col)


def _fingerprints(gids: DataFrame, id_col: str) -> DataFrame:
    """SimHash of a token table, fully relational: 63 conditional-sum
    partial aggregates over the gids (one shuffle on id), then recompose
    the fingerprint bits."""
    sums = gids.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("gid").bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1)
            ).alias(f"_b{j}")
            for j in range(63)  # bit 63 is the sign bit; keep fingerprints positive
        ]
    )
    fp = None
    for j in range(63):
        term = F.when(F.col(f"_b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


def _hamming_pairs(fps: DataFrame, id_col: str, max_hamming: int) -> DataFrame:
    """``(id_a, id_b, hamming)`` for fingerprint pairs within
    ``max_hamming`` bits. Candidate generation by pigeonhole: split the
    64-bit fingerprint into max_hamming+1 chunks — any pair within
    max_hamming bits must agree exactly on ≥1 chunk, so bucketing by
    (chunk_id, chunk_val) finds all of them without an n² join."""
    n_chunks = max_hamming + 1
    bits = 64 // n_chunks
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftrightunsigned(F.col("simhash"), i * bits)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    exploded = fps.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", "c.chunk_id", "c.chunk_val"
    )
    cands = _bucket_pairs(exploded, id_col, ["chunk_id", "chunk_val"])
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cands.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    tokenizer: str = "words",
) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)`` by SimHash Hamming
    distance ≤ ``max_hamming``, with pigeonhole chunk candidates
    (:func:`_hamming_pairs`)."""
    # persisted: the chunk self-join reads fingerprints twice, and
    # recomputing means re-running the token explode + 63-way aggregate
    fps = simhash(df, text_col, id_col, tokenizer).persist()
    return _hamming_pairs(fps, id_col, max_hamming)


def simhash_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 7,
    threshold: float = 0.5,
) -> DataFrame:
    """SimHash candidate generation + EXACT shingle-Jaccard verification:
    (id_a, id_b, jaccard ≥ threshold), same output contract as
    :func:`minhash_near_duplicates` so the two candidate generators are
    interchangeable (and share one SQL oracle — every emitted pair is
    exact-verified, so result equality is precisely the statement that
    SimHash banding missed no true pair).

    Fingerprints hash the SAME char-5-shingle tokens the verification
    measures — one :func:`doc_shingle_gids` table feeds both, so each
    text is shingled once — and Hamming distance tracks shingle-Jaccard;
    ``max_hamming=7`` (8 pigeonhole chunks of 8 bits) holds a wide margin
    on realistic corpora — measured on the sf0.01 fixture: all 25 true
    pairs (jaccard ≥ 0.93) at Hamming ≤ 6, while only those same 25 of
    the 124,750 possible pairs sit at Hamming ≤ 10 at all."""
    # persisted: fingerprints and verify arrays both read it; released
    # once the (small) result is materialized
    gids = doc_shingle_gids(df, text_col, id_col).persist()
    # persisted as in simhash_near_duplicates (sf0.1, 4 cores: 6.8 → 4.4 s)
    fps = _fingerprints(gids, id_col).persist()
    # settled: each of the verify's reads would re-run the fingerprints
    # and the chunk self-join (2.5× the sf0.1 wall)
    cands = _settle(_hamming_pairs(fps, id_col, max_hamming).select("id_a", "id_b"))
    fps.unpersist()
    result = _verify(cands, gids, id_col, threshold)
    gids.unpersist()
    return result


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    shingle_gids: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC containment |A∩B|/|A| ≥ threshold — doc-inside-doc
    detection, the case Jaccard-based dedup structurally misses (a page
    quoted verbatim inside a 100× larger page has Jaccard ≈ 0.01 but
    containment 1.0). Returns ``(id_a, id_b, containment_a,
    containment_b)``, ``id_a < id_b``, ``containment_x`` = |A∩B| / |x|,
    for the pairs where either ratio is ≥ threshold. Candidates come
    from the counting prefix filter (:func:`_prefix_pairs`, recall 1.0)
    and are verified on sorted gid arrays of candidate docs only.
    ``shingle_gids`` — a :func:`doc_shingle_gids` table, typically the
    family-shared persisted stage — skips the text scan and explode."""
    # the inline table is persisted because the prefix filter and the
    # verify arrays both read it; a caller-supplied one is the caller's
    gids = (
        shingle_gids
        if shingle_gids is not None
        else doc_shingle_gids(df, text_col, id_col).persist()
    )
    pairs = _prefix_pairs(gids, id_col, threshold)
    result = _verify(pairs, gids, id_col, threshold, containment=True)
    if shingle_gids is None:
        gids.unpersist()
    return result


def _broadcast_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes: ``10485760b``,
    ``10m`` and ``-1`` (off) all read back as the conf's JVM byte string."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").strip().lower()
    num = raw.rstrip("kmgtpb")
    shift = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}
    return int(num) << shift[raw[len(num):].removesuffix("b")]


def _signed_checkpoint(e: DataFrame) -> tuple[DataFrame, tuple]:
    """Eager ``localCheckpoint`` of a distinct ``(u, v)`` edge list and its
    order-independent set checksum, observed in the same job: the exact
    count and an xor-fold of 64-bit edge hashes (associative, and it
    cannot overflow under ANSI mode)."""
    obs = Observation()
    e = e.observe(
        obs, F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
    ).localCheckpoint(eager=True)
    sig = obs.get
    return e, (sig["n"], sig["h"])


def _star_round(e: DataFrame) -> DataFrame:
    """One LARGE-STAR + SMALL-STAR round (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) over a distinct edge
    list. Large-star attaches each node's STRICTLY LARGER neighbors to the
    min of its closed neighborhood; small-star attaches its smaller
    neighbors (and itself) to their min. Returns distinct ``u > v`` edges:
    every node with an edge and every component's connectivity survive."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lmin = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("u", "_mn").alias("m"))
    )
    large = (
        sym.join(lmin, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    d = large.select(F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b"))
    pairs = d.join(d.groupBy("a").agg(F.min("b").alias("m")), "a")
    return (
        pairs.select(F.col("b").alias("u"), F.col("m").alias("v"))
        .union(pairs.select(F.col("a").alias("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _min_root_labels(edges: pd.DataFrame) -> pd.DataFrame:
    """Union-find over ``(u, v)`` edges with every root at its component's
    min id; returns ``(u, label)`` for each non-root node, label that id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges["u"].tolist(), edges["v"].tolist()):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    moved = {x: r for x in list(parent) if (r := find(x)) != x}
    return pd.DataFrame(
        {"u": list(moved), "label": list(moved.values())}, dtype="int64"
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components: ``(id_col,
    cluster_id)`` for every distinct id of ``nodes``, ``cluster_id`` its
    component's min id (its own id if it has no edge) — the step between
    pair detection and keeping one doc per cluster. Ids compare as longs;
    an edge to an id outside ``nodes`` links nothing.

    The edges are checkpointed once and signed in the same job, with an
    exact count (:func:`_signed_checkpoint`). While they outnumber the cap,
    ``spark.sql.autoBroadcastJoinThreshold`` bytes ÷ 16 per edge (655k
    edges at the 10 MB default), checkpointed star rounds contract them,
    O(log n) rounds in all. Once they fit, the driver collects them
    (Arrow), runs a union-find and broadcasts the labels back, so a
    near-dup graph costs one signed checkpoint and one collect. Star
    rounds keep every component's nodes and connectivity, so a switch
    partway gives the fixpoint's labels. A threshold of ``-1`` runs the
    rounds to the star fixpoint instead, where every node points at its
    component min. Past ``max_iterations`` rounds it raises
    ``RuntimeError`` rather than return partial labels.
    """
    spark = edges.sparkSession
    ids = nodes.select(F.col(id_col)).distinct()
    # one node-id plan on both sides, so the two semi-joins share a broadcast
    known = nodes.select(F.col(id_col).cast("long").alias("_n"))
    e, sig = _signed_checkpoint(
        edges.select(
            F.col(src_col).cast("long").alias("a"),
            F.col(dst_col).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .join(known, F.col("a") == F.col("_n"), "left_semi")
        .join(known, F.col("b") == F.col("_n"), "left_semi")
        .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
    )
    cap, rounds = _broadcast_bytes(spark) // 16, 0
    while sig[0] > cap:
        if rounds == max_iterations:
            raise RuntimeError(
                f"connected_components did not converge within "
                f"{max_iterations} rounds (expected O(log n)); raise max_iterations"
            )
        new_e, new_sig = _signed_checkpoint(_star_round(e))
        rounds += 1
        if new_sig == sig:  # fixpoint: each non-root points at its min
            labels = e.groupBy("u").agg(F.min("v").alias("label"))
            break
        e, sig = new_e, new_sig
    else:  # the edges fit a broadcast: finish on the driver
        pdf = _min_root_labels(e.toPandas())
        labels = F.broadcast(spark.createDataFrame(pdf, "u long, label long"))
    id_type = ids.schema[id_col].dataType
    on = F.col(id_col).cast("long") == labels["u"]
    return ids.join(labels, on, "left").select(
        F.col(id_col),
        F.coalesce(F.col("label").cast(id_type), F.col(id_col)).alias("cluster_id"),
    )
