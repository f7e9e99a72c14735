"""Property tests for LLM-data operators: injected duplicates must be
found, approximate paths must agree with exact baselines (SURVEY.md §5.2)."""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from python_darima_spark.operators.dedup import (
    containment_pairs,
    dedup_exact,
    minhash_incremental,
    minhash_index_append,
    minhash_near_duplicates,
    minhash_probe_index,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    simhash_verified_pairs,
)
from python_darima_spark.operators.similarity import (
    cosine_topk,
    embedding_near_duplicates,
    ivf_topk,
    train_centroids,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    # exact dup of doc 0 and near-dup (one word changed) of doc 1
    base = docs.toPandas()
    t0, t1 = base.loc[0, "text"], base.loc[1, "text"]
    near = " ".join(["MUTATED"] + t1.split()[1:])
    extra = pd.DataFrame(
        {
            "doc_id": [9001, 9002],
            "text": [t0, near],
            "lang": ["en", "en"],
            "source": ["dup", "dup"],
            "n_chars": [len(t0), len(near)],
        }
    )
    return spark.createDataFrame(pd.concat([base, extra], ignore_index=True))


def test_dedup_exact_collapses_injected_dup(spark, docs_with_dups):
    out = dedup_exact(docs_with_dups, "text", "doc_id").toPandas()
    assert 9001 not in set(out["doc_id"])  # keep=min keeps doc 0
    assert 0 in set(out["doc_id"])
    assert len(out) == 61  # 62 rows - 1 exact dup


def test_minhash_finds_injected_pair(spark, docs_with_dups):
    pairs = minhash_near_duplicates(
        docs_with_dups, "text", "doc_id", threshold=0.5
    ).toPandas()
    assert ((pairs.id_a == 0) & (pairs.id_b == 9001)).any()  # exact dup: j=1
    assert ((pairs.id_a == 1) & (pairs.id_b == 9002)).any()  # near dup
    exact_row = pairs[(pairs.id_a == 0) & (pairs.id_b == 9001)]
    assert exact_row.jaccard.iloc[0] == pytest.approx(1.0)


def test_minhash_incremental_cross_batch_only(spark, docs_with_dups):
    """Asymmetric probe contract: new-batch docs are matched against the
    index only. Plant the near-dups so one pair CROSSES the batch split
    (found) and the new batch also contains a within-batch exact dup of
    another new doc (correctly NOT reported)."""
    from python_darima_spark.operators.dedup import minhash_incremental

    base = docs_with_dups.toPandas()
    t5 = base.loc[base.doc_id == 5, "text"].iloc[0]
    within = pd.DataFrame(
        {
            "doc_id": [9003, 9004],
            "text": [t5, t5],  # both NEW, dup of each other AND of idx doc 5
            "lang": ["en", "en"],
            "source": ["dup", "dup"],
            "n_chars": [len(t5), len(t5)],
        }
    )
    alldocs = spark.createDataFrame(
        pd.concat([base, within], ignore_index=True)
    )
    new = alldocs.where("doc_id >= 9000")  # 9001..9004
    idx = alldocs.where("doc_id < 9000")
    pairs = minhash_incremental(new, idx, threshold=0.5).toPandas()
    got = set(zip(pairs.id_new, pairs.id_old))
    # every new doc matches its index-side original
    assert (9001, 0) in got and (9002, 1) in got
    assert (9003, 5) in got and (9004, 5) in got
    # the new-new dup pair is NOT reported (asymmetric contract)
    assert not ((pairs.id_new >= 9000) & (pairs.id_old >= 9000)).any()
    # and index-index pairs never appear
    assert (pairs.id_new >= 9000).all()


def test_minhash_index_roundtrip_accumulates(spark, docs_with_dups, tmp_path):
    """The persisted-index ingest loop (VERDICT r3 ask #7): append batch
    N, probe batch N+1 against the index, append it, probe batch N+2 —
    each probe must see EVERY previously appended batch (append
    accumulates, never clobbers), and a probe before a doc's batch is
    appended must NOT see it."""
    from python_darima_spark.operators.dedup import (
        minhash_index_append,
        minhash_probe_index,
    )

    base = docs_with_dups.toPandas()
    t0 = base.loc[base.doc_id == 0, "text"].iloc[0]
    t1 = base.loc[base.doc_id == 1, "text"].iloc[0]
    extra = pd.DataFrame(
        {
            "doc_id": [9103, 9104],
            "text": [t0, t1],  # dup of batch-1's doc 0, batch-2's doc 1
            "lang": ["en", "en"],
            "source": ["dup", "dup"],
            "n_chars": [len(t0), len(t1)],
        }
    )
    alldocs = spark.createDataFrame(pd.concat([base, extra], ignore_index=True))
    batch1 = alldocs.where("doc_id % 2 = 0 AND doc_id < 9000")  # has doc 0
    batch2 = alldocs.where("doc_id % 2 = 1 AND doc_id < 9000")  # has doc 1
    probe = alldocs.where("doc_id >= 9100")  # 9103 (dup of 0), 9104 (dup of 1)
    idx = str(tmp_path / "mh_index")

    minhash_index_append(batch1, idx)
    corpus1 = batch1
    got1 = set(
        map(
            tuple,
            minhash_probe_index(probe, idx, corpus1, threshold=0.5)
            .select("id_new", "id_old")
            .toPandas()
            .itertuples(index=False),
        )
    )
    assert (9103, 0) in got1  # batch-1 dup found
    assert (9104, 1) not in got1  # batch 2 not yet appended

    minhash_index_append(batch2, idx)
    corpus12 = batch1.unionByName(batch2)
    got2 = set(
        map(
            tuple,
            minhash_probe_index(probe, idx, corpus12, threshold=0.5)
            .select("id_new", "id_old")
            .toPandas()
            .itertuples(index=False),
        )
    )
    # append ACCUMULATED: both batches now probe-visible
    assert (9103, 0) in got2 and (9104, 1) in got2


def test_probe_verify_same_from_shared_gids_or_texts(
    spark, docs_with_dups, tmp_path
):
    """The probe's exact verify builds its gid arrays either from a
    caller's shared shingle stage or from the candidate docs' texts; both
    sources must give the same pairs, and so must the in-memory probe."""
    from python_darima_spark.operators.dedup import (
        doc_shingle_gids,
        minhash_incremental,
        minhash_index_append,
        minhash_probe_index,
    )

    batch = docs_with_dups.where("doc_id >= 9000")
    corpus = docs_with_dups.where("doc_id < 9000")
    idx = str(tmp_path / "mh_index")
    minhash_index_append(corpus, idx)
    gids = doc_shingle_gids(corpus.unionByName(batch))

    def rows(df):
        return sorted(map(tuple, df.select("id_new", "id_old", "jaccard").collect()))

    from_texts = rows(minhash_probe_index(batch, idx, corpus, threshold=0.5))
    from_stage = rows(
        minhash_probe_index(batch, idx, corpus, threshold=0.5, shingle_gids=gids)
    )
    in_memory = rows(minhash_incremental(batch, corpus, threshold=0.5))
    assert {(n, o) for n, o, _ in from_texts} >= {(9001, 0), (9002, 1)}
    assert from_stage == from_texts
    assert in_memory == from_texts


def test_null_text_docs_never_pair(spark):
    """A NULL text has no shingle or word-gram set: two null docs used to
    come out as an exact (jaccard 1.0) near-duplicate pair."""
    from python_darima_spark.operators.dedup import minhash_incremental

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, text), (4, text + " x")],
        "doc_id long, text string",
    )
    for pairs in (
        minhash_near_duplicates(df, threshold=0.5),
        simhash_verified_pairs(df, threshold=0.5),
        ngram_jaccard_pairs(df, threshold=0.3),
    ):
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert got == {(3, 4)}
    fps = simhash_near_duplicates(df, max_hamming=3, tokenizer="shingle5")
    assert not {1, 2} & {i for r in fps.collect() for i in (r.id_a, r.id_b)}
    new, old = df.where("doc_id % 2 = 0"), df.where("doc_id % 2 = 1")
    got = {
        (r.id_new, r.id_old)
        for r in minhash_incremental(new, old, threshold=0.5).collect()
    }
    assert got == {(4, 3)}


_SELF_JOIN_OPS = {
    op.__name__: op
    for op in (
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        simhash_verified_pairs,
        containment_pairs,
    )
}


def _verified(op, docs, tmp_path):
    """The named verified near-dup operator over ``docs``; the probe
    operators match the planted copies (ids ≥ 9000) against the rest."""
    new, old = docs.where("doc_id >= 9000"), docs.where("doc_id < 9000")
    if op == "minhash_incremental":
        return minhash_incremental(new, old, threshold=0.5)
    if op == "minhash_probe_index":
        idx = str(tmp_path / "mh_index")
        minhash_index_append(old, idx)
        return minhash_probe_index(new, idx, old, threshold=0.5)
    return _SELF_JOIN_OPS[op](docs)


@pytest.mark.parametrize("op", [*_SELF_JOIN_OPS, "minhash_incremental"])
def test_near_dup_operator_releases_its_cache(spark, docs_with_dups, tmp_path, op):
    """Without ``shingle_gids`` each near-dup operator persists its own
    token table and checkpoints its small result, so once the result is
    read the session cache is as empty as before the call."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert _verified(op, docs_with_dups, tmp_path).collect()
    assert cache.isEmpty()


@pytest.mark.parametrize(
    "op", [*_SELF_JOIN_OPS, "minhash_incremental", "minhash_probe_index"]
)
def test_verified_operator_returns_a_checkpoint(spark, docs_with_dups, tmp_path, op):
    """Every exactly verified near-dup operator returns an eager
    checkpoint: its plan is a scan of the stored rows, so reading the
    result again runs no shuffle, aggregate or join."""
    out = _verified(op, docs_with_dups, tmp_path)
    qe = out._jdf.queryExecution()
    assert qe.optimizedPlan().nodeName() == "LogicalRDD"
    plan = qe.executedPlan().toString()
    assert "Scan ExistingRDD" in plan
    for node in ("Exchange", "Aggregate", "Join"):
        assert node not in plan
    assert out.count()


def test_index_append_tagged_replay_is_idempotent(spark, tmp_path, docs_with_dups):
    """At-least-once replay safety (round-5 ADVICE): re-appending the
    SAME logical batch under the same ingest_tag must be a no-op — no
    duplicated signatures in the index, identical probe results —
    while a genuinely new tag still appends."""
    from python_darima_spark.operators.dedup import minhash_index_append

    idx = str(tmp_path / "mh_index")
    batch = docs_with_dups.where("doc_id < 20")
    minhash_index_append(batch, idx, ingest_tag="b0")
    n1 = spark.read.parquet(f"{idx}/sigs").count()
    # replay: same tag → skipped entirely
    minhash_index_append(batch, idx, ingest_tag="b0")
    assert spark.read.parquet(f"{idx}/sigs").count() == n1
    # new tag → appends
    minhash_index_append(
        docs_with_dups.where("doc_id >= 20"), idx, ingest_tag="b1"
    )
    assert spark.read.parquet(f"{idx}/sigs").count() > n1


def _index_content(spark, idx):
    """Canonical (order-free) content of both index tables, for
    exactly-once comparisons that ignore file layout."""
    sigs = (
        spark.read.parquet(f"{idx}/sigs")
        .selectExpr("doc_id", "cast(sig as array<bigint>) as sig")
        .orderBy("doc_id")
        .toPandas()
    )
    bands = (
        spark.read.parquet(f"{idx}/bands")
        .selectExpr("doc_id", "cast(band_id as int) band_id", "band_hash")
        .orderBy("doc_id", "band_id")
        .toPandas()
    )
    return sigs.reset_index(drop=True), bands.reset_index(drop=True)


_CRASH_POINTS = [
    "staged:sigs",  # staging committed, nothing published
    "published-one:sigs",  # crash mid-publish (after the 1st wave)
    "published:sigs",  # all files published, marker not yet written
    "marked:sigs",  # sigs committed, staging cleanup never ran
    "staged:bands",
    "published-one:bands",
    "published:bands",
    "marked:bands",
    # wave=1 variants (round-9 ADVICE): the 16-way publish wave makes
    # the default "published-one" states wave-ALIGNED prefixes only;
    # shrinking ledger._PUBLISH_WAVE to 1 (read at call time) restores
    # per-file injection — @wave1 crashes after exactly ONE published
    # file, @wave1h3 after exactly THREE (a mid-prefix state the
    # sequential loop used to reach).
    "published-one:sigs@wave1",
    "published-one:bands@wave1",
    "published-one:bands@wave1h3",
]


@pytest.mark.parametrize("crash_point", _CRASH_POINTS)
def test_index_append_crash_replay_exactly_once(
    spark, tmp_path, docs_with_dups, crash_point, monkeypatch
):
    """ACID ingest ledger (round-7 VERDICT ask #2): inject a crash at
    EVERY failure point of the two-phase-commit protocol, then replay
    the same tagged ingest — the final index must hold exactly one copy
    of the batch (no duplicated rows, no lost rows), byte-identical in
    content to a never-crashed ingest."""
    from python_darima_spark.operators import ledger
    from python_darima_spark.operators.dedup import minhash_index_append

    batch = docs_with_dups.where("doc_id < 20")
    # reference: a clean, never-crashed ingest
    ref = str(tmp_path / "ref_index")
    minhash_index_append(batch, ref, ingest_tag="b0")
    exp_sigs, exp_bands = _index_content(spark, ref)

    kind, table = crash_point.split(":")
    crash_at_hit = 1
    if "@" in table:
        table, variant = table.split("@")
        monkeypatch.setattr(ledger, "_PUBLISH_WAVE", 1)
        if variant == "wave1h3":
            crash_at_hit = 3
    fired = {"n": 0}

    def boom(point: str) -> None:
        if point.split(":")[0] == kind and point.endswith("/" + table):
            fired["n"] += 1
            if fired["n"] == crash_at_hit:  # deterministic mid-publish state
                raise RuntimeError(f"injected crash at {point}")

    idx = str(tmp_path / "mh_index")
    monkeypatch.setattr(ledger, "_crash_hook", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        minhash_index_append(batch, idx, ingest_tag="b0")
    # replay after the crash, no injection
    monkeypatch.setattr(ledger, "_crash_hook", lambda p: None)
    minhash_index_append(batch, idx, ingest_tag="b0")

    got_sigs, got_bands = _index_content(spark, idx)
    pd.testing.assert_frame_equal(got_sigs, exp_sigs)
    pd.testing.assert_frame_equal(got_bands, exp_bands)
    # and the ledger is quiescent: markers present, staging reaped
    import os

    assert os.path.exists(f"{idx}/sigs/_ingest_b0.done")
    assert os.path.exists(f"{idx}/bands/_ingest_b0.done")
    assert not os.path.exists(f"{idx}/sigs/_staging/b0")
    assert not os.path.exists(f"{idx}/bands/_staging/b0")


_MANIFEST_CRASH_POINTS = [
    None,  # control: never-crashed commit
    "staged",        # batch written, no manifest — batch invisible
    "manifest-tmp",  # tmp manifest written, not yet moved — invisible
    "manifested",    # manifest in place, tmp garbage not reaped
]


@pytest.mark.parametrize("crash_point", _MANIFEST_CRASH_POINTS)
def test_manifest_mode_crash_replay_exactly_once(
    spark, tmp_path, docs_with_dups, crash_point, monkeypatch
):
    """Manifest-commit mode (round-8 VERDICT ask #7, the S3A story):
    data files never move; the commit is the atomic visibility of one
    manifest object. Inject a crash at every protocol point, assert an
    UNCOMMITTED batch is invisible to the manifest reader, then replay
    and assert exactly-once content equal to a never-crashed ingest."""
    from python_darima_spark.operators import ledger
    from python_darima_spark.operators.ledger import (
        commit_staged_ingest,
        read_manifested_table,
        staged_parquet_writer,
    )

    batch = (
        docs_with_dups.where("doc_id < 20")
        .select("doc_id", "text")
        .coalesce(2)
    )
    want = batch.orderBy("doc_id").toPandas()

    table = str(tmp_path / "manifest_tbl")
    if crash_point is not None:

        def boom(point: str) -> None:
            if point == f"{crash_point}:{table}":
                raise RuntimeError(f"injected crash at {point}")

        monkeypatch.setattr(ledger, "_crash_hook", boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            commit_staged_ingest(
                spark, table, "b0", staged_parquet_writer(batch),
                mode="manifest",
            )
        monkeypatch.setattr(ledger, "_crash_hook", lambda p: None)
        if crash_point in ("staged", "manifest-tmp"):
            # not yet committed: the reader must see NO batch at all
            with pytest.raises(FileNotFoundError, match="manifest"):
                read_manifested_table(spark, table)
        # replay to completion
        commit_staged_ingest(
            spark, table, "b0", staged_parquet_writer(batch),
            mode="manifest",
        )
    else:
        assert commit_staged_ingest(
            spark, table, "b0", staged_parquet_writer(batch),
            mode="manifest",
        )
        # committed tag → replay is a no-op
        assert not commit_staged_ingest(
            spark, table, "b0", staged_parquet_writer(batch),
            mode="manifest",
        )
    got = (
        read_manifested_table(spark, table)
        .orderBy("doc_id")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    import os

    assert os.path.exists(f"{table}/_ingest_b0.manifest")
    assert not os.path.exists(f"{table}/_ingest_b0.manifest.tmp")
    # a second batch appends; the reader unions both manifests
    b2 = (
        docs_with_dups.where("doc_id >= 20")
        .select("doc_id", "text")
        .coalesce(1)
    )
    commit_staged_ingest(
        spark, table, "b1", staged_parquet_writer(b2), mode="manifest"
    )
    n_all = read_manifested_table(spark, table).count()
    assert n_all == len(want) + b2.count()
    # naive recursive scans must NOT see manifest-mode data (underscore
    # layout) — the reader is the contract
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        spark.read.parquet(table).count()


def test_index_append_file_uri_scheme(spark, tmp_path, docs_with_dups):
    """The ledger is scheme-routed through the Hadoop FileSystem API
    (round-7 ADVICE: the old whitelist accepted file:// and then broke
    on os.path I/O). A file://-URI index must behave identically to a
    bare local path — same protocol, same markers, same replay no-op."""
    from python_darima_spark.operators.dedup import minhash_index_append

    idx_uri = f"file://{tmp_path}/mh_index_uri"
    batch = docs_with_dups.where("doc_id < 20")
    minhash_index_append(batch, idx_uri, ingest_tag="b0")
    n1 = spark.read.parquet(f"{idx_uri}/sigs").count()
    assert n1 == batch.count()
    # replay: committed tag → no-op
    minhash_index_append(batch, idx_uri, ingest_tag="b0")
    assert spark.read.parquet(f"{idx_uri}/sigs").count() == n1
    # marker lives where the URI points
    import os

    assert os.path.exists(f"{tmp_path}/mh_index_uri/sigs/_ingest_b0.done")


def test_shuffle_width_non_numeric_conf_falls_back(spark):
    """`spark.sql.shuffle.partitions` set to AQE's 'auto' must not blow
    up plan building (round-6 ADVICE) — the helper falls back to
    defaultParallelism."""
    from python_darima_spark.operators import shuffle_width

    # Spark 4's runtime conf validates the value, so the non-numeric
    # state can only arrive via submit-time/platform configs — emulate
    # the session surface with a stub.
    class _Conf:
        def __init__(self, v):
            self._v = v

        def get(self, _k):
            return self._v

    class _Ctx:
        defaultParallelism = 17

    class _Sess:
        sparkContext = _Ctx()

        def __init__(self, v):
            self.conf = _Conf(v)

    assert shuffle_width(_Sess("auto")) == 17
    assert shuffle_width(_Sess(None)) == 17
    assert shuffle_width(_Sess("32")) == 32
    assert shuffle_width(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_shuffle_shard_deterministic_and_dense(spark, sf_dir):
    """Shard/pos addresses: reproducible across runs, shard ids dense in
    [0, 8), positions contiguous 1..k within every shard."""
    from python_darima_spark.queries.llm_data import q_shuffle_shard

    a = q_shuffle_shard(spark, sf_dir).toPandas().sort_values("doc_id")
    b = q_shuffle_shard(spark, sf_dir).toPandas().sort_values("doc_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))
    assert set(a.shard) == set(range(8))
    for shard, grp in a.groupby("shard"):
        assert sorted(grp.pos) == list(range(1, len(grp) + 1))
    # hash-balanced: no shard more than 2.5x the mean at fixture scale
    assert a.shard.value_counts().max() <= 2.5 * len(a) / 8


def test_mixture_sample_hits_target_rates(spark, sf_dir):
    """Planted non-uniform mixture: weight-3/4 sources keep everything
    (rate capped at 1), weight-1 sources keep ~40% of the uniform
    fixture; kept counts land within the md5-bucket tolerance."""
    from python_darima_spark.queries.llm_data import q_mixture_sample

    kept = q_mixture_sample(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    cnt = docs.groupby("source").size()
    for source, grp in kept.groupby("source"):
        k = int(source[3:]) % 4 + 1
        rate = grp.keep_rate.iloc[0]
        if k >= 3:
            assert rate == 1.0 and len(grp) == cnt[source], source
        else:
            # md5 buckets are uniform-ish; allow +-35% of the target
            target = rate * cnt[source]
            assert abs(len(grp) - target) <= 0.35 * cnt[source] + 2, source


def test_simhash_finds_exact_dup(spark, docs_with_dups):
    pairs = simhash_near_duplicates(
        docs_with_dups, "text", "doc_id", max_hamming=3
    ).toPandas()
    hit = pairs[(pairs.id_a == 0) & (pairs.id_b == 9001)]
    assert len(hit) == 1 and hit.hamming.iloc[0] == 0


def test_ngram_jaccard_vs_python_oracle(spark, docs_with_dups):
    got = ngram_jaccard_pairs(
        docs_with_dups, "text", "doc_id", n=3, threshold=0.3
    ).toPandas()
    pdf = docs_with_dups.toPandas()

    def grams(t):
        ws = t.lower().split()
        return set(
            " ".join(ws[i : i + 3]) for i in range(max(len(ws) - 2, 1))
        )

    want = set()
    gmap = {r.doc_id: grams(r.text) for r in pdf.itertuples()}
    for a in gmap:
        for b in gmap:
            if a < b:
                j = len(gmap[a] & gmap[b]) / len(gmap[a] | gmap[b])
                if j >= 0.3:
                    want.add((a, b))
    assert set(zip(got.id_a, got.id_b)) == want


def test_embedding_near_dup_finds_planted_twin(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    pdf = emb.toPandas()
    twin = pdf.iloc[[0]].copy()
    twin["vec_id"] = 9001  # identical vector, cosine = 1
    both = spark.createDataFrame(pd.concat([pdf, twin], ignore_index=True))
    pairs = embedding_near_duplicates(both, threshold=0.99).toPandas()
    assert ((pairs.id_a == 0) & (pairs.id_b == 9001)).any()


def test_zero_vector_has_no_cosine(spark):
    """An all-zero embedding has no cosine (the plain division raised
    DIVIDE_BY_ZERO under ANSI): it never pairs and is never a top-k
    neighbour, and as a query it has no neighbours."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.01]), (3, [0.0, 0.0]), (4, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_near_duplicates(df, threshold=0.9, dim=2)
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2)}
    nn = cosine_topk(df, df, k=3)
    assert {(r.query_id, r.neighbor_id) for r in nn.collect()} == {(1, 2), (2, 1)}


def test_embedding_near_dup_recall_at_threshold(spark):
    """Multi-table LSH recall vs numpy brute force at the ADVERTISED
    threshold (0.95), on planted NEAR-identical pairs (cosine ≈ 0.95–0.99,
    not 1.0 — an identical twin collides in every config and proves
    nothing). A single 12-plane table recalls only ~28 % of these; the
    8-table OR-amplified default must exceed 90 %."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(120)
    pdf = emb.toPandas()
    rng = np.random.default_rng(7)
    base = np.array(pdf["embedding"].tolist(), dtype=float)
    planted = []
    for i in range(40):  # noisy copies of the first 40 vectors
        v = base[i] / np.linalg.norm(base[i])
        noise = rng.standard_normal(v.shape)
        noise -= (noise @ v) * v  # orthogonal component only
        noise /= np.linalg.norm(noise)
        target_cos = 0.952 + 0.04 * rng.random()
        near = target_cos * v + np.sqrt(1 - target_cos**2) * noise
        planted.append(
            {"vec_id": 9000 + i, "embedding": (near * np.linalg.norm(base[i])).tolist()}
        )
    extra = pd.DataFrame(planted)
    allv = pd.concat([pdf[["vec_id", "embedding"]], extra], ignore_index=True)

    mat = np.array(allv["embedding"].tolist(), dtype=float)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = normed @ normed.T
    ids = allv["vec_id"].to_numpy()
    truth = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if round(sims[i, j], 6) >= 0.95 and ids[i] != ids[j]
    }
    truth = {(min(a, b), max(a, b)) for a, b in truth}
    assert len(truth) >= 30  # the plant worked

    got = embedding_near_duplicates(
        spark.createDataFrame(allv), threshold=0.95
    ).toPandas()
    found = {(int(a), int(b)) for a, b in zip(got.id_a, got.id_b)}
    assert found <= truth  # exact verification ⇒ no false positives
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_pca_matches_numpy_twin(spark, sf_dir):
    """Distributed PCA (partition Gram partials + driver eigh) must
    reproduce single-node numpy PCA exactly: same spectrum, orthonormal
    sign-canonicalized components, same projections."""
    from python_darima_spark.operators.linalg import pca_fit, pca_project

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    mean, vals, comps = pca_fit(emb, "embedding", k=4)

    local = emb.orderBy("vec_id").toPandas()
    X = np.asarray(local["embedding"].tolist(), dtype=float)
    mu = X.mean(0)
    cov = (X - mu).T @ (X - mu) / X.shape[0]
    ev, evec = np.linalg.eigh(cov)
    order = np.argsort(ev)[::-1][:4]
    np.testing.assert_allclose(mean, mu, atol=1e-9)
    np.testing.assert_allclose(vals, ev[order], rtol=1e-8)
    # orthonormal components, canonical sign
    np.testing.assert_allclose(comps @ comps.T, np.eye(4), atol=1e-9)
    for i in range(4):
        assert comps[i, np.abs(comps[i]).argmax()] > 0
    # distributed projection == numpy projection, row-aligned by vec_id
    got = (
        pca_project(emb, mean, comps, "embedding")
        .orderBy("vec_id")
        .toPandas()
    )
    assert (got.vec_id.to_numpy() == local.vec_id.to_numpy()).all()
    want = (X - mu) @ comps.T
    np.testing.assert_allclose(np.asarray(got.pc.tolist()), want, atol=1e-8)
    # spectrum actually explains variance in decreasing order
    assert vals[0] >= vals[1] >= vals[2] >= vals[3] >= 0


def test_bounded_query_guard_refuses(spark, monkeypatch):
    """VERDICT r3 ask #8: ivf_topk/pq_topk collect the query side under a
    bounded contract — an over-bound query set must fail at plan time
    with a descriptive error, never OOM the driver. The guard collects
    at most bound+1 rows, so the refusal itself is cheap."""
    import python_darima_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "MAX_BOUNDED_QUERIES", 5)
    qs = spark.range(10).selectExpr(
        "id AS vec_id", "array(CAST(id AS float), 1.0F) AS embedding"
    )
    with pytest.raises(ValueError, match="bounded-broadcast"):
        sim.take_bounded_queries(qs, "ivf_topk")
    # at the bound: allowed, and returns exactly the set
    assert len(sim.take_bounded_queries(qs.limit(5), "ivf_topk")) == 5


def test_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=5).toPandas()
    sample = emb.toPandas()
    cents = train_centroids(
        np.array(sample["embedding"].tolist(), dtype=float), num_centroids=8
    )
    approx = ivf_topk(emb, queries, cents, k=5, nprobe=3).toPandas()
    # recall@5 averaged over queries must be decent for nprobe=3/8 clusters
    recalls = []
    for qid, g in exact.groupby("query_id"):
        a = set(approx[approx.query_id == qid].neighbor_id)
        recalls.append(len(a & set(g.neighbor_id)) / 5)
    assert np.mean(recalls) >= 0.5, recalls

    # a prebuilt index (the pay-once 100 TB path) gives identical results
    from python_darima_spark.operators.similarity import build_ivf_index

    ix = build_ivf_index(emb, cents)
    via_ix = ivf_topk(emb, queries, cents, k=5, nprobe=3, index=ix).toPandas()
    got = via_ix.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True)
    want = approx.sort_values(["query_id", "neighbor_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_multimodal_plumbing(spark):
    from python_darima_spark.multimodal.binary_ops import (
        attach_media_from_text,
        decode_media,
        frame_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    media = attach_media_from_text(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = decode_media(media, fake=True).toPandas()
    assert len(feats) == 20
    f = np.array(feats.feature.iloc[0])
    assert f.shape == (16,) and abs(f.sum() - 1.0) < 1e-9
    # n_bytes equals utf-8 length of the text
    one = docs.where(F.col("doc_id") == feats.media_id.iloc[0]).toPandas()
    assert feats.n_bytes.iloc[0] == len(one.text.iloc[0].encode())
    # real decode of a format with no available codec still refuses
    # loudly at plan time (PNG and baseline JPEG are now genuinely
    # decodable via the vendored codecs — tests/test_codecs.py;
    # PIL-only formats stay guarded)
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(NotImplementedError):
            decode_media(media, fake=False, formats=("image/webp",))
    frames = frame_sample(media, every_n_bytes=64, max_frames=4).toPandas()
    assert frames.groupby("media_id").size().max() <= 4
    assert (frames.byte_offset % 64 == 0).all()


def test_hash_split_deterministic_and_balanced(spark):
    from python_darima_spark.functions.text import hash_split_bucket

    df = spark.range(0, 5000).select(
        "id", hash_split_bucket("id").alias("b")
    )
    pdf = df.toPandas()
    # buckets in range and ~uniform (md5 avalanche): each of 256 buckets
    # expects ~19.5 docs; bound loosely
    assert pdf.b.between(0, 255).all()
    counts = pdf.groupby("b").size()
    assert len(counts) == 256 and counts.max() < 60
    # deterministic: recompute matches
    pdf2 = df.toPandas()
    assert (pdf.sort_values("id").b.values == pdf2.sort_values("id").b.values).all()


def test_decontaminate_flags_planted_overlap(spark):
    from python_darima_spark.functions.text import word_ngrams

    eval_text = "alpha beta gamma delta epsilon zeta eta theta"
    clean = "one two three four five six seven eight nine ten"
    # contains the eval 5-gram "beta gamma delta epsilon zeta"
    tainted = "xx beta gamma delta epsilon zeta yy zz"
    df = spark.createDataFrame(
        [(0, eval_text), (1, clean), (2, tainted)], "doc_id long, text string"
    )
    is_eval = F.col("doc_id") % 97 == 0  # doc 0
    eval_grams = (
        df.where(is_eval)
        .select(F.explode(word_ngrams("text", 5)).alias("gram"))
        .distinct()
    )
    hits = (
        df.where(~is_eval)
        .select("doc_id", F.explode(word_ngrams("text", 5)).alias("gram"))
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n"))
        .toPandas()
    )
    assert hits.doc_id.tolist() == [2] and hits.n.iloc[0] == 1


def test_resize_media_fake_pooling(spark):
    from python_darima_spark.multimodal.binary_ops import (
        attach_media_from_text,
        resize_media,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    media = attach_media_from_text(docs)
    out = resize_media(media, width=8, height=8, fake=True).toPandas()
    assert len(out) == 10
    assert (out.meta_width == 8).all() and (out.meta_height == 8).all()
    # exact output payload size — the property batch sizing relies on
    assert all(len(bytes(p)) == 64 for p in out.payload)
    # deterministic
    out2 = resize_media(media, width=8, height=8, fake=True).toPandas()
    a = out.sort_values("media_id").payload.map(bytes).tolist()
    b = out2.sort_values("media_id").payload.map(bytes).tolist()
    assert a == b
    # a declared format with no codec still refuses at plan time (PNG is
    # genuinely resizable now — tests/test_codecs.py covers the real path)
    import importlib.util

    import pytest as _pt

    if importlib.util.find_spec("PIL") is None:
        with _pt.raises(NotImplementedError):
            resize_media(media, fake=False, formats=("image/webp",))


def test_pack_greedy_vs_python_and_capacity(spark):
    from python_darima_spark.functions.text import token_count
    from python_darima_spark.operators.packing import pack_greedy

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard"),
        token_count("text").alias("n_tok"),
    )
    got = (
        pack_greedy(docs, "doc_id", "n_tok", "shard", capacity=256)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    toks = docs.toPandas().sort_values("doc_id")
    # single-node replica of first-fit per shard
    want = {}
    for shard, grp in toks.groupby("shard"):
        fill, bin_id = 0, 0
        for _, row in grp.sort_values("doc_id").iterrows():
            if fill > 0 and fill + row.n_tok > 256:
                bin_id, fill = bin_id + 1, 0
            fill += row.n_tok
            want[row.doc_id] = bin_id
    assert {r.doc_id: r.bin_id for r in got.itertuples()} == want
    # capacity respected unless a single doc alone overflows
    merged = got.merge(toks, on=["doc_id", "shard"])
    fills = merged.groupby(["shard", "bin_id"]).n_tok.agg(["sum", "count", "max"])
    bad = fills[(fills["sum"] > 256) & (fills["count"] > 1)]
    assert bad.empty, bad


def test_block_pack_overflow_bounded(spark):
    """q_pack_sequences block bins exceed capacity by at most one doc."""
    from python_darima_spark.queries.llm_data import q_pack_sequences

    out = q_pack_sequences(spark, SF).toPandas()
    fills = out.groupby(["shard", "bin_id"]).n_tok.agg(["sum", "max"])
    assert (fills["sum"] < 512 + fills["max"]).all()


def test_connected_components_topology(spark):
    """Chain, triangle-with-tail, and singletons all label with the
    component min; convergence needs diameter rounds (chain tests it)."""
    from python_darima_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),     # chain 1-5 (diameter 4)
            (10, 11), (11, 12), (10, 12),       # triangle
            (12, 13),                           # tail on the triangle
            (20, 21),                           # plain pair
        ],
        "id_a int, id_b int",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 12, 13, 20, 21, 99]],
        "doc_id int",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes, "doc_id").collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
        99: 99,  # singleton keeps its own label
    }


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str | None):
    """Run with ``spark.sql.autoBroadcastJoinThreshold`` at ``value`` (None
    leaves it as is): it sets connected_components' local-finish cap, and
    ``-1`` forces the distributed star rounds to their fixpoint."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value or prev)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.fixture
def star_rounds(monkeypatch):
    """Counts connected_components' distributed star rounds."""
    from python_darima_spark.operators import dedup

    calls = []
    round_ = dedup._star_round
    monkeypatch.setattr(
        dedup, "_star_round", lambda e: calls.append(1) or round_(e)
    )
    return calls


def _chain(spark, n: int):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    return edges, spark.createDataFrame([(i,) for i in range(n)], "doc_id long")


def test_connected_components_raises_when_not_converged(spark):
    """On the forced star path a 100-node chain needs several rounds: one
    round must raise, not return partial labels. The default call
    finishes locally and labels every node 0."""
    from python_darima_spark.operators.dedup import connected_components

    edges, nodes = _chain(spark, 100)
    with _broadcast_threshold(spark, "-1"):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(edges, nodes, "doc_id", max_iterations=1)
    out = connected_components(edges, nodes, "doc_id").toPandas()
    assert sorted(out.doc_id) == list(range(100))
    assert (out.cluster_id == 0).all(), out


@pytest.mark.parametrize("threshold", [None, "-1"], ids=["local", "star"])
def test_connected_components_edge_outside_nodes_links_nothing(spark, threshold):
    """Edges (0,1), (1,5) over nodes {1, 5}: 0 is no node, so the edge to
    it is dropped and 1–5 cluster under 1, an id that is a node."""
    from python_darima_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(0, 1), (1, 5)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (5,)], "doc_id long")
    with _broadcast_threshold(spark, threshold):
        got = dict(connected_components(edges, nodes, "doc_id").collect())
    assert got == {1: 1, 5: 1}


def test_containment_finds_doc_inside_doc_jaccard_misses(spark):
    """The asymmetric case: doc B = A's full text embedded in a ~6x
    larger document. Shingle-Jaccard ≈ |A|/|B| ≈ 0.17 — far below any
    near-dup threshold — but containment(A→B) = 1.0. The prefix filter
    must find the pair; MinHash at 0.5 must (correctly) not emit it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40).toPandas()
    inner = docs.loc[0, "text"]
    filler = " ".join(docs.loc[i, "text"] for i in range(1, 6))
    big = filler + " " + inner
    extra = pd.DataFrame(
        {
            "doc_id": [9100],
            "text": [big],
            "lang": ["en"],
            "source": ["wrap"],
            "n_chars": [len(big)],
        }
    )
    both = spark.createDataFrame(pd.concat([docs, extra], ignore_index=True))

    cont = containment_pairs(both, threshold=0.9).toPandas()
    hit = cont[(cont.id_a == 0) & (cont.id_b == 9100)]
    assert len(hit) == 1, cont
    # containment_a = |A∩B|/|A| for the smaller (contained) doc 0
    assert hit.containment_a.iloc[0] >= 0.99
    # the symmetric measure stays low: this pair is invisible to Jaccard
    assert hit.containment_b.iloc[0] < 0.5

    jac = minhash_near_duplicates(both, threshold=0.5).toPandas()
    assert not ((jac.id_a == 0) & (jac.id_b == 9100)).any()


def test_changepoint_locates_planted_mean_shift(spark):
    """CUSUM argmax lands on a planted level shift: 200 hourly points,
    mean jumps +50 at t=120. Calls the SHIPPED operator (not a local
    restatement of its windows) and checks cp_ts lands at/near the shift
    and that mean_before/mean_after recover the two planted levels."""
    import numpy as np

    from python_darima_spark.operators.timeseries import cusum_changepoint

    rng = np.random.default_rng(7)
    n, shift_at = 200, 120
    ts0 = pd.Timestamp("2024-01-01")
    y = np.where(np.arange(n) < shift_at, 10.0, 60.0) + rng.normal(0, 1, n)
    pdf = pd.DataFrame(
        {
            "series_id": "s1",
            "ts": [ts0 + pd.Timedelta(hours=i) for i in range(n)],
            "y": np.round(y, 6),
        }
    )
    cp = cusum_changepoint(spark.createDataFrame(pdf)).toPandas()
    assert len(cp) == 1
    got = cp.cp_ts.iloc[0]
    want = ts0 + pd.Timedelta(hours=shift_at - 1)  # argmax sits at the last
    # pre-shift point
    assert abs((got - want).total_seconds()) <= 2 * 3600, (got, want)
    assert abs(cp.mean_before.iloc[0] - 10.0) < 1.0, cp
    assert abs(cp.mean_after.iloc[0] - 60.0) < 1.0, cp


def test_classifier_recovers_planted_signal(spark):
    # the Bernoulli-NB classifier query plants a marker token in 'en'
    # docs with doc_id % 4 != 0 (the fixture's lang labels are otherwise
    # statistically independent of text — all 5 langs share one 31-token
    # vocabulary). Recovery contract: every marked doc classifies
    # positive (the marker weight dominates), NO unmarked doc does
    # (absent evidence, the class prior is negative) — precision 1.0,
    # recall = the marked fraction, deterministically.
    from python_darima_spark.queries.llm_data import q_text_classifier

    pred = q_text_classifier(spark, "/root/testdata/sf0.01").toPandas()
    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "lang")
        .toPandas()
    )
    j = pred.merge(docs, on="doc_id")
    marked = (j.lang == "en") & (j.doc_id % 4 != 0)
    assert j.loc[marked, "pred_en"].all()
    assert not j.loc[~marked, "pred_en"].any()


def test_star_contraction_chain_converges_in_log_rounds(spark):
    # a 100-node chain (diameter 99): label propagation would need ~99
    # rounds; large-star/small-star must finish inside 12 — if it
    # contracted one hop per round the labels would still be wrong at
    # the cap, so correctness here IS the O(log n) convergence proof
    from python_darima_spark.operators.dedup import connected_components

    edges, nodes = _chain(spark, 100)
    with _broadcast_threshold(spark, "-1"):
        out = connected_components(
            edges, nodes, "doc_id", max_iterations=12
        ).toPandas()
    assert (out.cluster_id == 0).all(), out.cluster_id.value_counts()


def test_connected_components_local_star_and_switch_agree(spark, star_rounds):
    # a 10-clique (45 edges, 9 after one round), a 21-node chain, a
    # triangle and a singleton: the local finish, the star fixpoint and a
    # 40-edge cap that switches to the local finish partway must agree,
    # and a graph under the default cap must run no star round at all
    import itertools

    from python_darima_spark.operators.dedup import connected_components

    pairs = list(itertools.combinations(range(10), 2))
    pairs += [(i, i + 1) for i in range(20, 40)] + [(50, 51), (51, 52), (52, 50)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    ids = list(range(10)) + list(range(20, 41)) + [50, 51, 52, 99]
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    runs = {}
    for name, threshold in [("local", None), ("star", "-1"), ("switch", "640")]:
        star_rounds.clear()
        with _broadcast_threshold(spark, threshold):
            runs[name] = dict(connected_components(edges, nodes, "doc_id").collect())
        runs[name + "_rounds"] = len(star_rounds)
    assert runs["local"] == runs["star"] == runs["switch"]
    assert runs["local"][9] == 0 and runs["local"][40] == 20
    assert runs["local"][52] == 50 and runs["local"][99] == 99
    assert runs["local_rounds"] == 0
    assert 0 < runs["switch_rounds"] < runs["star_rounds"]


def test_pq_codes_compact_and_twin_ranks_first(spark):
    # PQ contract: each vector stores as m small ints (the 32x memory
    # lever vs 64 doubles), and ADC must rank a planted near-identical
    # twin at the very top for its own query — quantization error may
    # not bury a true near-dup
    import numpy as np

    from python_darima_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
        sample_vectors_bounded,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    twins = base.where(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) * F.lit(1.1)),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    book = pq_train(sample_vectors_bounded(corpus, n=2048), m=8, ksub=16)
    assert book.shape == (8, 16, 8)
    codes = pq_encode(corpus, book)
    row = codes.where(F.col("vec_id") == 0).first()
    assert len(row["pq_code"]) == 8
    assert all(0 <= c < 16 for c in row["pq_code"])
    queries = base.where(F.col("vec_id") < 4)
    top = pq_topk(codes, book, queries, k=5).toPandas()
    for q in range(4):
        mine = top[top.query_id == q].sort_values("adc_dist")
        assert mine.neighbor_id.iloc[0] == q + 10000, mine.head()


def test_minhash_hot_bucket_cap_prunes_but_keeps_true_pairs(spark):
    """The max_bucket_size knob (sf1 scale-probe finding): a boilerplate
    block shared by many unrelated docs creates one hot LSH bucket whose
    self-join is quadratic. With the cap, candidates from the hot bucket
    are skipped while a genuinely near-dup pair — which collides in its
    own non-hot bands — is still found."""
    import pandas as pd

    from python_darima_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_near_duplicates,
        minhash_signatures,
    )

    boiler = "subscribe to our newsletter for updates terms apply "
    rows = [
        # 40 unrelated docs sharing ONLY the boilerplate prefix
        {"doc_id": i, "text": boiler + f"unique tail {i} " + "x" * i}
        for i in range(40)
    ]
    # plus one true near-dup pair with its own distinct content
    twin = "completely different content about distributed query engines " * 3
    rows += [
        {"doc_id": 100, "text": twin},
        {"doc_id": 101, "text": twin + " tiny suffix"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    sigs = minhash_signatures(df)
    uncapped = minhash_candidate_pairs(sigs).count()
    capped = minhash_candidate_pairs(sigs, max_bucket_size=10).count()
    assert capped < uncapped  # the hot buckets actually pruned
    pairs = minhash_near_duplicates(
        df, threshold=0.5, max_bucket_size=10
    ).toPandas()
    assert ((pairs.id_a == 100) & (pairs.id_b == 101)).any()


def test_registry_cap_is_recall_lossless_on_fixture(spark, sf_dir):
    """Round-5 contract behind the capped-by-default registry entries
    (q_dedup_near / q_doc_dedup_pipeline run max_bucket_size=50): on the
    real fixture the capped pair set EQUALS the uncapped pair set, so the
    exact-verify DuckDB oracle restates the capped run verbatim. If a
    fixture regeneration ever plants a pair whose every shared band is
    hot, this fails before the driver's hash does."""
    from python_darima_spark.operators.dedup import minhash_near_duplicates
    from python_darima_spark.queries.llm_data import load

    docs = load(spark, sf_dir, "documents")
    uncapped = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            docs, "text", "doc_id", threshold=0.5
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            docs, "text", "doc_id", threshold=0.5, max_bucket_size=50
        ).collect()
    }
    assert capped == uncapped
    assert len(capped) > 0


def test_audio_frame_energy_boundaries(spark):
    """Framing edge cases for the audio plumbing: exact multiples of the
    frame length, a partial last frame, and a payload shorter than one
    frame — sum_sq is the exact integer a numpy-free restatement gives."""
    import pandas as pd

    from python_darima_spark.multimodal.binary_ops import audio_frame_energy

    rows = [
        {"media_id": 1, "payload": bytes(range(64))},        # 2 full frames
        {"media_id": 2, "payload": bytes(range(40))},        # 1 full + 8
        {"media_id": 3, "payload": b"\x80" * 5},             # sub-frame, rms 0
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    out = audio_frame_energy(df, frame_len=32).toPandas()
    got = {
        (r.media_id, r.frame_idx): (r.n_samples, r.sum_sq, r.rms)
        for r in out.itertuples()
    }
    def ss(lo, hi):
        return sum((b - 128) ** 2 for b in range(lo, hi))
    import math
    assert got[(1, 0)] == (32, ss(0, 32), round(math.sqrt(ss(0, 32) / 32.0), 6))
    assert got[(1, 1)] == (32, ss(32, 64), round(math.sqrt(ss(32, 64) / 32.0), 6))
    assert got[(2, 1)][0] == 8 and got[(2, 1)][1] == ss(32, 40)
    assert got[(3, 0)] == (5, 0, 0.0)
    assert len(got) == 2 + 2 + 1


def test_containment_extreme_asymmetry_survives_prefilter(spark):
    """Regression for the round-5 review finding: a doc fully contained
    in a ~40x larger doc has true Jaccard ~0.025, so ~95% of its 64
    minhashes disagree — a fixed containment-estimate cutoff dropped
    such pairs >50% of the time. The ratio-aware drop table must pass
    it through to exact verification every time."""
    small = "the quick brown fox jumps over the lazy dog again and more"
    filler = " ".join(f"unique{i}word{i * 7}" for i in range(400))
    rows = [
        {"doc_id": 1, "text": small},
        {"doc_id": 2, "text": filler + " " + small},
        # unrelated docs so the corpus isn't degenerate
        *[{"doc_id": 10 + i, "text": f"other doc {i} " + "z" * (30 + i)}
          for i in range(20)],
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    pairs = containment_pairs(df, "text", "doc_id", threshold=0.9).toPandas()
    hit = pairs[(pairs.id_a == 1) & (pairs.id_b == 2)]
    assert len(hit) == 1, pairs
    assert hit.containment_a.iloc[0] >= 0.9


def test_mixture_epochs_matches_hashlib_recomputation(spark):
    """q_mixture_epochs equals a pure-python hashlib restatement: per
    source r = 1 + md5%2.5 epochs; each doc emitted floor(r) times plus
    one more iff its md5 micro-fraction < frac(r)."""
    import hashlib

    from python_darima_spark.queries.llm_data import q_mixture_epochs

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.doc_id, r.epoch)
        for r in q_mixture_epochs(spark, sf).collect()
    )
    docs = pd.read_parquet(f"{sf}/documents.parquet", columns=["doc_id", "source"])
    want = []
    for doc_id, source in docs.itertuples(index=False):
        f_i6 = 1_000_000 + int(
            hashlib.md5(source.encode()).hexdigest()[:8], 16
        ) % 2_500_000
        frac = int(
            hashlib.md5(str(doc_id).encode()).hexdigest()[8:16], 16
        ) % 1_000_000
        n = f_i6 // 1_000_000 + (1 if frac < f_i6 % 1_000_000 else 0)
        want.extend((doc_id, e) for e in range(n))
    assert got == sorted(want)


def test_dedup_semantic_matches_numpy_bruteforce(spark):
    """q_dedup_semantic equals a numpy restatement (quantize → content-
    addressed anchors → integer argmin assignment → within-cluster
    keep-first), and the verdicts are exactly: every original kept,
    every injected twin dropped onto its original."""
    import hashlib

    import numpy as np

    from python_darima_spark.queries.llm_data import (
        _SEM_ANCHOR_MOD,
        _SEM_TAU,
        _SEM_TWIN_OFFSET,
        q_dedup_semantic,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.vec_id: (r.cid, r.kept, r.dup_of)
        for r in q_dedup_semantic(spark, sf).collect()
    }
    emb = pd.read_parquet(f"{sf}/embeddings.parquet")
    ids = emb.vec_id.to_numpy()
    V = np.array(emb.embedding.tolist(), dtype=np.float64)
    tw_mask = ids % 10 == 0
    TW = V[tw_mask].copy()
    TW[:, 0] *= 1.1
    all_ids = np.concatenate([ids, ids[tw_mask] + _SEM_TWIN_OFFSET])
    Q = np.floor(np.vstack([V, TW]) * 1000 + 0.5).astype(np.int64)

    def md5hex(row):
        return hashlib.md5(
            ",".join(str(int(x)) for x in row).encode()
        ).hexdigest()

    hexes = [md5hex(r) for r in Q]
    anchors = {}
    for i in range(len(ids)):  # anchors from originals only
        h = hexes[i]
        if int(h[:8], 16) % _SEM_ANCHOR_MOD == 0:
            anchors[h] = Q[i]
    acids = sorted(anchors)  # ties in dist break to smallest cid
    A = np.array([anchors[c] for c in acids], dtype=np.int64)
    d = ((Q[:, None, :] - A[None, :, :]) ** 2).sum(axis=2)
    assign = [acids[j] for j in d.argmin(axis=1)]
    order = np.argsort(all_ids)
    dup_of = {}
    for pos_b in order:
        for pos_a in order:
            if all_ids[pos_a] >= all_ids[pos_b]:
                break
            if assign[pos_a] != assign[pos_b]:
                continue
            dot = int((Q[pos_a] * Q[pos_b]).sum())
            na = int((Q[pos_a] ** 2).sum())
            nb = int((Q[pos_b] ** 2).sum())
            sim = np.floor(dot / np.sqrt(float(na * nb)) * 1e6 + 0.5) / 1e6
            if sim >= _SEM_TAU:
                dup_of.setdefault(all_ids[pos_b], all_ids[pos_a])
    want = {
        int(all_ids[i]): (
            assign[i],
            int(all_ids[i]) not in dup_of,
            dup_of.get(int(all_ids[i])),
        )
        for i in range(len(all_ids))
    }
    assert got == want
    # Originals are never dropped (native max cosine 0.51 ≪ τ); twins are
    # dropped onto their base except across a cluster boundary — the
    # documented SemDeDup recall mode (on this fixture: 49 of 50; the
    # one miss is a base sitting near the anchor bisector that the ×1.1
    # twin crosses).
    n_twins = dropped_twins = 0
    for vid, (cid, kept, d_of) in got.items():
        if vid >= _SEM_TWIN_OFFSET:
            n_twins += 1
            if not kept:
                dropped_twins += 1
                assert d_of == vid - _SEM_TWIN_OFFSET
        else:
            assert kept
    assert dropped_twins >= 0.9 * n_twins


def test_dedup_semantic_codebook_twin_contract(spark):
    """The fixed-k codebook twin honors the shared planted contract:
    every original kept, ≥ 90% of the ×1.1 twins dropped onto exactly
    their base (a twin crossing a cluster boundary is the documented
    SemDeDup recall mode), and the two-level structure is real — more
    than _SEM_CB_K1 final clusters (so level 2 actually splits cells)
    but every cluster small (≤ 4·sub_mod rows)."""
    from collections import Counter

    from python_darima_spark.queries.llm_data import (
        _SEM_CB_K1,
        _SEM_CB_SUB_MOD,
        _SEM_TWIN_OFFSET,
        q_dedup_semantic_codebook,
    )

    sf = "/root/testdata/sf0.01"
    rows = q_dedup_semantic_codebook(spark, sf).collect()
    n_twins = dropped = 0
    for r in rows:
        if r.vec_id >= _SEM_TWIN_OFFSET:
            n_twins += 1
            if not r.kept:
                dropped += 1
                assert r.dup_of == r.vec_id - _SEM_TWIN_OFFSET
        else:
            assert r.kept
    assert n_twins > 0 and dropped >= 0.9 * n_twins
    sizes = Counter(r.cid for r in rows)
    assert len(sizes) > _SEM_CB_K1
    assert max(sizes.values()) <= 4 * _SEM_CB_SUB_MOD


def test_dedup_semantic_codebook3_twin_contract(spark):
    """The THREE-level fixed-k variant honors the same planted
    contract (every original kept, ≥ 90% of twins dropped onto exactly
    their base) with bounded leaf clusters — and agrees with the
    2-level twin on ≥ 90% of verdicts (they may differ only where a
    twin straddles a different cluster boundary, the documented
    SemDeDup recall mode)."""
    from collections import Counter

    from python_darima_spark.queries.llm_data import (
        _SEM_CB3_K,
        _SEM_CB_K1,
        _SEM_TWIN_OFFSET,
        q_dedup_semantic_codebook,
        q_dedup_semantic_codebook3,
    )

    sf = "/root/testdata/sf0.01"
    rows = q_dedup_semantic_codebook3(spark, sf).collect()
    n_twins = dropped = 0
    for r in rows:
        if r.vec_id >= _SEM_TWIN_OFFSET:
            n_twins += 1
            if not r.kept:
                dropped += 1
                assert r.dup_of == r.vec_id - _SEM_TWIN_OFFSET
        else:
            assert r.kept
    assert n_twins > 0 and dropped >= 0.9 * n_twins
    sizes = Counter(r.cid for r in rows)
    assert len(sizes) > _SEM_CB_K1  # levels 2+3 really split cells
    assert max(sizes.values()) <= 4 * _SEM_CB3_K
    v2 = {
        r.vec_id: (r.kept, r.dup_of)
        for r in q_dedup_semantic_codebook(spark, sf).collect()
    }
    agree = sum(1 for r in rows if v2.get(r.vec_id) == (r.kept, r.dup_of))
    assert agree >= 0.9 * len(rows)


def test_dedup_semantic_empty_bucket_fallback(spark, monkeypatch):
    """With the anchor bucket made unhittable (mod ≫ 2³²), the min-md5
    fallback anchor keeps the verdict table complete instead of empty
    (round-8 ADVICE): one cluster, every doc rowed, originals kept,
    twins dropped onto their base."""
    from python_darima_spark.queries import llm_data

    monkeypatch.setattr(llm_data, "_SEM_ANCHOR_MOD", (1 << 61) - 1)
    sf = "/root/testdata/sf0.001"
    rows = llm_data.q_dedup_semantic(spark, sf).collect()
    n_emb = pd.read_parquet(f"{sf}/embeddings.parquet").shape[0]
    n_twins = sum(
        1 for r in rows if r.vec_id >= llm_data._SEM_TWIN_OFFSET
    )
    assert len(rows) == n_emb + n_twins and n_twins > 0
    assert len({r.cid for r in rows}) == 1  # single fallback anchor
    for r in rows:
        if r.vec_id >= llm_data._SEM_TWIN_OFFSET:
            # single cluster → every twin meets its base in the τ join
            assert not r.kept
            assert r.dup_of == r.vec_id - llm_data._SEM_TWIN_OFFSET
        else:
            assert r.kept
