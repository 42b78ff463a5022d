"""LLM-data-pipeline operators: dedup, similarity, text analysis,
multimodal plumbing — semantics on crafted inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datawarehouse_group10_spark.functions.dedup import (
    exact_dedup,
    minhash_lsh_dup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs_portable,
    simhash_portable,
)
from datawarehouse_group10_spark.functions.similarity import (
    brute_force_topk,
    cosine_similarity_col,
    lsh_bucket_topk,
)
from datawarehouse_group10_spark.functions.text import (
    bpe_token_estimate,
    doc_fingerprint,
    language_id,
    token_count,
)
from datawarehouse_group10_spark.multimodal import (
    attach_binary_payload,
    decode_features,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
    (3, "the quick brown fox jumps over the lazy dog again and AGAIN!"),  # near dup
    (4, "completely different content about spark query engines at scale"),
    (5, "xin chào các bạn hôm nay xổ số miền bắc quay thưởng"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_exact_dedup_groups(spark, docs):
    out = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[1] == 2       # docs 1+2 identical, min id kept
    assert out[3] == 1


def test_stream_corpus_ingest_equals_one_shot_incremental(spark, tmp_path):
    """run_stream_corpus_ingest (r9): new docs arriving one FILE per
    micro-batch must emit, across all batches, exactly the pairs a
    one-shot incremental run over the whole new corpus emits — each
    batch dedups against corpus + every earlier batch (the index
    append), so cross-batch pairs are not lost and nothing double-emits.
    The checkpoint offsets prove the stream really ran one batch per
    file (3), not one big batch."""
    import glob
    import os

    from datawarehouse_group10_spark.functions.dedup import (
        build_minhash_index,
        incremental_minhash_dup_pairs,
    )
    from datawarehouse_group10_spark.streaming import run_stream_corpus_ingest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)

    base = str(tmp_path / "idx_base")
    build_minhash_index(corpus, base)
    one_shot = sorted(
        map(
            tuple,
            incremental_minhash_dup_pairs(
                new, base, jaccard_threshold=0.5, max_bucket_size=None
            ).collect(),
        )
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    for i in range(3):
        stage = str(tmp_path / f"stage_{i}")
        new.filter(F.col("doc_id") % 12 == i * 4).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.rename(part, str(src / f"f{i}.parquet"))

    idx = str(tmp_path / "idx_run")
    import shutil

    shutil.copytree(base, idx)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_corpus_ingest(stream, idx, out, ckpt, jaccard_threshold=0.5)

    streamed = sorted(
        map(
            tuple,
            spark.read.parquet(out).select("id_a", "id_b", "jaccard").collect(),
        )
    )
    assert streamed == one_shot and len(streamed) > 0
    # one committed batch per input file
    assert len(glob.glob(os.path.join(ckpt, "offsets", "*"))) == 3


def test_stream_corpus_ingest_crash_replay(spark, tmp_path, monkeypatch):
    """Crash idempotence (r10, VERDICT r9 #1): kill the ingest in BOTH
    crash windows — (a) between the pairs write and the index append,
    and (b) after the index append but before the commit marker — then
    restart on the same checkpoint. The replayed batch must roll back /
    skip so the final pairs equal the one-shot incremental run and the
    index holds every doc exactly once."""
    import glob
    import os
    import shutil

    from datawarehouse_group10_spark.functions import dedup as dd
    from datawarehouse_group10_spark.streaming import run_stream_corpus_ingest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)

    base = str(tmp_path / "idx_base")
    dd.build_minhash_index(corpus, base)
    one_shot = sorted(
        map(
            tuple,
            dd.incremental_minhash_dup_pairs(
                new, base, jaccard_threshold=0.5, max_bucket_size=None
            ).collect(),
        )
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    for i in range(2):
        stage = str(tmp_path / f"stage_{i}")
        new.filter(F.col("doc_id") % 8 == i * 4).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        os.rename(part, str(src / f"f{i}.parquet"))

    real_append = dd.append_to_minhash_index

    def _run(idx, out, ckpt):
        stream = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_stream_corpus_ingest(stream, idx, out, ckpt, jaccard_threshold=0.5)

    def _check(idx, out):
        got = sorted(
            map(
                tuple,
                spark.read.parquet(out)
                .select("id_a", "id_b", "jaccard")
                .collect(),
            )
        )
        assert got == one_shot and len(got) > 0
        sh = spark.read.parquet(os.path.join(idx, "shingles"))
        assert sh.count() == sh.select("doc_id").distinct().count()

    # Window (a): crash BEFORE the index append (pairs already written).
    def _crash_before(batch, path, **kw):
        raise RuntimeError("injected crash before index append")

    idx_a, out_a, ckpt_a = (
        str(tmp_path / d) for d in ("idx_a", "out_a", "ckpt_a")
    )
    shutil.copytree(base, idx_a)
    monkeypatch.setattr(dd, "append_to_minhash_index", _crash_before)
    try:
        _run(idx_a, out_a, ckpt_a)
        raise AssertionError("injected crash did not propagate")
    except Exception as e:  # StreamingQueryException wrapping the crash
        assert "injected crash" in str(e)
    monkeypatch.setattr(dd, "append_to_minhash_index", real_append)
    _run(idx_a, out_a, ckpt_a)
    _check(idx_a, out_a)

    # Window (b): crash AFTER the index append, BEFORE the commit marker
    # — the worst window: replay must roll the uncommitted files back.
    calls = {"n": 0}

    def _crash_after(batch, path, **kw):
        real_append(batch, path, **kw)
        if calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected crash after index append")

    idx_b, out_b, ckpt_b = (
        str(tmp_path / d) for d in ("idx_b", "out_b", "ckpt_b")
    )
    shutil.copytree(base, idx_b)
    monkeypatch.setattr(dd, "append_to_minhash_index", _crash_after)
    try:
        _run(idx_b, out_b, ckpt_b)
        raise AssertionError("injected crash did not propagate")
    except Exception as e:
        assert "injected crash" in str(e)
    # pending marker (not committed) must exist for the crashed batch
    pend = glob.glob(os.path.join(idx_b, "_ingest_commits", "*.pending"))
    assert len(pend) == 1
    monkeypatch.setattr(dd, "append_to_minhash_index", real_append)
    _run(idx_b, out_b, ckpt_b)
    _check(idx_b, out_b)


def test_stream_corpus_ingest_rollback_survives_stale_temporary_dir(
    spark, tmp_path
):
    """ADVICE r10: a hard crash DURING the index append (inside the
    Spark write itself, not at a function boundary) leaves a Hadoop
    committer ``_temporary/`` staging DIRECTORY in the index dir plus a
    ``.pending`` marker. The replay's rollback loop must rmtree the
    directory and remove orphan files — an ``os.remove`` on the
    directory would raise IsADirectoryError on every restart and wedge
    the stream permanently. Fabricates that exact post-crash state."""
    import glob
    import json
    import os

    from datawarehouse_group10_spark.functions import dedup as dd
    from datawarehouse_group10_spark.streaming import run_stream_corpus_ingest

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)

    idx = str(tmp_path / "idx")
    dd.build_minhash_index(corpus, idx)
    one_shot = sorted(
        map(
            tuple,
            dd.incremental_minhash_dup_pairs(
                new, idx, jaccard_threshold=0.5, max_bucket_size=None
            ).collect(),
        )
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    stage = str(tmp_path / "stage")
    new.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    os.rename(part, str(src / "f0.parquet"))

    # Fabricate the crashed-mid-write state for the batch that is about
    # to replay (fresh checkpoint => batch 0): snapshot of the REAL
    # index files in .pending, plus a dead write's _temporary staging
    # dir and an orphan uncommitted part file in shingles/.
    commits = os.path.join(idx, "_ingest_commits")
    os.makedirs(commits, exist_ok=True)
    snapshot = []
    for sub in ("shingles", "bands"):
        d = os.path.join(idx, sub)
        snapshot.extend(
            f"{sub}/{f}"
            for f in os.listdir(d)
            if os.path.isfile(os.path.join(d, f))
        )
    with open(os.path.join(commits, "batch_0.pending"), "w") as fh:
        json.dump(sorted(snapshot), fh)
    tempdir = os.path.join(idx, "shingles", "_temporary", "0", "task_000")
    os.makedirs(tempdir)
    open(os.path.join(tempdir, "part-crashed.parquet"), "w").close()
    orphan = os.path.join(idx, "shingles", "part-orphan-uncommitted.parquet")
    open(orphan, "w").close()

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_corpus_ingest(stream, idx, out, ckpt, jaccard_threshold=0.5)

    assert not os.path.exists(os.path.join(idx, "shingles", "_temporary"))
    assert not os.path.exists(orphan)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out).select("id_a", "id_b", "jaccard").collect(),
        )
    )
    assert got == one_shot and len(got) > 0
    sh = spark.read.parquet(os.path.join(idx, "shingles"))
    assert sh.count() == sh.select("doc_id").distinct().count()


def test_stream_corpus_ingest_pairs_not_single_file(spark, tmp_path):
    """VERDICT r10 #4: a hot microbatch's pair output must NOT funnel
    through one task/file — with ``max_records_per_file`` forced tiny,
    a batch emitting many pairs writes >1 parquet file in its
    ingest_batch partition, while the emitted pairs stay identical to
    the one-shot incremental run."""
    import glob
    import os

    from datawarehouse_group10_spark.functions import dedup as dd
    from datawarehouse_group10_spark.streaming import run_stream_corpus_ingest

    text = "the exact same duplicated document text body " * 3
    corpus = spark.createDataFrame(
        [(i, text) for i in range(1, 7)], "doc_id bigint, text string"
    )
    new = spark.createDataFrame([(100, text)], "doc_id bigint, text string")

    idx = str(tmp_path / "idx")
    dd.build_minhash_index(corpus, idx)
    one_shot = sorted(
        map(
            tuple,
            dd.incremental_minhash_dup_pairs(
                new, idx, jaccard_threshold=0.5, max_bucket_size=None
            ).collect(),
        )
    )
    assert len(one_shot) >= 3  # the 6 corpus dups all pair with doc 100

    src = tmp_path / "docs_in"
    src.mkdir()
    stage = str(tmp_path / "stage")
    new.coalesce(1).write.mode("overwrite").parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    os.rename(part, str(src / "f0.parquet"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    run_stream_corpus_ingest(
        stream, idx, out, ckpt, jaccard_threshold=0.5, max_records_per_file=2
    )

    files = glob.glob(os.path.join(out, "ingest_batch=0", "part-*.parquet"))
    assert len(files) > 1
    got = sorted(
        map(
            tuple,
            spark.read.parquet(out).select("id_a", "id_b", "jaccard").collect(),
        )
    )
    assert got == one_shot


def test_minhash_lsh_finds_exact_pair_only(spark, docs):
    pairs = minhash_lsh_dup_pairs(docs, jaccard_threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_minhash_materialized_shingles_identical(spark, docs, tmp_path):
    """The parquet-materialized shingle path (many-consumer scale variant)
    must produce byte-identical pairs to lineage recompute."""
    from datawarehouse_group10_spark.functions.dedup import materialize_shingles

    pre = materialize_shingles(docs, str(tmp_path / "sh.parquet"))
    a = sorted(map(tuple, minhash_lsh_dup_pairs(docs, jaccard_threshold=0.5).collect()))
    b = sorted(map(tuple, minhash_lsh_dup_pairs(
        docs, jaccard_threshold=0.5, pre_shingled=pre
    ).collect()))
    assert a == b and len(a) > 0


def test_incremental_shingle_staging_appends_only_delta(spark, tmp_path):
    """stage_shingles_incremental (r8): the second call stages ONLY docs
    not already staged (delta cost ∝ delta size), the combined parquet
    equals a from-scratch materialization, a no-delta call appends
    nothing, and a doc whose text changed under a staged id raises
    loudly (the digest check) instead of silently keeping stale
    shingles. compact_staged_shingles then realigns the staging with
    the current corpus — dropping deleted docs, re-shingling changed
    ones, keeping unchanged rows."""
    import pytest as _pytest

    from datawarehouse_group10_spark.functions.dedup import (
        compact_staged_shingles,
        materialize_shingles,
        stage_shingles_incremental,
    )

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    path = str(tmp_path / "sh.parquet")

    bulk = corpus.filter(F.col("doc_id") % 10 != 0)
    stage_shingles_incremental(bulk, path)
    n_bulk = spark.read.parquet(path).count()
    assert n_bulk == bulk.count()

    combined = stage_shingles_incremental(corpus, path)  # +delta
    assert combined.count() == corpus.count()  # staged exactly once each
    full = materialize_shingles(
        corpus, str(tmp_path / "full.parquet")
    )
    as_set = lambda df: {
        (r["doc_id"], tuple(sorted(r["shingles"]))) for r in df.collect()
    }
    assert as_set(combined) == as_set(full)

    stage_shingles_incremental(corpus, path)  # no new docs -> no-op
    assert spark.read.parquet(path).count() == corpus.count()

    # Mutation guard: same id, changed text -> loud refusal.
    mutated = corpus.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" zz-mutated-suffix")),
        ).otherwise(F.col("text")),
    )
    with _pytest.raises(ValueError, match="compact_staged_shingles"):
        stage_shingles_incremental(mutated, path)

    # Compaction: corpus drops some docs and mutates others; the staged
    # parquet must equal a from-scratch materialization of that corpus.
    current = mutated.filter(F.col("doc_id") % 5 != 0)
    compacted = compact_staged_shingles(current, path)
    fresh = materialize_shingles(current, str(tmp_path / "cur.parquet"))
    assert as_set(compacted) == as_set(fresh)
    # and incremental staging works again on the compacted artifact
    stage_shingles_incremental(current, path)
    assert spark.read.parquet(path).count() == current.count()


def test_ngram_jaccard_near_pair(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0     # near-dup shares most shingles
    assert (1, 4) not in pairs


def test_simhash_near_dup_and_guard(spark, docs):
    sims = {
        r["doc_id"]: (r["sim_hi"], r["sim_lo"])
        for r in simhash_portable(docs).collect()
    }
    assert sims[1] == sims[2]             # identical text -> identical halves
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_dup_pairs_portable(docs).collect()}
    assert (1, 2) in pairs
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_dup_pairs_portable(docs, max_hamming=4)


def test_text_analysis(spark, docs):
    rows = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            token_count("text").alias("tc"),
            bpe_token_estimate("text").alias("bpe"),
            language_id("text").alias("lang"),
            doc_fingerprint("text").alias("fp"),
        ).collect()
    }
    assert rows[1]["tc"] == 12
    assert rows[1]["bpe"] >= rows[1]["tc"] - 2  # sub-word-ish, not fewer pieces
    assert rows[1]["lang"] == "en"
    assert rows[5]["lang"] == "vi"
    assert rows[1]["fp"] == rows[2]["fp"]
    # fingerprint ignores whitespace runs + case
    norm = spark.createDataFrame(
        [(9, "THE  quick   brown fox jumps over the lazy dog again and again")],
        "doc_id bigint, text string",
    )
    fp9 = norm.select(doc_fingerprint("text").alias("fp")).first()["fp"]
    assert fp9 == rows[1]["fp"]


VECS = [
    (1, [1.0, 0.0, 0.0], 0),
    (2, [0.9, 0.1, 0.0], 0),     # close to 1
    (3, [0.0, 1.0, 0.0], 1),
    (4, [0.0, 0.95, 0.05], 1),   # close to 3
    (5, [0.0, 0.0, 1.0], 2),
]


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id bigint, embedding array<float>, label int")


def test_lm_perplexity_scores(spark):
    """Unigram-LM quality scoring (r11): self-trained scores rank a
    common-token doc above a rare-token one; a reference LM scores a
    different corpus with OOV tokens priced at oov_logprob."""
    import math as _math

    from datawarehouse_group10_spark.functions.text import (
        lm_perplexity_scores,
        unigram_lm,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the the the the"),
            (2, "the the rare the"),
            (3, "zxq"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in lm_perplexity_scores(corpus).collect()}
    # 9 tokens total: the x7, rare x1, zxq x1
    assert out[1]["n_tokens"] == 4
    assert out[1]["avg_logprob"] == pytest.approx(_math.log(7 / 9))
    assert out[2]["avg_logprob"] == pytest.approx(
        (3 * _math.log(7 / 9) + _math.log(1 / 9)) / 4
    )
    # common-token doc scores strictly higher than the rare-token one
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"] > out[3]["avg_logprob"]

    # reference-LM mode: score a NEW corpus against corpus' LM; the OOV
    # token gets the floor price
    lm = unigram_lm(corpus)
    new = spark.createDataFrame(
        [(10, "the unseen")], "doc_id bigint, text string"
    )
    r = lm_perplexity_scores(new, lm=lm, oov_logprob=-20.0).first()
    assert r["n_tokens"] == 2
    assert r["sum_logprob"] == pytest.approx(_math.log(7 / 9) + -20.0)


def test_cosine_and_topk(spark, vecs):
    out = brute_force_topk(vecs, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert out[0]["cosine"] == pytest.approx(1.0)
    assert out[1]["cosine"] == pytest.approx(0.9 / math.sqrt(0.82))


def test_lsh_topk_agrees_with_brute_force(spark, vecs):
    q = [1.0, 0.0, 0.0]
    brute = [r["vec_id"] for r in brute_force_topk(vecs, q, k=1).collect()]
    approx = [r["vec_id"] for r in lsh_bucket_topk(vecs, q, k=1, n_planes=4).collect()]
    assert brute == approx == [1]


def test_banded_near_dup_pairs(spark, vecs):
    from datawarehouse_group10_spark.functions.similarity import banded_near_dup_pairs

    # Planes = two corpus vectors per band (2 bands x 2 bits). An exact
    # duplicate agrees with EVERY plane, so it collides in every band and
    # is found with probability 1 regardless of banding.
    dup = vecs.union(
        spark.createDataFrame(
            [(6, [1.0, 0.0, 0.0], 0)], "vec_id bigint, embedding array<float>, label int"
        )
    )
    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, 0.0]]
    out = banded_near_dup_pairs(dup, planes, bands=2, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in out.collect()}
    assert (1, 6) in pairs and pairs[(1, 6)] == pytest.approx(1.0)
    # Cross-band candidate union is DEDUPLICATED: the (1,6) pair collides
    # in both bands but appears once.
    assert out.groupBy("id_a", "id_b").count().filter("count > 1").count() == 0
    # Threshold gates candidates: (1,2) collides (cos ~0.994 > .99 keeps it,
    # at .999 it must drop) — exact verification on candidates only.
    strict = {
        (r["id_a"], r["id_b"])
        for r in banded_near_dup_pairs(dup, planes, bands=2, threshold=0.999).collect()
    }
    assert (1, 2) not in strict and (1, 6) in strict
    with pytest.raises(ValueError):
        banded_near_dup_pairs(dup, planes, bands=3)


def test_banded_near_dup_bucket_cap(spark):
    """max_bucket_size (r10, VERDICT r9 #2): a degenerate corpus — every
    vector identical — collapses ALL rows into one (band, code) bucket
    per band; the cap must drop those buckets (no N^2 self-join), while
    max_bucket_size=None keeps the exhaustive N*(N-1)/2 semantics."""
    from datawarehouse_group10_spark.functions.similarity import (
        banded_near_dup_pairs,
    )

    n = 20
    degen = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, 0.0]]
    capped = banded_near_dup_pairs(
        degen, planes, bands=2, threshold=0.9, max_bucket_size=n - 1
    )
    assert capped.count() == 0  # guard fired: the one hot bucket dropped
    uncapped = banded_near_dup_pairs(
        degen, planes, bands=2, threshold=0.9, max_bucket_size=None
    )
    assert uncapped.count() == n * (n - 1) // 2
    # A cap ABOVE the bucket population changes nothing.
    roomy = banded_near_dup_pairs(
        degen, planes, bands=2, threshold=0.9, max_bucket_size=n
    )
    assert roomy.count() == n * (n - 1) // 2


def test_pq_topk_full_refine_equals_brute_force(spark):
    """PQ ANN (r11): with refine >= corpus size the exact re-rank sees
    every row, so pq_topk_codes is deterministically EQUAL to brute force
    regardless of quantization error — the same full-probe equivalence
    the IVF kNN join pins. With a small refine the ADC scan still ranks
    an exact duplicate of the query first (its codes match the query's
    in every subspace). Codebook shape is validated loudly."""
    import math as _math

    from datawarehouse_group10_spark.functions.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_encode,
        pq_topk_codes,
    )

    n, d = 40, 8
    rows = [
        (i, [_math.sin(0.7 * i + 0.3 * j) for j in range(d)]) for i in range(n)
    ]
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = rows[7][1]
    books = pq_codebooks(corpus, m=4, k=8)
    assert len(books) == 4 and len(books[0]) == 8 and len(books[0][0]) == d // 4
    enc = pq_encode(corpus, books)

    full = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in pq_topk_codes(enc, corpus, q, books, k=5, refine=n).collect()
    ]
    brute = [
        (r["vec_id"], round(r["cosine"], 9))
        for r in brute_force_topk(corpus, q, k=5).collect()
    ]
    assert full == brute

    # narrow refine: the query's own row (codes identical in every
    # subspace -> minimal ADC) survives the candidate cut and ranks #1
    narrow = pq_topk_codes(enc, corpus, q, books, k=1, refine=4).collect()
    assert narrow[0]["vec_id"] == 7
    assert narrow[0]["cosine"] == pytest.approx(1.0)

    # codes are one small int per subspace — the 4-byte representation
    codes = enc.select("_pq").first()[0]
    assert len(codes) == 4 and all(0 <= c < 8 for c in codes)

    with pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(corpus, m=3, k=8)


def test_pq_trained_codebooks_deterministic_and_better_recall(spark):
    """pq_train_codebooks (r12, VERDICT r11 #5): two Lloyd iterations
    over the lowest-id init are (a) bit-identical run to run (quantized
    integer sums — order-independent), and (b) IMPROVE recall@10 vs the
    untrained lowest-id codebooks on a corpus built to expose the
    untrained failure mode. The lowest-id vectors are constant in the
    tail subspaces, so every untrained entry there is IDENTICAL: all
    rows code to entry 0, the ADC distance is the same for every row
    (ADC is a function of the code alone), and the candidate cut
    degrades to vec_id order — which misses the high-id half of each
    cluster pair that differs ONLY in the tail. Training splits the
    tied entries (the mean update moves entry 0; carried entries stay),
    tail codes become discriminative, and recall recovers."""
    import math as _math

    from datawarehouse_group10_spark.functions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk_codes,
        pq_train_codebooks,
    )

    d, per = 8, 12

    def member(pair, side, t):
        head = [_math.sin(1.1 * pair + 0.8 * j) * 2.0 for j in range(4)]
        tail = [
            (3.0 if side == 0 else -3.0) * _math.cos(0.7 * pair + 0.6 * j)
            for j in range(4)
        ]
        noise = [0.05 * _math.cos(2.1 * t + 0.7 * j) for j in range(d)]
        return [x + n for x, n in zip(head + tail, noise)]

    rows = []
    # ids 0..15 (the init source): varied heads, EXACTLY constant tails
    for i in range(16):
        rows.append(
            (i, [_math.sin(0.9 * i + 0.5 * j) for j in range(4)] + [2.0] * 4)
        )
    # 6 cluster pairs sharing a head, opposite tails; side 1 (the only
    # exact-top-10 match for its queries) holds the HIGHER ids, so an
    # ADC tie broken by id always picks the wrong side
    vid = 100
    for pair in range(6):
        for side in (0, 1):
            for t in range(per):
                rows.append((vid, member(pair, side, t)))
                vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    untrained = pq_codebooks(corpus, m=4, k=16)
    t1 = pq_train_codebooks(corpus, m=4, k=16, n_iter=2)
    t2 = pq_train_codebooks(corpus, m=4, k=16, n_iter=2)
    assert t1 == t2  # bit-identical across runs
    assert t1 != untrained  # training moved entries

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (
            _math.sqrt(sum(x * x for x in a))
            * _math.sqrt(sum(y * y for y in b))
        )

    def recall(books) -> float:
        enc = pq_encode(corpus, books)
        hits = 0
        for pair in range(6):
            q = member(pair, 1, 0)
            exact = {
                v
                for v, _ in sorted(
                    ((v, cos(vec, q)) for v, vec in rows),
                    key=lambda t: (-t[1], t[0]),
                )[:10]
            }
            got = {
                r["vec_id"]
                for r in pq_topk_codes(enc, corpus, q, books, k=10, refine=12).collect()
            }
            hits += len(exact & got)
        return hits / (6 * 10)

    r_untrained, r_trained = recall(untrained), recall(t1)
    assert r_trained > r_untrained
    assert r_untrained <= 0.5  # the id-order cut misses the true side
    assert r_trained >= 0.9  # trained tail codes resolve the pairs


def test_semantic_dedup_keep_decisions(spark):
    """semantic_dedup (r11): pairs -> components -> per-row KEEP
    decisions over the FULL corpus. Two exact-dup clusters ({1,6,7} and
    {3,4}) plus orthogonal singletons; the smallest id in each component
    is kept, every other member points at it, and singletons appear as
    their own canonical."""
    from datawarehouse_group10_spark.functions.similarity import semantic_dedup

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 1.0]),
            (4, [0.0, 0.0, 2.0]),
            (5, [-1.0, 1.0, 0.0]),
            (6, [2.0, 0.0, 0.0]),
            (7, [1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0], [1.0, 1.0, 0.0]]
    out = {
        r["vec_id"]: (r["canonical_id"], r["kept"])
        for r in semantic_dedup(corpus, planes, bands=2, threshold=0.999).collect()
    }
    assert len(out) == 7  # every corpus row present, singletons included
    assert out[1] == (1, True) and out[6] == (1, False) and out[7] == (1, False)
    assert out[3] == (3, True) and out[4] == (3, False)
    assert out[2] == (2, True) and out[5] == (5, True)
    # Filtering on kept materializes the deduplicated corpus.
    assert sorted(k for k, (_, kept) in out.items() if kept) == [1, 2, 3, 5]


def test_multimodal_decode_and_frames(spark, docs):
    binary = attach_binary_payload(docs, text_col="text", id_col="doc_id")
    feats = {r["doc_id"]: r for r in decode_features(binary).collect()}
    assert feats[1]["n_bytes"] == len(DOCS[0][1].encode())
    assert feats[1]["digest"] == feats[2]["digest"]


def test_multimodal_real_image_decode_with_pillow(spark):
    """When Pillow is installed, image/* payloads decode for real through
    the same mapInPandas plumbing (skips cleanly where PIL is absent);
    the fake-type path is covered by test_multimodal_decode_and_frames."""
    import pytest

    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    buf = io.BytesIO()
    PIL_Image.new("RGB", (12, 7)).save(buf, format="PNG")
    png = buf.getvalue()
    df = spark.createDataFrame(
        [(1, bytearray(png), "image/png")],
        "doc_id bigint, content binary, media_type string",
    )
    row = decode_features(df).collect()[0]
    assert (row["width"], row["height"]) == (12, 7)
    assert row["n_bytes"] == len(png)


def test_multimodal_unknown_media_type_still_raises(spark):
    """Non-image real media types have no optional codec wired and must
    fail loudly, not decode garbage."""
    import pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"RIFF...."), "audio/wav")],
        "doc_id bigint, content binary, media_type string",
    )
    with pytest.raises(Exception, match="no codec|NotImplementedError"):
        decode_features(df).collect()


def test_novelty_features_rare_vs_shared(spark):
    """Corpus-relative novelty: a doc whose shingles appear nowhere else
    scores 1.0, two identical docs score 0.0 (every shingle attested in
    the twin), and a pre_shingled superset projection restricted by
    semi-join gives identical results."""
    from datawarehouse_group10_spark.functions.dedup import word_shingles
    from datawarehouse_group10_spark.functions.text import novelty_features

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "entirely unique content appearing in no other document here"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in novelty_features(corpus).collect()}
    assert got[1]["novelty_ratio"] == 0.0 and got[2]["novelty_ratio"] == 0.0
    assert got[3]["novelty_ratio"] == 1.0
    assert got[3]["n_rare"] == got[3]["n_shingles"]

    pre = corpus.select(
        F.col("doc_id"), word_shingles("text", 3).alias("shingles")
    )
    via_pre = {
        r["doc_id"]: r
        for r in novelty_features(corpus, pre_shingled=pre).collect()
    }
    assert {k: tuple(v) for k, v in got.items()} == {
        k: tuple(v) for k, v in via_pre.items()
    }


def test_wav_synth_decode_roundtrip(spark, docs):
    """PCM WAV round trip through stdlib wave (r7, VERDICT r6 #7): the
    synthesized container decodes back to exactly the closed-form sample
    count, 16kHz mono params, 44-byte-header byte length, and the
    exact-integer mean amplitude."""
    from datawarehouse_group10_spark.multimodal import (
        decode_audio_features,
        synthesize_wav_payload,
    )

    wav = synthesize_wav_payload(docs)
    feats = {r["doc_id"]: r for r in decode_audio_features(wav).collect()}
    for doc_id, r in feats.items():
        n = doc_id % 50 + 10
        assert r["n_samples"] == n
        assert (r["n_channels"], r["sample_rate"]) == (1, 16000)
        assert r["n_bytes"] == 44 + 2 * n
        expected_mean = sum(
            ((doc_id * 31 + j * 7) % 65536) - 32768 for j in range(n)
        ) / n
        assert r["mean_amp"] == expected_mean
    # compressed audio still refuses loudly
    import pytest

    bad = spark.createDataFrame(
        [(1, bytearray(b"OggS...."), "audio/ogg")],
        "doc_id bigint, content binary, media_type string",
    )
    with pytest.raises(Exception, match="no codec|NotImplementedError"):
        decode_audio_features(bad).collect()


def test_adpcm_state_machine_matches_cpython_audioop():
    """The hand-rolled IMA-ADPCM nibble decoder must agree BIT-FOR-BIT
    with CPython's ``audioop.adpcm2lin`` reference (same Intel/DVI ADPCM
    codec) on a random nibble stream — the strongest available
    independent check of the step/index tables, clamping, and the
    magnitude/sign formula. Skips cleanly on Python >= 3.13 where
    audioop was removed."""
    import struct

    audioop = pytest.importorskip("audioop")
    import random

    from datawarehouse_group10_spark.multimodal import _adpcm_decode_nibbles

    rng = random.Random(7)
    nibs = [rng.randrange(16) for _ in range(2000)]
    # audioop packs the HIGH nibble first within each byte
    raw = bytes((nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2))
    ref_bytes, _ = audioop.adpcm2lin(raw, 2, (0, 0))
    ref = list(struct.unpack(f"<{len(ref_bytes) // 2}h", ref_bytes))
    assert _adpcm_decode_nibbles(nibs, 0, 0) == ref


def test_adpcm_encode_decode_tracks_signal():
    """Encoder/decoder round trip on a generic waveform: IMA-ADPCM is
    lossy, but the decoded signal must track the input within the step
    size the encoder was operating at — a property no
    trivially-wrong state machine passes."""
    import math as m

    from datawarehouse_group10_spark.multimodal import (
        _adpcm_decode_nibbles,
        _adpcm_encode_samples,
    )

    samples = [int(8000 * m.sin(i / 20)) for i in range(500)]
    nibs = _adpcm_encode_samples(samples, samples[0], 0)
    decoded = [samples[0]] + _adpcm_decode_nibbles(nibs[1:], samples[0], 0)
    errs = [abs(a - b) for a, b in zip(samples, decoded)]
    # Startup transient is real codec behavior (step size adapts up from
    # index 0 over the first few dozen samples); past it the tracking
    # error is bounded by the operating step size.
    assert max(errs[50:]) < 300
    assert sorted(errs)[len(errs) // 2] < 100  # median incl. transient


def test_adpcm_synth_decode_roundtrip(spark, docs):
    """Compressed-codec round trip (r11, VERDICT r10 #2): the IMA-ADPCM
    WAV containers decode through the REAL RIFF walk + state machine
    back to the closed-form sample count, byte length (60-byte
    header/chunk overhead + 4-byte block header + packed nibbles), and
    the exact v,v+1,... mean; non-WAV containers and unknown fmt tags
    raise UnsupportedCodecError naming the boundary."""
    from datawarehouse_group10_spark.multimodal import (
        UnsupportedCodecError,
        decode_audio_features,
        synthesize_adpcm_wav_payload,
    )

    feats = {
        r["doc_id"]: r
        for r in decode_audio_features(
            synthesize_adpcm_wav_payload(docs)
        ).collect()
    }
    for doc_id, r in feats.items():
        n = doc_id % 50 + 10
        v = (doc_id * 31) % 60000 - 30000
        assert r["n_samples"] == n
        assert (r["n_channels"], r["sample_rate"]) == (1, 16000)
        assert r["n_bytes"] == 64 + n // 2
        assert r["mean_amp"] == (n * v + n // 2) / n
    # unknown WAV format tag (e.g. mu-law 0x0007) refuses loudly
    import struct

    fmt = struct.pack("<HHIIHH", 0x0007, 1, 8000, 8000, 1, 8)
    mulaw = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    )
    bad = spark.createDataFrame(
        [(1, bytearray(mulaw), "audio/wav")],
        "doc_id bigint, content binary, media_type string",
    )
    with pytest.raises(Exception, match="format tag|UnsupportedCodec"):
        decode_audio_features(bad).collect()


def test_adpcm_synth_matches_container_helper(spark):
    """The worker-side container assembly inside
    synthesize_adpcm_wav_payload is a deliberate self-contained copy of
    the module-level _adpcm_wav_container (ship-by-value: executors
    need no package install). Pin the two byte-identical so they can't
    drift apart."""
    from datawarehouse_group10_spark.multimodal import (
        _adpcm_wav_container,
        synthesize_adpcm_wav_payload,
    )

    ids = [0, 1, 7, 49, 123, 9999]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
    got = {
        r["doc_id"]: bytes(r["content"])
        for r in synthesize_adpcm_wav_payload(df).collect()
    }
    for doc_id in ids:
        n = doc_id % 50 + 10
        v = (doc_id * 31) % 60000 - 30000
        nibbles = [1 if j % 2 == 1 else 9 for j in range(1, n)]
        assert got[doc_id] == _adpcm_wav_container(nibbles, v, n, 16_000)


def test_y4m_synth_decode_roundtrip(spark, docs):
    """Y4M video round trip through the hand-rolled parser: header tags,
    closed-form frame count, exact byte length (36-byte header + 22/frame),
    and the exact-integer mean luma; non-mono colorspaces and non-Y4M
    media types refuse loudly."""
    from datawarehouse_group10_spark.multimodal import (
        decode_video_features,
        synthesize_y4m_payload,
    )

    feats = {
        r["doc_id"]: r
        for r in decode_video_features(synthesize_y4m_payload(docs)).collect()
    }
    for doc_id, r in feats.items():
        nf = doc_id % 8 + 2
        assert r["n_frames"] == nf
        assert (r["width"], r["height"], r["fps_num"]) == (4, 4, 25)
        assert r["n_bytes"] == 36 + nf * 22
        expected = sum(
            (doc_id * 7 + f * 13 + j) % 256
            for f in range(nf)
            for j in range(16)
        ) / (nf * 16)
        assert r["mean_luma"] == expected
    import pytest

    c420 = spark.createDataFrame(
        [(1, bytearray(b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C420\x0A"),
          "video/x-yuv4mpeg")],
        "doc_id bigint, content binary, media_type string",
    )
    with pytest.raises(Exception, match="colorspace|NotImplementedError"):
        decode_video_features(c420).collect()
    mp4 = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00 ftypmp42"), "video/mp4")],
        "doc_id bigint, content binary, media_type string",
    )
    with pytest.raises(Exception, match="no codec|NotImplementedError"):
        decode_video_features(mp4).collect()


def test_ivf_topk_agrees_with_brute_force(spark, vecs):
    from datawarehouse_group10_spark.functions.similarity import (
        deterministic_centroids,
        ivf_topk,
    )

    q = [1.0, 0.0, 0.0]
    cents = deterministic_centroids(vecs, k=3)
    got = [r["vec_id"] for r in ivf_topk(vecs, q, cents, k=2, n_probe=3).collect()]
    brute = [r["vec_id"] for r in brute_force_topk(vecs, q, k=2).collect()]
    assert got == brute == [1, 2]  # probing all cells == exact
    # probing ONE cell still finds the nearest (it lives in the best cell)
    one = [r["vec_id"] for r in ivf_topk(vecs, q, cents, k=1, n_probe=1).collect()]
    assert one == [1]


def test_data_plane_lsh_topk(spark, vecs):
    """Explicit data-derived hyperplanes: same API, engine-portable codes."""
    from datawarehouse_group10_spark.functions.similarity import (
        data_plane_codes,
    )

    q = [1.0, 0.0, 0.0]
    planes = [[0.9, 0.1, 0.0], [0.0, 1.0, 0.0]]
    out = [r["vec_id"] for r in
           lsh_bucket_topk(vecs, q, k=1, planes=planes).collect()]
    assert out == [1]
    codes = {r["vec_id"]: r["c"] for r in
             vecs.select("vec_id",
                         data_plane_codes("embedding", planes).alias("c")).collect()}
    # v1=[1,0,0]: dot with p0 = 0.9 > 0 -> bit0; dot with p1 = 0 -> no bit1
    assert codes[1] == 1
    # v3=[0,1,0]: dot p0 = 0.1 > 0, dot p1 = 1 > 0 -> bits 0 and 1
    assert codes[3] == 3


def test_kmeans_centroids_deterministic_balanced_no_recall_loss(spark):
    """Lloyd-refined IVF centroids: bit-identical across runs (decimal
    sums), every cell non-empty on real embeddings, and recall@10 at
    n_probe=4 no worse than the lowest-id-seed centroids."""
    from datawarehouse_group10_spark.functions.similarity import (
        deterministic_centroids,
        ivf_assign,
        ivf_topk,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter("vec_id = 1").first()["embedding"]]

    km1 = kmeans_centroids(emb, k=8, n_iter=2)
    km2 = kmeans_centroids(emb, k=8, n_iter=2)
    assert km1 == km2

    seed = deterministic_centroids(emb, k=8)
    brute = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    r_seed = {r["vec_id"] for r in ivf_topk(emb, q, seed, k=10, n_probe=4).collect()}
    r_km = {r["vec_id"] for r in ivf_topk(emb, q, km1, k=10, n_probe=4).collect()}
    assert len(r_km & brute) >= len(r_seed & brute)

    sizes = [r["count"] for r in
             ivf_assign(emb, km1).groupBy("_cell").count().collect()]
    assert len(sizes) == 8 and min(sizes) >= 1


def test_simhash_portable_matches_xxhash_structure(spark, docs):
    """The md5-halved portable SimHash keeps its halves inside unsigned
    32-bit range (no sign-bit hazards on any engine)."""
    sig = simhash_portable(docs).collect()
    assert all(0 <= r["sim_hi"] < 2**32 and 0 <= r["sim_lo"] < 2**32 for r in sig)


def test_ivf_cell_layout_prunes_partitions(spark, tmp_path):
    """The IVF scale path made concrete: write the assignment partitioned
    by `_cell`, and a probe-filtered read shows partition PRUNING in the
    physical plan (n_probe directories scanned, not the corpus)."""
    from datawarehouse_group10_spark.functions.similarity import (
        deterministic_centroids,
        ivf_assign,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = deterministic_centroids(emb, k=8)
    path = str(tmp_path / "ivf")
    ivf_assign(emb, cents).write.partitionBy("_cell").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("_cell").isin([0, 3]))
    plan = probed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "_cell" in plan.split("PartitionFilters", 1)[1][:120]
    # and the pruned read returns exactly the two cells' rows
    import os

    on_disk = {d for d in os.listdir(path) if d.startswith("_cell=")}
    assert len(on_disk) == 8
    full = spark.read.parquet(path)
    expected = full.filter(F.col("_cell").isin([0, 3])).count()
    assert probed.count() == expected > 0


def test_deterministic_split_stable_under_growth(spark):
    """A row's split assignment never changes when the corpus grows, and
    the realized fractions track the requested ones."""
    from datawarehouse_group10_spark.functions.sampling import (
        deterministic_split,
    )

    small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s_small = {r["doc_id"]: r["split"]
               for r in deterministic_split(small).collect()}
    s_big = {r["doc_id"]: r["split"] for r in deterministic_split(big).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())   # stability
    from collections import Counter

    frac = Counter(s_big.values())
    assert abs(frac["train"] / 5000 - 0.8) < 0.03
    assert abs(frac["val"] / 5000 - 0.1) < 0.02
    assert abs(frac["test"] / 5000 - 0.1) < 0.02


def test_mixture_sample_rates_and_determinism(spark):
    from datawarehouse_group10_spark.functions.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(2000)],
        "doc_id bigint, source string",
    )
    kept1 = {r["doc_id"] for r in
             mixture_sample(df, {"a": 1.0, "b": 0.25}).collect()}
    kept2 = {r["doc_id"] for r in
             mixture_sample(df, {"a": 1.0, "b": 0.25}).collect()}
    assert kept1 == kept2                                   # no RNG anywhere
    n_a = sum(1 for i in kept1 if i % 2)
    n_b = len(kept1) - n_a
    assert n_a == 1000                                       # rate 1.0 keeps all
    assert abs(n_b / 1000 - 0.25) < 0.05
    # unknown source with default_rate=0 drops everything
    assert mixture_sample(df, {"a": 1.0}, default_rate=0.0).filter(
        "source = 'b'"
    ).count() == 0


def test_split_independent_of_mixture(spark):
    """Split and mixture buckets are salted per purpose, so splitting the
    survivors of a mixture filter still yields ~train_frac/val/test — not
    100% 'train' (the unsalted failure mode: after rate r, survivors all
    sit in buckets [0, r*10000), which train_frac >= r maps wholly to
    'train')."""
    from collections import Counter

    from datawarehouse_group10_spark.functions.sampling import (
        deterministic_split,
        mixture_sample,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id").withColumn(
        "source", F.lit("web")
    )
    kept = mixture_sample(df, {"web": 0.3})
    split = deterministic_split(kept, train_frac=0.8, val_frac=0.1)
    frac = Counter(r["split"] for r in split.collect())
    n = sum(frac.values())
    assert abs(n / 5000 - 0.3) < 0.03
    assert abs(frac["train"] / n - 0.8) < 0.05
    assert frac["val"] > 0 and frac["test"] > 0
    assert abs(frac["val"] / n - 0.1) < 0.04
    assert abs(frac["test"] / n - 0.1) < 0.04


def test_chunk_token_windows_reassembly(spark):
    """Chunks partition the token stream exactly: joining every chunk back
    in order reproduces the tokenized text, n_tokens sums to the doc's
    token count, and only the last chunk is ragged."""
    from datawarehouse_group10_spark.functions.text import (
        chunk_token_windows,
        token_count,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine"),
         (2, "a b c"),
         (3, "exactly four tokens here")],
        "doc_id bigint, text string",
    )
    chunks = chunk_token_windows(docs, window=4).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    counts = {r["doc_id"]: r["n"] for r in
              docs.select("doc_id", token_count("text").alias("n")).collect()}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["chunk_idx"])
        joined = " ".join(r["chunk_text"] for r in rows)
        original = docs.filter(F.col("doc_id") == doc_id).first()["text"].strip()
        assert joined == original
        assert sum(r["n_tokens"] for r in rows) == counts[doc_id]
        assert all(r["n_tokens"] == 4 for r in rows[:-1])    # full windows
        assert 1 <= rows[-1]["n_tokens"] <= 4


def test_repetition_features_detect_loops(spark):
    from datawarehouse_group10_spark.functions.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam"),
         (2, "all words here are fully distinct tokens"),
         (3, "ab")],
        "doc_id bigint, text string",
    )
    feats = repetition_features("text", n=3)
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id", feats["dup_gram_ratio"].alias("r"),
        feats["n_grams"].alias("n"), feats["n_distinct_grams"].alias("d"),
    ).collect()}
    assert out[1]["r"] == pytest.approx(3 / 4)   # 4 grams, 1 distinct
    assert out[2]["r"] == 0.0
    assert out[3]["n"] == 1 and out[3]["r"] == 0.0  # short doc: whole-text gram


def test_redact_pii_counts_and_digest(spark):
    from datawarehouse_group10_spark.functions.text import redact_pii

    docs = spark.createDataFrame(
        [(1, "mail me at a.b+c@example.org or see https://x.io/p?q=1 now"),
         (2, "no pii here"),
         (3, "fetch http://user@host.com/x today")],
        "doc_id bigint, text string",
    )
    feats = redact_pii("text")
    out = {r["doc_id"]: r for r in docs.select(
        "doc_id", feats["n_emails"].alias("e"), feats["n_urls"].alias("u"),
        feats["redacted_digest"].alias("h"),
    ).collect()}
    assert out[1]["e"] == 1 and out[1]["u"] == 1
    assert out[2]["e"] == 0 and out[2]["u"] == 0
    import hashlib

    expected = hashlib.md5(b"mail me at <EMAIL> or see <URL> now").hexdigest()
    assert out[1]["h"] == expected
    # URL pass runs first: a userinfo URL is one <URL> token, not a
    # mangled email inside it — and the audit counts match the output.
    assert out[3]["u"] == 1 and out[3]["e"] == 0
    assert out[3]["h"] == hashlib.md5(b"fetch <URL> today").hexdigest()


def test_contamination_check_semantics(spark):
    """Contamination = sharing at least one k-gram with the eval set;
    counts are DISTINCT shared shingles; clean docs are absent."""
    from datawarehouse_group10_spark.functions.dedup import contamination_check

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated training text with no overlap at all"),
         (3, "quick brown fox jumps over shared prefix plus extra words")],
        "doc_id bigint, text string",
    )
    eval_set = spark.createDataFrame(
        [(100, "the quick brown fox jumps over something else")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["n_shared_grams"]
           for r in contamination_check(train, eval_set, k=5).collect()}
    # doc 1 shares the 5-grams starting at 'the','quick' ("the quick brown
    # fox jumps", "quick brown fox jumps over"); doc 3 only the latter
    assert got == {1: 2, 3: 1}


def test_json_extraction_typed_and_null_tolerant(spark):
    """json_fields parses the payload into typed fields; malformed JSON,
    missing keys, and type mismatches yield NULL, never an error."""
    from datawarehouse_group10_spark.functions.semistructured import json_fields

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "a"}'),
         (2, '{"tag": "b"}'),            # missing k
         (3, 'not json at all'),          # malformed
         (4, '{"k": "notanint"}'),        # wrong type
         (5, None)],                      # null payload
        "id bigint, props string",
    )
    j = json_fields("props", {"k": "bigint", "tag": "string"})
    out = df.select("id", j.getField("k").alias("k"), j.getField("tag").alias("tag"))
    rows = {r["id"]: (r["k"], r["tag"]) for r in out.collect()}
    assert rows[1] == (7, "a")
    assert rows[2] == (None, "b")
    assert rows[3] == (None, None)
    assert rows[4] == (None, None)
    assert rows[5] == (None, None)


def test_incremental_minhash_matches_full_run(spark, tmp_path):
    """Dedup of a new batch against a persisted corpus index yields
    exactly the new-involving subset of a full-corpus LSH run."""
    from datawarehouse_group10_spark.functions.dedup import (
        build_minhash_index,
        incremental_minhash_dup_pairs,
        minhash_lsh_dup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")

    idx = str(tmp_path / "minhash_index")
    build_minhash_index(old, idx)
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in incremental_minhash_dup_pairs(new, idx).collect()
    }

    full = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in minhash_lsh_dup_pairs(docs).collect()
        if r["id_a"] % 2 == 1 or r["id_b"] % 2 == 1
    }
    assert got == full
    assert len(got) > 0


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    """Paragraph(segment)-level dedup: global first occurrence by
    (doc_id, seg_idx) wins, later repeats drop, and the surviving
    document rebuilds in original segment order (kept_hash = md5 of the
    space-joined kept segments; md5('') when nothing survives)."""
    import hashlib

    from datawarehouse_group10_spark.functions.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),            # segs: "a b c", "d e f"
            (2, "a b c x y z"),            # "a b c" dups doc 1 -> keeps "x y z"
            (3, "a b c d e f"),            # full duplicate -> keeps nothing
            (4, "d e f a b c g"),          # both dup + ragged new tail "g"
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in paragraph_dedup(docs, window=3).collect()}

    def h(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    assert (out[1]["n_segments"], out[1]["n_kept"]) == (2, 2)
    assert out[1]["kept_hash"] == h("a b c d e f")
    assert (out[2]["n_segments"], out[2]["n_kept"]) == (2, 1)
    assert out[2]["kept_hash"] == h("x y z")
    assert (out[3]["n_segments"], out[3]["n_kept"]) == (2, 0)
    assert out[3]["kept_hash"] == h("")
    assert (out[4]["n_segments"], out[4]["n_kept"]) == (3, 1)
    assert out[4]["kept_hash"] == h("g")


def test_curate_corpus_assigns_every_fate(spark):
    """The composed curation pipeline (functions/curation.py) must route
    each crafted document to its first dropping stage: quality (too
    short / no stopwords / repetitive), exact_dup (identical text,
    larger id), near_dup (high-Jaccard neighbor, larger id), kept (+
    split and mixture assignment present ONLY on kept rows)."""
    from datawarehouse_group10_spark.functions.curation import curate_corpus

    base = "the quick brown fox jumps over a lazy dog and then it runs far away to the hills"
    near = base + " again"
    rows = [
        (1, "srcA", base),                      # kept (lowest id of near pair)
        (2, "srcA", near),                      # near_dup of 1
        (3, "srcA", "short text"),              # quality: < 15 tokens
        (4, "srcA", " ".join(["zz"] * 30)),     # quality: no stopwords + repetitive
        (5, "srcB", "an entirely different story about the sea and the wind that blows over it all day"),  # kept
        (6, "srcB", "an entirely different story about the sea and the wind that blows over it all day"),  # exact_dup of 5
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: r
        for r in curate_corpus(docs, rates={"srcA": 1.0}, default_rate=0.0).collect()
    }
    assert out[1]["fate"] == "kept" and out[5]["fate"] == "kept"
    assert out[2]["fate"] == "near_dup"
    assert out[3]["fate"] == "quality" and out[4]["fate"] == "quality"
    assert out[6]["fate"] == "exact_dup"
    # split/mixture only on kept rows; srcA rate 1.0 -> kept, srcB 0.0 -> out
    assert out[1]["split"] in ("train", "val", "test") and out[1]["mix_kept"] == 1
    assert out[5]["mix_kept"] == 0
    assert out[2]["split"] is None and out[3]["mix_kept"] is None


def test_knn_join_and_ivf_variant(spark):
    """Batched kNN join: (a) ranks are exact per query with deterministic
    id tie-breaks; (b) the cell-pruned IVF variant equals the brute join
    EXACTLY when every cell is probed (the candidate set is then the
    whole corpus), and stays a subset-ranking at smaller n_probe."""
    import pyspark.sql.functions as SF

    from datawarehouse_group10_spark.functions.similarity import (
        deterministic_centroids,
        knn_join,
        knn_join_ivf,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(SF.col("vec_id").isin(1, 5, 9)).select(
        SF.col("vec_id").alias("q_id"), SF.col("embedding").alias("q_vec")
    )
    brute = knn_join(qs, emb, k=5)
    rows = brute.collect()
    assert len(rows) == 15  # 3 queries x top-5
    for q in (1, 5, 9):  # each query's own vector is its rank-1 neighbor
        mine = [r for r in rows if r["q_id"] == q and r["rank"] == 1]
        assert mine[0]["vec_id"] == q and abs(mine[0]["cosine"] - 1.0) < 1e-9

    cents = deterministic_centroids(emb, k=8)
    full = knn_join_ivf(qs, emb, cents, k=5, n_probe=8)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, rows))

    pruned = knn_join_ivf(qs, emb, cents, k=5, n_probe=2)
    got = {(r["q_id"], r["vec_id"]) for r in pruned.collect()}
    want = {(r["q_id"], r["vec_id"]) for r in rows}
    recall = len(got & want) / len(want)
    assert recall >= 0.5, recall


def test_dsir_enriches_target_like_docs(spark):
    """DSIR semantics on a corpus with a real distribution shift: docs
    drawn from the target vocabulary must out-weigh docs from a disjoint
    vocabulary."""
    from datawarehouse_group10_spark.functions.sampling import dsir_scores

    tgt_like = [(i, "alpha beta gamma delta alpha beta") for i in range(20)]
    other = [(i + 100, "omega psi chi phi omega psi") for i in range(20)]
    raw = spark.createDataFrame(tgt_like + other, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string",
    )
    sc = {r["doc_id"]: r["log_w"] for r in dsir_scores(raw, target).collect()}
    assert min(sc[i] for i, _ in tgt_like) > max(sc[i] for i, _ in other)


def test_dsir_deterministic_and_bucket_counts(spark):
    """Hash-everything determinism: two runs give byte-identical scores;
    hashed_ngram_buckets counts unigrams+bigrams non-distinct."""
    from datawarehouse_group10_spark.functions.sampling import (
        dsir_scores,
        hashed_ngram_buckets,
    )

    raw = spark.createDataFrame(
        [(1, "a b a"), (2, "c")], "doc_id long, text string"
    )
    b = hashed_ngram_buckets(raw).groupBy("doc_id").agg(
        F.sum("cnt").alias("n")
    )
    got = {r["doc_id"]: r["n"] for r in b.collect()}
    # doc1: 3 unigrams + 2 bigrams ("a b", "b a"); doc2: 1 unigram, no bigram
    assert got == {1: 5, 2: 1}
    t = raw.filter("doc_id = 1")
    a = sorted(dsir_scores(raw, t).collect())
    c = sorted(dsir_scores(raw, t).collect())
    assert a == c


def test_stream_cdc_apply_sequential_and_replay_idempotent(spark, tmp_path):
    """Two CDC microbatches apply IN ORDER (the second update of a key
    wins) with one committed snapshot version per batch; re-merging a
    batch (the crash-replay case) is value-idempotent."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import run_stream_cdc_apply

    table = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k int, p string, v double",
    )
    snapshot_write(base, table, "p")

    src = str(tmp_path / "cdc_in")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, "a", 11.0, False), (3, "b", 0.0, True)],
        "k int, p string, v double, del boolean",
    )
    b2 = spark.createDataFrame(
        [(1, "a", 12.0, False), (9, "c", 90.0, False)],
        "k int, p string, v double, del boolean",
    )
    for i, b in enumerate((b1, b2)):
        stage = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1000 + i, 1000 + i))  # deterministic batch order

    stream = (
        spark.readStream.schema("k int, p string, v double, del boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_cdc_apply(
        stream, table, "p", ["k"], delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = {
        r["k"]: r["v"]
        for r in snapshot_read(spark, table).collect()
    }
    # b2's update of k=1 (12.0) supersedes b1's (11.0); k=3 deleted
    assert got == {1: 12.0, 2: 20.0, 9: 90.0}
    # one version per batch: v1 base + v2 (b1) + v3 (b2)
    assert snapshot_version(table) == 3

    # crash-replay: re-merging b2 converges to the same state (new
    # version, identical content)
    snapshot_merge(spark, b2, table, "p", ["k"], delete_col="del")
    again = {
        r["k"]: r["v"]
        for r in snapshot_read(spark, table).collect()
    }
    assert again == got
    assert snapshot_version(table) == 4


def test_stream_cdc_apply_retries_lost_occ_race_in_stream(
    spark, tmp_path, monkeypatch
):
    """In-stream OCC retry (r13, VERDICT r12 #4): a maintenance commit
    that wins the race mid-merge no longer fails the stream — the
    microbatch replans against the new committed version and retries
    (value-idempotent), completing WITHOUT a restart; the final table
    equals the sequential outcome plus the maintenance write."""
    import os

    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import run_stream_cdc_apply

    table = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k int, p string, v double",
    )
    snapshot_write(base, table, "p")

    # the competing maintenance write: a merge into a DISJOINT
    # partition 'z', committed in the window between the stream
    # merge's manifest read and its CAS — the exact interleaving that
    # failed the whole stream in r12
    external = spark.createDataFrame(
        [(100, "z", 1.0)], "k int, p string, v double"
    )
    real_stage = L._stage_version
    state = {"armed": 1, "inside": False}

    def hijack(path, pc, b, touched, writer, *args, **kwargs):
        if state["armed"] and not state["inside"]:
            state["armed"] -= 1
            state["inside"] = True
            try:
                L.snapshot_merge(spark, external, table, "p", ["k"])
            finally:
                state["inside"] = False
        return real_stage(path, pc, b, touched, writer, *args, **kwargs)

    monkeypatch.setattr(L, "_stage_version", hijack)

    src = str(tmp_path / "cdc_in")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, "a", 11.0, False), (3, "b", 0.0, True), (9, "c", 90.0, False)],
        "k int, p string, v double, del boolean",
    )
    stage = str(tmp_path / "stage")
    b1.coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(os.path.join(stage, part), os.path.join(src, "b0.parquet"))

    stream = (
        spark.readStream.schema("k int, p string, v double, del boolean")
        .parquet(src)
    )
    # completes without raising: the first merge attempt LOSES the
    # race (the hijack committed the merge on its base), the retry
    # replans and lands
    run_stream_cdc_apply(
        stream, table, "p", ["k"], delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert state["armed"] == 0  # the race really happened
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    # sequential CDC outcome + the maintenance partition
    assert got == {1: 11.0, 2: 20.0, 9: 90.0, 100: 1.0}

    # with retries exhausted the failure is still loud: arm a
    # permanent attacker and pin the raise
    state.update({"armed": 10**9})
    b2 = spark.createDataFrame(
        [(1, "a", 13.0, False)], "k int, p string, v double, del boolean"
    )
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        ConcurrentWriteError,
        snapshot_merge,
    )

    with _pytest.raises(ConcurrentWriteError):
        for _ in range(4):  # occ_retries=3 equivalent, direct merges
            snapshot_merge(spark, b2, table, "p", ["k"], delete_col="del")


def test_ivfpq_beats_pq_subsample_at_equal_scan_fraction(spark):
    """ivfpq_topk_codes (r13, VERDICT r12 #6): at an equal ADC'd-row budget
    (4 of 16 cells ~ 25% of the corpus), the IVF probe is QUERY-AWARE
    — it keeps the cells nearest the query, which hold the true
    neighbors — so recall@10 beats a PQ scan over a query-OBLIVIOUS
    hash subsample of the same fraction, and matches the full PQ scan
    on a clustered corpus."""
    import math as _math

    from datawarehouse_group10_spark.functions.similarity import (
        ivf_assign,
        ivfpq_topk_codes,
        kmeans_centroids,
        pq_encode,
        pq_topk_codes,
        pq_train_codebooks,
    )

    d, n_clusters, per = 8, 8, 30

    def center(c):
        return [3.0 * _math.sin(1.3 * c + 0.9 * j) for j in range(d)]

    def member(c, t):
        return [
            x + 0.08 * _math.cos(1.7 * t + 0.5 * j)
            for j, x in enumerate(center(c))
        ]

    rows = []
    # ids 0..15: two near-center seeds per cluster (the centroid init
    # source, so cells align with clusters)
    vid = 0
    for c in range(n_clusters):
        for t in (0, 1):
            rows.append((vid, member(c, t)))
            vid += 1
    for c in range(n_clusters):
        for t in range(2, per):
            rows.append((vid, member(c, t)))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    cents = kmeans_centroids(corpus, k=16, n_iter=2)
    books = pq_train_codebooks(corpus, m=4, k=16, n_iter=2)
    enc = pq_encode(ivf_assign(corpus, cents), books)
    # query-oblivious ~25% subsample, same PQ machinery
    sample = corpus.filter(F.crc32(F.col("vec_id").cast("string")) % 4 == 0)
    sample_enc = pq_encode(sample, books)

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (
            _math.sqrt(sum(x * x for x in a))
            * _math.sqrt(sum(y * y for y in b))
        )

    ivfpq_hits = sub_hits = 0
    n_q = 4
    for c in range(n_q):
        q = member(c, 99)
        exact = {
            v
            for v, _ in sorted(
                ((v, cos(vec, q)) for v, vec in rows),
                key=lambda t: (-t[1], t[0]),
            )[:10]
        }
        got = {
            r["vec_id"]
            for r in ivfpq_topk_codes(
                enc, corpus, q, cents, books, k=10, n_probe=4, refine=30
            ).collect()
        }
        ivfpq_hits += len(got & exact)
        got_sub = {
            r["vec_id"]
            for r in pq_topk_codes(
                sample_enc, sample, q, books, k=10, refine=30
            ).collect()
        }
        sub_hits += len(got_sub & exact)
    ivfpq_recall = ivfpq_hits / (10 * n_q)
    sub_recall = sub_hits / (10 * n_q)
    assert ivfpq_recall > sub_recall, (ivfpq_recall, sub_recall)
    assert ivfpq_recall >= 0.9, ivfpq_recall


def test_ivfpq_residual_codes_beat_global_codes(spark):
    """Residual IVFPQ (r13): with 16 clusters and 16 codebook entries,
    GLOBAL codebooks spend every entry on cluster identity — inside a
    probed cell the ADC distance is constant and the refine cut
    degrades to id order — while RESIDUAL codebooks (trained on
    x - centroid) spend every entry on the within-cluster offsets,
    so the candidate ranking is discriminative. Pinned: recall@10 at
    equal (n_probe=1, refine=12) is strictly higher for residual, and
    high in absolute terms."""
    import math as _math

    from datawarehouse_group10_spark.functions.similarity import (
        _residual_col,
        ivf_assign,
        ivfpq_topk_codes,
        ivfpq_train_residual_codebooks,
        kmeans_centroids,
        pq_encode,
        pq_train_codebooks,
    )

    d, n_clusters, per = 8, 16, 30

    def center(c):
        return [12.0 * _math.sin(1.3 * c + 0.9 * j) for j in range(d)]

    def offset(t):
        return [_math.sin(0.9 * t + 0.35 * j) for j in range(d)]

    def member(c, t):
        return [x + o for x, o in zip(center(c), offset(t))]

    rows = [(c, center(c)) for c in range(n_clusters)]  # ids 0..15: seeds
    vid = 100
    for c in range(n_clusters):
        for t in range(per):
            rows.append((vid, member(c, t)))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    cents = kmeans_centroids(corpus, k=16, n_iter=2)
    books_global = pq_train_codebooks(corpus, m=4, k=16, n_iter=2)
    books_res = ivfpq_train_residual_codebooks(
        corpus, cents, m=4, k=16, n_iter=2
    )
    assigned = ivf_assign(corpus, cents)
    enc_global = pq_encode(assigned, books_global)
    enc_res = pq_encode(
        assigned.withColumn("_res", _residual_col("embedding", cents)),
        books_res,
        vec_col="_res",
    )

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (
            _math.sqrt(sum(x * x for x in a))
            * _math.sqrt(sum(y * y for y in b))
        )

    hits = {"global": 0, "residual": 0}
    n_q = 4
    for c in range(n_q):
        q = member(2 * c, 77 + c)
        exact = {
            v
            for v, _ in sorted(
                ((v, cos(vec, q)) for v, vec in rows),
                key=lambda t: (-t[1], t[0]),
            )[:10]
        }
        for tag, enc, books, res in (
            ("global", enc_global, books_global, False),
            ("residual", enc_res, books_res, True),
        ):
            got = {
                r["vec_id"]
                for r in ivfpq_topk_codes(
                    enc, corpus, q, cents, books,
                    k=10, n_probe=1, refine=12, residual=res,
                ).collect()
            }
            hits[tag] += len(got & exact)
    rec_g = hits["global"] / (10 * n_q)
    rec_r = hits["residual"] / (10 * n_q)
    assert rec_r > rec_g, (rec_r, rec_g)
    assert rec_r >= 0.8, rec_r


def test_exact_substring_dedup_spans(spark):
    """exact_substring_dedup (r13, Lee et al. arXiv:2107.06499 at
    k-gram granularity): the global first occurrence of every 8-token
    gram survives; later occurrences mark spans that merge when
    overlapping and are cut from the rebuilt text; short documents
    and unique documents pass through whole; a fully-duplicated
    document collapses to the empty string."""
    import hashlib

    from datawarehouse_group10_spark.functions.dedup import (
        exact_substring_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),        # the source (first occ.)
            (2, "x y a b c d e f g h i j z"),  # run duplicated mid-doc
            (3, "p q r s"),                    # < k tokens: untouched
            (4, "a b c d e f g h"),            # fully duplicated
        ],
        "doc_id int, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["n_spans"], r["clean_hash"])
        for r in exact_substring_dedup(docs, k=8).collect()
    }
    h = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (10, 0, 0, h("a b c d e f g h i j"))
    # 3 overlapping dup 8-grams in doc 2 merge into ONE [2, 12) span
    assert got[2] == (13, 10, 1, h("x y z"))
    assert got[3] == (4, 0, 0, h("p q r s"))
    assert got[4] == (8, 8, 1, h(""))
    # within-document repetition also dedups (first occurrence wins)
    rep = spark.createDataFrame(
        [(9, "m n o p q r s t u m n o p q r s t u")],
        "doc_id int, text string",
    )
    r9 = exact_substring_dedup(rep, k=8).first()
    assert r9["n_removed"] == 9 and r9["n_spans"] == 1
    assert r9["clean_hash"] == h("m n o p q r s t u")


def test_stream_cdc_apply_partial_columns(spark, tmp_path):
    """update_cols through the CDC stream (r13): a changed-columns-only
    feed applies partial updates per microbatch; uncarried columns
    survive on matched keys and pad NULL on inserts."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import run_stream_cdc_apply

    table = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "one"), (2, "b", 20.0, "two")],
        "k int, p string, v double, label string",
    )
    snapshot_write(base, table, "p")

    src = str(tmp_path / "cdc_in")
    os.makedirs(src)
    batch = spark.createDataFrame(
        [(1, "a", 111.0, False), (7, "b", 70.0, False)],
        "k int, p string, v double, del boolean",
    )
    stage = str(tmp_path / "stage")
    batch.coalesce(1).write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(os.path.join(stage, part), os.path.join(src, "b0.parquet"))

    stream = (
        spark.readStream.schema("k int, p string, v double, del boolean")
        .parquet(src)
    )
    run_stream_cdc_apply(
        stream, table, "p", ["k"], delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt"), update_cols=["v"],
    )
    got = {
        r["k"]: (r["v"], r["label"])
        for r in snapshot_read(spark, table).collect()
    }
    assert got == {1: (111.0, "one"), 2: (20.0, "two"), 7: (70.0, None)}


# ---------------------------------------------------------------------------
# sequence packing (r14): GPT-style concat-and-chunk into fixed-length
# training sequences, closed-form from one prefix sum
# ---------------------------------------------------------------------------


def _pack_corpus(spark, n_docs=60):
    # token counts 1..12 words, deterministic content
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(i % 12 + 1)))
        for i in range(n_docs)
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_pack_sequences_tiles_exactly(spark):
    """Per document: segments contiguous from 0 and summing to the doc's
    token count. Per (shard, sequence): segments tile [0, seq_len)
    exactly, except each shard's last (ragged) sequence. Zero padding
    waste by construction."""
    from datawarehouse_group10_spark.functions.packing import pack_sequences
    from datawarehouse_group10_spark.functions.text import token_count

    docs = _pack_corpus(spark)
    L = 17
    packed = pack_sequences(docs, seq_len=L, shards=3).collect()

    by_doc: dict[int, list] = {}
    by_seq: dict[tuple, list] = {}
    for r in packed:
        by_doc.setdefault(r["doc_id"], []).append(r)
        by_seq.setdefault((r["shard"], r["seq_id"]), []).append(r)

    toks = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", token_count("text").alias("n")
        ).collect()
    }
    for d, segs in by_doc.items():
        segs.sort(key=lambda r: r["doc_offset"])
        assert segs[0]["doc_offset"] == 0
        pos = 0
        for s in segs:
            assert s["doc_offset"] == pos
            pos += s["n_tokens"]
        assert pos == toks[d]
    assert set(by_doc) == {d for d, n in toks.items() if n > 0}

    last_seq = {}
    for (sh, sq) in by_seq:
        last_seq[sh] = max(last_seq.get(sh, -1), sq)
    for (sh, sq), segs in by_seq.items():
        segs.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for s in segs:
            assert s["seq_offset"] == pos
            pos += s["n_tokens"]
        if sq < last_seq[sh]:
            assert pos == L  # full tile — no padding waste
        else:
            assert 0 < pos <= L  # the one ragged tail per shard
    # every shard's sequence ids are dense from 0
    for sh, mx in last_seq.items():
        assert {q for s, q in by_seq if s == sh} == set(range(mx + 1))


def test_pack_sequences_is_stable_under_corpus_growth(spark):
    """Hash ordering: re-running is bit-identical, and growing the
    corpus never swaps the relative order of pre-existing documents
    within a shard (their hashes don't move)."""
    from datawarehouse_group10_spark.functions.packing import pack_sequences

    docs = _pack_corpus(spark, 40)
    a = sorted(
        map(tuple, pack_sequences(docs, seq_len=17, shards=3).collect())
    )
    b = sorted(
        map(tuple, pack_sequences(docs, seq_len=17, shards=3).collect())
    )
    assert a == b

    def order_key(packed):
        # (shard, first seq, seq_offset) sorts docs by stream position
        first = {}
        for r in packed:
            k = (r["shard"], r["seq_id"], r["seq_offset"])
            if r["doc_id"] not in first or k < first[r["doc_id"]]:
                first[r["doc_id"]] = k
        return first

    small = order_key(pack_sequences(docs, seq_len=17, shards=3).collect())
    grown = order_key(
        pack_sequences(_pack_corpus(spark, 80), seq_len=17, shards=3).collect()
    )
    for shard in range(3):
        old = sorted(
            (k, d) for d, k in small.items() if k[0] == shard
        )
        new_rank = {
            d: k for d, k in grown.items() if k[0] == shard
        }
        old_docs = [d for _k, d in old]
        assert old_docs == sorted(
            old_docs, key=lambda d: new_rank[d]
        )  # relative order preserved after growth


def test_pack_sequences_plan_is_one_shuffle(spark):
    """The packing layout costs ONE exchange (the per-shard window);
    the segment explode and all offset arithmetic stay in the same
    stage — the property that keeps it linear at 100 TB."""
    from datawarehouse_group10_spark.functions.packing import pack_sequences

    packed = pack_sequences(_pack_corpus(spark), seq_len=17, shards=3)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    n_ex = plan.count("Exchange")
    assert n_ex <= 1, plan
    assert "PythonUDF" not in plan


def test_stream_cdc_apply_mor_tombstone_batches(spark, tmp_path):
    """delete_mode='mor' (r14): an all-delete microbatch lands as ONE
    equality-delete-file commit (data roots re-referenced unchanged);
    a later mixed batch merges copy-on-write and folds the delete
    files of the partitions it touches. Stream order and one commit
    per batch preserved."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import run_stream_cdc_apply

    table = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, "a" if i < 6 else "b", float(i)) for i in range(12)],
        "k int, p string, v double",
    )
    snapshot_write(base, table, "p", key_bloom=["k"])

    src = str(tmp_path / "cdc_in")
    os.makedirs(src)
    b1 = spark.createDataFrame(  # pure tombstones: k=2 (a), k=7 (b)
        [(2, "a", 0.0, True), (7, "b", 0.0, True)],
        "k int, p string, v double, del boolean",
    )
    b2 = spark.createDataFrame(  # mixed: upsert into 'a', delete in 'a'
        [(3, "a", 33.0, False), (4, "a", 0.0, True)],
        "k int, p string, v double, del boolean",
    )
    for i, b in enumerate((b1, b2)):
        stage = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("k int, p string, v double, del boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    run_stream_cdc_apply(
        stream, table, "p", ["k"], delete_col="del",
        checkpoint_dir=str(tmp_path / "ckpt"), delete_mode="mor",
    )
    got = {r["k"]: r["v"] for r in snapshot_read(spark, table).collect()}
    assert got == {
        0: 0.0, 1: 1.0, 3: 33.0, 5: 5.0,          # 'a' minus 2,4; 3 upserted
        6: 6.0, 8: 8.0, 9: 9.0, 10: 10.0, 11: 11.0,  # 'b' minus 7
    }
    assert snapshot_version(table) == 3  # base + tombstone commit + merge
    m = snapshot_manifest(table)
    # b1's MOR commit re-referenced both data roots; b2's COW merge
    # rewrote 'a' (folding its delete file); 'b' still carries its dv
    assert m["partitions"]["a"]["root"] == "v3"
    assert "dv" not in m["partitions"]["a"]
    assert m["partitions"]["b"]["root"] == "v1"
    assert m["partitions"]["b"]["dv"]["rows"] == 1
    # the tombstone version wrote NO data files
    import glob

    v2_files = [
        f
        for f in glob.glob(f"{table}/v2/**/*.parquet", recursive=True)
        if f"{os.sep}_dv{os.sep}" not in f
    ]
    assert v2_files == []


def test_snapshot_cdf_consume_delivers_per_commit_windows(spark, tmp_path):
    """CDF consumer (r14): per-commit diff windows delivered in order
    from a persisted cursor; a consumer crash mid-window re-delivers
    exactly that window (at-least-once); catch-up batching bounds one
    call; a cursor whose version file is gone fails loudly."""
    from datawarehouse_group10_spark.sources.layout import (
        _manifest_file,
        snapshot_delete,
        snapshot_merge,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        run_snapshot_cdf_consume,
    )

    table = str(tmp_path / "tbl")
    cursor = str(tmp_path / "consumer1")
    snapshot_write(
        spark.createDataFrame(
            [("a", 1, 1.0), ("b", 2, 2.0)], "p string, k int, v double"
        ),
        table, "p",
    )
    got: list[tuple] = []

    def collect(df, v_from, v_to):
        rows = {
            (r["_change"], r["p"], r["k"], r["v"]) for r in df.collect()
        }
        got.append((v_from, v_to, rows))

    # first call seeds the cursor at the committed version: no windows
    st = run_snapshot_cdf_consume(spark, table, collect, cursor)
    assert st == {"delivered": 0, "cursor": 1}

    snapshot_merge(  # v2: update k=1
        spark,
        spark.createDataFrame([("a", 1, 10.0)], "p string, k int, v double"),
        table, "p", ["k"],
    )
    snapshot_delete(  # v3: MOR delete k=2
        spark, spark.createDataFrame([(2,)], "k int"), table, "p", ["k"]
    )
    snapshot_merge(  # v4: insert k=9 into partition b
        spark,
        spark.createDataFrame([("b", 9, 9.0)], "p string, k int, v double"),
        table, "p", ["k"],
    )

    # catch-up batching: one window per call with max_versions=1
    st = run_snapshot_cdf_consume(
        spark, table, collect, cursor, max_versions=1
    )
    assert st == {"delivered": 1, "cursor": 2}
    assert got[-1] == (
        1, 2,
        {("insert", "a", 1, 10.0), ("delete", "a", 1, 1.0)},
    )
    # crash mid-window: the cursor stays, the window re-delivers
    calls = {"n": 0}

    def crashy(df, v_from, v_to):
        calls["n"] += 1
        raise RuntimeError("downstream died")

    with pytest.raises(RuntimeError):
        run_snapshot_cdf_consume(spark, table, crashy, cursor)
    st = run_snapshot_cdf_consume(spark, table, collect, cursor)
    assert st == {"delivered": 2, "cursor": 4}
    assert got[-2] == (2, 3, {("delete", "b", 2, 2.0)})  # the MOR delete
    assert got[-1] == (3, 4, {("insert", "b", 9, 9.0)})
    # caught up: nothing more
    assert run_snapshot_cdf_consume(spark, table, collect, cursor) == {
        "delivered": 0, "cursor": 4,
    }
    # a second consumer with its own cursor starts from NOW
    st2 = run_snapshot_cdf_consume(
        spark, table, collect, str(tmp_path / "consumer2")
    )
    assert st2 == {"delivered": 0, "cursor": 4}
    # rewind the cursor to a version whose file is gone: consume fails
    # loud instead of skipping windows
    import os

    with open(os.path.join(cursor, "_CDF_CURSOR"), "w") as fh:
        fh.write("2")
    os.remove(_manifest_file(table, 2))
    with pytest.raises(ValueError, match="no version file"):
        run_snapshot_cdf_consume(spark, table, collect, cursor)


def test_snapshot_cdf_metadata_only_commits_deliver_empty_windows(
    spark, tmp_path
):
    """Metadata-only commits (spec evolution, no-match deletes) change
    no rows: the CDF consumer must deliver them as EMPTY windows —
    staying in lockstep with the version line without inventing
    changes."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        run_snapshot_cdf_consume,
    )

    table = str(tmp_path / "tbl")
    cursor = str(tmp_path / "cur")
    snapshot_write(
        spark.createDataFrame(
            [("a", 1, 1.0), ("b", 2, 2.0)], "p string, k int, v double"
        ),
        table, "p",
    )
    got = []
    run_snapshot_cdf_consume(
        spark, table, lambda df, a, b: got.append((a, b, df.count())),
        cursor,
    )
    snapshot_delete(  # v2: no key matches -> re-referencing commit
        spark, spark.createDataFrame([(99,)], "k int"), table, "p", ["k"]
    )
    snapshot_evolve_partitioning(  # v3: metadata-only re-spec
        table, {"kb": ("bucket", 2, "k")}
    )
    st = run_snapshot_cdf_consume(
        spark, table, lambda df, a, b: got.append((a, b, df.count())),
        cursor,
    )
    assert st == {"delivered": 2, "cursor": 3}
    assert got == [(1, 2, 0), (2, 3, 0)]

