"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the whole point of these implementations):

- Exact dedup is a hash-groupBy on a 32-char digest — one shuffle on a
  uniformly distributed key, no skew, map-side partial aggregation.
- MinHash is shingle-explode -> P min-aggregations -> band-bucket join.
  The only shuffles are the per-doc signature aggregation (keyed by doc_id,
  uniform) and the band-bucket self-join (keyed by (band, hash), uniform by
  construction). Candidate pairs are verified with exact Jaccard on the
  candidates only — never all-pairs.
- SimHash is a single groupBy(doc) with 64 bit-sum aggregates over md5
  token halves; near-dup lookup joins on 16-bit block keys.
- MinHash hashing is xxhash64 (JVM built-in, codegen) — no Python in any
  path.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import chunk_token_windows, tokens


# ---------------------------------------------------------------------------
# Exact dedup


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content digest: one row per distinct text
    with the (deterministic) minimum id kept and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("dup_count"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
) -> DataFrame:
    """Paragraph-level exact dedup with order-preserving reconstruction:
    the sub-document dedup step of a web-corpus pipeline (boilerplate
    paragraphs repeat across pages; the document survives with only its
    first-seen paragraphs). The corpus here is newline-free synthetic
    text, so "paragraph" = fixed ``window``-token segment — swap
    ``chunk_token_windows`` for a newline splitter on real corpora; the
    dedup/reassembly plan is identical.

    Global first-occurrence wins, ordered by (doc id, segment index) —
    deterministic, no RNG. Returns one row per input document:
    (id, n_segments, n_kept, kept_hash) where kept_hash is md5 of the
    document rebuilt from its surviving segments in original order
    (md5('') when every segment was seen earlier).

    Scale shape: explode to segments (bounded duplication, ~1x corpus),
    ONE shuffle on md5(segment) — uniform key, no skew — for the
    first-occurrence window, then ONE groupBy(id) to reassemble.
    collect_list here is per-document (bounded by document length), and
    array_sort on (seg_idx, seg) structs makes the rebuild order exact
    regardless of aggregation order. No all-pairs, no driver data.
    """
    segs = chunk_token_windows(df, text_col=text_col, id_col=id_col, window=window)
    seg_hash = F.md5(F.col("chunk_text"))
    w = Window.partitionBy(seg_hash).orderBy(F.col(id_col), F.col("chunk_idx"))
    ranked = segs.withColumn("_rk", F.row_number().over(w))
    per_doc = (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_segments"),
            F.sum((F.col("_rk") == 1).cast("bigint")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_rk") == 1,
                                    F.struct(
                                        F.col("chunk_idx").alias("i"),
                                        F.col("chunk_text").alias("s"),
                                    ),
                                )
                            )
                        ),
                        lambda x: x["s"],
                    ),
                )
            ).alias("kept_hash"),
        )
    )
    return per_doc.select(
        F.col(id_col), "n_segments", "n_kept", "kept_hash"
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Exact-substring span dedup at k-token granularity — the
    remove-duplicated-SPANS step of Lee et al., *Deduplicating
    Training Data Makes Language Models Better* (arXiv:2107.06499),
    re-expressed as DataFrame ops (the paper uses a suffix array; at
    k-gram granularity the same "every repeated passage appears once
    in the corpus" guarantee comes from an inverted index, which IS
    the scalable Spark shape):

    1. every k-token window of every document hashes to a gram;
    2. the GLOBAL first occurrence of each gram (min (doc_id, pos) —
       deterministic, no RNG) survives; every other occurrence marks
       its ``[pos, pos+k)`` token span as duplicated;
    3. per document, overlapping/adjacent duplicated spans merge
       (gaps-and-islands: one window pass on the doc key);
    4. the document is rebuilt WITHOUT the merged spans (a
       higher-order filter over the token array against the
       interval list — no per-row Python).

    Returns one row per input document: (id, n_tokens, n_removed,
    n_spans, clean_hash) where clean_hash is md5 of the span-stripped
    text (md5('') if everything was duplicated). Documents shorter
    than ``k`` tokens carry no grams and survive whole.

    Scale shape: explode to ~1x corpus gram rows, ONE shuffle on the
    uniform gram hash (first-occurrence window), ONE shuffle on the
    doc key (span merge + reassembly), one broadcast-size-agnostic
    hash join of the interval lists back to the corpus. No all-pairs,
    no suffix array in driver memory, no collect.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(toks)
    base = df.select(
        F.col(id_col), toks.alias("_toks"), n_tok.alias("n_tokens")
    )
    grams = base.filter(F.col("n_tokens") >= k).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_tokens") - k),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k))
                ),
            )
        ).alias("_i", "_h"),
    )
    w_first = Window.partitionBy("_h").orderBy(F.col(id_col), F.col("_i"))
    dup_spans = (
        grams.withColumn("_rk", F.row_number().over(w_first))
        .filter(F.col("_rk") > 1)
        .select(id_col, F.col("_i").alias("_s"), (F.col("_i") + k).alias("_e"))
    )
    w_doc = (
        Window.partitionBy(id_col)
        .orderBy("_s", "_e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        dup_spans.withColumn("_pmax", F.max("_e").over(w_doc))
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull() | (F.col("_s") > F.col("_pmax")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_grp",
            F.sum("_new").over(
                Window.partitionBy(id_col)
                .orderBy("_s", "_e")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(id_col, "_grp")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_s"), F.col("_e")))
            ).alias("_iv"),
            F.count("*").cast("bigint").alias("n_spans"),
            F.sum(F.col("_e") - F.col("_s")).cast("bigint").alias(
                "n_removed"
            ),
        )
    )
    joined = base.join(islands, id_col, "left")
    iv = F.coalesce(F.col("_iv"), F.array().cast("array<struct<_s:int,_e:int>>"))
    kept = F.filter(
        F.col("_toks"),
        lambda tok, i: ~F.exists(
            iv, lambda v: (i >= v["_s"]) & (i < v["_e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias(
            "n_removed"
        ),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias(
            "n_spans"
        ),
        F.md5(F.concat_ws(" ", kept)).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """k-word shingles as array<string> (distinct)."""
    toks = tokens(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
    )
    return F.array_distinct(F.when(n >= k, sh).otherwise(F.array(F.array_join(toks, " "))))


def shingle_stage_shards(
    src_bytes: int, cores: int, target_bytes: int = 128 << 20
) -> int:
    """Scale-adaptive shard count for a staged-shingle write (r18,
    guide §2.6/§6.3): SIZE-governed at scale — output files near
    ``target_bytes`` (the staged shingle parquet measures ~2x its
    source documents parquet) — and PARALLELISM-governed at fixture
    scale, where a sub-128MB corpus scans as ONE split, so without a
    spread the shingling runs on one core and every consumer scan of
    the staged artifact inherits the same one-task width (measured:
    bulk stage 5.6s -> 2.6s at sf0.1 on local[32]). ~16KB of source
    text per shard is the floor that keeps tiny corpora from
    sharding into empty files."""
    size_shards = (src_bytes * 2) // target_bytes + 1
    width_shards = min(cores, src_bytes // (16 << 10) + 1)
    return int(max(size_shards, width_shards))


def materialize_shingles(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    shards: int | None = None,
) -> DataFrame:
    """Write the shingled projection (id, array<string> shingles) to
    parquet ONCE and return a reader over it — the many-consumer scale
    path PERF.md prescribes: signatures and both Jaccard-verify sides then
    scan columnar shingles instead of re-deriving tokenize→slice→join
    per consumer. At 100 TB this is the difference between one corpus-wide
    string-processing pass and three. Feed the result to
    :func:`minhash_lsh_dup_pairs` via ``pre_shingled``.

    Alongside the shingles a ``text_md5`` content digest is staged (a
    few bytes per doc) — it is what lets
    :func:`stage_shingles_incremental` detect mutated docs loudly and
    :func:`compact_staged_shingles` reuse unchanged docs' shingles
    without re-tokenizing them."""
    if shards:
        # spread a one-split fixture scan across the cluster (r18 —
        # see shingle_stage_shards); at scale the scan already splits
        # and shards is size-derived, so this is never a narrowing
        df = df.repartition(shards)
    df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("text_md5"),
        word_shingles(text_col, shingle_k).alias("shingles"),
    ).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def stage_shingles_incremental(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    check_mutations: bool = True,
    shards: int | None = None,
) -> DataFrame:
    """Incrementally maintain the staged shingle parquet at ``path``:
    shingle ONLY the docs whose ``id_col`` is not already staged and
    APPEND them (r8, VERDICT r7 #1 — the system's largest
    linearly-growing cost, re-paid per corpus change under full
    restaging, becomes pay-per-delta).

    First call (no parquet at ``path``) is a full
    :func:`materialize_shingles`. Subsequent calls read the staged
    (id, text_md5) columns only (columnar projection — no shingle
    arrays are scanned), left-anti join the corpus against the ids, and
    run the expensive tokenize→slice→distinct pass over the DELTA
    alone: cost is O(new docs), not O(corpus). The combined file is
    bit-identical input to every consumer (minhash LSH, curation,
    novelty), so the registered oracle checks of those surfaces verify
    delta staging == full restaging by construction.

    Contract: APPEND-ONLY corpora keyed by a stable ``id_col``. A doc
    whose text CHANGED under the same id cannot be patched by an append
    — with ``check_mutations`` (default) the staged ``text_md5`` digest
    detects that and RAISES, pointing at
    :func:`compact_staged_shingles` (which rewrites stale rows while
    reusing every unchanged doc's shingles). Docs deleted from the
    corpus linger in the staging until compaction and would re-enter
    results through consumers that scan ``pre_shingled`` directly; same
    compaction answer. ``check_mutations=False`` skips the digest
    compare for corpora the caller guarantees immutable.

    Plan shape (r9, VERDICT r8 #7): ONE left join of the corpus against
    the staged (id, digest) projection serves BOTH decisions — the
    digest compare rides the MATCHED side of the same join whose
    unmatched side is the delta, instead of a separate full-corpus md5
    join before an anti-join. Each action's plan has one corpus scan
    and one staged columnar scan; with ``check_mutations=False`` the
    join degenerates to the plain anti-join (null-check on the staged
    digest), same shape.

    Returns a reader over the combined staged parquet.
    """
    from pyspark.errors import AnalysisException

    spark = df.sparkSession
    try:
        staged = spark.read.parquet(path).select(
            F.col(id_col), F.col("text_md5").alias("_staged_md5")
        )
    except AnalysisException:  # first call: nothing staged yet
        return materialize_shingles(
            df, path, text_col=text_col, id_col=id_col,
            shingle_k=shingle_k, shards=shards,
        )
    joined = df.withColumn("_cur_md5", F.md5(F.col(text_col))).join(
        staged, id_col, "left"
    )
    if check_mutations:
        mutated = (
            joined.filter(
                F.col("_staged_md5").isNotNull()
                & (F.col("_cur_md5") != F.col("_staged_md5"))
            )
            .limit(1)
            .count()
        )
        if mutated:
            raise ValueError(
                "stage_shingles_incremental: corpus contains docs whose "
                "text changed under an already-staged id; appends cannot "
                "replace rows — run compact_staged_shingles first"
            )
    delta = joined.filter(F.col("_staged_md5").isNull())
    if shards:
        # the delta is a corpus fraction — spread it the same way
        # (a one-split delta would shingle on one core); Spark drops
        # empty shards' files, so a small delta stays few files
        delta = delta.repartition(shards)
    delta.select(
        F.col(id_col),
        F.col("_cur_md5").alias("text_md5"),
        word_shingles(text_col, shingle_k).alias("shingles"),
    ).write.mode("append").parquet(path)
    return spark.read.parquet(path)


def compact_staged_shingles(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
) -> DataFrame:
    """Rewrite the staged shingle parquet to exactly match the CURRENT
    corpus ``df`` — the maintenance pass behind
    :func:`stage_shingles_incremental`'s append-only contract:

    - deleted docs' rows are dropped,
    - changed docs (staged ``text_md5`` != current digest) are
      re-shingled,
    - unchanged docs' shingle rows are KEPT AS-IS (a semi-join on
      (id, digest) — no re-tokenization, so compaction cost is
      O(changed + deleted) shingling plus one columnar copy of the
      survivors, not a full corpus re-shingle).

    The rewrite goes to a fresh sibling directory which then replaces
    ``path`` (write → swap — readers holding the old reader finish
    against deleted-but-open files on POSIX; this is an OFFLINE
    maintenance op, not a concurrent-commit protocol like the streaming
    CMS versioning). Returns a reader over the compacted parquet."""
    import shutil

    spark = df.sparkSession
    cur = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_cur"))
    staged = spark.read.parquet(path)
    keep = staged.join(
        cur,
        (staged[id_col] == cur[id_col])
        & (staged["text_md5"] == cur["_cur"]),
        "left_semi",
    )
    staged_keys = staged.select(
        F.col(id_col).alias("_sid"), F.col("text_md5").alias("_old")
    )
    fresh_docs = df.join(
        staged_keys,
        (df[id_col] == F.col("_sid"))
        & (F.md5(df[text_col]) == F.col("_old")),
        "left_anti",
    )
    fresh = fresh_docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("text_md5"),
        word_shingles(text_col, shingle_k).alias("shingles"),
    )
    tmp = path.rstrip("/") + ".compact.tmp"
    keep.unionByName(fresh).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return spark.read.parquet(path)


def _band_keys(
    shingled: DataFrame, id_col: str, num_perm: int, bands: int
) -> DataFrame:
    """(id, band_idx, band_hash) LSH keys from a shingled projection.

    Permutation i is min over shingles of xxhash64(shingle, i); the band
    hash is one multi-arg xxhash64 straight off the band's r per-
    permutation min columns (building an array and string-concatenating
    it measured slower for zero benefit — PERF.md round 3). Shared by the
    one-shot self-join path and the incremental index path so both sides
    of an incremental match use bit-identical keys.
    """
    rows_per_band = num_perm // bands
    exploded = shingled.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    aggs = [
        F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sigs = exploded.groupBy(id_col).agg(*aggs)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)]
            ).alias("band_hash"),
        )
        for b in range(bands)
    ])
    return sigs.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, "band.band_idx", "band.band_hash")


def minhash_lsh_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 10_000,
    persist_shingles: bool = False,
    prune_verify: bool = False,
    pre_shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded LSH over MinHash signatures, verified
    with exact shingle-set Jaccard on the candidates.

    Returns (id_a, id_b, jaccard) with id_a < id_b. The self-join happens
    only inside LSH buckets — at 100 TB the bucket key (band_idx, band_hash)
    is high-cardinality and uniform, so the join shuffle is balanced and the
    candidate set is tiny relative to all-pairs.

    Skew guard: a cluster of EXACT duplicates lands its whole cluster in one
    bucket of every band -> n^2 candidate pairs on one key. Run
    :func:`exact_dedup` first to collapse exact copies, and
    ``max_bucket_size`` drops any residual bucket larger than the cap
    (pairs inside an over-cap bucket are near-certain duplicates of an
    exact-dup cluster, not signal). ``None`` disables the cap.

    The shingle arrays feed three consumers (signatures, and both sides of
    the Jaccard verification). ``persist_shingles`` trades recompute for a
    cache: measured OFF-is-faster at moderate scale (pipelined codegen
    recompute beats serializing large string arrays — 5s vs 10s cold at
    5k docs), while a many-times-reused corpus at cluster scale should
    instead WRITE the shingled projection to parquet once and read it.

    ``prune_verify`` restricts the verification joins to docs appearing in
    a candidate pair (materialize candidates -> semi-join the raw rows ->
    shingle only those). Same measured trade: at 5k docs the extra
    materialization barrier LOSES (15s vs 11s cold) because the full-side
    passes overlap in the pipeline anyway; at corpus scale, where the two
    extra full-corpus shingle passes dominate and candidates are a
    vanishing fraction, turn it ON.

    ``pre_shingled`` supplies an already-shingled projection (columns
    ``id_col``, ``shingles``) — typically :func:`materialize_shingles`'s
    parquet reader — and skips in-query shingling entirely (ignores
    ``persist_shingles``; with ``prune_verify`` the verify side still
    re-shingles only candidate rows from ``df``).
    """
    if pre_shingled is not None:
        shingled = pre_shingled.select(F.col(id_col), "shingles")
    else:
        shingled = df.select(
            F.col(id_col), word_shingles(text_col, shingle_k).alias("shingles")
        )
        if persist_shingles:
            shingled = shingled.persist()
    exploded = shingled.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    banded = _band_keys(shingled, id_col, num_perm, bands)

    if max_bucket_size is not None:
        # One extra agg on the (uniform) bucket key; window-free so it stays
        # a partial+final hash aggregate.
        bucket_sizes = banded.groupBy("band_idx", "band_hash").agg(
            F.count("*").alias("_bucket_n")
        )
        banded = (
            banded.join(bucket_sizes, ["band_idx", "band_hash"])
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )

    if prune_verify:
        # Candidates feed both the verification join and the id semi-join;
        # persist so the banded pipeline runs once (the set is small by
        # construction — that is the point of LSH).
        cand = cand.persist()
        cand_ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # Filter the RAW rows first, then shingle — guarantees the
        # expensive shingle expression runs over |candidates| rows only
        # (a projection after the join would not be reordered past it).
        shingled_cand = df.join(F.broadcast(cand_ids), id_col).select(
            F.col(id_col), word_shingles(text_col, shingle_k).alias("shingles")
        )
    else:
        shingled_cand = shingled
    verified = (
        cand.join(shingled_cand.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(shingled_cand.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    pre_shingled: DataFrame | None = None,
) -> None:
    """Persist the corpus near-dup index: ``{path}/shingles`` (id,
    shingles) and ``{path}/bands`` (id, band_idx, band_hash), both
    parquet.

    The production corpus-ingest shape: mine the full corpus ONCE, then
    every new batch dedups against the index via
    :func:`incremental_minhash_dup_pairs` — no re-shingling or
    re-signing of the existing corpus, ever. At 100 TB the index is a
    small multiple of the text column and both files are plain parquet
    (partition/bucket them by band_hash / id downstream if the store
    supports it).

    ``pre_shingled`` (r9) feeds the index from an already-staged shingle
    artifact — typically the output of :func:`stage_shingles_incremental`
    / :func:`compact_staged_shingles` — so the tokenize→slice→distinct
    pass is not re-run over text the staging lifecycle already paid for;
    the index's shingles file is then ONE columnar copy of the artifact.
    """
    if pre_shingled is not None:
        shingled = pre_shingled.select(F.col(id_col), "shingles")
    else:
        shingled = df.select(
            F.col(id_col), word_shingles(text_col, shingle_k).alias("shingles")
        )
    shingled.write.mode("overwrite").parquet(f"{path}/shingles")
    spark = df.sparkSession
    shingled_r = spark.read.parquet(f"{path}/shingles")
    _band_keys(shingled_r, id_col, num_perm, bands).write.mode(
        "overwrite"
    ).parquet(f"{path}/bands")


def append_to_minhash_index(
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> None:
    """APPEND a processed batch to a persisted MinHash index — the
    ingest-side half of the streaming corpus pipeline (r9): after a
    microbatch has been near-dup-checked against the index
    (:func:`incremental_minhash_dup_pairs`), its shingles and band keys
    join the index so every LATER batch dedups against it too.

    Cost is O(batch): the batch is shingled once and appended to
    ``{path}/shingles``; its band keys (same hash family as
    :func:`build_minhash_index` — both sides of a future match use
    bit-identical keys) are derived from the same shingled projection
    and appended to ``{path}/bands``. The shingle expression recomputes
    for the band pass (two lineage evaluations of one microbatch) —
    materializing first measured slower at microbatch sizes, same trade
    as minhash_lsh_dup_pairs' persist_shingles=False default.

    Idempotence on replay is the CALLER's job: drive this from a
    checkpointed foreachBatch (the WAL skips committed batches on
    restart); a crash BETWEEN the pairs write and this append re-runs
    the whole batch, so production sinks should dedupe pairs on (id_a,
    id_b) and gate the index append on a per-batch marker."""
    shingled = new_df.select(
        F.col(id_col), word_shingles(text_col, shingle_k).alias("shingles")
    )
    # The two appends land in DISJOINT directories from independent
    # plans — overlap them from a driver pool (r18, guide §2.6, the
    # same shape as the MOR dv/ap write overlap) so a microbatch pays
    # max(write) not sum(write). Crash states: any SUBSET of the two
    # writes can now exist after a failure (sequential order could
    # only leave shingles-without-bands). Replay idempotence was
    # already the CALLER's contract (docstring above): the streaming
    # ingest's journal snapshots BOTH dirs before this call and rolls
    # back any non-snapshot file in either, so every partial state —
    # old or new — replays to the identical index; a non-journaled
    # caller was never crash-safe under either ordering.
    from concurrent.futures import ThreadPoolExecutor

    def _shingles() -> None:
        shingled.write.mode("append").parquet(f"{path}/shingles")

    def _bands() -> None:
        _band_keys(shingled, id_col, num_perm, bands).write.mode(
            "append"
        ).parquet(f"{path}/bands")

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(_shingles), pool.submit(_bands)]:
            f.result()


def incremental_minhash_dup_pairs(
    new_df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL batch against a persisted corpus
    index (:func:`build_minhash_index` with the same parameters).

    Returns (id_a, id_b, jaccard) with id_a < id_b where at least one
    side is a new document — new×new and new×corpus pairs; corpus×corpus
    pairs were already emitted when the corpus itself was ingested.
    Identical hash family and band construction on both sides, so the
    result equals exactly the new-involving subset of a full-corpus
    :func:`minhash_lsh_dup_pairs` run — verified by test.

    Scale shape: only the new batch is shingled and signed; the index
    side is two columnar scans. The candidate join keys on the uniform
    (band_idx, band_hash) pair and is bounded by ``max_bucket_size``
    computed over the COMBINED bucket population (a new batch landing in
    an already-hot corpus bucket is capped like any other skew).
    """
    spark = new_df.sparkSession
    idx_bands = spark.read.parquet(f"{index_path}/bands")
    idx_shingles = spark.read.parquet(f"{index_path}/shingles")

    new_shingled = new_df.select(
        F.col(id_col), word_shingles(text_col, shingle_k).alias("shingles")
    )
    new_banded = _band_keys(new_shingled, id_col, num_perm, bands)
    all_banded = new_banded.unionByName(idx_bands)

    if max_bucket_size is not None:
        sizes = all_banded.groupBy("band_idx", "band_hash").agg(
            F.count("*").alias("_bucket_n")
        )
        hot = sizes.filter(F.col("_bucket_n") > max_bucket_size).drop("_bucket_n")
        new_banded = new_banded.join(
            hot, ["band_idx", "band_hash"], "left_anti"
        )
        all_banded = all_banded.join(
            hot, ["band_idx", "band_hash"], "left_anti"
        )

    a = new_banded.alias("a")
    b = all_banded.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        )
        .distinct()
    )

    all_shingled = new_shingled.unionByName(idx_shingles)
    return (
        cand.join(
            all_shingled.withColumnRenamed(id_col, "id_a").withColumnRenamed(
                "shingles", "sh_a"
            ),
            "id_a",
        )
        .join(
            all_shingled.withColumnRenamed(id_col, "id_b").withColumnRenamed(
                "shingles", "sh_b"
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Engine-portable SimHash: token hash = md5 (identical hex on every
    engine) split into two UNSIGNED 32-bit halves carried as bigints —
    (sim_hi, sim_lo) instead of one signed 64-bit value, so no shift ever
    touches the sign bit on any engine. One explode + one groupBy with
    64 conditional sums; every step is reproducible in SQL, so the
    query that runs it is driver-oracle-checked."""
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    hi = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("bigint")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(lo, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(32)
    ] + [
        F.sum(
            F.when(F.shiftright(hi, j - 32).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(32, 64)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)

    def _pack(lo_bit: int) -> Column:
        acc = F.lit(0).cast("bigint")
        for j in range(32):
            acc = acc + F.when(
                F.col(f"b{j + lo_bit}") > 0,
                F.shiftleft(F.lit(1).cast("bigint"), j),
            ).otherwise(F.lit(0).cast("bigint"))
        return acc

    return sums.select(
        F.col(id_col), _pack(32).alias("sim_hi"), _pack(0).alias("sim_lo")
    )


def simhash_dup_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by portable-SimHash Hamming distance with 4x16-bit
    pigeonhole blocking: a pair within Hamming 3 agrees on at least one
    16-bit block, so ``max_hamming`` > 3 is refused (the blocking would
    miss pairs). Every step — md5 halves, bit-sum
    signs, block keys, bit_count(xor) — is reproducible in ANSI-ish SQL,
    so this variant carries a full DuckDB oracle."""
    if max_hamming > 3:
        raise ValueError(
            "simhash_dup_pairs_portable: max_hamming must be <= 3 for "
            "4-block pigeonhole completeness"
        )
    sig = simhash_portable(df, text_col, id_col)
    key_exprs = [
        F.col("sim_lo").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("sim_lo", 16).bitwiseAND(F.lit(0xFFFF)),
        F.col("sim_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright("sim_hi", 16).bitwiseAND(F.lit(0xFFFF)),
    ]
    blocks = sig.select(
        id_col,
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("blk"), k.alias("key"))
                for i, k in enumerate(key_exprs)
            ])
        ).alias("b"),
    ).select(id_col, "sim_hi", "sim_lo", "b.blk", "b.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, on=[F.col("a.blk") == F.col("b.blk"), F.col("a.key") == F.col("b.key"),
                      F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sim_hi").alias("hi_a"),
            F.col("a.sim_lo").alias("lo_a"),
            F.col("b.sim_hi").alias("hi_b"),
            F.col("b.sim_lo").alias("lo_b"),
        )
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
        + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    )
    return cand.withColumn("hamming", hamming.cast("int")).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# N-gram Jaccard (exact, for small candidate sets or as LSH verification)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_posting_len: int | None = 1_000,
    pre_shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact k-word-shingle Jaccard over pairs that share at least one
    shingle (inverted-index join — never a cross join). Returns
    (id_a, id_b, jaccard >= threshold), id_a < id_b.

    Hot-shingle guard: a stopword-like shingle appearing in N docs
    contributes N^2 join rows; ``max_posting_len`` drops shingles whose
    posting list exceeds the cap before the join (they carry ~no
    discriminative signal, and the denominators still use the FULL shingle
    counts so jaccard stays a lower bound, slightly conservative).
    ``None`` disables the cap — exact but quadratic on hot shingles.

    ``pre_shingled`` supplies an already-shingled projection (columns
    ``id_col``, ``shingles`` — typically :func:`materialize_shingles`'s
    parquet reader, built with the SAME ``k``) covering a superset of
    ``df``'s rows; a left-semi join on ``id_col`` restricts it to ``df``,
    and in-query shingling is skipped entirely. This is how a composed
    pipeline (e.g. curation's near-dup stage over quality/exact-dedup
    survivors) reuses one corpus-wide shingle materialization instead of
    re-deriving tokenize→slice→explode per stage.
    """
    inter = shingle_pair_counts(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        max_posting_len=max_posting_len,
        pre_shingled=pre_shingled,
    )
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


def shingle_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_posting_len: int | None = 1_000,
    pre_shingled: DataFrame | None = None,
) -> DataFrame:
    """The shared inverted-index pair-count core: (id_a, id_b, n_a, n_b,
    n_inter) for every doc pair sharing >= 1 k-word shingle, id_a < id_b
    — every set-overlap metric (Jaccard, set-cosine/Ochiai, overlap
    coefficient, Dice) is a pure expression over these three integers,
    so the expensive plan (explode → posting join → one pair aggregate)
    is built once and the metric choice costs nothing."""
    if pre_shingled is not None:
        shingled = pre_shingled.select(F.col(id_col), "shingles").join(
            df.select(id_col), id_col, "left_semi"
        )
    else:
        shingled = df.select(
            F.col(id_col), word_shingles(text_col, k).alias("shingles")
        )
    postings = shingled.select(
        F.col(id_col), F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    if max_posting_len is not None:
        hot = postings.groupBy("sh").agg(F.count("*").alias("_df"))
        postings = (
            postings.join(hot, "sh")
            .filter(F.col("_df") <= max_posting_len)
            .drop("_df")
        )
    else:
        # Exchange-reuse for the self-join: pin ONE hash partitioning on
        # the join key so both aliases share a single computation of the
        # scan→shingle→explode lineage (ReusedExchange). Without it each
        # side re-derives and shuffles independently — measured 17.1s vs
        # 8.2s at sf0.1. The capped branch gets this for free from its
        # posting-count join's exchange.
        postings = postings.repartition("sh")
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )


def ngram_set_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_posting_len: int | None = 1_000,
    pre_shingled: DataFrame | None = None,
) -> DataFrame:
    """Set-cosine (Ochiai) near-dup pairs over k-word shingles:
    cos = n_inter / sqrt(n_a * n_b) — the cosine similarity of the
    BINARY shingle-incidence vectors, computed relationally from the
    shared inverted-index pair counts (:func:`shingle_pair_counts`)
    without ever materializing a vector. Complements Jaccard: cosine
    normalizes by the geometric mean of the set sizes, so a small doc
    contained in a big one scores higher than under Jaccard's
    union-denominator — the containment-tolerant member of the family.

    The threshold is a RATIONAL num/den compared in exact integers
    (cos >= t  <=>  den²·n_inter² >= num²·n_a·n_b for non-negative
    counts) — no float boundary, bit-identical keep/drop decisions on
    every engine; the reported score then spends one IEEE sqrt + one
    division + round(6), both correctly rounded, so the VALUE matches
    cross-engine too. Same 100 TB shape as Jaccard: inverted-index
    join, posting cap, one pair aggregate.
    """
    inter = shingle_pair_counts(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        max_posting_len=max_posting_len,
        pre_shingled=pre_shingled,
    )
    keep = (
        F.col("n_inter") * F.col("n_inter") * F.lit(threshold_den * threshold_den)
        >= F.col("n_a") * F.col("n_b") * F.lit(threshold_num * threshold_num)
    )
    return inter.filter(keep).select(
        "id_a",
        "id_b",
        F.round(
            F.col("n_inter")
            / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")),
            6,
        ).alias("cos6"),
    )


def contamination_check(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Benchmark decontamination: training docs sharing at least one
    k-word shingle with the EVAL corpus, with the shared-shingle count —
    the docs a training pipeline drops so eval numbers stay honest.

    Shape: inverted-index join on the shingle (train side exploded, eval
    side exploded + distinct), then a count per doc — never a doc×doc
    comparison. At 100 TB the eval side is tiny (benchmarks), so Spark
    broadcasts it and the check is one scan over the corpus; the join key
    is a shingle string with the same hot-key caveat as
    :func:`ngram_jaccard_pairs` (k>=5 makes stopword collisions rare).
    """
    train = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, k)).alias("g")
    )
    eval_grams = (
        eval_df.select(F.explode(word_shingles(text_col, k)).alias("g")).distinct()
    )
    return (
        train.join(eval_grams, "g")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (apply step)


def resolve_duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Turn near-dup PAIRS into KEEP decisions: connected components by
    min-label propagation TO A FIXPOINT, returning (doc_id, canonical_id)
    where canonical_id is the smallest id in the component (the kept doc).

    Each round does one neighbor-propagation hop PLUS one pointer-doubling
    hop (label <- label's label), so convergence is O(log diameter), then
    checks an exact changed-label count and stops at zero. ``max_iter`` is
    a safety bound only; if it is exhausted before the fixpoint the
    function RAISES rather than silently returning split components
    (2^20 doubling covers any real corpus). Every join keys on doc id
    (uniform), no skew.

    Per-round results are ``localCheckpoint``-ed, NOT merely persisted:
    ``persist`` caches the DATA but the LOGICAL plan of round i still
    nests the full plan of round i-1 (each round references the prior
    labels in three joins), so the analyzed plan more than doubles every
    round — at a dense dup graph this was observed to reach Spark's
    2 GiB plan-string ceiling and OOM an 8 GiB driver heap on the
    ``Dataset.persist`` call itself (r11 validation sweep, sf0.3
    embeddings). ``localCheckpoint`` truncates lineage to a LogicalRDD
    each round, keeping the plan O(1) across iterations; superseded
    rounds' blocks are reclaimed by Spark's ContextCleaner once the
    driver-side reference drops. Cluster note: ``localCheckpoint``
    stores blocks on executors without lineage, so an executor loss
    mid-fixpoint fails the job (retry the call) — for long jobs on
    preemptible fleets use ``setCheckpointDir`` + reliable
    ``checkpoint`` instead; the O(log diameter) round count makes the
    retry-the-call policy the right default here.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        # Evaluate the PAIR-GENERATION DAG exactly once (r17, VERDICT
        # r16 #6): edges join into every propagation round, so an
        # un-checkpointed edge set re-ran the whole upstream pipeline
        # (LSH banding + candidate self-join + cosine verification)
        # once per round per reference — the dominant cost of
        # semantic_dedup, O(rounds) redundant candidate generations.
        # Same lineage-cut rationale as the per-round labels below;
        # blocks are O(E), the same order the rounds materialize.
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.min("dst"), F.min("src")).alias("label"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        neighbor_labels = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hop = labels.join(neighbor_labels, "src", "left").select(
            "src",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("_new"),
            # the round's INPUT label rides along so the convergence
            # check below needs no join back onto the old labels (r18,
            # guide §1.2: one job per round, not two)
            F.col("label").alias("_old"),
        )
        # Pointer doubling: jump straight to the label's own label.
        ptr = hop.select(F.col("src").alias("_l"), F.col("_new").alias("_ll"))
        new_labels = (
            hop.alias("h")
            .join(ptr.alias("p"), F.col("h._new") == F.col("p._l"), "left")
            .select(
                F.col("h.src").alias("src"),
                F.least(
                    F.col("h._new"),
                    F.coalesce(F.col("p._ll"), F.col("h._new")),
                ).alias("label"),
                F.col("h._old").alias("_old"),
            )
            # Lineage MUST be cut every round, not just cached — see the
            # docstring's plan-explosion note. LAZY (r18): the changed-
            # count below is the round's first action, so ONE job both
            # materializes the checkpoint blocks and returns the count —
            # the eager form paid a separate materialization job plus a
            # join against the old labels every round.
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(
            F.col("label") != F.col("_old")
        ).count()
        labels = new_labels.select("src", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"resolve_duplicate_clusters: no fixpoint after {max_iter} "
            "doubling rounds — component structure is pathological; raise "
            "max_iter explicitly"
        )
    # One final checkpoint of the (small: one row per doc appearing in any
    # dup pair) projection so the caller holds a lineage-free result and
    # every intermediate round's blocks become ContextCleaner-reclaimable.
    return labels.select(
        F.col("src").alias("doc_id"), F.col("label").alias("canonical_id")
    ).localCheckpoint(eager=True)
