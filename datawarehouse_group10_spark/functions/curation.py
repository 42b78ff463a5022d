"""End-to-end corpus curation: the composed pipeline a training-data
build actually runs, as ONE declarative plan.

The reference has no corpus tooling (it is a lottery ETL); this is the
LLM-data-pipeline composition of this package's own operators — the
FineWeb/RefinedWeb curation shape:

    quality gate -> exact dedup -> near-dup removal -> split + mixture

Scale shape (the reason to compose lazily instead of materializing per
stage): the quality gate is a pure projection Catalyst folds into the
scan; exact dedup is one shuffle on the uniform md5 digest; near-dup
removal is the posting-list inverted-index join (cap the posting length
at corpus scale — see :func:`ngram_jaccard_pairs`); split/mixture are
salted-md5 projections that cost nothing. Every input document is
accounted for: the output is a per-document AUDIT (which stage dropped
it, or kept + its split/mixture assignment), which is what a curation
run must publish for data governance anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import exact_dedup, ngram_jaccard_pairs
from .sampling import deterministic_split, mixture_sample
from .text import quality_features, repetition_features

#: Cached frames of the most recent curate_corpus call; released on the
#: next call (same discipline as plans.medallion.run_full_pipeline — a
#: long-lived driver holds at most one run's cached lineage).
_ACTIVE_CACHES: list[DataFrame] = []


def release_curation_caches() -> None:
    """Unpersist the cached stage frames of the last
    :func:`curate_corpus` call (automatic on the next invocation)."""
    while _ACTIVE_CACHES:
        _ACTIVE_CACHES.pop().unpersist()


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 15,
    min_stopword_ratio: float = 0.01,
    max_dup_gram_ratio: float = 0.015,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    max_posting_len: int | None = None,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.1,
    train_frac: float = 0.8,
    val_frac: float = 0.1,
    pre_shingled: DataFrame | None = None,
) -> DataFrame:
    """Run the four-stage curation pipeline; return one audit row per
    input document: (id, source, fate, split, mix_kept).

    fate is the FIRST stage that dropped the document —

    - ``'quality'``: failed the gate (too few tokens, too few stopwords
      — the Gopher-style language/quality heuristics — or too repetitive
      by duplicate-``shingle_k``-gram ratio);
    - ``'exact_dup'``: an identical text with a smaller id survived the
      quality gate (keep-first by id, one shuffle on md5(text));
    - ``'near_dup'``: an exact-verified ``shingle_k``-word-shingle
      Jaccard >= ``jaccard_threshold`` partner with a smaller id
      survived exact dedup (greedy keep-lowest-id over the pair list —
      the simple stable policy; chain-transitive cluster resolution is
      :func:`resolve_duplicate_clusters` when cluster canonicals are
      needed);
    - ``'kept'``: survived everything — only these rows carry ``split``
      (deterministic salted-md5 train/val/test) and ``mix_kept``
      (per-source mixture sampling decision), both recomputable by any
      engine, no RNG.

    ``max_posting_len`` bounds the near-dup inverted index at corpus
    scale (drops ubiquitous shingles — boilerplate — from candidate
    generation); ``None`` keeps it exact for oracle comparison.

    ``pre_shingled`` forwards a corpus-wide shingled projection (columns
    ``id_col``, ``shingles``; same ``shingle_k``) to the near-dup stage —
    see :func:`ngram_jaccard_pairs`. The stage then scans columnar
    shingles (semi-joined to the exact-dedup survivors) instead of
    re-deriving tokenize→shingle→explode from the raw text; at corpus
    scale this turns the pipeline's heaviest string pass into a reused
    artifact shared with the standalone MinHash/Jaccard queries.

    The stage-survivor frames are persisted before the fan-out (each
    feeds 2-4 consumers: the pair join's two sides, the next stage, and
    the fate audit) — the in-memory stand-in for what a deployed
    curation run does by WRITING each stage to parquet. Without it the
    quality scan + dedup lineage re-derives per consumer. Caches from
    the previous invocation release on entry
    (:func:`release_curation_caches`).
    """
    release_curation_caches()
    q = quality_features(text_col)
    r = repetition_features(text_col, n=shingle_k)
    flagged = df.select(
        F.col(id_col),
        "source",
        F.col(text_col),
        (
            (q["n_tokens"] >= min_tokens)
            & (q["stopword_ratio"] >= min_stopword_ratio)
            & (r["dup_gram_ratio"] <= max_dup_gram_ratio)
        ).alias("_q_ok"),
    ).persist()
    _ACTIVE_CACHES.append(flagged)

    quality_pass = flagged.filter(F.col("_q_ok")).select(
        id_col, "source", text_col
    )
    # keep-first per digest: a doc survives iff it IS its group's keep_id
    keepers = exact_dedup(quality_pass, text_col=text_col, id_col=id_col).select(
        F.col("keep_id").alias(id_col)
    )
    exact_surv = quality_pass.join(keepers, id_col, "left_semi").persist()
    _ACTIVE_CACHES.append(exact_surv)

    pairs = ngram_jaccard_pairs(
        exact_surv,
        k=shingle_k,
        threshold=jaccard_threshold,
        max_posting_len=max_posting_len,
        text_col=text_col,
        id_col=id_col,
        pre_shingled=pre_shingled,
    )
    near_dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    kept = exact_surv.join(near_dropped, id_col, "left_anti").persist()
    _ACTIVE_CACHES.append(kept)

    split = deterministic_split(
        kept, train_frac=train_frac, val_frac=val_frac
    ).select(id_col, "split")
    mixed = mixture_sample(
        kept, rates=rates or {}, default_rate=default_rate
    ).select(F.col(id_col), F.lit(1).alias("_mix"))
    kept_out = (
        kept.select(id_col)
        .join(split, id_col)
        .join(mixed, id_col, "left")
        .select(
            id_col,
            "split",
            F.coalesce("_mix", F.lit(0)).cast("int").alias("mix_kept"),
        )
    )

    # fate resolution: left joins against each survivor set, first-drop wins
    return (
        flagged.select(id_col, "source", "_q_ok")
        .join(exact_surv.select(id_col, F.lit(1).alias("_ex")), id_col, "left")
        .join(kept.select(id_col, F.lit(1).alias("_kp")), id_col, "left")
        .join(kept_out, id_col, "left")
        .select(
            id_col,
            "source",
            F.when(~F.col("_q_ok"), F.lit("quality"))
            .when(F.col("_ex").isNull(), F.lit("exact_dup"))
            .when(F.col("_kp").isNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("fate"),
            "split",
            "mix_kept",
        )
    )
