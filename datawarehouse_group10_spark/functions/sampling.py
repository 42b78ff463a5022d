"""Deterministic sampling / splitting / mixing for training-data
pipelines — the operations that sit between "deduped corpus" and "training
shards" at 100 TB.

Everything here is HASH-BASED, never RNG-based: a row's split is a pure
function of its id, so (a) re-runs and backfills are stable, (b) adding
data never reshuffles old rows across splits, (c) any engine can recompute
the assignment (the md5-derived bucket is the same engine-portable trick
as functions.dedup.simhash_portable), and (d) no `sample()`/`rand()`
nondeterminism ever reaches a data path. All expressions are JVM-side
column arithmetic: one scan, zero shuffles, zero Python.

At scale: a split/mixture is a FILTER, so it composes with partition
pruning and pushes work to the scan; nothing materializes an intermediate
sample.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hash_bucket", "deterministic_split", "mixture_sample"]

#: Buckets per unit of probability — percentages with 0.01% resolution.
_BUCKETS = 10_000


def hash_bucket(
    id_col: Column | str, buckets: int = _BUCKETS, salt: str = ""
) -> Column:
    """Stable bucket in [0, buckets) from the row id: first 8 hex chars of
    md5(id || salt) as an integer (engine-portable; uniform for any id type
    that casts to a stable string).

    ``salt`` decorrelates independent uses of the bucket on the same id
    column.  Without it, two hash-based decisions (e.g. a mixture filter
    followed by a train/val/test split) would share one bucket value, so
    the second decision would see only the survivors of the first — e.g.
    mixture rate 0.3 then train_frac 0.8 would yield 100% 'train'.  Each
    public operation in this module passes its own fixed salt.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    keyed = F.concat(c.cast("string"), F.lit(salt)) if salt else c.cast("string")
    return (
        F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10)
        .cast("bigint") % buckets
    )


#: Per-purpose salts: split and mixture decisions on the same id column
#: must be statistically independent (see :func:`hash_bucket`).
SPLIT_SALT = ":split"
MIXTURE_SALT = ":mix"


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_frac: float = 0.8,
    val_frac: float = 0.1,
) -> DataFrame:
    """Train/val/test assignment as a derived column (no shuffle, no RNG):
    bucket < train_frac -> 'train'; < train_frac+val_frac -> 'val';
    else 'test'. Fractions are exact to 1/10000.

    A row's split NEVER changes when the corpus grows — the property that
    keeps eval sets honest across dataset versions.  The bucket is salted
    (``SPLIT_SALT``) so the split is independent of any prior
    :func:`mixture_sample` filter on the same ids.
    """
    b = hash_bucket(id_col, salt=SPLIT_SALT)
    t = int(round(train_frac * _BUCKETS))
    v = int(round((train_frac + val_frac) * _BUCKETS))
    return df.withColumn(
        "split",
        F.when(b < t, F.lit("train")).when(b < v, F.lit("val")).otherwise(F.lit("test")),
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Dataset mixing: keep each row with its source's sampling rate
    (e.g. {'web': 0.3, 'books': 1.0}) — the up/down-weighting step every
    LLM data recipe applies before sharding. Deterministic per row
    (hash-bucketed, same guarantees as :func:`deterministic_split`);
    unknown sources fall back to ``default_rate``.

    The rate table is a literal CASE expression, not a join — mixing
    composes into the scan filter.  The bucket is salted (``MIXTURE_SALT``)
    so a downstream :func:`deterministic_split` on the survivors stays
    uniform across train/val/test.
    """
    b = hash_bucket(id_col, salt=MIXTURE_SALT)
    src = F.col(source_col)
    rate_expr: Column = F.lit(float(default_rate))
    for name, rate in sorted(rates.items()):
        rate_expr = F.when(src == name, F.lit(float(rate))).otherwise(rate_expr)
    return df.filter(b < (rate_expr * _BUCKETS).cast("bigint"))


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): select raw-corpus documents whose hashed n-gram
# distribution looks like a TARGET corpus. Bag-of-hashed-ngrams models
# p (target) and q (raw) over B buckets give every document an
# importance weight log w(x) = sum_b cnt_b(x) * (ln p_b - ln q_b);
# resampling takes the top-k of log w + Gumbel noise. Kept fully
# deterministic here: the Gumbel draw is a pure hash of the doc id
# (same md5-bucket trick as everything above), so the selected set is
# reproducible on any engine.
#
# Scale shape: features are one explode + one (id, bucket) hash
# aggregate per corpus; the bucket-weight table is at most B rows
# (broadcast); scoring is one broadcast join + one id-keyed aggregate.
# No per-doc vocabularies, no RNG, no Python in the row path.

DSIR_SALT = ":dsir"
DSIR_GUMBEL_SALT = ":dsir-g"
#: Gumbel uniform resolution: u = (bucket + 0.5) / this.
_GUMBEL_RES = 1_000_000


def _word_ngrams(col: Column | str, n: int) -> Column:
    """Raw (non-distinct, order-preserving) word n-grams; empty array when
    the document has fewer than n tokens. Distinctness would distort the
    multinomial counts DSIR models — functions.dedup.word_shingles is the
    wrong primitive here."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    sz = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(sz - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return F.when(sz >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    orders: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Per-document hashed n-gram counts: (id, bucket, cnt) with bucket =
    md5-hash of the gram into [0, buckets). Unigrams + bigrams by
    default, per the DSIR recipe."""
    parts = None
    for n in orders:
        p = df.select(
            F.col(id_col), F.explode(_word_ngrams(text_col, n)).alias("_g")
        )
        parts = p if parts is None else parts.unionByName(p)
    return (
        parts.filter(F.col("_g") != "")
        .select(
            id_col, hash_bucket("_g", buckets, salt=DSIR_SALT).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def dsir_bucket_weights(
    raw_buckets: DataFrame,
    target_buckets: DataFrame,
    buckets: int = 4096,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-bucket importance log-ratio ln p_b - ln q_b with add-lambda
    smoothing on both multinomials. Built over the raw corpus' buckets
    (a bucket no raw document touches is never scored); at most
    ``buckets`` rows, so downstream joins broadcast it."""
    r = raw_buckets.groupBy("bucket").agg(F.sum("cnt").alias("_rn"))
    t = target_buckets.groupBy("bucket").agg(F.sum("cnt").alias("_tn"))
    rt = r.agg(F.sum("_rn").alias("_rtot"))
    tt = t.agg(F.sum("_tn").alias("_ttot"))
    s = float(smoothing)
    return (
        r.join(t, "bucket", "left")
        .crossJoin(F.broadcast(rt))
        .crossJoin(F.broadcast(tt))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("_tn"), F.lit(0)).cast("double") + s)
                    / (F.col("_ttot").cast("double") + s * buckets)
                )
                - F.log(
                    (F.col("_rn").cast("double") + s)
                    / (F.col("_rtot").cast("double") + s * buckets)
                )
            ).alias("logw"),
        )
    )


def dsir_scores(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    smoothing: float = 1.0,
    orders: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Per-raw-document DSIR scores: (id, log_w, gumbel, key) where
    key = log_w + Gumbel(0,1) drawn deterministically from the doc id
    (u = (hash-bucket + 0.5) / 1e6; g = -ln(-ln u)). Top-k by key IS the
    DSIR resample; documents with no tokens produce no row."""
    rb = hashed_ngram_buckets(raw, text_col, id_col, buckets, orders)
    tb = hashed_ngram_buckets(target, text_col, id_col, buckets, orders)
    w = dsir_bucket_weights(rb, tb, buckets, smoothing)
    scored = (
        rb.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("logw")).alias("log_w"))
    )
    u = (
        hash_bucket(id_col, _GUMBEL_RES, salt=DSIR_GUMBEL_SALT).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(_GUMBEL_RES))
    g = -F.log(-F.log(u))
    return scored.select(
        id_col, "log_w", g.alias("gumbel"), (F.col("log_w") + g).alias("key")
    )
