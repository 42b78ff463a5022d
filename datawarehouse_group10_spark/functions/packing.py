"""Sequence packing: turn a token-counted document corpus into
fixed-length training sequences — the step between "curated corpus"
(functions.sampling) and the shard writer of an LLM pretraining
pipeline.

This is the GPT-style CONCAT-AND-CHUNK packing: within each shard,
documents are laid end to end in a deterministic hash order and the
token stream is cut every ``seq_len`` tokens. Documents may straddle a
cut (they are split across two training sequences — the standard
pretraining trade: zero padding waste, boundaries recorded so the
loader can reset attention masks per document). The whole assignment
is CLOSED-FORM from one prefix sum, which is what makes it a
one-shuffle distributed operator instead of the inherently sequential
first-fit bin packing:

    cum_start(doc) = Σ tokens of hash-earlier docs in the shard
    first_seq = cum_start // L,  last_seq = (cum_end - 1) // L

Everything is hash-based, never RNG-based (same contract as
functions.sampling): re-runs are bit-stable, any engine can recompute
the layout, and the DuckDB oracle replays it exactly.

Scale shape (100 TB): ONE shuffle — the window over ``shard`` (pick
``shards`` ≈ executor count × a few; each shard sorts independently).
The explode emits one row per (document, sequence) overlap segment:
``n_docs + n_sequences`` rows total, never quadratic. Prefix sums stay
exact far past corpus scale (2^53 tokens ≈ 400× a 100 TB corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import hash_bucket
from .text import token_count

__all__ = ["pack_sequences"]

#: Salt decorrelating the packing layout from any sampling/split
#: decision on the same ids (see functions.sampling.hash_bucket).
PACK_SALT = ":pack"


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 2048,
    shards: int = 8,
) -> DataFrame:
    """Assign every document its place in the packed training stream:
    one output row per (document, sequence) overlap segment —

    - ``shard``      hash shard the document packs into;
    - ``seq_id``     sequence index WITHIN the shard (0-based);
    - ``doc_offset`` first token of the segment within the document;
    - ``seq_offset`` its position within the training sequence;
    - ``n_tokens``   segment length.

    Invariants (pinned in tests): per document, segments are
    contiguous from offset 0 and sum to the document's token count;
    per (shard, seq_id), segments tile [0, seq_len) exactly — except
    each shard's LAST sequence, which holds the ragged tail. Empty
    documents pack nowhere (no tokens to emit).

    The ordering inside a shard is md5(id || salt) with an id
    tie-break, so adding documents to the corpus only ever inserts
    into the stream — it never swaps the relative order of existing
    documents (their hashes don't change), keeping incremental
    re-packs mostly stable."""
    if seq_len < 1 or shards < 1:
        raise ValueError("pack_sequences: seq_len and shards must be >= 1")
    ordc = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(PACK_SALT))
    )
    base = df.select(
        F.col(id_col),
        token_count(text_col).alias("_n"),
        hash_bucket(id_col, buckets=shards, salt=PACK_SALT).alias(
            "_shard"
        ),
        ordc.alias("_ord"),
    ).filter(F.col("_n") > 0)
    w = (
        Window.partitionBy("_shard")
        .orderBy("_ord", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        F.col(id_col),
        "_shard",
        "_n",
        (F.sum("_n").over(w) - F.col("_n")).alias("_cstart"),
        F.sum("_n").over(w).alias("_cend"),
    )
    L = F.lit(seq_len).cast("bigint")
    # nonneg bigints: truncation == floor, and the quotients stay
    # exact (no float division)
    first = ((F.col("_cstart") - F.col("_cstart") % L) / L).cast("bigint")
    last = (
        (F.col("_cend") - 1 - (F.col("_cend") - 1) % L) / L
    ).cast("bigint")
    seg = cum.select(
        F.col(id_col),
        "_shard",
        "_cstart",
        "_cend",
        F.explode(F.sequence(first, last)).alias("_seq"),
    )
    seg_lo = F.greatest(F.col("_cstart"), F.col("_seq") * L)
    seg_hi = F.least(F.col("_cend"), (F.col("_seq") + 1) * L)
    return seg.select(
        F.col(id_col),
        F.col("_shard").cast("int").alias("shard"),
        F.col("_seq").cast("bigint").alias("seq_id"),
        (seg_lo - F.col("_cstart")).cast("bigint").alias("doc_offset"),
        (seg_lo - F.col("_seq") * L).cast("int").alias("seq_offset"),
        (seg_hi - seg_lo).cast("int").alias("n_tokens"),
    )

