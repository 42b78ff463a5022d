"""Mergeable frequency sketches: count-min over item streams.

Companion to the cardinality sketches in ``operators/aggregates.py``
(the portable HLL register set): where HLL answers
"how many DISTINCT items", count-min answers "about how often does item
x occur" in fixed memory, with one-sided error (estimates never
undercount) and ELEMENTWISE-SUM mergeability — per-partition or per-day
sketches add up to the corpus sketch without touching raw data, the
property that makes frequency monitoring possible over a 100 TB stream
where an exact per-item count would shuffle every token.

Hashing is the repo's portable idiom (md5 hex halves — identical on
every engine), so the whole sketch matrix is exact integers and the
registered surface carries a full DuckDB oracle (see
``text_corpus_stats``'s cms sections) — same move as
``simhash_portable`` / ``hll_portable_registers``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(item, j: int, width: int):
    """Row-j bucket for an item column: first md5 half of 'j:item' as an
    unsigned 32-bit int, mod width — JVM-side, codegen, portable."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), item)), 1, 8), 16, 10
    ).cast("bigint")
    return F.pmod(h, F.lit(width)).cast("int")


def count_min_sketch(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Build the CMS matrix over the item STREAM (one increment per input
    row): returns (j, bucket, cnt) for the non-zero cells of a
    ``depth`` x ``width`` counter matrix.

    Plan shape: each row explodes to exactly ``depth`` (j, bucket) cells
    (bounded duplication) and ONE hash aggregate on the uniform
    (j, bucket) key counts them — map-side partial combine applies, so
    the shuffle moves at most depth*width rows per partition no matter
    the input size. Merging two sketches is a union + the same groupBy
    (elementwise sum): ``merge_partial_aggs(sketches, ["j", "bucket"],
    {"cnt": "sum"})``, and the pytest property pins split-merge ==
    whole-corpus equality.
    """
    item = F.col(item_col)
    cells = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"), _bucket(item, j, width).alias("bucket")
                )
                for j in range(depth)
            ])
        ).alias("cell")
    )
    return (
        cells.groupBy(
            F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    num: int = 1,
    den: int = 1000,
    by: list[str] | None = None,
) -> DataFrame:
    """Frequent items: every item whose count is >= (num/den) of the
    stream length, with the threshold compared in EXACT integer
    arithmetic (``cnt * den >= n * num`` — no float multiply, so an item
    sitting exactly on the boundary classifies identically on every
    engine).

    Plan shape: ONE hash aggregate on the item key (map-side combine
    bounds the shuffle at the distinct-item count per partition) plus a
    1-row total that BROADCASTS into the filter — the same two-job shape
    at any scale. At 100 TB the aggregate output is the vocabulary, not
    the stream; when even the vocabulary is too large to shuffle, the
    CMS path (:func:`count_min_sketch` + :func:`cms_point_estimates`)
    bounds memory at depth*width and over-approximates the candidate
    set (one-sided error: a true heavy hitter's estimate can never fall
    below threshold), which is how the registered surface pairs each
    exact hitter with its sketch estimate.

    ``by`` scopes the support threshold per group (frequent items PER
    source/day/language — the partitioned form a curation pipeline
    runs): both aggregates carry the group keys and the per-group
    totals join back on them. The totals side has one row per group;
    the join deliberately carries NO broadcast hint (an explicit hint
    is honored regardless of Spark's size estimate, so hinting here
    would let an extreme-cardinality grouping OOM the driver) — AQE
    converts it to a broadcast join at runtime for the small
    source/day/language groupings this is for, and falls back to a
    shuffle join on the same keys the counts already carry otherwise.

    Returns (*by, item, cnt, n_total).
    """
    if by:
        counts = df.groupBy(*by, F.col(item_col)).agg(
            F.count("*").cast("bigint").alias("cnt")
        )
        total = df.groupBy(*by).agg(
            F.count("*").cast("bigint").alias("n_total")
        )
        return (
            counts.join(total, list(by))
            .where(F.col("cnt") * F.lit(den) >= F.col("n_total") * F.lit(num))
            .select(*by, F.col(item_col), "cnt", "n_total")
        )
    counts = df.groupBy(F.col(item_col)).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    total = df.agg(F.count("*").cast("bigint").alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("cnt") * F.lit(den) >= F.col("n_total") * F.lit(num))
        .select(F.col(item_col), "cnt", "n_total")
    )


def _bloom_pos_sql(j: int, col_sql: str, m_bits: int) -> str:
    """SQL text for hash j's bit position: first md5 half of 'j:key' as
    an unsigned 32-bit int, mod m — the same portable hash family as
    :func:`_bucket`, emitted as SQL so probe conditions compose into one
    codegen'd boolean (pyspark's shiftright only takes a LITERAL shift
    amount, so the probe is built with SQL's variable-shift `>>`)."""
    return (
        f"pmod(CAST(conv(substring(md5(concat('{j}:', "
        f"CAST({col_sql} AS STRING))), 1, 8), 16, 10) AS BIGINT), {m_bits})"
    )


#: Practical bitmap-size ceiling for the literal-inlined probe
#: expression (ADVICE r8): the probe inlines the bitmap array once PER
#: HASH (k=5 by default) and each md5 position twice, so SQL text is
#: ~k * 22 bytes/long — at 2^18 bits (4096 longs) that is ~450 KB,
#: comfortably inside parser/codegen limits; unchecked growth at the
#: documented ~16 bits/key sizing would cross constant-pool limits on
#: big build sides. Larger builds should use Spark's own runtime bloom
#: filter (spark.sql.optimizer.runtime.bloomFilter.enabled) or split
#: the key space across several filters.
BLOOM_MAX_BITS = 1 << 18


def bloom_bits(
    df: DataFrame, key_col: str, m_bits: int = 8192, k: int = 5
) -> list[int]:
    """Build an m-bit bloom filter over ``df[key_col]`` and return it as
    ``m/64`` longs — the repo's runtime-filter primitive (the same
    design as Spark's own `spark.sql.optimizer.runtime.bloomFilter`:
    aggregate the build side into a fixed-size bitmap, ship the bitmap
    to the probe side's tasks, prefilter before the join).

    Plan shape: each build row explodes to k bit positions; ONE hash
    aggregate ORs them into at most ``m/64`` word rows (map-side
    combine applies — the shuffle moves <= m/64 rows per partition no
    matter the build-side size); the collect is control-plane bounded
    at m/64 longs (8 KiB per 2^16 bits). No false negatives by
    construction; false-positive rate ~ (1 - e^(-k*n/m))^k, so size m
    ~ 16 bits/key for <1% FPR (the caller knows its dim-side count).
    """
    if m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    if m_bits > BLOOM_MAX_BITS:
        raise ValueError(
            f"m_bits={m_bits} exceeds BLOOM_MAX_BITS={BLOOM_MAX_BITS}: the "
            "probe inlines the bitmap as a SQL literal; for larger builds "
            "use spark.sql.optimizer.runtime.bloomFilter or several filters"
        )
    pos = [
        F.expr(_bloom_pos_sql(j, key_col, m_bits)).alias(f"_p{j}")
        for j in range(k)
    ]
    cells = df.select(F.explode(F.array(*pos)).alias("pos"))
    words = cells.groupBy(
        F.expr("CAST(pos DIV 64 AS INT)").alias("word")
    ).agg(F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias("bits"))
    out = [0] * (m_bits // 64)
    for r in words.collect():
        out[r["word"]] = r["bits"]
    return out


def bloom_bits_auto(
    df: DataFrame, key_col: str, bits_per_key: int = 16, k: int = 5
) -> tuple[list[int], int]:
    """ONE-JOB auto-sized variant of :func:`bloom_bits` (r18, guide
    §1.2 fixed costs): callers previously paid a separate ``count()``
    job just to size the bitmap, then a second pass to build it. Here
    the cells aggregate runs once at :data:`BLOOM_MAX_BITS` granularity
    and carries a per-word CELL COUNT, so a single job yields both the
    build-side key count (sum(counts) / k — every row explodes to
    exactly k cells) and the max-granularity bitmap; the bitmap then
    FOLDS driver-side onto the chosen power-of-two ``m``.

    The fold is exact, not approximate: with ``m`` a multiple of 64
    dividing ``M = BLOOM_MAX_BITS`` (both powers of two), a position
    ``p = 64*w + b`` satisfies ``p mod m = 64*(w mod (m/64)) + b`` —
    OR-ing word ``w`` into ``w mod (m/64)`` lands every bit exactly
    where :func:`bloom_bits` at that ``m`` would set it (``pmod(h, m)
    == pmod(pmod(h, M), m)`` whenever ``m`` divides ``M``), so the
    result is bit-for-bit ``bloom_bits(df, key_col, m, k)``. Sizing:
    the smallest power-of-two ``m >= bits_per_key * n`` (floor 8192,
    cap ``M``) — between ``bits_per_key`` and ``2*bits_per_key`` bits
    per key, the same <1% FPR envelope as the exact-16 sizing.
    Returns ``(bits, m)``. Driver payload is bounded at M/64 longs
    (32 KiB) regardless of build-side size.
    """
    M = BLOOM_MAX_BITS
    pos = [
        F.expr(_bloom_pos_sql(j, key_col, M)).alias(f"_p{j}")
        for j in range(k)
    ]
    cells = df.select(F.explode(F.array(*pos)).alias("pos"))
    rows = (
        cells.groupBy(F.expr("CAST(pos DIV 64 AS INT)").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))"
            ).alias("bits"),
            F.count("*").cast("bigint").alias("c"),
        )
        .collect()
    )
    n = sum(r["c"] for r in rows) // k
    m = 8192
    while m < bits_per_key * max(1, n) and m * 2 <= M:
        m *= 2
    nw = m // 64
    out = [0] * nw
    for r in rows:
        out[r["word"] % nw] |= r["bits"]
    return out, m


def bloom_might_contain(
    key_col: str, bits: list[int], k: int = 5
):
    """Probe-side predicate: True iff all k of the key's bit positions
    are set in ``bits`` (from :func:`bloom_bits` with the same m and k).

    The bitmap rides the plan as a LITERAL array (the local-mode
    equivalent of a broadcast variable — every task evaluates
    element_at against the same in-memory words): k md5s + k shifts per
    row, zero joins, zero shuffles, applied BEFORE the probe rows ever
    reach an Exchange. That ordering is the point at 100 TB: rows that
    cannot match never get shuffled, and the exact join after the
    filter removes the bounded false-positive residue.

    Expression shape (r9, ADVICE r8): the probe stays the plain AND of
    k bit tests — each md5 position TEXTUALLY appears twice (DIV 64 and
    % 64) and the bitmap literal k times, but whole-stage codegen's
    common-subexpression elimination evaluates each position once at
    runtime and the array literal is one shared reference. The
    "cleaner" single-binding rewrite via `forall(transform(...))` was
    measured 2.3x SLOWER (PERF.md r9): higher-order functions are
    CodegenFallback, so the whole filter drops to interpreted eval —
    worse than the textual duplication it saved. The real risk of the
    inlined form is SQL-text size on big bitmaps, which BLOOM_MAX_BITS
    now bounds loudly (sized for the k-fold inlining).
    """
    m_bits = 64 * len(bits)
    if m_bits > BLOOM_MAX_BITS:
        raise ValueError(
            f"bitmap of {m_bits} bits exceeds BLOOM_MAX_BITS="
            f"{BLOOM_MAX_BITS}; see bloom_bits"
        )
    arr = "array(" + ",".join(f"{w}L" for w in bits) + ")"
    conds = []
    for j in range(k):
        p = _bloom_pos_sql(j, key_col, m_bits)
        conds.append(
            f"(shiftright(element_at({arr}, CAST(({p}) DIV 64 AS INT) + 1),"
            f" CAST(({p}) % 64 AS INT)) & 1) = 1"
        )
    return F.expr(" AND ".join(conds))


def cms_point_estimates(
    cms: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch for each row of ``items``: estimate =
    min over rows j of the item's bucket counter (the CMS guarantee:
    estimate >= true count, overshoot bounded by collisions ~ N/width
    per row, minimized over ``depth`` independent rows).

    The sketch itself is bounded by depth*width non-zero cells — that is
    the point of a sketch — so it BROADCASTS into the probe join no
    matter how large the stream it summarizes was; a probe hitting a
    missing (all-zero) cell coalesces to 0, so never-seen items estimate
    exactly 0 rather than disappearing.
    """
    item = F.col(item_col)
    probes = items.select(
        item.alias("_item"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"), _bucket(item, j, width).alias("bucket")
                )
                for j in range(depth)
            ])
        ).alias("cell"),
    ).select("_item", F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"], "left")
        .groupBy("_item")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        )
        .select(F.col("_item").alias(item_col), "cms_estimate")
    )
