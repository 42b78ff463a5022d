"""Aggregation operators (SURVEY.md section 2.4, A1-A6 and the mart queries
Q2/Q3 from section 2.8).

All are single groupBy/agg passes — Spark's partial (map-side) + final hash
aggregation replaces the reference's driver-heap counting maps
(ETLMain.java:363-368) and the JPQL scalar subqueries
(Backend/.../MartRepository.java:14-33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType


def draws_per_date(transform_df: DataFrame, date_col: str = "full_date") -> DataFrame:
    """A1: rows per draw date — the reference's totalDrawsPerDate map
    (ETLMain.java:363-368). Counts ALL transform rows per date including
    intra-date duplicate numbers (SURVEY 2.7.2)."""
    return transform_df.groupBy(date_col).agg(F.count("*").cast("int").alias("total_draws"))


def reciprocal_probability(total_draws_col: str = "total_draws") -> F.Column:
    """A2: probability_value = 1 / total_draws as an exact decimal
    (ETLMain.java:392 uses BigDecimal)."""
    return (
        F.lit(1).cast(DecimalType(10, 6)) / F.col(total_draws_col)
    ).cast(DecimalType(10, 6))


def last_appearance(fact_like: DataFrame, key: str, date_col: str = "full_date") -> DataFrame:
    """A3: per-key max date — dim_number.last_appeared_date maintenance
    (ETLMain.java:419-429) as one agg instead of a running map + UPDATE."""
    return fact_like.groupBy(key).agg(F.max(date_col).alias("last_appeared_date"))


def mart_statistics(mart: DataFrame) -> DataFrame:
    """A5/Q2: the /mart/statistic endpoint as ONE single-row aggregate.

    Reference issues four sequential JPQL queries with scalar subqueries
    (MartRepository.java:14-33); here it is one pass with max_by/min_by.
    Ties broken deterministically by lowest number_value (the reference's
    single-int contract would throw on ties — SURVEY 2.8 note), implemented
    by max/min over a (count, -number) struct ordering.
    """
    # Deterministic argmax: order by (total_occurrences, number_value DESC)
    # so ties pick the LOWEST number_value; argmin symmetric.
    num_int = F.col("number_value").try_cast("int")
    return mart.agg(
        F.max("total_draws").cast("int").alias("total_occurrences"),
        F.max(F.struct(F.col("total_occurrences"), (-num_int).alias("neg")))["neg"]
        .cast("int").alias("most_number_neg"),
        F.min(F.struct(F.col("total_occurrences"), num_int.alias("num")))["num"]
        .cast("int").alias("least_number"),
        F.max("last_appeared_date").alias("last_update"),
    ).select(
        F.col("total_occurrences"),
        (-F.col("most_number_neg")).cast("int").alias("most_number"),
        F.col("least_number"),
        F.col("last_update"),
    )


def profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """One-pass column profiling: per column, row/null/distinct counts and
    min/max rendered as strings. The whole profile is ONE aggregate job
    (all statistics computed together), then pivoted to one row per
    column driver-side — standard data-quality sweep for arbitrary
    tables.

    Distinct counts are exact here; swap in approx_count_distinct for a
    100 TB profile (same plan shape, constant memory).
    """
    cols = cols or df.columns
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).cast("bigint").alias(f"{c}__nonnull"),
            F.countDistinct(F.col(c)).cast("bigint").alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(F.count(F.lit(1)).cast("bigint").alias("__total"), *aggs).first()
    spark = df.sparkSession
    out = [
        (
            c,
            row["__total"],
            row["__total"] - row[f"{c}__nonnull"],
            row[f"{c}__distinct"],
            row[f"{c}__min"],
            row[f"{c}__max"],
        )
        for c in cols
    ]
    return spark.createDataFrame(
        out,
        "column string, n_rows bigint, n_nulls bigint, n_distinct bigint, "
        "min_value string, max_value string",
    )


def merge_partial_aggs(
    parts: list[DataFrame],
    keys: list[str],
    spec: dict[str, str],
) -> DataFrame:
    """Generalized incremental-view-maintenance merge: combine per-slice
    PARTIAL aggregate tables (same ``keys`` + one column per aggregate)
    into the aggregate over the union of slices, without rescanning any
    slice. ``spec`` maps column -> one of 'sum' | 'count' | 'min' |
    'max'. The algebra:

    - sum partials merge by SUM; **count partials also merge by SUM** —
      re-COUNTing count columns is the classic IVM bug (it counts the
      number of slices, not rows), so 'count' is accepted as
      documentation but executes as SUM;
    - min/max merge by min/max (idempotent, so overlapping slices only
      corrupt sums/counts — slices must partition the input);
    - avg is NOT directly mergeable: carry (sum, count) partials and
      derive the ratio after the merge. Same for any ratio/variance —
      merge the sufficient statistics, derive at the end (this is
      exactly what plans/medallion.py::merge_mart does for the mart's
      probability column).

    Scale shape: a union of already-aggregated (small) tables + ONE
    hash aggregate on the keys — state is output-sized, never
    input-sized. This is the generalization behind per-day/per-source
    partial rollups merging to corpus totals at 100 TB.
    """
    fns = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    bad = {c: m for c, m in spec.items() if m not in fns}
    if bad:
        raise ValueError(
            f"merge_partial_aggs: unmergeable modes {bad}; carry "
            "sufficient statistics (sum+count for avg) instead"
        )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy(*keys).agg(
        *[fns[m](F.col(c)).alias(c) for c, m in spec.items()]
    )


def hll_portable_registers(
    df: DataFrame,
    value_col: str,
    p: int = 12,
) -> DataFrame:
    """Engine-portable HLL register set: (bucket, max_rho), one row per
    NON-EMPTY register — the same make-the-sketch-bit-checkable move as
    :func:`simhash_portable`, so the sketch path carries a full driver
    oracle.

    Hash = md5 split into unsigned 32-bit halves (identical hex on every
    engine): the HIGH half mod 2^p picks the register, rho = leading-
    zero count of the LOW half + 1 (33 when the low half is 0 — a
    32-bit-truncated HLL, which only loses precision at cardinalities
    far beyond 2^32). bit-length via ``bin()`` string length, which renders
    identically (no leading zeros, '0' for 0) in Spark and DuckDB.

    Plan shape: one projection + ONE hash aggregate on the uniform
    bucket key — register maxima combine map-side exactly like any
    max(), which is the whole mergeability argument at 100 TB. The raw
    estimator over these registers divides two exactly-representable
    doubles (integer-scaled register sum <= 2^45), so even the estimate
    is cross-engine bit-stable; see the a_extended suite. HLL's
    small-range linear-counting correction needs ln() (libm-dependent,
    NOT bit-stable) and is deliberately left to the consumer — pytest
    asserts its accuracy against exact distinct counts.
    """
    m = 1 << p
    hi = F.conv(F.substring(F.md5(F.col(value_col)), 1, 8), 16, 10).cast("bigint")
    lo = F.conv(F.substring(F.md5(F.col(value_col)), 9, 8), 16, 10).cast("bigint")
    rho = F.when(lo == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(lo))
    )
    return (
        df.select(
            F.pmod(hi, F.lit(m)).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    bucket_width: float,
    qs_milli: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """One-pass histogram quantile estimation: bucket values into
    fixed-width bins, prefix-sum the bin counts, and report each
    requested quantile as the UPPER EDGE of the first bucket whose
    cumulative count reaches ceil(q*N) — the classic scan-friendly
    alternative to a full sort when "which bin" precision is enough.

    Quantile fractions arrive in THOUSANDTHS (``qs_milli=(500, 900,
    990)`` for p50/p90/p99), so the rank threshold ``cum * 1000 >= n *
    q_milli`` is exact integer arithmetic; with ``bucket_width`` chosen
    so edges are exact in binary or compared as the product
    ``(bucket+1) * bucket_width`` in BOTH engines, the whole surface is
    bit-stable cross-engine — unlike a t-digest there is no
    data-order-dependent centroid state, which is what makes this the
    oracle-checkable face of the quantile-sketch family.

    Plan shape: ONE hash aggregate on the (uniform) bucket id, a
    running-sum window over the occupied buckets (tiny by construction
    — one row per occupied bucket, guarded loud past 10M like
    interval_point_counts), and one conditional aggregate selecting
    each quantile's bucket. The stream is scanned ONCE and only bucket
    rows ever shuffle — at 100 TB this is a map-side-combined
    aggregate producing a few thousand rows, vs a full-data sort for
    exact percentiles.

    Returns (q_milli, bucket, upper_edge, cum, n_total), one row per
    requested quantile.
    """
    from pyspark.sql import Window

    hist = value_histogram(df, value_col, bucket_width)
    nb = hist.agg(
        F.count("*").alias("_nb"), F.sum("_cnt").cast("bigint").alias("_n")
    )
    wcum = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.crossJoin(F.broadcast(nb))
        .withColumn("_cum0", F.sum("_cnt").over(wcum))
        .select(
            "_bkt",
            "_n",
            F.when(F.col("_nb") <= 10_000_000, F.col("_cum0"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("histogram_quantiles: "),
                        F.col("_nb").cast("string"),
                        F.lit(
                            f" occupied buckets at bucket_width="
                            f"{bucket_width} — refusing (resize bucket_width)"
                        ),
                    )
                )
            )
            .alias("_cum"),
        )
    )
    picks = [
        F.min(
            F.when(
                F.col("_cum") * F.lit(1000) >= F.col("_n") * F.lit(q),
                F.col("_bkt"),
            )
        ).alias(f"_b{q}")
        for q in qs_milli
    ]
    row = cum.groupBy("_n").agg(*picks)
    stacked = ", ".join(f"{q}, _b{q}" for q in qs_milli)
    return row.selectExpr(
        "_n",
        f"stack({len(qs_milli)}, {stacked}) as (q_milli, bucket)",
    ).join(
        cum.select("_bkt", F.col("_cum").alias("cum")),
        F.col("bucket") == F.col("_bkt"),
    ).select(
        F.col("q_milli").cast("int").alias("q_milli"),
        "bucket",
        ((F.col("bucket") + F.lit(1)) * F.lit(bucket_width))
        .cast("double")
        .alias("upper_edge"),
        "cum",
        F.col("_n").alias("n_total"),
    )


def value_histogram(
    df: DataFrame, value_col: str, bucket_width: float
) -> DataFrame:
    """The fixed-width bin histogram (_bkt, _cnt) behind
    :func:`histogram_quantiles` — exposed separately because it is the
    MERGEABLE partial: per-partition / per-day histograms merge into the
    corpus histogram with ``merge_partial_aggs(hists, ["_bkt"],
    {"_cnt": "sum"})`` without touching raw data, the same
    partial-aggregate algebra as the count-min sketch's counters. At 100 TB
    the quantile question is answered by maintaining per-increment
    histograms and merging, never re-scanning history."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    return (
        df.select(
            F.floor(F.col(value_col) / F.lit(bucket_width))
            .cast("bigint")
            .alias("_bkt")
        )
        .groupBy("_bkt")
        .agg(F.count("*").cast("bigint").alias("_cnt"))
    )


