"""Temporal join operators Spark lacks as built-ins: as-of join and
point-in-interval range join (the brief's named examples of operators to
re-express as compositions of DataFrame primitives rather than UDFs).

Both are pure DataFrame compositions — no Python in the row path — with
plans chosen for the 100 TB case:

- ``asof_join``: union the two sides tagged, ONE window pass per key
  ordered by time carrying the last seen right-side values forward
  (last_value ignoreNulls), keep left rows. Cost = one shuffle on the
  key + one in-partition sort — the same cost as the naive "latest prior
  row" correlated subquery would pay PER ROW.
- ``range_join``: intervals and points are both mapped onto fixed-width
  buckets (intervals explode to every bucket they cover), the join is an
  EQUI-join on the bucket id, then the exact BETWEEN predicate filters.
  A naive theta-join is a broadcast nested loop (quadratic); bucketing
  makes the shuffle key uniform and the candidate set near-exact when
  ``bucket_width`` matches the typical interval length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join", "gap_fill", "interval_point_counts"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the most recent
    right row with the same ``by`` key and ``on`` time <= the left time.

    ``right_cols`` are the right-side payload columns to carry (default:
    everything except the keys). ``tolerance_seconds`` drops matches
    older than the window (NULL payload instead).

    Tie rule: a right row at exactly the left timestamp matches (<=),
    and among equal right timestamps the last in (time, is_left) order
    wins — deterministic because the union sorts right rows before left
    rows at the same instant.
    """
    payload = right_cols or [c for c in right.columns if c not in (on, by)]
    clobbered = [c for c in payload if c in left.columns]
    if clobbered:
        raise ValueError(
            "asof_join: right payload column(s) "
            f"{clobbered} already exist on the left side and would be "
            "silently overwritten; rename them on one side or pass "
            "right_cols excluding them"
        )
    l_tag = left.withColumn("_is_left", F.lit(1)).withColumn("_rt", F.lit(None).cast("timestamp"))
    r_tag = (
        right.select(by, on, *payload)
        .withColumn("_is_left", F.lit(0))
        .withColumn("_rt", F.col(on))
    )
    # align schemas: left keeps its own columns; right contributes payload
    for c in payload:
        if c not in l_tag.columns:
            l_tag = l_tag.withColumn(c, F.lit(None).cast(r_tag.schema[c].dataType))
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(l_tag.schema[c].dataType))
    unioned = l_tag.select(*l_tag.columns).unionByName(r_tag.select(*l_tag.columns))

    # right rows sort BEFORE left rows at the same timestamp so an exact-
    # timestamp quote is visible to the trade (<= semantics).
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(on).asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned
    for c in payload:
        carried = carried.withColumn(c, F.last(F.when(F.col("_is_left") == 0, F.col(c)), ignorenulls=True).over(w))
    carried = carried.withColumn(
        "_matched_at", F.last(F.when(F.col("_is_left") == 0, F.col("_rt")), ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("_is_left") == 1)
    if tolerance_seconds is not None:
        stale = (
            F.col(on).cast("long") - F.col("_matched_at").cast("long")
        ) > tolerance_seconds
        for c in payload:
            out = out.withColumn(c, F.when(stale, F.lit(None)).otherwise(F.col(c)))
        out = out.withColumn("_matched_at", F.when(stale, F.lit(None)).otherwise(F.col("_matched_at")))
    return out.drop("_is_left", "_rt").withColumnRenamed("_matched_at", "matched_at")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lower_col: str,
    upper_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join ([lower, upper] inclusive) via bucketed
    equi-join + exact refinement. ``bucket_width`` should be on the order
    of the typical interval length: too small explodes interval
    replication, too large inflates false candidates (both only cost
    work, never correctness).

    For ``how='left'`` every point is preserved (NULL-extended when no
    interval contains it) — the BETWEEN refinement lives in the join
    condition itself, not a post-join filter, so outer semantics hold.
    ``how`` must be 'inner' or 'left': interval-preserving variants would
    emit each unmatched interval once per replicated bucket row.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"range_join: how={how!r} unsupported (intervals are "
            "bucket-replicated, so right/full outer would duplicate "
            "unmatched intervals); use 'inner' or 'left'"
        )
    b = float(bucket_width)
    pts = points.alias("p").withColumn(
        "_bkt", F.floor(F.col(point_col) / b).cast("long")
    )
    ivl = intervals.alias("i").withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.col(lower_col) / b).cast("long"),
                F.floor(F.col(upper_col) / b).cast("long"),
            )
        ),
    )
    cond = (
        (pts["_bkt"] == ivl["_bkt"])
        & (F.col(point_col) >= F.col(lower_col))
        & (F.col(point_col) <= F.col(upper_col))
    )
    joined = pts.join(ivl, on=cond, how=how)
    return joined.drop("_bkt")


def interval_point_counts(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lower_col: str,
    upper_col: str,
    id_col: str,
    bucket_width: float = 16.0,
) -> DataFrame:
    """Count points per [lower, upper] interval (inclusive) WITHOUT
    materializing the point-interval pairs: n(interval) = F(hi) − F(lo⁻)
    where F is the cumulative point count — the sweep/CDF formulation.

    Why this exists: :func:`range_join` is OUTPUT-optimal — its cost is
    the number of matching pairs, which is exactly right when the pairs
    ARE the result. But a count-per-interval query over dense intervals
    has pair cardinality ~|points|·|overlapping intervals| while its
    RESULT is only |intervals| rows; measured at sf1.0 the pair plan ran
    >500s where this sweep runs in seconds (PERF.md round-7 #11). At
    100 TB the gap is fatal: match volume grows with the product of the
    sides, the sweep with their sum.

    Plan shape (fully partitioned — no global window): union points
    (+1 weight) with interval endpoints (lo/hi markers), bucket by
    value; per-bucket running sums use a PARTITIONED window, bucket
    prefix totals are a tiny aggregate joined back broadcast; each
    endpoint's cumulative count is prefix + within-bucket running sum.
    Tie rule via an in-bucket sort tag: at equal value, 'lo' endpoints
    sort before points (F(lo⁻) excludes points == lo, keeping lo
    inclusive) and 'hi' endpoints after (hi inclusive). One row per
    interval with at least one point (matching range_join+count's inner
    semantics); subtract-join keyed on the interval id.

    Guards (r8, ADVICE/VERDICT r7): ``bucket_width`` must be > 0
    (``floor(v/0)`` would silently NULL every bucket and return an
    empty result), and the bucket-prefix window — one row per OCCUPIED
    bucket, normally tiny — raises past 10M occupied buckets instead of
    silently funnelling them through its single partition (that many
    buckets means ``bucket_width`` is mis-sized relative to the value
    range, not a real workload).
    """
    bucket_width = float(bucket_width)
    if not bucket_width > 0:
        raise ValueError(
            "interval_point_counts: bucket_width must be > 0, got "
            f"{bucket_width!r}"
        )
    pts = points.select(
        F.col(point_col).cast("double").alias("v"),
        F.lit(1).alias("_w"),
        F.lit(1).alias("_tag"),  # points between lo(0) and hi(2)
        F.lit(None).cast(intervals.schema[id_col].dataType).alias("_id"),
    )
    lo = intervals.select(
        F.col(lower_col).cast("double").alias("v"),
        F.lit(0).alias("_w"),
        F.lit(0).alias("_tag"),
        F.col(id_col).alias("_id"),
    )
    hi = intervals.select(
        F.col(upper_col).cast("double").alias("v"),
        F.lit(0).alias("_w"),
        F.lit(2).alias("_tag"),
        F.col(id_col).alias("_id"),
    )
    u = pts.unionByName(lo).unionByName(hi).withColumn(
        "_bkt", F.floor(F.col("v") / float(bucket_width)).cast("long")
    )
    wb = (
        Window.partitionBy("_bkt")
        .orderBy("v", "_tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = u.withColumn("_run", F.sum("_w").over(wb))
    bucket_totals = u.groupBy("_bkt").agg(F.sum("_w").alias("_bt"))
    # prefix over buckets: the bucket-totals frame is tiny (one row per
    # OCCUPIED value bucket), so its running sum is a cheap window and
    # the result broadcasts into the join back. The loud-failure guard
    # rides the same plan: a 1-row bucket count crossJoins in and
    # raises past 10M occupied buckets (mis-sized bucket_width) instead
    # of letting the single-partition frame absorb them silently.
    wprev = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    nb = bucket_totals.agg(F.count("*").alias("_nb"))
    prefixes = (
        bucket_totals.crossJoin(F.broadcast(nb))
        .withColumn(
            "_prefix0", F.coalesce(F.sum("_bt").over(wprev), F.lit(0))
        )
        .select(
            "_bkt",
            F.when(F.col("_nb") <= 10_000_000, F.col("_prefix0"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("interval_point_counts: "),
                        F.col("_nb").cast("string"),
                        F.lit(
                            f" occupied buckets at bucket_width="
                            f"{bucket_width} — refusing (resize bucket_width)"
                        ),
                    )
                )
            )
            .alias("_prefix"),
        )
    )
    cum = run.join(F.broadcast(prefixes), "_bkt").withColumn(
        "_cum", F.col("_run") + F.col("_prefix")
    )
    ends = cum.filter(F.col("_id").isNotNull())
    counts = ends.groupBy("_id").agg(
        (
            F.max(F.when(F.col("_tag") == 2, F.col("_cum")))
            - F.max(F.when(F.col("_tag") == 0, F.col("_cum")))
        ).cast("bigint").alias("n_points")
    )
    return counts.filter(F.col("n_points") > 0).select(
        F.col("_id").alias(id_col), "n_points"
    )


def gap_fill(
    df: DataFrame,
    time_col: str,
    keys: list[str],
    step: str = "1 hour",
    zero_cols: tuple[str, ...] = (),
    ffill_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Time-series densification: given bucketed observations (one row
    per ``keys`` + ``time_col``, e.g. ``date_trunc`` output), emit
    the COMPLETE per-key grid from each key's min to max bucket at
    ``step`` intervals. Missing buckets appear with ``is_gap = 1``,
    ``zero_cols`` coalesced to 0 (counts), every other observation
    column NULL, and each ``ffill_cols`` entry gains a ``<col>_ffill``
    companion carrying the last observed value forward
    (``last ignorenulls`` — the resample/pad step every downstream
    charting or feature-window consumer otherwise hand-rolls).

    Scale shape: one aggregate on ``keys`` for the spans, a
    ``sequence``+``explode`` grid build (row multiplication bounded by
    span/step per key — pre-bucket with ``date_trunc`` so the
    grid, not raw events, is what multiplies), one equi-join back on
    (keys, time), and one per-key window pass for the forward-fill.
    All JVM-side; no driver loops. A key whose span/step exceeds
    ~10M buckets raises rather than silently materializing a
    pathological grid (a mis-specified step, not a real series).

    Guard precision (ADVICE r7): the bucket-count estimate derives the
    step length in seconds by adding the interval to one constant
    timestamp, so CALENDAR steps ('1 month', '1 year') make the guard
    APPROXIMATE — a 28-31-day month is counted as the January length.
    The guard can therefore be off by ~10% for calendar steps (it
    still fires within the same order of magnitude, which is its job);
    fixed-duration steps ('15 minutes', '1 day') are exact.
    """
    if not keys:
        raise ValueError(
            "gap_fill: at least one key column is required — a keyless "
            "grid would forward-fill through one global window partition"
        )
    step_interval = F.expr(f"interval {step}")
    spans = df.groupBy(*keys).agg(
        F.min(time_col).alias("_t0"), F.max(time_col).alias("_t1")
    )
    # Bucket-count guard: seconds(span) / seconds(step), computed without
    # materializing the sequence. interval arithmetic: step seconds via
    # an epoch difference on a constant timestamp.
    step_secs = (
        F.to_timestamp(F.lit("2000-01-01 00:00:00")) + step_interval
    ).cast("long") - F.to_timestamp(F.lit("2000-01-01 00:00:00")).cast("long")
    spans = spans.withColumn(
        "_n",
        (F.col("_t1").cast("long") - F.col("_t0").cast("long"))
        / F.greatest(step_secs, F.lit(1)),
    )
    grid = spans.select(
        *keys,
        F.explode(
            F.when(
                F.col("_n") <= 10_000_000,
                F.sequence(F.col("_t0"), F.col("_t1"), step_interval),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("gap_fill: grid of "),
                        F.col("_n").cast("string"),
                        F.lit(f" buckets for step '{step}' — refusing"),
                    )
                )
            )
        ).alias(time_col),
    )
    obs = df.withColumn("_obs", F.lit(1))
    out = grid.join(obs, [*keys, time_col], "left")
    for c in zero_cols:
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.lit(0).cast(df.schema[c].dataType))
        )
    w = (
        Window.partitionBy(*keys)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in ffill_cols:
        out = out.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(w))
    return out.withColumn(
        "is_gap", F.col("_obs").isNull().cast("int")
    ).drop("_obs")


