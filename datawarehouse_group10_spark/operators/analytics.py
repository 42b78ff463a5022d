"""Behavioral analytics operators over event streams: ordered funnels
and cohort retention (beyond-the-reference surface — the event-table
analytics a product team runs next to the warehouse queries; the
reference's events pipeline stops at per-day counts,
ETLMain.java:359-412 territory).

Both are pure DataFrame compositions — no Python in the row path — with
plans chosen for the 100 TB case:

- ``funnel_steps``: the greedy earliest-completion construction. Step 1's
  reach time is min(ts); step k's is the earliest step-k event STRICTLY
  AFTER step k-1's reach time. An exchange argument shows greedy is
  exact for the unwindowed ordered-sequence semantics: if any increasing
  event sequence exists, the greedy one does. Each step costs one join +
  one hash aggregate, both keyed on the SAME user column, so AQE/
  co-partitioning reuses one Exchange layout; k is the (small) number of
  funnel steps, never the data size. No per-user event collection — in
  the UNWINDOWED plan (joins + map-side-combinable aggregates) a power
  user with millions of events costs the same as anyone else. The
  WINDOWED plan's skew bound is different and documented on
  ``funnel_steps`` itself (measured under a 10%-of-all-events power
  user at sf3.0; numbers in PERF.md r12).
- ``cohort_retention``: two hash aggregates (first-activity per user,
  distinct user-period activity) joined on the user key, then one
  aggregate on (cohort, offset). All shuffle keys are uniform (user id,
  then cohort period) — no skew surface at 100 TB.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "funnel_steps",
    "cohort_retention",
    "path_transitions",
    "rolling_active_users",
]


def funnel_steps(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: float | None = None,
) -> DataFrame:
    """Ordered (strict-sequence) funnel: a user reaches step k iff events
    of types ``steps[0..k-1]`` exist at strictly increasing timestamps —
    and, when ``within_seconds`` is set, every consecutive gap is at most
    that long.

    Returns one row per step:
    ``(step, step_name, n_users, conv_from_prev, conv_from_first)`` with
    conversions as double ratios (NULL-safe: 0-user denominators yield
    NULL).

    Two exact plans, picked by ``within_seconds``:

    - **Unwindowed** (None): greedy earliest-completion (see module
      docstring) — k joins + aggregates on the user key.
    - **Windowed**: greedy is NOT exact under gap constraints (a later
      step-1 event can convert where the earliest one cannot), and
      engines like ClickHouse's ``windowFunnel`` accept that
      approximation. The exact construction here is a *good-event
      ladder*: a step-k event is good iff SOME good step-(k-1) event
      lies strictly before it and within the gap — a monotone
      reachability condition, so one union + one per-user window pass
      per step (MAX of good-previous timestamps over preceding rows,
      ties ordered so equal timestamps never qualify) decides every
      event exactly. k-1 shuffles on the user key, no per-user sequence
      collection, no quadratic step-pair join.

    Skew bound of the windowed plan (r12, VERDICT r11 #4): each ladder
    pass sorts ONE user's rows inside one task — AQE's skew split
    applies to joins, not windows, so a power user is a genuine
    straggler surface. The bound that keeps it benign: pass i's window
    input is only that user's events of the TWO types involved
    (``steps[i-1]``/``steps[i]`` — the union is filtered before the
    shuffle), so a user owning fraction f of a corpus with T event
    types costs one task ~O(f*N*2/T * log(...)) per pass, not f*N.
    Measured at sf3.0 with a synthetic user owning 10% of ALL events
    (PERF.md r12): the hot task stays
    within single-digit multiples of the stage median and a low share
    of stage wall-clock. For a user so hot that even its two-type
    slice dominates a stage, pre-aggregate duplicates per (_u, _n,
    _tag) before the window — the running-MAX ladder only needs
    distinct timestamps.
    """
    if not steps:
        raise ValueError("funnel_steps: need at least one step")
    ev = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        F.col(type_col).alias("_ty"),
    )
    if within_seconds is None:
        reach = (
            ev.filter(F.col("_ty") == steps[0])
            .groupBy("_u")
            .agg(F.min("_ts").alias("_t1"))
        )
        for i, step in enumerate(steps[1:], start=2):
            prev = f"_t{i - 1}"
            step_ev = ev.filter(F.col("_ty") == step).select("_u", "_ts")
            # Left join keeps users stalled at step i-1 (their _t{i} is
            # NULL); the carried _t columns are functionally dependent on
            # _u, so the groupBy re-aggregates on the same key layout.
            reach = (
                reach.join(step_ev, "_u", "left")
                .groupBy("_u", *[f"_t{j}" for j in range(1, i)])
                .agg(
                    F.min(
                        F.when(F.col("_ts") > F.col(prev), F.col("_ts"))
                    ).alias(f"_t{i}")
                )
            )
        counts = reach.agg(
            *[
                F.count(f"_t{i}").cast("bigint").alias(f"_n{i}")
                for i in range(1, len(steps) + 1)
            ]
        )
        rows = counts.selectExpr(
            "stack({n}, {args}) as (step, step_name, n_users)".format(
                n=len(steps),
                args=", ".join(
                    f"{i}, '{s}', _n{i}" for i, s in enumerate(steps, start=1)
                ),
            )
        )
    else:
        is_ts = dict(ev.dtypes)["_ts"].startswith("timestamp")
        # cast("timestamp") lifts TIMESTAMP_NTZ (which unix_micros
        # rejects) at the session TZ; only differences are used, so any
        # fixed offset cancels.
        num = (
            F.unix_micros(F.col("_ts").cast("timestamp"))
            if is_ts
            else F.col("_ts").cast("double")
        )
        gap = (
            int(within_seconds * 1_000_000) if is_ts else float(within_seconds)
        )
        good = ev.filter(F.col("_ty") == steps[0]).select(
            "_u", num.alias("_n")
        )
        parts = [
            good.agg(
                F.count_distinct("_u").cast("bigint").alias("n_users")
            ).select(
                F.lit(1).alias("step"),
                F.lit(steps[0]).alias("step_name"),
                "n_users",
            )
        ]
        for i, step in enumerate(steps[1:], start=2):
            cur = ev.filter(F.col("_ty") == step).select("_u", num.alias("_n"))
            # tag 0 = candidate step-i event, tag 1 = good step-(i-1)
            # event; ordering by (_n, tag) puts an equal-timestamp good
            # prev AFTER the candidate, so strictness is structural.
            merged = cur.withColumn("_tag", F.lit(0)).withColumn(
                "_pn", F.lit(None).cast("bigint" if is_ts else "double")
            ).unionByName(
                good.withColumn("_tag", F.lit(1)).withColumn("_pn", F.col("_n"))
            )
            w = (
                Window.partitionBy("_u")
                .orderBy("_n", "_tag")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            good = (
                merged.withColumn("_lastp", F.max("_pn").over(w))
                .filter(
                    (F.col("_tag") == 0)
                    & F.col("_lastp").isNotNull()
                    & (F.col("_n") - F.col("_lastp") <= F.lit(gap))
                )
                .select("_u", "_n")
            )
            parts.append(
                good.agg(
                    F.count_distinct("_u").cast("bigint").alias("n_users")
                ).select(
                    F.lit(i).alias("step"),
                    F.lit(step).alias("step_name"),
                    "n_users",
                )
            )
        rows = parts[0]
        for p in parts[1:]:
            rows = rows.unionByName(p)
    # The summary is a handful of rows (one per step): the single-partition
    # window below is driver-trivial by construction.
    w = Window.orderBy("step")
    prev_n = F.lag("n_users").over(w)
    first_n = F.first("n_users").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rows.select(
        "step",
        "step_name",
        "n_users",
        F.when(prev_n > 0, F.col("n_users") / prev_n)
        .otherwise(F.lit(None))
        .cast("double")
        .alias("conv_from_prev"),
        F.when(first_n > 0, F.col("n_users") / first_n)
        .otherwise(F.lit(None))
        .cast("double")
        .alias("conv_from_first"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention triangle: users are cohorted by the period of
    their first event; a cohort's offset-k cell counts the cohort's users
    active k periods later.

    Returns ``(cohort, offset, n_users, cohort_size, retention)`` —
    ``cohort`` is the period-start date, ``offset`` an int >= 0,
    ``retention`` a double ratio. ``granularity`` is any unit
    ``date_trunc`` accepts with a fixed day width here: 'day' or 'week'
    (month offsets would need months_between; weeks keep the offset
    arithmetic exact integer days / 7 on both engines).
    """
    if granularity not in ("day", "week"):
        raise ValueError("cohort_retention: granularity must be day|week")
    width = 1 if granularity == "day" else 7
    period = lambda c: F.to_date(F.date_trunc(granularity, c))  # noqa: E731
    firsts = (
        events.groupBy(F.col(user_col).alias("_u"))
        .agg(F.min(ts_col).alias("_first_ts"))
        .select("_u", period("_first_ts").alias("cohort"))
    )
    activity = events.select(
        F.col(user_col).alias("_u"), period(ts_col).alias("_p")
    ).distinct()
    cells = (
        activity.join(firsts, "_u")
        .groupBy(
            "cohort",
            (F.datediff("_p", "cohort") / width).cast("int").alias("offset"),
        )
        .agg(F.count_distinct("_u").cast("bigint").alias("n_users"))
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    return cells.join(sizes, "cohort").select(
        "cohort",
        "offset",
        "n_users",
        "cohort_size",
        (F.col("n_users") / F.col("cohort_size"))
        .cast("double")
        .alias("retention"),
    )


def path_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str | None = None,
) -> DataFrame:
    """User-path transition edges (the Sankey / next-event surface):
    per (src, dst) consecutive-event pair, the count and the conditional
    probability p = n / sum(n) over the same src.

    One per-user window pass (lag on the user key) + one hash aggregate
    + one src-keyed window for the denominator. ``id_col`` breaks
    timestamp ties deterministically; pass the event id whenever
    duplicates are possible."""
    order = [F.col(ts_col)] + ([F.col(id_col)] if id_col else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    edges = (
        events.withColumn("_prev", F.lag(type_col).over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("src"), F.col(type_col).alias("dst"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    denom = Window.partitionBy("src")
    return edges.select(
        "src",
        "dst",
        "n",
        (F.col("n") / F.sum("n").over(denom)).cast("double").alias("p"),
    )


def rolling_active_users(
    events: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Exact trailing-window distinct actives (DAU/WAU-style): for each
    day, the count of distinct users with >= 1 event in the preceding
    ``window_days`` days (inclusive). Distinct-count cannot ride a
    window frame, so each (user, day) contribution is EXPLODED onto the
    <= window_days future days it covers and one hash aggregate counts
    distinct users per day — the standard scale shape (shuffle key =
    calendar day, uniform; blow-up factor = window_days, bounded).
    Days past the corpus' max date are clipped; days where no user was
    active in the window don't appear (inner semantics)."""
    ud = events.select(
        F.col(user_col).alias("_u"), F.to_date(ts_col).alias("_d")
    ).distinct()
    max_d = ud.agg(F.max("_d").alias("_maxd"))
    return (
        ud.select(
            "_u",
            F.explode(
                F.sequence(
                    F.col("_d"), F.date_add("_d", int(window_days) - 1)
                )
            ).alias("day"),
        )
        .crossJoin(F.broadcast(max_d))
        .filter(F.col("day") <= F.col("_maxd"))
        .groupBy("day")
        .agg(F.count_distinct("_u").cast("bigint").alias("n_active"))
    )
