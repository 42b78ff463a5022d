"""Joins / aggregates / windows operator checks (SURVEY §2.3-2.5)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from datawarehouse_group10_spark.operators.aggregates import (
    draws_per_date,
    last_appearance,
)
from datawarehouse_group10_spark.operators.joins import (
    anti_join_new_rows,
    broadcast_lookup_join,
)
from datawarehouse_group10_spark.operators.windows import (
    days_since_last,
    percent_display,
    recency_bucket,
    top_k,
)


def test_j1_inner_join_drops_misses(spark):
    fact = spark.createDataFrame([("a", 1), ("b", 2), ("zz", 3)], "k string, v int")
    dim = spark.createDataFrame([("a", 10), ("b", 20)], "k string, dv int")
    out = broadcast_lookup_join(fact, dim, "k")
    assert out.count() == 2  # 'zz' dropped like the reference's HashMap miss


def test_j2_anti_join_distinct_collapse(spark):
    incoming = spark.createDataFrame([("a",), ("a",), ("b",), ("c",)], "k string")
    existing = spark.createDataFrame([("c",)], "k string")
    out = anti_join_new_rows(incoming, existing, "k")
    assert sorted(r["k"] for r in out.collect()) == ["a", "b"]  # dup 'a' collapsed
    out2 = anti_join_new_rows(incoming, existing, "k", distinct=False)
    assert sorted(r["k"] for r in out2.collect()) == ["a", "a", "b"]


def test_a1_counts_duplicates(spark):
    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1),)] * 3 + [(dt.date(2024, 1, 2),)], "full_date date"
    )
    out = {r["full_date"]: r["total_draws"] for r in draws_per_date(df).collect()}
    assert out == {dt.date(2024, 1, 1): 3, dt.date(2024, 1, 2): 1}


def test_a3_last_appearance(spark):
    df = spark.createDataFrame(
        [("x", dt.date(2024, 1, 1)), ("x", dt.date(2024, 2, 1)), ("y", dt.date(2024, 1, 5))],
        "k string, full_date date",
    )
    out = {r["k"]: r["last_appeared_date"] for r in last_appearance(df, "k").collect()}
    assert out == {"x": dt.date(2024, 2, 1), "y": dt.date(2024, 1, 5)}


def test_w2_lag_null_first(spark):
    df = spark.createDataFrame(
        [("x", dt.date(2024, 1, 1)), ("x", dt.date(2024, 1, 4)), ("y", dt.date(2024, 1, 2))],
        "k string, full_date date",
    )
    out = days_since_last(df, key="k").collect()
    vals = {(r["k"], r["full_date"]): r["days_since_last"] for r in out}
    assert vals[("x", dt.date(2024, 1, 1))] is None
    assert vals[("x", dt.date(2024, 1, 4))] == 3
    assert vals[("y", dt.date(2024, 1, 2))] is None


def test_w4_top_k_deterministic(spark):
    df = spark.createDataFrame([(i, i % 5) for i in range(100)], "id int, v int")
    out = top_k(df, "v", 3)
    assert [r["v"] for r in out.collect()] == [4, 4, 4]


def test_w5_w6_display(spark):
    df = spark.createDataFrame([(5,), (20,), (99,)], "d int")
    buckets = [r["b"] for r in df.select(recency_bucket("d").alias("b")).collect()]
    assert buckets == ["recent", "old", "long"]
    p = spark.createDataFrame([(0.12345,)], "p double")
    assert p.select(percent_display("p").alias("x")).first()["x"] == 12.35


def test_salted_join_semantics(spark):
    from datawarehouse_group10_spark.operators.skew import salted_join

    probe = spark.createDataFrame(
        [("hot", i) for i in range(200)] + [("cold", 0)], "k string, v int"
    )
    build = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, w int")
    out = salted_join(probe, build, "k", salt_buckets=8)
    # semantics identical to a plain join: every probe row matched once
    assert out.count() == 201
    assert out.filter("k = 'cold'").first()["w"] == 2
    assert "_salt" not in out.columns


def test_salt_routing_deterministic_across_runs(spark, tmp_path):
    """VERDICT r6 #6: salt assignment is a pure function of row position —
    two runs over the same source produce identical per-row salts (so
    reducer routing reproduces for skew debugging) AND identical join
    output; duplicate rows of a hot key still spread over many salts."""
    from datawarehouse_group10_spark.operators.skew import (
        _row_salt,
        salted_join,
    )

    src = str(tmp_path / "probe.parquet")
    spark.createDataFrame(
        [("hot", i) for i in range(512)] + [("cold", 0)], "k string, v int"
    ).repartition(4).write.parquet(src)

    def salts():
        return {
            (r["k"], r["v"]): r["s"]
            for r in spark.read.parquet(src)
            .withColumn("s", _row_salt(42, 8))
            .collect()
        }

    s1, s2 = salts(), salts()
    assert s1 == s2  # identical assignment, run to run
    assert len(set(s1.values())) > 4  # the hot key spreads over buckets

    build = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, w int")
    probe = spark.read.parquet(src)
    r1 = sorted(map(tuple, salted_join(probe, build, "k", salt_buckets=8).collect()))
    r2 = sorted(map(tuple, salted_join(probe, build, "k", salt_buckets=8).collect()))
    assert r1 == r2
    assert len(r1) == 513


def test_two_phase_agg_matches_single_phase(spark):
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.operators.skew import two_phase_agg

    df = spark.createDataFrame(
        [("a", i % 7) for i in range(500)] + [("b", 1)], "k string, v int"
    )
    out = two_phase_agg(
        df, "k",
        partial_aggs={"c": F.count("*"), "s": F.sum("v")},
        final_aggs={"c": F.sum("c").cast("bigint"), "s": F.sum("s").cast("bigint")},
    )
    got = {r["k"]: (r["c"], r["s"]) for r in out.collect()}
    exact = {
        r["k"]: (r["c"], r["s"])
        for r in df.groupBy("k")
        .agg(F.count("*").cast("bigint").alias("c"), F.sum("v").cast("bigint").alias("s"))
        .collect()
    }
    assert got == exact


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from datawarehouse_group10_spark.operators.skew import (
        read_table,
        write_bucketed_table,
    )

    a = spark.createDataFrame([(i, i * 2) for i in range(100)], "k bigint, v bigint")
    b = spark.createDataFrame([(i, i * 3) for i in range(100)], "k bigint, w bigint")
    write_bucketed_table(a, "bk_a", ["k"], num_buckets=4, sort_keys=["k"])
    write_bucketed_table(b, "bk_b", ["k"], num_buckets=4, sort_keys=["k"])
    # disable broadcast so the join would normally shuffle both sides
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "bk_a").join(read_table(spark, "bk_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan          # bucketing removed the shuffle
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_partitioned_layout_prunes_statically_and_dynamically(spark):
    """The month-partitioned orders layout (r9) must prove BOTH pruning
    forms in the physical plan: a literal month predicate lands in the
    scan's PartitionFilters, and the calendar-dim join injects a
    dynamicpruningexpression (DPP) — with the runtime filesSize metric
    confirming only the matching month directories were read (the plan
    text alone can't distinguish DPP planned from DPP fallen back)."""
    import re

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark import contract

    sf = "/root/testdata/sf0.001"
    po = spark.read.parquet(contract.partitioned_orders(spark, sf))

    static = po.filter(F.col("o_month") >= "2001-01").groupBy("o_month").count()
    plan = static._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
    assert m and "o_month" in m.group(0) and "2001-01" in m.group(0)

    dim = contract.calendar_months(spark).filter(
        (F.col("cal_year") == 1997) & (F.col("cal_quarter") <= 2)
    )
    dpp = (
        po.join(dim, po["o_month"] == F.col("cal_month"))
        .groupBy("o_month")
        .count()
    )
    plan = dpp._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan

    # Runtime confirmation: bytes actually read. AQE wraps the executed
    # plan and hides leaf metrics, so measure with it off.
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def scanned_bytes(df):
            df.collect()
            leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if "parquet" in leaf.nodeName().lower():
                    it = leaf.metrics().iterator()
                    while it.hasNext():
                        kv = it.next()
                        if kv._1() == "filesSize":
                            return kv._2().value()
            raise AssertionError("no parquet scan leaf with filesSize")

        po2 = spark.read.parquet(contract.partitioned_orders(spark, sf))
        full = scanned_bytes(po2.groupBy("o_month").count())
        pruned = scanned_bytes(
            po2.join(dim, po2["o_month"] == F.col("cal_month"))
            .groupBy("o_month")
            .count()
        )
        # 6 of ~80 month dirs qualify; leave slack for per-file overhead
        # at tiny sf (footer/dictionary bytes dominate page data).
        assert pruned < 0.25 * full, (pruned, full)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)

    # and the partitioned copy preserves content exactly
    orders = contract._t(spark, sf, "orders")
    assert po.count() == orders.count()
    assert (
        po.agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))).collect()
        == orders.agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        ).collect()
    )


def test_bucketed_suite_variants_single_shuffle(spark):
    """The q21/q20 bucketed-layout variants (r8) must plan exactly ONE
    shuffle Exchange each — the final suppkey aggregate. Every fact-fact
    join and bucket-key-prefixed aggregate rides the bucket clustering.
    A second Exchange appearing means the layout stopped being used."""
    import re

    from datawarehouse_group10_spark import contract

    sf = "/root/testdata/sf0.001"
    li_ok, ord_ok, li_pk = contract.bucketed_facts(spark, sf)
    part = contract._t(spark, sf, "part")
    supp = contract._t(spark, sf, "supplier")

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # shuffle Exchanges only — BroadcastExchange is expected & fine
        return len(re.findall(r"Exchange hashpartitioning", plan))

    q21b = contract._q21_sole_late_shipper(li_ok, ord_ok, "t21")
    q20b = contract._q20_half_volume_supplier(li_pk, part, supp, "t20")
    assert shuffles(q21b) == 1
    assert shuffles(q20b) == 1
    # and the results equal the plain-layout pipelines
    li = contract._t(spark, sf, "lineitem")
    orders = contract._t(spark, sf, "orders")
    plain21 = contract._q21_sole_late_shipper(li, orders, "t21")
    plain20 = contract._q20_half_volume_supplier(li, part, supp, "t20")
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(q21b) == key(plain21)
    assert key(q20b) == key(plain20)


def test_q21_cluster_once_single_pair_exchange(spark):
    """cluster_once=True (r18) plans the q21 pipeline's three keyed
    steps — the (order, supplier) aggregate, the per-order rollup, and
    the join-back — over ONE orderkey exchange: exactly one
    hashpartitioning(l_orderkey...) Exchange beyond the final suppkey
    aggregate, where the default shape re-shuffles per step. Results
    identical in both shapes."""
    import re

    from datawarehouse_group10_spark import contract

    sf = "/root/testdata/sf0.001"
    li = contract._t(spark, sf, "lineitem")
    orders = contract._t(spark, sf, "orders")
    clustered = contract._q21_sole_late_shipper(
        li, orders, "t21", cluster_once=True
    )
    clustered.collect()  # AQE applies exchange reuse at runtime
    plan = clustered._jdf.queryExecution().executedPlan().toString()
    # executedPlan prints the final AND the initial adaptive plan; only
    # the final one reflects runtime exchange reuse
    plan = plan.split("== Initial Plan ==")[0]
    live, reused = [], []
    for line in plan.splitlines():
        m = re.search(r"Exchange hashpartitioning\([^)]*l_orderkey[^)]*\)", line)
        if m:
            (reused if "ReusedExchange" in line else live).append(m.group(0))
    assert len(live) == 1, (live, reused, plan)
    assert reused, "the ostats/join-back branch must REUSE the one exchange"
    assert not re.search(
        r"hashpartitioning\([^)]*l_suppkey[^)]*l_orderkey|"
        r"hashpartitioning\([^)]*l_orderkey[^)]*l_suppkey", plan
    ), "pair-keyed exchange should be subsumed by the orderkey clustering"
    key = lambda df: sorted(map(tuple, df.collect()))
    assert key(clustered) == key(
        contract._q21_sole_late_shipper(li, orders, "t21")
    )


def test_w7_sessionize(spark):
    import datetime as dt

    from datawarehouse_group10_spark.operators.windows import sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        ("u1", t0),                 # session 1
        ("u1", t0 + 10 * m),        # still session 1 (gap 10m <= 30m)
        ("u1", t0 + 50 * m),        # session 2 (gap 40m)
        ("u1", t0 + 55 * m),        # session 2
        ("u2", t0),                 # u2 session 1
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {(r["user_id"], r["ts"]): r["session_id"]
           for r in sessionize(df, key="user_id", gap_minutes=30).collect()}
    assert out[("u1", t0)] == 1
    assert out[("u1", t0 + 10 * m)] == 1
    assert out[("u1", t0 + 50 * m)] == 2
    assert out[("u1", t0 + 55 * m)] == 2
    assert out[("u2", t0)] == 1


def test_j6_asof_join_semantics(spark):
    import datetime as dt

    from datawarehouse_group10_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    trades = spark.createDataFrame(
        [(1, "u", t0 + 10 * s), (2, "u", t0 + 5 * s), (3, "u", t0 - 5 * s),
         (4, "v", t0)],
        "trade_id bigint, sym string, ts timestamp",
    )
    quotes = spark.createDataFrame(
        [("u", t0, 100.0), ("u", t0 + 5 * s, 105.0), ("v", t0 + 1 * s, 50.0)],
        "sym string, ts timestamp, px double",
    )
    out = {r["trade_id"]: (r["px"], r["matched_at"])
           for r in asof_join(trades, quotes, on="ts", by="sym",
                              right_cols=["px"]).collect()}
    assert out[1] == (105.0, t0 + 5 * s)   # latest prior
    assert out[2] == (105.0, t0 + 5 * s)   # exact-timestamp quote matches (<=)
    assert out[3] == (None, None)          # no prior quote
    assert out[4] == (None, None)          # v's quote is in the future
    # tolerance drops stale matches
    tol = {r["trade_id"]: r["px"]
           for r in asof_join(trades, quotes, on="ts", by="sym",
                              right_cols=["px"], tolerance_seconds=3).collect()}
    assert tol[1] is None and tol[2] == 105.0


def test_j7_range_join_boundaries(spark):
    from datawarehouse_group10_spark.operators.temporal import range_join

    points = spark.createDataFrame(
        [(1, 0.0), (2, 10.0), (3, 20.0), (4, 20.0001), (5, 55.0)],
        "pid bigint, x double",
    )
    intervals = spark.createDataFrame(
        [(100, 10.0, 20.0), (200, 0.0, 55.0)], "iid bigint, lo double, hi double"
    )
    # bucket width far smaller than the wide interval -> multi-bucket explode
    out = {(r["pid"], r["iid"]) for r in
           range_join(points, intervals, "x", "lo", "hi", bucket_width=4.0).collect()}
    assert out == {(1, 200), (2, 100), (2, 200), (3, 100), (3, 200),
                   (4, 200), (5, 200)}  # inclusive bounds, 20.0001 excluded from 100


def test_salted_join_rejects_build_preserving_outer(spark):
    import pytest as _pytest

    from datawarehouse_group10_spark.operators.skew import salted_join

    probe = spark.createDataFrame([("a", 1)], "k string, v int")
    build = spark.createDataFrame([("a", 2), ("b", 3)], "k string, w int")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError, match="salt-safe"):
            salted_join(probe, build, "k", how=how)
    # left join keeps unmatched PROBE rows exactly once
    probe2 = spark.createDataFrame([("a", 1), ("zz", 9)], "k string, v int")
    left = salted_join(probe2, build, "k", how="left").collect()
    assert len(left) == 2
    assert {r["k"] for r in left} == {"a", "zz"}


def test_j7_range_join_left_preserves_unmatched_points(spark):
    import pytest as _pytest

    from datawarehouse_group10_spark.operators.temporal import range_join

    points = spark.createDataFrame(
        [(1, 5.0), (2, 999.0)], "pid bigint, x double"
    )
    intervals = spark.createDataFrame(
        [(100, 0.0, 10.0)], "iid bigint, lo double, hi double"
    )
    out = {r["pid"]: r["iid"] for r in
           range_join(points, intervals, "x", "lo", "hi",
                      bucket_width=4.0, how="left").collect()}
    # point 2 matches nothing but survives, NULL-extended
    assert out == {1: 100, 2: None}
    with _pytest.raises(ValueError, match="unsupported"):
        range_join(points, intervals, "x", "lo", "hi",
                   bucket_width=4.0, how="right")


def test_cluster_resolution_deep_chain_converges(spark):
    """A 14-node path graph (diameter 13) must fully converge to one
    component — the old one-hop max_iter=5 silently split it."""
    from datawarehouse_group10_spark.functions.dedup import (
        resolve_duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(13)], "id_a bigint, id_b bigint, j double"
    )
    got = {r["doc_id"]: r["canonical_id"]
           for r in resolve_duplicate_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(14)}


def test_cluster_resolution_one_job_per_round(spark):
    """r18: each propagation round's convergence count IS the job that
    materializes the round's lazy localCheckpoint — the eager form paid
    a separate materialization job plus a join against the old labels.
    Pin: resolving a multi-round chain costs at most 2 jobs per round
    of the r18 shape's budget (1 count-job per round + the two initial
    eager checkpoints + the final one), and the output is unchanged."""
    from datawarehouse_group10_spark.functions.dedup import (
        resolve_duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(13)],
        "id_a bigint, id_b bigint, j double",
    )
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    got = {r["doc_id"]: r["canonical_id"]
           for r in resolve_duplicate_clusters(pairs).collect()}
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert got == {i: 0 for i in range(14)}
    # Under AQE every exchange materialization is its own job, so the
    # absolute count is AQE-shaped; what the pin protects is the r18
    # cut: the eager-checkpoint + join-count loop measured 62 jobs on
    # this graph, the fused lazy shape 46. Budget 52 = measured 46
    # plus slack, below the old shape's floor.
    assert after - before <= 52, f"{after - before} jobs for the resolve"


def test_asof_join_rejects_payload_collision(spark):
    import datetime as dt

    import pytest as _pytest

    from datawarehouse_group10_spark.operators.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, "u", t0, 7.0)], "trade_id bigint, sym string, ts timestamp, px double"
    )
    right = spark.createDataFrame(
        [("u", t0, 9.0)], "sym string, ts timestamp, px double"
    )
    with _pytest.raises(ValueError, match="px"):
        asof_join(left, right, on="ts", by="sym")


def test_tpch_q3_plan_shape(spark):
    """The physical plan the 100 TB case needs: all three filters pushed
    into the parquet scans, the dimension side broadcast (no shuffle for
    it), and the top-10 as TakeOrderedAndProject, never a global Sort."""
    from datawarehouse_group10_spark.contract import (
        q_tpch_q3_shipping_priority,
    )

    df = q_tpch_q3_shipping_priority(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan
    # no global sort node anywhere (TakeOrdered subsumes it)
    assert "\n   Sort " not in plan


def test_suite_projection_plans_are_single_stage(spark):
    """Shuffle budgets for the consolidated suites: the transform suite
    must stay a pure scan-projection (ZERO shuffles — at 100 TB an
    accidental Exchange there is a corpus-wide repartition for row-local
    arithmetic), and text_features may shuffle ONLY for its
    corpus-relative columns: the novelty document-frequency aggregate
    and per-doc rollup (r7), plus — since the r11 registry
    consolidation folded the unigram-LM columns in — the LM's token-tf
    aggregate, its 1-row total, the per-doc logprob rollup, and the
    doc_id join of that rollup (six hash Exchanges on uniform keys),
    plus the r11 DSIR columns' twelve: two hashed-gram (id, bucket)
    aggregates (raw + target corpus), their two bucket roll-ups and two
    1-row totals, the per-doc score aggregate, and the doc_id joins of
    the score row into the wide result — all uniform doc/bucket keys,
    one evaluation of the scoring subtree (the selection flag is an
    eager 1-row threshold, not a limit-join that would plan it twice).
    The row-local features must not add any."""
    import re

    from datawarehouse_group10_spark.contract import QUERIES

    def shuffles(name: str) -> list[str]:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        return [e for e in re.findall(r"(\w*Exchange) \(", plan)
                if e == "Exchange"]

    assert shuffles("t_part_suite") == []
    assert len(shuffles("text_features")) == 18


def test_w_recency_suite_window_is_partitioned(spark):
    """The lag window must partition by user_id — an unpartitioned window
    would serialize all users through one task (the exact failure the
    dim_number guard exists for, here checked on the plan)."""
    from datawarehouse_group10_spark.contract import QUERIES

    df = QUERIES["w_recency_suite"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "hashpartitioning(user_id" in plan
    # The ONLY single-partition spots allowed are the funnel sections'
    # per-step summaries (operators/analytics.py): the global count
    # aggregates and the <=4-row step window of the plain and windowed
    # funnel — bounded by len(steps), never by data. Anything beyond the
    # pinned count means an event-scale op lost its user_id partitioning.
    assert plan.count("SinglePartition") == 6


def test_scd2_apply_versions_and_as_of(spark):
    """SCD2 merge: changed attributes close + reopen, equal updates are
    idempotent, new keys insert, history is preserved, and the as-of view
    reconstructs any past state."""
    from datetime import date

    from datawarehouse_group10_spark.operators.scd import scd2_apply, scd2_as_of

    cur = spark.createDataFrame(
        [
            # key 1: open row with an older closed version
            (1, "NYC", date(2020, 1, 1), date(2021, 1, 1), False),
            (1, "LA", date(2021, 1, 1), date(9999, 12, 31), True),
            # key 2: open only
            (2, "CHI", date(2020, 6, 1), date(9999, 12, 31), True),
        ],
        "cust_id bigint, city string, valid_from date, valid_to date, is_current boolean",
    )
    upd = spark.createDataFrame(
        [
            (1, "SF", date(2022, 3, 1)),     # change -> close + reopen
            (1, "SEA", date(2022, 2, 1)),    # older intra-batch update: ignored
            (2, "CHI", date(2022, 3, 1)),    # equal -> untouched
            (3, "BOS", date(2022, 3, 1)),    # new key -> insert
        ],
        "cust_id bigint, city string, effective_date date",
    )
    out = scd2_apply(cur, upd, key_cols=["cust_id"], tracked_cols=["city"])
    rows = {
        (r["cust_id"], r["city"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in out.collect()
    }
    assert rows == {
        (1, "NYC", "2020-01-01", "2021-01-01", False),
        (1, "LA", "2021-01-01", "2022-03-01", False),
        (1, "SF", "2022-03-01", "9999-12-31", True),
        (2, "CHI", "2020-06-01", "9999-12-31", True),
        (3, "BOS", "2022-03-01", "9999-12-31", True),
    }
    # idempotent: re-applying the same batch changes nothing
    again = scd2_apply(out, upd, key_cols=["cust_id"], tracked_cols=["city"])
    assert {tuple(map(str, r)) for r in again.collect()} == {
        tuple(map(str, r)) for r in out.collect()
    }
    # as-of reconstruction
    asof = {
        (r["cust_id"], r["city"])
        for r in scd2_as_of(out, "2021-06-01").collect()
    }
    assert asof == {(1, "LA"), (2, "CHI")}


def test_tpch_suites_and_paragraph_dedup_plan_shapes(spark):
    """Scale-shape pins for the round-4 additions:
    - tpch_scalar_suite: the part side of q14/q17/q19 broadcasts (no
      fact-side shuffle for a 2k-row dim) and nothing degenerates to a
      cartesian product.
    - tpch_grouped_suite: q4's EXISTS plans as a LeftSemi join, not a
      full join + dedup.
    - dedup_paragraph: exactly the two shuffles the algorithm needs
      (segment-hash window + per-doc regroup) — an extra Exchange here
      would repartition the whole corpus at 100 TB."""
    from datawarehouse_group10_spark.contract import QUERIES

    def plan_of(name):
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )

    scalar = plan_of("tpch_scalar_suite")
    assert "BroadcastHashJoin" in scalar
    assert "CartesianProduct" not in scalar

    grouped = plan_of("tpch_grouped_suite")
    assert "LeftSemi" in grouped
    assert "CartesianProduct" not in grouped

    import re

    para = plan_of("dedup_paragraph")
    # TWO surfaces since r13, TWO hash exchanges each: 'para' shuffles
    # on the md5 segment key (first-occurrence window) + doc_id
    # (regroup); 'spans' on the md5 gram key (first-occurrence window)
    # + doc_id (island merge / interval aggregate / join back all
    # REUSE that one doc_id partitioning — a fifth HASH exchange would
    # mean the span pipeline re-shuffles the corpus). AQE may add
    # AQEShuffleRead nodes but no extra hash exchange. r18: the spans
    # half additionally ROUND-ROBIN-spreads a one-split fixture scan
    # across cores (contract._docs_spread — size-guarded to never
    # fire on a corpus big enough to split naturally), so RoundRobin
    # exchanges of the tiny input are sanctioned; the protected
    # invariant is the HASH exchange count.
    assert len(re.findall(r"hashpartitioning\(", para)) == 4, para
    assert len(re.findall(r"RoundRobinPartitioning\(", para)) <= 2, para

    # j7's sweep plan (r7 scale fix): the count-per-interval query must
    # contain NO SortMergeJoin — the pair-materializing range_join plan
    # that measured >500s at sf1.0 would reappear as one. The only join
    # is the broadcast of the tiny bucket-prefix frame.
    j7 = plan_of("j7_range_join")
    assert "SortMergeJoin" not in j7, j7
    assert "BroadcastHashJoin" in j7, j7


def test_hll_portable_registers_estimate_and_determinism(spark):
    """The portable (md5-based, driver-oracle-checkable) HLL register set:
    the raw estimator lands within the p=12 error envelope of the exact
    distinct count, and the register set is IDENTICAL regardless of input
    partitioning (register maxima are order/partition-independent — the
    mergeability property the sketch family exists for)."""
    from datawarehouse_group10_spark.operators.aggregates import (
        hll_portable_registers,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = docs.select("text").distinct().count()

    regs = hll_portable_registers(docs, "text", p=12).collect()
    present = {r["bucket"]: r["max_rho"] for r in regs}
    m = 1 << 12
    s = sum(1 << (33 - mr) for mr in present.values()) + (m - len(present)) * (
        1 << 33
    )
    num = (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 * 8589934592.0
    est_raw = num / float(s)
    # With n << m the raw estimator sits in HLL's documented small-range
    # regime; the consumer-side linear-counting correction (engine-local
    # ln(), deliberately NOT in the cross-engine surface) must land within
    # the envelope. est_raw itself is asserted > n as a sanity floor.
    import math

    empty = m - len(present)
    est = (
        m * math.log(m / empty) if (est_raw <= 2.5 * m and empty > 0) else est_raw
    )
    assert abs(est - exact) <= max(10, 0.05 * exact), (est, exact)
    assert est_raw >= exact, (est_raw, exact)

    regs2 = hll_portable_registers(docs.repartition(13), "text", p=12).collect()
    assert {r["bucket"]: r["max_rho"] for r in regs2} == present


def test_interval_point_counts_equals_pair_join(spark):
    """The sweep/CDF interval counter returns EXACTLY range_join+count
    (inner semantics: only intervals containing >=1 point), including
    boundary inclusivity at lo and hi — without materializing pairs.
    This is the scale fix behind q_j7_range_join (pair plan measured
    >500s at sf1.0; the sweep runs in seconds)."""
    from datawarehouse_group10_spark.operators.temporal import (
        interval_point_counts,
        range_join,
    )

    sf = "/root/testdata/sf0.01"
    points = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id", "value"
    )
    intervals = spark.read.parquet(f"{sf}/part.parquet").select(
        "p_partkey",
        (F.col("p_size") * 5.0).alias("lo"),
        (F.col("p_size") * 5.0 + F.col("p_size")).alias("hi"),
    )
    pair = (
        range_join(points, intervals, "value", "lo", "hi", bucket_width=16.0)
        .groupBy("p_partkey")
        .agg(F.count("*").cast("bigint").alias("n_points"))
    )
    sweep = interval_point_counts(
        points, intervals, "value", "lo", "hi", "p_partkey", bucket_width=16.0
    )
    as_map = lambda df: {r["p_partkey"]: r["n_points"] for r in df.collect()}
    assert as_map(sweep) == as_map(pair)

    # boundary inclusivity on a hand-built case: points exactly at lo
    # and hi are counted
    pts = spark.createDataFrame([(1, 5.0), (2, 10.0), (3, 10.5)], "id bigint, v double")
    ivl = spark.createDataFrame([(7, 5.0, 10.0)], "k bigint, lo double, hi double")
    got = interval_point_counts(pts, ivl, "v", "lo", "hi", "k", bucket_width=4.0).first()
    assert (got["k"], got["n_points"]) == (7, 2)


def test_merge_partial_aggs_equals_whole_input_aggregate(spark):
    """IVM merge algebra: per-year partial aggregates over lineitem merge
    to exactly the whole-table aggregate — sums/counts add (COUNT
    re-merged by SUM, the classic bug), min/max re-min/re-max, and avg
    derived from merged (sum, count) partials matches the direct avg."""
    from datawarehouse_group10_spark.operators.aggregates import (
        merge_partial_aggs,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_returnflag",
        F.year(F.to_date("l_shipdate")).alias("_y"),
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        "l_extendedprice",
    )

    def agg(df):
        return df.groupBy("l_returnflag").agg(
            F.sum("q").alias("sum_q"),
            F.count("*").cast("bigint").alias("n"),
            F.min("l_extendedprice").alias("min_p"),
            F.max("l_extendedprice").alias("max_p"),
        )

    years = [r["_y"] for r in li.select("_y").distinct().collect()]
    parts = [agg(li.filter(F.col("_y") == y)) for y in years]
    merged = merge_partial_aggs(
        parts,
        ["l_returnflag"],
        {"sum_q": "sum", "n": "count", "min_p": "min", "max_p": "max"},
    )
    whole = agg(li)
    as_map = lambda df: {
        r["l_returnflag"]: (r["sum_q"], r["n"], r["min_p"], r["max_p"])
        for r in df.collect()
    }
    assert as_map(merged) == as_map(whole)

    direct_avg = {
        r["l_returnflag"]: r["a"]
        for r in li.groupBy("l_returnflag").agg(F.avg("q").alias("a")).collect()
    }
    derived = {
        r["l_returnflag"]: float(r["sum_q"]) / r["n"] for r in merged.collect()
    }
    for k, v in direct_avg.items():
        # F.avg over decimal(18,2) yields decimal scale 6 — compare at
        # that rounding granularity.
        assert abs(derived[k] - float(v)) < 5e-7, k

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unmergeable"):
        merge_partial_aggs(parts, ["l_returnflag"], {"sum_q": "avg"})


def test_expectations_null_unique_and_referential_semantics(spark):
    """Quality expectations: a NULL rule outcome counts as a violation
    (an expectation that cannot be established is not met), uniqueness
    counts duplicate keys, and NULL foreign keys are orphans."""
    from datawarehouse_group10_spark.operators.quality import (
        expect_reference,
        expect_rows,
        expect_unique,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, None), (2, -1)], "k bigint, v int"
    )
    rows = {
        r["rule"]: (r["n_rows"], r["n_violations"], r["passed"])
        for r in expect_rows(
            df, {"v_pos": F.col("v") > 0, "k_small": F.col("k") < 10}
        ).collect()
    }
    assert rows["v_pos"] == (3, 2, 0)  # NULL v and -1 both violate
    assert rows["k_small"] == (3, 0, 1)

    uq = expect_unique(df, ["k"]).first()
    assert (uq["n_violations"], uq["passed"]) == (1, 0)

    dim = spark.createDataFrame([(1,), (3,)], "dk bigint")
    fk = spark.createDataFrame([(1,), (2,), (None,)], "k bigint")
    ref = expect_reference(fk, "k", dim, "dk").first()
    assert (ref["n_rows"], ref["n_violations"], ref["passed"]) == (3, 2, 0)

    # Rule names are data, not SQL text (ADVICE r7): quotes and commas
    # in a name must not break the plan or leak into other rules.
    weird = "o'brien's rule, with) quotes"
    got = {
        r["rule"]: r["n_violations"]
        for r in expect_rows(df, {weird: F.col("v") > 0}).collect()
    }
    assert got == {weird: 2}


def test_interval_point_counts_guards(spark):
    """ADVICE r7: bucket_width <= 0 raises instead of silently returning
    an empty frame (floor(v/0) -> NULL buckets), and a mis-sized width
    that would occupy >10M prefix-window buckets fails loudly."""
    import pytest as _pytest

    from datawarehouse_group10_spark.operators.temporal import (
        interval_point_counts,
    )

    pts = spark.createDataFrame([(1, 5.0)], "id bigint, v double")
    ivl = spark.createDataFrame([(7, 0.0, 10.0)], "k bigint, lo double, hi double")
    for bad in (0, -1.5):
        with _pytest.raises(ValueError, match="bucket_width must be > 0"):
            interval_point_counts(
                pts, ivl, "v", "lo", "hi", "k", bucket_width=bad
            )

    # >10M OCCUPIED buckets: spread values so each lands in its own
    # bucket at a pathologically small width — the plan must refuse.
    wide = spark.range(11_000_000).select(
        F.col("id").alias("pid"), (F.col("id") * 1.0).alias("v")
    )
    ivl1 = spark.createDataFrame(
        [(1, 0.0, 11_000_000.0)], "k bigint, lo double, hi double"
    )
    with _pytest.raises(Exception, match="occupied buckets"):
        interval_point_counts(
            wide, ivl1, "v", "lo", "hi", "k", bucket_width=1.0
        ).collect()


def test_snapshot_diff_cdc_semantics(spark):
    """snapshot_diff: unchanged keys are dropped (including NULL==NULL
    tracked values — null-safe compare), inserts/deletes/updates are
    classified, and changed_cols names exactly the differing columns."""
    from datawarehouse_group10_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", None), (2, "b", 10), (3, "c", 30), (4, None, 40)],
        "k bigint, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", None), (2, "B", 10), (4, None, 41), (5, "e", 50)],
        "k bigint, s string, v int",
    )
    got = {
        r["k"]: (r["change"], tuple(r["changed_cols"]), r["old_s"], r["new_s"])
        for r in snapshot_diff(old, new, ["k"]).collect()
    }
    assert 1 not in got  # unchanged, NULL v on both sides
    assert got[2] == ("update", ("s",), "b", "B")
    assert got[3][0] == "delete"
    assert got[4] == ("update", ("v",), None, None)
    assert got[5][0] == "insert"
    assert set(got) == {2, 3, 4, 5}


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustered writes: a 10%-range predicate on EITHER z column
    overlaps at most half the files (footer min/max stats), while the
    1-D-sorted baseline layout reads EVERY file for the non-leading
    column — the multi-dimensional locality the layout exists for. Row
    fidelity across the rewrite is exact."""
    from datawarehouse_group10_spark.sources.layout import (
        file_prune_fraction,
        write_zordered,
    )

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    omin, omax = li.agg(F.min("l_orderkey"), F.max("l_orderkey")).first()
    pmin, pmax = li.agg(F.min("l_partkey"), F.max("l_partkey")).first()
    zdir, sdir = str(tmp_path / "zord"), str(tmp_path / "sort1d")
    write_zordered(li, zdir, ["l_orderkey", "l_partkey"], n_files=16, bits=8)
    (
        li.repartitionByRange(16, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    ow, pw = (omax - omin) * 0.1, (pmax - pmin) * 0.1
    z_by_o = file_prune_fraction(zdir, "l_orderkey", omin + ow, omin + 2 * ow)
    z_by_p = file_prune_fraction(zdir, "l_partkey", pmin + pw, pmin + 2 * pw)
    s_by_o = file_prune_fraction(sdir, "l_orderkey", omin + ow, omin + 2 * ow)
    s_by_p = file_prune_fraction(sdir, "l_partkey", pmin + pw, pmin + 2 * pw)
    assert z_by_o <= 0.5 and z_by_p <= 0.5, (z_by_o, z_by_p)
    assert s_by_o <= 0.25  # 1-D sort prunes its leading column best...
    assert s_by_p == 1.0   # ...and not at all on the other dimension

    assert spark.read.parquet(zdir).count() == li.count()
    assert (
        spark.read.parquet(zdir)
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
        .first()[0]
        == li.agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))).first()[0]
    )


def test_count_min_sketch_merge_and_one_sided_error(spark):
    """CMS invariants on the real corpus tokens: (a) elementwise-sum
    merge of per-source sketches equals the whole-corpus sketch exactly
    (the mergeability that lets per-partition sketches roll up without
    raw data); (b) every point estimate >= the exact count (one-sided
    error), and a never-seen item estimates exactly 0."""
    from datawarehouse_group10_spark.functions.sketches import (
        cms_point_estimates,
        count_min_sketch,
    )
    from datawarehouse_group10_spark.operators.aggregates import merge_partial_aggs
    from datawarehouse_group10_spark.functions.text import tokens

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    stream = docs.select(
        "source", F.explode(tokens("text")).alias("t")
    ).select("source", F.lower("t").alias("t"))

    whole = count_min_sketch(stream, "t")
    halves = [
        count_min_sketch(stream.filter(F.col("source") == s), "t")
        for s, in stream.select("source").distinct().collect()
    ]
    # CMS matrices merge elementwise: the cell counters are sum partials.
    merged = merge_partial_aggs(halves, ["j", "bucket"], {"cnt": "sum"})
    as_map = lambda df: {(r["j"], r["bucket"]): r["cnt"] for r in df.collect()}
    assert as_map(merged) == as_map(whole)

    exact = {
        r["t"]: r["n"]
        for r in stream.groupBy("t").agg(F.count("*").alias("n")).collect()
    }
    some = list(exact)[:20]
    probes = spark.createDataFrame(
        [(t,) for t in some] + [("__never_seen_token__",)], "t string"
    )
    ests = {
        r["t"]: r["cms_estimate"]
        for r in cms_point_estimates(whole, probes, "t").collect()
    }
    for t in some:
        assert ests[t] >= exact[t], t
    assert ests["__never_seen_token__"] == 0


def test_gap_fill_densifies_zero_fills_and_forward_fills(spark):
    """gap_fill emits the complete per-key grid: missing buckets carry
    is_gap=1, zero_cols 0, other observation columns NULL, and the
    ffill companion the last observed value; per-key spans stay
    independent (no bleed across keys)."""
    import datetime

    import pytest as _pytest

    from datawarehouse_group10_spark.operators.temporal import gap_fill

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00", 3, 1.5),
            ("a", "2024-01-01 03:00:00", 2, 2.5),
            ("b", "2024-01-01 01:00:00", 1, 9.0),
        ],
        "k string, h string, n int, v double",
    ).withColumn("h", F.to_timestamp("h"))
    rows = {
        (r["k"], r["h"]): r
        for r in gap_fill(
            df, "h", ["k"], step="1 hour", zero_cols=("n",), ffill_cols=("v",)
        ).collect()
    }
    assert len(rows) == 5  # a: 4 hourly buckets, b: 1 — no cross-key bleed
    gap = rows[("a", datetime.datetime(2024, 1, 1, 1))]
    assert (gap["is_gap"], gap["n"], gap["v"], gap["v_ffill"]) == (1, 0, None, 1.5)
    obs = rows[("a", datetime.datetime(2024, 1, 1, 3))]
    assert (obs["is_gap"], obs["n"], obs["v_ffill"]) == (0, 2, 2.5)
    assert rows[("b", datetime.datetime(2024, 1, 1, 1))]["v_ffill"] == 9.0

    with _pytest.raises(ValueError, match="key column"):
        gap_fill(df, "h", [], step="1 hour")


def test_heavy_hitters_integer_threshold_boundary(spark):
    """heavy_hitters keeps exactly the items with cnt*den >= n*num —
    including one sitting EXACTLY on the rational boundary, the case a
    float threshold multiply could misclassify on either engine."""
    from datawarehouse_group10_spark.functions.sketches import heavy_hitters

    # n = 20 rows; threshold 2/20 = 1/10: 'on' has exactly 2 (boundary
    # keep), 'under' has 1 (drop), 'big' has 17 (keep).
    rows = [("big",)] * 17 + [("on",)] * 2 + [("under",)]
    df = spark.createDataFrame(rows, "item string")
    got = {
        r["item"]: (r["cnt"], r["n_total"])
        for r in heavy_hitters(df, "item", num=1, den=10).collect()
    }
    assert got == {"big": (17, 20), "on": (2, 20)}


def test_histogram_quantiles_matches_naive_rank(spark):
    """Each reported bucket is the first whose cumulative count reaches
    ceil(q*N), and upper_edge = (bucket+1)*width; bucket_width <= 0 is
    refused loudly."""
    import pytest as _pytest

    from datawarehouse_group10_spark.operators.aggregates import (
        histogram_quantiles,
    )

    vals = [float(v) for v in range(1, 101)]  # 1..100, width 10
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["q_milli"]: (r["bucket"], r["upper_edge"], r["cum"], r["n_total"])
        for r in histogram_quantiles(df, "v", 10.0).collect()
    }
    # bucket b holds [10b, 10b+10): v=50 -> bucket 5; cum(bucket 4)=49
    # (1..49), so p50 (rank 50) lands in bucket 5, cum 59 (1..59).
    assert got[500] == (5, 60.0, 59, 100)
    assert got[900] == (9, 100.0, 99, 100)   # rank 90 -> bucket 9 (90..99)
    assert got[990] == (9, 100.0, 99, 100)   # rank 99 -> same bucket
    with _pytest.raises(ValueError, match="bucket_width"):
        histogram_quantiles(df, "v", 0.0)


def test_bloom_filter_no_false_negatives_and_bounded_fpr(spark):
    """Every build key passes the probe (no false negatives — the
    correctness contract the oracle equality rests on); at 16 bits/key
    the false-positive rate over a disjoint probe set stays far under
    5%; and the probe plan is pure filter — zero joins, zero
    Exchanges."""
    from datawarehouse_group10_spark.functions.sketches import (
        bloom_bits,
        bloom_might_contain,
    )

    build = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    bits = bloom_bits(build, "k", m_bits=64 * ((16 * 200 + 63) // 64), k=5)
    assert build.where(bloom_might_contain("k", bits, k=5)).count() == 200

    probe = spark.createDataFrame(
        [(i,) for i in range(10_000, 14_000)], "k bigint"
    )
    fp = probe.where(bloom_might_contain("k", bits, k=5)).count()
    assert fp / 4000 < 0.05, fp

    plan = probe.where(
        bloom_might_contain("k", bits, k=5)
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_bloom_bits_auto_fold_is_bit_identical(spark):
    """bloom_bits_auto (r18): the one-job fused builder's driver-side
    fold from BLOOM_MAX_BITS granularity to the chosen power-of-two m
    must be BIT-IDENTICAL to bloom_bits built at that m directly (the
    pmod-divisibility argument), auto-size to >= bits_per_key per key,
    and keep the no-false-negative contract."""
    from datawarehouse_group10_spark.functions.sketches import (
        bloom_bits,
        bloom_bits_auto,
        bloom_might_contain,
    )

    build = spark.createDataFrame([(i,) for i in range(700)], "k bigint")
    bits, m = bloom_bits_auto(build, "k", bits_per_key=16, k=5)
    # sizing: smallest power of two >= 16*700 = 11200 -> 16384
    assert m == 16384 and len(bits) == m // 64
    assert bits == bloom_bits(build, "k", m_bits=m, k=5)
    assert build.where(bloom_might_contain("k", bits, k=5)).count() == 700
    # tiny build hits the 8192 floor
    tiny = spark.createDataFrame([(i,) for i in range(10)], "k bigint")
    _bits2, m2 = bloom_bits_auto(tiny, "k", bits_per_key=16, k=5)
    assert m2 == 8192


def test_value_histogram_split_merge_equals_whole(spark):
    """Histograms are mergeable partials: summing per-split histograms
    equals the whole-input histogram bucket-for-bucket — the algebra
    that answers quantile questions over increments without
    re-scanning history."""
    from datawarehouse_group10_spark.operators.aggregates import (
        merge_partial_aggs,
        value_histogram,
    )

    vals = [float(v % 97) * 3.7 for v in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    a = df.filter(F.col("v") < 150)
    b = df.filter(F.col("v") >= 150)
    merged = {
        (r["_bkt"], r["_cnt"])
        for r in merge_partial_aggs(
            [value_histogram(a, "v", 10.0), value_histogram(b, "v", 10.0)],
            ["_bkt"],
            {"_cnt": "sum"},
        ).collect()
    }
    whole = {
        (r["_bkt"], r["_cnt"]) for r in value_histogram(df, "v", 10.0).collect()
    }
    assert merged == whole


def test_observe_rows_matches_expect_rows_without_extra_pass(spark):
    """observe_rows rides the caller's own action (here: a write-side
    count) and reports the same n_rows/violation numbers expect_rows
    computes with its standalone aggregate."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.operators.quality import (
        expect_rows,
        observe_rows,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, -1.0), (3, None), (4, 9.5)], "id int, v double"
    )
    rules = {
        "v_nonneg": F.col("v") >= 0,      # -1.0 and NULL violate -> 2
        "id_small": F.col("id") <= 3,     # id=4 violates -> 1
    }
    observed, obs = observe_rows(df, "audit", rules)
    assert observed.count() == 4          # the action the caller runs anyway
    got = obs.get
    assert got == {"n_rows": 4, "v_nonneg": 2, "id_small": 1}

    exp = {
        r["rule"]: r["n_violations"]
        for r in expect_rows(df, rules).collect()
    }
    assert exp == {"v_nonneg": 2, "id_small": 1}


def test_heavy_hitters_per_group_and_empty_bloom(spark):
    """by= scopes the support threshold per group (an item heavy in one
    source is not dragged down by another source's volume); an
    empty-build bloom filter rejects every probe (vacuous
    no-false-negatives)."""
    from datawarehouse_group10_spark.functions.sketches import (
        bloom_bits,
        bloom_might_contain,
        heavy_hitters,
    )

    rows = (
        [("s1", "a")] * 8 + [("s1", "b")] * 2            # s1: n=10
        + [("s2", "a")] * 1 + [("s2", "c")] * 9          # s2: n=10
    )
    df = spark.createDataFrame(rows, "src string, item string")
    got = {
        (r["src"], r["item"]): (r["cnt"], r["n_total"])
        for r in heavy_hitters(df, "item", num=1, den=5, by=["src"]).collect()
    }
    # threshold 1/5 of the GROUP: s1 keeps a(8) and b(2); s2 keeps only c.
    assert got == {
        ("s1", "a"): (8, 10),
        ("s1", "b"): (2, 10),
        ("s2", "c"): (9, 10),
    }

    empty = spark.createDataFrame([], "k bigint")
    bits = bloom_bits(empty, "k", m_bits=1024, k=5)
    assert all(w == 0 for w in bits)
    probe = spark.createDataFrame([(i,) for i in range(100)], "k bigint")
    assert probe.where(bloom_might_contain("k", bits, k=5)).count() == 0


def test_overwrite_partitions_rewrites_only_touched(spark, tmp_path):
    """overwrite_partitions (r9) must replace exactly the partitions
    present in the batch: untouched sibling directories keep their
    original part files byte-for-byte (same filenames — a rewrite
    would generate new UUID part names), the touched partition's
    content is replaced (not appended), and the whole-table read-back
    equals the intended final state."""
    import glob
    import os

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.sources.layout import (
        overwrite_partitions,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"m{i % 3}", float(i)) for i in range(30)], "id bigint, m string, v double"
    )
    base.repartition("m").write.partitionBy("m").parquet(path)
    before = {
        m: sorted(glob.glob(os.path.join(path, f"m={m}", "*.parquet")))
        for m in ("m0", "m1", "m2")
    }

    # backfill partition m1 with corrected rows (v + 1000, one row dropped)
    fix = (
        base.filter((F.col("m") == "m1") & (F.col("id") != 1))
        .withColumn("v", F.col("v") + 1000)
    )
    overwrite_partitions(fix, path, "m")

    after = {
        m: sorted(glob.glob(os.path.join(path, f"m={m}", "*.parquet")))
        for m in ("m0", "m1", "m2")
    }
    assert after["m0"] == before["m0"] and after["m2"] == before["m2"]
    assert after["m1"] and after["m1"] != before["m1"]

    got = spark.read.parquet(path)
    assert got.count() == 29  # 30 - 1 dropped, NOT 30 + 9 appended
    m1v = sorted(
        r.v for r in got.filter(F.col("m") == "m1").select("v").collect()
    )
    assert all(v >= 1000 for v in m1v)
    # sibling content untouched
    assert got.filter(F.col("m") == "m0").count() == 10


def test_backfilled_orders_repairs_corruption(spark, tmp_path):
    """The staged corrupt-then-backfill lifecycle must end bit-equal to
    the plain table, and the CORRUPTION ITSELF must be visible before
    the backfill (the a_extended oracle's teeth): a corrupt load
    without the repair has fewer rows and a different decimal sum for
    the two backfill months."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark import contract

    sf = "/root/testdata/sf0.001"
    orders = contract._t(spark, sf, "orders")
    dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))

    po = spark.read.parquet(contract.backfilled_orders(spark, sf))
    assert po.count() == orders.count()
    assert po.agg(dec).collect() == orders.agg(dec).collect()

    # teeth: rebuild just the corrupt FIRST LOAD (no backfill) and show
    # it differs on the repaired months
    bad = F.date_format("o_orderdate", "yyyy-MM").isin(
        *contract._BACKFILL_MONTHS
    )
    corrupt = orders.withColumn(
        "o_totalprice",
        F.when(bad, F.col("o_totalprice") * 2).otherwise(
            F.col("o_totalprice")
        ),
    ).filter(~(bad & (F.col("o_orderkey") % 10 == 0)))
    assert corrupt.count() < orders.count()
    assert corrupt.agg(dec).collect() != orders.agg(dec).collect()


def test_composed_partition_bucket_layout(spark):
    """The composed month-partition × orderkey-bucket lineitem layout
    (r10, VERDICT r9 #6) must show BOTH physical-design wins in ONE
    plan: the month predicate lands in the scan's PartitionFilters
    (directory pruning at planning time) AND the join to the
    bucket-aligned orders table plans with ZERO pre-join shuffle — the
    single Exchange hashpartitioning is the final priority aggregate.
    Results must equal the plain-layout computation exactly."""
    import re

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark import contract

    sf = "/root/testdata/sf0.001"
    pbli = spark.table(contract.part_bucketed_lineitem(spark, sf))
    _, ord_ok, _ = contract.bucketed_facts(spark, sf)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = (
            pbli.filter(
                (F.col("l_month") >= "1997-01") & (F.col("l_month") < "1997-07")
            )
            .join(ord_ok, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("o_orderstatus") == "F")
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        assert m and "l_month" in m.group(0) and "1997-01" in m.group(0), plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
        assert "SortMergeJoin" in plan  # the bucket-aligned join form

        # content parity with the plain layout
        li = contract._t(spark, sf, "lineitem")
        orders = contract._t(spark, sf, "orders")
        plain = (
            li.withColumn(
                "l_month", F.date_format("l_shipdate", "yyyy-MM")
            )
            .filter(
                (F.col("l_month") >= "1997-01") & (F.col("l_month") < "1997-07")
            )
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .filter(F.col("o_orderstatus") == "F")
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        key = lambda df: sorted(map(tuple, df.collect()))
        assert key(q) == key(plain)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_composed_layout_warm_reattach_keeps_specs(spark):
    """A warm process re-attaches the staged composed layout via CREATE
    TABLE + MSCK REPAIR (no data scan). The re-attached table must keep
    BOTH specs: partition pruning still plans (PartitionFilters) and the
    bucket join still runs exchange-free on the bucketed side — losing
    either silently would only show up as a perf cliff at scale."""
    import re

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark import contract

    sf = "/root/testdata/sf0.001"
    name = contract.part_bucketed_lineitem(spark, sf)  # ensure staged
    spark.sql(f"DROP TABLE `{name}`")  # catalog only; LOCATION files stay
    assert not spark.catalog.tableExists(name)

    name2 = contract.part_bucketed_lineitem(spark, sf)
    assert name2 == name
    pbli = spark.table(name2)
    _, ord_ok, _ = contract.bucketed_facts(spark, sf)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = (
            pbli.filter(F.col("l_month") == "1997-03")
            .join(ord_ok, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[[^\]]*\]", plan)
        assert m and "1997-03" in m.group(0), plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # and the composed copy preserves content exactly
    li = contract._t(spark, sf, "lineitem")
    assert pbli.count() == li.count()


def test_aqe_skew_join_split_fires(spark):
    """Spark's own OptimizeSkewedJoin (r10, VERDICT r9 #4) must be shown
    FIRING, not just enabled: a hot key holding ~half the probe side
    sort-merge-joins a uniform dim with the skew thresholds scaled to
    local data sizes, and the final adaptive plan marks the join
    skew=true with more shuffle-read partitions than the static plan
    had. Session defaults keep adaptive+skewJoin on; at production
    sizes the default 256 MB threshold is crossed without tuning.

    Two deliberately-pinned subtleties (both verified by flipping them
    and watching skew=true disappear):
    - the pad must be INCOMPRESSIBLE (sha2, not a repeated literal) —
      skew detection runs on post-compression shuffle bytes, and an
      all-'x' pad lz4-compresses below any threshold;
    - forceOptimizeSkewedJoin must be on HERE because the join feeds a
      same-key groupBy: splitting the skewed partition breaks the
      join's hash-partitioning, so honoring the split costs one extra
      Exchange before the aggregate, and AQE refuses that trade by
      default. This is precisely the boundary where manual salting
      (two_phase_agg next door) stays necessary at 100 TB — AQE never
      splits a hot AGGREGATION key at all, and it only splits a hot
      JOIN key for free when no same-key stage follows."""
    from pyspark.sql import functions as F

    n = 200_000
    # ~half the rows on key 0, the rest uniform over 1..999; a fat
    # incompressible payload makes the hot partition's bytes count.
    probe = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("w")
    )
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            probe.join(dim.hint("merge"), "k")
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("w").alias("sw"))
        )
        rows = {r["k"]: (r["n"], r["sw"]) for r in q.collect()}
        # correctness: AQE splitting may only re-route, never change rows
        assert rows[0] == (n // 2, 0)
        # k=999 <- odd ids ending in 999: n/1000 rows, each w = 999 % 97
        assert rows[999] == (n // 1000, (999 % 97) * (n // 1000))
        # the FINAL adaptive plan (post-execution) shows the split
        final = q._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_partition_coalesce_fires(spark):
    """AQE partition coalescing (r11, VERDICT r10 #7) must be shown
    FIRING under session defaults, on both a standalone shape and the
    registered aqe_coalesce section of skew_salted_suite: a selective
    filter leaves the aggregate's shuffle with far less data than one
    reducer's advisory size, so the final adaptive plan reads the
    32-static-partition shuffle through `AQEShuffleRead coalesced` and
    the executed RDD has fewer partitions than
    spark.sql.shuffle.partitions. Unlike the skew split next door,
    nothing vetoes the coalesce — it is the default-on path that keeps
    reducer counts sane on filtered intermediate stages at 100 TB.
    Row values must be unchanged by the re-plan (checked against the
    unfiltered arithmetic)."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark import contract

    n_static = 32  # the session the driver/bench runs (local[32])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_static))
    try:
        # Standalone: 100k rows filtered to ~200, grouped — tiny shuffle.
        df = (
            spark.range(100_000)
            .select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
            .filter(F.col("k") % 500 == 3)
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        )
        rows = {r["k"]: r["n"] for r in df.collect()}
        assert rows == {3: 100, 503: 100}
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "coalesced" in final, final
        assert df.rdd.getNumPartitions() < n_static

        # Registered surface: the aqe_coalesce section's executed plan
        # shows the same AQEShuffleRead coalesced — no tuned confs.
        suite = contract.q_skew_salted_suite(
            spark, "/root/testdata/sf0.001"
        ).filter(F.col("surface") == "aqe_coalesce")
        assert len(suite.collect()) > 0
        final = suite._jdf.queryExecution().executedPlan().toString()
        assert "coalesced" in final, final
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_funnel_greedy_ordering(spark):
    """Ordered-funnel semantics: only strictly increasing step sequences
    count. u1 converts fully; u2 clicked BEFORE its first view (and never
    after), so it stalls at step 1; u3 has no view at all and never enters;
    u4 re-views after a click so a later click would be needed (none
    exists) — stalls at step 1."""
    from datawarehouse_group10_spark.operators.analytics import funnel_steps

    rows = [
        # u1: view@1 -> click@2 -> purchase@3
        (1, 1.0, "view"), (1, 2.0, "click"), (1, 3.0, "purchase"),
        # u2: click@1, view@2 (wrong order)
        (2, 1.0, "click"), (2, 2.0, "view"),
        # u3: click+purchase only, no view
        (3, 1.0, "click"), (3, 2.0, "purchase"),
        # u4: view@5, click@4 (click precedes first view)
        (4, 5.0, "view"), (4, 4.0, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts double, event_type string")
    out = {
        r["step_name"]: r
        for r in funnel_steps(df, ["view", "click", "purchase"]).collect()
    }
    assert out["view"]["n_users"] == 3  # u1, u2, u4
    assert out["click"]["n_users"] == 1  # only u1 clicked after its view
    assert out["purchase"]["n_users"] == 1
    assert out["view"]["conv_from_prev"] is None
    assert out["click"]["conv_from_prev"] == pytest.approx(1 / 3)
    assert out["purchase"]["conv_from_first"] == pytest.approx(1 / 3)


def test_funnel_single_step_and_empty(spark):
    from datawarehouse_group10_spark.operators.analytics import funnel_steps

    df = spark.createDataFrame(
        [(1, 1.0, "view")], "user_id int, ts double, event_type string"
    )
    one = funnel_steps(df, ["view"]).collect()
    assert len(one) == 1 and one[0]["n_users"] == 1
    none = funnel_steps(df, ["purchase", "view"]).collect()
    assert [r["n_users"] for r in none] == [0, 0]
    # 0-user first step: conversions are NULL, not a division error
    assert none[1]["conv_from_prev"] is None


def test_cohort_retention_triangle(spark):
    """Weekly cohorts: u1/u2 start week of 2024-01-01 (Mon), u3 a week
    later; u1 active weeks 0 and 2, u2 only week 0."""
    from datawarehouse_group10_spark.operators.analytics import cohort_retention

    rows = [
        (1, "2024-01-02 10:00:00"), (1, "2024-01-16 10:00:00"),
        (2, "2024-01-03 10:00:00"),
        (3, "2024-01-09 10:00:00"), (3, "2024-01-17 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        (str(r["cohort"]), r["offset"]): r
        for r in cohort_retention(df, granularity="week").collect()
    }
    c0 = ("2024-01-01", 0)
    assert out[c0]["n_users"] == 2 and out[c0]["cohort_size"] == 2
    assert out[("2024-01-01", 2)]["n_users"] == 1
    assert out[("2024-01-01", 2)]["retention"] == pytest.approx(0.5)
    assert out[("2024-01-08", 0)]["cohort_size"] == 1
    assert out[("2024-01-08", 1)]["n_users"] == 1
    assert ("2024-01-01", 1) not in out  # nobody active in week 1


def test_funnel_windowed_exact_beats_greedy(spark):
    """Gap-windowed funnel must be EXACT, not greedy: u1's earliest view
    (t=0) cannot reach the click at t=100 within W=20, but the later view
    at t=90 can — greedy earliest-completion would say 0 conversions.
    u2's gap is too wide; u3's click ties its view (strictness)."""
    from datawarehouse_group10_spark.operators.analytics import funnel_steps

    rows = [
        (1, 0.0, "view"), (1, 100.0, "click"), (1, 90.0, "view"),
        (2, 0.0, "view"), (2, 100.0, "click"),
        (3, 5.0, "view"), (3, 5.0, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts double, event_type string")
    out = {
        r["step_name"]: r
        for r in funnel_steps(df, ["view", "click"], within_seconds=20).collect()
    }
    assert out["view"]["n_users"] == 3
    assert out["click"]["n_users"] == 1  # only u1, via the NON-earliest view
    assert out["click"]["conv_from_prev"] == pytest.approx(1 / 3)


def test_funnel_windowed_matches_unwindowed_at_infinite_gap(spark):
    """With a gap wider than the data span, the ladder and the greedy
    construction must agree — on real data, not a toy."""
    from datawarehouse_group10_spark.operators.analytics import funnel_steps

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("event_id") % 3 == 0
    )
    steps = ["view", "click", "purchase"]
    a = {r["step"]: r["n_users"] for r in funnel_steps(ev, steps).collect()}
    b = {
        r["step"]: r["n_users"]
        for r in funnel_steps(
            ev, steps, within_seconds=10 * 365 * 86400
        ).collect()
    }
    assert a == b


def test_funnel_windowed_brute_force_under_power_user(spark):
    """Gap-windowed funnel vs an independent brute-force DP (r12,
    VERDICT r11 #4's correctness half): a deterministic corpus where
    ONE power user owns ~60% of all events, heavily interleaved across
    types, plus many sparse users. For every user the reference
    answer is computed in Python — reach step k iff an increasing
    event chain view<click<signup<purchase exists with every
    consecutive gap <= W — and the ladder must match it exactly, power
    user included (the per-user window sorts 600 interleaved rows in
    one task; a wrong tie order or a greedy shortcut diverges here)."""
    from datawarehouse_group10_spark.operators.analytics import funnel_steps

    steps = ["view", "click", "signup", "purchase"]
    w = 10.0
    rows = []
    # power user 1: 600 events, types cycling with varying strides so
    # chains exist at some gaps and not others
    for i in range(600):
        rows.append((1, float((i * 7) % 1013) + 0.25 * (i % 4),
                     steps[(i * 5 + i // 7) % 4]))
    # 40 sparse users with 2-10 events each, deterministic
    for u in range(2, 42):
        for j in range(2 + (u * 3) % 9):
            rows.append((u, float((u * 13 + j * 11) % 97),
                         steps[(u + 3 * j) % 4]))
    df = spark.createDataFrame(rows, "user_id int, ts double, event_type string")

    def reach(events):  # brute-force DP over one user's events
        byty = {}
        for ts, ty in events:
            byty.setdefault(ty, []).append(ts)
        good = sorted(byty.get(steps[0], []))
        depth = 1 if good else 0
        for k in range(1, len(steps)):
            if not good:
                break
            nxt = sorted(
                t for t in byty.get(steps[k], [])
                if any(g < t <= g + w for g in good)
            )
            if nxt:
                depth = k + 1
            good = nxt
        return depth

    per_user = {}
    for u, ts, ty in rows:
        per_user.setdefault(u, []).append((ts, ty))
    expected = [0] * len(steps)
    for evs in per_user.values():
        for k in range(reach(evs)):
            expected[k] += 1

    got = [
        r["n_users"]
        for r in funnel_steps(df, steps, within_seconds=w)
        .orderBy("step")
        .collect()
    ]
    assert got == expected
    assert expected[3] > 0  # the corpus actually exercises full chains


def test_path_transitions_edges_and_probs(spark):
    from datawarehouse_group10_spark.operators.analytics import path_transitions

    rows = [
        (1, 1, 1.0, "a"), (1, 2, 2.0, "b"), (1, 3, 3.0, "a"),
        (2, 4, 1.0, "a"), (2, 5, 2.0, "c"),
        # tie on ts for user 3: event_id breaks it deterministically
        (3, 6, 1.0, "a"), (3, 7, 1.0, "b"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, event_id int, ts double, event_type string"
    )
    out = {
        (r["src"], r["dst"]): r
        for r in path_transitions(df, id_col="event_id").collect()
    }
    assert out[("a", "b")]["n"] == 2  # users 1 and 3
    assert out[("a", "c")]["n"] == 1
    assert out[("b", "a")]["n"] == 1
    assert out[("a", "b")]["p"] == pytest.approx(2 / 3)
    assert out[("b", "a")]["p"] == pytest.approx(1.0)
    assert len(out) == 3


def test_rolling_active_users_window_math(spark):
    from datawarehouse_group10_spark.operators.analytics import (
        rolling_active_users,
    )

    rows = [
        (1, "2024-01-01 05:00:00"),
        (2, "2024-01-03 05:00:00"),
        (1, "2024-01-10 05:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    out = {
        str(r["day"]): r["n_active"]
        for r in rolling_active_users(df, window_days=3).collect()
    }
    # u1 covers Jan 1-3 and Jan 10 (clipped at max date), u2 covers Jan 3-5
    assert out["2024-01-01"] == 1
    assert out["2024-01-03"] == 2
    assert out["2024-01-04"] == 1
    assert out["2024-01-05"] == 1
    assert "2024-01-06" not in out  # dead zone: nobody active in window
    assert out["2024-01-10"] == 1
    assert "2024-01-11" not in out  # clipped past corpus max date


def test_vlit_mlit_bit_identity(spark):
    """r18: every constant vector/matrix in the similarity operators
    now ships as one parsed F.expr("array(...D)") (similarity._vlit /
    _mlit) instead of per-element F.lit trees. repr(float) ->
    Double.parseDouble must round-trip BIT-exactly, and the flattened
    pq_encode / ivf_assign argmin chains must select the same entries
    as the unrolled pre-r18 forms over awkward doubles (denormal-ish,
    negative zero, many digits)."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.functions.similarity import (
        _dot,
        _mlit,
        _pydot,
        _vlit,
        ivf_assign,
        pq_encode,
    )

    vals = [
        0.1, -0.0, 1.0 / 3.0, 2.2250738585072014e-308, -1e16 + 0.5,
        3.141592653589793, -2.718281828459045, 1e-9,
    ]
    got = spark.range(1).select(_vlit(vals).alias("v")).first()["v"]
    assert got == vals  # exact doubles, not approximate
    mat = [vals, list(reversed(vals))]
    gotm = spark.range(1).select(_mlit(mat).alias("m")).first()["m"]
    assert [list(r) for r in gotm] == mat

    # flattened argmin == old unrolled argmin over a small corpus
    rows = [
        (i, [((i * 7 + d * 3) % 11) / 7.0 - 0.6 for d in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    books = [
        [[((s + j + d) % 5) / 3.0 - 0.4 for d in range(4)] for j in range(4)]
        for s in range(2)
    ]

    def old_codes(codebooks, vec_col="embedding"):
        sub = len(codebooks[0][0])
        codes = []
        for s, cb in enumerate(codebooks):
            v = F.slice(F.col(vec_col), s * sub + 1, sub)
            dists = [
                F.lit(_pydot(c, c))
                - 2 * _dot(v, F.array(*[F.lit(float(x)) for x in c]))
                for c in cb
            ]
            darr = F.array(*dists)
            codes.append(
                (F.array_position(darr, F.array_min(darr)) - 1).cast("int")
            )
        return F.array(*codes)

    new = pq_encode(emb, books).orderBy("vec_id").select("_pq").collect()
    old = (
        emb.withColumn("_pq", old_codes(books))
        .orderBy("vec_id").select("_pq").collect()
    )
    assert new == old

    cents = [(i, [((i + d) % 7) / 4.0 - 0.8 for d in range(8)]) for i in range(4)]
    a = ivf_assign(emb, cents).orderBy("vec_id").select("_cell").collect()
    dists = [
        F.lit(_pydot(vec, vec))
        - 2 * _dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in vec]))
        for _cid, vec in cents
    ]
    darr = F.array(*dists)
    b = (
        emb.withColumn(
            "_cell",
            (F.array_position(darr, F.array_min(darr)) - 1).cast("int"),
        )
        .orderBy("vec_id").select("_cell").collect()
    )
    assert a == b
