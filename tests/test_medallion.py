"""End-to-end medallion semantics on crafted rows — the SURVEY §2.7 trap
list as executable assertions."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from datawarehouse_group10_spark.operators.aggregates import mart_statistics
from datawarehouse_group10_spark.plans.medallion import (
    bronze_to_silver,
    build_dim_date,
    build_dim_number,
    build_fact_prize,
    build_mart,
    full_dim_number,
    gold_rollup,
    run_full_pipeline,
)


def test_silver_drops_exactly_the_bad_rows(spark, lottery_bronze_rows):
    silver = bronze_to_silver(lottery_bronze_rows)
    rows = silver.collect()
    # 6 valid Giải-Bảy rows survive (dup kept at silver); the other tiers,
    # len<2, non-numeric, and bad-date rows are gone.
    assert len(rows) == 6
    assert all(0 <= r["number_value"] <= 99 for r in rows)


def test_fact_grain_and_total_draws(spark, lottery_bronze_rows):
    out = run_full_pipeline(lottery_bronze_rows, as_of="2024-01-10")
    fact = out["fact_prize"].collect()
    # 2.7.1: the duplicate (01-01, 07) collapses -> 3 facts on 01-01, 2 on 02-01
    assert len(fact) == 5
    assert all(r["occurrence_count"] == 1 for r in fact)
    by_date = {r["date_key"]: r["total_draws"] for r in fact}
    # 2.7.2: total_draws counts ALL silver rows of the date, including dups
    assert by_date[20240101] == 4
    assert by_date[20240102] == 2


def test_days_since_last_null_on_first(spark, lottery_bronze_rows):
    out = run_full_pipeline(lottery_bronze_rows, as_of="2024-01-10")
    fact = out["fact_prize"]
    dim = out["dim_number"]
    joined = fact.join(dim, "number_key").select("number_value", "date_key", "days_since_last")
    rows = {(r["number_value"], r["date_key"]): r["days_since_last"] for r in joined.collect()}
    assert rows[("23", 20240101)] is None     # 2.7.3: first appearance
    assert rows[("23", 20240102)] == 1        # next day


def test_dim_number_normalization_and_keys(spark, lottery_bronze_rows):
    dim = build_dim_number(gold_rollup(bronze_to_silver(lottery_bronze_rows))).collect()
    values = [r["number_value"] for r in dim]
    assert values == ["7", "23", "41", "99"]           # zeros stripped, int order
    assert [r["number_key"] for r in dim] == [1, 2, 3, 4]
    assert dim[0]["last_digit"] == 7


def test_incremental_dim_number_keys_continue(spark, lottery_bronze_rows):
    silver = bronze_to_silver(lottery_bronze_rows)
    existing = build_dim_number(gold_rollup(silver))
    # new batch introduces 55 (and repeats 23, which must not be re-issued)
    ts = dt.datetime(2024, 1, 7)
    new_bronze = spark.createDataFrame(
        [
            ("Giải Bảy", "55", "05-01-2024", "x", ts),
            ("Giải Bảy", "23", "05-01-2024", "x", ts),
        ],
        lottery_bronze_rows.schema,
    )
    new_rollup = gold_rollup(bronze_to_silver(new_bronze))
    delta = build_dim_number(new_rollup, existing=existing).collect()
    assert [(r["number_value"], r["number_key"]) for r in delta] == [("55", 5)]
    full = full_dim_number(
        build_dim_number(new_rollup, existing=existing), existing
    )
    assert full.count() == 5
    # keys stay unique and stable
    assert full.select("number_key").distinct().count() == 5


def test_mart_probability_and_denominator(spark, lottery_bronze_rows):
    out = run_full_pipeline(lottery_bronze_rows, as_of="2024-01-10")
    mart = {r["number_value"]: r for r in out["mart"].collect()}
    # denominator = 4 + 2 silver rows = 6 (including the intra-date dup)
    assert all(r["total_draws"] == 6 for r in mart.values())
    assert float(mart["23"]["probability"]) == 0.3333  # 2/6 at DECIMAL(36,4)
    assert int(mart["23"]["total_occurrences"]) == 2
    assert mart["23"]["days_since_last"] == 8          # as_of 01-10 vs 01-02


def _fact_rollup_mart(fact, dim_number, as_of):
    """The mart as a rollup of the star schema: per-number SUM of fact
    occurrences and MAX date through dim_number, over total_draws summed
    from one fact row per date. build_mart must give the same rows from
    its one per-number group of the rollup."""
    per_date = fact.select("date_key", "total_draws").dropDuplicates(["date_key"])
    total = per_date.agg(F.sum("total_draws").cast("int").alias("total_draws"))
    per_number = (
        fact.join(dim_number.select("number_key", "number_value"), "number_key")
        .groupBy("number_value")
        .agg(
            F.sum("occurrence_count").cast(DecimalType(32, 0)).alias("total_occurrences"),
            F.max("full_date").alias("last_appeared_date"),
        )
    )
    return (
        per_number.crossJoin(total)
        .withColumn(
            "probability",
            (F.col("total_occurrences") / F.col("total_draws")).cast(DecimalType(36, 4)),
        )
        .withColumn(
            "days_since_last",
            F.datediff(F.to_date(F.lit(as_of)), "last_appeared_date").cast("int"),
        )
        .select(
            "number_value", "total_occurrences", "total_draws",
            "probability", "last_appeared_date", "days_since_last",
        )
    )


def _multi_day_bronze(spark, days=20, seed=11):
    """Generated bronze over ``days`` draw dates: per date 3-6 Giải-Bảy
    numbers drawn with replacement from a small pool (so intra-date
    duplicates and '07'/'007'-style forms recur), plus one other-tier row,
    one 1-char number and one unparseable date."""
    import random

    rng = random.Random(seed)
    ts = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = []
    for d in range(days):
        day = (dt.date(2024, 1, 1) + dt.timedelta(days=d)).strftime("%d-%m-%Y")
        for _ in range(rng.randint(3, 6)):
            rows.append(("Giải Bảy", rng.choice(["07", "007", "23", "41", "99", "100", "5x5"]), day))
        rows.append(("Giải Nhất", f"{rng.randint(0, 99999):05d}", day))
        rows.append(("Giải Bảy", "3", day))
    rows.append(("Giải Bảy", "55", "31-02-2024"))
    return spark.createDataFrame(
        [(p, n, d, "x", ts) for p, n, d in rows],
        "prize string, number_value string, full_date string, "
        "created_at string, load_timestamp timestamp",
    )


def test_mart_from_silver_equals_fact_rollup(spark, lottery_bronze_rows):
    """The mart built from silver's gold rollup is the fact + dim_number
    rollup, on the SURVEY §2.7 trap rows (intra-date duplicate included)
    and on a generated multi-day history. The fact's dense-rank number_key
    must resolve through dim_number's row_number key for this to hold."""
    as_of = "2024-02-15"
    for bronze in (lottery_bronze_rows, _multi_day_bronze(spark)):
        silver = bronze_to_silver(bronze)
        rollup = gold_rollup(silver)
        dim = build_dim_number(rollup)
        oracle = _fact_rollup_mart(build_fact_prize(rollup), dim, as_of)
        mart = build_mart(rollup, as_of=as_of)
        assert mart.dtypes == oracle.dtypes
        got, want = sorted(mart.collect()), sorted(oracle.collect())
        assert got == want
        assert len(got) == dim.count() >= 4
        # SURVEY 2.7.2: the denominator counts every silver row, dups included
        assert {r["total_draws"] for r in got} == {silver.count()}


def test_fact_and_mart_except_all_their_written_parquet(spark, tmp_path):
    """The fact and the mart of run_full_pipeline equal, row for row, the
    parquet run_warehouse_job wrote for them: exceptAll is empty in both
    directions. Spark 4.1 must be able to plan set operations over the
    fact's lineage (a fact plan that broadcast-joined a cached dimension
    failed them with INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)."""
    from datawarehouse_group10_spark.plans.warehouse_job import run_warehouse_job
    from datawarehouse_group10_spark.sources import read_crawl_csv_dir

    csv, out = tmp_path / "csv", str(tmp_path / "dwh")
    csv.mkdir()
    for day, nums in (("01-01-2024", "07 23 23 99"), ("02-01-2024", "23 41 07 07")):
        (csv / f"xsmb_{day}.csv").write_text(
            "prize,number_value,full_date,created_at\n"
            + "".join(f"Giải Bảy,{n},{day},x\n" for n in nums.split()),
            encoding="utf-8",
        )
    run_warehouse_job(spark, csv_dir=str(csv), output_dir=out, as_of="2024-01-10")
    layers = run_full_pipeline(read_crawl_csv_dir(spark, str(csv)), as_of="2024-01-10")
    for name in ("fact_prize", "mart"):
        built, written = layers[name], spark.read.parquet(f"{out}/{name}")
        assert built.exceptAll(written).count() == 0, name
        assert written.exceptAll(built).count() == 0, name
        assert built.count() == written.count() > 0, name


def test_statistics_deterministic_tiebreak(spark, lottery_bronze_rows):
    out = run_full_pipeline(lottery_bronze_rows, as_of="2024-01-10")
    stats = mart_statistics(out["mart"]).first()
    assert stats["most_number"] == 23                  # unique max
    # 7, 41, 99 all tie at 1 occurrence -> lowest wins deterministically
    assert stats["least_number"] == 7
    assert stats["total_occurrences"] == 6             # MAX(total_draws)
    assert stats["last_update"] == dt.date(2024, 1, 2)


def test_dim_date_attributes(spark, lottery_bronze_rows):
    dim = build_dim_date(gold_rollup(bronze_to_silver(lottery_bronze_rows)))
    rows = {r["date_key"]: r for r in dim.collect()}
    assert set(rows) == {20240101, 20240102}
    r = rows[20240101]
    assert (r["day_of_month"], r["month_of_year"], r["year_value"]) == (1, 1, 2024)
    assert r["year_month_value"] == "2024-01"
    assert r["day_name"] == "Thứ 2"                    # 2024-01-01 is a Monday
    assert r["is_weekend"] == 0


def test_fact_anti_join_idempotent_reload(spark, lottery_bronze_rows):
    rollup = gold_rollup(bronze_to_silver(lottery_bronze_rows))
    fact1 = build_fact_prize(rollup)
    # re-loading the same batch against the existing fact adds nothing (J4)
    fact2 = build_fact_prize(rollup, existing=fact1)
    assert fact2.count() == 0


def test_merge_mart_equals_full_recompute(spark, lottery_bronze_rows):
    from datawarehouse_group10_spark.plans.medallion import merge_mart

    # split the batch by date: 01-01 rows vs later rows
    b1 = lottery_bronze_rows.filter("full_date = '01-01-2024'")
    b2 = lottery_bronze_rows.filter("full_date <> '01-01-2024'")
    m1 = run_full_pipeline(b1, as_of="2024-01-10")["mart"]
    m2 = run_full_pipeline(b2, as_of="2024-01-10")["mart"]
    merged = merge_mart(m1, m2)
    full = run_full_pipeline(lottery_bronze_rows, as_of="2024-01-10")["mart"]
    a = {tuple(map(str, r)) for r in merged.collect()}
    b = {tuple(map(str, r)) for r in full.collect()}
    assert a == b


def test_profile_and_approx_distinct(spark):
    from datawarehouse_group10_spark.operators.aggregates import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a")], "k int, v string"
    )
    prof = {r["column"]: r for r in profile(df).collect()}
    assert prof["v"]["n_nulls"] == 1 and prof["v"]["n_distinct"] == 2
    assert prof["k"]["min_value"] == "1" and prof["k"]["max_value"] == "4"
    assert prof["k"]["n_rows"] == 4


def test_repeated_pipeline_runs_do_not_leak_cached_rdds(spark, lottery_bronze_rows):
    """A long-lived driver (serving, bench repeats) re-running the pipeline
    must not accumulate dead cached RDDs: each invocation releases the
    previous one's caches (r5 verdict item 6)."""
    from datawarehouse_group10_spark.plans.medallion import (
        release_pipeline_caches,
    )

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    release_pipeline_caches()
    baseline = n_cached()  # other tests' caches may be resident; assert DELTAs
    for _ in range(3):
        out = run_full_pipeline(lottery_bronze_rows, as_of="2024-01-10")
        out["mart"].count()  # materialize -> populates the caches
    # after 3 runs only the LAST invocation's caches may have been added:
    # silver and the gold rollup every gold layer and the mart read
    assert n_cached() - baseline <= 2
    release_pipeline_caches()
    assert n_cached() - baseline <= 0
