"""Driver-contract query registry: one named query per SURVEY.md §2
operator (and per LLM-pipeline op), each with a DuckDB-equivalent ANSI-SQL
oracle able to run on the same parquet tables.

Cross-engine value-stability rules (the whole point of this module):

- Aggregated money values are cast to DECIMAL **before** summing on both
  sides (exact arithmetic, order-independent), then the final value is
  cast to DOUBLE (deterministic conversion) — never a raw float sum.
- DATE outputs are serialized as 'yyyy-MM-dd' strings; no raw timestamps
  leave a query (the oracle can't know the driver session's timezone).
- Ratio outputs are either exact IEEE divisions of identical operands
  (bit-identical across engines) or explicitly rounded on both sides.
- Every computed column is aliased identically in the Spark plan and the
  SQL text (the driver compare joins on column names).

The lottery-pipeline operators run on a deterministic lottery-shaped
"bronze" table derived from the `events` testdata with engine-identical
expressions (CASE over event_id%8 for the prize tier, floor(value*100)%100
left-padded for the two-digit number, dd-MM-yyyy formatting of ts).
"""

from __future__ import annotations

import atexit
import os
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DecimalType,
    FloatType,
    TimestampNTZType,
    TimestampType,
)

from .functions.dedup import (
    exact_dedup,
    minhash_lsh_dup_pairs,
    ngram_jaccard_pairs,
    paragraph_dedup,
)
from .functions.similarity import (
    _dot,
    _norm,
    brute_force_topk,
    cosine_similarity_col,
    lsh_bucket_topk,
)
from .functions.text import (
    bpe_token_estimate,
    doc_fingerprint,
    language_id,
    quality_features,
    token_count,
)
from .multimodal import attach_binary_payload, decode_features
from .operators.aggregates import draws_per_date, last_appearance, mart_statistics
from .operators.joins import anti_join_new_rows, broadcast_lookup_join
from .operators.transforms import (
    GIAI_BAY,
    calendar_attributes,
    decade_bucket,
    derive_flags,
    filter_prize,
    iso_z_timestamp,
    last_digit,
    last_k_digits,
    normalize_numeric_string,
    parse_draw_date,
    surrogate_date_key,
    vietnamese_day_name,
)
from .operators.windows import days_since_last, percent_display, recency_bucket, top_k
from .plans.medallion import (
    bronze_to_silver,
    build_dim_date,
    build_dim_number,
    build_mart,
    gold_rollup,
    merge_mart,
    run_full_pipeline,
)
from .sources.csv_source import read_alt_crawl_csv, write_crawl_csv
from .sources.parquet_source import ensure_conf, events_ts_layout, read_events, remove_layer
from .streaming import events_hourly_counts

#: Fixed "today" for every recency computation so results are a pure
#: function of the input data, not of the wall clock.
AS_OF = "2026-01-01"

#: Per-sf_dir cache of max(events.ts) (immutable testdata): a nanos int
#: for the legacy nanos-long layout, a datetime for the native layout.
_EVENTS_MAX_TS: dict[str, object] = {}

#: Per-sf_dir cache of the streaming query's staged work dir (input
#: symlink + sentinel file).  One dir per sf_dir for the whole process —
#: repeated invocations (bench runs 3x) reuse the staged input and wipe
#: only out/ckpt, and everything is removed at interpreter exit instead
#: of leaking a tempdir per call.
_STREAM_WORK_CACHE: dict[str, str] = {}


def _cleanup_stream_work() -> None:
    import shutil as _shutil

    for d in _STREAM_WORK_CACHE.values():
        _shutil.rmtree(d, ignore_errors=True)
    for d in _STREAM_SUITE_CACHE.values():
        _shutil.rmtree(d, ignore_errors=True)
    for p in _SHINGLE_DIR_CACHE.values():
        _shutil.rmtree(os.path.dirname(p), ignore_errors=True)
    for d in _MINHASH_INDEX_CACHE.values():
        _shutil.rmtree(d, ignore_errors=True)
    for d in _CSV_WORK_DIRS.values():
        _shutil.rmtree(d, ignore_errors=True)
    # Bucketed / z-ordered / partitioned layouts deliberately survive the
    # process: they live in the persistent GRAFT_WAREHOUSE (r9).


atexit.register(_cleanup_stream_work)

_PRIZES = [
    "Giải Đặc Biệt", "Giải Nhất", "Giải Nhì", "Giải Ba",
    "Giải Tư", "Giải Năm", "Giải Sáu", "Giải Bảy",
]


# ---------------------------------------------------------------------------
# Shared plumbing

#: Session-scoped memo of base-table reader DataFrames (r17, guide §6's
#: session-level file-listing cache applied at the API layer): every
#: `spark.read.parquet` call re-lists the directory and re-infers the
#: schema from footers (~50-90 ms of driver I/O + py4j), and a suite
#: body calls `_t` up to 17 times per invocation — ~1.5 s of the
#: tpch_join_suite's measured per-run cost was this re-inference.
#: The memo holds only the LAZY reader plan (schema + file index) for
#: the immutable input corpus under ``sf_dir``; every action on it
#: still scans the parquet from disk (no data is cached). Keyed by the
#: JVM application id so a fresh SparkContext never sees a stale plan.
#: INVARIANT (r18, VERDICT r17 what's-wrong #3): the file index inside
#: a memoized reader is snapshotted at first call, so ONLY immutable
#: directories may route through ``_t`` — the read-only ``sf_dir``
#: testdata qualifies; anything the engine writes (GRAFT_WAREHOUSE
#: layouts, work dirs) must use ``spark.read.parquet`` directly.
#: Entries from previous SparkContexts are evicted when a new
#: application id first appears (ADVICE r17 #3: stale py4j DataFrame
#: handles pinned stopped-context JVM objects for the process life).
_TABLE_READER_CACHE: dict[tuple[str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    key = (app_id, os.path.join(os.path.abspath(sf_dir), f"{name}.parquet"))
    df = _TABLE_READER_CACHE.get(key)
    if df is None:
        stale = [k for k in _TABLE_READER_CACHE if k[0] != app_id]
        for k in stale:
            del _TABLE_READER_CACHE[k]
        df = spark.read.parquet(key[1])
        _TABLE_READER_CACHE[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-adaptive events loader: the testdata has shipped ``ts`` both
    as parquet TIMESTAMP(NANOS) (read as a nanos BIGINT and rebuilt, since
    Spark has no nanosecond type) and as TIMESTAMP(MICROS) (read natively).
    :func:`sources.read_events` probes the file footer and branches, so
    every consumer sees a canonical ``ts TIMESTAMP`` under a UTC session —
    the same instants DuckDB reads from the identical file."""
    return read_events(spark, os.path.join(sf_dir, "events.parquet"))


def _utc(spark: SparkSession) -> None:
    """The oracle's timestamps are timezone-naive; pin the Spark session to
    UTC so both engines render the same calendar values regardless of the
    driver host's timezone. Conditional set: no plan-cache churn when the
    session is already UTC (every call after the first)."""
    ensure_conf(spark, "spark.sql.session.timeZone", "UTC")


def stable(df: DataFrame) -> DataFrame:
    """Serialize a result to engine-portable types: decimal->double,
    float->double, date->'yyyy-MM-dd' string, timestamp->formatted string."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, DecimalType):
            c = c.cast("double")
        elif isinstance(f.dataType, FloatType):
            c = c.cast("double")
        elif isinstance(f.dataType, DateType):
            c = F.date_format(c, "yyyy-MM-dd")
        elif isinstance(f.dataType, (TimestampType, TimestampNTZType)):
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss")
        cols.append(c.alias(f.name))
    return df.select(*cols)


def lottery_bronze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic lottery-shaped bronze rows derived from `events` —
    engine-identical twin of the `bronze` CTE in _LOTTERY_CTE."""
    ev = _events(spark, sf_dir)
    tier = (F.col("event_id") % 8).cast("int")
    prize = F.lit(_PRIZES[-1])
    for i in range(7):
        prize = F.when(tier == i, F.lit(_PRIZES[i])).otherwise(prize)
    return ev.select(
        prize.alias("prize"),
        F.lpad(
            ((F.floor(F.col("value") * 100) % 100).cast("bigint")).cast("string"),
            2, "0",
        ).alias("number_value"),
        F.date_format("ts", "dd-MM-yyyy").alias("full_date"),
        F.col("ts").alias("load_timestamp"),
        F.col("event_id"),
    )


#: DuckDB CTE chain replicating lottery_bronze -> silver -> star -> mart.
_LOTTERY_CTE = """
WITH bronze AS (
  SELECT
    CASE CAST(event_id % 8 AS INT)
      WHEN 0 THEN 'Giải Đặc Biệt' WHEN 1 THEN 'Giải Nhất'
      WHEN 2 THEN 'Giải Nhì'      WHEN 3 THEN 'Giải Ba'
      WHEN 4 THEN 'Giải Tư'       WHEN 5 THEN 'Giải Năm'
      WHEN 6 THEN 'Giải Sáu'      ELSE 'Giải Bảy' END AS prize,
    lpad(CAST(CAST(FLOOR(value * 100) AS BIGINT) % 100 AS VARCHAR), 2, '0')
      AS number_value,
    strftime(ts, '%d-%m-%Y') AS full_date,
    event_id
  FROM events
),
silver AS (
  SELECT
    CAST(number_value AS INT) AS number_value,
    CAST(strptime(full_date, '%d-%m-%Y') AS DATE) AS full_date,
    printf('%02d-%02d', (CAST(number_value AS INT) // 10) * 10,
                        (CAST(number_value AS INT) // 10) * 10 + 9) AS range_group,
    CASE WHEN isodow(CAST(strptime(full_date, '%d-%m-%Y') AS DATE)) IN (6, 7)
         THEN 1 ELSE 0 END AS is_weekend,
    CASE WHEN CAST(number_value AS INT) % 2 = 0 THEN 1 ELSE 0 END AS is_even
  FROM bronze
  WHERE prize = 'Giải Bảy' AND length(number_value) >= 2
),
dim_date AS (
  SELECT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key,
         full_date,
         CAST(day(full_date) AS INT) AS day_of_month,
         CAST(month(full_date) AS INT) AS month_of_year,
         CAST(year(full_date) AS INT) AS year_value,
         strftime(full_date, '%Y-%m') AS year_month_value,
         CASE isodow(full_date)
           WHEN 1 THEN 'Thứ 2' WHEN 2 THEN 'Thứ 3' WHEN 3 THEN 'Thứ 4'
           WHEN 4 THEN 'Thứ 5' WHEN 5 THEN 'Thứ 6' WHEN 6 THEN 'Thứ 7'
           ELSE 'Chủ nhật' END AS day_name,
         CASE WHEN isodow(full_date) IN (6, 7) THEN 1 ELSE 0 END AS is_weekend
  FROM (SELECT DISTINCT full_date FROM silver)
),
dim_number AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY CAST(number_value AS INT)) AS INT)
           AS number_key,
         number_value, is_even,
         CAST(CAST(number_value AS INT) % 10 AS INT) AS last_digit,
         last_appeared_date
  FROM (
    SELECT CAST(CAST(number_value AS INT) AS VARCHAR) AS number_value,
           CAST(MAX(is_even) AS INT) AS is_even,
           MAX(full_date) AS last_appeared_date
    FROM silver GROUP BY 1
  )
),
total_per_date AS (
  SELECT full_date, CAST(COUNT(*) AS INT) AS total_draws
  FROM silver GROUP BY full_date
),
fact AS (
  SELECT fb.date_key, dn.number_key,
         CAST(1 AS INT) AS occurrence_count,
         t.total_draws,
         CAST(CAST(CAST(1 AS DECIMAL(10,6)) / t.total_draws AS DECIMAL(10,6))
              AS DOUBLE) AS probability_value,
         CAST(date_diff('day',
              LAG(fb.full_date) OVER (PARTITION BY dn.number_key
                                      ORDER BY fb.full_date),
              fb.full_date) AS INT) AS days_since_last,
         fb.full_date
  FROM (SELECT DISTINCT CAST(strftime(full_date, '%Y%m%d') AS INT) AS date_key,
               full_date,
               CAST(CAST(number_value AS INT) AS VARCHAR) AS number_value
        FROM silver) fb
  JOIN total_per_date t USING (full_date)
  JOIN dim_number dn USING (number_value)
),
mart AS (
  SELECT p.number_value,
         p.total_occurrences,
         g.total_draws,
         CAST(CAST(CAST(p.total_occurrences AS DECIMAL(32,0)) / g.total_draws
              AS DECIMAL(36,4)) AS DOUBLE) AS probability,
         p.last_appeared_date,
         CAST(date_diff('day', p.last_appeared_date, DATE '{as_of}') AS INT)
           AS days_since_last
  FROM (
    SELECT dn.number_value,
           CAST(SUM(f.occurrence_count) AS BIGINT) AS total_occurrences,
           MAX(f.full_date) AS last_appeared_date
    FROM fact f JOIN dim_number dn USING (number_key)
    GROUP BY dn.number_value
  ) p
  CROSS JOIN (
    SELECT CAST(SUM(total_draws) AS INT) AS total_draws
    FROM (SELECT DISTINCT date_key, total_draws FROM fact)
  ) g
)
""".replace("{as_of}", AS_OF)


# ---------------------------------------------------------------------------
# Lottery medallion pipeline queries

def q_pipeline_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    silver = bronze_to_silver(lottery_bronze(spark, sf_dir))
    return stable(silver.drop("load_timestamp"))


def q_pipeline_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    silver = bronze_to_silver(lottery_bronze(spark, sf_dir))
    return stable(build_dim_date(gold_rollup(silver)))


def q_pipeline_dim_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    silver = bronze_to_silver(lottery_bronze(spark, sf_dir))
    return stable(build_dim_number(gold_rollup(silver)))


def q_pipeline_fact_prize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    layers = run_full_pipeline(lottery_bronze(spark, sf_dir), as_of=AS_OF)
    return stable(layers["fact_prize"])


def q_pipeline_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    layers = run_full_pipeline(lottery_bronze(spark, sf_dir), as_of=AS_OF)
    # total_occurrences is DECIMAL(32,0) (an integer count) — expose as
    # BIGINT, the rest via stable().
    return stable(
        layers["mart"].withColumn(
            "total_occurrences", F.col("total_occurrences").cast("bigint")
        )
    )


def q_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-split invariance of the incremental path (merge_mart IVM):
    bronze is split into two date-disjoint batches, each builds its mart
    from its own silver (nothing cached), and the two marts merge
    WITHOUT rescanning history (per-number partials add, last-appearance
    maxes, denominator adds). The merged mart must hash-match the
    one-shot full-load mart — the oracle is literally pipeline_mart's."""
    _utc(spark)
    bronze = lottery_bronze(spark, sf_dir)
    day = F.substring("full_date", 1, 2).cast("int")
    m1 = build_mart(gold_rollup(bronze_to_silver(bronze.filter(day <= 15))), as_of=AS_OF)
    m2 = build_mart(gold_rollup(bronze_to_silver(bronze.filter(day > 15))), as_of=AS_OF)
    merged = merge_mart(m1, m2)
    return stable(
        merged.withColumn(
            "total_occurrences", F.col("total_occurrences").cast("bigint")
        )
    )


def q_pipeline_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    layers = run_full_pipeline(lottery_bronze(spark, sf_dir), as_of=AS_OF)
    return stable(mart_statistics(layers["mart"]))


#: Fixed alt-layout crawl fixture (SURVEY §1.1 row 2: the reference's
#: xsmb_23102025_CRAWL_001.csv shape — BOM-prefixed, Vietnamese headers,
#: yyyy-MM-dd dates, true/false booleans). A constant fixture is the
#: honest input for a READER operator: the oracle states the expected
#: parse as literals.
_ALT_CSV_ROWS = (
    "process_code,ngay_trung,thu,ten_giai,so_trung,range_group,"
    "is_weekend,is_even,crawl_time\n"
    "CRAWL_001,2025-10-23,Thứ 5,Giải Bảy,07,00-09,false,false,2025-10-23T19:30:00\n"
    "CRAWL_001,2025-10-23,Thứ 5,Giải Bảy,23,20-29,false,false,2025-10-23T19:30:00\n"
    "CRAWL_001,2025-10-23,Thứ 5,Giải Nhất,12345,,false,false,2025-10-23T19:30:00\n"
    "CRAWL_001,2025-10-24,Thứ 6,Giải Bảy,41,40-49,false,false,2025-10-24T19:30:00\n"
)
_CSV_WORK_DIRS: dict[str, str] = {}


def q_s2_s3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (header CSV sink) + S3 (directory CSV scan + the alt BOM
    layout): write a projection of documents out as CSV, read the
    directory back, aggregate; plus the schema-evolution reader
    (`read_alt_crawl_csv`) over a fixed BOM-prefixed alt-layout fixture,
    its parse checked value-by-value against oracle literals (rows tagged
    ``alt:<prize>@<dd-MM-yyyy date>`` — the date proves the
    yyyy-MM-dd→dd-MM-yyyy re-render ran)."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    # One reused sink dir per process (repeat calls overwrite it — the S2
    # write still runs eagerly every call; only the tempdir allocation is
    # deduped so bench repeats don't leak a dir per invocation).
    tmp = _CSV_WORK_DIRS.get("roundtrip_sink")
    if tmp is None:
        tmp = tempfile.mkdtemp(prefix="csv_roundtrip_")
        _CSV_WORK_DIRS["roundtrip_sink"] = tmp
    write_crawl_csv(docs, tmp)  # S2 header sink
    back = (  # S3 directory scan (the read is lazy; the dir stays in /tmp)
        spark.read.schema("doc_id BIGINT, lang STRING, source STRING")
        .option("header", "true")
        .csv(tmp)
    )
    roundtrip = back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
    )

    alt_dir = _CSV_WORK_DIRS.get("fixture")
    if alt_dir is None:
        alt_dir = tempfile.mkdtemp(prefix="alt_crawl_")
        with open(
            os.path.join(alt_dir, "xsmb_alt.csv"), "w", encoding="utf-8-sig"
        ) as fh:
            fh.write(_ALT_CSV_ROWS)
        _CSV_WORK_DIRS["fixture"] = alt_dir
    alt = read_alt_crawl_csv(spark, alt_dir)
    alt_agg = (
        alt.groupBy("prize", "full_date")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("number_value").cast("bigint").alias("n_sources"),
        )
        .select(
            F.concat(
                F.lit("alt:"), F.col("prize"), F.lit("@"), F.col("full_date")
            ).alias("lang"),
            "n",
            "n_sources",
        )
    )
    return roundtrip.unionByName(alt_agg)


# ---------------------------------------------------------------------------
# Joins

def q_j1_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").withColumnRenamed("p_partkey", "l_partkey")
    joined = broadcast_lookup_join(li, part, "l_partkey")
    return joined.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


def q_j2_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    # customers with no finished order — non-empty at every sf, so the
    # anti-join is evidenced by actual surviving rows, not an empty match.
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    existing = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join_new_rows(cust, existing, "c_custkey")


def q_j4_composite_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    finished = _t(spark, sf_dir, "orders").filter("o_orderstatus = 'F'").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    kept = anti_join_new_rows(li, finished, "l_orderkey", distinct=False)
    return kept.agg(F.count("*").cast("bigint").alias("n"))


# ---------------------------------------------------------------------------
# Aggregations

def q_a1_a2_draws_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = _events(spark, sf_dir).select(F.to_date("ts").alias("d"))
    per_date = draws_per_date(ev, date_col="d")
    return per_date.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("total_draws").cast("int").alias("total_draws"),
        (F.lit(1.0) / F.col("total_draws")).alias("probability"),
        percent_display(F.lit(1.0) / F.col("total_draws")).alias("pct"),
    )


def q_a3_last_appearance(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("d"))
    out = last_appearance(ev, key="user_id", date_col="d")
    return stable(out)


def q_a5_minmax_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 argmax/argmin scalars + the T1 equality-filter count (the Giải
    Bảy ``filter_prize`` predicate) folded into the same 1-row
    result — both are broadcast-cheap scalar aggregates, and the merge
    keeps the registry within the driver's 50-query correctness window."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    scalars = orders.agg(
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.count("*").cast("bigint").alias("n"),
    )
    n_bay = filter_prize(lottery_bronze(spark, sf_dir), GIAI_BAY).agg(
        F.count("*").cast("bigint").alias("n_giai_bay")
    )
    return scalars.crossJoin(F.broadcast(n_bay))


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic TPC-H Q1 shape over the synthetic lineitem — the
    headline scan+aggregate benchmark query. Decimal-exact arithmetic so
    the oracle hash-matches."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    base = F.col("l_extendedprice").cast("decimal(18,2)")
    disc1 = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    tax1 = (F.lit(1.0) + F.col("l_tax")).cast("decimal(18,6)")
    disc_price = (base * disc1).cast("decimal(18,6)")
    charge = (disc_price * tax1).cast("decimal(18,6)")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(base).cast("double").alias("sum_base_price"),
            # Round scale-6 decimal sums to cents BEFORE the double cast:
            # above ~sf1 the scale-6 unscaled value exceeds 2^53 and the
            # decimal->double conversion rounds differently across engines
            # (last-ulp divergence). At scale 2 the unscaled value stays
            # exactly representable, so every engine produces the same
            # correctly-rounded double. Spark HALF_UP == DuckDB ROUND
            # (half away from zero) for these positive sums.
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 adapted to the testdata schema (o_orderpriority for the
    absent o_shippriority): the canonical selective 3-way join. Plan shape
    that matters at 100 TB: both date filters and the segment filter push
    to the parquet scans, the filtered customer key set broadcasts into
    the orders join, revenue sums as decimal (order-independent, so the
    top-10 cut is deterministic), and the top-10 is a
    TakeOrderedAndProject, never a global sort."""
    _utc(spark)
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        F.to_date("o_orderdate") < F.lit("1998-06-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-06-01")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    ).cast("decimal(18,6)")
    out = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )
    return out.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


def q_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (6-table star-ish join, one year, one region):
    region/nation/supplier broadcast (tiny dims), the customer⋈orders⋈
    lineitem chain shuffles on its keys, revenue decimal-exact. The
    c_nationkey = s_nationkey 'local supplier' predicate rides the join."""
    _utc(spark)
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.to_date("o_orderdate") >= F.lit("1997-01-01"))
        & (F.to_date("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    ).cast("decimal(18,6)")
    asian_nations = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    sup = supplier.join(
        F.broadcast(asian_nations),
        supplier["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("revenue"))
    )


def q_tpch_join_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3/Q5/Q7/Q8/Q9/Q10 — the multi-table join family — in one
    long-format (query, k, val) row set (Q3+Q5 consolidated in r7 to
    free a registry slot; Q7-Q10 added later in r7, completing all 22
    TPC-H query SHAPES across the five tpch_* registry entries). k
    carries the group identity per shape:

    - ``q3_shipping_priority``: orderkey|date|priority (top-10).
    - ``q5_local_supplier``: nation name.
    - ``q7_volume_shipping``: supp_nation|cust_nation|ship_year for the
      NATION_1↔NATION_2 pair, both directions — nation filters pushed
      into the broadcast dim builds BEFORE the fact joins.
    - ``q8_market_share``: order year; val is NATION_3's share of ASIA's
      ECONOMY-part import volume. The ratio divides two decimal sums
      that are each rounded to cents and cast to double FIRST — both
      operands bit-identical across engines, so the IEEE-754 quotient
      is too (the cross-engine rule of PERF.md r4 #4 extended to
      division).
    - ``q9_product_profit``: supp_nation|order_year; profit =
      disc_price − 0.4·retail·qty as exact decimals (the testdata has
      no partsupp, so 0.4·p_retailprice stands in for ps_supplycost —
      same join/agg shape, deterministic).
    - ``q10_returned_items``: custkey|name|nation, top-20 by returned
      revenue for one quarter — TakeOrderedAndProject, never a global
      sort.
    """
    q3 = q_tpch_q3_shipping_priority(spark, sf_dir).select(
        F.lit("q3_shipping_priority").alias("query"),
        F.concat_ws(
            "|", F.col("l_orderkey").cast("string"), "o_orderdate",
            "o_orderpriority",
        ).alias("k"),
        F.col("revenue").alias("val"),
    )
    q5 = q_tpch_q5_local_supplier(spark, sf_dir).select(
        F.lit("q5_local_supplier").alias("query"),
        F.col("n_name").alias("k"),
        F.col("revenue").alias("val"),
    )

    _utc(spark)
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    region = _t(spark, sf_dir, "region")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    ).cast("decimal(18,6)")

    # q7: nation-pair trade volume by ship year, both directions.
    pair = ("NATION_1", "NATION_2")
    sup_n = supplier.join(
        F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"]
    ).filter(F.col("n_name").isin(*pair)).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cus_n = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).filter(F.col("n_name").isin(*pair)).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    q7 = (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1999-01-01"))
        )
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cus_n), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup_n), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year(F.to_date("l_shipdate")).alias("_yr"),
        )
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("val"))
        .select(
            F.lit("q7_volume_shipping").alias("query"),
            F.concat_ws(
                "|", "supp_nation", "cust_nation", F.col("_yr").cast("string")
            ).alias("k"),
            "val",
        )
    )

    # q8: NATION_3's share of ASIA's ECONOMY imports by order year.
    asia_keys = _t(spark, sf_dir, "nation").join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey")
    asia_cust = customer.join(
        F.broadcast(asia_keys),
        customer["c_nationkey"] == F.col("n_nationkey"),
    ).select("c_custkey")
    econ = part.filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    sup_all = supplier.join(
        F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"]
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    zero6 = F.lit(0).cast("decimal(18,6)")
    q8 = (
        li.join(F.broadcast(econ), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            orders.filter(
                (F.to_date("o_orderdate") >= F.lit("1996-01-01"))
                & (F.to_date("o_orderdate") < F.lit("1999-01-01"))
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sup_all), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year(F.to_date("o_orderdate")).alias("_yr"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", disc_price)
                    .otherwise(zero6)
                ),
                2,
            ).cast("double").alias("_num"),
            F.round(F.sum(disc_price), 2).cast("double").alias("_den"),
        )
        .select(
            F.lit("q8_market_share").alias("query"),
            F.col("_yr").cast("string").alias("k"),
            (F.col("_num") / F.col("_den")).alias("val"),
        )
    )

    # q9: profit by supplier nation and order year over 'red' parts.
    red = part.filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    cost = (
        (
            F.col("p_retailprice").cast("decimal(18,2)")
            * F.col("l_quantity").cast("decimal(18,2)")
        ).cast("decimal(18,4)")
        * F.lit("0.4").cast("decimal(2,1)")
    ).cast("decimal(18,6)")
    q9 = (
        li.join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sup_all), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "supp_nation", F.year(F.to_date("o_orderdate")).alias("_yr")
        )
        .agg(
            F.round(F.sum((disc_price - cost).cast("decimal(18,6)")), 2)
            .cast("double").alias("val")
        )
        .select(
            F.lit("q9_product_profit").alias("query"),
            F.concat_ws("|", "supp_nation", F.col("_yr").cast("string")).alias("k"),
            "val",
        )
    )

    # q10: top-20 customers by returned revenue in one quarter.
    nat_b = nation.select(
        F.col("n_nationkey").alias("_nk"), F.col("n_name")
    )
    q10 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.to_date("o_orderdate") >= F.lit("1997-07-01"))
                & (F.to_date("o_orderdate") < F.lit("1997-10-01"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer.select("c_custkey", "c_name", "c_nationkey"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat_b), F.col("c_nationkey") == F.col("_nk"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("val"))
        .orderBy(F.col("val").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            F.lit("q10_returned_items").alias("query"),
            F.concat_ws(
                "|", F.col("c_custkey").cast("string"), "c_name", "n_name"
            ).alias("k"),
            "val",
        )
    )

    # rtf (r8): runtime bloom-filter join pruning — NATION_4's supplier
    # revenue with the fact side prefiltered by a portable bloom filter
    # built from the dim side (functions/sketches.py: bloom_bits_auto /
    # bloom_might_contain — the by-hand equivalent of Spark's
    # spark.sql.optimizer.runtime.bloomFilter injection). The bitmap is
    # sized at 16-32 bits/key and built in ONE control-plane job over
    # the tiny dim side (r18, guide §1.2: the old shape paid a separate
    # count() job to size it, then a second dim scan to build it; the
    # fused aggregate returns count + bitmap together and folds to the
    # power-of-two size driver-side, bit-identical to building at that
    # size directly). It rides the probe scan as a literal (pure
    # codegen: k md5s + k shifts per row, zero joins), and drops ~24/25
    # of the fact rows BEFORE they reach the join; the broadcast join
    # after removes the bounded false-positive residue, so the oracle —
    # the PLAIN join SQL — proves the no-false-negative contract
    # end-to-end (the result is bloom-size-independent by construction).
    from .functions.sketches import bloom_bits_auto, bloom_might_contain

    nat4 = (
        supplier.join(
            F.broadcast(nation),
            supplier["s_nationkey"] == nation["n_nationkey"],
        )
        .filter(F.col("n_name") == "NATION_4")
        .select("s_suppkey")
    )
    bits, _m_bits = bloom_bits_auto(
        nat4, "s_suppkey", bits_per_key=16, k=5
    )
    rtf = (
        li.where(bloom_might_contain("l_suppkey", bits, k=5))
        .join(F.broadcast(nat4), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey")
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("val"))
        .select(
            F.lit("rtf_bloom_revenue").alias("query"),
            F.col("s_suppkey").cast("string").alias("k"),
            "val",
        )
    )

    return (
        q3.unionByName(q5)
        .unionByName(q7)
        .unionByName(q8)
        .unionByName(q9)
        .unionByName(q10)
        .unionByName(rtf)
    )


#: Persistent layout warehouse (r9, VERDICT r8 #3): staged physical
#: layouts (bucketed facts, z-ordered copies, date-partitioned copies)
#: live in a STABLE directory keyed by an md5 tag of the source dir,
#: with a parquet _SUCCESS-marker existence check — a real deployment
#: stages a layout once and amortizes it over every later run, so the
#: one-time write (the 6.1s bucketed restage PERF.md r8 flagged as
#: re-paid per process) is paid exactly once per corpus. Override the
#: root with $SPARK_GRAFT_WAREHOUSE; delete a layout dir to force a
#: cold restage. A dir WITHOUT its _SUCCESS marker (crashed write) is
#: wiped and rebuilt — the marker is the commit point.
GRAFT_WAREHOUSE = os.environ.get(
    "SPARK_GRAFT_WAREHOUSE",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".graft_warehouse",
    ),
)


def _sf_tag(sf_dir: str) -> str:
    """Stable per-corpus tag (process-independent — NOT hash(), which is
    seed-randomized per interpreter) used in layout paths and catalog
    table names."""
    import hashlib

    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]


def _layout_ready(path: str) -> bool:
    """True iff ``path`` holds a COMPLETE staged layout; wipes any
    half-written residue (no _SUCCESS marker) so the caller rebuilds."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return True
    if os.path.exists(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
    return False


def _register_external_bucketed(
    spark: SparkSession,
    name: str,
    path: str,
    keys: list[str],
    num_buckets: int,
) -> None:
    """Attach a previously staged bucketed parquet dir to THIS session's
    (in-memory) catalog: the files persist across processes but the
    catalog does not, so a warm start re-declares the same table over
    the same location with the same bucket spec. The schema is read from
    the parquet footers (one driver-side footer read, no data scan)."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    key_sql = ", ".join(f"`{k}`" for k in keys)
    spark.sql(
        f"CREATE TABLE `{name}` ({cols}) USING parquet "
        f"CLUSTERED BY ({key_sql}) SORTED BY ({key_sql}) "
        f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
    )


#: Per-sf_dir cache of the bucketed fact-table layouts (table names).
_BUCKETED_FACTS_CACHE: dict[str, tuple[str, str, str]] = {}

#: Wall-clock seconds of the last bucketed-layout attach: "stage" is the
#: cold write (0.0 when every table was found staged), "attach" the
#: warm catalog registration — read by bench.py as secondaries, so the
#: warm-vs-cold split VERDICT r8 #3 asked for is measured every run.
BUCKETED_STAGE_TIMINGS: dict[str, float] = {}


def bucketed_facts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Stage hash-bucketed fact-table layouts ONCE PER CORPUS (not per
    process — r9, VERDICT r8 #3) and return readers: (lineitem bucketed
    on l_orderkey, orders bucketed on o_orderkey, lineitem bucketed on
    l_partkey) — 16 buckets each, sorted within buckets on the bucket
    key.

    This is THE canonical 100 TB shuffle-elimination technique
    (operators/skew.py: write_bucketed_table), demonstrated r8 on the
    suite's fact-fact joins (VERDICT r7 #2): two tables bucketed on the
    same key with the same bucket count sort-merge-join with ZERO
    Exchange on either side, and every aggregation whose grouping keys
    CONTAIN the bucket key (e.g. groupBy(l_orderkey, l_suppkey) over
    the l_orderkey layout) also runs exchange-free — hash partitioning
    on a subset of the grouping keys already clusters the groups.

    Files live in the persistent ``GRAFT_WAREHOUSE``; a warm process
    finds the _SUCCESS-marked dirs and only re-attaches them to its
    in-memory catalog (CREATE TABLE ... LOCATION with the same bucket
    spec — spark.table preserves bucketing; a raw parquet read would
    lose it). The pytest Exchange-count pins guard the attach path: a
    spec mismatch would reintroduce Exchanges and fail loudly."""
    names = _BUCKETED_FACTS_CACHE.get(sf_dir)
    if names is None:
        from concurrent.futures import ThreadPoolExecutor

        from .operators.skew import write_bucketed_table

        tag = _sf_tag(sf_dir)
        root = os.path.join(GRAFT_WAREHOUSE, f"bucketed_{tag}")
        names = (f"li_ok_{tag}", f"ord_ok_{tag}", f"li_pk_{tag}")
        specs = (
            (names[0], "lineitem", "l_orderkey"),
            (names[1], "orders", "o_orderkey"),
            (names[2], "lineitem", "l_partkey"),
        )
        todo_cold: list[tuple[str, str, str, str]] = []
        todo_warm: list[tuple[str, str, str]] = []
        for name, src, key in specs:
            if spark.catalog.tableExists(name):
                continue
            path = os.path.join(root, name)
            if _layout_ready(path):
                todo_warm.append((name, path, key))
            else:
                todo_cold.append((name, src, key, path))
        # The three layouts are INDEPENDENT tables (distinct names,
        # distinct dirs, no shared state beyond the session), so the
        # cold stagings overlap from a driver pool (r18, guide §2.6):
        # each write's shuffle tail back-fills the others' idle cores
        # and the stage cost is max(), not sum(). The timing below is
        # the WALL of the overlapped block — the honest cost a cold
        # bench run pays (previously the sum of three serial writes).
        cold = warm = 0.0
        if todo_cold:
            t0 = time.time()

            def _stage(args: tuple[str, str, str, str]) -> None:
                name, src, key, path = args
                write_bucketed_table(
                    _t(spark, sf_dir, src), name,
                    [key], num_buckets=16, sort_keys=[key], path=path,
                )

            with ThreadPoolExecutor(max_workers=len(todo_cold)) as pool:
                list(pool.map(_stage, todo_cold))
            cold = time.time() - t0
        if todo_warm:
            t0 = time.time()
            for name, path, key in todo_warm:
                _register_external_bucketed(spark, name, path, [key], 16)
            warm = time.time() - t0
        BUCKETED_STAGE_TIMINGS["stage"] = round(cold, 3)
        BUCKETED_STAGE_TIMINGS["attach"] = round(warm, 3)
        _BUCKETED_FACTS_CACHE[sf_dir] = names
    return tuple(spark.table(n) for n in names)  # type: ignore[return-value]


def partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Stage a hive-style DATE-PARTITIONED copy of ``orders`` ONCE per
    corpus (persistent ``GRAFT_WAREHOUSE``, _SUCCESS-checked like
    :func:`bucketed_facts`) and return its path: files laid out as
    ``o_month=yyyy-MM/part-*.parquet`` — the FIRST physical-design
    technique a 100 TB time-series warehouse reaches for (r9, VERDICT
    r8 #1). A month predicate then prunes whole directories at PLANNING
    time (`PartitionFilters` on the scan, non-matching files never
    listed into tasks), and a join through a filtered dim prunes them at
    RUNTIME via dynamic partition pruning — both demonstrated by the
    `prune_static_month` / `dpp_month_revenue` sections of
    tpch_grouped_suite against the plain-table SQL oracle.

    The write repartitions by the partition column first so each month
    directory holds ONE file instead of one per shuffle task — the
    small-files discipline that matters at 1000 executors."""
    path = os.path.join(
        GRAFT_WAREHOUSE, f"part_{_sf_tag(sf_dir)}", "orders_by_month"
    )
    if not _layout_ready(path):
        (
            _t(spark, sf_dir, "orders")
            .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
            .repartition("o_month")
            .write.partitionBy("o_month")
            .parquet(path)
        )
    return path


def _register_external_part_bucketed(
    spark: SparkSession,
    name: str,
    path: str,
    partition_col: str,
    keys: list[str],
    num_buckets: int,
    partition_type: str = "string",
) -> None:
    """Warm-attach a previously staged partitioned AND bucketed parquet
    dir to this session's in-memory catalog: declare the same partition
    + bucket spec over the same location, then recover the partition
    list from the directory names (MSCK) — metadata-only, no data scan.
    A raw parquet read would keep the partition pruning but LOSE the
    bucket spec; only a catalog table carries both.

    The partition column's type is passed EXPLICITLY by the caller
    (ADVICE r10): deriving it from Spark's directory-name inference is
    safe for 'yyyy-MM' strings but would declare e.g. ``int`` for
    numeric-looking partition values, diverging from the string type
    the cold ``saveAsTable`` wrote — warm sessions must attach the
    schema the writer declared, not the one the directory names
    suggest."""
    schema = spark.read.option("basePath", path).parquet(path).schema
    data_cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in schema.fields
        if f.name != partition_col
    )
    key_sql = ", ".join(f"`{k}`" for k in keys)
    spark.sql(
        f"CREATE TABLE `{name}` ({data_cols}, "
        f"`{partition_col}` {partition_type}) USING parquet "
        f"PARTITIONED BY (`{partition_col}`) "
        f"CLUSTERED BY ({key_sql}) SORTED BY ({key_sql}) "
        f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE `{name}`")


def part_bucketed_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """Stage the COMPOSED physical layout of a 100 TB fact table — month
    partitions × orderkey hash buckets (r10, VERDICT r9 #6) — ONCE per
    corpus and return its catalog table name. ``partitioned_orders``
    proves directory pruning and ``bucketed_facts`` proves shuffle
    elimination; real warehouses need BOTH on the same table: time
    predicates prune whole month directories at planning time while the
    bucket spec inside each partition still co-locates the orderkey
    join, so a month-windowed fact-fact join reads a fraction of the
    table AND joins it with zero pre-join Exchange. Demonstrated by the
    ``pb_prune_bucket_join`` section of tpch_grouped_suite against the
    plain-table SQL oracle; the pytest pins PartitionFilters + the
    single post-join Exchange.

    Layout: ``l_month=yyyy-MM/`` dirs, 16 l_orderkey buckets sorted on
    l_orderkey within each partition (matching ``bucketed_facts``'
    orders layout, so the join is bucket-aligned). Files persist in
    ``GRAFT_WAREHOUSE``; a warm process re-attaches via CREATE TABLE +
    MSCK (partition recovery is directory listing, no data scan)."""
    tag = _sf_tag(sf_dir)
    name = f"li_mb_{tag}"
    if spark.catalog.tableExists(name):
        return name
    path = os.path.join(GRAFT_WAREHOUSE, f"partbucket_{tag}", "lineitem_mb")
    if _layout_ready(path):
        _register_external_part_bucketed(
            spark, name, path, "l_month", ["l_orderkey"], 16
        )
    else:
        (
            _t(spark, sf_dir, "lineitem")
            .withColumn("l_month", F.date_format("l_shipdate", "yyyy-MM"))
            .write.partitionBy("l_month")
            .bucketBy(16, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", path)
            .saveAsTable(name)
        )
    return name


#: The two months whose first load backfilled_orders deliberately
#: corrupts and then repairs via dynamic partition overwrite.
_BACKFILL_MONTHS = ("1997-03", "1997-04")


def backfilled_orders(spark: SparkSession, sf_dir: str) -> str:
    """Stage a month-partitioned orders copy through a CORRUPT-then-
    BACKFILL lifecycle (r9) and return its path — the idempotent-rerun
    primitive every 100 TB warehouse operates on, driver-checked:

    1. BAD FIRST LOAD: the full table is written partitioned by
       o_month, but the two ``_BACKFILL_MONTHS`` land corrupted —
       every o_totalprice doubled and every 10th order dropped (a
       double-apply + partial-failure batch, the two classic bad-load
       shapes).
    2. BACKFILL: the TRUE rows for exactly those two months are
       re-written via :func:`sources.layout.overwrite_partitions`
       (dynamic partition overwrite). Only the two corrupt directories
       are replaced; the other ~78 month partitions are never rewritten.

    The ``a_extended`` 'backfill' section then aggregates the WHOLE
    table per month against the plain-table SQL oracle. TEETH: the
    corruption surviving (doubled sums / missing rows), STATIC
    overwrite semantics (all sibling months truncated), or an
    append-instead-of-overwrite backfill (doubled counts) each break
    the driver hash.

    Crash discipline: the root ``_SUCCESS`` from the bad first load is
    removed before the backfill runs and re-created by its job commit,
    so a process dying between the two writes leaves no ready-marker
    and the next cold start rebuilds (the corrupt load itself is a
    demonstration fixture — production backfills repair REAL bad
    batches and need no such staging)."""
    from .sources.layout import overwrite_partitions

    path = os.path.join(
        GRAFT_WAREHOUSE, f"backfill_{_sf_tag(sf_dir)}", "orders_by_month"
    )
    if not _layout_ready(path):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        bad = F.col("o_month").isin(*_BACKFILL_MONTHS)
        corrupt = po.withColumn(
            "o_totalprice",
            F.when(bad, F.col("o_totalprice") * 2).otherwise(
                F.col("o_totalprice")
            ),
        ).filter(~(bad & (F.col("o_orderkey") % 10 == 0)))
        (
            corrupt.repartition("o_month")
            .write.partitionBy("o_month")
            .parquet(path)
        )
        os.remove(os.path.join(path, "_SUCCESS"))
        overwrite_partitions(po.filter(bad), path, "o_month")
    return path


#: Stats of the one-time small-files compaction (cold stage only):
#: {"partitions_compacted", "files_before", "files_after", "seconds"} —
#: read by tests and recorded in PERF.md.
COMPACT_STATS: dict[str, float] = {}


def compacted_orders(spark: SparkSession, sf_dir: str) -> str:
    """Stage a month-partitioned orders copy through a FRAGMENT-then-
    OPTIMIZE lifecycle (r9) and return its path — the small-files
    maintenance op a 100 TB warehouse runs continuously, driver-checked:

    1. FRAGMENTED LOAD: the table is written partitioned by o_month
       WITHOUT the repartition-by-partition-column discipline
       (``repartition(8)`` round-robin first), so every month directory
       lands ~8 shard files — exactly the shape per-batch streaming
       ingest and incremental backfills leave behind.
    2. OPTIMIZE: :func:`sources.layout.compact_partitions` plans from
       parquet-footer metadata only, reads JUST the fragmented
       partitions, and rewrites each to ~target-size files (here: one
       per month) via dynamic partition overwrite + maxRecordsPerFile.

    The ``a_extended`` 'compact' section then aggregates the WHOLE
    compacted table per month against the plain-table SQL oracle —
    a compaction that loses, duplicates, or corrupts rows breaks the
    driver hash. File-count semantics (8ish -> 1 per month, no-op
    re-run) are pytest-pinned; the one-time stats land in
    ``COMPACT_STATS``. Crash discipline as in :func:`backfilled_orders`:
    the fragmented load's root ``_SUCCESS`` is dropped before compaction
    and re-created by its job commit."""
    from .sources.layout import compact_partitions

    path = os.path.join(
        GRAFT_WAREHOUSE, f"compact_{_sf_tag(sf_dir)}", "orders_by_month"
    )
    if not _layout_ready(path):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        po.repartition(8).write.partitionBy("o_month").parquet(path)
        os.remove(os.path.join(path, "_SUCCESS"))
        t0 = time.time()
        stats = compact_partitions(spark, path, "o_month")
        COMPACT_STATS.update(stats)
        COMPACT_STATS["seconds"] = round(time.time() - t0, 3)
        # compact_partitions' early return (nothing fragmented — possible
        # at tiny sf where repartition(8) leaves <=1 file per month)
        # performs no Spark write, so the job-commit _SUCCESS never
        # reappears and _layout_ready would wipe-and-rebuild the staging
        # on EVERY call while COMPACT_STATS reported a misleading
        # 0-compaction run each time (ADVICE r9). The table is complete
        # either way — re-create the marker explicitly.
        marker = os.path.join(path, "_SUCCESS")
        if not os.path.exists(marker):
            open(marker, "w").close()
    return path


#: Stats of the one-time snapshot compaction (cold stage only), same
#: shape as COMPACT_STATS plus old/new version — read by tests.
SNAPSHOT_STATS: dict[str, float] = {}

#: Filled by merged_snapshot_orders' one-time snapshot_merge (bench.py
#: reports it as a secondary alongside SNAPSHOT_STATS).
MERGE_STATS: dict[str, float] = {}


def _snapshot_stale(path: str, expect_version: int = 2) -> bool:
    """True when a warehouse snapshot table needs (re)staging: never
    committed, committed under the pre-manifest layout (r11 staged dirs
    carry _COMMITTED but no _manifests/), or committed below
    ``expect_version`` (both stagers commit exactly twice — load +
    maintenance — so a lower pointer is a crashed stage). Stale dirs
    are wiped and rebuilt the same way a crashed layout dir without
    its _SUCCESS marker is."""
    import shutil

    from .sources.layout import _manifest_read, _snapshot_committed

    committed = _snapshot_committed(path)
    if (
        committed is not None
        and committed >= expect_version
        and _manifest_read(path, committed) is not None
    ):
        return False
    shutil.rmtree(path, ignore_errors=True)
    return True


def snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage a SNAPSHOT-POINTER-versioned month-partitioned orders copy
    through a fragment-then-OPTIMIZE lifecycle (r11, VERDICT r10 #6;
    manifest commits since r12) and return the committed snapshot as a
    DataFrame — the concurrent-reader-safe twin of
    :func:`compacted_orders`:

    1. FRAGMENTED LOAD: ``snapshot_write(shards=8)`` lands v1 with ~8
       shard files per month dir, writes the v1 manifest, and commits
       the ``_COMMITTED`` pointer.
    2. OPTIMIZE + ZORDER: :func:`sources.layout.snapshot_compact`
       stages v2 — a maxRecordsPerFile-bounded rewrite of the
       fragmented partitions only, CLUSTERED on the interleaved
       z-order of (o_orderkey, o_totalprice) (r12: the Delta-style
       ``OPTIMIZE ... ZORDER BY`` combo, so the driver hash also
       proves the z-order rewrite loses/duplicates/corrupts nothing);
       every right-sized partition's existing data dir is
       RE-REFERENCED in the v2 manifest (no per-file work) — then
       swaps the pointer. v1's files are never modified or deleted, so
       a reader that resolved v1 before (or during) the optimize scans
       consistent data throughout.

    The ``a_extended`` 'snapshot' section aggregates the committed
    snapshot per month against the plain-table SQL oracle — a pointer
    naming a wrong/partial version, lost/duplicated rows in the staged
    v2, or a re-referenced partition resolving to wrong data all break
    the driver hash. Pointer-swap atomicity, reader isolation, no-op
    re-runs and O(touched) commit metadata are
    pytest-pinned (tests/test_pipeline_infra.py)."""
    from .sources.layout import snapshot_compact, snapshot_read, snapshot_write

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_by_month"
    )
    if _snapshot_stale(path):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        snapshot_write(po, path, "o_month", shards=8)
        t0 = time.time()
        stats = snapshot_compact(
            spark, path, "o_month",
            zorder_cols=["o_orderkey", "o_totalprice"],
        )
        SNAPSHOT_STATS.update(stats)
        SNAPSHOT_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


def merged_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage a second snapshot-pointer orders table and run ONE
    deterministic row-level MERGE (:func:`sources.layout.snapshot_merge`)
    through it — every MERGE verb in one batch, all keyed off
    o_orderkey residues so the SQL oracle can reconstruct the exact
    final state from the plain table:

    - DELETE:  keys % 101 == 0;
    - MOVE:    keys % 107 == 0 (not deleted) re-home to partition
      '1999-12' — the key-moves-partition case a backfill-by-batch-
      partition cannot express (both old and new homes rewrite);
    - UPDATE:  keys % 97 == 0 (not deleted/moved) get o_totalprice+1.0
      (the +1 stays in DOUBLE on both engines; aggregation casts to
      decimal after, like every price sum here);
    - INSERT:  keys % 103 == 0 (excluding key 0, whose negation -0
      would collide with its own %101 delete — a MERGE batch carries
      ONE change per key by contract, enforced since r12) are copied
      with key -k (guaranteed absent) into their own month.

    The ``a_extended`` 'merge' section aggregates the merged committed
    snapshot per month; a wrong verb precedence, a lost old-home row on
    the move path, or a re-referenced untouched month resolving wrong
    all break the driver hash. Returns the committed snapshot
    DataFrame (v2 spans two version roots — v1's untouched months plus
    v2's rewritten ones — exactly the multi-root read
    :func:`sources.layout.snapshot_read` exists for)."""
    from .sources.layout import snapshot_merge, snapshot_read, snapshot_write

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_merged"
    )
    if _snapshot_stale(path):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        snapshot_write(po, path, "o_month")
        k = F.col("o_orderkey")
        upd = (
            po.filter((k % 97 == 0) & (k % 101 != 0) & (k % 107 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .withColumn("_del", F.lit(False))
        )
        dele = po.filter(k % 101 == 0).withColumn("_del", F.lit(True))
        mov = (
            po.filter((k % 107 == 0) & (k % 101 != 0))
            .withColumn("o_month", F.lit("1999-12"))
            .withColumn("_del", F.lit(False))
        )
        ins = (
            po.filter((k % 103 == 0) & (k != 0))
            .withColumn("o_orderkey", -k)
            .withColumn("_del", F.lit(False))
        )
        batch = (
            upd.unionByName(dele).unionByName(mov).unionByName(ins)
        )
        t0 = time.time()
        stats = snapshot_merge(
            spark, batch, path, "o_month", ["o_orderkey"], delete_col="_del"
        )
        MERGE_STATS.update(stats)
        MERGE_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by merged_snapshot_orders_mc's one-time composite-partition
#: snapshot_merge (observability only; correctness rides the driver
#: hash of the 'merge_mc' section).
MERGE_MC_STATS: dict[str, float] = {}


def merged_snapshot_orders_mc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-partition MERGE round trip (r13, VERDICT r12 #3): the
    snapshot table partitions on TWO columns ``(o_year, o_mm)`` —
    the (date, hour)-style layout real 100 TB tables use — and one
    deterministic batch exercises every MERGE verb across the
    composite key space:

    - DELETE: keys % 109 == 0;
    - MOVE:   keys % 127 == 0 (not deleted) re-home to partition
      ('1999', '12') — BOTH composite legs change, so both the old
      (year, month) home and the new one rewrite;
    - UPDATE: keys % 113 == 0 (not deleted/moved) get o_totalprice+2.0;
    - INSERT: keys % 131 == 0 (excluding key 0) copied with key -k
      into their own (year, month).

    The ``a_extended`` 'merge_mc' section aggregates the committed
    snapshot per (o_year, o_mm) against the SQL-reconstructed final
    state; manifest keys are 'year/month' composites, the probe prunes
    on o_orderkey manifest stats exactly as the single-column layout
    does, and untouched (year, month) leaves are re-referenced."""
    from .sources.layout import snapshot_merge, snapshot_read, snapshot_write

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_merged_mc"
    )
    if _snapshot_stale(path):
        po = (
            _t(spark, sf_dir, "orders")
            .withColumn("o_year", F.date_format("o_orderdate", "yyyy"))
            .withColumn("o_mm", F.date_format("o_orderdate", "MM"))
        )
        snapshot_write(po, path, ["o_year", "o_mm"])
        k = F.col("o_orderkey")
        dele = po.filter(k % 109 == 0).withColumn("_del", F.lit(True))
        mov = (
            po.filter((k % 127 == 0) & (k % 109 != 0))
            .withColumn("o_year", F.lit("1999"))
            .withColumn("o_mm", F.lit("12"))
            .withColumn("_del", F.lit(False))
        )
        upd = (
            po.filter((k % 113 == 0) & (k % 109 != 0) & (k % 127 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
            .withColumn("_del", F.lit(False))
        )
        ins = (
            po.filter((k % 131 == 0) & (k != 0))
            .withColumn("o_orderkey", -k)
            .withColumn("_del", F.lit(False))
        )
        batch = (
            upd.unionByName(dele).unionByName(mov).unionByName(ins)
        )
        t0 = time.time()
        stats = snapshot_merge(
            spark, batch, path, ["o_year", "o_mm"], ["o_orderkey"],
            delete_col="_del",
        )
        MERGE_MC_STATS.update(stats)
        MERGE_MC_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by merged_snapshot_orders_pc's one-time partial-column merge.
MERGE_PC_STATS: dict[str, float] = {}


def merged_snapshot_orders_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-row MERGE round trip (r13, VERDICT r12 #5): the batch
    carries ONLY (o_orderkey, o_month, o_totalprice, _del) — the
    changed-columns-only shape CDC feeds commonly emit — and
    ``snapshot_merge(update_cols=["o_totalprice"])`` applies it:

    - DELETE: keys % 101 == 0;
    - UPDATE: keys % 97 == 0 (not deleted) get o_totalprice+3.0 while
      every OTHER column (o_custkey, o_orderstatus, ...) keeps its
      current value — the partial-update contract;
    - INSERT: keys % 103 == 0 (excluding 0) land as -k with
      o_totalprice carried and every uncarried column NULL.

    The ``a_extended`` 'merge_pc' section checks per month: row count,
    price sum (updates applied), and the NON-NULL count of o_custkey —
    which breaks if a partial update nulls out uncarried columns
    (matched rows must keep custkey) or an insert fabricates one."""
    from .sources.layout import snapshot_merge, snapshot_read, snapshot_write

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_merged_pc"
    )
    if _snapshot_stale(path):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        snapshot_write(po, path, "o_month")
        k = F.col("o_orderkey")
        slim = po.select("o_orderkey", "o_month", "o_totalprice")
        dele = slim.filter(k % 101 == 0).withColumn("_del", F.lit(True))
        upd = (
            slim.filter((k % 97 == 0) & (k % 101 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(3.0))
            .withColumn("_del", F.lit(False))
        )
        ins = (
            slim.filter((k % 103 == 0) & (k != 0))
            .withColumn("o_orderkey", -k)
            .withColumn("_del", F.lit(False))
        )
        batch = upd.unionByName(dele).unionByName(ins)
        t0 = time.time()
        stats = snapshot_merge(
            spark, batch, path, "o_month", ["o_orderkey"],
            delete_col="_del", update_cols=["o_totalprice"],
        )
        MERGE_PC_STATS.update(stats)
        MERGE_PC_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by merged_snapshot_orders_tf's one-time transform-partitioned
#: merge (r14, VERDICT r13 #5).
MERGE_TF_STATS: dict[str, float] = {}


def merged_snapshot_orders_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-transform partition MERGE round trip (r14, VERDICT r13
    #5 — Iceberg's days()/bucket() shape): the snapshot table
    partitions on ``months(o_orderdate)`` x ``bucket(8, o_orderkey)``
    — DERIVED columns that exist only in the directory layout; the
    table's declared schema stays the plain ``orders`` columns and
    reads never return the derived values. One deterministic batch
    keyed on the transform SOURCES ``(o_orderkey, o_orderdate)``:

    - DELETE: keys % 107 == 0;
    - UPDATE: keys % 89 == 0 (not deleted) get o_totalprice+1.5;
    - INSERT: keys % 97 == 0 (excluding 0) copied with key -k.

    Because every partition leg derives from a key column, the merge
    probes EXACTLY the batch's derived partitions — through the bucket
    transform, where no min/max range could prune (layout.py
    ``_pspec``/``_part_key_col``; exact-scope path in
    ``snapshot_merge``). The ``a_extended`` 'merge_tf' section
    aggregates the committed snapshot per o_orderdate month — computed
    from the DATA column, since the partition columns are hidden —
    against the SQL-reconstructed final state."""
    from .sources.layout import snapshot_merge, snapshot_read, snapshot_write

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_merged_tf"
    )
    spec = {
        "o_ym": ("months", "o_orderdate"),
        "okb": ("bucket", 8, "o_orderkey"),
    }
    if _snapshot_stale(path):
        po = _t(spark, sf_dir, "orders")
        snapshot_write(po, path, spec)
        k = F.col("o_orderkey")
        dele = po.filter(k % 107 == 0).withColumn("_del", F.lit(True))
        upd = (
            po.filter((k % 89 == 0) & (k % 107 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.5))
            .withColumn("_del", F.lit(False))
        )
        ins = (
            po.filter((k % 97 == 0) & (k != 0))
            .withColumn("o_orderkey", -k)
            .withColumn("_del", F.lit(False))
        )
        batch = upd.unionByName(dele).unionByName(ins)
        t0 = time.time()
        stats = snapshot_merge(
            spark, batch, path, spec, ["o_orderkey", "o_orderdate"],
            delete_col="_del",
        )
        MERGE_TF_STATS.update(stats)
        MERGE_TF_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by respec_snapshot_orders's one-time evolve/merge lifecycle
#: (observability only; correctness rides the 'respec' section hash).
RESPEC_STATS: dict[str, float] = {}


def respec_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION round trip (r14): the orders snapshot
    loads month-partitioned, then ``snapshot_evolve_partitioning``
    switches it to ``bucket(8, o_orderkey)`` hidden partitioning as a
    pure-metadata commit (zero data moved — asserted into
    RESPEC_STATS), and one every-verb MERGE lands on the MIXED-spec
    table: its probe must find matched homes in the OLD month layout
    (scoped resolves are disabled mid-migration), rewrite them under
    the NEW bucket layout (lazy migration), and land inserts in their
    bucket homes:

    - DELETE: keys % 137 == 0;
    - UPDATE: keys % 139 == 0 (not deleted) get o_totalprice + 4.0;
    - INSERT: keys % 149 == 0 (excluding 0) copied with key -k.

    The ``a_extended`` 'respec' section aggregates the committed
    snapshot per o_orderdate month — from the DATA column, since after
    evolution the partition layout is hidden — against the
    SQL-reconstructed final state. A matched home missed in the old
    layout (duplicate rows), a dropped old-spec partition, or a
    mis-derived bucket directory all break the hash."""
    from .sources.layout import (
        snapshot_evolve_partitioning,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_respec"
    )
    spec = {"okb": ("bucket", 8, "o_orderkey")}
    if _snapshot_stale(path, expect_version=3):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        snapshot_write(po, path, "o_month")
        t0 = time.time()
        ev = snapshot_evolve_partitioning(path, spec)
        k = F.col("o_orderkey")
        dele = po.filter(k % 137 == 0).withColumn("_del", F.lit(True))
        upd = (
            po.filter((k % 139 == 0) & (k % 137 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(4.0))
            .withColumn("_del", F.lit(False))
        )
        ins = (
            po.filter((k % 149 == 0) & (k != 0))
            .withColumn("o_orderkey", -k)
            .withColumn("_del", F.lit(False))
        )
        st = snapshot_merge(
            spark, upd.unionByName(dele).unionByName(ins),
            path, spec, ["o_orderkey"], delete_col="_del",
        )
        RESPEC_STATS.update(
            {f"evolve_{a}": b for a, b in ev.items()}
            | {f"merge_{a}": b for a, b in st.items()}
        )
        RESPEC_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by mor_snapshot_orders's one-time delete/merge lifecycle
#: (observability only; correctness rides the 'mor' section hash).
MOR_STATS: dict[str, float] = {}


def mor_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete round trip (r14): the month-partitioned
    orders snapshot takes two ``snapshot_delete`` commits — Iceberg's
    equality-delete shape, where each commit writes per-partition
    DELETE FILES and re-references every data directory unchanged
    (``sources/layout.py: snapshot_delete``; zero data rewritten,
    asserted into MOR_STATS) — then one copy-on-write
    ``snapshot_merge`` re-inserts a subset of the deleted keys, which
    rewrites THEIR months (reconciling those partitions' delete files)
    while every other month still carries outstanding deletes the
    read-time anti-join must apply:

    - MOR DELETE #1: keys % 97 == 0;
    - MOR DELETE #2: keys % 89 == 0 (a second delete-file generation
      appended onto partitions the first already touched);
    - COW RE-INSERT: keys % 291 == 0 (a subset of the %97 deletes)
      come back with o_totalprice + 10.0.

    The ``a_extended`` 'mor' section aggregates the committed snapshot
    per month against the SQL-reconstructed final state: a delete row
    leaking through the anti-join, a re-inserted row shadowed by a
    stale delete file, or a reconciled partition still dropping rows
    all break the driver hash."""
    from .sources.layout import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_mor"
    )
    if _snapshot_stale(path, expect_version=4):
        po = _t(spark, sf_dir, "orders").withColumn(
            "o_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        snapshot_write(po, path, "o_month", key_bloom=["o_orderkey"])
        k = F.col("o_orderkey")
        t0 = time.time()
        st1 = snapshot_delete(
            spark,
            po.filter(k % 97 == 0).select("o_orderkey"),
            path, "o_month", ["o_orderkey"],
        )
        st2 = snapshot_delete(
            spark,
            po.filter(k % 89 == 0).select("o_orderkey"),
            path, "o_month", ["o_orderkey"],
        )
        reins = po.filter(k % 291 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(10.0)
        )
        st3 = snapshot_merge(
            spark, reins, path, "o_month", ["o_orderkey"]
        )
        MOR_STATS.update(
            {f"d1_{a}": b for a, b in st1.items()}
            | {f"d2_{a}": b for a, b in st2.items()}
            | {f"reins_{a}": b for a, b in st3.items()}
        )
        MOR_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by evolve_snapshot_orders's one-time schema-evolution
#: lifecycle (observability only; correctness rides the 'evolve'
#: section hash).
EVOLVE_STATS: dict[str, float] = {}


def evolve_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION round trip (r15, VERDICT r14 #3): the
    month-partitioned orders snapshot runs every evolution verb as a
    metadata-only commit (``sources/layout.py:
    snapshot_evolve_schema`` — stable field ids, per-root schema_log,
    zero data rewritten), with a MERGE after each stage so mixed
    pre/post-evolution roots sit in one table:

    - v1 write: (o_month, o_orderkey BIGINT, kmod INT =
      o_orderkey %% 100000, o_orderpriority, o_totalprice);
    - v2 evolve: add ``flag`` string, rename o_orderpriority ->
      ``clerk``, widen kmod INT -> BIGINT (read-time cast, no
      rewrite — scale-safe: the MERGE key stays bigint end to end,
      so sf1.0+ keys above 2^31 never squeeze through an int);
    - v3 merge: keys %131 update price+7.0 flag='m1' (full rows,
      carrying the RENAMED clerk), keys %163 insert as -k flag='m1i';
    - v4 evolve: drop ``clerk``  — then v5 evolve: re-add ``clerk``
      (same NAME, fresh field id: the v1/v3 roots' clerk values must
      NOT resurrect);
    - v6 merge: keys %173 insert as -(k + MAXKEY + 1) with clerk='c2'
      flag='m2' — the only rows whose clerk is non-NULL (the MAXKEY
      offset keeps the two insert key ranges disjoint at ANY scale
      factor, where a fixed offset collided once keys out-grew it).

    The ``a_extended`` 'evolve' section aggregates the final state per
    month — count, price sum, kmod sum (pins the widened values),
    flag count, clerk count (pins the drop+re-add trap) — against the
    SQL-reconstructed final state."""
    from .sources.layout import (
        snapshot_evolve_schema,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_evolve"
    )
    if _snapshot_stale(path, expect_version=6):
        po = _t(spark, sf_dir, "orders").select(
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.pmod(F.col("o_orderkey"), F.lit(100000))
            .cast("int")
            .alias("kmod"),
            "o_orderpriority",
            "o_totalprice",
        )
        snapshot_write(po, path, "o_month")
        maxkey = po.agg(F.max("o_orderkey")).first()[0]
        t0 = time.time()
        ev = snapshot_evolve_schema(
            path,
            add={"flag": "string"},
            rename={"o_orderpriority": "clerk"},
            widen={"kmod": "bigint"},
        )
        k = F.col("o_orderkey")
        po2 = po.select(
            "o_month",
            "o_orderkey",
            F.col("kmod").cast("bigint").alias("kmod"),
            F.col("o_orderpriority").alias("clerk"),
            "o_totalprice",
        )
        upd = po2.filter(k % 131 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(7.0)
        ).withColumn("flag", F.lit("m1"))
        ins = po2.filter((k % 163 == 0) & (k != 0)).withColumn(
            "o_orderkey", -F.col("o_orderkey")
        ).withColumn("flag", F.lit("m1i"))
        st1 = snapshot_merge(
            spark, upd.unionByName(ins), path, "o_month",
            ["o_orderkey"],
        )
        snapshot_evolve_schema(path, drop=["clerk"])
        snapshot_evolve_schema(path, add={"clerk": "string"})
        ins2 = po2.filter((k % 173 == 0) & (k != 0)).select(
            "o_month",
            (-(F.col("o_orderkey") + F.lit(int(maxkey) + 1)))
            .alias("o_orderkey"),
            "kmod",
            (F.col("o_totalprice") + F.lit(2.0)).alias("o_totalprice"),
            F.lit("m2").alias("flag"),
            F.lit("c2").alias("clerk"),
        )
        st2 = snapshot_merge(
            spark, ins2, path, "o_month", ["o_orderkey"]
        )
        EVOLVE_STATS.update(
            {f"evolve_{a}": b for a, b in ev.items()}
            | {f"m1_{a}": b for a, b in st1.items()}
            | {f"m2_{a}": b for a, b in st2.items()}
        )
        EVOLVE_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, path)


#: Filled by cdf_snapshot_orders's one-time src->dst pipeline
#: (observability only; correctness rides the 'cdf' section hash).
CDF_STATS: dict[str, float] = {}


def cdf_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE CHANGE-DATA-FEED chain (r15, VERDICT r14 #4):
    a source orders snapshot takes two merge commits after its load
    (%113 update price+3.0; %127 insert -k; then %119 DELETE), and
    ``streaming.apply_cdf_to_snapshot`` drains the commit windows into
    an independently-loaded DESTINATION table through per-window
    merges carrying the source version as an idempotence token in the
    destination's version file. The applier runs TWICE — the second
    pass must deliver zero windows (cursor) and the token makes any
    redelivered window a no-op (pinned in pytest with a mid-window
    crash). The ``a_extended`` 'cdf' section aggregates the
    DESTINATION per month against the SQL-reconstructed SOURCE final
    state: a dropped window, a double-applied window, or a
    mis-shaped update (delete+insert pair) all break the hash."""
    from .sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )
    from .streaming import apply_cdf_to_snapshot

    src = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_cdfsrc"
    )
    dst = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_cdfdst"
    )
    stale_src = _snapshot_stale(src, expect_version=3)
    stale_dst = _snapshot_stale(dst, expect_version=3)
    if stale_src or stale_dst:
        import shutil

        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(dst, ignore_errors=True)
        po = _t(spark, sf_dir, "orders").select(
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
            "o_orderkey",
            "o_totalprice",
        )
        # src and dst are INDEPENDENT tables loaded from the same
        # source plan — overlap the two base loads from a driver pool
        # (r18, guide §2.6): the stage pays max(write) not sum(write);
        # the commit chains that follow touch only their own table.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as _pool:
            for _f in [
                _pool.submit(snapshot_write, po, p, "o_month")
                for p in (src, dst)
            ]:
                _f.result()
        k = F.col("o_orderkey")
        t0 = time.time()
        upd = po.filter(k % 113 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(3.0)
        )
        ins = po.filter((k % 127 == 0) & (k != 0)).withColumn(
            "o_orderkey", -k
        )
        # r18: VERDICT r17 #6 proposed landing these two commits as
        # MERGE-ON-READ; measured (OPTIMIZATION_r18.md §4, same
        # process A/B) the MOR chain is NOT faster — src commits were
        # equal-to-slower and the applier got consistently SLOWER
        # (diff windows read through dv/ap refs), because per-commit
        # FIXED cost (probe/validate/stat jobs) dominates at this
        # scale, not the partition rewrite. The probe DID expose a
        # latent snapshot_diff bug (ap-only partitions missing from
        # the change signature — fixed in layout.py, test-pinned),
        # so the COW shape stays deliberately.
        snapshot_merge(
            spark, upd.unionByName(ins), src, "o_month", ["o_orderkey"]
        )
        dele = po.filter(k % 119 == 0).withColumn("_d", F.lit(True))
        snapshot_merge(
            spark, dele, src, "o_month", ["o_orderkey"],
            delete_col="_d",
        )
        st1 = apply_cdf_to_snapshot(
            spark, src, dst, "o_month", ["o_orderkey"], start_version=1
        )
        st2 = apply_cdf_to_snapshot(
            spark, src, dst, "o_month", ["o_orderkey"]
        )
        assert st2["delivered"] == 0, "cursor failed to advance"
        CDF_STATS.update(
            {f"p1_{a}": b for a, b in st1.items()}
            | {f"p2_{a}": b for a, b in st2.items()}
        )
        CDF_STATS["seconds"] = round(time.time() - t0, 3)
    return snapshot_read(spark, dst)


def cdf_update_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month tag counts of the 4-TAG CDC window over the CDF
    source's first commit (r16, VERDICT r15 #5):
    ``snapshot_diff(update_keys=[...])`` re-tags a same-key
    delete+insert pair as 'update_preimage'/'update_postimage' (Delta
    CDF parity), so the window's %113 price updates must surface as
    exactly one pre+post pair each, the %127 inserts as plain
    'insert', and nothing as 'delete'. Rides cdf_snapshot_orders'
    staged source (warm: zero staging cost)."""
    from .sources.layout import snapshot_diff

    cdf_snapshot_orders(spark, sf_dir)  # ensure the chain is staged
    src = os.path.join(
        GRAFT_WAREHOUSE, f"snapshot_{_sf_tag(sf_dir)}", "orders_cdfsrc"
    )
    d = snapshot_diff(
        spark, src, 1, 2, "o_month", update_keys=["o_orderkey"]
    )

    def n_of(tag: str) -> F.Column:
        return (
            F.count(F.when(F.col("_change") == tag, F.lit(1)))
            .cast("double")
        )

    return d.groupBy("o_month").agg(
        n_of("update_preimage").alias("_pre"),
        n_of("update_postimage").alias("_post"),
        n_of("insert").alias("_ins"),
        n_of("delete").alias("_del"),
    )


def calendar_months(spark: SparkSession) -> DataFrame:
    """Tiny generated calendar-month dimension (1995-01 .. 2001-12):
    (cal_month 'yyyy-MM', cal_year, cal_quarter). The dim side of the
    DPP demonstration — its filters are on attributes (year, quarter)
    the fact's partition column doesn't carry, so pruning the fact's
    month directories can only happen DYNAMICALLY through the join."""
    return (
        spark.range(0, 84)
        .select(
            F.add_months(F.lit("1995-01-01"), F.col("id").cast("int")).alias(
                "m0"
            )
        )
        .select(
            F.date_format("m0", "yyyy-MM").alias("cal_month"),
            F.year("m0").alias("cal_year"),
            F.quarter("m0").alias("cal_quarter"),
        )
    )


def _q21_sole_late_shipper(
    li: DataFrame, orders: DataFrame, tag: str, cluster_once: bool = False
) -> DataFrame:
    """Q21's double-correlated EXISTS/NOT-EXISTS as the scalable
    GROUP-REWRITE (one per-(order, supplier) aggregate, one per-order
    aggregate, one join back). Parameterized over the fact inputs so the
    plain and bucketed layouts run the same logical pipeline — only the
    physical Exchange placement differs (zero fact-fact Exchanges on
    the bucketed path).

    ``cluster_once`` (r18, guide §2.4 "establish the partitioning
    once"): the pipeline's three keyed steps — groupBy(order, supplier),
    groupBy(order), join-back on order — can all share ONE orderkey
    exchange, because hash(order) clusters every (order, supplier)
    group too. Without it Spark plans hash(order, supplier) for the
    first aggregate and re-shuffles for each following step (three
    pair-set-sized exchanges; measured 1.45s -> 1.20s min at sf0.1 for
    the plain leg). The BUCKETED leg passes False: its scan already
    provides the orderkey clustering, which is exactly the exchange
    this flag establishes manually — the layout contrast the suite
    demonstrates."""
    lateness = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    if cluster_once:
        lateness = lateness.repartition("l_orderkey")
    per_os = lateness.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            (
                F.to_date("l_shipdate")
                > F.date_add(F.to_date("o_orderdate"), 90)
            ).cast("int")
        ).alias("_late")
    )
    # count, not countDistinct (r18): per_os has exactly one row per
    # (order, supplier) — l_suppkey is a GROUP KEY — so the distinct
    # supplier count per order is a plain non-null count over rows.
    # countDistinct planned an Expand + a second aggregate pass over
    # the full pair set in BOTH layout legs; count() is one pass.
    # Null semantics identical: count(col) skips nulls, and a null
    # suppkey can appear at most once per order as a group key.
    ostats = per_os.groupBy("l_orderkey").agg(
        F.count("l_suppkey").alias("_ns"),
        F.sum("_late").alias("_nl"),
    )
    return (
        per_os.filter(F.col("_late") == 1)
        .join(ostats, "l_orderkey")
        .filter((F.col("_ns") >= 2) & (F.col("_nl") == 1))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("_numwait"))
        .select(
            F.lit(tag).alias("query"),
            F.col("l_suppkey").cast("string").alias("k"),
            F.col("_numwait").alias("n"),
            F.lit(None).cast("double").alias("val"),
        )
    )


def _q20_half_volume_supplier(
    li: DataFrame, part: DataFrame, supp: DataFrame, tag: str,
    cluster_once: bool = False,
) -> DataFrame:
    """Q20's nested-IN-with-correlated-HAVING shape — suppliers who
    shipped more than half of a 'small' part's 1997 volume. Decimal qty
    keeps the *2-vs-total comparison exact. Parameterized like
    :func:`_q21_sole_late_shipper`: over the l_partkey-bucketed layout
    the (suppkey, partkey) aggregate, the partkey rollup, and the
    sq⋈pt join all inherit the bucket clustering — zero Exchanges until
    the final suppkey aggregate. ``cluster_once`` gives the PLAIN
    layout the same single-partkey-exchange shape explicitly (guide
    §2.4; hash(partkey) clusters every (suppkey, partkey) group), which
    is exactly the clustering the bucketed layout provides for free."""
    small_named = part.filter(F.col("p_name").like("small%")).select("p_partkey")
    filtered = (
        li.filter(
            (F.to_date("l_shipdate") >= F.lit("1997-01-01"))
            & (F.to_date("l_shipdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(small_named), li["l_partkey"] == F.col("p_partkey"))
    )
    if cluster_once:
        filtered = filtered.repartition("l_partkey")
    sq = (
        filtered
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_q"))
    )
    pt = sq.groupBy("l_partkey").agg(F.sum("_q").alias("_tot"))
    return (
        sq.join(pt, "l_partkey")
        .filter(F.col("_q") * 2 > F.col("_tot"))
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("_np"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.lit(tag).alias("query"),
            F.concat_ws(
                "|", F.col("l_suppkey").cast("string"), "s_name"
            ).alias("k"),
            F.col("_np").alias("n"),
            F.lit(None).cast("double").alias("val"),
        )
    )


def q_tpch_subquery_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2/Q11/Q16/Q22 SHAPES — the correlated/scalar-subquery
    decision-support family, adapted to the testdata schema (lineitem is
    the part↔supplier bridge; no partsupp/c_phone/s_comment columns).
    One long-format (query, k, n, val) result:

    - ``q2_min_cost_supplier``: for every small part (p_size < 10), the
      suppliers offering its corpus-minimum price — the correlated
      scalar MIN + equality join-back (Q2's inner subquery). No
      arithmetic on the double price: MIN and = over identical stored
      values are bit-portable.
    - ``q11_valuable_parts``: per-part revenue exceeding 1/1500 of the
      corpus total — the global-scalar-subquery HAVING, expressed
      division-free (rev * 1500 > total) over exact decimal sums.
    - ``q16_supplier_count``: distinct suppliers per (brand, size mod 5)
      excluding a NOT-IN supplier set (s_acctbal < 0) — the
      anti-join-under-aggregate shape.
    - ``q22_lapsed_rich``: customers with NO order since 1998-06-01
      (NOT EXISTS → left-anti) whose balance clears half the positive-
      balance average (scalar subquery, division-free:
      bal * 2 * cnt > sum), grouped by nationkey-derived code.
    - ``q15_top_supplier``: suppliers whose quarterly revenue EQUALS the
      maximum over the aggregated view (Q15's revenue-view scalar
      subquery) — decimal-exact equality, ties kept.
    - ``q21_sole_late_shipper``: Q21's double-correlated
      EXISTS/NOT-EXISTS ("another supplier exists in the order; no
      OTHER supplier shipped late"), run as the scalable GROUP-REWRITE:
      one per-(order, supplier) aggregate, one per-order aggregate
      (supplier count + late count), one join back — instead of two
      correlated self-joins of the fact table. The ORACLE keeps the
      literal EXISTS/NOT EXISTS SQL, so the driver checks the rewrite's
      equivalence, which is exactly the transformation a 100 TB plan
      wants. "Late" = shipped >90 days after the order date (the
      testdata has no receipt/commit dates).
    - ``q20_half_volume_supplier``: Q20's nested-IN-with-correlated-
      HAVING — suppliers who shipped more than half of a 'small'
      part's 1997 volume (partsupp-free stand-in for availqty >
      0.5·shipped), with the qualifying-part count. Decimal quantity
      sums keep the *2-vs-total threshold exact.

    Plan shapes that matter at 100 TB: every scalar subquery is a 1-row
    broadcast crossJoin (no driver collect), the NOT-IN sets broadcast
    as left-anti builds, and the min join-back keys on the uniform
    partkey.

    ``q21_bucketed`` / ``q20_bucketed`` (r8, VERDICT r7 #2): the same
    q21/q20 pipelines re-run over :func:`bucketed_facts` hash-bucketed
    layouts — the fact-fact sort-merge joins and the bucket-key-prefixed
    aggregates then plan with ZERO Exchange (driver-checked equal to the
    plain-layout results; Exchange delta recorded by plan_audit)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")

    # Shared lineitem PAIR aggregate (r18, VERDICT r17 #1 — guide §6
    # scan reuse / §2.4 one-exchange-many-consumers): q2/q11/q16/q15
    # each re-scanned and re-aggregated lineitem; all four now derive
    # from ONE aggregate keyed (l_partkey, l_suppkey), referenced as
    # the SAME subplan in every leg so ReuseExchange dedupes the
    # scan + partial aggregation — one lineitem pass feeds four legs
    # (at 100 TB: one corpus scan instead of four). Derivations, each
    # exactly equivalent to the leg's previous direct form:
    #  - _minp: per-pair MIN price. q2's part minimum == min over the
    #    part's pair minima, and a pair offers that minimum iff its
    #    own _minp equals it (min over identical stored doubles).
    #  - _prev: per-pair revenue sum. q11's per-part revenue is the
    #    sum of its pairs' sums — decimal addition is exact and
    #    associative, so two-level summation is bit-equal; the cast
    #    back to decimal(28,6) restores the original single-level sum
    #    type (values proved in range by the original query).
    #  - _r15: per-pair 1998Q1 revenue (conditional sum). q15's
    #    per-supplier quarter revenue is the sum over the supplier's
    #    pairs; a pair with no quarter rows sums to NULL, a supplier
    #    with no quarter rows aggregates to NULL and can never pass
    #    the ==max filter — identical to being absent from the
    #    quarter-filtered groupBy.
    #  - the group KEYS are q16's distinct (part, supplier) pair set.
    ship = F.to_date("l_shipdate")
    disc_price = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    ).cast("decimal(18,6)")
    pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("_minp"),
        F.sum(disc_price).alias("_prev"),
        F.sum(
            F.when(
                (ship >= F.lit("1998-01-01")) & (ship < F.lit("1998-04-01")),
                disc_price,
            )
        ).alias("_r15"),
    )
    # Left to Catalyst, per-leg column pruning splits the shared plan
    # into four NARROW single-measure aggregates (each leg scans 2-4
    # parquet columns), which at fixture scale beats materializing
    # the pair aggregate once (measured: eager localCheckpoint was
    # 4.6 -> 7.5 s at sf0.1).

    # q2: correlated min + join-back, over the shared pair aggregate
    small = part.filter(F.col("p_size") < 10).select("p_partkey")
    offers = pair.join(
        F.broadcast(small), pair["l_partkey"] == small["p_partkey"]
    ).select("l_partkey", "l_suppkey", "_minp")
    min_price = offers.groupBy("l_partkey").agg(
        F.min("_minp").alias("_min")
    )
    q2 = (
        offers.join(min_price, "l_partkey")
        .filter(F.col("_minp") == F.col("_min"))
        .select(
            F.lit("q2_min_cost_supplier").alias("query"),
            F.concat_ws(
                "|", F.col("l_partkey").cast("string"),
                F.col("l_suppkey").cast("string"),
            ).alias("k"),
            F.lit(None).cast("bigint").alias("n"),
            F.col("_min").cast("double").alias("val"),
        )
    )

    # q11: division-free global-revenue-share HAVING
    rev = pair.groupBy("l_partkey").agg(
        F.sum("_prev").cast("decimal(28,6)").alias("_rev")
    )
    total = rev.agg(F.sum("_rev").alias("_tot"))
    q11 = (
        rev.crossJoin(F.broadcast(total))
        .filter(F.col("_rev") * 1500 > F.col("_tot"))
        .select(
            F.lit("q11_valuable_parts").alias("query"),
            F.col("l_partkey").cast("string").alias("k"),
            F.lit(None).cast("bigint").alias("n"),
            F.round("_rev", 2).cast("double").alias("val"),
        )
    )

    # q16: distinct-count with a NOT-IN exclusion set (the pair
    # aggregate's group keys ARE the distinct (part, supplier) set)
    bad = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = pair.select("l_partkey", "l_suppkey").join(
        bad, F.col("l_suppkey") == bad["s_suppkey"], "left_anti"
    )
    q16 = (
        pairs.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            pairs["l_partkey"] == F.col("p_partkey"),
        )
        .groupBy("p_brand", (F.col("p_size") % 5).alias("_bucket"))
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("_cnt"))
        .select(
            F.lit("q16_supplier_count").alias("query"),
            F.concat_ws(
                "|", "p_brand", F.col("_bucket").cast("string")
            ).alias("k"),
            F.col("_cnt").alias("n"),
            F.lit(None).cast("double").alias("val"),
        )
    )

    # q22: anti-join + scalar threshold, division-free
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal).alias("_s"), F.count("*").alias("_c")
    )
    recent = orders.filter(
        F.to_date("o_orderdate") >= F.lit("1998-06-01")
    ).select("o_custkey")
    lapsed = cust.join(
        recent, cust["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    q22 = (
        lapsed.crossJoin(F.broadcast(pos))
        .filter(bal * 2 * F.col("_c") > F.col("_s"))
        .groupBy((F.col("c_nationkey") % 10).alias("_code"))
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.round(F.sum(bal), 2).cast("double").alias("_bal"),
        )
        .select(
            F.lit("q22_lapsed_rich").alias("query"),
            F.col("_code").cast("string").alias("k"),
            F.col("_n").alias("n"),
            F.col("_bal").alias("val"),
        )
    )

    # q15: revenue-view max as a 1-row broadcast; decimal-exact equality
    quarter = li.filter(
        (F.to_date("l_shipdate") >= F.lit("1998-01-01"))
        & (F.to_date("l_shipdate") < F.lit("1998-04-01"))
    )
    srev = quarter.groupBy("l_suppkey").agg(F.sum(disc_price).alias("_r"))
    mx = srev.agg(F.max("_r").alias("_mx"))
    q15 = (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("_r") == F.col("_mx"))
        .select(
            F.lit("q15_top_supplier").alias("query"),
            F.col("l_suppkey").cast("string").alias("k"),
            F.lit(None).cast("bigint").alias("n"),
            F.round("_r", 2).cast("double").alias("val"),
        )
    )

    # q21/q20 (fact-fact family), each twice: once over the plain
    # parquet layout, once over the pre-bucketed layout (r8, VERDICT r7
    # #2) — IDENTICAL logical plans through the shared pipeline helpers,
    # so the oracle checks that bucket-layout shuffle elimination
    # changes nothing but the physical plan. plan_audit records the
    # Exchange delta (PERF.md r8).
    q21 = _q21_sole_late_shipper(
        li, orders, "q21_sole_late_shipper", cluster_once=True
    )
    q20 = _q20_half_volume_supplier(
        li, part, supp, "q20_half_volume_supplier", cluster_once=True
    )
    li_ok, ord_ok, li_pk = bucketed_facts(spark, sf_dir)
    q21b = _q21_sole_late_shipper(li_ok, ord_ok, "q21_bucketed")
    q20b = _q20_half_volume_supplier(li_pk, part, supp, "q20_bucketed")
    return (
        q2.unionByName(q11)
        .unionByName(q16)
        .unionByName(q22)
        .unionByName(q15)
        .unionByName(q21)
        .unionByName(q20)
        .unionByName(q21b)
        .unionByName(q20b)
    )


def q_tpch_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6/Q14/Q17/Q19-shaped scalar aggregates in one long-format
    (query, value) result — the single-value decision-support family:

    - q6:  forecast-revenue — pure scan + predicate pushdown, no join.
    - q14: promo revenue share — join + conditional aggregate + ratio.
    - q17: small-quantity yearly revenue — correlated per-part average
           threshold, expressed division-free (5 * qty * cnt < sum_qty
           <=> qty < 0.2 * avg) so the comparison is decimal-EXACT and
           engine-portable; the per-part aggregate is a self-join on
           the uniform l_partkey.
    - q19: disjunctive brand/size/quantity predicate (OR-of-ANDs) over
           the part join — the filter shape optimizers must not
           flatten wrong.

    The synthetic part table has no p_container and lineitem no
    l_shipmode/l_shipinstruct, so those predicates use p_size /
    l_quantity instead — the plan shapes (scan-agg, ratio, correlated
    threshold, disjunctive join filter) are the point. All decimal sums
    round to cents BEFORE the double cast (PERF.md round 4: the 2^53
    cross-engine rule); ratios divide doubles IEEE-identically."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ship = F.to_date("l_shipdate")
    base = F.col("l_extendedprice").cast("decimal(18,2)")
    disc_price = (
        base * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
    ).cast("decimal(18,6)")

    q6 = (
        li.filter(
            (ship >= F.lit("1997-01-01"))
            & (ship < F.lit("1998-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum((base * F.col("l_discount").cast("decimal(18,6)")).cast("decimal(18,6)")),
                2,
            )
            .cast("double")
            .alias("value")
        )
        .select(F.lit("q6_forecast_revenue").alias("query"), "value")
    )

    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", disc_price).otherwise(
            F.lit(0).cast("decimal(18,6)")
        )
    )
    q14 = (
        li.filter((ship >= F.lit("1997-09-01")) & (ship < F.lit("1997-10-01")))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.round(promo, 2).cast("double")
                / F.round(F.sum(disc_price), 2).cast("double")
            ).alias("value")
        )
        .select(F.lit("q14_promo_revenue").alias("query"), "value")
    )

    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(qty_dec).alias("_sum_qty"),
        F.count("*").alias("_cnt"),
    )
    q17 = (
        li.join(
            F.broadcast(part.filter(F.col("p_brand") == "Brand#23")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(per_part, "l_partkey")
        .filter(qty_dec * F.lit(5) * F.col("_cnt") < F.col("_sum_qty"))
        .agg(
            (F.round(F.sum(base), 2).cast("double") / F.lit(7.0)).alias("value")
        )
        .select(F.lit("q17_small_qty_yearly").alias("query"), "value")
    )

    q19_cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#25")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    q19 = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(q19_cond)
        .agg(F.round(F.sum(disc_price), 2).cast("double").alias("value"))
        .select(F.lit("q19_disjunctive_revenue").alias("query"), "value")
    )

    return q6.unionByName(q14).unionByName(q17).unionByName(q19)


def q_tpch_grouped_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4/Q12/Q13/Q18-shaped grouped aggregates in one long-format
    (query, k, n, val) result:

    - q4:  order counts per priority where an associated lineitem
           shipped >30 days after the order date — a correlated EXISTS,
           planned as a left-semi join with a non-equi residual.
    - q12: high/low-priority line counts per return flag for one ship
           year (conditional aggregate over the orders join; the
           synthetic lineitem has no l_shipmode, so the group key is
           l_returnflag — same CASE-count plan shape).
    - q13: customer order-count distribution — LEFT join so zero-order
           customers land in bucket 0, then a histogram of counts.
    - q18: large-volume orders (sum qty > 250) — groupBy + HAVING on
           the decimal-exact quantity sum.

    One normalized schema: n carries counts (NULL for q18), val carries
    the quantity sum (NULL elsewhere, double-exact at cents scale)."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    ship = F.to_date("l_shipdate")
    null_n = F.lit(None).cast("bigint")
    null_val = F.lit(None).cast("double")

    od = F.to_date("o_orderdate")
    q4 = (
        orders.filter((od >= F.lit("1997-01-01")) & (od < F.lit("1997-04-01")))
        .join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (F.to_date(li["l_shipdate"]) > F.date_add(F.to_date(orders["o_orderdate"]), 30)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.lit("q4_priority_count").alias("query"),
            F.col("o_orderpriority").alias("k"),
            "n",
            null_val.alias("val"),
        )
    )

    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    g12 = (
        li.filter((ship >= F.lit("1997-01-01")) & (ship < F.lit("1998-01-01")))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(is_high.cast("bigint")).alias("high"),
            F.sum((~is_high).cast("bigint")).alias("low"),
        )
    )
    q12 = g12.select(
        F.lit("q12_high").alias("query"),
        F.col("l_returnflag").alias("k"),
        F.col("high").alias("n"),
        null_val.alias("val"),
    ).unionByName(
        g12.select(
            F.lit("q12_low").alias("query"),
            F.col("l_returnflag").alias("k"),
            F.col("low").alias("n"),
            null_val.alias("val"),
        )
    )

    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    q13 = (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.lit("q13_custdist").alias("query"),
            F.col("c_count").cast("string").alias("k"),
            "n",
            null_val.alias("val"),
        )
    )

    q18 = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select(
            F.lit("q18_large_volume").alias("query"),
            F.col("l_orderkey").cast("string").alias("k"),
            null_n.alias("n"),
            F.col("_sq").cast("double").alias("val"),
        )
    )

    # gsets (r8): explicit GROUPING SETS — the general member of the
    # grouping family (a_extended carries ROLLUP and CUBE): the
    # (flag,status), (flag), and grand-total marginals in ONE aggregate
    # pass, with the grouping_id bitmask distinguishing a subtotal
    # marker from a real NULL key — Spark expands the sets into a
    # single Expand + hash aggregate, the same plan DuckDB's GROUPING
    # SETS lowers to.
    gsets = (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.grouping_id().alias("_gid"),
        )
        .select(
            F.lit("gsets_counts").alias("query"),
            F.concat_ws(
                "|",
                F.coalesce("l_returnflag", F.lit("ALL")),
                F.coalesce("l_linestatus", F.lit("ALL")),
                F.col("_gid").cast("string"),
            ).alias("k"),
            "n",
            null_val.alias("val"),
        )
    )

    # Partition-pruning sections (r9, VERDICT r8 #1) over the staged
    # month-partitioned orders copy — the SQL oracle computes both from
    # the PLAIN table, so a hash match proves the partitioned layout
    # preserves content while the physical plan proves the pruning:
    # - prune_static_month: a literal predicate on the partition column
    #   -> `PartitionFilters: [.., (o_month >= 2001-01)]` on the scan;
    #   only the matching month directories are ever listed into tasks.
    # - dpp_month_revenue: the fact joins the generated calendar dim
    #   whose filter (year=1997, quarter<=2) is on dim attributes the
    #   fact doesn't carry -> Catalyst injects
    #   `dynamicpruningexpression(o_month IN subquery)` into the fact
    #   scan, reusing the dim's broadcast — 6 of ~80 month directories
    #   read at runtime (pytest-pinned; files-read fraction in PERF.md).
    po = spark.read.parquet(partitioned_orders(spark, sf_dir))
    rev = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("val")
    )
    static_prune = (
        po.filter(F.col("o_month") >= "2001-01")
        .groupBy("o_month")
        .agg(F.count("*").cast("bigint").alias("n"), rev)
        .select(
            F.lit("prune_static_month").alias("query"),
            F.col("o_month").alias("k"),
            "n",
            "val",
        )
    )
    dpp = (
        po.join(
            calendar_months(spark).filter(
                (F.col("cal_year") == 1997) & (F.col("cal_quarter") <= 2)
            ),
            po["o_month"] == F.col("cal_month"),
        )
        .groupBy("o_month")
        .agg(F.count("*").cast("bigint").alias("n"), rev)
        .select(
            F.lit("dpp_month_revenue").alias("query"),
            F.col("o_month").alias("k"),
            "n",
            "val",
        )
    )

    # pb_prune_bucket_join (r10, VERDICT r9 #6): the COMPOSED layout —
    # the month-partitioned, orderkey-bucketed lineitem joins the
    # orderkey-bucketed orders inside a 6-month window. The partition
    # predicate prunes ~74 of ~80 l_month directories at planning time
    # (PartitionFilters on the scan) AND the aligned 16-bucket specs
    # join with zero pre-join Exchange — the one post-join Exchange is
    # the final priority aggregate. The oracle computes the same answer
    # from the PLAIN tables, so the composed layout must preserve
    # content exactly.
    pbli = spark.table(part_bucketed_lineitem(spark, sf_dir))
    _, ord_ok, _ = bucketed_facts(spark, sf_dir)
    pb_rev = F.round(
        F.sum(
            (
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,6)")
            ).cast("decimal(18,6)")
        ),
        2,
    ).cast("double")
    pb = (
        pbli.filter(
            (F.col("l_month") >= "1997-01") & (F.col("l_month") < "1997-07")
        )
        .join(ord_ok, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n"), pb_rev.alias("val"))
        .select(
            F.lit("pb_prune_bucket_join").alias("query"),
            F.col("o_orderpriority").alias("k"),
            "n",
            "val",
        )
    )

    return (
        q4.unionByName(q12)
        .unionByName(q13)
        .unionByName(q18)
        .unionByName(gsets)
        .unionByName(static_prune)
        .unionByName(dpp)
        .unionByName(pb)
    )


# ---------------------------------------------------------------------------
# Windows

def q_a8_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (returnflag -> linestatus ->
    grand total): the grouping-set family the reference lacks entirely.
    NULL group markers serialize as the literal 'ALL' so the oracle's
    representation matches."""
    _utc(spark)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


def q_a9_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: events per (date x event_type) as one column per type —
    groupBy().pivot() with an explicit value list so the plan is a single
    aggregate, no second distinct-values job."""
    _utc(spark)
    ev = _events(spark, sf_dir).select(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"), "event_type"
    )
    types = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("d").pivot("event_type", types).count()
    return out.select(
        "d", *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in types]
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit set operations: customers appearing in BOTH order halves
    (intersect) minus those with any open order (except)."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    first_half = orders.filter(F.year(F.to_date("o_orderdate")) <= 1997).select("o_custkey")
    second_half = orders.filter(F.year(F.to_date("o_orderdate")) >= 1998).select("o_custkey")
    open_orders = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        first_half.intersect(second_half).exceptAll(open_orders.distinct())
        .select(F.col("o_custkey").alias("custkey"))
    )


def q_j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the most recent
    prior view's value for the same user (trade->quote shape). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    _utc(spark)
    from .operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # dedupe quote timestamps so equal-instant ties can't differ by engine
    quotes = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("quote_value"))
    )
    out = asof_join(trades, quotes, on="ts", by="user_id", right_cols=["quote_value"])
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "quote_value",
        F.date_format("matched_at", "yyyy-MM-dd HH:mm:ss").alias("matched_at"),
    )


def q_j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval COUNT per part-derived [lo, hi] interval.

    r7 scale fix: originally ran range_join (bucketed pair
    materialization) + count, which is output-optimal when the PAIRS are
    the result but quadratic-ish for a count over dense intervals — the
    match volume grows with |points|x|overlapping intervals| (measured
    >500s at sf1.0) while the result is one row per interval. Now runs
    :func:`interval_point_counts` — the sweep/CDF formulation, seconds
    at sf1.0 — with IDENTICAL output and oracle (inner semantics: only
    intervals containing >=1 point). range_join itself stays the
    pair-level operator, pytest-pinned (test_j7_range_join_boundaries)
    and equality-checked against this sweep
    (test_interval_point_counts_equals_pair_join)."""
    _utc(spark)
    from .operators.temporal import interval_point_counts

    points = _events(spark, sf_dir).select("event_id", "value")
    intervals = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_size") * 5.0).alias("lo"),
        (F.col("p_size") * 5.0 + F.col("p_size")).alias("hi"),
    )
    return interval_point_counts(
        points, intervals, "value", "lo", "hi", "p_partkey", bucket_width=16.0
    )


def q_w2_days_since_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("d")).distinct()
    out = days_since_last(ev, key="user_id", date_col="d")
    return out.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        F.col("days_since_last").cast("int").alias("days_since_last"),
    )


def q_w4_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return top_k(orders, "o_totalprice", 20).select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )


def q_w4_set_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W4 top-k pagination + set operators + the ranking-window
    family, consolidated into one surface-tagged row (r7: holds the
    registry at 50 while everything stays driver-checked).

    - ``top20``: TakeOrderedAndProject over orders (k=o_orderkey,
      v=o_totalprice); ``setops``: intersect/except customer sets.
    - ``prank`` / ``cume`` / ``ntile4``: percent_rank, cume_dist, and
      ntile(4) over per-customer order-value windows (customers with
      custkey % 50 == 0 — a fixed deterministic subset). PARTITIONED
      windows by design: per-customer state is bounded, so the shapes
      scale — an unpartitioned full-table ranking window would
      serialize the corpus through one task (the dim_number guard's
      failure mode) and is deliberately NOT registered. Values are
      exact small-integer rationals (rank arithmetic) — engine-portable
      with no rounding."""
    from pyspark.sql import Window

    topk = q_w4_top_k(spark, sf_dir).select(
        F.lit("top20").alias("surface"),
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.col("o_totalprice").alias("v"),
    )
    setops = q_set_ops(spark, sf_dir).select(
        F.lit("setops").alias("surface"),
        F.col("custkey").cast("bigint").alias("k"),
        F.lit(None).cast("double").alias("v"),
    )
    orders = _t(spark, sf_dir, "orders")
    sub = orders.filter(F.col("o_custkey") % 50 == 0).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    ranked = sub.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.percent_rank().over(w).alias("_pr"),
        F.cume_dist().over(w).alias("_cd"),
        F.ntile(4).over(w).cast("double").alias("_nt"),
    )
    wfuncs = (
        ranked.select(F.lit("prank").alias("surface"), "k", F.col("_pr").alias("v"))
        .unionByName(
            ranked.select(F.lit("cume").alias("surface"), "k", F.col("_cd").alias("v"))
        )
        .unionByName(
            ranked.select(F.lit("ntile4").alias("surface"), "k", F.col("_nt").alias("v"))
        )
    )
    # Remaining ranking/offset family (r7): dense_rank over a COARSE key
    # (price in 10k buckets — real ties, so dense vs row_number actually
    # differs), lead(1) by orderkey order (NULL for each customer's last
    # order — offset semantics), nth_value(2) from the running frame
    # (NULL until the second row arrives). Same bounded per-customer
    # partitions as above.
    wd = Window.partitionBy("o_custkey").orderBy(
        F.floor(F.col("o_totalprice") / 10000).desc()
    )
    wo = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    wn = wo.rowsBetween(Window.unboundedPreceding, 0)
    extra = sub.select(
        F.col("o_orderkey").cast("bigint").alias("k"),
        F.dense_rank().over(wd).cast("double").alias("_dr"),
        F.lead("o_totalprice", 1).over(wo).alias("_ld"),
        F.nth_value("o_totalprice", 2).over(wn).alias("_nv"),
    )
    more = (
        extra.select(F.lit("drank").alias("surface"), "k", F.col("_dr").alias("v"))
        .unionByName(
            extra.select(F.lit("lead1").alias("surface"), "k", F.col("_ld").alias("v"))
        )
        .unionByName(
            extra.select(F.lit("nth2").alias("surface"), "k", F.col("_nv").alias("v"))
        )
    )
    return topk.unionByName(setops).unionByName(wfuncs).unionByName(more)


# ---------------------------------------------------------------------------
# Text analysis (documents)

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    feats = quality_features("text")
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
    )


def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(language_id("text").alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs)


def q_dedup_exact_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup family in one long-format result tagged by `kind`:
    whole-text md5 dup groups (keep_id = deterministic min doc_id) and
    whitespace-normalized rolling-fingerprint counts. Both are single
    hash-groupBys on uniform digest keys — the 100 TB-safe shape."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    exact = exact_dedup(docs).select(
        F.lit("md5").alias("kind"),
        F.col("text_hash").alias("key"),
        F.col("keep_id"),
        F.col("dup_count").alias("n"),
    )
    fp = (
        docs.select(doc_fingerprint("text").alias("key"))
        .groupBy("key")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            F.lit("fingerprint").alias("kind"),
            "key",
            F.lit(None).cast("bigint").alias("keep_id"),
            "n",
        )
    )
    return exact.unionByName(fp)


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup suite, two surfaces over one schema
    (surface, doc_id, m1, m2, m3, h):

    - ``para``: paragraph(segment)-level exact dedup with
      order-preserving reconstruction — the FineWeb/RefinedWeb step
      (functions/dedup.py:paragraph_dedup); m1=n_segments, m2=n_kept,
      h=md5 of the rebuilt document.
    - ``spans`` (r13): exact-substring SPAN dedup at 8-token
      granularity — Lee et al. arXiv:2107.06499's
      remove-duplicated-passages step as an inverted-index plan
      (functions/dedup.py:exact_substring_dedup); m1=n_tokens,
      m2=n_removed, m3=n_spans, h=md5 of the span-stripped text. The
      oracle replays gram hashing, global first-occurrence, the
      gaps-and-islands span merge, and the reconstruction in SQL.

    The registry entry stays COMBINED (one oracle section covers
    both); the BENCH times the halves separately as ``dedup_para`` /
    ``dedup_spans`` (r14, VERDICT r13 #6 — the combined timing made a
    3.2x apparent mover out of the r13 surface addition)."""
    return q_dedup_para(spark, sf_dir).unionByName(
        q_dedup_spans(spark, sf_dir)
    )


def q_dedup_para(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``para`` half of :func:`q_dedup_paragraph` — the direct
    continuation of the r6-r12 ``dedup_paragraph`` bench series."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    return paragraph_dedup(docs, window=20).select(
        F.lit("para").alias("surface"),
        "doc_id",
        F.col("n_segments").alias("m1"),
        F.col("n_kept").alias("m2"),
        F.lit(None).cast("bigint").alias("m3"),
        F.col("kept_hash").alias("h"),
    )


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents reader, ROUND-ROBIN-SPREAD across cores when (and
    only when) the parquet is too small to split (r18, guide §2.6): a
    sub-128MB one-file corpus scans as ONE task, serializing the heavy
    pre-shuffle tokenize/gram work of the consumers that use this
    (measured at sf0.1/local[32]: dedup_minhash_oneshot 9.1→5.6s,
    dedup_spans 1.78→1.21s, outputs identical — both algorithms'
    orderings are data-determined, never partition-determined). At
    scale the scan splits naturally (natural splits >= cores) and this
    returns the plain reader — it never repartitions a large corpus.
    Consumers whose pre-shuffle work is light keep the plain reader:
    the same A/B measured dedup_para LOSING 0.1s to the extra
    exchange."""
    docs = _t(spark, sf_dir, "documents")
    src = os.path.join(sf_dir, "documents.parquet")
    src_bytes = (
        sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(src)
            for f in fs
        )
        if os.path.isdir(src)
        else os.path.getsize(src)
    )
    cores = spark.sparkContext.defaultParallelism
    if src_bytes // (128 << 20) + 1 < cores:
        docs = docs.repartition(min(cores, src_bytes // (16 << 10) + 1))
    return docs


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``spans`` half of :func:`q_dedup_paragraph` (exact-substring
    span dedup, r13) — its own bench series from r14 on."""
    _utc(spark)
    from .functions.dedup import exact_substring_dedup

    docs = _docs_spread(spark, sf_dir)
    return exact_substring_dedup(docs, k=8).select(
        F.lit("spans").alias("surface"),
        "doc_id",
        F.col("n_tokens").alias("m1"),
        F.col("n_removed").alias("m2"),
        F.col("n_spans").alias("m3"),
        F.col("clean_hash").alias("h"),
    )


# ---------------------------------------------------------------------------
# Dedup / similarity (documents + embeddings)

def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inverted-index Jaccard pairs, run through BOTH posting-cap
    configurations as one surface-tagged suite:

    - ``exact``: ``max_posting_len=None`` — the uncapped oracle-exact
      plan (pinned ``repartition("sh")`` → ReusedExchange self-join).
    - ``cap1000``: the PRODUCTION hot-shingle cap. On this corpus the
      longest posting list is ~25 docs, so the cap provably does not
      bind and the oracle is the SAME exact pair set — a driver-checked
      cap∘exact equivalence proof for the default knob
      (functions/dedup.py:max_posting_len), where before only uncapped
      runs carried CORRECTNESS rows (r6 verdict ask #2).
    - ``fuzzy`` (r8): character-level edit-distance verification on the
      candidate pairs — the entity-resolution scorer that catches what
      set-based Jaccard can't (transpositions, small in-token edits).
      Candidates first (the 100 TB shape: levenshtein is O(len²) per
      pair, so it runs on the blocked pair set, never all-pairs); the
      broadcast pair list joins the corpus twice to attach texts, and
      the score 1 − lev/greatest(len_a, len_b, 1) divides exact
      integers — cross-engine stable (corpus is all-ASCII; Spark counts
      codepoints, DuckDB bytes — a non-ASCII corpus would need a
      codepoint-normalized comparison on the DuckDB side).
    - ``setcos`` (r8): set-cosine (Ochiai) pairs over the SAME shared
      inverted-index pair counts (functions/dedup.py:
      shingle_pair_counts / ngram_set_cosine_pairs) — the
      containment-tolerant member of the set-overlap family, with the
      keep decision in exact integer arithmetic (den²·n_inter² >=
      num²·n_a·n_b) and the reported score rounded after one IEEE
      sqrt + division.
    """
    _utc(spark)
    from .functions.dedup import ngram_set_cosine_pairs

    docs = _t(spark, sf_dir, "documents")
    # All four surfaces read the SAME corpus-wide staged shingle parquet
    # (r8 — the staging philosophy applied to this suite too): one
    # tokenize→shingle pass per corpus, four columnar consumers.
    # Measured min-of-3 at sf0.1: 7.44s in-query → 3.01s staged (the
    # one-time staging cost is the minhash_shingle_stage secondary,
    # shared with minhash/curation/novelty).
    sh = staged_shingles(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        docs, k=3, threshold=0.5, max_posting_len=None, pre_shingled=sh
    )
    exact = pairs.select(
        F.lit("exact").alias("surface"), "id_a", "id_b", "jaccard"
    )
    capped = ngram_jaccard_pairs(
        docs, k=3, threshold=0.5, max_posting_len=1000, pre_shingled=sh
    ).select(F.lit("cap1000").alias("surface"), "id_a", "id_b", "jaccard")
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    fuzzy = (
        F.broadcast(pairs.select("id_a", "id_b"))
        .join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            F.lit("fuzzy").alias("surface"),
            "id_a",
            "id_b",
            (
                F.lit(1.0)
                - F.levenshtein("_ta", "_tb")
                / F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
            ).alias("jaccard"),
        )
    )
    setcos = ngram_set_cosine_pairs(
        docs,
        k=3,
        threshold_num=1,
        threshold_den=2,
        max_posting_len=None,
        pre_shingled=sh,
    ).select(
        F.lit("setcos").alias("surface"),
        "id_a",
        "id_b",
        F.col("cos6").alias("jaccard"),
    )
    return (
        exact.unionByName(capped).unionByName(fuzzy).unionByName(setcos)
    )


#: Per-sf_dir cache of the materialized shingle-projection parquet dir
#: (cleaned at exit with the stream work dirs).
_SHINGLE_DIR_CACHE: dict[str, str] = {}

#: Wall-clock seconds of the two staging phases of the LAST cold
#: staged_shingles build — {"bulk": s, "delta": s} — read by bench.py
#: to report them as separate secondaries (the delta/full ratio is the
#: r8 incremental-staging claim).
SHINGLE_STAGE_TIMINGS: dict[str, float] = {}


def staged_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the documents corpus' 3-word-shingle projection to
    parquet ONCE per (process, sf_dir) and return a reader over it — the
    shared artifact behind q_dedup_minhash_lsh AND the curation
    pipeline's near-dup stage (r6 verdict ask #1: one corpus-wide
    string-processing pass, many columnar consumers). bench.py times the
    one-time staging cost separately (``minhash_shingle_stage``) so
    min-of-repeats headline numbers are honest about what they exclude.

    Since r8 (VERDICT r7 #1) the build is INCREMENTAL
    (:func:`functions.dedup.stage_shingles_incremental`): a bulk phase
    stages ~90% of the corpus (doc_id % 10 != 0), then a delta phase
    presents the FULL corpus and stages only the remaining ~10% — the
    production corpus-ingest pattern, exercised on every cold build.
    Because every consumer of this artifact (minhash LSH, curation,
    novelty) is oracle-checked against full-corpus SQL, the delta path's
    equivalence to full restaging is driver-verified on each of those
    surfaces, not just pytest-pinned. Phase timings land in
    ``SHINGLE_STAGE_TIMINGS`` for bench.py's secondaries."""
    from .functions.dedup import (
        shingle_stage_shards,
        stage_shingles_incremental,
    )

    path = _SHINGLE_DIR_CACHE.get(sf_dir)
    if path is None:
        docs = _t(spark, sf_dir, "documents")
        path = os.path.join(tempfile.mkdtemp(prefix="shingles_"), "sh.parquet")
        # r18 (guide §2.6/§6.3): a sub-128MB documents parquet scans
        # as ONE split, so the whole tokenize->shingle pass (and every
        # later consumer scan of the staged artifact) ran one-task-
        # wide; shard scale-adaptively — size-governed at scale,
        # core-count-governed at fixture scale
        src = os.path.join(sf_dir, "documents.parquet")
        src_bytes = (
            sum(
                os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(src)
                for f in fs
            )
            if os.path.isdir(src)
            else os.path.getsize(src)
        )
        shards = shingle_stage_shards(
            src_bytes, spark.sparkContext.defaultParallelism
        )
        t0 = time.time()
        stage_shingles_incremental(
            docs.filter(F.col("doc_id") % 10 != 0), path, shards=shards
        )
        t1 = time.time()
        stage_shingles_incremental(docs, path, shards=shards)
        SHINGLE_STAGE_TIMINGS["bulk"] = round(t1 - t0, 3)
        SHINGLE_STAGE_TIMINGS["delta"] = round(time.time() - t1, 3)
        _SHINGLE_DIR_CACHE[sf_dir] = path
    return spark.read.parquet(path)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs through the PRODUCTION path (the r5
    verdict's flip): the shingle projection is WRITTEN TO PARQUET once per
    corpus and read by the signature aggregation and both Jaccard-verify
    sides — three columnar scans instead of three lineage recomputes of
    tokenize→slice→join. Measured 9.77s → ~2.7s min-of-3 at sf0.1, 7x at
    sf1.0, and the gap widens with scale (PERF.md). The one-shot
    lineage-recompute variant stays available as
    :func:`q_dedup_minhash_oneshot` (bench secondary timing + pytest).

    Oracle: LSH-found pairs are verified with EXACT shingle Jaccard, so
    the oracle is the exact-Jaccard pair set (same SQL as
    dedup_ngram_jaccard at threshold 0.5): precision 1 by construction,
    and recall per pair is 1 - (1 - j^4)^16, which at the corpus's
    observed pair similarities (all j >= 0.9, measured at sf0.01 and
    sf0.1) is 1 - ~4e-8 — deterministic equality at test scales.
    xxhash64 itself stays un-oracled; its OUTPUT is what's checked.

    The equality additionally assumes no band bucket exceeds
    ``max_bucket_size`` (10k default; measured max bucket is 3-4 docs on
    this corpus) — an over-cap bucket would drop candidates the
    exact oracle keeps. The incremental variant, whose subset-equality
    property is harder to eyeball, runs uncapped for exactly this
    reason (see q_dedup_minhash_incremental)."""
    _utc(spark)
    docs = _t(spark, sf_dir, "documents")
    pre = staged_shingles(spark, sf_dir)
    return minhash_lsh_dup_pairs(docs, jaccard_threshold=0.5, pre_shingled=pre)


def q_dedup_minhash_oneshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot MinHash+LSH with in-query shingling (no materialization):
    the right call when a corpus is deduped exactly once and never again —
    no parquet staging cost, but the shingle lineage recomputes for each
    of its three consumers. Identical output and oracle as
    q_dedup_minhash_lsh; timed as a bench SECONDARY so the recompute cost
    stays visible without dominating the headline.

    The scan is spread via :func:`_docs_spread` (r18): in-query
    shingling re-tokenizes the corpus per consumer, and a one-split
    fixture scan serialized all of it (measured 9.1→5.6s; pair set
    identical — partitioning-independent arithmetic)."""
    _utc(spark)
    docs = _docs_spread(spark, sf_dir)
    return minhash_lsh_dup_pairs(docs, jaccard_threshold=0.5)


#: Per-sf_dir cache of the persisted MinHash corpus index (shingles +
#: band keys parquet), cleaned at exit with the other work dirs.
_MINHASH_INDEX_CACHE: dict[str, str] = {}


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-ingest INCREMENTAL near-dup path (functions/dedup.py:
    build_minhash_index + incremental_minhash_dup_pairs): the corpus
    (doc_id % 4 != 0) is mined ONCE into a persisted parquet index; the
    new batch (doc_id % 4 == 0) dedups against it without re-shingling or
    re-signing the corpus. Emits new x new and new x corpus pairs only —
    corpus x corpus pairs were emitted at corpus ingest.

    Oracle: the same exact-Jaccard pair set as dedup_minhash_lsh (every
    emitted pair is exact-verified, identical hash family on both sides)
    restricted to pairs with at least one new-batch side — i.e. the
    incremental run must equal the new-involving subset of a full-corpus
    run, which is the property that makes the index safe to use.

    ``max_bucket_size=None`` here (r7, ADVICE r6): a combined band bucket
    over the cap would silently exclude new-batch rows from candidate
    generation, and the oracle's subset-equality property only holds
    uncapped — same reasoning as the curation query's uncapped join. The
    capped default remains the production knob for hot corpora, where the
    dropped buckets are exact-dup residue, not signal.

    r9 (VERDICT r8 #2): the corpus index is now built through the FULL
    staged-shingle LIFECYCLE, putting
    :func:`functions.dedup.compact_staged_shingles` under this driver
    oracle. The staging is first populated from a PERTURBED corpus —
    doc 1's text swapped for doc 0's (a mutation compaction must
    re-shingle back to truth) plus a ghost doc id 10,000,000 carrying
    doc 0's text (a deletion compaction must drop) — then compacted
    against the true corpus partition, and the index is built FROM the
    compacted artifact (``pre_shingled``). Both perturbations have
    TEETH: either surviving compaction manufactures a jaccard-1.0 pair
    with new-batch doc 0 ((0,1) for the mutation; (0,10000000) for the
    ghost) that the true-text oracle cannot contain, so a compaction
    regression is a driver hash mismatch, not just a pytest failure."""
    _utc(spark)
    from .functions.dedup import (
        build_minhash_index,
        compact_staged_shingles,
        incremental_minhash_dup_pairs,
        stage_shingles_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    path = _MINHASH_INDEX_CACHE.get(sf_dir)
    if path is None:
        path = tempfile.mkdtemp(prefix="mh_index_")
        slim = docs.select("doc_id", "text")
        corpus = slim.filter(F.col("doc_id") % 4 != 0)
        d0 = slim.filter(F.col("doc_id") == 0).select(
            F.col("text").alias("_t0")
        )
        perturbed = (
            corpus.crossJoin(F.broadcast(d0))
            .withColumn(
                "text",
                F.when(F.col("doc_id") == 1, F.col("_t0")).otherwise(
                    F.col("text")
                ),
            )
            .drop("_t0")
            .unionByName(
                slim.filter(F.col("doc_id") == 0).select(
                    F.lit(10_000_000).cast("bigint").alias("doc_id"), "text"
                )
            )
        )
        sh_path = os.path.join(path, "staged_shingles")
        stage_shingles_incremental(perturbed, sh_path)
        compacted = compact_staged_shingles(corpus, sh_path)
        build_minhash_index(corpus, path, pre_shingled=compacted)
        _MINHASH_INDEX_CACHE[sf_dir] = path
    new_batch = docs.filter(F.col("doc_id") % 4 == 0)
    return incremental_minhash_dup_pairs(
        new_batch, path, jaccard_threshold=0.5, max_bucket_size=None
    )


def q_skew_salted_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-discipline toolkit (operators/skew.py) under oracle check: a
    deliberately pathological hot key — every even user_id collapses onto
    key 0, so ~half the table funnels through one key — is aggregated via
    :func:`two_phase_agg` (salt → partial → final merge) and joined via
    :func:`salted_join` (probe salted, build replicated per salt). Both
    must be bit-equal to the plain groupBy/join the oracle computes:
    salting may only re-route rows across reducers, never change results.
    Decimal partial sums keep the two-phase merge order-independent
    (exact arithmetic), so the equality is deterministic."""
    _utc(spark)
    from .operators.skew import salted_join, two_phase_agg

    ev = _events(spark, sf_dir).select(
        F.when(F.col("user_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("bigint")
        .alias("k"),
        "value",
    )
    tp = two_phase_agg(
        ev,
        "k",
        partial_aggs={
            "n": F.count("*"),
            "s": F.sum(F.col("value").cast("decimal(18,6)")),
        },
        final_aggs={"n": F.sum("n"), "s": F.sum("s")},
        salt_buckets=8,
    ).select(
        F.lit("two_phase_agg").alias("surface"),
        "k",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("double").alias("s"),
    )
    dim = (
        ev.select("k").distinct().withColumn("w", (F.col("k") % 97).cast("bigint"))
    )
    sj = (
        salted_join(ev.select("k"), dim, "k", salt_buckets=8)
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("w").cast("bigint").alias("sw"),
        )
        .select(
            F.lit("salted_join").alias("surface"),
            "k",
            "n",
            F.col("sw").cast("double").alias("s"),
        )
    )
    # aqe_skew_join (r10, VERDICT r9 #4): the SAME hot-key join with NO
    # manual salt — the merge hint pins the sort-merge form (what a
    # fact-fact join plans at 100 TB, where neither side broadcasts) and
    # Spark's own AQE OptimizeSkewedJoin is what splits the hot reducer
    # at runtime (session defaults: adaptive + skewJoin on; production
    # skew crosses the default 256 MB threshold on its own — the pytest
    # demonstrates the split firing with thresholds tuned to local data
    # sizes, asserting skew=true in the final adaptive plan). Salting
    # remains necessary where AQE can't re-plan: AGGREGATION skew
    # (two_phase_agg above — AQE never splits a hot groupBy key) and
    # replicated-build chains (salted_join above).
    aj = (
        ev.select("k")
        .join(dim.hint("merge"), "k")
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("w").cast("bigint").alias("sw"),
        )
        .select(
            F.lit("aqe_skew_join").alias("surface"),
            "k",
            "n",
            F.col("sw").cast("double").alias("s"),
        )
    )
    # aqe_coalesce (r11, VERDICT r10 #7): the OTHER half of the AQE
    # story — a selective filter leaves this aggregate's shuffle with
    # far less data than one reducer's advisory size, and AQE's
    # coalescePartitions merges the 32 static reducers into a few at
    # runtime (`AQEShuffleRead coalesced` in the final adaptive plan,
    # pytest-pinned by test_aqe_partition_coalesce_fires). At 100 TB
    # this is what keeps reducer counts sane on filtered INTERMEDIATE
    # stages: static shuffle.partitions is sized for the biggest
    # shuffle in the job, and every post-filter stage would otherwise
    # schedule thousands of near-empty reducers. Fires under session
    # defaults — unlike the skew split, nothing vetoes it.
    ac = (
        ev.filter(F.col("k") % 7 == 1)
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s_dec"),
        )
        .select(
            F.lit("aqe_coalesce").alias("surface"),
            "k",
            "n",
            F.col("s_dec").cast("double").alias("s"),
        )
    )
    return tp.unionByName(sj).unionByName(aj).unionByName(ac)


def q_scd2_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance (operators/scd.py) under oracle
    check: customers form the open dimension slice (segment tracked,
    open since 1990-01-01); each customer's LATEST order date becomes an
    update batch with a deterministic new segment ('SEG' || custkey%3 —
    always differs from the TPC-H market segments, so every matched key
    closes + reopens). Customers with no orders pass through untouched.
    The as-of surface snapshots the dimension at 1995-06-01 — keys whose
    change landed before that date show the new segment, later changes
    the original one. The oracle reconstructs the same rows with plain
    SQL (anti join for untouched, join for closed, the batch for
    opened)."""
    _utc(spark)
    from .operators.scd import scd2_apply, scd2_as_of

    cust = _t(spark, sf_dir, "customer")
    current = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("1990-01-01")).alias("valid_from"),
        F.to_date(F.lit("9999-12-31")).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.max(F.to_date("o_orderdate")).alias("effective_date"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.concat(
                F.lit("SEG"), (F.col("o_custkey") % 3).cast("string")
            ).alias("segment"),
            "effective_date",
        )
    )
    dim = scd2_apply(current, upd, key_cols=["c_custkey"], tracked_cols=["segment"])
    asof = scd2_as_of(dim, "1995-06-01")

    def fmt(d: DataFrame, surface: str) -> DataFrame:
        return d.select(
            F.lit(surface).alias("surface"),
            "c_custkey",
            "segment",
            F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
            F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
            F.col("is_current").cast("int").alias("is_current"),
        )

    # CDC surface (r7): snapshot_diff between the original customer
    # segments and the updated snapshot (plus a handful of synthetic
    # inserted keys) — the upstream change feed an scd2_apply batch comes
    # from. Rides the suite schema: segment carries change[:changed_cols],
    # valid_from/valid_to carry the old/new attribute values.
    from .operators.scd import snapshot_diff

    old_snap = cust.select("c_custkey", F.col("c_mktsegment").alias("segment"))
    inserts = cust.filter(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.lit("SEGNEW").alias("segment"),
    )
    new_snap = upd.select("c_custkey", "segment").unionByName(inserts)
    diff = snapshot_diff(old_snap, new_snap, ["c_custkey"], ["segment"])
    cdc = diff.select(
        F.lit("cdc").alias("surface"),
        "c_custkey",
        F.when(
            F.size("changed_cols") > 0,
            F.concat(
                F.col("change"), F.lit(":"), F.array_join("changed_cols", ","),
            ),
        ).otherwise(F.col("change")).alias("segment"),
        F.coalesce("old_segment", F.lit("")).alias("valid_from"),
        F.coalesce("new_segment", F.lit("")).alias("valid_to"),
        F.lit(None).cast("int").alias("is_current"),
    )
    return fmt(dim, "dim").unionByName(fmt(asof, "asof")).unionByName(cdc)


def q_sim_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed + IVF partition-pruned ANN top-10, plus the batched
    kNN JOIN through BOTH implementations (top-5 neighbors for each of
    three query vectors): the exact broadcast join (`knn<q>` surfaces)
    and the IVF cell-pruned scale variant (`knnivf<q>` surfaces,
    :func:`knn_join_ivf`) run at ``n_probe = len(centroids)`` — full
    probe, where the pruned join is deterministically EQUAL to the brute
    join, so the same per-query rank-window SQL oracle checks the whole
    assign→probe→rank path (r6 verdict ask #4; partial-probe recall
    trade-off stays pytest-pinned). One surface-tagged result, same
    consolidation shape as sim_cosine_suite.

    The ``pq`` surface (r11) rides here too — product-quantization ANN
    top-10 (:func:`q_sim_pq_topk`, which stays importable/benchable on
    its own) — so the registry holds at 50 entries, the driver's
    correctness-gate window."""
    from .functions.similarity import (
        deterministic_centroids,
        knn_join,
        knn_join_ivf,
    )

    lsh = q_sim_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("surface"), "vec_id", "cos5"
    )
    ivf = q_sim_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("surface"), "vec_id", "cos5"
    )
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    knn = knn_join(qs, emb, k=5).select(
        F.concat(F.lit("knn"), F.col("q_id").cast("string")).alias("surface"),
        "vec_id",
        F.round("cosine", 5).alias("cos5"),
    )
    cents = deterministic_centroids(emb, k=16)
    knn_ivf = knn_join_ivf(qs, emb, cents, k=5, n_probe=len(cents)).select(
        F.concat(F.lit("knnivf"), F.col("q_id").cast("string")).alias("surface"),
        "vec_id",
        F.round("cosine", 5).alias("cos5"),
    )
    pq = q_sim_pq_topk(spark, sf_dir).select(
        F.lit("pq").alias("surface"), "vec_id", "cos5"
    )
    ivfpq = q_sim_ivfpq_topk(spark, sf_dir).select(
        F.lit("ivfpq").alias("surface"), "vec_id", "cos5"
    )
    ivfpq_res = q_sim_ivfpq_res_topk(spark, sf_dir).select(
        F.lit("ivfpq_res").alias("surface"), "vec_id", "cos5"
    )
    return (
        lsh.unionByName(ivf)
        .unionByName(knn)
        .unionByName(knn_ivf)
        .unionByName(pq)
        .unionByName(ivfpq)
        .unionByName(ivfpq_res)
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash near-dup pairs (md5-derived 32-bit halves): the
    oracle recomputes the signature bit sums, the 4x16-bit pigeonhole
    blocks, and bit_count hamming — full bit-level parity."""
    _utc(spark)
    from .functions.dedup import simhash_dup_pairs_portable

    docs = _t(spark, sf_dir, "documents")
    return simhash_dup_pairs_portable(docs, max_hamming=3)


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = _t(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == 1).select("embedding").first()
    return [float(x) for x in row[0]]


def q_sim_cosine_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    return emb.select(
        "vec_id",
        F.round(cosine_similarity_col("embedding", q), 5).alias("cos5"),
    )


def q_sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10. Oracle-safe because the per-row cosines are
    bit-identical across engines (identical fold order — proven by
    sim_cosine_scores hash-matching) and the ordering tie-breaks on
    vec_id, so the selected row SET is deterministic."""
    _utc(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    out = brute_force_topk(emb, q, k=10)
    return out.select("vec_id", F.round("cosine", 5).alias("cos5"))


def q_sim_cosine_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine scoring surfaces in one `surface`-tagged result: the full
    per-row score projection ('scores') and the exact top-10
    ('top10', TakeOrderedAndProject). Consolidates sim_cosine_scores +
    sim_brute_topk so both stay driver-checked within the 50-row
    correctness window."""
    scores = q_sim_cosine_scores(spark, sf_dir).select(
        F.lit("scores").alias("surface"), "vec_id", "cos5"
    )
    topk = q_sim_brute_topk(spark, sf_dir).select(
        F.lit("top10").alias("surface"), "vec_id", "cos5"
    )
    return scores.unionByName(topk)


def _lsh_data_planes(spark: SparkSession, sf_dir: str, n: int = 6) -> list[list[float]]:
    """Hyperplanes = the corpus vectors with vec_id 2..n+1 (skipping the
    query vector, vec_id 1). A fixed data sample is as random a direction
    set as hashed planes on an ~isotropic corpus, and — unlike xxhash —
    every engine can recompute the bucket codes from it."""
    emb = _t(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(F.col("vec_id").between(2, n + 1))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return [[float(x) for x in r[0]] for r in rows]


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-10 with DATA-DERIVED hyperplanes, making the
    whole approximate path oracle-checkable: the oracle recomputes the
    sign codes (dot products are bit-identical across engines), the
    Hamming-1 multiprobe set, and the exact ranking of the candidates —
    i.e. it checks the LSH semantics themselves, not a recall proxy.
    """
    _utc(spark)
    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    planes = _lsh_data_planes(spark, sf_dir, n=6)
    out = lsh_bucket_topk(emb, q, k=10, planes=planes)
    return out.select("vec_id", F.round("cosine", 5).alias("cos5"))


def q_ann_label_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pair suite, surface-tagged (r9):

    - ``blocked``: exact cosine within label blocks (ground truth by
      contract — output and oracle are both pair enumerations, which is
      why this surface lives in check_oracle.py's QUADRATIC cap set).
    - ``lsh``: banded sign-LSH near-dup (:func:`banded_near_dup_pairs`)
      with 16 DATA-DERIVED hyperplanes (embeddings vec_id 2..17) split
      into 4 bands of 4 bits, exact cosine >= 0.4 on candidates only —
      the embedding-space analogue of MinHash LSH banding, and the scale
      path for corpus-wide embedding dedup. Because the planes are
      literal corpus vectors, the oracle recomputes the band codes, the
      candidate union, and the verification scores — the approximate
      path's SEMANTICS are driver-checked, not a recall proxy.
    """
    _utc(spark)
    from .functions.similarity import banded_pairs_from_codes

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.label") == F.col("b.label"),
            F.col("a.vec_id") < F.col("b.vec_id"),
        ],
    )
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        _norm(F.col("a.embedding")) * _norm(F.col("b.embedding"))
    )
    blocked = (
        pairs.select(
            F.lit("blocked").alias("surface"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cos, 5).alias("cos5"),
        )
        .filter(F.col("cos5") >= 0.3)
    )
    # max_bucket_size=None: this surface is oracle-checked and the SQL
    # oracle enumerates candidates with NO cap — a capped Spark side would
    # silently drop pairs the oracle keeps at larger sf (ADVICE r10;
    # mirrors the MinHash precedent at the dedup_minhash call site).
    # Candidates come from the STAGED band codes (r17, VERDICT r16 #6)
    # — same codes, same pairs, ids-only shuffle.
    lsh = banded_pairs_from_codes(
        ann_index(spark, sf_dir).select("vec_id", "_bc"),
        emb.select("vec_id", "embedding"),
        threshold=0.4, max_bucket_size=None,
    ).select(
        F.lit("lsh").alias("surface"),
        "id_a",
        "id_b",
        F.round("cosine", 5).alias("cos5"),
    )
    return blocked.unionByName(lsh)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup DEDUP (r11): per-vector keep decisions
    over the whole embeddings corpus — the embedding-space twin of
    ``dedup_clusters`` and the operator a training-data pipeline actually
    runs (pairs are an intermediate; what ships is the kept set).

    Candidates come from banded sign-LSH over the same 16 data-derived
    hyperplanes as the ``lsh`` surface of ``ann_label_blocked_pairs``
    (cosine >= 0.4 verified on candidates only), components from
    pointer-doubled min-label propagation, and every corpus row appears
    in the output (singletons are their own canonical). The oracle
    recomputes the band codes, the candidate union, the verification
    scores, AND the components (recursive transitive-closure CTE — the
    ``dedup_clusters`` precedent), so the full approximate path is
    driver-checked end to end.

    max_bucket_size=None on the oracle-checked surface (the ADVICE r10 /
    MinHash precedent): the SQL oracle enumerates candidates uncapped.
    The library entry point (``semantic_dedup``) keeps the 10k cap
    default for production corpora.

    Since r17 (VERDICT r16 #6) candidate generation reads the STAGED
    band codes (:func:`ann_index` ``_bc``): the (band, code) shuffle
    moves ids + codes instead of full embeddings, and candidate
    vectors are fetched by id for the cosine check — same pairs, same
    components, oracle unchanged."""
    _utc(spark)
    from .functions.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = _lsh_data_planes(spark, sf_dir, n=16)
    return semantic_dedup(
        emb, planes, bands=4, threshold=0.4, max_bucket_size=None,
        precoded=ann_index(spark, sf_dir).select("vec_id", "_bc"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Multimodal + streaming

def q_text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from .functions.text import vocabulary

    docs = _t(spark, sf_dir, "documents")
    return vocabulary(docs)


def q_text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from .functions.text import ngram_counts

    docs = _t(spark, sf_dir, "documents")
    return ngram_counts(docs, n=2)


def q_dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs outside src0 sharing at least one
    5-gram with the src0 'eval set', plus the shared-shingle count."""
    _utc(spark)
    from .functions.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    return contamination_check(train, eval_set, k=5)


def q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL redaction with audit counts; the redacted text is
    digest-compared (md5, engine-portable)."""
    _utc(spark)
    from .functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    feats = redact_pii("text")
    return docs.select(
        "doc_id",
        feats["n_emails"].alias("n_emails"),
        feats["n_urls"].alias("n_urls"),
        feats["redacted_digest"].alias("redacted_digest"),
    )


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two packing surfaces over the documents corpus, one schema
    (surface, doc_id, i1, i2, i3, i4, n_tokens, chunk_text):

    - 'chunks': per-document 7-token windows (small window so every
      doc produces several ragged-tail chunks at test scale) —
      i1=chunk_idx, content in chunk_text;
    - 'pack' (r14): CROSS-document GPT-style concat-and-chunk packing
      (functions/packing.py: hash-sharded, hash-ordered prefix sum,
      cut every 31 tokens, straddling documents split with boundaries
      recorded) — i1=shard, i2=seq_id, i3=doc_offset, i4=seq_offset.
      The DuckDB oracle replays the whole layout: same md5 shard and
      order, same window prefix sum, same segment arithmetic — any
      drift in ordering, cumulative sums, or boundary math breaks the
      hash. seq_len=31 (prime, ≪ doc length) forces straddles."""
    _utc(spark)
    from .functions.packing import pack_sequences
    from .functions.text import chunk_token_windows

    docs = _t(spark, sf_dir, "documents")
    nul_s = F.lit(None).cast("string")
    z = F.lit(0).cast("int")
    ch = chunk_token_windows(docs, window=7).select(
        F.lit("chunks").alias("surface"),
        "doc_id",
        F.col("chunk_idx").cast("int").alias("i1"),
        z.alias("i2"),
        z.alias("i3"),
        z.alias("i4"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "chunk_text",
    )
    pk = pack_sequences(docs, seq_len=31, shards=4).select(
        F.lit("pack").alias("surface"),
        "doc_id",
        F.col("shard").alias("i1"),
        F.col("seq_id").cast("int").alias("i2"),
        F.col("doc_offset").cast("int").alias("i3"),
        F.col("seq_offset").alias("i4"),
        "n_tokens",
        nul_s.alias("chunk_text"),
    )
    return ch.unionByName(pk)


def q_text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench body (not registered — the registry rides text_chunks'
    'pack' surface): cross-document sequence packing at production
    shape, seq_len=2048 and one shard per core."""
    _utc(spark)
    from .functions.packing import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=2048, shards=32
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component resolution of exact-Jaccard near-dup pairs into
    (doc_id, canonical_id) keep decisions. The Spark side iterates
    min-label propagation to a fixpoint; the oracle computes the same
    components with a recursive transitive-closure CTE — closure size is
    bounded because near-dup components are tiny (that is the premise of
    dedup)."""
    _utc(spark)
    from .functions.dedup import resolve_duplicate_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_posting_len=None)
    return resolve_duplicate_clusters(pairs)


def q_sql_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q2 statistics through the thin SQL view layer (spark.sql over
    registered medallion views) instead of the DataFrame API — same
    result, exercising the SQL surface."""
    _utc(spark)
    from .plans.warehouse_job import SQL_MART_STATISTIC, register_views

    layers = run_full_pipeline(lottery_bronze(spark, sf_dir), as_of=AS_OF)
    register_views(spark, {"mart": layers["mart"]})
    return stable(spark.sql(SQL_MART_STATISTIC))


def q_w7_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions over the events stream: per (user, session),
    event count and duration — the lag + conditional-cumsum window
    composition every clickstream pipeline needs."""
    _utc(spark)
    from .operators.windows import sessionize

    ev = _events(spark, sf_dir).select("user_id", "ts")
    sess = sessionize(ev, key="user_id", ts_col="ts", gap_minutes=30)
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
        .cast("bigint")
        .alias("duration_sec"),
    )


def q_a7_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont, bit-identical) plus the approx sketch counterpart for
    the scale path (rows-only checked via the exact columns)."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


def q_a10_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (row/null/distinct counts, min/max) over
    the customer table — the generic data-quality sweep. Float columns
    are excluded from the profile here because engines render extreme
    doubles as strings differently; their profiling path is tested in
    pytest."""
    _utc(spark)
    from .operators.aggregates import profile

    cust = _t(spark, sf_dir, "customer")
    return profile(cust, ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"])


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-10 — the scale path that turns
    per-query full scans into n_probe partition-pruned cell reads.

    Oracle-checkable end-to-end: centroids are the 16 lowest-id vectors
    (SQL can fetch them), cell assignment is argmin over c.c - 2*v.c
    (bit-identical dot-product folds on both engines, ties to the lowest
    centroid id), probe cells are the 4 nearest to the query (distance
    then id), candidates exact-ranked. K-MEANS-refined centroids
    (kmeans_centroids) are the production variant — same layout, better
    balance — validated in pytest where recall/balance can be measured.
    """
    _utc(spark)
    from .functions.similarity import deterministic_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    cents = deterministic_centroids(emb, k=16)
    out = ivf_topk(emb, q, cents, k=10, n_probe=4)
    return out.select("vec_id", F.round("cosine", 5).alias("cos5"))


#: Trained PQ codebooks per corpus dir (deterministic data function;
#: one-time index-build cost) + its timing, read by bench.py.
_PQ_BOOKS_CACHE: dict[str, list] = {}
PQ_TRAIN_STATS: dict[str, float] = {}

#: Per-sf_dir path of the staged ANN index (r17, VERDICT r16 #5/#6).
_ANN_INDEX_CACHE: dict[str, str] = {}
#: "stage" = cold index build seconds (0.0 warm), read by bench.py.
ANN_STAGE_TIMINGS: dict[str, float] = {}


def _pq_books(spark: SparkSession, sf_dir: str) -> list:
    """Trained PQ codebooks, one training pass per corpus (cached —
    production trains at index build and serves many queries)."""
    from .functions.similarity import pq_train_codebooks

    if sf_dir not in _PQ_BOOKS_CACHE:
        t0 = time.time()
        _PQ_BOOKS_CACHE[sf_dir] = pq_train_codebooks(
            _t(spark, sf_dir, "embeddings"), m=4, k=16, n_iter=2
        )
        PQ_TRAIN_STATS["seconds"] = round(time.time() - t0, 3)
    return _PQ_BOOKS_CACHE[sf_dir]


def _pq_res_books(spark: SparkSession, sf_dir: str) -> list:
    """Residual-trained IVFPQ codebooks (cached like :func:`_pq_books`)."""
    from .functions.similarity import (
        deterministic_centroids,
        ivfpq_train_residual_codebooks,
    )

    if sf_dir not in _PQ_RES_BOOKS_CACHE:
        emb = _t(spark, sf_dir, "embeddings")
        cents = deterministic_centroids(emb, k=16)
        t0 = time.time()
        _PQ_RES_BOOKS_CACHE[sf_dir] = ivfpq_train_residual_codebooks(
            emb, cents, m=4, k=16, n_iter=2
        )
        PQ_TRAIN_STATS["res_seconds"] = round(time.time() - t0, 3)
    return _PQ_RES_BOOKS_CACHE[sf_dir]


def ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage the corpus's ANN INDEX CODES once per corpus (r17,
    VERDICT r16 #5/#6) and return a reader — the index-build /
    query-serve split every production ANN system makes (FAISS builds
    IVFPQ lists once; queries probe them):

    - ``_cell``   — IVF coarse assignment (16 deterministic
      centroids), the table's PARTITION directory, so an IVFPQ probe
      of ``n_probe`` cells prunes the scan to those directories at
      planning time;
    - ``_pq``     — trained-codebook PQ codes of the raw vectors
      (4 x 16, the 'pq'/'ivfpq' surfaces);
    - ``_pqr``    — residual-codebook codes of ``x - centroid[_cell]``
      (the 'ivfpq_res' surface);
    - ``_bc``     — the 4 banded sign-LSH codes over the 16
      data-derived hyperplanes (the 'lsh' pair surface and
      ``dedup_semantic``'s candidate generation).

    Query-time scans read a few bytes of codes per row instead of
    re-deriving every code from the raw embedding column per run —
    at 100 TB that is the difference between scanning ~hundreds of GB
    of codes (directory-pruned for cell probes) and re-reading and
    re-quantizing the whole vector corpus per query. Codes are
    deterministic functions of the corpus (trained books, literal
    planes), so every staged value is byte-identical to the recompute
    path and the DuckDB oracles are unchanged. Files persist in
    ``GRAFT_WAREHOUSE`` (_SUCCESS-checked like :func:`bucketed_facts`);
    a warm process pays one parquet attach."""
    path = _ANN_INDEX_CACHE.get(sf_dir)
    if path is None:
        from .functions.similarity import (
            _residual_col,
            banded_codes_col,
            deterministic_centroids,
            ivf_assign,
            pq_encode,
        )

        tag = _sf_tag(sf_dir)
        path = os.path.join(GRAFT_WAREHOUSE, f"ann_index_{tag}", "codes")
        if not _layout_ready(path):
            from concurrent.futures import ThreadPoolExecutor

            emb = _t(spark, sf_dir, "embeddings")
            # The two codebook trainings are INDEPENDENT iterative
            # chains (raw books vs residual books) whose cost is
            # mostly driver/JVM plan work on a 2k-row fixture —
            # overlap them from a driver thread pool (guide §2.6)
            # so the cold index build pays max(), not sum(). Each
            # trains exactly as before (same jobs, same collected
            # means — thread-local job groups only).
            with ThreadPoolExecutor(max_workers=2) as tp:
                fb = tp.submit(_pq_books, spark, sf_dir)
                frb = tp.submit(_pq_res_books, spark, sf_dir)
                books, rbooks = fb.result(), frb.result()
            cents = deterministic_centroids(emb, k=16)
            planes = _lsh_data_planes(spark, sf_dir, n=16)
            # t0 AFTER training: codebook training is already surfaced
            # as pq_train_stage — this secondary prices only the
            # encode+write pass
            t0 = time.time()
            enc = pq_encode(ivf_assign(emb, cents), books)
            enc = pq_encode(
                enc.withColumnRenamed("_pq", "_pq_raw").withColumn(
                    "_res", _residual_col("embedding", cents)
                ),
                rbooks,
                vec_col="_res",
            ).withColumnRenamed("_pq", "_pqr")
            (
                enc.select(
                    "vec_id",
                    "_cell",
                    F.col("_pq_raw").alias("_pq"),
                    "_pqr",
                    banded_codes_col("embedding", planes, 4).alias("_bc"),
                )
                # one writer task per cell: each _cell directory holds
                # one compact code file instead of one per shuffle task
                .repartition(F.col("_cell"))
                .write.mode("overwrite")
                .partitionBy("_cell")
                .parquet(path)
            )
            ANN_STAGE_TIMINGS["stage"] = round(time.time() - t0, 3)
        else:
            ANN_STAGE_TIMINGS.setdefault("stage", 0.0)
        _ANN_INDEX_CACHE[sf_dir] = path
    return spark.read.parquet(path)


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (r11; TRAINED codebooks since
    r12, VERDICT r11 #5) — the memory-bounded scale path: 4 subspaces x
    16 Lloyd-trained codebook entries encode each 64-dim vector as 4
    bytes, the ADC scan ranks by plan-time-folded distance-table
    lookups (no join, no shuffle), and the top-50 candidates are
    exact-reranked by cosine.

    Oracle-checkable end-to-end INCLUDING the training: init codebooks
    are subvectors of the 16 lowest-id corpus vectors (SQL can slice
    them), each Lloyd iteration is argmin assignment + per-(subspace,
    entry, dim) means on a quantized integer grid (exact and
    engine-portable — see ``pq_train_codebooks``), and the oracle
    replays the SAME two unrolled iterations in SQL
    (``_pq_trained_cb_sql``) before reproducing the ADC add chain term
    by term. Recall@10 vs the untrained lowest-id codebooks is
    pytest-pinned to improve on a clustered fixture.

    Training is cached per corpus (deterministic function of the data
    — the staged_shingles precedent): production trains codebooks ONCE
    at index build and serves many queries from them, so the repeat
    path here prices the ADC scan, and the one-time training cost is
    surfaced separately (PQ_TRAIN_STATS; bench secondary
    ``pq_train_stage``).

    Since r17 (VERDICT r16 #5) the query probes the STAGED code table
    (:func:`ann_index`) instead of re-encoding the corpus per run —
    the ADC scan reads 4 bytes of codes per row, the rerank fetches
    the 50 winners' vectors by id; values byte-identical, oracle
    unchanged."""
    _utc(spark)
    from .functions.similarity import pq_topk_codes

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    out = pq_topk_codes(
        ann_index(spark, sf_dir), emb, q, _pq_books(spark, sf_dir),
        k=10, refine=50,
    )
    return out.select("vec_id", F.round("cosine", 5).alias("cos5"))


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composed ANN top-10 (r13, VERDICT r12 #6) — FAISS's
    IVFADC layout as a composition of the two oracle-checked pieces:
    the coarse quantizer (16 deterministic cells) picks the 6 cells
    nearest the query driver-side, :func:`ivf_assign` restricts the
    scan to them, and the TRAINED-codebook ADC ranking + exact top-50
    rerank of :func:`ivfpq_topk_codes` runs over that restricted set
    only. The oracle replays probe selection, cell assignment, the
    unrolled Lloyd training, the per-cell ADC add chain, and the refine
    cut in SQL. Rides sim_ann_suite as the 'ivfpq' surface.

    Since r17 (VERDICT r16 #5) the probe runs over the STAGED code
    table, partitioned by ``_cell`` — the 6-cell restriction prunes
    whole directories at planning time and the ADC reads codes only;
    values byte-identical, oracle unchanged."""
    _utc(spark)
    from .functions.similarity import (
        deterministic_centroids,
        ivfpq_topk_codes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    cents = deterministic_centroids(emb, k=16)
    out = ivfpq_topk_codes(
        ann_index(spark, sf_dir), emb, q, cents,
        _pq_books(spark, sf_dir),
        k=10, n_probe=6, refine=50,
    )
    return out.select("vec_id", F.round("cosine", 5).alias("cos5"))


#: Residual-trained IVFPQ codebooks, one training pass per sf_dir.
_PQ_RES_BOOKS_CACHE: dict[str, list] = {}


def q_sim_ivfpq_res_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVFPQ top-10 (r14, VERDICT r13 #3) — FAISS's
    ``by_residual=True`` default: codebooks are Lloyd-trained on the
    IVF residuals ``x - centroid[cell]`` over the full corpus, codes
    quantize the residuals, and the ADC table is computed per probed
    cell against the query's residual ``q - centroid``. The DuckDB
    oracle replays the WHOLE chain — coarse assignment, residual
    derivation, the unrolled residual Lloyd iterations, per-cell ADC,
    refine, exact rerank — closing the one oracle-coverage gap r13
    left (the 'ivfpq' surface replays residual=False only). Rides
    sim_ann_suite as the 'ivfpq_res' surface.

    Since r17 (VERDICT r16 #5) the probe runs over the staged
    ``_pqr`` residual codes (directory-pruned by ``_cell``); values
    byte-identical, oracle unchanged."""
    _utc(spark)
    from .functions.similarity import (
        deterministic_centroids,
        ivfpq_topk_codes,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir)
    cents = deterministic_centroids(emb, k=16)
    out = ivfpq_topk_codes(
        ann_index(spark, sf_dir), emb, q, cents,
        _pq_res_books(spark, sf_dir),
        k=10, n_probe=6, refine=50, code_col="_pqr", residual=True,
    )
    return out.select("vec_id", F.round("cosine", 5).alias("cos5"))


def q_serving_mart_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 + W3/W4/W5/W6: the dashboard's display projection — mart rows
    with percent-formatted probability and recency classification, top-50
    by occurrences (sortable table + pagination)."""
    _utc(spark)
    layers = run_full_pipeline(lottery_bronze(spark, sf_dir), as_of=AS_OF)
    view = layers["mart"].select(
        "number_value",
        F.col("total_occurrences").cast("bigint").alias("total_occurrences"),
        percent_display(F.col("probability").cast("double")).alias("pct"),
        F.date_format("last_appeared_date", "yyyy-MM-dd").alias("last_appeared_date"),
        recency_bucket("days_since_last").alias("recency"),
    )
    # k exceeds the two-digit key space, so pagination is exercised without
    # a tie-broken cutoff that engines could resolve differently.
    return top_k(view, "total_occurrences", 200).withColumn(
        "total_occurrences", F.col("total_occurrences").cast("bigint")
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode through the Arrow-batched mapInPandas path, two
    surfaces (r7 adds ``wav``):

    - ``fake``: the deterministic pseudo-decode over binary payloads
      (d1=width, d2=height, digest=md5 of the payload) — plumbing,
      schema, batching checked end-to-end with zero codec deps.
    - ``wav``: a REAL codec round trip — deterministic PCM WAV
      containers synthesized per doc (stdlib ``wave``), decoded back
      with :func:`decode_audio_features` (d1=n_samples, d2=sample_rate,
      metric=mean amplitude). Sample counts/means have a SQL closed form
      (pure integer function of doc_id), so the decoder's OUTPUT is
      driver-oracle-checked, not just pinned. The payload md5 is
      projected out (no SQL form for RIFF bytes).
    - ``y4m``: the video twin — deterministic YUV4MPEG2 streams (a real
      container: text header + FRAME markers + raw planes) parsed by a
      hand-rolled zero-dependency decoder (d1=n_frames, d2=width,
      metric=mean luma; closed form again). Image (Pillow) / audio
      (wave) / video (Y4M) each now have one REAL parser through the
      same Arrow batch path.
    - ``adpcm`` (r11, VERDICT r10 #2): a COMPRESSED codec round trip —
      IMA-ADPCM WAV containers (format tag 0x0011) synthesized so the
      nibble stream quantizes exactly (``v, v+1, v, v+1, ...``),
      decoded by the hand-rolled RIFF walk + standard 89-step IMA
      state machine in :func:`decode_audio_features` (d1=n_samples,
      d2=sample_rate, metric=mean amplitude — all SQL closed forms).
      The state machine is cross-validated bit-for-bit against
      CPython's ``audioop`` reference in pytest."""
    _utc(spark)
    from .multimodal import (
        decode_audio_features,
        decode_video_features,
        synthesize_adpcm_wav_payload,
        synthesize_wav_payload,
        synthesize_y4m_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    binary_docs = attach_binary_payload(docs)
    fake = decode_features(binary_docs).select(
        F.lit("fake").alias("surface"),
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("d1"),
        F.col("height").cast("bigint").alias("d2"),
        F.lit(None).cast("double").alias("metric"),
        "digest",
    )
    wav = decode_audio_features(synthesize_wav_payload(docs)).select(
        F.lit("wav").alias("surface"),
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("n_samples").cast("bigint").alias("d1"),
        F.col("sample_rate").cast("bigint").alias("d2"),
        F.col("mean_amp").alias("metric"),
        F.lit(None).cast("string").alias("digest"),
    )
    y4m = decode_video_features(synthesize_y4m_payload(docs)).select(
        F.lit("y4m").alias("surface"),
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("n_frames").cast("bigint").alias("d1"),
        F.col("width").cast("bigint").alias("d2"),
        F.col("mean_luma").alias("metric"),
        F.lit(None).cast("string").alias("digest"),
    )
    adpcm = decode_audio_features(synthesize_adpcm_wav_payload(docs)).select(
        F.lit("adpcm").alias("surface"),
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("n_samples").cast("bigint").alias("d1"),
        F.col("sample_rate").cast("bigint").alias("d2"),
        F.col("mean_amp").alias("metric"),
        F.lit(None).cast("string").alias("digest"),
    )
    return fake.unionByName(wav).unionByName(y4m).unionByName(adpcm)


def _staged_events_work(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events parquet + a watermark-advancing sentinel row into
    a per-(process, sf_dir) work dir and return it (input lives under
    `in/`). Shared by every append-mode events stream surface
    (q_stream_hourly_counts, the stream_suite session windows): the
    input symlink + sentinel are a pure function of the immutable
    testdata, so staging once is sound; each caller wipes its own
    out/ckpt dirs so every run measures the full streaming path. atexit
    removes the whole cache — no tempdir leak across the bench's
    repeated runs."""
    import datetime as _dt
    import glob as _glob
    import shutil as _shutil

    from .streaming import EVENTS_SCHEMA_NANOS

    events_path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    layout = events_ts_layout(events_path)
    work = _STREAM_WORK_CACHE.get(sf_dir)
    if work is None:
        work = tempfile.mkdtemp(prefix="stream_hourly_")
        src_dir = os.path.join(work, "in")
        os.makedirs(src_dir)
        os.symlink(events_path, os.path.join(src_dir, "events.parquet"))

        # Sentinel: one row 4 hours past the corpus max ts (watermark
        # delay is 2h), filtered back out after the run, written in the
        # SAME physical layout as the source file so the stream reader's
        # one schema covers both. The max is collected as an EPOCH INTEGER
        # on both layouts (nanos BIGINT / unix_micros) — integer arithmetic
        # is immune to the driver-timezone shift a naive-datetime collect
        # of a TIMESTAMP(LTZ) column suffers on non-UTC hosts. Cached per
        # sf_dir — the testdata is immutable within a run (a 1-value
        # cache, not a data-path collect).
        max_ts = _EVENTS_MAX_TS.get(sf_dir)
        if max_ts is None:
            if layout == "nanos-long":
                ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
                max_ts = int(
                    _t(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
                )
            else:
                max_ts = int(
                    _t(spark, sf_dir, "events")
                    .agg(F.unix_micros(F.max(F.col("ts").cast("timestamp"))))
                    .first()[0]
                )
            _EVENTS_MAX_TS[sf_dir] = max_ts
        if layout == "nanos-long":
            sent_ts = max_ts + 4 * 3600 * 1_000_000_000
            sent_schema = EVENTS_SCHEMA_NANOS
        else:
            sent_ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(
                microseconds=max_ts + 4 * 3600 * 1_000_000
            )
            sent_schema = (
                "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING"
            )
        sentinel = spark.createDataFrame(
            [(-1, sent_ts, -1, "_sentinel", 0.0, "{}")], sent_schema
        )
        tmp_sent = os.path.join(work, "sentinel_stage")
        sentinel.coalesce(1).write.mode("overwrite").parquet(tmp_sent)
        part = _glob.glob(os.path.join(tmp_sent, "part-*.parquet"))[0]
        _shutil.copy(part, os.path.join(src_dir, "zz_sentinel.parquet"))
        _STREAM_WORK_CACHE[sf_dir] = work
    return work


def q_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hourly counts through the DEPLOYABLE streaming path:
    append-mode parquet sink + checkpoint (executor-side writes, bounded
    state) rather than a driver-resident memory sink in complete mode.

    Append mode only emits a window once the watermark passes it, and a
    finite backfill's watermark stops at max(ts) - delay — so a sentinel
    event 4h past the corpus end is added to the stream directory
    (:func:`_staged_events_work`), playing the role the next day's data
    plays in production: it pushes the watermark past every real window.
    The sentinel's own (filtered-out) window is the only state left
    unflushed.
    """
    _utc(spark)
    import shutil as _shutil

    from .streaming import run_stream_to_parquet

    work = _staged_events_work(spark, sf_dir)
    src_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    ckpt_dir = os.path.join(work, "ckpt")
    _shutil.rmtree(out_dir, ignore_errors=True)
    _shutil.rmtree(ckpt_dir, ignore_errors=True)

    # State-store instance count == shuffle partitions at stream start and
    # is baked into the (fresh) checkpoint. 32 stores for ~3.6k windows is
    # pure per-store overhead at this scale (measured 8.7s -> 5.4s); a
    # cluster deployment sizes it to executor-core count instead.
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        stream = events_hourly_counts(spark, src_dir)
        run_stream_to_parquet(stream, out_dir, ckpt_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    result = spark.read.parquet(out_dir).filter(F.col("event_type") != "_sentinel")
    return result.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
    )


#: Per-sf_dir staged work dir for q_stream_suite (two-file CSV split of
#: the lottery bronze + streaming sinks), cleaned at exit.
_STREAM_SUITE_CACHE: dict[str, str] = {}

#: Per-pipeline wall seconds of the last q_stream_suite run (r18,
#: guide §1 "measure first") — read by probes/bench to see which
#: pipeline is the suite's floor.
STREAM_SUITE_TIMINGS: dict[str, float] = {}


def q_stream_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two STATEFUL streaming operators under the driver oracle (r6
    verdict ask #5 — both were pytest-only), one surface-tagged row:

    - ``upsert``: streaming mart maintenance via ``foreachBatch``
      (streaming/__init__.py:run_stream_mart_upsert). The lottery bronze
      is staged as TWO date-disjoint CSV files and streamed one file per
      micro-batch; each batch runs the medallion to its partial mart and
      merges into the persisted serving mart (occurrences add,
      last-appearance maxes, denominator adds, probability re-derived),
      exactly-once over the file source via the checkpoint WAL. The
      oracle is the ONE-SHOT batch mart (_LOTTERY_CTE) — streaming
      incremental view maintenance must land bit-equal to the full load.
    - ``interval``: the watermarked stream-stream interval join
      (attributed_conversions): every purchase paired with the same
      user's clicks in the preceding hour, append-mode through the
      deployable parquet sink + checkpoint. Inner-join matches emit
      without waiting on the watermark, so a finite backfill needs no
      sentinel; the oracle is the plain batch range-join SQL.

    - ``outer`` (r8): the LEFT-OUTER stream-stream interval join — the
      retargeting audience: purchases with NO click in the preceding
      hour. Distinct stateful behavior from ``interval``: these
      null-padded rows can only emit at STATE EVICTION, when the
      watermark proves no matching click can still arrive, so the
      stream reads the sentinel-staged events dir (the sentinel row is
      event_type-filtered out of both sides but advances the
      watermark). Oracle = batch NOT EXISTS over the same interval.
    - ``session`` (r8): streaming gap-sessionization via
      ``F.session_window`` (streaming/__init__.py:
      events_session_windows) — dynamic data-dependent windows, the
      stateful merging aggregation a tumbling window can't express.
      Input is the sentinel-staged events dir (the same
      watermark-advancing staging q_stream_hourly_counts uses) so every
      real session closes and emits under append mode; the oracle is
      the batch lag+cumsum sessionization SQL (the same rule
      w7_sessionize checks) — stream must equal batch
      session-for-session.

    - ``ingest`` (r9, VERDICT r8 #4): STREAMING CORPUS INGEST end to
      end — the new-batch documents (doc_id % 4 == 0) arrive as one
      parquet file per micro-batch; each batch is near-dup-mined
      against the persisted corpus index via ``foreachBatch``
      (streaming/__init__.py:run_stream_corpus_ingest), its verified
      pairs appended to the sink, and the batch itself appended to the
      index so later batches dedup against it. The union over batches
      must hash-equal the one-shot batch incremental run — the oracle
      is the SAME exact-Jaccard SQL as dedup_minhash_incremental,
      mapped onto the suite columns.

    Harmonized columns (suite shape): s1/i1/i2/i3/d1/s2 per surface —
    upsert: (number_value, total_occurrences, total_draws,
    days_since_last, probability, last_appeared_date); interval:
    (user_id, purchase_id, click_id, purchase-click lag in MICROSECONDS
    — exact integer arithmetic on both engines, no second-truncation
    ambiguity — purchase_value, purchase_ts); session: (user_id,
    n_events, session_start/end as EPOCH MICROSECONDS with end =
    last_ts + gap); ingest: (id_a, id_b as i1/i2, jaccard as d1).
    """
    _utc(spark)
    import glob as _glob
    import shutil as _shutil

    from .functions.dedup import build_minhash_index
    from .streaming import (
        attributed_conversions,
        events_session_windows,
        read_crawl_csv_stream,
        run_stream_corpus_ingest,
        run_stream_mart_upsert,
        run_stream_to_parquet,
    )

    work = _STREAM_SUITE_CACHE.get(sf_dir)
    if work is None:
        # Stage once per (process, sf_dir): the CSV split is a pure
        # function of the immutable testdata. Streaming outputs and
        # checkpoints are wiped per invocation below, so every run times
        # the full streaming path, not a cached result.
        work = tempfile.mkdtemp(prefix="stream_suite_")
        src_dir = os.path.join(work, "csv_in")
        os.makedirs(src_dir)
        bronze = lottery_bronze(spark, sf_dir).select(
            "prize",
            "number_value",
            "full_date",
            F.date_format("load_timestamp", "yyyy-MM-dd HH:mm:ss").alias(
                "created_at"
            ),
        )
        day = F.substring("full_date", 1, 2).cast("int")
        halves = (("b1", bronze.filter(day <= 15)), ("b2", bronze.filter(day > 15)))
        for tag, part_df in halves:
            stage = os.path.join(work, f"stage_{tag}")
            write_crawl_csv(part_df.coalesce(1), stage)
            src = _glob.glob(os.path.join(stage, "*.csv"))[0]
            _shutil.copy(src, os.path.join(src_dir, f"{tag}.csv"))
        # Corpus-ingest staging: the new-batch docs split into one
        # parquet FILE per micro-batch, and the PRISTINE corpus index
        # (doc_id % 4 != 0, fed from the shared staged-shingle artifact
        # — no re-tokenization). The stream MUTATES its index copy, so
        # the base is staged once and copied per invocation below.
        docs_in = os.path.join(work, "docs_in")
        os.makedirs(docs_in)
        slim = _t(spark, sf_dir, "documents").select("doc_id", "text")
        new_docs = slim.filter(F.col("doc_id") % 4 == 0)
        doc_halves = (
            ("d1", new_docs.filter(F.col("doc_id") % 8 == 0)),
            ("d2", new_docs.filter(F.col("doc_id") % 8 != 0)),
        )
        for tag, half in doc_halves:
            stage = os.path.join(work, f"stage_{tag}")
            half.coalesce(1).write.mode("overwrite").parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            _shutil.copy(part, os.path.join(docs_in, f"{tag}.parquet"))
        build_minhash_index(
            slim.filter(F.col("doc_id") % 4 != 0),
            os.path.join(work, "mh_index_base"),
            pre_shingled=staged_shingles(spark, sf_dir).filter(
                F.col("doc_id") % 4 != 0
            ),
        )
        # CDC staging (r11): a snapshot-pointer base table from orders
        # plus two change batches — one parquet FILE per micro-batch,
        # mtime-ordered so the file source replays them in sequence.
        # c2 RE-updates the same keys c1 updated (absolute values), so
        # the oracle proves batches applied in order, not just at all.
        # Each change row carries a `_seq` (r12, ADVICE r11): if a
        # trigger coalesces both files into one microbatch, the merge
        # reduces the batch last-change-wins instead of writing both
        # versions of a key — the final state is identical either way,
        # which is what the oracle hash checks.
        from .sources.layout import snapshot_write as _snap_write

        po = _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
            "o_totalprice",
        )
        _snap_write(po, os.path.join(work, "cdc_base"), "o_month")
        kk = F.col("o_orderkey")
        c1 = (
            po.filter((kk % 13 == 0) & (kk % 17 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .withColumn("_del", F.lit(False))
            .unionByName(
                po.filter(kk % 17 == 0).withColumn("_del", F.lit(True))
            )
            .withColumn("_seq", F.lit(1))
        )
        c2 = (
            po.filter((kk % 13 == 0) & (kk % 17 != 0) & (kk % 23 != 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(2.0))
            .withColumn("_del", F.lit(False))
            .unionByName(
                po.filter((kk % 23 == 0) & (kk % 17 != 0)).withColumn(
                    "_del", F.lit(True)
                )
            )
            .unionByName(
                po.filter(kk % 19 == 0)
                .withColumn("o_orderkey", -kk)
                .withColumn("_del", F.lit(False))
            )
            .withColumn("_seq", F.lit(2))
        )
        cdc_in = os.path.join(work, "cdc_in")
        os.makedirs(cdc_in)
        for i, batch in enumerate((c1, c2)):
            stage = os.path.join(work, f"stage_c{i}")
            batch.coalesce(1).write.mode("overwrite").parquet(stage)
            part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
            dst = os.path.join(cdc_in, f"c{i}.parquet")
            _shutil.copy(part, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        _STREAM_SUITE_CACHE[sf_dir] = work
    src_dir = os.path.join(work, "csv_in")
    mart_dir = os.path.join(work, "mart")
    ckpt = os.path.join(work, "ckpt")
    attr_out = os.path.join(work, "attr_out")
    attr_ckpt = os.path.join(work, "attr_ckpt")
    sess_out = os.path.join(work, "sess_out")
    sess_ckpt = os.path.join(work, "sess_ckpt")
    outer_out = os.path.join(work, "outer_out")
    outer_ckpt = os.path.join(work, "outer_ckpt")
    ing_idx = os.path.join(work, "mh_index_run")
    ing_out = os.path.join(work, "ingest_out")
    ing_ckpt = os.path.join(work, "ingest_ckpt")
    cdc_run = os.path.join(work, "cdc_run")
    cdc_ckpt = os.path.join(work, "cdc_ckpt")
    remove_layer(mart_dir)  # a published link: rmtree refuses it
    for d in (
        ckpt, attr_out, attr_ckpt,
        sess_out, sess_ckpt, outer_out, outer_ckpt,
        ing_idx, ing_out, ing_ckpt, cdc_run, cdc_ckpt,
    ):
        _shutil.rmtree(d, ignore_errors=True)
    _shutil.copytree(os.path.join(work, "mh_index_base"), ing_idx)
    _shutil.copytree(os.path.join(work, "cdc_base"), cdc_run)

    # Same state-store sizing as q_stream_hourly_counts: instance count ==
    # shuffle partitions at stream start; 32 stores are pure overhead for
    # this state volume (a cluster sizes to executor-core count instead).
    #
    # The seven pipelines are INDEPENDENT (disjoint sources, sinks and
    # checkpoints), so their blocking runners are overlapped from a
    # driver thread pool (optimization guide §2.6): Spark schedules the
    # concurrent streaming jobs FIFO and back-fills idle cores, so the
    # suite's wall-clock is the slowest pipeline plus read-back instead
    # of the sum of seven microbatch machineries. Stream PLANS are still
    # built serially on this thread (plan-time conf probes stay
    # race-free); each per-pipeline output is byte-identical to the
    # serial run — same sources, same checkpoints, same sinks.
    from concurrent.futures import ThreadPoolExecutor

    from .streaming import run_stream_cdc_apply

    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        staged_in = os.path.join(_staged_events_work(spark, sf_dir), "in")
        bronze_stream = read_crawl_csv_stream(
            spark, src_dir, max_files_per_trigger=1
        )
        attr_stream = attributed_conversions(
            spark, os.path.join(sf_dir, "events.parquet")
        )
        sess_stream = events_session_windows(spark, staged_in)
        outer_stream = attributed_conversions(
            spark, staged_in, how="left_outer", sentinel_type="_sentinel"
        )
        doc_stream = (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "docs_in"))
        )
        # update_mode='mor' (r15, VERDICT r14 #5): each microbatch
        # lands as equality-delete + append files instead of a
        # partition rewrite — the oracle hash below must not notice
        # (same rows, same final state; layout is invisible to reads)
        cdc_stream = (
            spark.readStream.schema(
                "o_orderkey BIGINT, o_month STRING, "
                "o_totalprice DOUBLE, _del BOOLEAN, _seq INT"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, "cdc_in"))
        )
        # The pool threads touch session confs (q_stream_hourly_counts
        # calls ensure_conf for timeZone / nanosAsLong inside its
        # runner): pre-set both ON THIS THREAD so no pool thread ever
        # races a conf write against another thread's plan build
        # (ADVICE r17 #1 — previously this held only because
        # events_session_windows above happened to pre-set them).
        ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
        if events_ts_layout(os.path.join(sf_dir, "events.parquet")) == "nanos-long":
            ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")

        # Longest pipelines first so the pool's tail is one heavy
        # pipeline, not a queue behind it. Width: 4 in flight measured
        # the sweet spot on local[32] (7-wide thrashed the shared 8g
        # driver heap — rep times swung 21-78s; 4-wide is stable).
        # Width only changes scheduling, never the per-pipeline outputs.
        runners = [
            ("cdc", lambda: run_stream_cdc_apply(
                cdc_stream, cdc_run, "o_month", ["o_orderkey"],
                delete_col="_del", seq_col="_seq",
                checkpoint_dir=cdc_ckpt, update_mode="mor",
            )),
            ("ingest", lambda: run_stream_corpus_ingest(
                doc_stream, ing_idx, ing_out, ing_ckpt,
                jaccard_threshold=0.5,
            )),
            ("upsert", lambda: run_stream_mart_upsert(
                bronze_stream, mart_dir, ckpt, as_of=AS_OF
            )),
            # 'hourly' runs here too (its own staged source + sink); it
            # re-sets shuffle.partitions to the same value inside this
            # conf window, so the concurrent set/restore is a no-op.
            ("hourly", lambda: q_stream_hourly_counts(spark, sf_dir)),
            ("outer", lambda: run_stream_to_parquet(
                outer_stream, outer_out, outer_ckpt
            )),
            ("attr", lambda: run_stream_to_parquet(
                attr_stream, attr_out, attr_ckpt
            )),
            ("sess", lambda: run_stream_to_parquet(
                sess_stream, sess_out, sess_ckpt
            )),
        ]

        def _timed(name, fn):
            # per-pipeline wall clock (r18, guide §1): queue wait is
            # excluded by stamping t0 inside the pool thread, so the
            # numbers answer "which pipeline is the floor", not "how
            # long did the queue hold it"
            def run():
                t0 = time.time()
                try:
                    return fn()
                finally:
                    STREAM_SUITE_TIMINGS[name] = round(time.time() - t0, 3)
            return run

        with ThreadPoolExecutor(max_workers=4) as pool:
            # The hourly future is looked up BY NAME, not position
            # (ADVICE r17 #2: a 'longest first' re-tune must not be
            # able to silently bind the wrong future).
            futs = {
                name: pool.submit(_timed(name, fn)) for name, fn in runners
            }
            hourly_base = futs["hourly"].result()
            for f in futs.values():
                f.result()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    upsert = spark.read.parquet(mart_dir).select(
        F.lit("upsert").alias("surface"),
        F.col("number_value").alias("s1"),
        F.col("total_occurrences").cast("bigint").alias("i1"),
        F.col("total_draws").cast("bigint").alias("i2"),
        F.col("days_since_last").cast("bigint").alias("i3"),
        F.col("probability").cast("double").alias("d1"),
        F.date_format("last_appeared_date", "yyyy-MM-dd").alias("s2"),
    )

    interval = spark.read.parquet(attr_out).select(
        F.lit("interval").alias("surface"),
        F.col("user_id").cast("string").alias("s1"),
        F.col("purchase_id").cast("bigint").alias("i1"),
        F.col("click_id").cast("bigint").alias("i2"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
        .cast("bigint")
        .alias("i3"),
        F.col("purchase_value").cast("double").alias("d1"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("s2"),
    )

    session = (
        spark.read.parquet(sess_out)
        .filter(F.col("user_id") != -1)  # the watermark sentinel's row
        .select(
            F.lit("session").alias("surface"),
            F.col("user_id").cast("string").alias("s1"),
            F.col("n_events").cast("bigint").alias("i1"),
            F.unix_micros("session_start").alias("i2"),
            F.unix_micros("session_end").alias("i3"),
            F.lit(None).cast("double").alias("d1"),
            F.lit(None).cast("string").alias("s2"),
        )
    )

    # The outer join's NEW rows are the null-click ones (matches already
    # hash-checked by the `interval` surface) — surface exactly those.
    outer = (
        spark.read.parquet(outer_out)
        .filter(F.col("click_id").isNull() & (F.col("user_id") != -1))
        .select(
            F.lit("outer").alias("surface"),
            F.col("user_id").cast("string").alias("s1"),
            F.col("purchase_id").cast("bigint").alias("i1"),
            F.lit(None).cast("bigint").alias("i2"),
            F.lit(None).cast("bigint").alias("i3"),
            F.col("purchase_value").cast("double").alias("d1"),
            F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("s2"),
        )
    )
    ingest = spark.read.parquet(ing_out).select(
        F.lit("ingest").alias("surface"),
        F.lit(None).cast("string").alias("s1"),
        F.col("id_a").cast("bigint").alias("i1"),
        F.col("id_b").cast("bigint").alias("i2"),
        F.lit(None).cast("bigint").alias("i3"),
        F.col("jaccard").cast("double").alias("d1"),
        F.lit(None).cast("string").alias("s2"),
    )
    # 'hourly' (r11 consolidation): the deployable watermarked
    # tumbling-window path (append-mode parquet sink + checkpoint),
    # previously its own registry entry — folded in so the registry holds
    # at the driver's 50-entry gate window. q_stream_hourly_counts stays
    # importable on its own.
    hourly = hourly_base.select(
        F.lit("hourly").alias("surface"),
        F.col("event_type").alias("s1"),
        F.col("n").cast("bigint").alias("i1"),
        F.lit(None).cast("bigint").alias("i2"),
        F.lit(None).cast("bigint").alias("i3"),
        F.lit(None).cast("double").alias("d1"),
        F.col("window_start").alias("s2"),
    )
    # 'cdc' (r11): final committed state of the snapshot table after the
    # two streamed change batches, aggregated per month — a wrong batch
    # order (c2's absolute updates must supersede c1's), a missed verb,
    # or a partial (non-atomic) batch visibility all break the hash.
    from .sources.layout import snapshot_read as _snap_read

    cdc = (
        _snap_read(spark, cdc_run)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("bigint").alias("i1"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("d1"),
        )
        .select(
            F.lit("cdc").alias("surface"),
            F.col("o_month").alias("s1"),
            "i1",
            F.lit(None).cast("bigint").alias("i2"),
            F.lit(None).cast("bigint").alias("i3"),
            "d1",
            F.lit(None).cast("string").alias("s2"),
        )
    )
    return (
        upsert.unionByName(interval)
        .unionByName(session)
        .unionByName(outer)
        .unionByName(ingest)
        .unionByName(hourly)
        .unionByName(cdc)
    )


# ---------------------------------------------------------------------------
# Consolidated suites
#
# The driver's correctness gate covers the first 50 registry entries, so
# related operators are registered as ONE suite query each (wide select or
# long-format union of the SAME underlying q_* bodies, which stay importable
# individually — bench.py times them separately). Every operator keeps full
# oracle coverage; nothing is rows-only.

def q_t_part_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 + T7 + T11 on one scan of `part`: decade bucket, numeric-string
    normalization, last-digit extraction — the reference's independent row
    transforms (ETLMain) as one projection."""
    _utc(spark)
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        decade_bucket("p_size").alias("size_bucket"),
        normalize_numeric_string(
            F.lpad(F.col("p_size").cast("string"), 4, "0")
        ).alias("norm_size"),
        normalize_numeric_string("p_brand").alias("norm_brand"),
        last_digit(F.col("p_size").cast("string")).cast("int").alias("size_last_digit"),
        last_digit("p_brand").cast("int").alias("brand_last_digit"),
    )


def q_t_bronze_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 + T3 + T5 + T12 on one scan of the lottery bronze: last-2-digits,
    dd-MM-yyyy parse, even/weekend flags, ISO-8601-Z formatting — keyed by
    event_id so every row value is oracle-checked."""
    _utc(spark)
    bronze = lottery_bronze(spark, sf_dir)
    parsed = bronze.select(
        "event_id",
        last_k_digits("number_value", 2).alias("last2"),
        parse_draw_date("full_date").alias("d0"),
        iso_z_timestamp("load_timestamp").alias("iso_ts"),
    )
    flags = derive_flags("last2", "d0")
    return parsed.select(
        "event_id",
        "last2",
        F.date_format("d0", "yyyy-MM-dd").alias("d"),
        flags["is_even"].alias("is_even"),
        flags["is_weekend"].alias("is_weekend"),
        "iso_ts",
    )


def q_t_calendar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 + T9 + T10: surrogate date key, calendar attributes, and the
    Vietnamese day name, per distinct order date (day name checked per
    date — finer grain than the old 7-row aggregate)."""
    _utc(spark)
    orders = _t(spark, sf_dir, "orders")
    dates = orders.select(F.to_date("o_orderdate").alias("d")).distinct()
    cal = calendar_attributes("d")
    return dates.select(
        surrogate_date_key("d").alias("date_key"),
        cal["day_of_month"].cast("int").alias("day_of_month"),
        cal["month_of_year"].cast("int").alias("month_of_year"),
        cal["year_value"].cast("int").alias("year_value"),
        cal["year_month_value"].alias("year_month_value"),
        vietnamese_day_name(F.col("d")).alias("day_name"),
    )


def q_w_recency_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 + W5 per (user, date) — lag-based days_since_last plus its
    recency classification — PLUS (r7) the ``gap_fill`` time-series
    densification surface: hourly per-event-type counts and value sums
    resampled onto the complete per-type hourly grid (missing hours as
    n=0 / sum NULL / is_gap=1) with the sum forward-filled
    (operators/temporal.py: gap_fill — sequence+explode grid, one join
    back, one window pass; the resample/pad step a charting or
    feature-window consumer otherwise hand-rolls). Long format
    (section, k1, k2, metric, val, sval); value sums ride the usual
    decimal-round-to-cents-then-double rule so the ffill carries
    bit-identical doubles on both engines. The ``hopping`` section adds
    the sliding-window API (F.window with a 15-min slide over 1-hour
    windows; the oracle reconstructs membership by exploding the four
    candidate window starts per event). The ``funnel`` and ``cohort``
    sections (r11) exercise operators/analytics.py over a deterministic
    sparse slice (event_id % 7 = 0 — the full corpus has every user doing
    every event type, which would make both surfaces degenerate): an
    ordered 4-step funnel (view→click→signup→purchase, greedy
    earliest-completion), its exact gap-windowed variant (``funnel_w``,
    48 h between consecutive steps via the good-event ladder — the case
    where greedy is NOT exact and e.g. ClickHouse's windowFunnel
    approximates), and a weekly cohort-retention triangle. The ``paths``
    and ``rolling7`` sections complete the behavioral set: next-event
    transition edges with conditional probabilities (one lag window on
    the user key, event_id tie-breaks) and exact trailing-7-day distinct
    actives (the contribution-explode shape — distinct cannot ride a
    window frame)."""
    _utc(spark)
    ev = _events(spark, sf_dir).select("user_id", F.to_date("ts").alias("d")).distinct()
    out = days_since_last(ev, key="user_id", date_col="d")
    rec = out.select(
        F.lit("recency").alias("section"),
        F.col("user_id").cast("string").alias("k1"),
        F.date_format("d", "yyyy-MM-dd").alias("k2"),
        F.lit("days_since_last").alias("metric"),
        F.col("days_since_last").cast("double").alias("val"),
        F.when(F.col("days_since_last").isNull(), F.lit(None).cast("string"))
        .otherwise(recency_bucket("days_since_last", recent=2, old=5))
        .alias("sval"),
    )

    from .operators.temporal import gap_fill

    hourly = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    filled = gap_fill(
        hourly, "h", ["event_type"], step="1 hour",
        zero_cols=("n",), ffill_cols=("sum_value",),
    )
    gf = filled.selectExpr(
        "event_type",
        "h",
        "stack(4, 'n', cast(n as double), 'sum_value', sum_value,"
        " 'sum_value_ffill', sum_value_ffill,"
        " 'is_gap', cast(is_gap as double)) as (metric, val)",
    ).select(
        F.lit("gap_fill").alias("section"),
        F.col("event_type").alias("k1"),
        F.date_format("h", "yyyy-MM-dd HH:00").alias("k2"),
        "metric",
        "val",
        F.lit(None).cast("string").alias("sval"),
    )

    # Hopping (sliding) windows: each event lands in 4 overlapping
    # 1-hour/15-minute windows — the F.window(slide) API the tumbling
    # streaming aggregate doesn't exercise. The oracle reconstructs the
    # same assignment by exploding the 4 candidate window starts per
    # event. Purchase-only keeps the section small.
    hop = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").cast("double").alias("val"))
        .select(
            F.lit("hopping").alias("section"),
            F.lit("purchase").alias("k1"),
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("k2"),
            F.lit("n").alias("metric"),
            "val",
            F.lit(None).cast("string").alias("sval"),
        )
    )

    from .operators.analytics import cohort_retention, funnel_steps

    ev_sparse = _events(spark, sf_dir).filter(F.col("event_id") % 7 == 0)
    fun = (
        funnel_steps(ev_sparse, ["view", "click", "signup", "purchase"])
        .selectExpr(
            "step_name",
            "step",
            "stack(3, 'n_users', cast(n_users as double),"
            " 'conv_from_prev', conv_from_prev,"
            " 'conv_from_first', conv_from_first) as (metric, val)",
        )
        .select(
            F.lit("funnel").alias("section"),
            F.col("step_name").alias("k1"),
            F.col("step").cast("string").alias("k2"),
            "metric",
            "val",
            F.lit(None).cast("string").alias("sval"),
        )
    )
    fun_w = (
        funnel_steps(
            ev_sparse,
            ["view", "click", "signup", "purchase"],
            within_seconds=48 * 3600,
        )
        .selectExpr(
            "step_name",
            "step",
            "stack(3, 'n_users', cast(n_users as double),"
            " 'conv_from_prev', conv_from_prev,"
            " 'conv_from_first', conv_from_first) as (metric, val)",
        )
        .select(
            F.lit("funnel_w").alias("section"),
            F.col("step_name").alias("k1"),
            F.col("step").cast("string").alias("k2"),
            "metric",
            "val",
            F.lit(None).cast("string").alias("sval"),
        )
    )
    coh = (
        cohort_retention(ev_sparse, granularity="week")
        .selectExpr(
            "cohort",
            "offset",
            "stack(3, 'n_users', cast(n_users as double),"
            " 'cohort_size', cast(cohort_size as double),"
            " 'retention', retention) as (metric, val)",
        )
        .select(
            F.lit("cohort").alias("section"),
            F.date_format("cohort", "yyyy-MM-dd").alias("k1"),
            F.col("offset").cast("string").alias("k2"),
            "metric",
            "val",
            F.lit(None).cast("string").alias("sval"),
        )
    )
    from .operators.analytics import path_transitions, rolling_active_users

    paths = path_transitions(
        _events(spark, sf_dir), id_col="event_id"
    ).selectExpr(
        "src",
        "dst",
        "stack(2, 'n', cast(n as double), 'p', p) as (metric, val)",
    ).select(
        F.lit("paths").alias("section"),
        F.col("src").alias("k1"),
        F.col("dst").alias("k2"),
        "metric",
        "val",
        F.lit(None).cast("string").alias("sval"),
    )
    roll = rolling_active_users(_events(spark, sf_dir), window_days=7).select(
        F.lit("rolling7").alias("section"),
        F.lit("users").alias("k1"),
        F.date_format("day", "yyyy-MM-dd").alias("k2"),
        F.lit("n_active").alias("metric"),
        F.col("n_active").cast("double").alias("val"),
        F.lit(None).cast("string").alias("sval"),
    )
    return (
        rec.unionByName(gf)
        .unionByName(hop)
        .unionByName(fun)
        .unionByName(fun_w)
        .unionByName(coh)
        .unionByName(paths)
        .unionByName(roll)
    )


def q_a_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + A8 + A9 + A10 (percentiles, ROLLUP + CUBE with grouping_id,
    PIVOT, one-pass profiling)
    + semi-structured JSON extraction + the portable-HLL register set
    (r7: every register's max-rho, the integer-scaled register sum, and
    the raw estimator — the driver-checkable face of the sketch path;
    see hll_portable_registers), as one long-format result:
    (section, k1, k2, metric, val, sval). Numeric metrics ride `val`
    (doubles — counts are exact below 2^53 and the percentile/sum values
    were already bit-identical across engines); string min/max from the
    profile ride `sval`."""
    _utc(spark)
    from .functions.semistructured import json_fields

    nul_s = F.lit(None).cast("string")
    nul_d = F.lit(None).cast("double")

    pct = q_a7_percentiles(spark, sf_dir).selectExpr(
        "stack(3, 'p50', p50, 'p90', p90, 'p99', p99) as (metric, val)"
    ).select(
        F.lit("percentiles").alias("section"),
        F.lit("").alias("k1"), F.lit("").alias("k2"),
        "metric", F.col("val").cast("double").alias("val"), nul_s.alias("sval"),
    )
    ro = q_a8_rollup(spark, sf_dir).selectExpr(
        "l_returnflag", "l_linestatus",
        "stack(2, 'n', cast(n as double), 'sum_qty', sum_qty) as (metric, val)",
    ).select(
        F.lit("rollup").alias("section"),
        F.col("l_returnflag").alias("k1"), F.col("l_linestatus").alias("k2"),
        "metric", "val", nul_s.alias("sval"),
    )
    # CUBE completes the grouping-set family (ROLLUP above, PIVOT below):
    # all four (flag, status) marginals in ONE aggregate pass, with the
    # grouping_id bitmask distinguishing a real NULL group key from a
    # subtotal marker — same bitmask semantics as DuckDB's GROUPING().
    cu = (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.grouping_id().cast("double").alias("_gid"),
        )
        .selectExpr(
            "coalesce(l_returnflag, 'ALL') as k1",
            "coalesce(l_linestatus, 'ALL') as k2",
            "stack(2, 'n', _n, 'gid', _gid) as (metric, val)",
        )
        .select(
            F.lit("cube").alias("section"), "k1", "k2",
            "metric", "val", nul_s.alias("sval"),
        )
    )
    types = ["click", "view", "purchase", "signup", "error"]
    stack_pv = ", ".join(f"'{t}', cast({t} as double)" for t in types)
    pv = q_a9_pivot(spark, sf_dir).selectExpr(
        "d", f"stack({len(types)}, {stack_pv}) as (metric, val)"
    ).select(
        F.lit("pivot").alias("section"),
        F.col("d").alias("k1"), F.lit("").alias("k2"),
        "metric", "val", nul_s.alias("sval"),
    )
    prof = q_a10_profile(spark, sf_dir)
    prof_num = prof.selectExpr(
        "`column`",
        "stack(3, 'n_rows', cast(n_rows as double), 'n_nulls', cast(n_nulls as double),"
        " 'n_distinct', cast(n_distinct as double)) as (metric, val)",
    ).select(
        F.lit("profile").alias("section"),
        F.col("column").alias("k1"), F.lit("").alias("k2"),
        "metric", "val", nul_s.alias("sval"),
    )
    prof_str = prof.selectExpr(
        "`column`",
        "stack(2, 'min_value', min_value, 'max_value', max_value) as (metric, sval)",
    ).select(
        F.lit("profile").alias("section"),
        F.col("column").alias("k1"), F.lit("").alias("k2"),
        "metric", nul_d.alias("val"), "sval",
    )
    # Semi-structured: pull the typed `k` field out of the JSON `props`
    # payload (one from_json parse per row, pure codegen) and audit it in
    # the same aggregate pass — n events, sum of k, extraction-NULL count.
    ev = _events(spark, sf_dir)
    k = json_fields("props", {"k": "bigint"}).getField("k")
    js = (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum("k").cast("double").alias("sum_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
            .cast("double")
            .alias("n_null_k"),
        )
        .selectExpr(
            "event_type",
            "stack(3, 'n', n, 'sum_k', sum_k, 'n_null_k', n_null_k)"
            " as (metric, val)",
        )
        .select(
            F.lit("json").alias("section"),
            F.col("event_type").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Portable HLL over the document texts: per-register max-rho rows plus
    # the integer-scaled register sum and the raw estimator, all
    # bit-stable cross-engine (operators/aggregates.py:
    # hll_portable_registers). The estimator
    # numerator constant alpha_m * m^2 * 2^33 is precomputed in Python
    # and embedded as the SAME repr literal in the SQL oracle, so the
    # only float op each engine performs is one IEEE division.
    from .operators.aggregates import hll_portable_registers

    regs = hll_portable_registers(
        _t(spark, sf_dir, "documents"), "text", p=_HLL_P
    )
    hll_rows = regs.select(
        F.lit("hll").alias("section"),
        F.col("bucket").cast("string").alias("k1"),
        F.lit("").alias("k2"),
        F.lit("max_rho").alias("metric"),
        F.col("max_rho").cast("double").alias("val"),
        nul_s.alias("sval"),
    )
    m_lit = F.lit(1 << _HLL_P).cast("bigint")
    hll_sum = (
        regs.agg(
            F.count("*").cast("bigint").alias("_present"),
            F.sum(F.expr("shiftleft(1L, 33 - max_rho)")).alias("_s_present"),
        )
        .select(
            F.col("_present"),
            (
                F.col("_s_present")
                + (m_lit - F.col("_present")) * F.lit(1 << 33).cast("bigint")
            ).alias("_s"),
        )
        .selectExpr(
            "stack(3, 'n_present', cast(_present as double),"
            " 'sum_scaled', cast(_s as double),"
            f" 'estimate_raw', {_HLL_NUM!r}d / cast(_s as double))"
            " as (metric, val)"
        )
        .select(
            F.lit("hll").alias("section"),
            F.lit("").alias("k1"), F.lit("").alias("k2"),
            "metric", "val", nul_s.alias("sval"),
        )
    )
    # Data-quality expectations (operators/quality.py): row rules in one
    # aggregate pass, uniqueness via distinct-count, referential
    # integrity via left-anti — one report row set the pipeline gates on.
    # big_ticket_cap is a deliberately failing business rule so the
    # non-zero violation path is driver-checked, not just the zeros.
    from .operators.quality import expect_reference, expect_rows, expect_unique

    orders_q = _t(spark, sf_dir, "orders")
    exp = (
        expect_rows(
            orders_q,
            {
                "totalprice_nonneg": F.col("o_totalprice") >= 0,
                "status_known": F.col("o_orderstatus").isin("P", "O", "F"),
                "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
                "big_ticket_cap": F.col("o_totalprice") <= 40000,
            },
        )
        .unionByName(expect_unique(orders_q, ["o_orderkey"]))
        .unionByName(
            expect_reference(
                orders_q, "o_custkey", _t(spark, sf_dir, "customer"), "c_custkey"
            )
        )
    )
    exp_rows = exp.selectExpr(
        "rule",
        "stack(3, 'n_rows', cast(n_rows as double),"
        " 'n_violations', cast(n_violations as double),"
        " 'passed', cast(passed as double)) as (metric, val)",
    ).select(
        F.lit("expectations").alias("section"),
        F.col("rule").alias("k1"), F.lit("").alias("k2"),
        "metric", "val", nul_s.alias("sval"),
    )
    # Histogram quantiles (r8, operators/aggregates.py:
    # histogram_quantiles): the one-pass binned-quantile sketch — ONE
    # hash aggregate on the bucket id + a tiny occupied-bucket prefix
    # window — next to q_a7's exact percentiles above; integer rank
    # thresholds and integer bucket edges keep the section bit-stable
    # cross-engine (the oracle-checkable face of the quantile-sketch
    # family).
    from .operators.aggregates import histogram_quantiles

    hq = (
        histogram_quantiles(orders_q, "o_totalprice", 1000.0)
        .selectExpr(
            "q_milli",
            "stack(4, 'bucket', cast(bucket as double),"
            " 'upper_edge', upper_edge, 'cum', cast(cum as double),"
            " 'n_total', cast(n_total as double)) as (metric, val)",
        )
        .select(
            F.lit("histq").alias("section"),
            F.col("q_milli").cast("string").alias("k1"),
            F.lit("").alias("k2"),
            "metric", "val", nul_s.alias("sval"),
        )
    )
    # Partition-backfill round trip (r9): the corrupt-then-backfilled
    # month-partitioned copy aggregated per month against the PLAIN
    # table's oracle — surviving corruption, clobbered sibling
    # partitions, or a double-applied backfill each break the hash
    # (see backfilled_orders).
    bf = (
        spark.read.parquet(backfilled_orders(spark, sf_dir))
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_month",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("backfill").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Small-files compaction round trip (r9): the fragment-then-OPTIMIZE
    # month-partitioned copy aggregated per month against the PLAIN
    # table's oracle — a compaction that loses, duplicates, or corrupts
    # rows breaks the hash (see compacted_orders; file-count semantics
    # pytest-pinned).
    co = (
        spark.read.parquet(compacted_orders(spark, sf_dir))
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_month",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("compact").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Snapshot-pointer layout round trip (r11, VERDICT r10 #6): the
    # fragment-then-OPTIMIZE lifecycle again, but maintenance stages a
    # NEW version dir and swaps a _COMMITTED pointer instead of
    # rewriting in place — the concurrent-reader-safe shape (see
    # snapshot_orders). Same per-month aggregate against the plain
    # table's oracle.
    sn = (
        snapshot_orders(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_month",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("snapshot").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Row-level MERGE round trip (r11): one batch of every MERGE verb
    # (update / delete / insert / partition-move) through the
    # copy-on-write snapshot_merge; the committed result must equal the
    # SQL-reconstructed final state (merged_snapshot_orders).
    mg = (
        merged_snapshot_orders(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_month",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("merge").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Composite-partition MERGE round trip (r13, VERDICT r12 #3): the
    # same every-verb batch through a TWO-column (o_year, o_mm)
    # snapshot partitioning — manifest keys are 'year/month'
    # composites, the move verb re-homes across BOTH legs.
    mg2 = (
        merged_snapshot_orders_mc(spark, sf_dir)
        .groupBy("o_year", "o_mm")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_year",
            "o_mm",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("merge_mc").alias("section"),
            F.col("o_year").alias("k1"),
            F.col("o_mm").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Partial-row MERGE round trip (r13, VERDICT r12 #5): the batch
    # carries only (key, partition, o_totalprice); matched rows keep
    # every uncarried column, inserts pad them NULL — n_cust (non-NULL
    # o_custkey count) breaks if either direction leaks.
    mg3 = (
        merged_snapshot_orders_pc(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
            F.count("o_custkey").cast("double").alias("_c"),
        )
        .selectExpr(
            "o_month",
            "stack(3, 'n', _n, 'sum_price', _s, 'n_cust', _c)"
            " as (metric, val)",
        )
        .select(
            F.lit("merge_pc").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Hidden-transform partition MERGE round trip (r14, VERDICT r13
    # #5): months(o_orderdate) x bucket(8, o_orderkey) derived layout;
    # the month below is computed from the DATA column because the
    # partition columns are hidden from reads by design.
    mg4 = (
        merged_snapshot_orders_tf(spark, sf_dir)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_ym"))
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_ym",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("merge_tf").alias("section"),
            F.col("o_ym").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Partition-spec evolution round trip (r14): month -> bucket(8)
    # hidden partitioning as a metadata-only commit, then an
    # every-verb MERGE on the mixed-spec table (old-layout probe, new-
    # layout rewrite — lazy migration); per-month aggregate vs the SQL
    # final state.
    mg6 = (
        respec_snapshot_orders(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_month",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("respec").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Merge-on-read delete round trip (r14): two equality-delete
    # commits (per-partition delete files, zero data rewritten) plus a
    # copy-on-write re-insert of a deleted-key subset; the read path's
    # partition-scoped anti-join and the rewrite's reconciliation both
    # sit inside this hash (mor_snapshot_orders).
    mg5 = (
        mor_snapshot_orders(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
        )
        .selectExpr(
            "o_month",
            "stack(2, 'n', _n, 'sum_price', _s) as (metric, val)",
        )
        .select(
            F.lit("mor").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Exactly-once CDF chain (r15): the destination table, fed only
    # by per-window token-guarded merges from the source's change
    # feed, must equal the source's SQL-reconstructed final state.
    mg8 = (
        cdf_snapshot_orders(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
            F.sum("o_orderkey").cast("double").alias("_k"),
        )
        .selectExpr(
            "o_month",
            "stack(3, 'n', _n, 'sum_price', _s, 'sum_key', _k) "
            "as (metric, val)",
        )
        .select(
            F.lit("cdf").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Update pre/post-image CDC tags (r16, VERDICT r15 #5): the 4-tag
    # diff over the CDF source's first commit window must report each
    # %113 value change as exactly one preimage + one postimage pair,
    # each %127 insert as a plain insert, and ZERO deletes — a
    # mis-paired update (tagged as unrelated churn) or a spurious
    # delete breaks the hash.
    mg9 = (
        cdf_update_pairs(spark, sf_dir)
        .selectExpr(
            "o_month",
            "stack(4, 'n_pre', _pre, 'n_post', _post, 'n_ins', _ins, "
            "'n_del', _del) as (metric, val)",
        )
        .select(
            F.lit("cdfu").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Schema-evolution round trip (r15): add/rename/widen/drop via
    # stable field ids, a merge after each stage — the per-month
    # aggregate carries flag/clerk NULL-counts so a resurrected
    # dropped column or a mis-mapped rename breaks the hash.
    mg7 = (
        evolve_snapshot_orders(spark, sf_dir)
        .groupBy("o_month")
        .agg(
            F.count("*").cast("double").alias("_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("_s"),
            F.sum("kmod").cast("double").alias("_k"),
            F.count("flag").cast("double").alias("_f"),
            F.count("clerk").cast("double").alias("_c"),
        )
        .selectExpr(
            "o_month",
            "stack(5, 'n', _n, 'sum_price', _s, 'sum_kmod', _k, "
            "'n_flag', _f, 'n_clerk', _c) as (metric, val)",
        )
        .select(
            F.lit("evolve").alias("section"),
            F.col("o_month").alias("k1"),
            F.lit("").alias("k2"),
            "metric",
            "val",
            nul_s.alias("sval"),
        )
    )
    # Z-order layout round trip (r8): read the clustered copy back and
    # emit row-level content — any row lost/duplicated/corrupted by the
    # quantile-bucket/interleave/range-shuffle/sort write breaks the
    # hash against the original table's oracle rows.
    zo = spark.read.parquet(zordered_orders(spark, sf_dir)).select(
        F.lit("zorder").alias("section"),
        F.col("o_orderkey").cast("string").alias("k1"),
        F.col("o_orderstatus").alias("k2"),
        F.lit("totalprice").alias("metric"),
        F.col("o_totalprice").cast("double").alias("val"),
        nul_s.alias("sval"),
    )
    return (
        pct.unionByName(ro)
        .unionByName(cu)
        .unionByName(pv)
        .unionByName(prof_num)
        .unionByName(prof_str)
        .unionByName(js)
        .unionByName(hll_rows)
        .unionByName(hll_sum)
        .unionByName(exp_rows)
        .unionByName(hq)
        .unionByName(bf)
        .unionByName(co)
        .unionByName(sn)
        .unionByName(mg)
        .unionByName(mg2)
        .unionByName(mg3)
        .unionByName(mg4)
        .unionByName(mg5)
        .unionByName(mg6)
        .unionByName(mg7)
        .unionByName(mg8)
        .unionByName(mg9)
        .unionByName(zo)
    )


#: Per-sf_dir cache of the z-ordered orders copy (persistent warehouse
#: path — staged once per corpus, found via _SUCCESS on warm starts).
_ZORDER_DIR_CACHE: dict[str, str] = {}


def zordered_orders(spark: SparkSession, sf_dir: str) -> str:
    """Write a z-order-clustered copy of ``orders`` on
    (o_custkey, o_totalprice) ONCE PER CORPUS (persistent
    ``GRAFT_WAREHOUSE`` + _SUCCESS check — r9, VERDICT r8 #3) and return
    its path (sources/layout.py: write_zordered — approx-quantile bucket
    ids, bit interleave, one range shuffle, 16 sorted files). The
    a_extended 'zorder' section reads it back row-level against the
    original table's oracle, putting the layout path inside a green
    CORRECTNESS row (r8, VERDICT r7 #4); the pruning-fraction
    measurement stays a PERF.md number (file-count layout detail, not
    SQL-checkable)."""
    from .sources.layout import write_zordered

    path = _ZORDER_DIR_CACHE.get(sf_dir)
    if path is None:
        path = os.path.join(
            GRAFT_WAREHOUSE, f"zorder_{_sf_tag(sf_dir)}", "orders_z"
        )
        if not _layout_ready(path):
            write_zordered(
                _t(spark, sf_dir, "orders"),
                path,
                ["o_custkey", "o_totalprice"],
                n_files=16,
                bits=8,
            )
        _ZORDER_DIR_CACHE[sf_dir] = path
    return path


#: Portable-HLL parameters shared by the Spark suite body and the DuckDB
#: oracle text: 2^12 registers; numerator = alpha_m * m^2 * 2^33 for the
#: integer-scaled raw estimator (no small-range correction — that needs
#: ln(), which is libm-dependent and NOT cross-engine stable; the
#: registered surface exposes the registers + raw estimator).
_HLL_P = 12
_HLL_NUM = (0.7213 / (1.0 + 1.079 / 4096.0)) * 16777216.0 * 8589934592.0


def q_statistics_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 statistics computed twice — DataFrame API and the registered-view
    SQL surface — tagged by `surface`; both rows must agree with the
    oracle, proving the two surfaces are equivalent."""
    _utc(spark)
    df_api = q_pipeline_statistics(spark, sf_dir).withColumn(
        "surface", F.lit("dataframe")
    )
    via_sql = q_sql_statistics(spark, sf_dir).withColumn("surface", F.lit("sql"))
    return df_api.unionByName(via_sql)


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + quality features + Gopher-style repetition on ONE
    scan of documents — the per-doc feature pass a corpus pipeline
    actually runs (computing them together is the production shape).
    r7 adds corpus-relative NOVELTY (rare-shingle ratio,
    functions/text.py::novelty_features): the across-corpus axis next to
    repetition's within-doc axis, fed from the shared materialized
    shingle parquet; exact integer/rational arithmetic so the oracle
    equality is bit-level, no transcendental functions involved.

    r11 adds the unigram-LM perplexity columns (``lm_*``, CCNet-style
    self-trained LM — functions/text.py::lm_perplexity_scores) to the
    same per-doc row, consolidating the former ``text_lm_scores``
    registry entry so the registry holds at the driver's 50-entry gate
    window; the LM floats are rounded to 5 decimals (their per-doc sums
    are order-sensitive in the last ulp) while everything else stays
    bit-exact.

    r11 also adds the DSIR data-selection columns (``dsir_*``,
    functions/sampling.py — hashed unigram+bigram importance weights
    against a zh-language target corpus, deterministic hash-Gumbel key,
    and the top-ceil(25%) selection flag with ties on the ROUNDED key
    broken by doc_id so both engines rank identically)."""
    _utc(spark)
    from .functions.text import (
        lm_perplexity_scores,
        novelty_features,
        repetition_features,
    )

    docs = _t(spark, sf_dir, "documents")
    q = quality_features("text")
    r = repetition_features("text", n=3)
    nov = novelty_features(
        docs, k=3, rare_df=1, pre_shingled=staged_shingles(spark, sf_dir)
    )
    lm = lm_perplexity_scores(docs).select(
        "doc_id",
        F.col("n_tokens").alias("lm_n_tokens"),
        F.round("sum_logprob", 5).alias("lm_sum_lp5"),
        F.round("avg_logprob", 5).alias("lm_avg_lp5"),
    )

    from .functions.sampling import dsir_scores

    sc = dsir_scores(docs, docs.filter(F.col("lang") == "zh"))
    n_docs = docs.count()
    k = -(-n_docs // 4)  # ceil(25%)
    # Selection by an eagerly-computed k-th (rounded key, doc_id)
    # threshold — ONE driver row (the same bounded-collect class as the
    # IVF centroids), so the scoring subtree appears once in the lazy
    # plan instead of twice (a limit-join flag would re-evaluate it).
    kth = (
        sc.select(F.round("key", 5).alias("_rk"), "doc_id")
        .orderBy(F.col("_rk").desc(), "doc_id")
        .limit(int(k))
        .orderBy(F.col("_rk").asc(), F.col("doc_id").desc())
        .limit(1)
        .collect()
    )
    thr_rk, thr_id = (
        (kth[0]["_rk"], kth[0]["doc_id"])
        if kth
        else (float("inf"), -1)
    )
    rk = F.round("key", 5)
    dsir = sc.select(
        "doc_id",
        F.round("log_w", 5).alias("dsir_logw5"),
        rk.alias("dsir_key5"),
        F.when(
            (rk > F.lit(thr_rk))
            | ((rk == F.lit(thr_rk)) & (F.col("doc_id") <= F.lit(thr_id))),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("dsir_sel"),
    )
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_token_estimate("text").alias("n_bpe"),
        q["n_chars"].alias("n_chars"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["mean_token_len"].alias("mean_token_len"),
        r["n_grams"].alias("n_grams"),
        r["n_distinct_grams"].alias("n_distinct_grams"),
        F.round(r["dup_gram_ratio"], 6).alias("dup_ratio6"),
    ).join(
        nov.select(
            "doc_id",
            F.col("n_shingles").alias("n_sh3"),
            F.col("n_rare").alias("n_rare3"),
            "novelty_ratio",
        ),
        "doc_id",
    ).join(lm, "doc_id", "left").join(dsir, "doc_id", "left")


def q_text_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM perplexity scoring (r11): every document's
    token count and mean/summed logprob under a self-trained unigram LM
    — the quality filter that drops gibberish (low score) and degenerate
    repetition (implausibly high score) from a web corpus. The LM is
    vocabulary-sized; the scoring join is token-keyed against it and the
    per-doc rollup is one hash aggregate. Rounded to 5 decimals on both
    engines: the per-doc float sums are order-sensitive in the last ulp
    (~1e-13 on ~40-token docs) and rounding absorbs exactly that."""
    _utc(spark)
    from .functions.text import lm_perplexity_scores

    docs = _t(spark, sf_dir, "documents")
    out = lm_perplexity_scores(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("sum_logprob", 5).alias("sum_logprob"),
        F.round("avg_logprob", 5).alias("avg_logprob"),
    )


def q_text_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (token tf/df), distinct-bigram counts,
    language-id distribution, and (r7) the count-min frequency sketch in
    one long-format result tagged by `kind`:

    - ``cms``: every non-zero cell of the 4x1024 portable-hash CMS
      matrix over the lowercased token stream (functions/sketches.py —
      exact integer counters, fully oracle-able);
    - ``cms_est``: the sketch's point estimate for the top-10 exact
      tokens (tf = estimate, df = exact count) — the CMS one-sided
      guarantee estimate >= exact holds row by row, and at this
      vocabulary-vs-width ratio they mostly coincide.
    """
    _utc(spark)
    from .functions.sketches import cms_point_estimates, count_min_sketch

    vocab_df = q_text_vocabulary(spark, sf_dir)
    vocab = vocab_df.select(
        F.lit("token").alias("kind"),
        F.col("token").alias("term"),
        "tf",
        "df",
    )
    grams = q_text_ngram_counts(spark, sf_dir).select(
        F.lit("bigram").alias("kind"),
        F.col("ngram").alias("term"),
        F.col("n").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
    )
    lang = q_text_language_id(spark, sf_dir).select(
        F.lit("lang").alias("kind"),
        F.col("lang_pred").alias("term"),
        F.col("n").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
    )

    from .functions.text import tokens as _tok

    stream = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(_tok("text")).alias("t"))
        .select(F.lower("t").alias("t"))
    )
    cms = count_min_sketch(stream, "t", depth=4, width=1024)
    cms_rows = cms.select(
        F.lit("cms").alias("kind"),
        F.concat_ws(
            "|", F.col("j").cast("string"), F.col("bucket").cast("string")
        ).alias("term"),
        F.col("cnt").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
    )
    top10 = (
        vocab_df.orderBy(F.col("tf").desc(), F.col("token")).limit(10)
    )
    est = cms_point_estimates(
        cms, top10.select(F.col("token").alias("t")), "t", depth=4, width=1024
    )
    cms_est = (
        top10.join(est, top10["token"] == est["t"])
        .select(
            F.lit("cms_est").alias("kind"),
            F.col("token").alias("term"),
            F.col("cms_estimate").alias("tf"),
            F.col("tf").alias("df"),
        )
    )
    # heavy (r8): frequent-bigram heavy hitters — exact counts over the
    # RAW bigram stream (duplicates kept, unlike the per-doc-distinct
    # `bigram` kind above) with an integer 1/1000 support threshold
    # (functions/sketches.py: heavy_hitters — cnt*den >= n*num, no float
    # multiply), each hitter paired with its count-min estimate from a
    # second 4x1024 sketch over the SAME stream (df = estimate). The CMS
    # one-sided guarantee est >= exact is therefore driver-checked row
    # by row; at 100 TB the sketch is how the candidate set stays
    # bounded when the exact vocabulary no longer fits a shuffle.
    from .functions.sketches import heavy_hitters

    grams_stream = (
        _t(spark, sf_dir, "documents")
        .select(_tok("text").alias("t"))
        .where(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t)-2),"
                    " i -> concat(element_at(t, i+1), ' ', element_at(t, i+2)))"
                )
            ).alias("bg")
        )
    )
    hh = heavy_hitters(grams_stream, "bg", num=1, den=1000)
    cms_bg = count_min_sketch(grams_stream, "bg", depth=4, width=1024)
    est_bg = cms_point_estimates(
        cms_bg, hh.select(F.col("bg").alias("t")), "t", depth=4, width=1024
    )
    heavy = hh.join(est_bg, hh["bg"] == est_bg["t"]).select(
        F.lit("heavy").alias("kind"),
        F.col("bg").alias("term"),
        F.col("cnt").alias("tf"),
        F.col("cms_estimate").alias("df"),
    )
    # tfidf2 (r8): term weighting with a PORTABLE idf — floor(log2(N/df))
    # in pure integer arithmetic (length(bin(N DIV df)) - 1, the same
    # bit-length idiom the portable-HLL rho uses), so the classic
    # tf·idf ranking signal is bit-identical cross-engine where ln()
    # would be libm-dependent. tf rides the weighted score, df the idf.
    ndocs = _t(spark, sf_dir, "documents").agg(
        F.count("*").cast("bigint").alias("_nd")
    )
    ilog2 = F.expr("length(bin(CAST(_nd DIV df AS BIGINT))) - 1").cast(
        "bigint"
    )
    tfidf = (
        vocab_df.crossJoin(F.broadcast(ndocs))
        .select(
            F.lit("tfidf2").alias("kind"),
            F.col("token").alias("term"),
            (F.col("tf") * ilog2).cast("bigint").alias("tf"),
            ilog2.alias("df"),
        )
    )
    return (
        vocab.unionByName(grams)
        .unionByName(lang)
        .unionByName(cms_rows)
        .unionByName(cms_est)
        .unionByName(heavy)
        .unionByName(tfidf)
    )


def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data curation run (functions/curation.py):
    quality gate → exact dedup (keep-first by digest) → near-dup removal
    (exact-Jaccard pairs, greedy keep-lowest-id) → split + mixture, as
    ONE declarative plan, returning the per-document governance audit
    (fate + split/mixture for kept docs). Subsumes sample_ops' split and
    mixture checks (the kept rows carry both) and adds the stage
    composition itself to the oracle surface: the SQL reconstructs every
    stage and must agree on every document's fate. Thresholds are set
    from the corpus' measured distributions so each gate leg actually
    drops documents at every sf (PERF.md round 6).

    The near-dup stage reuses the corpus-wide materialized shingle
    parquet (:func:`staged_shingles` — the same artifact
    q_dedup_minhash_lsh scans), semi-joined down to the exact-dedup
    survivors, instead of re-deriving tokenize→shingle→explode from raw
    text (r6 verdict ask #1). Identical pair set → identical audit."""
    _utc(spark)
    from .functions.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs,
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.3, "src3": 0.0},
        default_rate=0.1,
        pre_shingled=staged_shingles(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# Registry

# ≤50 entries by contract: the driver's correctness gate reads the first
# 50, so every entry here gets a CORRECTNESS row every round. Related
# operators ride consolidated suite queries (see section above); the
# underlying q_* bodies remain importable for bench.py and tests.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # lottery medallion pipeline (SURVEY §2 pipeline operators)
    "pipeline_silver": q_pipeline_silver,
    "pipeline_dim_date": q_pipeline_dim_date,
    "pipeline_dim_number": q_pipeline_dim_number,
    "pipeline_fact_prize": q_pipeline_fact_prize,
    "pipeline_mart": q_pipeline_mart,
    "pipeline_incremental": q_pipeline_incremental,
    "statistics_surfaces": q_statistics_surfaces,
    # t1's equality-filter count rides a5_minmax_scalars (n_giai_bay);
    # the alt-BOM CSV reader rides s2_s3_csv_roundtrip's `alt:` rows
    "s2_s3_csv_roundtrip": q_s2_s3_csv_roundtrip,
    # row transforms (suites: T2/T3/T5/T12, T4/T7/T11, T8/T9/T10)
    "t_bronze_suite": q_t_bronze_suite,
    "t_part_suite": q_t_part_suite,
    "t_calendar_suite": q_t_calendar_suite,
    # joins
    "j1_broadcast_join": q_j1_broadcast_join,
    "j2_anti_join": q_j2_anti_join,
    "j4_composite_anti": q_j4_composite_anti,
    "j6_asof_join": q_j6_asof_join,
    "j7_range_join": q_j7_range_join,
    # aggregations
    "a1_a2_draws_probability": q_a1_a2_draws_probability,
    "a3_last_appearance": q_a3_last_appearance,
    "a5_minmax_scalars": q_a5_minmax_scalars,
    "a_extended": q_a_extended,
    "tpch_q1_pricing_summary": q_tpch_q1_pricing_summary,
    "tpch_join_suite": q_tpch_join_suite,
    "tpch_scalar_suite": q_tpch_scalar_suite,
    "tpch_grouped_suite": q_tpch_grouped_suite,
    "tpch_subquery_suite": q_tpch_subquery_suite,
    # windows (+ set ops riding the w4 suite)
    "w_recency_suite": q_w_recency_suite,
    "w4_set_suite": q_w4_set_suite,
    "w7_sessionize": q_w7_sessionize,
    # text analysis (language-id rides text_corpus_stats' `lang` rows)
    "text_features": q_text_features,
    "text_corpus_stats": q_text_corpus_stats,
    # text_lm_scores rides text_features (lm_* columns) since r11
    "text_chunks": q_text_chunks,
    "text_redact_pii": q_text_redact_pii,
    # dedup / similarity
    "dedup_exact_suite": q_dedup_exact_suite,
    "dedup_paragraph": q_dedup_paragraph,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "dedup_simhash": q_dedup_simhash,
    "dedup_clusters": q_dedup_clusters,
    "dedup_contamination": q_dedup_contamination,
    "sim_cosine_suite": q_sim_cosine_suite,
    "sim_ann_suite": q_sim_ann_suite,
    # sim_pq_topk rides sim_ann_suite (the 'pq' surface) since r11
    "ann_label_blocked_pairs": q_ann_label_blocked_pairs,
    "dedup_semantic": q_dedup_semantic,
    # skew discipline + SCD2
    "skew_salted_suite": q_skew_salted_suite,
    "scd2_suite": q_scd2_suite,
    # curation composition (subsumes sample_ops' split/mixture) + serving
    "corpus_curation_pipeline": q_corpus_curation_pipeline,
    "serving_mart_view": q_serving_mart_view,
    # multimodal + streaming (stateful suite: foreachBatch mart upsert,
    # stream-stream interval joins, sessionization, corpus ingest, and —
    # since r11 — the watermarked hourly tumbling window as 'hourly')
    "multimodal_decode": q_multimodal_decode,
    "stream_suite": q_stream_suite,
}


#: Shared inverted-index 3-word-shingle CTE prefix (toks → sh →
#: postings → inter): both the Jaccard pair set and the raw pair-count
#: surface are the SAME prefix plus a different final SELECT — factored
#: as a constant (r9, ADVICE r8) instead of slicing the finished query
#: string, which silently produced wrong SQL if the base query's final
#: SELECT were ever reworded. The BODY variant (no leading WITH) lets
#: the same CTEs append to another query's WITH list (stream_suite's
#: ingest section rides _LOTTERY_CTE).
_NGRAM_PAIR_CTE_BODY = r"""toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= 3
                THEN [array_to_string(t[i:i+2], ' ')
                      FOR i IN range(1, len(t) - 1)]
                ELSE [array_to_string(t, ' ')] END
         ) AS shingles
  FROM toks
),
postings AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_inter
  FROM postings a JOIN postings b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
"""

_NGRAM_PAIR_CTE = "\nWITH " + _NGRAM_PAIR_CTE_BODY

#: Exact inverted-index 3-word-shingle Jaccard pair set (threshold 0.5)
#: — the shared oracle core for dedup_ngram_jaccard (both cap surfaces),
#: dedup_minhash_lsh, and dedup_minhash_incremental.
_NGRAM_JACCARD_SQL = _NGRAM_PAIR_CTE + """
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5
"""

ORACLES: dict[str, str] = {
    "pipeline_silver": _LOTTERY_CTE + """
SELECT number_value, strftime(full_date, '%Y-%m-%d') AS full_date,
       range_group, is_weekend, is_even
FROM silver
""",
    "pipeline_dim_date": _LOTTERY_CTE + """
SELECT date_key, strftime(full_date, '%Y-%m-%d') AS full_date, day_of_month,
       month_of_year, year_value, year_month_value, day_name, is_weekend
FROM dim_date
""",
    "pipeline_dim_number": _LOTTERY_CTE + """
SELECT number_key, number_value, is_even, last_digit,
       strftime(last_appeared_date, '%Y-%m-%d') AS last_appeared_date
FROM dim_number
""",
    "pipeline_fact_prize": _LOTTERY_CTE + """
SELECT date_key, number_key, occurrence_count, total_draws, probability_value,
       days_since_last, strftime(full_date, '%Y-%m-%d') AS full_date
FROM fact
""",
    "pipeline_mart": _LOTTERY_CTE + """
SELECT number_value, total_occurrences, total_draws, probability,
       strftime(last_appeared_date, '%Y-%m-%d') AS last_appeared_date,
       days_since_last
FROM mart
""",
    # Two-batch incremental load must reproduce the one-shot mart exactly:
    # the oracle IS the full-load mart.
    "pipeline_incremental": _LOTTERY_CTE + """
SELECT number_value, total_occurrences, total_draws, probability,
       strftime(last_appeared_date, '%Y-%m-%d') AS last_appeared_date,
       days_since_last
FROM mart
""",
    "statistics_surfaces": _LOTTERY_CTE + """
, stats AS (
  SELECT CAST(MAX(total_draws) AS INT) AS total_occurrences,
         (SELECT CAST(number_value AS INT) FROM mart
          ORDER BY total_occurrences DESC, CAST(number_value AS INT) LIMIT 1)
           AS most_number,
         (SELECT CAST(number_value AS INT) FROM mart
          ORDER BY total_occurrences ASC, CAST(number_value AS INT) LIMIT 1)
           AS least_number,
         strftime(MAX(last_appeared_date), '%Y-%m-%d') AS last_update
  FROM mart
)
SELECT *, 'dataframe' AS surface FROM stats
UNION ALL
SELECT *, 'sql' AS surface FROM stats
""",
    "s2_s3_csv_roundtrip": """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents GROUP BY lang
UNION ALL
SELECT lang, CAST(n AS BIGINT), CAST(n_sources AS BIGINT) FROM (VALUES
  ('alt:Giải Bảy@23-10-2025', 2, 2),
  ('alt:Giải Nhất@23-10-2025', 1, 1),
  ('alt:Giải Bảy@24-10-2025', 1, 1)) t(lang, n, n_sources)
""",
    "t_bronze_suite": _LOTTERY_CTE + """
SELECT b.event_id,
       CAST(b.number_value AS INT) AS last2,
       strftime(CAST(strptime(b.full_date, '%d-%m-%Y') AS DATE), '%Y-%m-%d') AS d,
       CAST(CASE WHEN CAST(b.number_value AS INT) % 2 = 0 THEN 1 ELSE 0 END AS INT)
         AS is_even,
       CAST(CASE WHEN isodow(CAST(strptime(b.full_date, '%d-%m-%Y') AS DATE))
                 IN (6, 7) THEN 1 ELSE 0 END AS INT) AS is_weekend,
       strftime(e.ts, '%Y-%m-%dT%H:%M:%S.') || substr(strftime(e.ts, '%f'), 1, 3)
         || 'Z' AS iso_ts
FROM bronze b JOIN events e USING (event_id)
""",
    "t_part_suite": """
SELECT p_partkey,
       printf('%02d-%02d', (p_size // 10) * 10, (p_size // 10) * 10 + 9)
         AS size_bucket,
       CAST(CAST(lpad(CAST(p_size AS VARCHAR), 4, '0') AS BIGINT) AS VARCHAR)
         AS norm_size,
       trim(p_brand) AS norm_brand,
       CAST(p_size % 10 AS INT) AS size_last_digit,
       CAST(0 AS INT) AS brand_last_digit
FROM part
""",
    "t_calendar_suite": """
SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
       CAST(day(d) AS INT) AS day_of_month,
       CAST(month(d) AS INT) AS month_of_year,
       CAST(year(d) AS INT) AS year_value,
       strftime(d, '%Y-%m') AS year_month_value,
       CASE isodow(d)
         WHEN 1 THEN 'Thứ 2' WHEN 2 THEN 'Thứ 3' WHEN 3 THEN 'Thứ 4'
         WHEN 4 THEN 'Thứ 5' WHEN 5 THEN 'Thứ 6' WHEN 6 THEN 'Thứ 7'
         ELSE 'Chủ nhật' END AS day_name
FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders)
""",
    "j1_broadcast_join": """
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    "j2_anti_join": """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
)
""",
    "j4_composite_anti": """
SELECT CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderstatus = 'F' AND o.o_orderkey = l.l_orderkey
)
""",
    "j6_asof_join": """
WITH trades AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
quotes AS (
  SELECT user_id, ts, MAX(value) AS quote_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT t.event_id, t.user_id,
       strftime(t.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       q.quote_value,
       strftime(q.ts, '%Y-%m-%d %H:%M:%S') AS matched_at
FROM trades t ASOF LEFT JOIN quotes q
  ON t.user_id = q.user_id AND t.ts >= q.ts
""",
    "j7_range_join": """
SELECT i.p_partkey, CAST(COUNT(*) AS BIGINT) AS n_points
FROM events e
JOIN (SELECT p_partkey, p_size * 5.0 AS lo, p_size * 5.0 + p_size AS hi
      FROM part) i
  ON e.value >= i.lo AND e.value <= i.hi
GROUP BY i.p_partkey
""",
    "a1_a2_draws_probability": """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
       CAST(COUNT(*) AS INT) AS total_draws,
       1.0 / COUNT(*) AS probability,
       round(1.0 / COUNT(*) * 100, 2) AS pct
FROM events GROUP BY CAST(ts AS DATE)
""",
    "a3_last_appearance": """
SELECT user_id, strftime(MAX(CAST(ts AS DATE)), '%Y-%m-%d') AS last_appeared_date
FROM events GROUP BY user_id
""",
    "a5_minmax_scalars": _LOTTERY_CTE + """
SELECT o.max_price, o.min_price, o.n, g.n_giai_bay
FROM (SELECT CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
             CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders) o
CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n_giai_bay
            FROM bronze WHERE prize = 'Giải Bảy') g
""",
    "tpch_q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))
            * CAST(1.0 + l_tax AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS sum_charge,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_join_suite": """
SELECT 'q3_shipping_priority' AS query,
       CAST(q3.l_orderkey AS VARCHAR) || '|' || q3.o_orderdate || '|'
         || q3.o_orderpriority AS k,
       q3.revenue AS val
FROM (
  SELECT l.l_orderkey,
         strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
         o.o_orderpriority,
         CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
              AS DOUBLE) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND CAST(o.o_orderdate AS DATE) < DATE '1998-06-01'
    AND CAST(l.l_shipdate AS DATE) > DATE '1998-06-01'
  GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
  ORDER BY revenue DESC, l.l_orderkey
  LIMIT 10
) q3
UNION ALL
SELECT 'q5_local_supplier' AS query, n.n_name AS k,
       CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS val
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
GROUP BY n.n_name
UNION ALL
SELECT 'q7_volume_shipping' AS query,
       sn.n_name || '|' || cn.n_name || '|'
         || CAST(EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE)) AS VARCHAR) AS k,
       CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS val
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('NATION_1', 'NATION_2')
  AND cn.n_name IN ('NATION_1', 'NATION_2')
  AND sn.n_name <> cn.n_name
  AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
  AND CAST(l.l_shipdate AS DATE) < DATE '1999-01-01'
GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM CAST(l.l_shipdate AS DATE))
UNION ALL
SELECT 'q8_market_share' AS query,
       CAST(t.yr AS VARCHAR) AS k,
       t.num / t.den AS val
FROM (
  SELECT EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS yr,
         CAST(ROUND(SUM(CASE WHEN sn.n_name = 'NATION_3'
              THEN CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))
              ELSE CAST(0 AS DECIMAL(18,6)) END), 2) AS DOUBLE) AS num,
         CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
              AS DOUBLE) AS den
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN region r ON cn.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
    AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
    AND CAST(o.o_orderdate AS DATE) < DATE '1999-01-01'
  GROUP BY EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE))
) t
UNION ALL
SELECT 'q9_product_profit' AS query,
       sn.n_name || '|'
         || CAST(EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE)) AS VARCHAR) AS k,
       CAST(ROUND(SUM(CAST(
            CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))
            - CAST(CAST(CAST(p.p_retailprice AS DECIMAL(18,2))
                   * CAST(l.l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,4))
                   * CAST('0.4' AS DECIMAL(2,1)) AS DECIMAL(18,6))
            AS DECIMAL(18,6))), 2) AS DOUBLE) AS val
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY sn.n_name, EXTRACT(YEAR FROM CAST(o.o_orderdate AS DATE))
UNION ALL
SELECT 'q10_returned_items' AS query,
       CAST(t.c_custkey AS VARCHAR) || '|' || t.c_name || '|' || t.n_name AS k,
       t.val
FROM (
  SELECT c.c_custkey, c.c_name, n.n_name,
         CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
              * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
              AS DOUBLE) AS val
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_returnflag = 'R'
    AND CAST(o.o_orderdate AS DATE) >= DATE '1997-07-01'
    AND CAST(o.o_orderdate AS DATE) < DATE '1997-10-01'
  GROUP BY c.c_custkey, c.c_name, n.n_name
  ORDER BY val DESC, c.c_custkey
  LIMIT 20
) t
UNION ALL
SELECT 'rtf_bloom_revenue' AS query,
       CAST(s.s_suppkey AS VARCHAR) AS k,
       CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS val
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_4'
GROUP BY s.s_suppkey
""",
    "tpch_subquery_suite": """
WITH offers AS (
  SELECT l_partkey, l_suppkey, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size < 10
),
minp AS (
  SELECT l_partkey, MIN(l_extendedprice) AS mn FROM offers GROUP BY 1
),
rev AS (
  SELECT l_partkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1.0 - l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6)))
           AS r
  FROM lineitem GROUP BY 1
),
tot AS (SELECT SUM(r) AS t FROM rev),
good_pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
),
pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS c
  FROM customer WHERE c_acctbal > 0
),
lapsed AS (
  SELECT cu.* FROM customer cu, pos
  WHERE cu.c_custkey NOT IN (
          SELECT o_custkey FROM orders
          WHERE CAST(o_orderdate AS DATE) >= DATE '1998-06-01')
    AND CAST(cu.c_acctbal AS DECIMAL(18,2)) * 2 * pos.c > pos.s
)
SELECT 'q2_min_cost_supplier' AS query,
       CAST(t.l_partkey AS VARCHAR) || '|' || CAST(t.l_suppkey AS VARCHAR) AS k,
       CAST(NULL AS BIGINT) AS n,
       CAST(t.mn AS DOUBLE) AS val
FROM (SELECT DISTINCT o.l_partkey, o.l_suppkey, m.mn
      FROM offers o JOIN minp m
        ON o.l_partkey = m.l_partkey AND o.l_extendedprice = m.mn) t
UNION ALL
SELECT 'q11_valuable_parts' AS query,
       CAST(rev.l_partkey AS VARCHAR) AS k,
       CAST(NULL AS BIGINT) AS n,
       CAST(ROUND(rev.r, 2) AS DOUBLE) AS val
FROM rev, tot WHERE rev.r * 1500 > tot.t
UNION ALL
SELECT 'q16_supplier_count' AS query,
       p.p_brand || '|' || CAST(p.p_size % 5 AS VARCHAR) AS k,
       CAST(COUNT(DISTINCT gp.l_suppkey) AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS val
FROM good_pairs gp JOIN part p ON gp.l_partkey = p.p_partkey
GROUP BY p.p_brand, p.p_size % 5
UNION ALL
SELECT 'q22_lapsed_rich' AS query,
       CAST(c_nationkey % 10 AS VARCHAR) AS k,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS val
FROM lapsed GROUP BY c_nationkey % 10
UNION ALL
SELECT 'q15_top_supplier' AS query,
       CAST(s.l_suppkey AS VARCHAR) AS k,
       CAST(NULL AS BIGINT) AS n,
       CAST(ROUND(s.r, 2) AS DOUBLE) AS val
FROM (
  SELECT l_suppkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1.0 - l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6)))
           AS r
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
  GROUP BY 1
) s
WHERE s.r = (
  SELECT MAX(r) FROM (
    SELECT SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1.0 - l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6)))
             AS r
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-04-01'
    GROUP BY l_suppkey
  )
)
UNION ALL
-- literal double-correlated EXISTS / NOT EXISTS (Spark side runs the
-- group-rewrite; the driver checks the equivalence)
SELECT 'q21_sole_late_shipper' AS query,
       CAST(w.l_suppkey AS VARCHAR) AS k,
       CAST(w.numwait AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS val
FROM (
  WITH per_os AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN CAST(l_shipdate AS DATE)
                         > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
  )
  SELECT p.l_suppkey, COUNT(*) AS numwait
  FROM per_os p
  WHERE p.late = 1
    AND EXISTS (SELECT 1 FROM per_os o2
                WHERE o2.l_orderkey = p.l_orderkey
                  AND o2.l_suppkey <> p.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM per_os o3
                    WHERE o3.l_orderkey = p.l_orderkey
                      AND o3.l_suppkey <> p.l_suppkey
                      AND o3.late = 1)
  GROUP BY p.l_suppkey
) w
UNION ALL
SELECT 'q20_half_volume_supplier' AS query,
       CAST(t.l_suppkey AS VARCHAR) || '|' || s.s_name AS k,
       t.np AS n,
       CAST(NULL AS DOUBLE) AS val
FROM (
  WITH sq AS (
    SELECT l_suppkey, l_partkey,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1, 2
  ),
  pt AS (SELECT l_partkey, SUM(q) AS tot FROM sq GROUP BY 1)
  SELECT sq.l_suppkey, CAST(COUNT(*) AS BIGINT) AS np
  FROM sq JOIN pt ON sq.l_partkey = pt.l_partkey
  WHERE sq.q * 2 > pt.tot
  GROUP BY sq.l_suppkey
) t
JOIN supplier s ON t.l_suppkey = s.s_suppkey
UNION ALL
-- bucketed-layout variants (r8): the Spark side reads hash-bucketed
-- fact tables (zero-Exchange sort-merge joins + exchange-free
-- aggregates); results must equal the plain layout exactly, so the
-- oracle is the SAME SQL under the bucketed tag.
SELECT 'q21_bucketed' AS query,
       CAST(w.l_suppkey AS VARCHAR) AS k,
       CAST(w.numwait AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS val
FROM (
  WITH per_os AS (
    SELECT l_orderkey, l_suppkey,
           MAX(CASE WHEN CAST(l_shipdate AS DATE)
                         > CAST(o_orderdate AS DATE) + INTERVAL 90 DAY
                    THEN 1 ELSE 0 END) AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
  )
  SELECT p.l_suppkey, COUNT(*) AS numwait
  FROM per_os p
  WHERE p.late = 1
    AND EXISTS (SELECT 1 FROM per_os o2
                WHERE o2.l_orderkey = p.l_orderkey
                  AND o2.l_suppkey <> p.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM per_os o3
                    WHERE o3.l_orderkey = p.l_orderkey
                      AND o3.l_suppkey <> p.l_suppkey
                      AND o3.late = 1)
  GROUP BY p.l_suppkey
) w
UNION ALL
SELECT 'q20_bucketed' AS query,
       CAST(t.l_suppkey AS VARCHAR) || '|' || s.s_name AS k,
       t.np AS n,
       CAST(NULL AS DOUBLE) AS val
FROM (
  WITH sq AS (
    SELECT l_suppkey, l_partkey,
           SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY 1, 2
  ),
  pt AS (SELECT l_partkey, SUM(q) AS tot FROM sq GROUP BY 1)
  SELECT sq.l_suppkey, CAST(COUNT(*) AS BIGINT) AS np
  FROM sq JOIN pt ON sq.l_partkey = pt.l_partkey
  WHERE sq.q * 2 > pt.tot
  GROUP BY sq.l_suppkey
) t
JOIN supplier s ON t.l_suppkey = s.s_suppkey
""",
    "tpch_scalar_suite": """
WITH disc AS (
  SELECT l_partkey, l_quantity, CAST(l_shipdate AS DATE) AS ship,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS base,
         l_discount,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(1.0 - l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))
           AS disc_price
  FROM lineitem
),
q6 AS (
  SELECT 'q6_forecast_revenue' AS query,
         CAST(ROUND(SUM(CAST(base * CAST(l_discount AS DECIMAL(18,6))
              AS DECIMAL(18,6))), 2) AS DOUBLE) AS value
  FROM disc
  WHERE ship >= DATE '1997-01-01' AND ship < DATE '1998-01-01'
    AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
),
q14 AS (
  SELECT 'q14_promo_revenue' AS query,
         100.0 * CAST(ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                    THEN d.disc_price ELSE CAST(0 AS DECIMAL(18,6)) END), 2)
                 AS DOUBLE)
              / CAST(ROUND(SUM(d.disc_price), 2) AS DOUBLE) AS value
  FROM disc d JOIN part p ON d.l_partkey = p.p_partkey
  WHERE d.ship >= DATE '1997-09-01' AND d.ship < DATE '1997-10-01'
),
per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         COUNT(*) AS cnt
  FROM lineitem GROUP BY 1
),
q17 AS (
  SELECT 'q17_small_qty_yearly' AS query,
         CAST(ROUND(SUM(d.base), 2) AS DOUBLE) / 7.0 AS value
  FROM disc d
  JOIN part p ON d.l_partkey = p.p_partkey AND p.p_brand = 'Brand#23'
  JOIN per_part pp ON d.l_partkey = pp.l_partkey
  WHERE CAST(d.l_quantity AS DECIMAL(18,2)) * 5 * pp.cnt < pp.sum_qty
),
q19 AS (
  SELECT 'q19_disjunctive_revenue' AS query,
         CAST(ROUND(SUM(d.disc_price), 2) AS DOUBLE) AS value
  FROM disc d JOIN part p ON d.l_partkey = p.p_partkey
  WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
         AND d.l_quantity BETWEEN 1 AND 11)
     OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
         AND d.l_quantity BETWEEN 10 AND 20)
     OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 15
         AND d.l_quantity BETWEEN 20 AND 30)
)
SELECT * FROM q6 UNION ALL SELECT * FROM q14
UNION ALL SELECT * FROM q17 UNION ALL SELECT * FROM q19
""",
    "tpch_grouped_suite": """
WITH q4 AS (
  SELECT 'q4_priority_count' AS query, o.o_orderpriority AS k,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS val
  FROM orders o
  WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
    AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
    AND EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 30
    )
  GROUP BY 2
),
g12 AS (
  SELECT l.l_returnflag AS k,
         SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END) AS high,
         SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 0 ELSE 1 END) AS low
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
    AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
  GROUP BY 1
),
q13 AS (
  SELECT 'q13_custdist' AS query, CAST(c_count AS VARCHAR) AS k,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS val
  FROM (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY 1
  )
  GROUP BY 2
),
q18 AS (
  SELECT 'q18_large_volume' AS query, CAST(l_orderkey AS VARCHAR) AS k,
         CAST(NULL AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS val
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
)
SELECT * FROM q4
UNION ALL
SELECT 'q12_high' AS query, k, CAST(high AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS val FROM g12
UNION ALL
SELECT 'q12_low' AS query, k, CAST(low AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS val FROM g12
UNION ALL
SELECT * FROM q13
UNION ALL
SELECT * FROM q18
UNION ALL
SELECT 'gsets_counts' AS query,
       coalesce(l_returnflag, 'ALL') || '|' || coalesce(l_linestatus, 'ALL')
         || '|' || CAST(GROUPING(l_returnflag, l_linestatus) AS VARCHAR) AS k,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(NULL AS DOUBLE) AS val
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
UNION ALL
SELECT 'prune_static_month' AS query,
       substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS k,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val
FROM orders
WHERE substr(CAST(o_orderdate AS VARCHAR), 1, 7) >= '2001-01'
GROUP BY 2
UNION ALL
SELECT 'dpp_month_revenue' AS query,
       substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS k,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val
FROM orders
WHERE year(o_orderdate) = 1997 AND quarter(o_orderdate) <= 2
GROUP BY 2
UNION ALL
SELECT 'pb_prune_bucket_join' AS query, o.o_orderpriority AS k,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
            * CAST(1.0 - l.l_discount AS DECIMAL(18,6)) AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS val
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE substr(CAST(l.l_shipdate AS VARCHAR), 1, 7) >= '1997-01'
  AND substr(CAST(l.l_shipdate AS VARCHAR), 1, 7) < '1997-07'
  AND o.o_orderstatus = 'F'
GROUP BY 2
""",
    "w_recency_suite": """
WITH rec AS (
  SELECT user_id, d,
         CAST(date_diff('day',
              LAG(d) OVER (PARTITION BY user_id ORDER BY d), d) AS INT)
           AS days_since_last
  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS sum_value
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT event_type,
         unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS h
  FROM (SELECT event_type, MIN(h) AS t0, MAX(h) AS t1
        FROM hourly GROUP BY 1)
),
filled AS (
  SELECT g.event_type, g.h,
         COALESCE(o.n, 0) AS n,
         o.sum_value,
         last_value(o.sum_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sum_value_ffill,
         CASE WHEN o.n IS NULL THEN 1 ELSE 0 END AS is_gap
  FROM grid g
  LEFT JOIN hourly o ON g.event_type = o.event_type AND g.h = o.h
)
SELECT 'recency' AS section, CAST(user_id AS VARCHAR) AS k1,
       strftime(d, '%Y-%m-%d') AS k2, 'days_since_last' AS metric,
       CAST(days_since_last AS DOUBLE) AS val,
       CASE WHEN days_since_last IS NULL THEN NULL
            WHEN days_since_last <= 2 THEN 'recent'
            WHEN days_since_last <= 5 THEN 'old'
            ELSE 'long' END AS sval
FROM rec
UNION ALL
SELECT 'gap_fill', event_type, strftime(h, '%Y-%m-%d %H:00'), m, v,
       CAST(NULL AS VARCHAR)
FROM (
  SELECT event_type, h,
         unnest(['n', 'sum_value', 'sum_value_ffill', 'is_gap']) AS m,
         unnest([CAST(n AS DOUBLE), sum_value, sum_value_ffill,
                 CAST(is_gap AS DOUBLE)]) AS v
  FROM filled
)
UNION ALL
SELECT 'hopping', 'purchase', strftime(w_start, '%Y-%m-%d %H:%M'), 'n',
       CAST(COUNT(*) AS DOUBLE), CAST(NULL AS VARCHAR)
FROM (
  SELECT time_bucket(INTERVAL 15 MINUTES, ts)
           - off * INTERVAL 15 MINUTES AS w_start
  FROM events, (SELECT unnest([0, 1, 2, 3]) AS off)
  WHERE event_type = 'purchase'
)
GROUP BY w_start
UNION ALL
SELECT 'funnel', nm, CAST(step AS VARCHAR), m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT step, nm,
         unnest(['n_users', 'conv_from_prev', 'conv_from_first']) AS m,
         unnest([n, cp, cf]) AS v
  FROM (
    WITH ev AS (SELECT user_id, ts, event_type FROM events
                WHERE event_id % 7 = 0),
    r1 AS (SELECT user_id, MIN(ts) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY 1),
    r2 AS (SELECT r1.user_id, t1,
                  MIN(CASE WHEN e.ts > r1.t1 THEN e.ts END) AS t2
           FROM r1 LEFT JOIN ev e
             ON e.user_id = r1.user_id AND e.event_type = 'click'
           GROUP BY 1, 2),
    r3 AS (SELECT r2.user_id, t1, t2,
                  MIN(CASE WHEN e.ts > r2.t2 THEN e.ts END) AS t3
           FROM r2 LEFT JOIN ev e
             ON e.user_id = r2.user_id AND e.event_type = 'signup'
           GROUP BY 1, 2, 3),
    r4 AS (SELECT r3.user_id, t1, t2, t3,
                  MIN(CASE WHEN e.ts > r3.t3 THEN e.ts END) AS t4
           FROM r3 LEFT JOIN ev e
             ON e.user_id = r3.user_id AND e.event_type = 'purchase'
           GROUP BY 1, 2, 3, 4),
    fc AS (SELECT COUNT(t1) AS n1, COUNT(t2) AS n2,
                  COUNT(t3) AS n3, COUNT(t4) AS n4 FROM r4)
    SELECT 1 AS step, 'view' AS nm, CAST(n1 AS DOUBLE) AS n,
           CAST(NULL AS DOUBLE) AS cp,
           CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END AS cf FROM fc
    UNION ALL
    SELECT 2, 'click', CAST(n2 AS DOUBLE),
           CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END,
           CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END FROM fc
    UNION ALL
    SELECT 3, 'signup', CAST(n3 AS DOUBLE),
           CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END,
           CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END FROM fc
    UNION ALL
    SELECT 4, 'purchase', CAST(n4 AS DOUBLE),
           CASE WHEN n3 > 0 THEN CAST(n4 AS DOUBLE) / n3 END,
           CASE WHEN n1 > 0 THEN CAST(n4 AS DOUBLE) / n1 END FROM fc
  )
)
UNION ALL
SELECT 'funnel_w', nm, CAST(step AS VARCHAR), m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT step, nm,
         unnest(['n_users', 'conv_from_prev', 'conv_from_first']) AS m,
         unnest([n, cp, cf]) AS v
  FROM (
    WITH ev AS (SELECT user_id, ts, event_type FROM events
                WHERE event_id % 7 = 0),
    g1 AS (SELECT user_id, ts FROM ev WHERE event_type = 'view'),
    m2 AS (SELECT user_id, ts, 0 AS tag, CAST(NULL AS TIMESTAMP) AS pts
           FROM ev WHERE event_type = 'click'
           UNION ALL SELECT user_id, ts, 1, ts FROM g1),
    g2 AS (SELECT user_id, ts FROM (
             SELECT user_id, ts, tag,
                    MAX(pts) OVER (PARTITION BY user_id ORDER BY ts, tag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS lastp
             FROM m2)
           WHERE tag = 0 AND lastp IS NOT NULL
             AND epoch_us(ts) - epoch_us(lastp) <= 172800000000),
    m3 AS (SELECT user_id, ts, 0 AS tag, CAST(NULL AS TIMESTAMP) AS pts
           FROM ev WHERE event_type = 'signup'
           UNION ALL SELECT user_id, ts, 1, ts FROM g2),
    g3 AS (SELECT user_id, ts FROM (
             SELECT user_id, ts, tag,
                    MAX(pts) OVER (PARTITION BY user_id ORDER BY ts, tag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS lastp
             FROM m3)
           WHERE tag = 0 AND lastp IS NOT NULL
             AND epoch_us(ts) - epoch_us(lastp) <= 172800000000),
    m4 AS (SELECT user_id, ts, 0 AS tag, CAST(NULL AS TIMESTAMP) AS pts
           FROM ev WHERE event_type = 'purchase'
           UNION ALL SELECT user_id, ts, 1, ts FROM g3),
    g4 AS (SELECT user_id, ts FROM (
             SELECT user_id, ts, tag,
                    MAX(pts) OVER (PARTITION BY user_id ORDER BY ts, tag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS lastp
             FROM m4)
           WHERE tag = 0 AND lastp IS NOT NULL
             AND epoch_us(ts) - epoch_us(lastp) <= 172800000000),
    fc AS (SELECT (SELECT COUNT(DISTINCT user_id) FROM g1) AS n1,
                  (SELECT COUNT(DISTINCT user_id) FROM g2) AS n2,
                  (SELECT COUNT(DISTINCT user_id) FROM g3) AS n3,
                  (SELECT COUNT(DISTINCT user_id) FROM g4) AS n4)
    SELECT 1 AS step, 'view' AS nm, CAST(n1 AS DOUBLE) AS n,
           CAST(NULL AS DOUBLE) AS cp,
           CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 END AS cf FROM fc
    UNION ALL
    SELECT 2, 'click', CAST(n2 AS DOUBLE),
           CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END,
           CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END FROM fc
    UNION ALL
    SELECT 3, 'signup', CAST(n3 AS DOUBLE),
           CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 END,
           CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 END FROM fc
    UNION ALL
    SELECT 4, 'purchase', CAST(n4 AS DOUBLE),
           CASE WHEN n3 > 0 THEN CAST(n4 AS DOUBLE) / n3 END,
           CASE WHEN n1 > 0 THEN CAST(n4 AS DOUBLE) / n1 END FROM fc
  )
)
UNION ALL
SELECT 'paths', src, dst, m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT src, dst,
         unnest(['n', 'p']) AS m,
         unnest([CAST(n AS DOUBLE),
                 CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src)]) AS v
  FROM (
    SELECT prev AS src, event_type AS dst, COUNT(*) AS n
    FROM (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    WHERE prev IS NOT NULL
    GROUP BY 1, 2
  )
)
UNION ALL
SELECT 'rolling7', 'users', strftime(day, '%Y-%m-%d'), 'n_active',
       CAST(COUNT(DISTINCT user_id) AS DOUBLE), CAST(NULL AS VARCHAR)
FROM (
  SELECT user_id, CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
           CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE)
           AS day
  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)
)
WHERE day <= (SELECT MAX(CAST(ts AS DATE)) FROM events)
GROUP BY day
UNION ALL
SELECT 'cohort', strftime(cohort, '%Y-%m-%d'), CAST(off_w AS VARCHAR),
       m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT cohort, off_w,
         unnest(['n_users', 'cohort_size', 'retention']) AS m,
         unnest([CAST(n_users AS DOUBLE), CAST(cohort_size AS DOUBLE),
                 CAST(n_users AS DOUBLE) / cohort_size]) AS v
  FROM (
    WITH ev AS (SELECT user_id, ts FROM events WHERE event_id % 7 = 0),
    co AS (SELECT user_id,
                  CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
           FROM ev GROUP BY 1),
    act AS (SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS p
            FROM ev)
    SELECT cohort,
           CAST(date_diff('day', cohort, p) / 7 AS INT) AS off_w,
           COUNT(DISTINCT a.user_id) AS n_users,
           MIN(sz.cohort_size) AS cohort_size
    FROM act a
    JOIN co USING (user_id)
    JOIN (SELECT cohort AS c2, COUNT(*) AS cohort_size
          FROM co GROUP BY 1) sz ON sz.c2 = cohort
    GROUP BY 1, 2
  )
)
""",
    "w4_set_suite": """
WITH ranked AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd,
         CAST(ntile(4) OVER w AS DOUBLE) AS nt
  FROM orders WHERE o_custkey % 50 = 0
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey)
)
SELECT 'top20' AS surface, k, v FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS k, CAST(o_totalprice AS DOUBLE) AS v
  FROM orders ORDER BY o_totalprice DESC LIMIT 20
)
UNION ALL
SELECT 'setops' AS surface, CAST(o_custkey AS BIGINT) AS k,
       CAST(NULL AS DOUBLE) AS v
FROM (
  (SELECT DISTINCT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) <= 1997
   INTERSECT
   SELECT DISTINCT o_custkey FROM orders WHERE year(CAST(o_orderdate AS DATE)) >= 1998)
  EXCEPT ALL
  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
UNION ALL
SELECT 'prank' AS surface, k, pr AS v FROM ranked
UNION ALL
SELECT 'cume' AS surface, k, cd AS v FROM ranked
UNION ALL
SELECT 'ntile4' AS surface, k, nt AS v FROM ranked
UNION ALL
SELECT 'drank' AS surface, k, dr AS v FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(dense_rank() OVER (PARTITION BY o_custkey
              ORDER BY CAST(floor(o_totalprice / 10000) AS BIGINT) DESC)
              AS DOUBLE) AS dr
  FROM orders WHERE o_custkey % 50 = 0
)
UNION ALL
SELECT 'lead1' AS surface, k, ld AS v FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
              ORDER BY o_orderkey) AS ld
  FROM orders WHERE o_custkey % 50 = 0
)
UNION ALL
SELECT 'nth2' AS surface, k, nv AS v FROM (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
              ORDER BY o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv
  FROM orders WHERE o_custkey % 50 = 0
)
""",
    "text_features": r"""
WITH grams AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ')
                    FOR i IN range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)
),
post AS (SELECT doc_id, unnest(list_distinct(g)) AS s FROM grams),
dfreq AS (SELECT s, COUNT(*) AS dfc FROM post GROUP BY s),
nov AS (
  SELECT p.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_sh3,
         CAST(SUM(CASE WHEN f.dfc <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare3
  FROM post p JOIN dfreq f USING (s) GROUP BY p.doc_id
),
lmtoks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  ) WHERE t <> ''
),
lmfreq AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS tf FROM lmtoks GROUP BY 1
),
lmtot AS (SELECT SUM(tf) AS total FROM lmfreq),
lm AS (
  SELECT k.doc_id,
         CAST(COUNT(*) AS BIGINT) AS lm_n_tokens,
         round(SUM(ln(CAST(l.tf AS DOUBLE) / CAST(lmtot.total AS DOUBLE))), 5)
           AS lm_sum_lp5,
         round(SUM(ln(CAST(l.tf AS DOUBLE) / CAST(lmtot.total AS DOUBLE)))
               / COUNT(*), 5) AS lm_avg_lp5
  FROM lmtoks k JOIN lmfreq l ON l.t = k.t CROSS JOIN lmtot
  GROUP BY k.doc_id
),
dsirg AS (
  SELECT doc_id,
         ('0x' || substr(md5(g || ':dsir'), 1, 8))::BIGINT % 4096 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (
    SELECT doc_id, unnest(
      list_filter(t, x -> x <> '')
      || CASE WHEN len(t) >= 2
              THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
              ELSE [] END
    ) AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents)
  ) WHERE g <> ''
  GROUP BY 1, 2
),
dsirr AS (SELECT bucket, SUM(cnt) AS rn FROM dsirg GROUP BY 1),
dsirt AS (SELECT bucket, SUM(cnt) AS tn
          FROM dsirg JOIN documents USING (doc_id)
          WHERE lang = 'zh' GROUP BY 1),
dsirw AS (
  SELECT r.bucket,
         ln((COALESCE(t.tn, 0) + 1.0)
            / ((SELECT SUM(tn) FROM dsirt) + 4096.0))
         - ln((r.rn + 1.0)
            / ((SELECT SUM(rn) FROM dsirr) + 4096.0)) AS logw
  FROM dsirr r LEFT JOIN dsirt t USING (bucket)
),
dsirs AS (
  SELECT g.doc_id, SUM(g.cnt * w.logw) AS log_w
  FROM dsirg g JOIN dsirw w USING (bucket) GROUP BY 1
),
dsirk AS (
  SELECT doc_id, log_w,
         log_w + (-ln(-ln(
           ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir-g'),
               1, 8))::BIGINT % 1000000) + 0.5) / 1000000.0))) AS key
  FROM dsirs
),
dsir AS (
  SELECT doc_id, round(log_w, 5) AS dsir_logw5, round(key, 5) AS dsir_key5,
         CAST(CASE WHEN row_number()
                        OVER (ORDER BY round(key, 5) DESC, doc_id)
                   <= CEIL(0.25 * (SELECT COUNT(*) FROM documents))
              THEN 1 ELSE 0 END AS INT) AS dsir_sel
  FROM dsirk
)
SELECT d.doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))
            AS BIGINT) AS n_bpe,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
            AS DOUBLE)
         / greatest(length(text), 1) AS punct_ratio,
       CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                 x -> lower(x) IN ('a','an','and','the','of','to','in','is','it','that')))
            AS DOUBLE)
         / greatest(len(string_split_regex(trim(text), '\s+')), 1)
         AS stopword_ratio,
       CAST(length(text) - (len(string_split_regex(trim(text), '\s+')) - 1)
            AS DOUBLE)
         / greatest(len(string_split_regex(trim(text), '\s+')), 1)
         AS mean_token_len,
       CAST(len(g.g) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(g.g)) AS BIGINT) AS n_distinct_grams,
       round(CAST(len(g.g) - len(list_distinct(g.g)) AS DOUBLE)
             / greatest(len(g.g), 1), 6) AS dup_ratio6,
       n.n_sh3,
       n.n_rare3,
       CAST(n.n_rare3 AS DOUBLE) / n.n_sh3 AS novelty_ratio,
       lm.lm_n_tokens,
       lm.lm_sum_lp5,
       lm.lm_avg_lp5,
       ds.dsir_logw5,
       ds.dsir_key5,
       ds.dsir_sel
FROM documents d JOIN grams g USING (doc_id) JOIN nov n USING (doc_id)
     LEFT JOIN lm USING (doc_id) LEFT JOIN dsir ds USING (doc_id)
""",
    # (whole-text md5 dedup, rolling fingerprints, and language-id now
    # ride dedup_exact_suite / text_corpus_stats so every surface stays
    # inside the driver's 50-row correctness window)
    "dedup_exact_suite": r"""
SELECT 'md5' AS kind, md5(text) AS key,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY md5(text)
UNION ALL
SELECT 'fingerprint' AS kind,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS key,
       CAST(NULL AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY 2
""",
    "dedup_paragraph": r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
segs AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i * 20 + 1):((i + 1) * 20)], ' ') AS seg
  FROM toks, UNNEST(range(CAST(ceil(len(t) / 20.0) AS BIGINT))) AS u(i)
),
ranked AS (
  SELECT doc_id, seg_idx, seg,
         ROW_NUMBER() OVER (PARTITION BY md5(seg)
                            ORDER BY doc_id, seg_idx) AS rk
  FROM segs
),
-- spans (r13): exact-substring span dedup at 8-token granularity —
-- gram hash, GLOBAL first occurrence (min (doc_id, pos)), merge the
-- other occurrences' [pos, pos+8) spans per doc (gaps-and-islands),
-- rebuild the document without them.
tok_rows AS (
  SELECT t.doc_id, t.t[CAST(u.i AS INT) + 1] AS tok, CAST(u.i AS BIGINT) AS i
  FROM toks t, UNNEST(range(len(t.t))) AS u(i)
),
grams AS (
  SELECT tr.doc_id, tr.i,
         md5(array_to_string(t.t[(tr.i + 1):(tr.i + 8)], ' ')) AS h
  FROM tok_rows tr JOIN toks t USING (doc_id)
  WHERE tr.i <= len(t.t) - 8
),
dups AS (
  SELECT doc_id, i AS s, i + 8 AS e
  FROM (
    SELECT doc_id, i,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, i) AS rk
    FROM grams
  ) WHERE rk > 1
),
isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_grp
  FROM dups
),
grp AS (
  SELECT doc_id, s, e,
         SUM(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS g
  FROM isl
),
merged AS (
  SELECT doc_id, g, MIN(s) AS s, MAX(e) AS e FROM grp GROUP BY 1, 2
),
span_stats AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s) AS n_removed
  FROM merged GROUP BY 1
),
kept_agg AS (
  SELECT tr.doc_id, md5(string_agg(tr.tok, ' ' ORDER BY tr.i)) AS h
  FROM tok_rows tr
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m
    WHERE m.doc_id = tr.doc_id AND tr.i >= m.s AND tr.i < m.e
  )
  GROUP BY tr.doc_id
)
SELECT 'para' AS surface, doc_id,
       CAST(COUNT(*) AS BIGINT) AS m1,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m2,
       CAST(NULL AS BIGINT) AS m3,
       md5(COALESCE(string_agg(CASE WHEN rk = 1 THEN seg END, ' '
                               ORDER BY seg_idx), '')) AS h
FROM ranked GROUP BY doc_id
UNION ALL
SELECT 'spans' AS surface, t.doc_id,
       CAST(len(t.t) AS BIGINT) AS m1,
       CAST(COALESCE(ss.n_removed, 0) AS BIGINT) AS m2,
       CAST(COALESCE(ss.n_spans, 0) AS BIGINT) AS m3,
       COALESCE(ka.h, md5('')) AS h
FROM toks t
LEFT JOIN span_stats ss USING (doc_id)
LEFT JOIN kept_agg ka USING (doc_id)
""",
    # The posting cap (cap1000 surface) provably does not bind on this
    # corpus (max posting length ~25 << 1000), so BOTH surfaces must
    # equal the same exact pair set — the cap∘exact equivalence proof.
    # All four surfaces share ONE inverted-index pass (r9, VERDICT r8
    # #6): the pair CTEs appear once and `inter`/`jac` are referenced by
    # each branch, instead of inlining the whole pipeline per surface
    # (which re-ran the postings self-join four times — 83s of the
    # sf1.0 sweep was that recompute, not the surfaces).
    "dedup_ngram_jaccard": _NGRAM_PAIR_CTE + (
        ",\njac AS (\n"
        "  SELECT id_a, id_b,\n"
        "         CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard\n"
        "  FROM inter\n"
        "  WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5\n"
        ")\n"
        "SELECT 'exact' AS surface, t.* FROM jac t\n"
        "UNION ALL\n"
        "SELECT 'cap1000' AS surface, t.* FROM jac t\n"
        "UNION ALL\n"
        "-- fuzzy (r8): edit-distance verification on the candidate\n"
        "-- pairs; exact integer levenshtein and lengths, one IEEE\n"
        "-- division (corpus is all-ASCII, so byte == codepoint).\n"
        "SELECT 'fuzzy' AS surface, t.id_a, t.id_b,\n"
        "       1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)\n"
        "             / greatest(length(da.text), length(db.text), 1)\n"
        "         AS jaccard\n"
        "FROM jac t\n"
        "JOIN documents da ON da.doc_id = t.id_a\n"
        "JOIN documents db ON db.doc_id = t.id_b\n"
        "UNION ALL\n"
        "-- setcos (r8): set-cosine/Ochiai over the same pair counts;\n"
        "-- the keep decision is exact integer (4*n_inter^2 >= n_a*n_b\n"
        "-- for t=1/2), the score one IEEE sqrt + division + round(6).\n"
        "SELECT 'setcos' AS surface, id_a, id_b,\n"
        "       round(CAST(n_inter AS DOUBLE)\n"
        "             / sqrt(CAST(n_a AS DOUBLE) * n_b), 6) AS jaccard\n"
        "FROM inter\n"
        "WHERE 4 * n_inter * n_inter >= n_a * n_b"
    ),
    # (per-row cosine scores + exact top-10 now ride sim_cosine_suite)
    # r9 (VERDICT r8 #6): per-vector norms are materialized ONCE and the
    # pair score evaluated once (CTE), instead of 3 dot products x 2
    # evaluations per pair — 848s of the sf1.0 sweep was that recompute.
    # Arithmetic is unchanged (sqrt(dot(a,a)) is the same double whether
    # computed inline or staged), so the round(5) equality is untouched.
    # r9: surface-tagged pair suite — 'blocked' (exact within label
    # blocks) + 'lsh' (banded sign-LSH with 16 data-derived planes,
    # 4 bands x 4 bits, exact cosine >= 0.4 on candidates only). The
    # oracle recomputes the band codes from the SAME literal corpus
    # vectors (identical left-to-right double fold), the candidate
    # union across bands, and the verification scores. Filters mirror
    # the Spark side exactly: blocked on the ROUNDED score, lsh on the
    # UNROUNDED cosine.
    "ann_label_blocked_pairs": """
WITH nv AS MATERIALIZED (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 5) AS cos5
  FROM nv a JOIN nv b ON a.label = b.label AND a.vec_id < b.vec_id
),
planes AS MATERIALIZED (
  SELECT CAST(vec_id - 2 AS INT) AS p, e AS pv FROM nv
  WHERE vec_id BETWEEN 2 AND 17
),
codes AS MATERIALIZED (
  SELECT n.vec_id, CAST(pl.p // 4 AS INT) AS band,
         CAST(SUM(CASE WHEN list_dot_product(n.e, pl.pv) > 0
                       THEN (CAST(1 AS BIGINT) << (pl.p % 4))
                       ELSE 0 END) AS BIGINT) AS code
  FROM nv n CROSS JOIN planes pl
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM codes a JOIN codes b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
)
SELECT 'blocked' AS surface, id_a, id_b, cos5 FROM scored WHERE cos5 >= 0.3
UNION ALL
SELECT 'lsh' AS surface, c.id_a, c.id_b,
       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 5) AS cos5
FROM cand c JOIN nv a ON a.vec_id = c.id_a JOIN nv b ON b.vec_id = c.id_b
WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4
""",
    "text_corpus_stats": r"""
WITH toks AS (
  SELECT lower(t) AS t
  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
        FROM documents)
),
cms AS (
  SELECT j,
         ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 8))::BIGINT
           % 1024 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM toks, (SELECT unnest([0, 1, 2, 3]) AS j)
  GROUP BY 1, 2
),
top10 AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1 ORDER BY tf DESC, t LIMIT 10
),
probes AS (
  SELECT top10.t, top10.tf, jj.j,
         ('0x' || substr(md5(CAST(jj.j AS VARCHAR) || ':' || top10.t), 1, 8))::BIGINT
           % 1024 AS bucket
  FROM top10, (SELECT unnest([0, 1, 2, 3]) AS j) jj
),
est AS (
  SELECT p.t, p.tf, CAST(MIN(c.c) AS BIGINT) AS est
  FROM probes p JOIN cms c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY 1, 2
)
SELECT 'token' AS kind, lower(t) AS term,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
FROM (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
  FROM documents
)
GROUP BY 2
UNION ALL
SELECT 'bigram' AS kind, s AS term,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(NULL AS BIGINT) AS df
FROM (
  SELECT unnest(
    list_distinct(
      CASE WHEN len(t) >= 2
           THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
           ELSE [array_to_string(t, ' ')] END
    )
  ) AS s
  FROM (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents)
)
GROUP BY 2
UNION ALL
SELECT 'lang' AS kind,
       CASE
         WHEN regexp_matches(text,
           '[ạảấầẩẫậắằẳẵặẹẻẽềếểễệỉịọỏốồổỗộớờởỡợụủứừửữựỳỵỷỹđ]') THEN 'vi'
         WHEN len(list_filter(string_split_regex(trim(text), '\s+'),
                x -> lower(x) IN ('a','an','and','the','of','to','in','is','it','that')))
              >= 1 THEN 'en'
         ELSE 'unknown' END AS term,
       CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(NULL AS BIGINT) AS df
FROM documents GROUP BY 2
UNION ALL
SELECT 'cms' AS kind,
       CAST(j AS VARCHAR) || '|' || CAST(bucket AS VARCHAR) AS term,
       c AS tf, CAST(NULL AS BIGINT) AS df
FROM cms
UNION ALL
SELECT 'cms_est' AS kind, t AS term, est AS tf, tf AS df
FROM est
UNION ALL
-- heavy (r8): frequent-bigram heavy hitters over the RAW bigram stream
-- (integer threshold cnt*1000 >= n), df = the bigram-CMS estimate.
SELECT 'heavy' AS kind, term, tf, df
FROM (
  WITH g AS (
    SELECT unnest([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]) AS bg
    FROM (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents)
    WHERE len(t) >= 2
  ),
  hh AS (
    SELECT bg, CAST(COUNT(*) AS BIGINT) AS c
    FROM g GROUP BY bg
    HAVING COUNT(*) * 1000 >= (SELECT COUNT(*) FROM g)
  ),
  cbg AS (
    SELECT j,
           ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || bg), 1, 8))::BIGINT
             % 1024 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM g, (SELECT unnest([0, 1, 2, 3]) AS j)
    GROUP BY 1, 2
  ),
  pr AS (
    SELECT hh.bg, hh.c AS tf, jj.j,
           ('0x' || substr(md5(CAST(jj.j AS VARCHAR) || ':' || hh.bg), 1, 8))::BIGINT
             % 1024 AS bucket
    FROM hh, (SELECT unnest([0, 1, 2, 3]) AS j) jj
  )
  SELECT p.bg AS term, p.tf, CAST(MIN(c.c) AS BIGINT) AS df
  FROM pr p JOIN cbg c ON c.j = p.j AND c.bucket = p.bucket
  GROUP BY p.bg, p.tf
)
UNION ALL
-- tfidf2 (r8): integer-log2 idf — floor(log2(N/df)) via bit length,
-- the portable stand-in for ln-based idf.
SELECT 'tfidf2' AS kind, term,
       CAST(tf * (length(bin(nd // df)) - 1) AS BIGINT) AS tf,
       CAST(length(bin(nd // df)) - 1 AS BIGINT) AS df
FROM (
  SELECT lower(t) AS term, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
    FROM documents
  )
  GROUP BY 1
), (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents)
""",
    "w7_sessionize": """
WITH es AS (
  -- Spark's timestamp->long cast truncates to whole seconds; mirror it.
  SELECT user_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
lagged AS (
  SELECT user_id, ts, sec,
         CASE WHEN LAG(sec) OVER w IS NULL
                   OR sec - LAG(sec) OVER w > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM es
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, sec,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
           AS session_id
  FROM lagged
)
SELECT user_id, session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(sec) - MIN(sec) AS BIGINT) AS duration_sec
FROM sess GROUP BY user_id, session_id
""",
    "a_extended": f"""
WITH hll_reg AS (
  SELECT CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 4096 AS INTEGER) AS bucket,
         MAX(CASE WHEN ('0x' || substr(md5(text), 9, 8))::BIGINT = 0 THEN 33
                  ELSE 33 - length(bin(('0x' || substr(md5(text), 9, 8))::BIGINT))
             END) AS mr
  FROM documents GROUP BY 1
),
prof AS (
  SELECT 'c_custkey' AS col, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(c_custkey) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
         CAST(MIN(c_custkey) AS VARCHAR) AS min_value,
         CAST(MAX(c_custkey) AS VARCHAR) AS max_value
  FROM customer
  UNION ALL
  SELECT 'c_name', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(c_name) AS BIGINT),
         CAST(COUNT(DISTINCT c_name) AS BIGINT),
         MIN(c_name), MAX(c_name)
  FROM customer
  UNION ALL
  SELECT 'c_nationkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(c_nationkey) AS BIGINT),
         CAST(COUNT(DISTINCT c_nationkey) AS BIGINT),
         CAST(MIN(c_nationkey) AS VARCHAR), CAST(MAX(c_nationkey) AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'c_mktsegment', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(c_mktsegment) AS BIGINT),
         CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
         MIN(c_mktsegment), MAX(c_mktsegment)
  FROM customer
)
SELECT 'percentiles' AS section, '' AS k1, '' AS k2, m AS metric,
       v AS val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT unnest(['p50', 'p90', 'p99']) AS m,
         unnest([quantile_cont(o_totalprice, 0.5),
                 quantile_cont(o_totalprice, 0.9),
                 quantile_cont(o_totalprice, 0.99)]) AS v
  FROM orders
)
UNION ALL
SELECT 'rollup', coalesce(l_returnflag, 'ALL'), coalesce(l_linestatus, 'ALL'),
       m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT l_returnflag, l_linestatus,
         unnest(['n', 'sum_qty']) AS m,
         unnest([CAST(COUNT(*) AS DOUBLE),
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)]) AS v
  FROM lineitem
  GROUP BY ROLLUP (l_returnflag, l_linestatus)
)
UNION ALL
SELECT 'cube', coalesce(l_returnflag, 'ALL'), coalesce(l_linestatus, 'ALL'),
       m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT l_returnflag, l_linestatus,
         unnest(['n', 'gid']) AS m,
         unnest([CAST(COUNT(*) AS DOUBLE),
                 CAST(GROUPING(l_returnflag, l_linestatus) AS DOUBLE)]) AS v
  FROM lineitem
  GROUP BY CUBE (l_returnflag, l_linestatus)
)
UNION ALL
SELECT 'pivot', d, '', m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
         unnest(['click', 'view', 'purchase', 'signup', 'error']) AS m,
         unnest([CAST(COUNT(*) FILTER (event_type = 'click') AS DOUBLE),
                 CAST(COUNT(*) FILTER (event_type = 'view') AS DOUBLE),
                 CAST(COUNT(*) FILTER (event_type = 'purchase') AS DOUBLE),
                 CAST(COUNT(*) FILTER (event_type = 'signup') AS DOUBLE),
                 CAST(COUNT(*) FILTER (event_type = 'error') AS DOUBLE)]) AS v
  FROM events GROUP BY 1
)
UNION ALL
SELECT 'profile', col, '', m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT col, unnest(['n_rows', 'n_nulls', 'n_distinct']) AS m,
         unnest([CAST(n_rows AS DOUBLE), CAST(n_nulls AS DOUBLE),
                 CAST(n_distinct AS DOUBLE)]) AS v
  FROM prof
)
UNION ALL
SELECT 'profile', col, '', m, CAST(NULL AS DOUBLE), s
FROM (
  SELECT col, unnest(['min_value', 'max_value']) AS m,
         unnest([min_value, max_value]) AS s
  FROM prof
)
UNION ALL
SELECT 'json', event_type, '', m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT event_type, unnest(['n', 'sum_k', 'n_null_k']) AS m,
         unnest([CAST(COUNT(*) AS DOUBLE),
                 CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS DOUBLE),
                 CAST(COUNT(*) - COUNT(props->>'$.k') AS DOUBLE)]) AS v
  FROM events GROUP BY 1
)
UNION ALL
SELECT 'hll', CAST(bucket AS VARCHAR), '', 'max_rho',
       CAST(mr AS DOUBLE), CAST(NULL AS VARCHAR)
FROM hll_reg
UNION ALL
SELECT 'hll', '', '', m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT unnest(['n_present', 'sum_scaled', 'estimate_raw']) AS m,
         unnest([CAST(np AS DOUBLE), CAST(s AS DOUBLE),
                 {_HLL_NUM!r} / CAST(s AS DOUBLE)]) AS v
  FROM (
    SELECT COUNT(*) AS np,
           SUM(1::BIGINT << (33 - mr))
             + (4096 - COUNT(*)) * (1::BIGINT << 33) AS s
    FROM hll_reg
  )
)
UNION ALL
SELECT 'expectations', rule, '', m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT rule, unnest(['n_rows', 'n_violations', 'passed']) AS m,
         unnest([CAST(n AS DOUBLE), CAST(viol AS DOUBLE),
                 CAST(CASE WHEN viol = 0 THEN 1 ELSE 0 END AS DOUBLE)]) AS v
  FROM (
    SELECT 'totalprice_nonneg' AS rule, COUNT(*) AS n,
           SUM(CASE WHEN o_totalprice >= 0 THEN 0 ELSE 1 END) AS viol
    FROM orders
    UNION ALL
    SELECT 'status_known', COUNT(*),
           SUM(CASE WHEN o_orderstatus IN ('P', 'O', 'F') THEN 0 ELSE 1 END)
    FROM orders
    UNION ALL
    SELECT 'priority_format', COUNT(*),
           SUM(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
               THEN 0 ELSE 1 END)
    FROM orders
    UNION ALL
    SELECT 'big_ticket_cap', COUNT(*),
           SUM(CASE WHEN o_totalprice <= 40000 THEN 0 ELSE 1 END)
    FROM orders
    UNION ALL
    SELECT 'unique_o_orderkey', COUNT(*),
           COUNT(*) - COUNT(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    -- NULL FKs are orphans too (expect_reference's documented
    -- semantics): NOT IN would yield NULL (uncounted) for a NULL
    -- o_custkey, so use IS NULL OR NOT EXISTS (ADVICE r7).
    SELECT 'ref_o_custkey_in_c_custkey', COUNT(*),
           (SELECT COUNT(*) FROM orders o2
            WHERE o2.o_custkey IS NULL OR NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o2.o_custkey))
    FROM orders
  )
)
UNION ALL
-- histogram quantiles (r8): one-pass binned p50/p90/p99 on
-- o_totalprice, exact integer rank threshold (cum*1000 >= n*q) and
-- integer-valued bucket edges — bit-stable cross-engine.
SELECT 'histq', CAST(q AS VARCHAR), '', m, v, CAST(NULL AS VARCHAR)
FROM (
  SELECT q, unnest(['bucket', 'upper_edge', 'cum', 'n_total']) AS m,
         unnest([CAST(bucket AS DOUBLE), CAST((bucket + 1) * 1000.0 AS DOUBLE),
                 CAST(cum AS DOUBLE), CAST(n AS DOUBLE)]) AS v
  FROM (
    SELECT p.q, p.bucket, c.cum, c.n
    FROM (
      SELECT q, MIN(b) FILTER (WHERE cum * 1000 >= n * q) AS bucket
      FROM (
        SELECT b, SUM(c) OVER (ORDER BY b) AS cum, SUM(c) OVER () AS n
        FROM (
          SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS b,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1
        )
      ), (SELECT unnest([500, 900, 990]) AS q)
      GROUP BY q
    ) p
    JOIN (
      SELECT b, SUM(c) OVER (ORDER BY b) AS cum, SUM(c) OVER () AS n
      FROM (
        SELECT CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
      )
    ) c ON c.b = p.bucket
  )
)
UNION ALL
-- partition-backfill round trip (r9): the Spark side aggregates the
-- corrupt-then-backfilled month-partitioned copy; per-month counts and
-- decimal sums must equal the PLAIN table's (backfilled_orders).
SELECT 'backfill' AS section,
       strftime(o_orderdate, '%Y-%m') AS k1,
       '' AS k2,
       'n' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'backfill' AS section,
       strftime(o_orderdate, '%Y-%m') AS k1,
       '' AS k2,
       'sum_price' AS metric,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders GROUP BY 1, 2, 3, 4
UNION ALL
-- small-files compaction round trip (r9): the Spark side aggregates
-- the fragment-then-OPTIMIZE month-partitioned copy; per-month counts
-- and decimal sums must equal the PLAIN table's (compacted_orders).
SELECT 'compact' AS section,
       strftime(o_orderdate, '%Y-%m') AS k1,
       '' AS k2,
       'n' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'compact' AS section,
       strftime(o_orderdate, '%Y-%m') AS k1,
       '' AS k2,
       'sum_price' AS metric,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders GROUP BY 1, 2, 3, 4
UNION ALL
-- snapshot-pointer layout round trip (r11): same lifecycle as compact
-- but maintenance stages a new version dir + pointer swap; the
-- committed snapshot must equal the plain table (snapshot_orders).
SELECT 'snapshot' AS section,
       strftime(o_orderdate, '%Y-%m') AS k1,
       '' AS k2,
       'n' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'snapshot' AS section,
       strftime(o_orderdate, '%Y-%m') AS k1,
       '' AS k2,
       'sum_price' AS metric,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders GROUP BY 1, 2, 3, 4
UNION ALL
-- row-level MERGE round trip (r11): reconstruct snapshot_merge's final
-- state from the plain table (delete %101, move %107 -> '1999-12',
-- update %97 price+1.0 in DOUBLE, insert %103 as -key; key 0 is
-- excluded from inserts — its -0 would collide with its own delete,
-- and a MERGE batch carries one change per key).
SELECT 'merge' AS section, m AS k1, '' AS k2, 'n' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT CASE WHEN o_orderkey % 107 = 0 THEN '1999-12'
              ELSE strftime(o_orderdate, '%Y-%m') END AS m
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT strftime(o_orderdate, '%Y-%m') FROM orders
  WHERE o_orderkey % 103 = 0 AND o_orderkey <> 0
) GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'merge' AS section, m AS k1, '' AS k2, 'sum_price' AS metric,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT CASE WHEN o_orderkey % 107 = 0 THEN '1999-12'
              ELSE strftime(o_orderdate, '%Y-%m') END AS m,
         CASE WHEN o_orderkey % 97 = 0 AND o_orderkey % 107 <> 0
              THEN o_totalprice + 1.0 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 101 <> 0
  UNION ALL
  SELECT strftime(o_orderdate, '%Y-%m'), o_totalprice FROM orders
  WHERE o_orderkey % 103 = 0 AND o_orderkey <> 0
) GROUP BY 1, 2, 3, 4
UNION ALL
-- composite-partition MERGE round trip (r13): reconstruct the
-- (o_year, o_mm)-partitioned snapshot_merge's final state (delete
-- %109, move %127 -> ('1999','12') across BOTH partition legs,
-- update %113 price+2.0 in DOUBLE, insert %131 as -key, key 0
-- excluded from inserts).
SELECT 'merge_mc' AS section, y AS k1, mm AS k2, 'n' AS metric,
       CAST(COUNT(*) AS DOUBLE) AS val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT CASE WHEN o_orderkey % 127 = 0 THEN '1999'
              ELSE strftime(o_orderdate, '%Y') END AS y,
         CASE WHEN o_orderkey % 127 = 0 THEN '12'
              ELSE strftime(o_orderdate, '%m') END AS mm
  FROM orders WHERE o_orderkey % 109 <> 0
  UNION ALL
  SELECT strftime(o_orderdate, '%Y'), strftime(o_orderdate, '%m')
  FROM orders WHERE o_orderkey % 131 = 0 AND o_orderkey <> 0
) GROUP BY 1, 2, 3, 4
UNION ALL
SELECT 'merge_mc' AS section, y AS k1, mm AS k2, 'sum_price' AS metric,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT CASE WHEN o_orderkey % 127 = 0 THEN '1999'
              ELSE strftime(o_orderdate, '%Y') END AS y,
         CASE WHEN o_orderkey % 127 = 0 THEN '12'
              ELSE strftime(o_orderdate, '%m') END AS mm,
         CASE WHEN o_orderkey % 113 = 0 AND o_orderkey % 127 <> 0
              THEN o_totalprice + 2.0 ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 109 <> 0
  UNION ALL
  SELECT strftime(o_orderdate, '%Y'), strftime(o_orderdate, '%m'),
         o_totalprice
  FROM orders WHERE o_orderkey % 131 = 0 AND o_orderkey <> 0
) GROUP BY 1, 2, 3, 4
UNION ALL
-- partial-row MERGE round trip (r13): reconstruct the
-- update_cols=['o_totalprice'] merge — delete %101, update %97
-- price+3.0 keeping every other column, insert %103 as -key with
-- uncarried columns NULL (n_cust counts non-NULL o_custkey).
SELECT 'merge_pc' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT m,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(COUNT(cust) AS DOUBLE) AS n_cust
  FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 3.0
                ELSE o_totalprice END AS price,
           o_custkey AS cust
    FROM orders WHERE o_orderkey % 101 <> 0
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'), o_totalprice, NULL
    FROM orders WHERE o_orderkey % 103 = 0 AND o_orderkey <> 0
  ) GROUP BY m
) UNPIVOT (val FOR metric IN (n, sum_price, n_cust))
UNION ALL
-- hidden-transform partition MERGE round trip (r14): the table
-- partitions on months(o_orderdate) x bucket(8, o_orderkey) DERIVED
-- directory columns (invisible to reads), so the final state is
-- plain orders semantics — delete %107, update %89 price+1.5,
-- insert %97 as -key — aggregated per o_orderdate month.
SELECT 'merge_tf' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT m,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.5
                ELSE o_totalprice END AS price
    FROM orders WHERE o_orderkey % 107 <> 0
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'), o_totalprice
    FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey <> 0
  ) GROUP BY m
) UNPIVOT (val FOR metric IN (n, sum_price))
UNION ALL
-- partition-spec evolution round trip (r14): the month->bucket(8)
-- re-spec is metadata-only, so the final state is plain MERGE-verb
-- semantics (delete %137, update %139 price+4.0, insert %149 as -key)
-- aggregated per month; the layout change itself must be invisible.
SELECT 'respec' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT m,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           CASE WHEN o_orderkey % 139 = 0 THEN o_totalprice + 4.0
                ELSE o_totalprice END AS price
    FROM orders WHERE o_orderkey % 137 <> 0
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'), o_totalprice
    FROM orders WHERE o_orderkey % 149 = 0 AND o_orderkey <> 0
  ) GROUP BY m
) UNPIVOT (val FOR metric IN (n, sum_price))
UNION ALL
-- merge-on-read delete round trip (r14): reconstruct the final state
-- of two equality-delete commits (%97, then %89) plus a copy-on-write
-- re-insert of the %291 (= %97 subset) keys at price+10.0 — the
-- partitions the re-insert rewrote reconciled their delete files,
-- every other month's deletes apply at read time.
SELECT 'mor' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT m,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
  FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS m, o_totalprice AS price
    FROM orders
    WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 <> 0
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'), o_totalprice + 10.0
    FROM orders WHERE o_orderkey % 291 = 0
  ) GROUP BY m
) UNPIVOT (val FOR metric IN (n, sum_price))
UNION ALL
-- exactly-once CDF chain (r15): the destination received the source's
-- commit windows (%113 update price+3.0 and %127 insert -k in one
-- window, %119 delete in the next) through token-guarded merges; its
-- final state must equal the source's.
SELECT 'cdf' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT m,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(k) AS DOUBLE) AS sum_key
  FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           CAST(o_orderkey AS BIGINT) AS k,
           CASE WHEN o_orderkey % 113 = 0 THEN o_totalprice + 3.0
                ELSE o_totalprice END AS price
    FROM orders WHERE o_orderkey % 119 <> 0
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'),
           -CAST(o_orderkey AS BIGINT), o_totalprice
    FROM orders WHERE o_orderkey % 127 = 0 AND o_orderkey <> 0
  ) GROUP BY m
) UNPIVOT (val FOR metric IN (n, sum_price, sum_key))
UNION ALL
-- update pre/post-image tags (r16): the 4-tag diff over the CDF
-- source's first window — one pre+post pair per %113 update, one
-- insert per %127 key, zero deletes; months without any change in
-- that window emit nothing (the diff has no rows for them).
SELECT 'cdfu' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT strftime(o_orderdate, '%Y-%m') AS m,
         CAST(SUM(CASE WHEN o_orderkey % 113 = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS n_pre,
         CAST(SUM(CASE WHEN o_orderkey % 113 = 0 THEN 1 ELSE 0 END)
              AS DOUBLE) AS n_post,
         CAST(SUM(CASE WHEN o_orderkey % 127 = 0 AND o_orderkey <> 0
                       THEN 1 ELSE 0 END) AS DOUBLE) AS n_ins,
         CAST(0 AS DOUBLE) AS n_del
  FROM orders GROUP BY m
  HAVING n_pre + n_ins > 0
) UNPIVOT (val FOR metric IN (n_pre, n_post, n_ins, n_del))
UNION ALL
-- schema-evolution round trip (r15): add flag, rename
-- o_orderpriority->clerk,
-- widen o_orderkey INT->BIGINT, merge (%131 update price+7 flag 'm1',
-- %163 insert -k flag 'm1i'), then DROP clerk and RE-ADD it (fresh
-- field id: pre-drop clerk values never resurrect), then merge %173
-- inserts at -(k+MAXKEY+1) with clerk 'c2' flag 'm2' price+2.0
-- (kmod rides along; the aggregate sums it, not the scale-sized key).
SELECT 'evolve' AS section, m AS k1, '' AS k2, metric,
       val, CAST(NULL AS VARCHAR) AS sval
FROM (
  SELECT m,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(SUM(kmod) AS DOUBLE) AS sum_kmod,
         CAST(COUNT(flag) AS DOUBLE) AS n_flag,
         CAST(COUNT(clerk) AS DOUBLE) AS n_clerk
  FROM (
    SELECT strftime(o_orderdate, '%Y-%m') AS m,
           o_orderkey % 100000 AS kmod,
           CASE WHEN o_orderkey % 131 = 0 THEN o_totalprice + 7.0
                ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 131 = 0 THEN 'm1' END AS flag,
           CAST(NULL AS VARCHAR) AS clerk
    FROM orders
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'),
           o_orderkey % 100000, o_totalprice, 'm1i',
           CAST(NULL AS VARCHAR)
    FROM orders WHERE o_orderkey % 163 = 0 AND o_orderkey <> 0
    UNION ALL
    SELECT strftime(o_orderdate, '%Y-%m'),
           o_orderkey % 100000,
           o_totalprice + 2.0, 'm2', 'c2'
    FROM orders WHERE o_orderkey % 173 = 0 AND o_orderkey <> 0
  ) GROUP BY m
) UNPIVOT (val FOR metric IN (n, sum_price, sum_kmod, n_flag, n_clerk))
UNION ALL
-- z-order layout round trip (r8): the Spark side reads the clustered
-- parquet copy back; content must equal the original table row-level.
SELECT 'zorder' AS section,
       CAST(o_orderkey AS VARCHAR) AS k1,
       o_orderstatus AS k2,
       'totalprice' AS metric,
       CAST(o_totalprice AS DOUBLE) AS val,
       CAST(NULL AS VARCHAR) AS sval
FROM orders
""",
    "serving_mart_view": _LOTTERY_CTE + """
SELECT number_value,
       total_occurrences,
       round(CAST(probability AS DOUBLE) * 100, 2) AS pct,
       strftime(last_appeared_date, '%Y-%m-%d') AS last_appeared_date,
       CASE WHEN days_since_last <= 10 THEN 'recent'
            WHEN days_since_last <= 30 THEN 'old'
            ELSE 'long' END AS recency
FROM mart
""",
    # fake surface: pseudo-decode of the UTF-8 payload. wav surface: the
    # PCM synth→decode round trip — n_samples = doc_id%50+10, container
    # is the 44-byte RIFF header + 2 bytes/sample, and the mean is the
    # closed-form integer sum (exact bigint) divided as double.
    "multimodal_decode": """
SELECT 'fake' AS surface,
       doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 64 AS BIGINT) AS d1,
       CAST((octet_length(encode(text)) // 64) % 64 AS BIGINT) AS d2,
       CAST(NULL AS DOUBLE) AS metric,
       md5(text) AS digest
FROM documents
UNION ALL
SELECT 'wav' AS surface,
       s.doc_id,
       CAST(44 + 2 * MAX(s.ns) AS BIGINT) AS n_bytes,
       CAST(MAX(s.ns) AS BIGINT) AS d1,
       CAST(16000 AS BIGINT) AS d2,
       CAST(SUM(s.samp) AS DOUBLE) / MAX(s.ns) AS metric,
       CAST(NULL AS VARCHAR) AS digest
FROM (
  SELECT d.doc_id,
         d.doc_id % 50 + 10 AS ns,
         ((d.doc_id * 31 + t.i * 7) % 65536) - 32768 AS samp
  FROM documents d JOIN range(0, 60) t(i) ON t.i < d.doc_id % 50 + 10
) s
GROUP BY s.doc_id
UNION ALL
SELECT 'y4m' AS surface,
       v.doc_id,
       CAST(length('YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono') + 1
            + MAX(v.nf) * 22 AS BIGINT) AS n_bytes,
       CAST(MAX(v.nf) AS BIGINT) AS d1,
       CAST(4 AS BIGINT) AS d2,
       CAST(SUM(v.luma) AS DOUBLE) / (MAX(v.nf) * 16) AS metric,
       CAST(NULL AS VARCHAR) AS digest
FROM (
  SELECT d.doc_id,
         d.doc_id % 8 + 2 AS nf,
         (d.doc_id * 7 + f.i * 13 + j.i) % 256 AS luma
  FROM documents d
  JOIN range(0, 10) f(i) ON f.i < d.doc_id % 8 + 2
  CROSS JOIN range(0, 16) j(i)
) v
GROUP BY v.doc_id
UNION ALL
SELECT 'adpcm' AS surface,
       doc_id,
       CAST(64 + (doc_id % 50 + 10) // 2 AS BIGINT) AS n_bytes,
       CAST(doc_id % 50 + 10 AS BIGINT) AS d1,
       CAST(16000 AS BIGINT) AS d2,
       CAST((doc_id % 50 + 10) * ((doc_id * 31) % 60000 - 30000)
            + (doc_id % 50 + 10) // 2 AS DOUBLE)
         / (doc_id % 50 + 10) AS metric,
       CAST(NULL AS VARCHAR) AS digest
FROM documents
""",
}

# Stateful streaming suite: the foreachBatch mart upsert must equal the
# one-shot batch mart (_LOTTERY_CTE, the same incremental-view-
# maintenance property pipeline_incremental proves for the batch path),
# and the stream-stream interval join must equal the plain batch
# range join. The lag column is exact integer microseconds (epoch_us
# difference) — no second-truncation ambiguity across engines.
# The ingest section (r9) appends the shared n-gram pair CTEs to the
# lottery WITH-list: streaming corpus ingest must equal the one-shot
# incremental near-dup run (dedup_minhash_incremental's oracle subset).
ORACLES["stream_suite"] = _LOTTERY_CTE + ",\n" + _NGRAM_PAIR_CTE_BODY + """
SELECT 'upsert' AS surface,
       number_value AS s1,
       total_occurrences AS i1,
       CAST(total_draws AS BIGINT) AS i2,
       CAST(days_since_last AS BIGINT) AS i3,
       probability AS d1,
       strftime(last_appeared_date, '%Y-%m-%d') AS s2
FROM mart
UNION ALL
SELECT 'interval' AS surface,
       CAST(p.user_id AS VARCHAR) AS s1,
       CAST(p.event_id AS BIGINT) AS i1,
       CAST(c.event_id AS BIGINT) AS i2,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS i3,
       CAST(p.value AS DOUBLE) AS d1,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS s2
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
UNION ALL
-- outer (r8): purchases with NO click in the preceding hour — the
-- rows the left-outer stream-stream join emits at watermark eviction.
SELECT 'outer' AS surface,
       CAST(p.user_id AS VARCHAR) AS s1,
       CAST(p.event_id AS BIGINT) AS i1,
       CAST(NULL AS BIGINT) AS i2,
       CAST(NULL AS BIGINT) AS i3,
       CAST(p.value AS DOUBLE) AS d1,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS s2
FROM events p
WHERE p.event_type = 'purchase' AND NOT EXISTS (
  SELECT 1 FROM events c
  WHERE c.user_id = p.user_id AND c.event_type = 'click'
    AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts)
UNION ALL
-- session (r8): batch lag+cumsum sessionization — the streaming
-- session_window result must match session-for-session. Boundary rule:
-- gap > 1800s starts a new session (an exactly-1800s pair merges, the
-- session_window semantics pinned by pytest); end = last event + gap.
SELECT 'session' AS surface,
       CAST(user_id AS VARCHAR) AS s1,
       CAST(COUNT(*) AS BIGINT) AS i1,
       CAST(MIN(eus) AS BIGINT) AS i2,
       CAST(MAX(eus) + 1800000000 AS BIGINT) AS i3,
       CAST(NULL AS DOUBLE) AS d1,
       CAST(NULL AS VARCHAR) AS s2
FROM (
  SELECT user_id, eus,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY eus
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM (
    SELECT user_id, eus,
           CASE WHEN LAG(eus) OVER w IS NULL
                     OR eus - LAG(eus) OVER w > 1800000000
                THEN 1 ELSE 0 END AS is_new
    FROM (SELECT user_id, epoch_us(ts) AS eus FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY eus)
  )
)
GROUP BY user_id, sid
UNION ALL
-- ingest (r9): streaming corpus ingest — the per-microbatch union of
-- (new x index) + (new x new-so-far) verified near-dup pairs must
-- equal the one-shot incremental run: exact-Jaccard pairs with at
-- least one new-batch (doc_id % 4 = 0) side.
SELECT 'ingest' AS surface,
       CAST(NULL AS VARCHAR) AS s1,
       CAST(id_a AS BIGINT) AS i1,
       CAST(id_b AS BIGINT) AS i2,
       CAST(NULL AS BIGINT) AS i3,
       CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS d1,
       CAST(NULL AS VARCHAR) AS s2
FROM inter
WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5
  AND (id_a % 4 = 0 OR id_b % 4 = 0)
UNION ALL
-- hourly (r11 consolidation): the deployable watermarked tumbling-window
-- aggregate (append-mode parquet + checkpoint, sentinel-advanced
-- watermark) must equal the plain batch hourly rollup.
SELECT 'hourly' AS surface,
       event_type AS s1,
       CAST(COUNT(*) AS BIGINT) AS i1,
       CAST(NULL AS BIGINT) AS i2,
       CAST(NULL AS BIGINT) AS i3,
       CAST(NULL AS DOUBLE) AS d1,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS s2
FROM events
GROUP BY event_type, date_trunc('hour', ts)
UNION ALL
-- cdc (r11): streaming CDC apply — the final committed snapshot state
-- after two IN-ORDER change batches (c1: update %13 -> +1.0, delete
-- %17; c2: RE-update %13 -> +2.0 absolute, delete %23, insert %19 as
-- -key). c2's update superseding c1's proves batch order.
SELECT 'cdc' AS surface,
       m AS s1,
       CAST(COUNT(*) AS BIGINT) AS i1,
       CAST(NULL AS BIGINT) AS i2,
       CAST(NULL AS BIGINT) AS i3,
       CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS d1,
       CAST(NULL AS VARCHAR) AS s2
FROM (
  SELECT strftime(o_orderdate, '%Y-%m') AS m,
         CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 2.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % 17 <> 0 AND o_orderkey % 23 <> 0
  UNION ALL
  SELECT strftime(o_orderdate, '%Y-%m'), o_totalprice FROM orders
  WHERE o_orderkey % 19 = 0
) GROUP BY m
"""

# The capped/uncapped suite renders from the shared core.

# The LSH pipeline's verified OUTPUT is the exact-Jaccard pair set (see
# q_dedup_minhash_lsh for the recall argument): same oracle as the exact
# inverted-index computation. The one-shot variant (q_dedup_minhash_oneshot)
# computes the identical result without parquet staging — pinned by pytest
# and timed as a bench secondary.
ORACLES["dedup_minhash_lsh"] = _NGRAM_JACCARD_SQL

#: Cosine of each embedding row against the vec_id=1 query vector — the
#: same left-to-right double-precision fold Spark's F.aggregate performs,
#: so values are bit-identical (proven by sim_cosine_scores hash-matching).
_COS_Q = """list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv)))"""

ORACLES["sim_cosine_suite"] = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
top10 AS (
  SELECT e.vec_id, round({_COS_Q}, 5) AS cos5
  FROM embeddings e CROSS JOIN q
  ORDER BY {_COS_Q} DESC, e.vec_id
  LIMIT 10
)
SELECT 'scores' AS surface, e.vec_id, round({_COS_Q}, 5) AS cos5
FROM embeddings e CROSS JOIN q
UNION ALL
SELECT 'top10' AS surface, vec_id, cos5 FROM top10
"""

# Sign-LSH with data-derived hyperplanes (embeddings vec_id 2..7): the
# oracle recomputes the bucket codes, the Hamming-1 multiprobe set, and
# the exact ranking of the candidates — full approximate-path semantics.
_LSH_TOPK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
planes AS (
  SELECT CAST(vec_id - 2 AS INT) AS p, CAST(embedding AS DOUBLE[]) AS pv
  FROM embeddings WHERE vec_id BETWEEN 2 AND 7
),
codes AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pv) > 0
                       THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS code
  FROM embeddings e CROSS JOIN planes pl
  GROUP BY e.vec_id
),
qcode AS (
  SELECT CAST(SUM(CASE WHEN list_dot_product(q.qv, pl.pv) > 0
                       THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS code
  FROM q CROSS JOIN planes pl
),
probes AS (
  SELECT code FROM qcode
  UNION ALL
  SELECT xor(qcode.code, CAST(1 << t.b AS BIGINT)) FROM qcode, range(6) AS t(b)
),
cand AS (SELECT vec_id FROM codes WHERE code IN (SELECT code FROM probes))
SELECT e.vec_id, round({_COS_Q}, 5) AS cos5
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_COS_Q} DESC, e.vec_id
LIMIT 10
"""

# IVF with the 16 lowest-id vectors as centroids: assignment is argmin of
# c.c - 2*v.c (identical fold order on both engines, ties to lowest cid),
# probe = 4 nearest cells to the query (distance, then cid).
_IVF_TOPK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
probe AS (
  SELECT c.cid FROM cents c CROSS JOIN q
  ORDER BY list_distance(q.qv, c.cv), c.cid LIMIT 4
),
assign AS (
  SELECT e.vec_id,
         c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(c.cv, c.cv)
                    - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv),
                    c.cid
         ) AS rn
  FROM embeddings e CROSS JOIN cents c
),
cand AS (SELECT vec_id FROM assign WHERE rn = 1 AND cid IN (SELECT cid FROM probe))
SELECT e.vec_id, round({_COS_Q}, 5) AS cos5
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_COS_Q} DESC, e.vec_id
LIMIT 10
"""

# LSH + IVF ANN top-10 and the batched exact kNN join ride one
# surface-tagged suite (sim_ann_suite); each branch keeps its full
# semantic oracle (the kNN branch: per-query rank window, ties on id).
_KNN_COS = """list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
         / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                  CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(q.qv, q.qv)))"""
ORACLES["sim_ann_suite"] = f"""
SELECT 'lsh' AS surface, t.* FROM ({_LSH_TOPK_SQL}) t
UNION ALL
SELECT 'ivf' AS surface, t.* FROM ({_IVF_TOPK_SQL}) t
UNION ALL
SELECT 'knn' || CAST(q.vec_id AS VARCHAR) AS surface, e.vec_id,
       round({_KNN_COS}, 5) AS cos5
FROM embeddings e CROSS JOIN
     (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN (1, 2, 3)) q
QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {_KNN_COS} DESC, e.vec_id) <= 5
UNION ALL
-- knn_join_ivf at full probe (n_probe = 16 = every cell) is
-- deterministically equal to the brute join: same rank-window oracle.
SELECT 'knnivf' || CAST(q.vec_id AS VARCHAR) AS surface, e.vec_id,
       round({_KNN_COS}, 5) AS cos5
FROM embeddings e CROSS JOIN
     (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id IN (1, 2, 3)) q
QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
                           ORDER BY {_KNN_COS} DESC, e.vec_id) <= 5
"""

# Incremental MinHash vs the persisted corpus index must equal the
# new-involving subset of the full-corpus exact-Jaccard pair set.
#: PQ top-k (the sim_ann_suite 'pq' surface): codebooks are TRAINED
#: (r12) — init entry (s, j) = subspace s (16 dims, 1-based inclusive
#: DuckDB list slice) of the j-th lowest-id corpus vector, then TWO
#: unrolled Lloyd iterations replayed in SQL (_pq_trained_cb_sql):
#: argmin assignment (rank-window, ties to the lowest j — the ivf
#: assign precedent) and per-(s, j, dim) means summed on the
#: round(x*1e6) integer grid, exactly the engine's arithmetic. Per-row
#: codes are argmin over c.c - 2*v.c; the ADC approximation is the
#: LEFT-ASSOCIATIVE 4-term add chain the Spark side builds, pivoted out
#: of the per-subspace terms so the fold order is explicit (a bare
#: SUM() would add in arbitrary order and flip refine-boundary ties).


def _pq_trained_cb_sql(
    n_iter: int = 2,
    src: str = "embeddings",
    vec: str = "CAST(e.embedding AS DOUBLE[])",
) -> str:
    """The unrolled-Lloyd codebook CTE chain ending in ``cb`` — the SQL
    replay of functions/similarity.py::pq_train_codebooks (same init,
    same assignment tie-break, same quantized-integer means, same
    empty-cell carry-forward). ``src``/``vec`` point it at a different
    training relation (r14: the ``resvec`` IVF-residual CTE for
    residual IVFPQ)."""
    ctes = [
        """cb_t0 AS (
  SELECT s.s,
         CAST(ROW_NUMBER() OVER (PARTITION BY s.s ORDER BY b.vec_id) - 1
              AS INT) AS j,
         b.bv[(s.s*16+1):(s.s*16+16)] AS cv
  FROM base b CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) s
)"""
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        ctes.append(f"""asg_t{t} AS (
  SELECT e.vec_id, c.s, c.j
  FROM {src} e CROSS JOIN cb_t{p} c
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY e.vec_id, c.s
    ORDER BY list_dot_product(c.cv, c.cv)
             - 2 * list_dot_product(
                 {vec}[(c.s*16+1):(c.s*16+16)],
                 c.cv),
             c.j
  ) = 1
),
sums_t{t} AS (
  SELECT k.s, k.j, d.d,
         SUM(CAST(round(
           {vec}[k.s*16 + d.d] * 1000000
         ) AS BIGINT)) AS sq,
         COUNT(*) AS n
  FROM asg_t{t} k
  JOIN {src} e USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 17)) AS d) d
  GROUP BY 1, 2, 3
),
cb_t{t} AS (
  SELECT s, j, list(CAST(sq AS DOUBLE) / n / 1000000.0 ORDER BY d) AS cv
  FROM sums_t{t} GROUP BY s, j
  UNION ALL
  SELECT c.s, c.j, c.cv FROM cb_t{p} c
  WHERE NOT EXISTS (
    SELECT 1 FROM sums_t{t} m WHERE m.s = c.s AND m.j = c.j
  )
)""")
    ctes.append(f"cb AS (SELECT * FROM cb_t{n_iter})")
    return ",\n".join(ctes)


_PQ_TOPK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
{_pq_trained_cb_sql(n_iter=2)},
codes AS (
  SELECT e.vec_id, c.s, c.cv,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id, c.s
           ORDER BY list_dot_product(c.cv, c.cv)
                    - 2 * list_dot_product(
                        CAST(e.embedding AS DOUBLE[])[(c.s*16+1):(c.s*16+16)],
                        c.cv),
                    c.j
         ) AS rn
  FROM embeddings e CROSS JOIN cb c
),
terms AS (
  SELECT k.vec_id, k.s,
         list_dot_product(k.cv, k.cv)
         - 2 * list_dot_product(q.qv[(k.s*16+1):(k.s*16+16)], k.cv) AS t
  FROM codes k CROSS JOIN q
  WHERE k.rn = 1
),
adc AS (
  SELECT vec_id,
         ((MAX(CASE WHEN s = 0 THEN t END)
           + MAX(CASE WHEN s = 1 THEN t END))
          + MAX(CASE WHEN s = 2 THEN t END))
         + MAX(CASE WHEN s = 3 THEN t END) AS d
  FROM terms GROUP BY vec_id
),
cand AS (SELECT vec_id FROM adc ORDER BY d, vec_id LIMIT 50)
SELECT e.vec_id, round({_COS_Q}, 5) AS cos5
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_COS_Q} DESC, e.vec_id
LIMIT 10
"""

# Consolidated into sim_ann_suite as the 'pq' surface (registry stays at
# the driver's 50-entry gate window); q_sim_pq_topk remains importable
# and is benched on its own as a SECONDARY series.
ORACLES["sim_ann_suite"] += f"""
UNION ALL
SELECT 'pq' AS surface, t.* FROM ({_PQ_TOPK_SQL}) t
"""

#: IVF x PQ composed ANN (r13, the sim_ann_suite 'ivfpq' surface):
#: probe = the 6 cells nearest the query (the _IVF_TOPK_SQL ranking),
#: cell membership = the same argmin assignment, and the ADC ranking +
#: refine runs ONLY over probed cells' members — the SQL replay of
#: functions/similarity.py::ivfpq_topk_codes over pq_encode codes,
#: training CTEs included.
_IVFPQ_TOPK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
probe AS (
  SELECT c.cid FROM cents c CROSS JOIN q
  ORDER BY list_distance(q.qv, c.cv), c.cid LIMIT 6
),
assign AS (
  SELECT e.vec_id,
         c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY list_dot_product(c.cv, c.cv)
                    - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv),
                    c.cid
         ) AS rn
  FROM embeddings e CROSS JOIN cents c
),
cellcand AS (
  SELECT vec_id FROM assign
  WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
),
base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS bv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
{_pq_trained_cb_sql(n_iter=2)},
codes AS (
  SELECT e.vec_id, c.s, c.cv,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id, c.s
           ORDER BY list_dot_product(c.cv, c.cv)
                    - 2 * list_dot_product(
                        CAST(e.embedding AS DOUBLE[])[(c.s*16+1):(c.s*16+16)],
                        c.cv),
                    c.j
         ) AS rn
  FROM embeddings e
  JOIN cellcand ON e.vec_id = cellcand.vec_id
  CROSS JOIN cb c
),
terms AS (
  SELECT k.vec_id, k.s,
         list_dot_product(k.cv, k.cv)
         - 2 * list_dot_product(q.qv[(k.s*16+1):(k.s*16+16)], k.cv) AS t
  FROM codes k CROSS JOIN q
  WHERE k.rn = 1
),
adc AS (
  SELECT vec_id,
         ((MAX(CASE WHEN s = 0 THEN t END)
           + MAX(CASE WHEN s = 1 THEN t END))
          + MAX(CASE WHEN s = 2 THEN t END))
         + MAX(CASE WHEN s = 3 THEN t END) AS d
  FROM terms GROUP BY vec_id
),
cand AS (SELECT vec_id FROM adc ORDER BY d, vec_id LIMIT 50)
SELECT e.vec_id, round({_COS_Q}, 5) AS cos5
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_COS_Q} DESC, e.vec_id
LIMIT 10
"""

ORACLES["sim_ann_suite"] += f"""
UNION ALL
SELECT 'ivfpq' AS surface, t.* FROM ({_IVFPQ_TOPK_SQL}) t
"""

#: RESIDUAL IVFPQ (r14, VERDICT r13 #3 — FAISS by_residual=True):
#: residuals x - centroid[cell] are derived for the whole corpus, the
#: Lloyd codebook training runs over THEM (same unrolled CTE chain,
#: pointed at resvec), codes quantize residuals of probed cells only,
#: and each row's ADC terms use the query residual against ITS cell's
#: centroid — the SQL replay of
#: functions/similarity.py::ivfpq_topk_codes(residual=True) +
#: ivfpq_train_residual_codebooks.
_IVFPQ_RES_TOPK_SQL = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 16
),
acell AS (
  SELECT vec_id, cid, cv FROM (
    SELECT e.vec_id, c.cid, c.cv,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(c.cv, c.cv)
                      - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv),
                      c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
resvec AS (
  SELECT e.vec_id, a.cid,
         list_transform(range(1, 65),
                        i -> CAST(e.embedding AS DOUBLE[])[i] - a.cv[i]) AS rv
  FROM embeddings e JOIN acell a USING (vec_id)
),
probe AS (
  SELECT c.cid FROM cents c CROSS JOIN q
  ORDER BY list_distance(q.qv, c.cv), c.cid LIMIT 6
),
base AS (
  SELECT vec_id, rv AS bv FROM resvec ORDER BY vec_id LIMIT 16
),
{_pq_trained_cb_sql(n_iter=2, src="resvec", vec="e.rv")},
codes AS (
  SELECT r.vec_id, r.cid, c.s, c.cv,
         ROW_NUMBER() OVER (
           PARTITION BY r.vec_id, c.s
           ORDER BY list_dot_product(c.cv, c.cv)
                    - 2 * list_dot_product(
                        r.rv[(c.s*16+1):(c.s*16+16)], c.cv),
                    c.j
         ) AS rn
  FROM resvec r CROSS JOIN cb c
  WHERE r.cid IN (SELECT cid FROM probe)
),
terms AS (
  SELECT k.vec_id, k.s,
         list_dot_product(k.cv, k.cv)
         - 2 * list_dot_product(
             list_transform(range(k.s*16 + 1, k.s*16 + 17),
                            i -> q.qv[i] - ct.cv[i]),
             k.cv) AS t
  FROM codes k
  JOIN acell a ON a.vec_id = k.vec_id
  JOIN cents ct ON ct.cid = a.cid
  CROSS JOIN q
  WHERE k.rn = 1
),
adc AS (
  SELECT vec_id,
         ((MAX(CASE WHEN s = 0 THEN t END)
           + MAX(CASE WHEN s = 1 THEN t END))
          + MAX(CASE WHEN s = 2 THEN t END))
         + MAX(CASE WHEN s = 3 THEN t END) AS d
  FROM terms GROUP BY vec_id
),
cand AS (SELECT vec_id FROM adc ORDER BY d, vec_id LIMIT 50)
SELECT e.vec_id, round({_COS_Q}, 5) AS cos5
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_COS_Q} DESC, e.vec_id
LIMIT 10
"""

ORACLES["sim_ann_suite"] += f"""
UNION ALL
SELECT 'ivfpq_res' AS surface, t.* FROM ({_IVFPQ_RES_TOPK_SQL}) t
"""

ORACLES["dedup_minhash_incremental"] = (
    "SELECT * FROM (\n"
    + _NGRAM_JACCARD_SQL
    + "\n) WHERE id_a % 4 = 0 OR id_b % 4 = 0"
)

# Salting must be semantics-preserving: both skewed paths equal the plain
# groupBy/join over the hot-key projection.
ORACLES["skew_salted_suite"] = """
WITH ev AS (
  SELECT CAST(CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS BIGINT) AS k,
         value
  FROM events
),
dim AS (
  SELECT k, CAST(k % 97 AS BIGINT) AS w FROM (SELECT DISTINCT k FROM ev)
)
SELECT 'two_phase_agg' AS surface, k, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
FROM ev GROUP BY k
UNION ALL
SELECT 'salted_join' AS surface, e.k, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(d.w) AS DOUBLE) AS s
FROM ev e JOIN dim d USING (k) GROUP BY e.k
UNION ALL
SELECT 'aqe_skew_join' AS surface, e.k, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(d.w) AS DOUBLE) AS s
FROM ev e JOIN dim d USING (k) GROUP BY e.k
UNION ALL
SELECT 'aqe_coalesce' AS surface, k, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s
FROM ev WHERE k % 7 = 1 GROUP BY k
"""

# SCD2: untouched rows via anti join, closed rows via the matched join,
# opened rows straight from the (per-key latest) update batch.
ORACLES["scd2_suite"] = """
WITH upd AS (
  SELECT o_custkey AS c_custkey,
         'SEG' || CAST(o_custkey % 3 AS VARCHAR) AS segment,
         MAX(CAST(o_orderdate AS DATE)) AS eff
  FROM orders GROUP BY 1, 2
),
dim AS (
  SELECT c.c_custkey, c.c_mktsegment AS segment,
         DATE '1990-01-01' AS valid_from, DATE '9999-12-31' AS valid_to,
         1 AS is_current
  FROM customer c
  WHERE c.c_custkey NOT IN (SELECT c_custkey FROM upd)
  UNION ALL
  SELECT c.c_custkey, c.c_mktsegment, DATE '1990-01-01', u.eff, 0
  FROM customer c JOIN upd u ON c.c_custkey = u.c_custkey
  UNION ALL
  SELECT u.c_custkey, u.segment, u.eff, DATE '9999-12-31', 1 FROM upd u
)
SELECT 'dim' AS surface, c_custkey, segment,
       strftime(valid_from, '%Y-%m-%d') AS valid_from,
       strftime(valid_to, '%Y-%m-%d') AS valid_to, is_current
FROM dim
UNION ALL
SELECT 'asof', c_custkey, segment,
       strftime(valid_from, '%Y-%m-%d'), strftime(valid_to, '%Y-%m-%d'),
       is_current
FROM dim
WHERE valid_from <= DATE '1995-06-01' AND valid_to > DATE '1995-06-01'
UNION ALL
SELECT 'cdc', k,
       change || CASE WHEN ch <> '' THEN ':' || ch ELSE '' END,
       COALESCE(old_seg, ''), COALESCE(new_seg, ''), CAST(NULL AS INT)
FROM (
  SELECT COALESCE(o.k, n.k) AS k,
         CASE WHEN o.k IS NULL THEN 'insert'
              WHEN n.k IS NULL THEN 'delete'
              WHEN o.seg IS DISTINCT FROM n.seg THEN 'update' END AS change,
         CASE WHEN o.seg IS DISTINCT FROM n.seg THEN 'segment'
              ELSE '' END AS ch,
         o.seg AS old_seg, n.seg AS new_seg
  FROM (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer) o
  FULL OUTER JOIN (
    SELECT o_custkey AS k, 'SEG' || CAST(o_custkey % 3 AS VARCHAR) AS seg
    FROM (SELECT DISTINCT o_custkey FROM orders)
    UNION ALL
    SELECT c_custkey + 1000000, 'SEGNEW' FROM customer
    WHERE c_custkey % 500 = 0
  ) n ON o.k = n.k
)
WHERE change IS NOT NULL
"""

# Portable SimHash: md5 token hashes split into unsigned 32-bit halves,
# 64 sign-sum bits, 4x16-bit pigeonhole blocks, bit_count hamming — the
# same arithmetic the Spark side runs, generated once for both engines.
_SIMHASH_BITS = ",\n         ".join(
    (
        f"SUM(CASE WHEN (lo >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        if j < 32
        else f"SUM(CASE WHEN (hi >> {j - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
    )
    for j in range(64)
)
_SIMHASH_LO = " + ".join(
    f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
)
_SIMHASH_HI = " + ".join(
    f"(CASE WHEN b{j + 32} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32)
)
ORACLES["dedup_simhash"] = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
  FROM documents
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
  FROM tok
),
bits AS (
  SELECT doc_id,
         {_SIMHASH_BITS}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         CAST({_SIMHASH_HI} AS BIGINT) AS sim_hi,
         CAST({_SIMHASH_LO} AS BIGINT) AS sim_lo
  FROM bits
),
blocks AS (
  SELECT doc_id, sim_hi, sim_lo, 0 AS blk, sim_lo & 65535 AS key FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 1, (sim_lo >> 16) & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 2, sim_hi & 65535 FROM sig
  UNION ALL
  SELECT doc_id, sim_hi, sim_lo, 3, (sim_hi >> 16) & 65535 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sim_hi AS hi_a, a.sim_lo AS lo_a,
         b.sim_hi AS hi_b, b.sim_lo AS lo_b
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
         AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
"""

#: text_lm_scores: self-trained unigram LM — every token is in-vocab, so
#: the inner token join loses nothing; round(…, 5) on both engines
#: absorbs the order-sensitive last-ulp of the per-doc float sums.

ORACLES["text_redact_pii"] = r"""
-- URL pass first, emails counted on the URL-redacted stage: each audit
-- count equals the number of its token in the digested text (mirrors
-- functions/text.py redact_pii).
WITH staged AS (
  SELECT doc_id, text,
         regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS url_red
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(url_red,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT)
         AS n_urls,
       md5(regexp_replace(url_red,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'))
         AS redacted_digest
FROM staged
"""

ORACLES["dedup_contamination"] = r"""
WITH train AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
  FROM documents WHERE source <> 'src0'
),
ev AS (
  SELECT string_split_regex(trim(text), '\s+') AS t
  FROM documents WHERE source = 'src0'
),
tg AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= 5
         THEN [array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t) - 3)]
         ELSE [array_to_string(t, ' ')] END)) AS g
  FROM train
),
eg AS (
  SELECT DISTINCT unnest(list_distinct(
    CASE WHEN len(t) >= 5
         THEN [array_to_string(t[i:i+4], ' ') FOR i IN range(1, len(t) - 3)]
         ELSE [array_to_string(t, ' ')] END)) AS g
  FROM ev
)
SELECT tg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
FROM tg JOIN eg ON tg.g = eg.g
GROUP BY tg.doc_id
"""

# The full curation composition: every stage reconstructed in SQL, every
# document's fate compared. The split/mixture hash expressions are the
# former sample_ops oracle applied to the kept set.
ORACLES["corpus_curation_pipeline"] = r"""
WITH toks0 AS (
  SELECT doc_id, source, text, string_split_regex(trim(text), '\s+') AS t
  FROM documents
),
feats AS (
  SELECT doc_id, source, text,
         len(t) AS n_tokens,
         CAST(len(list_filter(t, x -> lower(x) IN
              ('a','an','and','the','of','to','in','is','it','that')))
              AS DOUBLE) / greatest(len(t), 1) AS stop_ratio,
         CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ')
                    FOR i IN range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END AS g
  FROM toks0
),
flags AS (
  SELECT doc_id, source, text,
         (n_tokens >= 15 AND stop_ratio >= 0.01
          AND CAST(len(g) - len(list_distinct(g)) AS DOUBLE)
              / greatest(len(g), 1) <= 0.015) AS q_ok
  FROM feats
),
qpass AS (SELECT doc_id, source, text FROM flags WHERE q_ok),
ex_keep AS (SELECT MIN(doc_id) AS doc_id FROM qpass GROUP BY md5(text)),
ex_surv AS (SELECT q.* FROM qpass q JOIN ex_keep e USING (doc_id)),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= 3
              THEN [array_to_string(t[i:i+2], ' ')
                    FOR i IN range(1, len(t) - 1)]
              ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM ex_surv)
),
postings AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_inter
  FROM postings a JOIN postings b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
near_drop AS (
  SELECT DISTINCT id_b AS doc_id FROM inter
  WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5
),
kept AS (
  SELECT e.doc_id, e.source FROM ex_surv e
  WHERE e.doc_id NOT IN (SELECT doc_id FROM near_drop)
),
sampled AS (
  SELECT doc_id,
         CASE WHEN sb < 8000 THEN 'train'
              WHEN sb < 9000 THEN 'val'
              ELSE 'test' END AS split,
         CAST(CASE WHEN mb < CAST(FLOOR(rate * 10000) AS BIGINT)
                   THEN 1 ELSE 0 END AS INT) AS mix_kept
  FROM (
    SELECT doc_id,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::BIGINT
             % 10000 AS sb,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT
             % 10000 AS mb,
           CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                       WHEN 'src2' THEN 0.3 WHEN 'src3' THEN 0.0
                       ELSE 0.1 END AS rate
    FROM kept
  )
)
SELECT f.doc_id, f.source,
       CASE WHEN NOT f.q_ok THEN 'quality'
            WHEN e.doc_id IS NULL THEN 'exact_dup'
            WHEN k.doc_id IS NULL THEN 'near_dup'
            ELSE 'kept' END AS fate,
       s.split, s.mix_kept
FROM flags f
LEFT JOIN ex_surv e ON f.doc_id = e.doc_id
LEFT JOIN kept k ON f.doc_id = k.doc_id
LEFT JOIN sampled s ON f.doc_id = s.doc_id
"""

ORACLES["text_chunks"] = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
idx AS (
  SELECT doc_id, t,
         unnest(range(CAST(ceil(len(t) / 7.0) AS BIGINT))) AS chunk_idx
  FROM toks
),
-- 'pack' surface (r14): replay the GPT-style concat-and-chunk layout
-- exactly — md5 shard + order, per-shard token prefix sum, cut every
-- 31 tokens, straddling docs split across sequences.
ptoks AS (
  SELECT doc_id, len(t) AS n,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':pack'), 1, 8))::BIGINT
           % 4 AS shard,
         md5(CAST(doc_id AS VARCHAR) || ':pack') AS ord
  FROM toks WHERE len(t) > 0
),
cum AS (
  SELECT doc_id, shard, n,
         CAST(SUM(n) OVER (PARTITION BY shard ORDER BY ord, doc_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cend
  FROM ptoks
),
seg AS (
  SELECT doc_id, shard, cend - n AS cstart, cend,
         unnest(range((cend - n) // 31, (cend - 1) // 31 + 1)) AS seq
  FROM cum
)
SELECT 'chunks' AS surface, doc_id,
       CAST(chunk_idx AS INT) AS i1,
       0 AS i2, 0 AS i3, 0 AS i4,
       CAST(LEAST(7, len(t) - chunk_idx * 7) AS INT) AS n_tokens,
       array_to_string(t[chunk_idx * 7 + 1 : chunk_idx * 7 + 7], ' ') AS chunk_text
FROM idx
UNION ALL
SELECT 'pack' AS surface, doc_id,
       CAST(shard AS INT) AS i1,
       CAST(seq AS INT) AS i2,
       CAST(GREATEST(cstart, seq * 31) - cstart AS INT) AS i3,
       CAST(GREATEST(cstart, seq * 31) - seq * 31 AS INT) AS i4,
       CAST(LEAST(cend, (seq + 1) * 31)
            - GREATEST(cstart, seq * 31) AS INT) AS n_tokens,
       CAST(NULL AS VARCHAR) AS chunk_text
FROM seg
"""

# Connected components of the exact-Jaccard pair graph via recursive
# transitive closure (closure stays tiny: near-dup components are small
# by construction — that is the premise of dedup).
ORACLES["dedup_clusters"] = r"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(t) >= 3
                THEN [array_to_string(t[i:i+2], ' ')
                      FOR i IN range(1, len(t) - 1)]
                ELSE [array_to_string(t, ' ')] END
         ) AS shingles
  FROM toks
),
postings AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b,
         COUNT(*) AS n_inter
  FROM postings a JOIN postings b
    ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT id_a, id_b FROM inter
  WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT CAST(src AS BIGINT) AS doc_id,
       CAST(LEAST(src, MIN(dst)) AS BIGINT) AS canonical_id
FROM reach GROUP BY src
"""

#: dedup_semantic: the ann_label_blocked_pairs lsh-surface candidate
#: pipeline (same 16 data-derived planes, 4 bands, cosine >= 0.4 on
#: candidates) feeding the dedup_clusters transitive-closure component
#: resolution, left-joined back onto the full corpus for keep decisions.
ORACLES["dedup_semantic"] = """
WITH RECURSIVE nv AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
planes AS MATERIALIZED (
  SELECT CAST(vec_id - 2 AS INT) AS p, e AS pv FROM nv
  WHERE vec_id BETWEEN 2 AND 17
),
codes AS MATERIALIZED (
  SELECT n.vec_id, CAST(pl.p // 4 AS INT) AS band,
         CAST(SUM(CASE WHEN list_dot_product(n.e, pl.pv) > 0
                       THEN (CAST(1 AS BIGINT) << (pl.p % 4))
                       ELSE 0 END) AS BIGINT) AS code
  FROM nv n CROSS JOIN planes pl
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM codes a JOIN codes b
    ON a.band = b.band AND a.code = b.code AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN nv a ON a.vec_id = c.id_a JOIN nv b ON b.vec_id = c.id_b
  WHERE list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
canon AS (
  SELECT src AS vec_id, LEAST(src, MIN(dst)) AS canonical_id
  FROM reach GROUP BY src
)
SELECT n.vec_id,
       CAST(COALESCE(c.canonical_id, n.vec_id) AS BIGINT) AS canonical_id,
       (COALESCE(c.canonical_id, n.vec_id) = n.vec_id) AS kept
FROM nv n LEFT JOIN canon c ON c.vec_id = n.vec_id
ORDER BY n.vec_id
"""
