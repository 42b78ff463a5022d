"""Explicit StructType schemas for every table in the data model.

Lottery-pipeline schemas mirror the reference DDL (citations below are into
the read-only reference checkout):

- raw crawl CSV     : crawl_data/src/main/java/python2/LotteryCrawler.java:301
- stg_lottery_data  : StagingDW/src/main/java/vn/edu/hcmuaf/fit/Util.java:12-17
- transform table   : transform_staging/.../LotteryTransform.java:97-104
- dim_date          : load_warehouse/src/main/java/ETLMain.java:243-248
- dim_number        : load_warehouse/src/main/java/ETLMain.java:299-302
- fact_prize        : load_warehouse/src/main/java/ETLMain.java:370-374
- mart              : Backend/.../entity/Mart.java:15-34
- process_log       : StagingDW/.../ProcessLogger.java:10, ETLMain.java:164-167

Everything is declared (never inferred) so CSV reads are one pass and the
driver/oracle comparison sees stable column types.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Bronze: raw crawler CSV (all strings; typed at silver).
# Header: prize,number_value,full_date,created_at  (LotteryCrawler.java:301)
RAW_CRAWL = StructType(
    [
        StructField("prize", StringType()),
        StructField("number_value", StringType()),
        StructField("full_date", StringType()),  # dd-MM-yyyy
        StructField("created_at", StringType()),  # ISO-8601 with literal Z
        StructField("_corrupt_record", StringType()),
    ]
)

# Alternate crawl artifact layout (crawl_data/xsmb_23102025_CRAWL_001.csv:1)
RAW_CRAWL_ALT = StructType(
    [
        StructField("process_code", StringType()),
        StructField("ngay_trung", StringType()),
        StructField("thu", StringType()),
        StructField("ten_giai", StringType()),
        StructField("so_trung", StringType()),
        StructField("range_group", StringType()),
        StructField("is_weekend", BooleanType()),
        StructField("is_even", BooleanType()),
        StructField("crawl_time", StringType()),
    ]
)

# Staging (strings + audit timestamp): Util.java:12-17
STG_LOTTERY_DATA = StructType(
    [
        StructField("prize", StringType()),
        StructField("number_value", StringType()),
        StructField("full_date", StringType()),
        StructField("load_timestamp", TimestampType()),
    ]
)

# Silver transform: LotteryTransform.java:97-104
STG_LOTTERY_TRANSFORM = StructType(
    [
        StructField("number_value", IntegerType()),
        StructField("full_date", DateType()),
        StructField("range_group", StringType()),
        StructField("is_weekend", IntegerType()),
        StructField("is_even", IntegerType()),
        StructField("load_timestamp", TimestampType()),
    ]
)

# Gold star schema
DIM_DATE = StructType(
    [
        StructField("date_key", IntegerType()),  # yyyyMMdd
        StructField("full_date", DateType()),
        StructField("day_of_month", IntegerType()),
        StructField("month_of_year", IntegerType()),
        StructField("year_value", IntegerType()),
        StructField("year_month_value", StringType()),  # 'yyyy-MM'
        StructField("day_name", StringType()),  # Vietnamese
        StructField("is_weekend", IntegerType()),
    ]
)

DIM_NUMBER = StructType(
    [
        StructField("number_key", IntegerType()),  # deterministic surrogate
        StructField("number_value", StringType()),  # natural key, zeros stripped
        StructField("is_even", IntegerType()),
        StructField("last_digit", IntegerType()),
        StructField("last_appeared_date", DateType()),
    ]
)

FACT_PRIZE = StructType(
    [
        StructField("date_key", IntegerType()),
        StructField("number_key", IntegerType()),
        StructField("occurrence_count", IntegerType()),  # always 1 (grain rule)
        StructField("total_draws", IntegerType()),
        StructField("probability_value", DecimalType(10, 6)),
        StructField("days_since_last", IntegerType()),  # NULL on first appearance
    ]
)

# Serving mart: Mart.java:15-34 (DECIMAL(32) = MySQL SUM(INT); DECIMAL(36,4))
MART_TWO_DIGIT_PROBABILITY = StructType(
    [
        StructField("number_value", StringType()),
        StructField("total_occurrences", DecimalType(32, 0)),
        StructField("total_draws", IntegerType()),
        StructField("probability", DecimalType(36, 4)),
        StructField("last_appeared_date", DateType()),
        StructField("days_since_last", IntegerType()),
    ]
)

# Orchestration ledger: ProcessLogger.java:10, ETLMain.java:164-167
PROCESS_LOG = StructType(
    [
        StructField("process_id", LongType()),
        StructField("source_id", IntegerType()),
        StructField("process_code", StringType()),  # P1..P4
        StructField("status", StringType()),  # RUNNING/SUCCESS/FAILED/FAIL
        StructField("started_at", TimestampType()),
        StructField("ended_at", TimestampType()),
        StructField("message", StringType()),
    ]
)

# Control config tables (Util.java:10, LotteryCrawler.java:116-117)
CONFIG_SOURCE = StructType(
    [
        StructField("source_id", IntegerType()),
        StructField("source_name", StringType()),
        StructField("source_url", StringType()),
        StructField("file_location", StringType()),
        StructField("destination_staging", StringType()),
    ]
)

CONFIG_DATABASE = StructType(
    [
        StructField("config_key", StringType()),
        StructField("config_value", StringType()),
    ]
)
