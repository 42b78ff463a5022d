"""Explicit StructType schemas for the tables read or written with a
declared layout: the alternate crawl CSV, the ledger and the control tables.

Citations are into the read-only reference checkout:

- alternate crawl CSV : crawl_data/xsmb_23102025_CRAWL_001.csv:1
- process_log         : StagingDW/.../ProcessLogger.java:10, ETLMain.java:164-167
- config tables       : StagingDW/src/main/java/vn/edu/hcmuaf/fit/Util.java:10,
                        crawl_data/src/main/java/python2/LotteryCrawler.java:116-117

The medallion layers (bronze, silver, dim_date, dim_number, fact_prize,
mart) take their schemas from the plans that build them
(``plans/medallion.py``). Everything here is declared (never inferred) so
CSV reads are one pass and the ledger's parquet files match Spark's view.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
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
