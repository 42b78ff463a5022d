"""CSV directory source / sink for the crawl layer.

Replaces the reference's hand-rolled directory scan + line splitter
(StagingDW/src/main/java/vn/edu/hcmuaf/fit/CsvLoader.java:8-50, operator S3)
and CSV writer with BOM (crawl_data/.../LotteryCrawler.java:298-308, S2).

Spark reads the whole directory natively — one job, splittable across
executors — so the per-file Java loop disappears. Field-count rule
(CsvLoader.java:38-39): the reference keeps a line when ``split(",")``
gives at least four fields, and Java's ``split`` drops trailing empty
fields. So ``...,created,`` and ``...,created,extra`` are kept (their
first four fields are used) and ``...,01-01-2024,`` (empty fourth field)
is dropped. :func:`read_crawl_csv` parses PERMISSIVE — short rows are
null-padded, extra fields ignored — and then drops rows whose fourth
field is empty, which gives that outcome. (One shape differs: a row with
an empty fourth field but a non-empty later one, which the reference
keeps, is dropped here.) UTF-8 BOM files parse because Spark's univocity
parser strips the BOM from the first header cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamReader

from ..schemas import RAW_CRAWL_ALT

#: The crawl-file name filter, shared by the P1 gate and both readers: a
#: ``.csv`` suffix in any letter case, like the reference's
#: ``toLowerCase().endsWith(".csv")`` (CsvLoader.java:12). One pattern for
#: Hadoop's ``pathGlobFilter`` and Python's ``fnmatch``.
CSV_GLOB = "*.[cC][sS][vV]"

#: The crawl CSV columns, all raw strings (the staging DDL).
CRAWL_CSV_SCHEMA = "prize STRING, number_value STRING, full_date STRING, created_at STRING"
#: A bronze row: the CSV columns plus the ``load_timestamp`` audit column.
#: Reading bronze parquet with it skips Spark's footer-inference job.
BRONZE_SCHEMA = CRAWL_CSV_SCHEMA + ", load_timestamp TIMESTAMP"


def read_crawl_csv(
    reader: DataFrameReader | DataStreamReader, path: str
) -> DataFrame:
    """The crawl-file parse policy, for ``spark.read`` and
    ``spark.readStream`` alike: every :data:`CSV_GLOB` file under ``path``
    -> typed staging rows.

    Output columns follow the staging DDL (prize, number_value, full_date,
    created_at as raw strings) plus the ``load_timestamp`` audit column the
    reference stamps per row (CsvLoader.java:43, operator S6). Rows the
    reference's four-field rule skips are dropped (module docstring), and
    so are rows whose prize or number is empty.

    At scale: the directory listing is distributed, each file splits on block
    boundaries, and the explicit schema avoids an inference pass over 100 TB.
    """
    df = (
        reader.schema(CRAWL_CSV_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("pathGlobFilter", CSV_GLOB)
        .option("encoding", "UTF-8")
        .csv(path)
    )
    return df.filter(
        F.col("prize").isNotNull()
        & F.col("number_value").isNotNull()
        & F.col("created_at").isNotNull()
    ).withColumn("load_timestamp", F.current_timestamp())


def read_crawl_csv_dir(spark: SparkSession, path: str) -> DataFrame:
    """Bronze ingest of the crawl directory ``path`` (:func:`read_crawl_csv`)."""
    return read_crawl_csv(spark.read, path)


def write_crawl_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (operator S2). BOM is not reproduced — Spark
    writes clean UTF-8; readers of both forms behave identically."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_alt_crawl_csv(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution path: the reference's alternate crawl layout
    (crawl_data/xsmb_23102025_CRAWL_001.csv:1 — BOM-prefixed
    ``process_code,ngay_trung,thu,ten_giai,so_trung,range_group,
    is_weekend,is_even,crawl_time`` with yyyy-MM-dd dates and true/false
    booleans) mapped onto the canonical bronze columns so the same silver
    transform runs on either vintage of file. Parsed PERMISSIVE, like
    :func:`read_crawl_csv`: short rows are null-padded, then rows without a
    prize, a number or a crawl time are dropped, so every query of the
    result sees the same rows whichever columns it reads."""
    df = (
        spark.read.schema(RAW_CRAWL_ALT)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("pathGlobFilter", CSV_GLOB)
        .option("encoding", "UTF-8")
        .csv(path)
    )
    return df.filter(
        F.col("ten_giai").isNotNull()
        & F.col("so_trung").isNotNull()
        & F.col("crawl_time").isNotNull()
    ).select(
        F.col("ten_giai").alias("prize"),
        F.col("so_trung").alias("number_value"),
        # canonical bronze carries dd-MM-yyyy (LotteryCrawler.java:24) —
        # re-render the alt layout's yyyy-MM-dd to it.
        F.date_format(F.to_date("ngay_trung", "yyyy-MM-dd"), "dd-MM-yyyy").alias(
            "full_date"
        ),
        F.col("crawl_time").alias("created_at"),
        F.current_timestamp().alias("load_timestamp"),
    )
