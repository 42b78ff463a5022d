"""The reference's orchestrated end-to-end run (ETLMain.java:23-79 +
StagingController.java:171-180) as one config-driven Spark job.

Stage map (SURVEY §3.4): P1 = crawl output lands as CSV files (out of
engine scope — the gate just checks the directory), P2 = CSV -> bronze,
P3 = bronze -> silver, P4 = silver -> star schema + mart. Every stage is
gated through the process_log ledger (predecessor-SUCCESS,
self-not-RUNNING) and written as a parquet layer, so a re-run is
idempotent layer-by-layer and any stage failure leaves a FAILED row with
the error message — the reference's control contract, minus the MySQL.

Config comes from the control tables (sources.config_tables) exactly like
the reference reads config_source/config_database (Util.java:10-21), so a
deployment repoints the job by editing the control table, not the code.
"""

from __future__ import annotations

import fnmatch
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow.dataset as ds
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..sources.config_tables import source_config
from ..sources.csv_source import BRONZE_SCHEMA, CSV_GLOB, read_crawl_csv_dir
from ..sources.parquet_source import publish_layer, write_layer
from .medallion import run_full_pipeline
from .orchestrator import ProcessLog


def _written_rows(path: str) -> int:
    """Row count of a written layer, summed from its parquet footers on the
    driver: the ledger's ``rows=N`` costs no Spark job."""
    return ds.dataset(path, format="parquet").count_rows()


def run_warehouse_job(
    spark: SparkSession,
    csv_dir: str | None = None,
    output_dir: str = "/tmp/dwh",
    config_source_path: str | None = None,
    source_id: int = 1,
    as_of: str | None = None,
) -> dict[str, DataFrame]:
    """Run P1-gate..P4 with ledger gating; returns the materialized layers.

    ``csv_dir`` may come from the config_source control table
    (file_location column) instead of an argument — pass
    ``config_source_path`` + ``source_id`` for the reference's lookup
    (LotteryTransform.java:43-56).
    """
    if csv_dir is None:
        if config_source_path is None:
            raise ValueError("need csv_dir or config_source_path")
        csv_dir = source_config(spark, config_source_path, source_id)["file_location"]

    log = ProcessLog(os.path.join(output_dir, "process_log"))

    # P1: the crawler ran out-of-band; its observable contract is "CSV
    # files exist in the directory" (CsvLoader.java:8-24).
    def _p1() -> int:
        names = fnmatch.filter(os.listdir(csv_dir), CSV_GLOB)
        if not names:
            raise FileNotFoundError(f"no {CSV_GLOB} file in {csv_dir}")
        return len(names)

    log.run_stage("P1", _p1)

    # P2: CSV directory -> bronze layer.
    bronze_path = os.path.join(output_dir, "bronze")

    def _p2() -> int:
        write_layer(read_crawl_csv_dir(spark, csv_dir), bronze_path)
        return _written_rows(bronze_path)

    log.run_stage("P2", _p2)

    bronze = spark.read.schema(BRONZE_SCHEMA).parquet(bronze_path)
    layers = run_full_pipeline(bronze, as_of=as_of)

    # P3: silver layer.
    def _p3() -> int:
        write_layer(layers["silver"], os.path.join(output_dir, "silver"))
        return _written_rows(os.path.join(output_dir, "silver"))

    log.run_stage("P3", _p3)

    # P4: star schema + mart (the reference's loadDimDate/loadDimNumber/
    # loadFactPrize + mart build, ETLMain.java:233-430), written inside the
    # mart publish so the mart link swaps only after all four layers are
    # written. dim_date goes first and materializes the cached gold rollup;
    # the other three then read it at the same time on driver threads,
    # which inherit this thread's job group and local properties.
    def _write_gold(mart_path: str) -> None:
        write_layer(layers["dim_date"], os.path.join(output_dir, "dim_date"))
        writes = [(layers["dim_number"], os.path.join(output_dir, "dim_number")),
                  (layers["fact_prize"], os.path.join(output_dir, "fact_prize")),
                  (layers["mart"], mart_path)]
        with ThreadPoolExecutor(len(writes)) as pool:
            futures = [pool.submit(inheritable_thread_target(spark)(write_layer), df, path)
                       for df, path in writes]
        # Leaving the pool waited for every write; now raise the first error.
        for f in futures:
            f.result()

    def _p4() -> int:
        publish_layer(os.path.join(output_dir, "mart"), _write_gold)
        return _written_rows(os.path.join(output_dir, "fact_prize"))

    log.run_stage("P4", _p4)
    return layers


def register_views(spark: SparkSession, layers: dict[str, DataFrame]) -> None:
    """Thin SQL layer (SURVEY §7): every medallion layer as a temp view so
    the serving queries run as plain spark.sql — the Q1/Q2 REST endpoints'
    query text maps 1:1."""
    for name, df in layers.items():
        df.createOrReplaceTempView(name)


#: Q2 /mart/statistic as SQL over the registered views — the JPQL from
#: MartRepository.java:14-33 collapsed into one ANSI aggregate.
SQL_MART_STATISTIC = """
SELECT
  CAST(MAX(total_draws) AS INT)                         AS total_occurrences,
  CAST(max_by(number_value, named_struct(
       'occ', total_occurrences,
       'neg', -CAST(number_value AS INT))) AS INT)      AS most_number,
  CAST(min_by(number_value, named_struct(
       'occ', total_occurrences,
       'num', CAST(number_value AS INT))) AS INT)       AS least_number,
  MAX(last_appeared_date)                               AS last_update
FROM mart
"""
