"""Sources and sinks: CSV-directory bronze ingest, parquet lakehouse
layers, partitioned JDBC scans / batched JDBC writes, and the control-DB
config tables."""

from .csv_source import read_alt_crawl_csv, read_crawl_csv_dir, write_crawl_csv
from .parquet_source import (
    events_ts_layout,
    read_events,
    write_layer,
)
from .jdbc_source import jdbc_read_options, read_jdbc_table, write_jdbc_table
from .config_tables import (
    read_config_source,
    read_config_database,
    source_config,
    database_config,
    write_config_tables,
)

__all__ = [
    "read_alt_crawl_csv",
    "read_crawl_csv_dir",
    "write_crawl_csv",
    "events_ts_layout",
    "read_events",
    "write_layer",
    "jdbc_read_options",
    "read_jdbc_table",
    "write_jdbc_table",
    "read_config_source",
    "read_config_database",
    "source_config",
    "database_config",
    "write_config_tables",
]
