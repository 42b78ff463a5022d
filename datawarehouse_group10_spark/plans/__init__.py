"""Logical plans: the medallion pipeline and the orchestration ledger."""

from .medallion import (
    bronze_to_silver,
    build_dim_date,
    build_dim_number,
    build_fact_prize,
    build_mart,
    full_dim_number,
    gold_rollup,
    run_full_pipeline,
)
from .orchestrator import ProcessLog

__all__ = [
    "bronze_to_silver",
    "build_dim_date",
    "build_dim_number",
    "build_fact_prize",
    "build_mart",
    "full_dim_number",
    "gold_rollup",
    "run_full_pipeline",
    "ProcessLog",
]
