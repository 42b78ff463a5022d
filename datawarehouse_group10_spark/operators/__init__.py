"""Operator inventory from SURVEY.md section 2, as composable DataFrame ops.

Naming convention follows the survey: T* row transforms, J* joins,
A* aggregations, W* window/ordered computations.
"""

from .transforms import (
    filter_prize,
    last_k_digits,
    parse_draw_date,
    decade_bucket,
    derive_flags,
    normalize_numeric_string,
    surrogate_date_key,
    calendar_attributes,
    vietnamese_day_name,
    last_digit,
    iso_z_timestamp,
)
from .joins import broadcast_lookup_join, anti_join_new_rows
from .aggregates import (
    draws_per_date,
    reciprocal_probability,
    last_appearance,
    mart_statistics,
)
from .windows import days_since_last, recency_bucket, percent_display, top_k
from .scd import scd2_apply, scd2_as_of
from .temporal import asof_join, range_join
from .skew import (
    salted_join,
    two_phase_agg,
    write_bucketed_table,
    read_table,
)

__all__ = [
    "filter_prize",
    "last_k_digits",
    "parse_draw_date",
    "decade_bucket",
    "derive_flags",
    "normalize_numeric_string",
    "surrogate_date_key",
    "calendar_attributes",
    "vietnamese_day_name",
    "last_digit",
    "iso_z_timestamp",
    "broadcast_lookup_join",
    "anti_join_new_rows",
    "draws_per_date",
    "reciprocal_probability",
    "last_appearance",
    "mart_statistics",
    "days_since_last",
    "recency_bucket",
    "percent_display",
    "top_k",
    "asof_join",
    "range_join",
    "scd2_apply",
    "scd2_as_of",
    "salted_join",
    "two_phase_agg",
    "write_bucketed_table",
    "read_table",
]
