"""Semi-structured (JSON string column) extraction.

Warehouse tables routinely carry a free-form JSON payload column next to
the typed columns (the testdata ``events.props`` models this).
:func:`json_fields` pulls typed fields out of such a column as a pure JVM
expression — ``from_json`` is a Catalyst expression inside whole-stage
codegen, so extraction costs one parse per row with zero Python
involvement and the surrounding filter/aggregate still pushes down and
combines map-side.

Scale notes (100 TB):

- ``json_fields`` parses the document ONCE per row (``from_json`` with a
  struct schema) no matter how many fields are pulled.
- Extraction failures (malformed JSON, missing key, wrong type) yield
  NULL, never an error — the bad-record-tolerance contract of the CSV
  layer (SURVEY §2.7) extended to nested payloads. Count extraction
  NULLs in the same aggregate pass to audit payload health.
- A JSON column is opaque to parquet min/max pruning; anything filtered
  on routinely should be promoted to a typed column at ingest
  (``json_fields`` at silver-build time is exactly that promotion).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_fields(col: str | Column, fields: dict[str, str]) -> Column:
    """Parse a JSON string column once into a struct of typed fields.

    ``fields`` maps field name -> Spark type DDL (``{"k": "bigint",
    "tag": "string"}``). Returns a struct column; select members with
    ``.getField(name)``. One parse per row regardless of field count.
    """
    c = F.col(col) if isinstance(col, str) else col
    schema = ", ".join(f"{name} {dtype}" for name, dtype in fields.items())
    return F.from_json(c, schema)

