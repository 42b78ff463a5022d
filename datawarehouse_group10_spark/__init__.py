"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL/warehouse project
(PNNVang/DataWarehouse_Group10), re-expressed Spark-first.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, shuffle partitions, Arrow)
- ``schemas``    : explicit StructTypes for the alternate crawl CSV, the
                   process_log ledger and the control tables
- ``sources``    : CSV-directory bronze ingest, parquet lakehouse readers, JDBC
- ``operators``  : row transforms, joins, aggregations, window computations
                   (the SURVEY.md section-2 inventory, T*/J*/A*/W* operators)
- ``plans``      : the medallion pipeline (bronze -> silver -> gold -> mart)
                   and the process_log orchestration contract
- ``functions``  : large-scale training-data pipeline ops: dedup (exact,
                   MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine),
                   similarity search (brute-force / LSH-bucketed ANN), text
                   analysis (lang-id, quality, tokens, fingerprints)
- ``streaming``  : Structured Streaming ingest (AvailableNow CSV-dir stream,
                   watermarked windowed aggregation over events)
- ``multimodal`` : binary-column (image/audio/video) plumbing over
                   Arrow-batched mapInPandas (decode/resize/frame-sample)
- ``contract``   : the driver-facing query registry — one named query per
                   surveyed operator with a DuckDB-equivalent SQL oracle

Everything is the DataFrame API: declarative plans that Catalyst can push
filters into, prune columns for, and broadcast small dimensions for. No RDDs;
Python UDFs only where built-ins genuinely cannot express the semantics, and
then always Arrow-batched (pandas_udf / mapInPandas).
"""

__version__ = "0.1.0"
