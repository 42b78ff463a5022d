"""CLI entry point — the reference ships per-stage runnable jars
(``java -jar load_warehouse.jar control.xml 4``,
StagingDW/.../StagingController.java:171); this is the single-binary
equivalent:

    python -m datawarehouse_group10_spark job --csv-dir DIR --out DIR
    python -m datawarehouse_group10_spark query NAME [--sf-dir DIR]
    python -m datawarehouse_group10_spark list

``job`` runs the orchestrated P1-P4 pipeline (ledger-gated, parquet
layers); ``query`` runs any contract query and prints a sample;
``list`` enumerates the query registry.
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="datawarehouse_group10_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    job = sub.add_parser("job", help="run the orchestrated warehouse pipeline")
    job.add_argument("--csv-dir", help="crawl CSV directory")
    job.add_argument("--config-source", help="config_source parquet path (alternative to --csv-dir)")
    job.add_argument("--source-id", type=int, default=1)
    job.add_argument("--out", default="/tmp/dwh", help="output directory for the layers")
    job.add_argument("--as-of", default=None, help="fixed 'today' for recency columns (yyyy-MM-dd)")

    q = sub.add_parser("query", help="run one contract query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list contract queries")

    args = p.parse_args(argv)

    from .contract import ORACLES, QUERIES

    if args.cmd == "list":
        for name in QUERIES:
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}  [{kind}]")
        return 0
    if args.cmd == "query" and args.name not in QUERIES:
        print(f"unknown query {args.name!r}; try `list`", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark(app_name=f"dwh-{args.cmd}")
    try:
        if args.cmd == "job":
            from .plans.warehouse_job import _written_rows, run_warehouse_job

            layers = run_warehouse_job(
                spark,
                csv_dir=args.csv_dir,
                config_source_path=args.config_source,
                source_id=args.source_id,
                output_dir=args.out,
                as_of=args.as_of,
            )
            print(f"wrote layers to {args.out}:")
            for name in layers:
                print(f"  {name}: {_written_rows(os.path.join(args.out, name))} rows")
            return 0

        df = QUERIES[args.name](spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        print(f"({df.count()} rows total)")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
