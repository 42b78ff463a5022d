"""CLI entry point — the reference ships per-stage runnable jars
(``java -jar load_warehouse.jar control.xml 4``,
StagingDW/.../StagingController.java:171); this is the single-binary
equivalent:

    python -m datawarehouse_group10_spark job --csv-dir DIR --out DIR
    python -m datawarehouse_group10_spark query NAME [--sf-dir DIR]
    python -m datawarehouse_group10_spark list
    python -m datawarehouse_group10_spark zorder --input P --out P --cols a,b
    python -m datawarehouse_group10_spark curate --input DOCS.parquet --out DIR
    python -m datawarehouse_group10_spark backfill --input BATCH.parquet \\
        --table DIR --partition-col c
    python -m datawarehouse_group10_spark optimize --table DIR --partition-col c
    python -m datawarehouse_group10_spark snapshot-optimize --table DIR \\
        --partition-col c
    python -m datawarehouse_group10_spark snapshot-backfill --input B.parquet \\
        --table DIR --partition-col c
    python -m datawarehouse_group10_spark snapshot-history --table DIR
    python -m datawarehouse_group10_spark snapshot-gc --table DIR [--keep N] \
        [--dry-run]
    python -m datawarehouse_group10_spark snapshot-merge / snapshot-delete / \
        snapshot-upsert-mor --input B.parquet --table DIR \
        --partition-col c --key-cols k [--delete-col d]
    python -m datawarehouse_group10_spark snapshot-evolve --table DIR \
        --partition-col NEWSPEC
    python -m datawarehouse_group10_spark snapshot-evolve-schema --table DIR \
        [--add n:t] [--rename o:n] [--widen n:t] [--drop a,b]
    python -m datawarehouse_group10_spark snapshot-set-key-bloom --table DIR \
        [--cols a,b] [--bits N] [--max-bits N]
    python -m datawarehouse_group10_spark snapshot-cdf-apply --src S --dst D \
        --partition-col c --key-cols k [--mode mor]
    python -m datawarehouse_group10_spark snapshot-publish --table DIR \
        --version N

``job`` runs the orchestrated P1-P4 pipeline (ledger-gated, parquet
layers); ``query`` runs any contract query and prints a sample;
``list`` enumerates the query registry.
"""

from __future__ import annotations

import argparse
import os
import sys


def _snap_pcols(arg: str):
    """Snapshot partition-col CLI form: a single column name, a
    comma-separated ordered list for composite partitioning (r13) —
    'region,month' -> ['region', 'month'] — or comma-separated
    TRANSFORM items 'name=transform:args' for hidden partitioning
    (r14): 'day=days:ts,b=bucket:16:id' ->
    {'day': ('days', 'ts'), 'b': ('bucket', 16, 'id')}."""
    items = [c.strip() for c in arg.split(",") if c.strip()]
    if any("=" in c for c in items):
        spec: dict[str, tuple] = {}
        for item in items:
            name, _, rhs = item.partition("=")
            parts = rhs.split(":")
            t = parts[0]
            if t in ("bucket", "truncate"):
                spec[name] = (t, int(parts[1]), parts[2])
            else:
                spec[name] = (t, parts[1])
        return spec
    return items[0] if len(items) == 1 else items


def _parse_prune(arg: str) -> tuple[str, str, str]:
    """Parse a --prune range. Preferred form is ``col=lo..hi`` —
    unambiguous for bound values that themselves carry colons (ISO
    timestamps like 2020-01-01T00:00:00, which the legacy colon form
    mis-split: ADVICE r14 #4). The legacy ``col:lo:hi`` is accepted
    only when it splits into exactly three colon-free pieces;
    anything else (extra colons = a timestamp bound) must use the
    ``=``/``..`` form."""
    if "=" in arg:
        col, _, rng = arg.partition("=")
        lo, sep, hi = rng.partition("..")
        if not sep or not col:
            raise SystemExit(
                f"--prune: expected col=lo..hi, got {arg!r}"
            )
        return col, lo, hi
    pieces = arg.split(":")
    if len(pieces) != 3:
        raise SystemExit(
            f"--prune: bounds with colons (timestamps) need the "
            f"col=lo..hi form, got {arg!r}"
        )
    return pieces[0], pieces[1], pieces[2]


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

    c = sub.add_parser(
        "curate",
        help="run the corpus-curation pipeline over a documents parquet",
    )
    c.add_argument("--input", required=True, help="documents parquet (doc_id, source, text)")
    c.add_argument("--out", required=True, help="output dir (audit/ + kept/)")
    c.add_argument("--default-rate", type=float, default=1.0,
                   help="mixture keep-rate for sources without an explicit rate")
    c.add_argument("--rate", action="append", default=[], metavar="SOURCE=FLOAT",
                   help="per-source mixture keep-rate (repeatable), e.g. "
                        "--rate web=0.5 --rate books=1.0")

    b = sub.add_parser(
        "backfill",
        help="rewrite ONLY the hive partitions present in a batch "
        "(dynamic partition overwrite; idempotent re-run-a-day op)",
    )
    b.add_argument("--input", required=True,
                   help="batch parquet holding the TRUE rows to re-load")
    b.add_argument("--table", required=True,
                   help="hive-partitioned parquet table directory to repair")
    b.add_argument("--partition-col", required=True)

    o = sub.add_parser(
        "optimize",
        help="compact over-fragmented hive partitions to ~target-size "
        "files (small-files maintenance; no-op when nothing is fragmented)",
    )
    o.add_argument("--table", required=True,
                   help="hive-partitioned parquet table directory")
    o.add_argument("--partition-col", required=True)
    o.add_argument("--target-mb", type=int, default=128,
                   help="target output file size in MiB (default 128)")

    so = sub.add_parser(
        "snapshot-optimize",
        help="compact a snapshot-pointer-versioned table: stage the next "
        "v<N> (untouched partitions re-referenced in its manifest) and "
        "swap _COMMITTED — concurrent readers keep scanning their "
        "resolved snapshot",
    )
    so.add_argument("--table", required=True,
                    help="snapshot table root (holds _COMMITTED + v<N>/)")
    so.add_argument("--partition-col", required=True,
                    help="partition column, or comma-separated list for "
                    "composite partitioning (e.g. region,month)")
    so.add_argument("--target-mb", type=int, default=128,
                    help="target output file size in MiB (default 128)")
    so.add_argument("--zorder-cols", default=None,
                    help="comma-separated columns: cluster rewritten "
                    "partitions on their interleaved z-order key "
                    "(OPTIMIZE ... ZORDER BY)")
    so.add_argument("--partitions", default=None,
                    help="comma-separated partition KEYS: scope the "
                    "maintenance to these (OPTIMIZE ... WHERE)")
    so.add_argument("--prune", default=None,
                    help="col=lo..hi manifest-stats range scoping the "
                    "maintenance (OPTIMIZE ... WHERE)")

    sb = sub.add_parser(
        "snapshot-backfill",
        help="rewrite ONLY the batch's partitions as a new committed "
        "snapshot version (reader-safe twin of backfill)",
    )
    sb.add_argument("--input", required=True,
                    help="batch parquet holding the TRUE rows to re-load")
    sb.add_argument("--table", required=True,
                    help="snapshot table root (holds _COMMITTED + v<N>/)")
    sb.add_argument("--partition-col", required=True,
                    help="partition column, or comma-separated list for "
                    "composite partitioning (e.g. region,month)")

    sm = sub.add_parser(
        "snapshot-merge",
        help="row-level MERGE INTO a snapshot table: upsert the batch's "
        "keys (and delete rows flagged in --delete-col), rewriting only "
        "touched partitions as a new committed version",
    )
    sm.add_argument("--input", required=True,
                    help="batch parquet: rows to upsert/delete")
    sm.add_argument("--table", required=True,
                    help="snapshot table root (holds _COMMITTED + v<N>/)")
    sm.add_argument("--partition-col", required=True,
                    help="partition column, or comma-separated list for "
                    "composite partitioning (e.g. region,month)")
    sm.add_argument("--key-cols", required=True,
                    help="comma-separated MERGE key column(s)")
    sm.add_argument("--delete-col", default=None,
                    help="optional boolean batch column: true rows delete "
                    "their key instead of upserting")
    sm.add_argument("--seq-col", default=None,
                    help="optional sequence column: a batch with several "
                    "changes per key keeps the highest-sequence one "
                    "(last-change-wins); without it duplicate keys raise")
    sm.add_argument("--update-cols", default=None,
                    help="comma-separated column subset to update on "
                    "matched keys (partial-row MERGE): the batch carries "
                    "keys + partition columns + these; other columns keep "
                    "their current values, inserts pad them NULL")
    sm.add_argument("--evolve-schema", action="store_true",
                    help="allow batch columns the table lacks: touched "
                    "partitions rewrite with them, untouched partitions "
                    "read back NULL (without this flag unknown columns "
                    "raise)")

    sd = sub.add_parser(
        "snapshot-delete",
        help="row-level DELETE with merge-on-read granularity: write "
        "per-partition equality-delete files for the matched keys "
        "(zero data rewritten; reads apply them until "
        "snapshot-optimize folds them back)",
    )
    sd.add_argument("--table", required=True)
    sd.add_argument("--partition-col", required=True,
                    help="partition column, or comma-separated list")
    sd.add_argument("--key-cols", required=True,
                    help="comma-separated key column(s) — one delete key "
                    "set per table")
    sdg = sd.add_mutually_exclusive_group(required=True)
    sdg.add_argument("--input",
                     help="parquet of key rows naming what to delete")
    sdg.add_argument("--where",
                     help="SQL predicate over the table; matched rows' "
                     "keys delete (DELETE WHERE)")
    sd.add_argument("--prune", default=None,
                    help="optional col=lo..hi manifest prune range "
                    "narrowing the --where scan (legacy col:lo:hi "
                    "accepted only when the bounds carry no colon — "
                    "use = .. for ISO timestamps)")

    se = sub.add_parser(
        "snapshot-evolve",
        help="switch the table's partitioning for FUTURE writes as a "
        "metadata-only commit (old data keeps its layout; merges "
        "migrate lazily; snapshot-optimize bulk-migrates)",
    )
    se.add_argument("--table", required=True)
    se.add_argument("--partition-col", required=True,
                    help="new spec: column, comma list, or transform "
                    "items like 'day=days:ts,b=bucket:16:id'")

    sum_ = sub.add_parser(
        "snapshot-upsert-mor",
        help="merge-on-read UPSERT: land a mixed batch (full-row "
        "upserts + --delete-col rows) as equality-delete files plus "
        "append files — O(batch) bytes written, no partition rewrite "
        "(snapshot-optimize folds the refs back)",
    )
    sum_.add_argument("--input", required=True,
                      help="batch parquet: full change rows")
    sum_.add_argument("--table", required=True)
    sum_.add_argument("--partition-col", required=True,
                      help="partition column, comma list, or transform "
                      "items")
    sum_.add_argument("--key-cols", required=True,
                      help="comma-separated key column(s)")
    sum_.add_argument("--delete-col", default=None,
                      help="optional boolean batch column: true rows "
                      "delete their key")
    sum_.add_argument("--seq-col", default=None,
                      help="optional sequence column: several changes "
                      "per key keep the highest (last-change-wins)")

    ses = sub.add_parser(
        "snapshot-evolve-schema",
        help="schema evolution as a metadata-only commit (stable "
        "field ids): add, rename, widen (int->bigint, float->double), "
        "drop — zero data rewritten; old roots map by id at read time",
    )
    ses.add_argument("--table", required=True)
    ses.add_argument("--add", default=None,
                     help="comma list of name:type to add "
                     "(e.g. 'note:string,score:double')")
    ses.add_argument("--rename", default=None,
                     help="comma list of old:new (e.g. 'cnt:hits')")
    ses.add_argument("--widen", default=None,
                     help="comma list of name:type widening conversions "
                     "(e.g. 'k:bigint,score:double')")
    ses.add_argument("--drop", default=None,
                     help="comma list of column names to drop (a later "
                     "re-add with the same name gets a fresh id — old "
                     "values never resurrect)")
    ses.add_argument("--fold-deletes", action="store_true",
                     help="if the drop hits the delete-key of "
                     "outstanding merge-on-read delete files, run the "
                     "SCOPED fold of only the delete-carrying "
                     "partitions automatically instead of refusing")

    skb = sub.add_parser(
        "snapshot-set-key-bloom",
        help="set, re-key, or clear a table's key-bloom pruning "
        "policy with a metadata-only commit; the policy generation "
        "advances so digests from any previous epoch stop being "
        "consulted (they rebuild as partitions rewrite)",
    )
    skb.add_argument("--table", required=True)
    skb.add_argument("--cols", default=None,
                     help="comma list of key columns; omit to CLEAR "
                     "the policy")
    skb.add_argument("--bits", type=int, default=8192,
                     help="per-partition floor bits (auto-sizes up)")
    skb.add_argument("--hashes", type=int, default=6)
    skb.add_argument("--max-bits", type=int, default=None,
                     help="per-partition cap bits (default 1 Mib)")

    srb = sub.add_parser(
        "snapshot-rebuild-blooms",
        help="recompute stale per-partition key-bloom digests from a "
        "scan, WITHOUT rewriting data — restores probe pruning after "
        "a key-column widen/rename bumped the policy generation",
    )
    srb.add_argument("--table", required=True)
    srb.add_argument("--partitions", default=None,
                     help="comma list of partition keys (default: "
                     "every entry with a missing/stale digest)")
    srb.add_argument("--force", action="store_true",
                     help="rebuild even current-generation digests")

    sca = sub.add_parser(
        "snapshot-cdf-apply",
        help="drain a source snapshot table's commit windows into a "
        "destination snapshot exactly once (per-window merges with an "
        "idempotence token in the destination's version file)",
    )
    sca.add_argument("--src", required=True,
                     help="source snapshot table root")
    sca.add_argument("--dst", required=True,
                     help="destination snapshot table root")
    sca.add_argument("--partition-col", required=True)
    sca.add_argument("--key-cols", required=True,
                     help="comma-separated MERGE key column(s)")
    sca.add_argument("--mode", choices=["cow", "mor"], default="cow",
                     help="land windows copy-on-write (default) or as "
                     "merge-on-read delete+append commits")
    sca.add_argument("--start-version", type=int, default=None,
                     help="seed the cursor at this retained source "
                     "version on first run (default: current — "
                     "consume changes from now on)")
    sca.add_argument("--max-versions", type=int, default=None,
                     help="bound one invocation's windows (catch-up "
                     "batching)")

    sp2 = sub.add_parser(
        "snapshot-publish",
        help="publish a version staged with publish=False "
        "(write-audit-publish) through the normal commit CAS",
    )
    sp2.add_argument("--table", required=True)
    sp2.add_argument("--version", type=int, required=True)

    sr = sub.add_parser(
        "snapshot-restore",
        help="restore a snapshot table to a retained earlier version as "
        "a NEW commit (pure metadata re-reference; history stays "
        "append-only)",
    )
    sr.add_argument("--table", required=True)
    sr.add_argument("--version", type=int, required=True)

    sh = sub.add_parser(
        "snapshot-history",
        help="list a snapshot table's retained versions (files/rows/bytes "
        "per commit, committed pointer marked) — the time-travel horizon",
    )
    sh.add_argument("--table", required=True)

    sg = sub.add_parser(
        "snapshot-gc",
        help="reclaim snapshot versions outside the retention window "
        "(never the committed one)",
    )
    sg.add_argument("--table", required=True)
    sg.add_argument("--orphans", action="store_true",
                    help="also reclaim never-committed staging at or below "
                    "the pointer (orphaned OCC losers); only when no "
                    "writers are active")
    sg.add_argument("--keep", type=int, default=1,
                    help="committed-or-older versions to retain (default 1)")
    sg.add_argument("--dry-run", action="store_true",
                    help="report what would be reclaimed, delete "
                    "nothing")

    z = sub.add_parser(
        "zorder",
        help="rewrite a parquet table z-order clustered on columns",
    )
    z.add_argument("--input", required=True, help="input parquet path")
    z.add_argument("--out", required=True, help="output parquet directory")
    z.add_argument("--cols", required=True, help="comma-separated z columns")
    z.add_argument("--files", type=int, default=16)
    z.add_argument("--bits", type=int, default=8)

    args = p.parse_args(argv)

    from .contract import ORACLES, QUERIES

    if args.cmd == "list":
        for name in QUERIES:
            kind = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}  [{kind}]")
        return 0

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

        if args.cmd == "query":
            if args.name not in QUERIES:
                print(f"unknown query {args.name!r}; try `list`", file=sys.stderr)
                return 2
            df = QUERIES[args.name](spark, args.sf_dir)
            df.show(args.limit, truncate=False)
            print(f"({df.count()} rows total)")
            return 0

        if args.cmd == "curate":
            from .functions.curation import curate_corpus

            rates: dict[str, float] = {}
            for spec in args.rate:
                src, sep, val = spec.partition("=")
                if not sep or not src:
                    print(
                        f"bad --rate {spec!r}: expected SOURCE=FLOAT",
                        file=sys.stderr,
                    )
                    return 2
                rates[src] = float(val)
            docs = spark.read.parquet(args.input)
            audit = curate_corpus(
                docs, rates=rates, default_rate=args.default_rate
            )
            audit.write.mode("overwrite").parquet(f"{args.out}/audit")
            kept_ids = spark.read.parquet(f"{args.out}/audit").filter(
                "fate = 'kept' AND mix_kept = 1"
            ).select("doc_id")
            docs.join(kept_ids, "doc_id", "left_semi").write.mode(
                "overwrite"
            ).parquet(f"{args.out}/kept")
            n_in = docs.count()
            n_kept = spark.read.parquet(f"{args.out}/kept").count()
            print(
                f"curated {args.input}: {n_in} docs in, {n_kept} kept "
                f"-> {args.out}/kept (audit at {args.out}/audit)"
            )
            return 0

        if args.cmd == "backfill":
            from .sources.layout import (
                overwrite_partitions,
                partition_file_stats,
            )

            batch = spark.read.parquet(args.input)
            if args.partition_col not in batch.columns:
                print(
                    f"batch {args.input} has no column "
                    f"{args.partition_col!r}",
                    file=sys.stderr,
                )
                return 2
            overwrite_partitions(batch, args.table, args.partition_col)
            touched = sorted(
                r[0]
                for r in batch.select(args.partition_col)
                .distinct()
                .collect()
            )
            stats = partition_file_stats(args.table, args.partition_col)
            print(
                f"backfilled {len(touched)} partition(s) of {args.table}: "
                f"{', '.join(str(t) for t in touched[:10])}"
                f"{' …' if len(touched) > 10 else ''} "
                f"({len(stats)} partitions total)"
            )
            return 0

        if args.cmd == "optimize":
            from .sources.layout import compact_partitions

            stats = compact_partitions(
                spark,
                args.table,
                args.partition_col,
                target_bytes=args.target_mb << 20,
            )
            print(
                f"optimized {args.table}: "
                f"{stats['partitions_compacted']} partition(s) compacted, "
                f"{stats['files_before']} -> {stats['files_after']} files"
            )
            return 0

        if args.cmd == "snapshot-optimize":
            from .sources.layout import snapshot_compact, snapshot_version

            zcols = (
                [c.strip() for c in args.zorder_cols.split(",") if c.strip()]
                if args.zorder_cols
                else None
            )
            scope_parts = (
                {
                    c.strip()
                    for c in args.partitions.split(",")
                    if c.strip()
                }
                if args.partitions
                else None
            )
            scope_prune = None
            if args.prune:
                pp = _parse_prune(args.prune)
                scope_prune = {pp[0]: (pp[1], pp[2])}
            stats = snapshot_compact(
                spark,
                args.table,
                _snap_pcols(args.partition_col),
                target_bytes=args.target_mb << 20,
                zorder_cols=zcols,
                partitions=scope_parts,
                prune=scope_prune,
            )
            pending = ""
            if stats.get("pending_old_spec") or stats.get("pending_dv"):
                pending = (
                    f"; out of scope: {stats['pending_old_spec']} "
                    f"old-spec, {stats['pending_dv']} delete-carrying "
                    "partition(s) remain"
                )
            print(
                f"snapshot-optimized {args.table}: "
                f"v{stats['old_version']} -> v{stats['new_version']}, "
                f"{stats['partitions_compacted']} partition(s) compacted, "
                f"{stats['files_before']} -> {stats['files_after']} files "
                f"(readers resolve v{snapshot_version(args.table)})"
                f"{pending}"
            )
            return 0

        if args.cmd == "snapshot-backfill":
            from .sources.layout import snapshot_backfill, snapshot_version

            batch = spark.read.parquet(args.input)
            pcols = _snap_pcols(args.partition_col)
            pc_list = [pcols] if isinstance(pcols, str) else pcols
            missing_pc = [c for c in pc_list if c not in batch.columns]
            if missing_pc:
                print(
                    f"batch {args.input} has no column(s) "
                    f"{', '.join(repr(c) for c in missing_pc)}",
                    file=sys.stderr,
                )
                return 2
            stats = snapshot_backfill(batch, args.table, pcols)
            print(
                f"snapshot-backfilled {args.table}: "
                f"v{stats['old_version']} -> v{stats['new_version']}, "
                f"{stats['partitions_backfilled']} partition(s) replaced "
                f"(readers resolve v{snapshot_version(args.table)})"
            )
            return 0

        if args.cmd == "snapshot-merge":
            from .sources.layout import snapshot_merge, snapshot_version

            batch = spark.read.parquet(args.input)
            keys = [c.strip() for c in args.key_cols.split(",") if c.strip()]
            pcols = _snap_pcols(args.partition_col)
            if isinstance(pcols, str):
                pc_list = [pcols]
            elif isinstance(pcols, dict):
                # transform spec (r14): the batch carries the SOURCE
                # columns, not the derived partition names
                pc_list = [s[-1] for s in pcols.values()]
            else:
                pc_list = pcols
            upd = (
                [c.strip() for c in args.update_cols.split(",") if c.strip()]
                if args.update_cols
                else None
            )
            missing = [
                c
                for c in keys + pc_list
                + ([args.delete_col] if args.delete_col else [])
                + ([args.seq_col] if args.seq_col else [])
                + (upd or [])
                if c not in batch.columns
            ]
            if missing:
                print(
                    f"batch {args.input} is missing column(s) "
                    f"{', '.join(repr(c) for c in missing)}",
                    file=sys.stderr,
                )
                return 2
            stats = snapshot_merge(
                spark,
                batch,
                args.table,
                pcols,
                keys,
                delete_col=args.delete_col,
                seq_col=args.seq_col,
                evolve_schema=args.evolve_schema,
                update_cols=upd,
            )
            print(
                f"snapshot-merged {args.table}: "
                f"v{stats['old_version']} -> v{stats['new_version']}, "
                f"{stats['partitions_rewritten']} partition(s) rewritten, "
                f"{stats['probe_partitions']}/{stats['partitions_total']} "
                f"partition(s) probed "
                f"(readers resolve v{snapshot_version(args.table)})"
            )
            return 0

        if args.cmd == "snapshot-delete":
            from .sources.layout import (
                snapshot_delete,
                snapshot_delete_where,
                snapshot_version,
            )

            keys_cols = [
                c.strip() for c in args.key_cols.split(",") if c.strip()
            ]
            pcols = _snap_pcols(args.partition_col)
            if args.input:
                st = snapshot_delete(
                    spark, spark.read.parquet(args.input), args.table,
                    pcols, keys_cols,
                )
            else:
                prune = None
                if args.prune:
                    prune = {
                        (p := _parse_prune(args.prune))[0]: (p[1], p[2])
                    }
                st = snapshot_delete_where(
                    spark, args.table, pcols, keys_cols, args.where,
                    prune=prune,
                )
            print(
                f"snapshot-deleted from {args.table}: "
                f"{st['dv_rows']} key(s) across "
                f"{st['partitions_touched']} partition(s), "
                f"{st['probe_partitions']}/{st['partitions_total']} "
                f"probed, v{st['old_version']} -> v{st['new_version']} "
                f"(readers resolve v{snapshot_version(args.table)})"
            )
            return 0

        if args.cmd == "snapshot-evolve":
            from .sources.layout import snapshot_evolve_partitioning

            st = snapshot_evolve_partitioning(
                args.table, _snap_pcols(args.partition_col)
            )
            print(
                f"snapshot-evolved {args.table}: "
                f"v{st['old_version']} -> v{st['new_version']} "
                f"(metadata-only; {st['specs_live']} spec(s) live — "
                "run snapshot-optimize to bulk-migrate)"
            )
            return 0

        if args.cmd == "snapshot-upsert-mor":
            from .sources.layout import (
                snapshot_upsert_mor,
                snapshot_version,
            )

            st = snapshot_upsert_mor(
                spark,
                spark.read.parquet(args.input),
                args.table,
                _snap_pcols(args.partition_col),
                [c.strip() for c in args.key_cols.split(",") if c.strip()],
                delete_col=args.delete_col,
                seq_col=args.seq_col,
            )
            print(
                f"snapshot-upserted (MOR) into {args.table}: "
                f"{st['ap_rows']} row(s) appended, {st['dv_rows']} old "
                f"version(s) delete-filed across "
                f"{st['partitions_touched']} partition(s), "
                f"{st['probe_partitions']}/{st['partitions_total']} "
                f"probed, v{st['old_version']} -> v{st['new_version']} "
                f"(readers resolve v{snapshot_version(args.table)})"
            )
            return 0

        if args.cmd == "snapshot-evolve-schema":
            from .sources.layout import snapshot_evolve_schema

            def _pairs(arg):
                if not arg:
                    return None
                out = {}
                for item in arg.split(","):
                    k, _, v = item.strip().partition(":")
                    if not k or not v:
                        raise SystemExit(
                            f"expected name:value items, got {item!r}"
                        )
                    out[k] = v
                return out

            st = snapshot_evolve_schema(
                args.table,
                add=_pairs(args.add),
                rename=_pairs(args.rename),
                widen=_pairs(args.widen),
                drop=(
                    [c.strip() for c in args.drop.split(",") if c.strip()]
                    if args.drop
                    else None
                ),
                spark=spark if args.fold_deletes else None,
            )
            print(
                f"snapshot-evolved schema of {args.table}: "
                f"v{st['old_version']} -> v{st['new_version']} "
                f"(metadata-only; {st['fields']} field(s), next field "
                f"id {st['next_fid']})"
            )
            return 0

        if args.cmd == "snapshot-set-key-bloom":
            from .sources.layout import (
                KEY_BLOOM_MAX_M,
                snapshot_set_key_bloom,
            )

            cols = (
                [c.strip() for c in args.cols.split(",") if c.strip()]
                if args.cols
                else None
            )
            st = snapshot_set_key_bloom(
                args.table,
                cols,
                bits=args.bits,
                hashes=args.hashes,
                max_bits=(
                    args.max_bits
                    if args.max_bits is not None
                    else KEY_BLOOM_MAX_M
                ),
            )
            what = f"policy over {cols}" if cols else "policy cleared"
            print(
                f"snapshot-set-key-bloom {args.table}: {what}, "
                f"v{st['old_version']} -> v{st['new_version']} "
                "(metadata-only; digests rebuild as partitions rewrite)"
            )
            return 0

        if args.cmd == "snapshot-rebuild-blooms":
            from .sources.layout import snapshot_rebuild_blooms

            scope = (
                {
                    c.strip()
                    for c in args.partitions.split(",")
                    if c.strip()
                }
                if args.partitions
                else None
            )
            st = snapshot_rebuild_blooms(
                spark, args.table, partitions=scope, force=args.force
            )
            print(
                f"snapshot-rebuild-blooms {args.table}: "
                f"{st['rebuilt']} digest(s) rebuilt, "
                f"v{st['old_version']} -> v{st['new_version']} "
                "(metadata-only; data roots re-referenced unchanged)"
            )
            return 0

        if args.cmd == "snapshot-cdf-apply":
            from .sources.layout import snapshot_version
            from .streaming import apply_cdf_to_snapshot

            st = apply_cdf_to_snapshot(
                spark,
                args.src,
                args.dst,
                _snap_pcols(args.partition_col),
                [c.strip() for c in args.key_cols.split(",") if c.strip()],
                max_versions=args.max_versions,
                start_version=args.start_version,
                mode=args.mode,
            )
            print(
                f"snapshot-cdf-applied {args.src} -> {args.dst}: "
                f"{st['delivered']} window(s) delivered "
                f"({st['applied']} applied, {st['skipped']} "
                f"token-skipped), cursor at v{st['cursor']} "
                f"(destination resolves v{snapshot_version(args.dst)})"
            )
            return 0

        if args.cmd == "snapshot-publish":
            from .sources.layout import snapshot_publish

            st = snapshot_publish(args.table, args.version)
            word = "already published" if st["already"] else "published"
            print(
                f"snapshot-publish {args.table}: v{st['published']} "
                f"{word} (base v{st['base']})"
            )
            return 0

        if args.cmd == "snapshot-restore":
            from .sources.layout import snapshot_restore

            st = snapshot_restore(args.table, args.version)
            print(
                f"snapshot-restored {args.table} to v{st['restored_to']} "
                f"as v{st['new_version']} (was v{st['old_version']})"
            )
            return 0

        if args.cmd == "snapshot-history":
            from .sources.layout import snapshot_history

            hist = snapshot_history(args.table)
            if not hist:
                print(f"no snapshot versions under {args.table}",
                      file=sys.stderr)
                return 2
            for h in hist:
                mark = " <- committed" if h["committed"] else ""
                dv = (
                    f", {h['dv_rows']} outstanding delete key(s)"
                    if h.get("dv_rows")
                    else ""
                )
                ts = ""
                if h.get("ts"):
                    import datetime as _dt

                    ts = " @" + _dt.datetime.fromtimestamp(
                        h["ts"], tz=_dt.timezone.utc
                    ).strftime("%Y-%m-%dT%H:%M:%SZ")
                print(
                    f"v{h['version']}{ts}: {h['files']} file(s), "
                    f"{h['rows']} row(s), {h['bytes']} byte(s){dv}{mark}"
                )
            return 0

        if args.cmd == "snapshot-gc":
            from .sources.layout import snapshot_gc

            doomed = snapshot_gc(
                args.table, keep=args.keep, orphans=args.orphans,
                dry_run=args.dry_run,
            )
            verb = "would remove" if args.dry_run else "removed"
            print(
                f"snapshot-gc {args.table}: {verb} "
                f"{', '.join(f'v{v}' for v in doomed) or 'nothing'} "
                f"(keep={args.keep})"
            )
            return 0

        if args.cmd == "zorder":
            from .sources.layout import write_zordered

            cols = [c.strip() for c in args.cols.split(",") if c.strip()]
            df = spark.read.parquet(args.input)
            write_zordered(
                df, args.out, cols, n_files=args.files, bits=args.bits
            )
            print(
                f"wrote {args.out}: {args.files} files z-ordered on "
                f"{cols} ({spark.read.parquet(args.out).count()} rows)"
            )
            return 0
        return 2
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
