"""Structured Streaming ingest (SURVEY.md §2.6 optional modernization).

The reference is a daily batch gated on wall-clock time
(crawl_data/.../LotteryCrawler.java:106-110); its streaming-shaped rebuild
is a file-source stream with ``Trigger.AvailableNow`` — process everything
that has landed, then stop — which is exactly the reference's "run once a
day over whatever files arrived" contract, but restartable, checkpointed,
and incremental at any scale.

Two surfaces:

- :func:`read_crawl_csv_stream`: the lottery pipeline's bronze CSV
  directory as a stream; ``plans.medallion.bronze_to_silver`` applies
  unchanged to it, since the silver chain is stateless.
- :func:`events_hourly_counts`: watermarked tumbling-window aggregation
  over the ``events`` testdata table — the canonical late-data-tolerant
  streaming aggregate.

Scale notes: the file source distributes listing + reading across
executors; ``maxFilesPerTrigger`` bounds per-micro-batch work; watermark
state is bounded (old windows are dropped), so the stateful aggregation
survives unbounded input.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.csv_source import read_crawl_csv

__all__ = [
    "read_crawl_csv_stream",
    "read_events_stream",
    "events_hourly_counts",
    "run_stream_to_table",
    "run_stream_to_parquet",
    "stream_interval_join",
    "attributed_conversions",
    "run_snapshot_cdf_consume",
]

#: Plan-capture hook (r12, VERDICT r11 #3): scripts/plan_audit.py sets
#: this to a dict; every streaming body then records the FORMATTED
#: physical plan of the DataFrame it is about to act on — the merged
#: mart, the mined pair set, the MERGE's rewritten partitions, and the
#: pre-start plans of pure streaming sinks — keyed by surface tag,
#: latest microbatch wins. The audit's shuffle/python counters then
#: cover streaming microbatch plans instead of SKIPping the suite.
#: None (the default) is zero overhead.
PLAN_CAPTURE: dict[str, str] | None = None


def capture_plan(tag: str, df: DataFrame) -> None:
    """Record ``df``'s formatted physical plan under ``tag`` when a
    plan audit is listening (PLAN_CAPTURE set); no-op otherwise."""
    if PLAN_CAPTURE is None:
        return
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    PLAN_CAPTURE[tag] = buf.getvalue()


#: Explicit schemas for the events stream (streams cannot infer schemas).
#: The testdata has shipped ts in two physical layouts; the probe in
#: sources.events_ts_layout picks which schema a given file needs.
#: Native layout — TIMESTAMP(MICROS); an explicit TIMESTAMP field reads
#: NTZ-annotated micros as the same instants under a UTC session.
EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
#: Legacy layout — TIMESTAMP(NANOS) (no native Spark type) or plain
#: INT64: read as a nanos BIGINT (spark.sql.legacy.parquet.nanosAsLong)
#: and rebuilt to a micros TIMESTAMP.
EVENTS_SCHEMA_NANOS = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _await_or_raise(q, timeout_sec: int) -> None:
    """Block until the streaming query terminates; RAISE on timeout
    (ADVICE r17 #4): ``awaitTermination(t)`` returning False used to
    fall through to a silent ``stop()``, leaving a PARTIAL sink that
    only surfaced later as an oracle mismatch far from the cause —
    with overlapped suite pipelines contending for cores the fixed
    timeout is nearer than it was serially. The query is still stopped
    in ``finally`` before the raise so no stream leaks."""
    timed_out = not q.awaitTermination(timeout_sec)
    if timed_out:
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not terminate within "
            f"{timeout_sec}s; stopping it (sink contents are partial)"
        )


_STREAM_DIR_CACHE: dict[str, str] = {}


def _as_stream_dir(path: str) -> str:
    """File sources list a directory; if ``path`` is a single file, expose
    it through a temp directory symlink (local convenience — on a cluster
    the input is always a directory). Cached per source path so repeated
    calls in one process reuse one temp dir instead of leaking one each."""
    if os.path.isdir(path):
        return path
    ap = os.path.abspath(path)
    d = _STREAM_DIR_CACHE.get(ap)
    if d is None or not os.path.isdir(d):
        d = tempfile.mkdtemp(prefix="stream_src_")
        os.symlink(ap, os.path.join(d, os.path.basename(path)))
        _STREAM_DIR_CACHE[ap] = d
    return d


def read_events_stream(spark: SparkSession, events_path: str) -> DataFrame:
    """Schema-adaptive streaming reader for the events table: probe the
    parquet footer (driver-side, once, at plan time — file sources need
    an explicit schema anyway) and declare the matching schema, so the
    same stream definition runs against either physical layout the
    testdata has shipped with. Canonical output: ``ts TIMESTAMP`` under
    a UTC session — identical to the batch :func:`sources.read_events`.
    """
    from ..sources.parquet_source import ensure_conf, events_ts_layout

    ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    d = _as_stream_dir(events_path)
    if events_ts_layout(d) == "nanos-long":
        ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.readStream.schema(EVENTS_SCHEMA_NANOS).parquet(d)
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(d)


def read_crawl_csv_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming form of sources.read_crawl_csv_dir (operators S2/S3/S6):
    every crawl file landing in ``path`` becomes a micro-batch of bronze
    rows, parsed by the same :func:`sources.csv_source.read_crawl_csv`."""
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return read_crawl_csv(reader, _as_stream_dir(path))


def events_hourly_counts(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling 1-hour window counts per event_type as an
    unbounded streaming aggregate (the SURVEY §2.6 'windowed aggs for late
    data' pattern). Returns the *streaming* DataFrame; run it with
    :func:`run_stream_to_table`."""
    ev = read_events_stream(spark, events_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("event_type"),
            F.col("n"),
        )
    )


def events_session_windows(
    spark: SparkSession,
    events_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session aggregation as a STREAMING stateful operator:
    ``F.session_window`` merges a user's events whose inter-arrival gap
    is <= ``gap`` (boundary semantics pinned by pytest: an exactly-gap
    pair MERGES — identical to the batch ``operators/windows.py::
    sessionize`` lag+cumsum rule `diff > gap starts a new session`), and
    the watermark both bounds the state store (open sessions per user
    within the horizon) and closes sessions for append-mode emission
    once it passes ``session_end = last_ts + gap``.

    This is the streaming twin of the w7_sessionize batch surface — the
    clickstream operator that CAN'T be a tumbling window because session
    boundaries depend on the data, which is exactly what
    session_window's merging state machine handles without a custom
    applyInPandasWithState. Returns the streaming DataFrame
    (user_id, session_start, session_end, n_events); run it with
    :func:`run_stream_to_parquet`.
    """
    ev = read_events_stream(spark, events_path)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def run_stream_to_table(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into an
    in-memory sink and return the materialized result table.

    AvailableNow processes every file currently present then stops — the
    streaming equivalent of the reference's run-once-per-day batch. On a
    real deployment the sink would be a parquet/Delta path + checkpoint
    dir; the memory sink keeps the local harness hermetic.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_or_raise(q, timeout_sec)
    finally:
        if q.isActive:
            q.stop()
    return stream_df.sparkSession.table(query_name)


def run_stream_to_parquet(
    stream_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> None:
    """The DEPLOYABLE sink: append-mode parquet files + a checkpoint
    directory, Trigger.AvailableNow.

    Unlike the memory sink (driver-resident, complete-mode state), this is
    the plan a cluster runs: executors write partitioned parquet, the
    checkpoint WAL tracks which source files are committed, and a restart
    with the same ``checkpoint_dir`` processes ONLY files that landed
    since the previous run (exactly-once over the file source). Watermarked
    aggregations emit a window downstream once the watermark passes it —
    state never accumulates on the driver.
    """
    capture_plan(
        f"stream_to_parquet:{os.path.basename(output_dir)}", stream_df
    )
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_or_raise(q, timeout_sec)
    finally:
        if q.isActive:
            q.stop()


def run_stream_mart_upsert(
    bronze_stream: DataFrame,
    mart_dir: str,
    checkpoint_dir: str,
    as_of: str | None = None,
    timeout_sec: int = 300,
) -> None:
    """Streaming serve-fresh mart via ``foreachBatch``: each microbatch of
    crawl rows runs the batch medallion to its PARTIAL mart, then merges
    into the persisted serving mart with ``merge_mart``'s
    partial-aggregate algebra (occurrences add, last-appearance maxes,
    denominator adds, probability re-derived) — incremental view
    maintenance driven by the stream, exactly-once over the file source
    via the checkpoint WAL.

    Scale shape: a microbatch aggregates only its own rows; the merge
    touches mart-sized state (|distinct keys| rows, <=100 in this
    domain), never history. ``publish_layer`` swaps each merged mart in
    as a new version; on a lakehouse table format the same body becomes
    a MERGE INTO and the checkpoint semantics carry over unchanged.
    The batch body builds only the mart (``build_mart`` over the
    rollup of the batch's silver) and caches nothing, so a long-lived stream neither
    accumulates cache entries nor releases the caches of an earlier
    ``run_full_pipeline`` call in the same session.
    """
    from ..plans.medallion import bronze_to_silver, build_mart, gold_rollup, merge_mart
    from ..sources.parquet_source import publish_layer

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_mart = build_mart(gold_rollup(bronze_to_silver(batch_df)), as_of=as_of)
        merged = batch_mart  # the first batch: no mart published yet
        if os.path.exists(mart_dir):
            merged = merge_mart(batch_df.sparkSession.read.parquet(mart_dir), batch_mart)
        capture_plan("stream_mart_upsert", merged)
        publish_layer(mart_dir, merged.write.parquet)

    q = (
        bronze_stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_or_raise(q, timeout_sec)
    finally:
        if q.isActive:
            q.stop()


def run_stream_corpus_ingest(
    doc_stream: DataFrame,
    index_path: str,
    pairs_out_dir: str,
    checkpoint_dir: str,
    jaccard_threshold: float = 0.5,
    timeout_sec: int = 600,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Streaming corpus ingest via ``foreachBatch`` (r9, VERDICT r8 #4 —
    wiring the two halves round 8 built): each microbatch of new
    documents (id, text)

    1. mines near-dup pairs against the persisted MinHash index —
       new×index AND new×new within the batch
       (functions/dedup.py::incremental_minhash_dup_pairs, uncapped so
       the subset-equality property below holds exactly),
    2. appends the exact-Jaccard-verified pairs to the parquet sink,
    3. APPENDS the batch itself to the index
       (functions/dedup.py::append_to_minhash_index), so later batches
       dedup against everything that arrived before them.

    Because every pair's LATER side determines the single microbatch
    that emits it, the union of emitted pairs over all microbatches
    equals the one-shot incremental run over the whole new corpus —
    stream == batch, the property the stream_suite ``ingest`` section
    checks against the SAME SQL oracle as dedup_minhash_incremental.

    Exactly-once END TO END (r10, VERDICT r9 #1): the checkpoint WAL
    skips committed batches on restart, and a batch that crashes
    MID-FLIGHT replays to the identical final state through two
    mechanisms:

    - PAIRS are written via dynamic partition overwrite on an
      ``ingest_batch`` partition column (the
      ``sources/layout.py:overwrite_partitions`` fencing, per-writer
      option): replaying batch N replaces exactly its own partition —
      never duplicates, never touches siblings. ``dropDuplicates`` on
      (id_a, id_b) additionally collapses the join-multiplicity rows a
      replay over an index that ALREADY holds the batch would produce.
    - The INDEX append is guarded by a rollback journal under
      ``{index}/_ingest_commits/``: a snapshot of the current index
      file listing is written to ``batch_N.pending`` (tmp +
      ``os.replace``, atomic) BEFORE the append, and renamed to
      ``batch_N.committed`` (atomic) after. A replay seeing
      ``.committed`` skips the append; one seeing ``.pending`` first
      DELETES every index file not in the snapshot (rolling back the
      partial or complete-but-uncommitted append) and re-appends.
      Either way the index holds the batch exactly once.

    The kill-between-the-writes pytest
    (tests/test_llm_ops.py::test_stream_corpus_ingest_crash_replay)
    drives both crash windows and asserts stream == one-shot batch.

    Scale shape: per-batch cost is O(batch) shingling + one banded
    bucket join against the index — the index side is two columnar
    scans, never re-signed; state lives in parquet, not the state
    store, so stream lifetime is unbounded. The journal is O(files)
    driver-side metadata, the same listing a table-format manifest
    commit writes. Pairs output is file-count-proportional:
    ``maxRecordsPerFile`` bounds each file (r11, VERDICT r10 #4), so a
    hot microbatch fans out over many write tasks instead of funneling
    through one.

    FILESYSTEM BOUNDARY (r11, VERDICT r10 #3 — explicit, not implicit):
    the rollback journal assumes POSIX directory semantics, which the
    sandbox filesystem provides and object storage does NOT:

    - ``os.replace(tmp, pending)`` and ``os.replace(pending,
      committed)`` below assume an ATOMIC rename. S3-style stores
      implement rename as copy+delete (non-atomic); GCS/ABFS vary.
    - ``os.listdir`` inside ``_index_files()`` assumes a CONSISTENT
      listing of the index directories at snapshot time; eventual- or
      paged-listing stores can miss in-flight files.
    - ``os.remove``/``shutil.rmtree`` inside the rollback loop assume
      delete-visible-immediately.

    On object storage this journal must become a MANIFEST COMMIT —
    the repo already owns the pattern in the snapshot layout
    (``_COMMITTED`` pointer swap, see ``sources.layout.snapshot_write``): the
    append writes NEW files only, a manifest object listing the
    committed file set is PUT atomically (single-key PUT is atomic on
    all major stores), and readers resolve the manifest instead of
    listing the directory — rollback then becomes "orphans are
    invisible", no deletes on the recovery path. That rewrite also
    requires the index READERS (``incremental_minhash_dup_pairs``'s
    ``spark.read.parquet(f"{index_path}/bands")`` /
    ``.../shingles``) to take explicit file lists, which is why it is
    a documented boundary here rather than a silent half-port.
    """
    import json

    from ..functions.dedup import (
        append_to_minhash_index,
        incremental_minhash_dup_pairs,
    )

    commits_dir = os.path.join(index_path, "_ingest_commits")
    os.makedirs(commits_dir, exist_ok=True)

    def _index_files() -> list[str]:
        # Snapshot REGULAR FILES only: a crash inside a Spark write can
        # leave a Hadoop-committer `_temporary/` staging DIRECTORY in the
        # index dirs; snapshotting (and later os.remove-ing) it would
        # raise IsADirectoryError on every replay and wedge the stream
        # permanently (ADVICE r10). Directories are handled separately in
        # the rollback loop below.
        out = []
        for sub in ("shingles", "bands"):
            d = os.path.join(index_path, sub)
            if os.path.isdir(d):
                out.extend(
                    f"{sub}/{f}"
                    for f in os.listdir(d)
                    if os.path.isfile(os.path.join(d, f))
                )
        return sorted(out)

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        committed = os.path.join(commits_dir, f"batch_{batch_id}.committed")
        pending = os.path.join(commits_dir, f"batch_{batch_id}.pending")
        if os.path.exists(pending) and not os.path.exists(committed):
            # Crashed mid-append on a previous run: roll the index back
            # to the snapshot so this replay appends exactly once. Files
            # not in the snapshot are removed; stale staging DIRECTORIES
            # (e.g. a dead write's `_temporary/`) are rmtree'd so the
            # re-append starts from a clean committer namespace.
            keep = set(json.loads(open(pending, encoding="utf-8").read()))
            for rel in _index_files():
                if rel not in keep:
                    os.remove(os.path.join(index_path, rel))
            for sub in ("shingles", "bands"):
                d = os.path.join(index_path, sub)
                if os.path.isdir(d):
                    for entry in os.listdir(d):
                        p = os.path.join(d, entry)
                        if os.path.isdir(p):
                            shutil.rmtree(p)
        pairs = incremental_minhash_dup_pairs(
            batch_df,
            index_path,
            jaccard_threshold=jaccard_threshold,
            max_bucket_size=None,
        ).dropDuplicates(["id_a", "id_b"])
        capture_plan("stream_corpus_ingest", pairs)
        # File count proportional to pair count, not a hard coalesce(1)
        # (r11, VERDICT r10 #4): maxRecordsPerFile splits a hot batch's
        # pairs across write tasks while small batches still produce one
        # file per task — the same writer-side arithmetic
        # sources/layout.py::compact_partitions plans with.
        (
            pairs.withColumn("ingest_batch", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", int(max_records_per_file))
            .partitionBy("ingest_batch")
            .parquet(pairs_out_dir)
        )
        if not os.path.exists(committed):
            tmp = pending + ".tmp"
            with open(tmp, "w", encoding="utf-8") as fh:
                json.dump(_index_files(), fh)
            os.replace(tmp, pending)
            append_to_minhash_index(batch_df, index_path)
            os.replace(pending, committed)

    q = (
        doc_stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        _await_or_raise(q, timeout_sec)
    finally:
        if q.isActive:
            q.stop()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: str,
    upper: str,
    watermark: str | None = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join (append mode, bounded state).

    Joins two event-time streams on an equality key plus a time interval:
    ``right_ts BETWEEN left_ts - lower AND left_ts + upper``. Both sides
    carry the watermark, so Spark can compute how long each side's rows
    must be buffered and EVICT state once the watermark passes — the
    state store stays O(events per watermark horizon) regardless of
    stream lifetime. Without the interval bounds a stream-stream join
    would need unbounded buffering; this is the canonical scalable form.

    The equality key also becomes the shuffle key on both sides — at
    cluster scale both streams hash-partition on ``on``, so each task
    joins co-located buffers with no broadcast and no skewless-key risk
    beyond the data's own key distribution.

    ``lower``/``upper`` are interval strings like ``"1 hour"``; pass
    ``"0 seconds"`` for a one-sided window.

    ``how`` extends the same bounded-state machinery to OUTER variants
    ("left_outer"/"right_outer"/"full_outer"): matches still emit as
    they arrive, but an UNMATCHED outer-side row emits (nulls on the
    other side) only when the WATERMARK proves no future match can
    arrive — i.e. at state eviction, which is why outer stream-stream
    joins require both the watermark and the interval bounds. A finite
    backfill therefore needs its watermark pushed past the data (the
    sentinel staging) for the null-padded rows to flush.

    ``watermark=None`` means the inputs arrive ALREADY watermarked —
    required when a side is a filtered view of a wider stream and the
    filtered-out rows (e.g. a watermark sentinel, other event types)
    must still advance the clock: the `withWatermark` must sit UPSTREAM
    of that filter, because Spark computes the watermark only from rows
    reaching the EventTimeWatermark operator.
    """
    if watermark is not None:
        left = left.withWatermark(left_ts, watermark)
        right = right.withWatermark(right_ts, watermark)
    l = left.alias("l")
    r = right.alias("r")
    cond = F.expr(
        f"l.{on} = r.{on} AND r.{right_ts} >= l.{left_ts} - interval {lower}"
        f" AND r.{right_ts} <= l.{left_ts} + interval {upper}"
    )
    return l.join(r, cond, how)


def attributed_conversions(
    spark: SparkSession,
    events_path: str,
    attr_window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
    sentinel_type: str | None = None,
) -> DataFrame:
    """Click→purchase attribution as a stream-stream join: every purchase
    pairs with the SAME user's clicks in the preceding ``attr_window``.

    The marketing-attribution shape every event warehouse runs; here it
    exercises :func:`stream_interval_join` end-to-end over the events
    testdata (clicks and purchases are two filtered views of one source
    stream — on a deployment they'd be two topics). Output: one row per
    (purchase, attributed click) pair, append-mode emittable as soon as
    the watermark passes the purchase timestamp.

    ``how="left_outer"`` keeps UNCONVERTED purchases too (null click
    columns — the retargeting audience); those rows flush at watermark
    eviction, so feed the sentinel-staged events dir on finite
    backfills AND pass its ``sentinel_type`` so the clock-advancing row
    stays IN BAND on both sides. Merely placing `withWatermark` above
    the type filter is not enough: Catalyst pushes deterministic
    filters below the EventTimeWatermark operator, so a filtered-out
    sentinel never reaches the watermark node (measured: final
    watermark = last PURCHASE − delay, leaving the last ~2h of
    unmatched purchases stuck in state). The sentinel row passes both
    side filters, matches only itself (its own user), and the caller
    drops its output rows — the same emit-then-filter discipline the
    windowed-aggregation surfaces use.
    """

    def _typed(event_type: str) -> DataFrame:
        ev = read_events_stream(spark, events_path)
        ev = ev.withWatermark("ts", watermark)
        types = [event_type] + ([sentinel_type] if sentinel_type else [])
        return ev.filter(F.col("event_type").isin(types))

    clicks = _typed("click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = _typed("purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = stream_interval_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        lower=attr_window,
        upper="0 seconds",
        watermark=None,  # watermarked upstream of the type filters
        how=how,
    )
    return joined.select(
        F.col("l.user_id").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def run_stream_cdc_apply(
    cdc_stream: DataFrame,
    table_path: str,
    partition_col: str,
    key_cols: list[str],
    delete_col: str | None = None,
    seq_col: str | None = None,
    checkpoint_dir: str | None = None,
    timeout_sec: int = 300,
    occ_retries: int = 3,
    update_cols: list[str] | None = None,
    delete_mode: str = "cow",
    update_mode: str = "cow",
    exactly_once_id: str | None = None,
    compact_every: int | None = None,
) -> None:
    """Streaming CDC apply: each microbatch of change rows (upserts +
    optionally delete-flagged rows) lands as ONE
    :func:`sources.layout.snapshot_merge` — a new committed snapshot
    version per batch, so every batch is an atomic, reader-isolated
    transaction and downstream readers only ever see whole batches.
    Batches apply in stream order (the file source's WAL fixes the
    order), so ACROSS batches later updates of a key win.

    WITHIN a batch, ordering needs ``seq_col``: a trigger is free to
    coalesce several change files into one microbatch (availableNow
    with no ``maxFilesPerTrigger`` does exactly that), putting multiple
    changes of one key in a single merge. With ``seq_col`` the merge
    keeps the highest-sequence change per key (last-change-wins);
    without it, per-batch key-uniqueness is a PRECONDITION the merge
    enforces by raising — never by silently writing duplicate or
    conflicting rows for a key.

    Crash story — simpler than the corpus-ingest journal BY
    CONSTRUCTION: a batch replayed after a crash between the pointer
    swap and the checkpoint commit re-merges the same rows onto the
    already-merged state, and MERGE is value-idempotent (same-key
    upserts rewrite the same values, deletes of absent keys no-op), so
    the table converges to the identical state — one extra version on
    the history, no journal needed. The ingest path needed a rollback
    journal precisely because an index APPEND is not idempotent.

    Concurrent-writer story (r12; in-stream retry since r13): each
    microbatch merge plans against the committed manifest it reads at
    batch start and commits through the layout's optimistic-concurrency
    token. If an EXTERNAL maintenance job (compact/backfill) wins the
    race, the merge raises ``ConcurrentWriteError`` and the batch is
    RETRIED in place up to ``occ_retries`` times, each attempt
    replanning against the NEW committed version (safe by the same
    value-idempotence argument as crash replay: the loser's staging is
    orphaned, nothing of it was published). Routine compaction winning
    a race therefore no longer needs operator intervention; only a
    writer that keeps losing (``occ_retries`` consecutive conflicts —
    a misconfigured second CDC stream, not maintenance) fails the
    stream loudly, and a restart replays from the checkpoint. No
    interleaving can silently drop either writer's commit.

    ``update_cols`` (r13) passes through to the merge: a CDC feed that
    emits only the CHANGED columns applies partial-row updates per
    microbatch (matched keys keep their other columns; see
    ``snapshot_merge``) — still value-idempotent, so the crash-replay
    and OCC-retry arguments hold unchanged (replaying "set v=x" over a
    row whose v is already x rewrites identical bytes).

    ``delete_mode="mor"`` (r14) routes a microbatch whose rows are ALL
    delete-flagged through :func:`sources.layout.snapshot_delete`
    instead of the copy-on-write merge: one equality-delete-file
    commit, zero data rewritten — the tombstone-stream shape (GDPR /
    retention feeds), where COW would rewrite a partition per handful
    of keys. Mixed batches still merge copy-on-write (one atomic
    commit; the rewrite folds any outstanding delete files of the
    partitions it touches). Still one commit per batch, still
    value-idempotent (a replayed delete batch matches nothing and
    publishes a re-referencing no-op), so the crash-replay and
    OCC-retry arguments hold unchanged.

    ``update_mode="mor"`` (r15, VERDICT r14 #5) routes EVERY batch —
    mixed upserts + deletes included — through
    :func:`sources.layout.snapshot_upsert_mor`: equality-delete files
    for the matched old row versions plus append files for the new
    rows, one commit, O(batch) data bytes written where copy-on-write
    rewrites every touched partition per microbatch (the
    Flink-to-Iceberg mixed-CDC shape). Same read semantics (sequence-
    aware delete application), folded back by the same
    ``snapshot_compact``; still one commit per batch and still
    value-idempotent on replay, so the crash and OCC arguments hold.
    Requires full change rows (``update_cols`` stays a COW feature)
    and subsumes ``delete_mode`` (an all-delete batch simply writes
    no appends).

    ``exactly_once_id`` (r15) upgrades crash-replay from convergent to
    EXACTLY-ONCE: pass a stable job identity (e.g. the checkpoint
    path) and every commit records its microbatch id in the table's
    version file (``cdc_applied[job]``, carried commit-to-commit); a
    batch whose id the table already records is SKIPPED entirely.
    Value-idempotence alone converges only when nothing else wrote in
    between — a crash after the table commit but before the
    checkpoint, followed by an EXTERNAL update to a key the replayed
    batch also carries, would clobber the newer value on replay; the
    token closes exactly that window (same mechanism as the CDF
    sink's). Ids are per (job, checkpoint) and monotonic, so a fresh
    checkpoint over the same source re-delivers the same ids and the
    table skips them.

    ``compact_every`` (r15) interleaves maintenance with the stream:
    every N applied microbatches, one ``snapshot_compact`` folds the
    accumulated merge-on-read refs (and any fragmentation) back to
    plain scans — the production cadence for ``update_mode="mor"``,
    whose per-batch write savings otherwise trade into read-side ref
    accumulation between external OPTIMIZE runs (measured at sf0.1:
    20 MOR batches write 12.8x fewer bytes than COW but the ref
    build-up makes the uncompacted run ~3x slower wall-clock — the
    fold restores plain-scan cost in-stream).

    Scale shape per batch: one manifest-stat-pruned key semi-join + a
    rewrite of the touched partitions + ONE manifest/pointer commit
    (cost ∝ batch-touched data, never table size); hot tables want
    batches grouped by partition so the touched set stays narrow.
    """
    if delete_mode not in ("cow", "mor"):
        raise ValueError(
            f"delete_mode must be 'cow' or 'mor', got {delete_mode!r}"
        )
    if update_mode not in ("cow", "mor"):
        raise ValueError(
            f"update_mode must be 'cow' or 'mor', got {update_mode!r}"
        )
    if update_mode == "mor" and update_cols is not None:
        raise ValueError(
            "update_mode='mor' appends full change rows — "
            "update_cols requires the copy-on-write path"
        )

    from ..sources.layout import (
        ConcurrentWriteError,
        _validated_raw,
        snapshot_compact,
        snapshot_delete,
        snapshot_merge,
        snapshot_upsert_mor,
    )

    applied_n = {"n": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        token = None
        if exactly_once_id is not None:
            _v, raw = _validated_raw(table_path, None)
            applied = (raw.get("cdc_applied") or {}).get(
                exactly_once_id
            )
            if applied is not None and int(applied) >= batch_id:
                return  # checkpoint-replayed batch: provable no-op
            token = {
                "cdc_applied": {
                    **(raw.get("cdc_applied") or {}),
                    exactly_once_id: batch_id,
                }
            }
        as_mor_delete = False
        if (
            delete_mode == "mor"
            and delete_col is not None
            and update_mode != "mor"
        ):
            flag = F.coalesce(
                F.col(delete_col).cast("boolean"), F.lit(False)
            )
            as_mor_delete = batch_df.filter(~flag).isEmpty()
        for attempt in range(occ_retries + 1):
            try:
                if update_mode == "mor":
                    snapshot_upsert_mor(
                        batch_df.sparkSession,
                        batch_df,
                        table_path,
                        partition_col,
                        key_cols,
                        delete_col=delete_col,
                        seq_col=seq_col,
                        extra_meta=token,
                    )
                elif as_mor_delete:
                    snapshot_delete(
                        batch_df.sparkSession,
                        batch_df.select(*key_cols).distinct(),
                        table_path,
                        partition_col,
                        key_cols,
                        extra_meta=token,
                    )
                else:
                    snapshot_merge(
                        batch_df.sparkSession,
                        batch_df,
                        table_path,
                        partition_col,
                        key_cols,
                        delete_col=delete_col,
                        seq_col=seq_col,
                        update_cols=update_cols,
                        extra_meta=token,
                    )
                applied_n["n"] += 1
                break
            except ConcurrentWriteError:
                # replan against the new committed version: the merge
                # re-reads the manifest on entry, so retrying IS the
                # replan; each loss is a distinct external commit
                if attempt == occ_retries:
                    raise
        if compact_every and applied_n["n"] % compact_every == 0:
            # in-stream fold: value-preserving maintenance OUTSIDE the
            # apply retry loop (r16, ADVICE r15) — a ConcurrentWriteError
            # from the fold must not re-execute the already-committed
            # batch apply (a duplicate table commit) nor fail the stream
            # for a batch that DID land. Conflict => skip this fold; the
            # next cadence hit (or external OPTIMIZE) folds the refs.
            try:
                snapshot_compact(
                    batch_df.sparkSession, table_path, partition_col,
                )
            except ConcurrentWriteError:
                pass  # maintenance deferred, batch already durable

    writer = cdc_stream.writeStream.foreachBatch(_apply)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    try:
        _await_or_raise(q, timeout_sec)
    finally:
        if q.isActive:
            q.stop()


def run_snapshot_cdf_consume(
    spark: SparkSession,
    table_path: str,
    process,
    cursor_path: str,
    max_versions: int | None = None,
    start_version: int | None = None,
) -> dict[str, int]:
    """CHANGE DATA FEED consumer (r14) — the read-side complement of
    :func:`run_stream_cdc_apply`: incrementally deliver a snapshot
    table's row-level changes downstream, one COMMIT WINDOW at a time.

    Each call walks the table's commit chain from the persisted cursor
    (a tiny file under ``cursor_path``, written through the layout's
    MetaStore so the consumer state lives wherever the table metadata
    does) and, for every not-yet-delivered commit ``v_prev -> v_next``,
    calls ``process(changes_df, v_prev, v_next)`` with
    :func:`sources.layout.snapshot_diff`'s output (rows tagged
    ``_change`` 'insert'/'delete'; manifest-compare pruning means an
    untouched partition costs nothing to diff). The cursor advances
    AFTER ``process`` returns — AT-LEAST-ONCE delivery: a consumer that
    crashes mid-window re-receives exactly that window on restart, so
    ``process`` should be idempotent per (from, to) pair (e.g. a MERGE
    keyed on the row identity, or an append tagged with ``to_version``
    that downstream dedups).

    First call with no cursor starts at the CURRENT committed version
    (CDC semantics: consume changes from now on) — pass
    ``start_version`` (r15) to seed the cursor at a retained earlier
    commit instead (backfill-from-history), ignored once a cursor
    exists. If the cursor's version file is gone, this fails loudly
    instead of silently skipping windows.

    One consumer per cursor: the cursor write is last-wins, so run
    competing consumers on separate cursors. Returns
    {"delivered", "cursor"}. ``max_versions`` bounds one call's work
    (catch-up batching)."""
    import os

    from ..sources.layout import (
        _commit_chain,
        _manifest_read,
        _meta_store,
        snapshot_diff,
        snapshot_version,
    )

    committed = snapshot_version(table_path)
    key = os.path.join(cursor_path, "_CDF_CURSOR")
    raw = _meta_store().read(key)
    if raw is None:
        cursor = committed if start_version is None else int(start_version)
        _meta_store().put_atomic(key, str(cursor).encode("utf-8"))
    else:
        cursor = int(raw.decode("utf-8").strip())
    if cursor > committed:
        raise ValueError(
            f"CDF cursor v{cursor} is above the committed pointer "
            f"v{committed} of {table_path} — wrong table or cursor?"
        )
    # lineage tokens live forever, but the diff needs the cursor
    # version's MANIFEST — gone means it was deleted outside the layout
    if _manifest_read(table_path, cursor) is None:
        raise ValueError(
            f"CDF cursor v{cursor} of {table_path} has no version file "
            "— it was deleted outside the layout; re-seed the cursor "
            "with start_version"
        )
    chain = [v for v in _commit_chain(table_path) if v >= cursor]
    todo = [v for v in chain if v > cursor and v <= committed]
    if max_versions is not None:
        todo = todo[:max_versions]
    delivered = 0
    prev = cursor
    for v in todo:
        changes = snapshot_diff(spark, table_path, prev, v, None)
        # Materialize each window's diff ONCE (r17, VERDICT r16 #4):
        # consumers reference the window plan several times — the CDF
        # applier splits it into insert/delete legs, anti-joins them,
        # and the landing merge then evaluates the shaped batch again
        # for probe scoping and the write — so an uncached window
        # re-ran the two-version diff (two snapshot scans + the
        # compare) once per downstream evaluation, ~4-6x per window.
        # One count() pins the diff into the block cache; every later
        # reference is a cache read; released before the cursor
        # advances. Cost model at scale: cached bytes are O(window
        # changes), the same order as the batch the consumer lands —
        # bounded by commit size, never O(table).
        changes = changes.persist()
        try:
            changes.count()
            process(changes, prev, v)
        finally:
            changes.unpersist()
        # advance AFTER the consumer finished the window: a crash
        # between process() and this write re-delivers the window
        _meta_store().put_atomic(key, str(v).encode("utf-8"))
        delivered += 1
        prev = v
    return {"delivered": delivered, "cursor": prev}


def apply_cdf_to_snapshot(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_col,
    key_cols: list[str],
    cursor_path: str | None = None,
    max_versions: int | None = None,
    start_version: int | None = None,
    mode: str = "cow",
) -> dict[str, int]:
    """EXACTLY-ONCE change-data-feed sink (r15, VERDICT r14 #4): land
    every not-yet-delivered commit window of ``src_path`` into the
    snapshot table at ``dst_path`` through :func:`snapshot_merge`,
    with the window's target commit version recorded in the
    DESTINATION's version file as an idempotence token
    (``cdf_applied[src]``, carried commit-to-commit by the staging
    protocol).

    The consumer itself is at-least-once
    (:func:`run_snapshot_cdf_consume` advances its cursor only after a
    window lands), so a crash between the destination commit and the
    cursor write REDELIVERS that window — and the token turns the
    redelivery into a provable no-op: the merge is skipped entirely
    when the destination already records ``applied >= to_version``,
    even if unrelated writers committed to the destination in between
    (plain merge idempotence alone could not guarantee that — a
    replayed stale upsert would clobber a newer independent update).

    Window shaping: a value change arrives from
    :func:`sources.layout.snapshot_diff` as delete(old row) +
    insert(new row) on the same key — inserts win (net upsert), and
    only deletes with no matching insert tombstone their key. Each
    window is ONE destination commit, so the destination's own commit
    chain (and CDF, and time travel) mirrors the source's cadence.

    ``cursor_path`` defaults to ``<dst_path>/_cdf_from`` — one
    consumer per (src, dst) pair. ``mode="mor"`` lands each window
    through :func:`sources.layout.snapshot_upsert_mor` instead — the
    destination pays O(window) bytes per window instead of partition
    rewrites, with the same token semantics (fold with
    snapshot_compact on the destination's own maintenance schedule).
    Returns {"delivered", "applied", "skipped", "cursor"}.
    """
    import os

    from pyspark.sql import functions as F

    from ..sources.layout import (
        _validated_raw,
        snapshot_merge,
        snapshot_upsert_mor,
    )

    if mode not in ("cow", "mor"):
        raise ValueError(f"mode must be 'cow' or 'mor', got {mode!r}")
    if cursor_path is None:
        cursor_path = os.path.join(dst_path, "_cdf_from")
    src_key = os.path.abspath(src_path)
    stats = {"applied": 0, "skipped": 0}

    def _apply(changes, v_from: int, v_to: int) -> None:
        _v, dst_raw = _validated_raw(dst_path, None)
        applied = (dst_raw.get("cdf_applied") or {}).get(src_key)
        if applied is not None and int(applied) >= v_to:
            stats["skipped"] += 1  # redelivered window: no-op
            return
        # consume either tagging (r16): the 4-tag Delta-CDF form maps
        # update_postimage -> upsert leg, update_preimage -> delete
        # leg (and the net-upsert anti-join below drops the preimage
        # whenever its postimage is present, exactly as for the 2-tag
        # delete+insert pair)
        ins = changes.filter(
            F.col("_change").isin("insert", "update_postimage")
        ).drop("_change")
        dele = (
            changes.filter(
                F.col("_change").isin("delete", "update_preimage")
            )
            .drop("_change")
            # a changed key shows as delete(old)+insert(new): the
            # insert wins, the delete leg drops (net upsert)
            .join(ins.select(*key_cols), key_cols, "left_anti")
        )
        batch = ins.withColumn("_cdf_del", F.lit(False)).unionByName(
            dele.withColumn("_cdf_del", F.lit(True))
        )
        land = snapshot_merge if mode == "cow" else snapshot_upsert_mor
        land(
            spark, batch, dst_path, partition_col, key_cols,
            delete_col="_cdf_del",
            extra_meta={
                "cdf_applied": {
                    **(dst_raw.get("cdf_applied") or {}),
                    src_key: v_to,
                }
            },
        )
        stats["applied"] += 1

    out = run_snapshot_cdf_consume(
        spark, src_path, _apply, cursor_path,
        max_versions=max_versions, start_version=start_version,
    )
    return {**out, **stats}
