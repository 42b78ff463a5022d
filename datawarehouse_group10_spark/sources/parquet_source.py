"""Parquet lakehouse readers for the driver-generated testdata and for the
medallion layers this engine writes.

The reference's JDBC full-table scans (operator S5, ETLMain.java:195-220)
become parquet scans here: columnar, vectorized, predicate-pushdown-capable.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ensure_conf(spark: SparkSession, key: str, value: str) -> None:
    """Set a session conf only when the current value differs — avoids the
    needless plan-cache invalidation a redundant ``spark.conf.set`` causes
    when loaders run once per query in a long-lived session."""
    try:
        current = spark.conf.get(key)
    except Exception:
        current = None
    if current != value:
        spark.conf.set(key, value)


def _file_ts_class(f: str, col: str) -> str:
    """Layout class of one parquet file's ``col`` (see events_ts_layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(f)
    t = schema.field(col).type
    if pa.types.is_timestamp(t):
        return "timestamp" if t.unit != "ns" else "nanos-long"
    if pa.types.is_integer(t):
        # A bare INT64 is only readable on the nanos-long path if it really
        # holds epoch NANOS — an unannotated micros/millis column would be
        # silently off by 1000x after the div-1000 rebuild. Fail loudly via
        # the footer min/max stats (no data read): epoch nanos for any
        # plausible event time (>= ~1971) exceed 3e16; micros/millis never do.
        # The check covers EVERY row group and REFUSES when any group lacks
        # min/max stats (ADVICE r6: stats-less or later-group-only-small
        # files must not silently classify as nanos — the exact corruption
        # this guard exists to prevent). Row-group-free (empty) files carry
        # no data to corrupt and pass through.
        md = pq.ParquetFile(f).metadata
        idx = schema.names.index(col)
        overall_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError(
                    f"{f}: bare INT64 column {col!r} has no min/max footer "
                    f"statistics in row group {rg} — cannot verify the "
                    "values are epoch nanoseconds (vs micros/millis, which "
                    "would read 1000x off). Refusing to guess the unit; "
                    "annotate the column as a parquet TIMESTAMP."
                )
            overall_max = st.max if overall_max is None else max(overall_max, st.max)
        if overall_max is not None and 0 < overall_max < 3 * 10**16:
            raise ValueError(
                f"{f}: bare INT64 column {col!r} has max footer stat "
                f"{overall_max} — too small for epoch nanoseconds (micros "
                "or millis?). Refusing to guess the unit; annotate the "
                "column as a parquet TIMESTAMP."
            )
        return "nanos-long"
    raise TypeError(f"{f}: column {col!r} is {t}, not a timestamp or int64")


#: Memoized layouts keyed by (abspath, sampled files' (name, mtime)) — the
#: probe is a cheap footer read, but it used to run once per query per bench
#: repeat (VERDICT r5 #4). Keying on the sampled files themselves (not the
#: directory mtime) means an in-place file rewrite invalidates the cache
#: even when the directory inode is untouched (ADVICE r6).
_LAYOUT_CACHE: dict[tuple, str] = {}


def events_ts_layout(path: str, col: str = "ts") -> str:
    """Classify how ``col`` is physically stored in a parquet file or
    directory by reading footers driver-side (no data pages):

    - ``"nanos-long"``: parquet TIMESTAMP(NANOS), or a bare INT64 holding
      epoch nanos (sanity-checked against footer stats) — Spark has no
      nanosecond timestamp type, so the column must be read as a BIGINT
      (``spark.sql.legacy.parquet.nanosAsLong``) and rebuilt.
    - ``"timestamp"``: TIMESTAMP(MICROS/MILLIS), adjusted-to-UTC or NTZ —
      Spark reads it natively.

    The testdata has shipped with BOTH layouts across driver versions;
    every events consumer goes through this probe instead of assuming one.
    For a directory, up to 32 files (16 from each end of the sorted
    listing) are probed and a MIX of layout classes raises — one schema
    must cover every file a (streaming) scan will read. A seam confined
    to the un-sampled MIDDLE of a >32-file listing is outside the probe's
    reach (the raise message says so); end-sampling catches the
    write-order seams that actually occur. Results are memoized per
    (path, sampled files' (name, mtime)) so an in-place rewrite of a
    probed file invalidates the cache.
    """
    apath = os.path.abspath(path)
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path}")
        # Bounded sample: footer reads are cheap but a big layer can hold
        # thousands of files; the two ends catch the write-order/layout
        # seams that actually occur (old files + newly appended ones).
        sample = parts if len(parts) <= 32 else parts[:16] + parts[-16:]
    else:
        sample = [apath]
    key = (apath, tuple((f, os.path.getmtime(f)) for f in sample))
    cached = _LAYOUT_CACHE.get(key)
    if cached is not None:
        return cached

    classes = {f: _file_ts_class(f, col) for f in sample}
    if len(set(classes.values())) > 1:
        raise ValueError(
            f"{path}: mixed {col!r} layouts across sampled files — "
            f"{classes}; one reader schema cannot cover both. (Sample is "
            "the 16 first + 16 last of the sorted listing; a seam confined "
            "to the middle of a larger listing would not be caught here.) "
            "Rewrite the stragglers to a single physical layout."
        )
    layout = next(iter(classes.values()))
    _LAYOUT_CACHE[key] = layout
    return layout


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Load an events parquet file/dir with a canonical ``ts TIMESTAMP``
    (microsecond precision) regardless of the file's physical layout.

    NOTE (sticky session confs): the session timezone is pinned to UTC so
    the nanos-long rebuild and the TIMESTAMP_NTZ->TIMESTAMP widening both
    map onto the same instants DuckDB reads from the identical file —
    engine-identical values by construction, not by host-timezone luck.
    On the legacy layout ``spark.sql.legacy.parquet.nanosAsLong`` is also
    enabled. Both settings REMAIN on the session after the call (a
    lazily-evaluated DataFrame must not have its confs reverted under
    it); callers needing a different session timezone must set it back
    after materializing the result.
    """
    ensure_conf(spark, "spark.sql.session.timeZone", "UTC")
    if events_ts_layout(path) == "nanos-long":
        # Legacy layout: read nanos as BIGINT, truncate to micros — the
        # same narrowing DuckDB applies to TIMESTAMP_NS.
        ensure_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = spark.read.parquet(path)
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def write_layer(df: DataFrame, path: str) -> None:
    """Write a medallion layer as one unpartitioned parquet overwrite of
    the whole directory: re-running a load replaces the layer, the
    replacement for the reference's INSERT IGNORE idempotence
    (ETLMain.java:244)."""
    df.write.mode("overwrite").parquet(path)


def publish_layer(path: str, write: Callable[[str], None]) -> None:
    """Publish a layer atomically (driver-only, POSIX): ``write(target)``
    writes ``_<name>.versions/<time_ns>/<name>`` beside ``path``, then one
    ``os.replace`` points the symlink ``path`` at it. The replaced version
    is kept until the next publish, so a reader that resolved the link
    finishes its read; older and failed versions are deleted. A plain
    ``path`` directory (the in-place layout) is removed at the swap."""
    parent, name = os.path.split(os.path.abspath(path))
    versions, version = os.path.join(parent, f"_{name}.versions"), str(time.time_ns())
    target = os.path.join(versions, version, name)
    os.makedirs(os.path.dirname(target))
    write(target)
    previous = os.readlink(path) if os.path.islink(path) else None
    os.symlink(os.path.relpath(target, parent), target + ".link")
    if previous is None and os.path.isdir(path):
        shutil.rmtree(path)
    os.replace(target + ".link", path)
    keep = {version, previous and os.path.basename(os.path.dirname(previous))}
    for v in set(os.listdir(versions)) - keep:
        shutil.rmtree(os.path.join(versions, v), ignore_errors=True)


def remove_layer(path: str) -> None:
    """Delete a published layer's link and versions, or a plain layer."""
    parent, name = os.path.split(os.path.abspath(path))
    if os.path.islink(path):
        os.unlink(path)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(os.path.join(parent, f"_{name}.versions"), ignore_errors=True)


