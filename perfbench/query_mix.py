"""``query_mix`` workload: analysts' registry queries, warm.

Set-up starts Spark, generates the seeded sf0.01-sized tables and runs
every key once, collecting its result; that pass warms the JVM and does the
package's one-time staging. The timed part runs ``PASSES`` passes over the
keys, each in an order shuffled from the seed, each query written to the
``noop`` sink. Last, outside both, every collected result is compared with
its key's DuckDB oracle by ``scripts/check_oracle.py``'s comparison (row
count, column names, order-insensitive values).

The streaming and text suites are left out: at 22-29 s per call on four
cores they would dominate every run.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from scripts.check_oracle import TABLES, compare

from .common import geomean, median, start_spark, stopwatch
from .tables import write_tables
from .trace import SparkCounters, Tracer

#: One key per layer, each about a second or less when warm, mapped to the
#: package module it mainly exercises. Left out to keep a run within its
#: time budget: ``pipeline_mart`` (plans.medallion, covered by the etl
#: workload) and ``dedup_minhash_lsh`` (functions.dedup, covered by
#: dedup_exact_suite), whose one-time staging adds about 16 s to every
#: set-up, and ``j6_asof_join`` and ``w7_sessionize``, second keys of the
#: temporal and windows modules.
KEYS = {
    "a1_a2_draws_probability": "aggregates",
    "tpch_q1_pricing_summary": "contract",
    "j1_broadcast_join": "joins",
    "j7_range_join": "temporal",
    "w4_set_suite": "windows",
    "skew_salted_suite": "skew",
    "scd2_suite": "scd",
    "dedup_exact_suite": "dedup",
    "sim_cosine_suite": "similarity",
}
PASSES = 1
SETUP_REPEATS = 3
WARM_THREADS = 4


def queries(spark, run_dir, seed: int, counters: SparkCounters | None) -> dict:
    """Generate the tables, run the warm pass, time the pass and check
    the warm pass's results against the oracles. Returns ``attempted``,
    ``failed``, ``problems``, the per-key ``times`` of the timed pass and
    ``setup_s``, the set-up time spent here."""
    import duckdb

    from datawarehouse_group10_spark.contract import ORACLES, QUERIES

    t_setup = time.perf_counter()
    gen: list[float] = []
    for rep in range(SETUP_REPEATS):
        with stopwatch(gen):
            sf = os.path.join(run_dir, f"sf{rep}")
            write_tables(seed, sf)
    problems: list[str] = []
    attempted = failed = 0
    # The warm pass runs a few queries at once, which shortens set-up; the
    # pool waits for all of them. Their results are checked last.
    with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
        warm = {k: pool.submit(lambda k: QUERIES[k](spark, sf).toPandas(), k) for k in KEYS}
    # Data generation is repeated and its median taken; the rest ran once.
    setup_s = time.perf_counter() - t_setup - sum(gen) + median(gen)

    times: dict[str, list[float]] = {k: [] for k in KEYS}
    for p in range(PASSES):
        order = list(KEYS)
        random.Random(seed * 1000 + p).shuffle(order)
        for key in order:
            if counters:
                counters.group(f"{p}/{key}")
            attempted += 1
            t0 = time.perf_counter()
            try:
                QUERIES[key](spark, sf).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed query is counted
                problems.append(f"{key}: {type(e).__name__}: {e}")
                failed += 1
                continue
            times[key].append(time.perf_counter() - t0)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
    for key, fut in warm.items():
        attempted += 1
        try:
            found = compare(key, fut.result(), con.execute(ORACLES[key]).df())
        except Exception as e:  # noqa: BLE001 - a failed query is counted
            found = [f"{type(e).__name__}: {e}"]
        problems += [f"{key}: {x}" for x in found]
        failed += int(bool(found))
    con.close()
    return {
        "setup_s": setup_s,
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "times": {k: median(v) for k, v in times.items() if v},
    }


def layers(times: dict[str, float], groups: dict) -> dict:
    """Per-key time and Spark job count."""
    out = {f"query_mix.{KEYS[k]}.{k}_s": v for k, v in times.items()}
    for k in KEYS:
        out[f"query_mix.{KEYS[k]}.{k}_jobs"] = median(
            [groups[f"{p}/{k}"]["jobs"] for p in range(PASSES)])
    return out


def run(run_dir, seed: int, seconds: int, tracer: Tracer | None) -> dict:
    t_setup = time.perf_counter()
    spark = start_spark(run_dir)
    session_s = time.perf_counter() - t_setup
    counters = SparkCounters(spark) if tracer else None
    q = queries(spark, run_dir, seed, counters)
    med = q["times"]
    result = {
        "setup_s": session_s + q["setup_s"],
        "attempted": q["attempted"],
        "failed": q["failed"],
        "problems": q["problems"],
        "metrics": {
            "latency_ms": geomean(med.values()) * 1000,
            "batch_s": sum(med.values()),
        },
        "layers": {},
    }
    if counters:
        time.sleep(1.0)  # let the UI's status store catch up
        groups = counters.collect()
        per_pass: dict[str, list[float]] = {"jobs": [], "tasks": [], "busy_s": []}
        for p in range(PASSES):
            for field in per_pass:
                per_pass[field].append(sum(groups[f"{p}/{k}"][field] for k in KEYS))
        result["layers"] = layers(med, groups)
        for name, field in (("jobs_per_run", "jobs"), ("tasks_per_run", "tasks"),
                            ("task_busy_s", "busy_s")):
            result["layers"][f"session.{name}"] = median(per_pass[field])
    return result
