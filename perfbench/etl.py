"""``etl`` workload: the operator's daily warehouse job.

Set-up starts Spark, generates the seeded crawl corpus and lands the
backfill history. The timed part is a cold backfill of ``HISTORY_DAYS``
days into an empty output directory, then ``DAILY_RUNS`` daily runs of
``run_warehouse_job`` on the same output directory and ledger, each timed
from landing that day's CSV to the mart being written. After every run,
outside the timed region, the mart must equal the plain-Python model and
the fact and date-dimension row counts must match it.

A traced run then also runs the ``query_mix`` registry queries in the same
session, for the per-key figures of the query layers; their results are
checked against the DuckDB oracles.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

from . import query_mix
from .common import dir_stats, median, start_spark, stopwatch
from .lottery import Corpus, MartModel, mart_problems, parquet_rows
from .trace import SparkCounters, Tracer

HISTORY_DAYS = 30
#: Two daily runs: the median of two is steadier than one run on a host
#: whose speed swings within seconds, and a third does not fit the time a
#: full set of runs may take (perfbench/README.md, "Steadiness").
DAILY_RUNS = 2
#: Repeats of the input generation and landing, for a median set-up time.
SETUP_REPEATS = 3


def _land_history(corpus: Corpus, csv_dir: str) -> int:
    os.makedirs(csv_dir)
    return sum(corpus.land(i, csv_dir) for i in range(HISTORY_DAYS))


def _check(out: str, model: MartModel) -> list[str]:
    problems = mart_problems(os.path.join(out, "mart"), model)
    for layer, want in (("fact_prize", model.fact_rows), ("dim_date", len(model.dates))):
        got = parquet_rows(os.path.join(out, layer))
        if got != want:
            problems.append(f"{layer} rows {got} != {want}")
    return problems


def _instrument(tracer: Tracer) -> None:
    from datawarehouse_group10_spark.plans import warehouse_job
    from datawarehouse_group10_spark.plans.orchestrator import ProcessLog

    def written(span, args, _result):
        span["files"], span["bytes"] = dir_stats(args[1])

    tracer.wrap(ProcessLog, "run_stage", lambda _self, code, *a, **k: f"warehouse_job.{code}")
    tracer.wrap(ProcessLog, "log", "orchestrator.log")
    tracer.wrap(ProcessLog, "can_start", "orchestrator.gate")
    tracer.wrap(warehouse_job, "write_layer",
                lambda _df, path, *a, **k: f"sources.write.{os.path.basename(path)}",
                after=written)
    tracer.wrap(warehouse_job, "run_full_pipeline", "medallion.plan")


def run(run_dir, seed: int, seconds: int, tracer: Tracer | None) -> dict:
    t_setup = time.perf_counter()
    spark = start_spark(run_dir)
    session_s = time.perf_counter() - t_setup
    from datawarehouse_group10_spark.plans.warehouse_job import run_warehouse_job

    prep: list[float] = []
    for rep in range(SETUP_REPEATS):
        with stopwatch(prep):
            corpus = Corpus(seed, HISTORY_DAYS + DAILY_RUNS)
            csv_dir = os.path.join(run_dir, f"csv{rep}")
            input_bytes = _land_history(corpus, csv_dir)
    setup_s = session_s + median(prep)

    out = os.path.join(run_dir, "dwh")
    model = MartModel(corpus.as_of)
    as_of = corpus.as_of.isoformat()
    counters = SparkCounters(spark) if tracer else None
    if tracer:
        _instrument(tracer)

    def job(label: str) -> tuple[float, dict | None, list[str]]:
        if counters:
            counters.group(label)
        span = tracer.span(label) if tracer else nullcontext()
        t0 = time.perf_counter()
        try:
            with span:
                run_warehouse_job(spark, csv_dir=csv_dir, output_dir=out, as_of=as_of)
        except Exception as e:  # noqa: BLE001 - a failed run is counted, not fatal
            return time.perf_counter() - t0, None, [f"{label}: {type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        return wall, span.rec if tracer else None, _check(out, model)

    for i in range(HISTORY_DAYS):
        model.add(corpus.days[i])
    backfill_s, _, problems = job("backfill")
    failed = int(bool(problems))
    daily, daily_spans = [], []
    for d in range(DAILY_RUNS):
        i = HISTORY_DAYS + d
        model.add(corpus.days[i])
        t0 = time.perf_counter()
        input_bytes += corpus.land(i, csv_dir)
        land_s = time.perf_counter() - t0
        wall, rec, p = job(f"daily-{d}")
        daily.append(land_s + wall)
        daily_spans.append(rec)
        problems += p
        failed += int(bool(p))

    _files, out_bytes = dir_stats(out)
    result = {
        "setup_s": setup_s,
        "attempted": 1 + DAILY_RUNS,
        "failed": failed,
        "problems": problems,
        "metrics": {
            "latency_ms": median(daily) * 1000,
            # From an empty output directory to the last daily mart: one
            # window long enough that a swing of the host's speed moves
            # only part of it.
            "batch_s": backfill_s + sum(daily),
        },
        "layers": {
            "etl.bytes_per_input_byte": out_bytes / input_bytes,
            "etl.backfill_s": backfill_s,
        },
    }
    if tracer:
        tracer.restore()
        # The analysts' registry queries, run after the jobs in the same
        # session; their per-key figures are the query layers' breakdown.
        q = query_mix.queries(spark, run_dir, seed, counters)
        result["attempted"] += q["attempted"]
        result["failed"] += q["failed"]
        result["problems"] += q["problems"]
        time.sleep(1.0)  # let the UI's status store catch up
        groups = counters.collect()
        result["layers"].update(_layers(tracer, groups, daily_spans, out))
        result["layers"].update(query_mix.layers(q["times"], groups))
    return result


def _layers(tracer: Tracer, groups: dict, daily_spans: list[dict], out: str) -> dict:
    """Per-layer figures for one daily run, as medians over the daily runs."""
    per_run: dict[str, list[float]] = {}

    def put(name, value):
        per_run.setdefault(name, []).append(value)

    for d, span in enumerate(daily_spans):
        if span is None:  # the run failed
            continue
        wall = span["end"] - span["start"]
        covered = 0.0
        for code in ("P1", "P2", "P3", "P4"):
            s, _ = tracer.total(f"warehouse_job.{code}", within=span)
            put(f"warehouse_job.{code}_s", s)
            covered += s
        put("warehouse_job.uncovered_s", wall - covered)
        put("warehouse_job.uncovered_frac", (wall - covered) / wall)
        s, n = tracer.total("orchestrator.log", within=span)
        put("orchestrator.log_s", s)
        put("orchestrator.log_calls", n)
        put("orchestrator.gate_s", tracer.total("orchestrator.gate", within=span)[0])
        put("medallion.plan_s", tracer.total("medallion.plan", within=span)[0])
        files = size = 0
        for layer in ("bronze", "silver", "dim_date", "dim_number", "fact_prize", "mart"):
            put(f"sources.write_s.{layer}", tracer.total(f"sources.write.{layer}", within=span)[0])
        for s in tracer.spans:
            if s["name"].startswith("sources.write.") and span["start"] <= s["start"] <= span["end"]:
                files += s["files"]
                size += s["bytes"]
        put("sources.files_written", files)
        put("sources.bytes_written", size)
        g = groups[f"daily-{d}"]
        put("session.jobs_per_run", g["jobs"])
        put("session.tasks_per_run", g["tasks"])
        put("session.task_busy_s", g["busy_s"])
    layers = {k: median(v) for k, v in per_run.items()}
    layers["orchestrator.ledger_files"] = dir_stats(os.path.join(out, "process_log"))[0]
    return layers
