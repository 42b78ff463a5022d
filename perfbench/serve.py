"""``serve`` workload: dashboard traffic on the two mart routes while new
mart versions are published.

Set-up generates the seeded crawl corpus and, from the plain-Python model
the ``etl`` workload checks the warehouse job against, one mart per day
after a ``HISTORY_DAYS`` history, written in the job's mart layout.
Version 0 is published and ``serving.MartServer`` started on it; Spark
never runs. The load generator, a separate process, then runs cycles of
``CYCLE_S``, each an open loop at ``NOMINAL_RPS`` followed by a closed-loop
burst round of the same length, for ``--seconds`` in all. Throughout, every
``PUBLISH_EVERY_S`` the benchmark publishes the next version atomically:
it writes the files to a sibling directory, then renames a symlink over
the served path.

Every ``/mart/all`` body must equal a published version and every
``/mart/statistic`` body that version's statistic, computed here
independently of the server.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

from . import loadgen
from .common import median, quantile, stopwatch
from .lottery import Corpus, MartModel, write_mart
from .trace import Tracer

HISTORY_DAYS = 30
#: The saturation rate of ``loadgen.CONNECTIONS`` connections, a new
#: connection per request, measured on a 4-core VM, is 650-1085 req/s, and
#: 240-530 req/s in slow periods of its shared host; there, the median
#: latency starts to rise at 150 req/s (perfbench/README.md, "Traffic
#: rates"). The open loop runs at a third of that knee, so its latency is
#: the server's service time rather than queueing, in slow periods too.
NOMINAL_RPS = 50
#: The run alternates the open loop with closed-loop burst rounds in cycles
#: of ``CYCLE_S`` with equal halves, so both phases sample the host over the
#: whole run: its speed swings within seconds, and the rates of successive
#: rounds of one run differ by up to 1.8x. A round of 0.75 s holds 250-800
#: requests at the saturation rates measured, so connection ramp-up and the
#: last stragglers, a few ms, are a small share of it. The upper quartile
#: of the rounds' rates is reported, as the time it takes to answer
#: ``BURST_REQUESTS`` requests.
CYCLE_S = 1.5
BURST_REQUESTS = 2000
#: One publish per 1.5 of the server's 1 s mtime re-checks
#: (``MartServer.STAT_TTL_SEC``): no two publishes fall in one re-check
#: interval, so every version is served and its staleness measured, and a
#: run of ``--seconds`` 24 sees 16 publishes.
PUBLISH_EVERY_S = 1.5
#: Versions prepared: enough to keep publishing through both phases.
VERSIONS = 40
SETUP_REPEATS = 3
WARMUP_REQUESTS = 20


def _jsonable(row: dict) -> dict:
    return {k: (v.isoformat() if hasattr(v, "isoformat") else
                float(v) if k in ("total_occurrences", "probability") else v)
            for k, v in row.items()}


def statistic(rows: list[dict]) -> dict:
    """The /mart/statistic payload of a mart: the largest total_draws, the
    most and least frequent numbers (ties to the smaller number) and the
    latest appearance date."""
    most = min(rows, key=lambda r: (-r["total_occurrences"], int(r["number_value"])))
    least = min(rows, key=lambda r: (r["total_occurrences"], int(r["number_value"])))
    return {
        "totalOccurrences": max(r["total_draws"] for r in rows),
        "mostNumber": int(most["number_value"]),
        "leastNumber": int(least["number_value"]),
        "lastUpdate": max(r["last_appeared_date"] for r in rows).isoformat(),
    }


def _prepare(seed: int) -> tuple[list[list[dict]], dict[str, int]]:
    """Mart rows per version and the digest of every valid response."""
    corpus = Corpus(seed, HISTORY_DAYS + VERSIONS)
    model = MartModel(corpus.as_of)
    versions, digests = [], {}
    for i, day in enumerate(corpus.days):
        model.add(day)
        if i + 1 < HISTORY_DAYS:
            continue
        v, rows = len(versions), model.mart_rows()
        versions.append(rows)
        digests[loadgen.digest("/mart/all", [_jsonable(r) for r in rows])] = v
        digests[loadgen.digest("/mart/statistic", statistic(rows))] = v
    return versions, digests


class Publisher:
    """Publishes mart versions at a fixed period in a background thread."""

    def __init__(self, root: str, versions: list[list[dict]]):
        self.root, self.versions = root, versions
        self.link = os.path.join(root, "mart")
        self.published: list[float] = []  # monotonic publish time per version
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def publish(self, v: int) -> None:
        target = os.path.join(self.root, f"mart-v{v:04d}")
        write_mart(self.versions[v], target)
        tmp = os.path.join(self.root, "mart.tmp")
        os.symlink(target, tmp)
        os.replace(tmp, self.link)
        self.published.append(time.monotonic())

    def _loop(self) -> None:
        while not self._stop.wait(PUBLISH_EVERY_S):
            if len(self.published) == len(self.versions):
                return
            self.publish(len(self.published))

    def __enter__(self) -> "Publisher":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _instrument(tracer: Tracer, server_cls) -> dict:
    """Wrap MartServer.rows; a call that returns a different list object
    than the previous call reloaded the mart."""
    state = {"last": None, "reload_s": []}
    lock = threading.Lock()

    def after(span, _args, rows):
        with lock:
            if state["last"] is not None and rows is not state["last"]:
                state["reload_s"].append(span.rec["end"] - span.rec["start"])
            state["last"] = rows

    tracer.wrap(server_cls, "rows", "serving.rows", after=after)
    return state


def run(run_dir, seed: int, seconds: int, tracer: Tracer | None) -> dict:
    from datawarehouse_group10_spark.serving import MartServer

    t_setup = time.perf_counter()
    prep: list[float] = []
    for _ in range(SETUP_REPEATS):
        with stopwatch(prep):
            versions, digests = _prepare(seed)
    root = os.path.join(run_dir, "serve")
    os.makedirs(root)
    publisher = Publisher(root, versions)
    publisher.publish(0)
    reloads = _instrument(tracer, MartServer) if tracer else None
    server = MartServer(publisher.link)
    server.start()
    problems: list[str] = []
    warm_failed = 0
    bodies: dict = {}
    for i in range(WARMUP_REQUESTS):
        rec = loadgen.timed_get(server.port, loadgen.ROUTES[i % 2], time.monotonic(), bodies)
        if digests.get(loadgen.resolve([rec], bodies)[0]["digest"]) != 0:
            warm_failed += 1
            problems.append(f"warm-up {rec['route']}: not version 0")
    setup_s = time.perf_counter() - t_setup - sum(prep) + median(prep)

    cmd = [sys.executable, "-m", "perfbench.loadgen"] + [str(a) for a in (
        server.port, NOMINAL_RPS, seconds / 2, seconds / 2,
        max(2, round(seconds / CYCLE_S)), seed)]
    cpu0 = os.times()
    try:
        with publisher:
            gen = subprocess.Popen(cmd, stdout=subprocess.PIPE)
            try:
                out, _ = gen.communicate(timeout=seconds + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"load generator exited with {gen.returncode}")
        recs = json.loads(out)
    finally:
        server.stop()
    cpu = os.times()
    cpu_s = (cpu.user - cpu0.user) + (cpu.system - cpu0.system)

    open_recs, rounds = recs["open"], recs["burst"]
    every = open_recs + [r for rnd in rounds for r in rnd]
    failed = warm_failed
    first_seen: dict[int, float] = {}
    for r in every:
        v = digests.get(r["digest"]) if r["ok"] else None
        if v is None:
            failed += 1
            if len(problems) < 5:
                reason = "body matches no published version" if r["ok"] else "no valid response"
                problems.append(f"{r['route']}: {reason}")
            continue
        first_seen[v] = min(first_seen.get(v, r["done"]), r["done"])
    staleness = [first_seen[v] - t for v, t in enumerate(publisher.published)
                 if v > 0 and v in first_seen]

    latency = [r["done"] - r["due"] for r in open_recs]
    # The upper quartile of the rounds' rates: a round is only ever slowed
    # by the host, so the faster rounds show what the server sustains.
    max_rps = quantile([len(rnd) / (max(r["done"] for r in rnd) - min(r["sent"] for r in rnd))
                        for rnd in rounds], 0.75)
    result = {
        "setup_s": setup_s,
        "attempted": WARMUP_REQUESTS + len(every),
        "failed": failed,
        "problems": problems,
        "metrics": {
            "latency_ms": median(latency) * 1000,
            "batch_s": BURST_REQUESTS / max_rps,
        },
        "layers": {
            "serve.p99_ms": quantile(latency, 0.99) * 1000,
            "serve.max_rps": max_rps,
            "serve.staleness_p50_s": median(staleness) if staleness else 0.0,
            "serve.versions_published": len(publisher.published),
            "serving.cpu_ms_per_1k_req": cpu_s * 1000 / len(every) * 1000,
            "serving.bytes_per_response": sum(r["bytes"] for r in every) / len(every),
            "loadgen.lag_ms_p99": quantile([r["sent"] - r["due"] for r in open_recs], 0.99) * 1000,
        },
    }
    if tracer:
        tracer.restore()
        secs, calls = tracer.total("serving.rows")
        result["layers"].update({
            "serving.rows_calls": calls,
            "serving.rows_s": secs,
            "serving.reloads": len(reloads["reload_s"]),
            "serving.reload_ms": median(reloads["reload_s"]) * 1000 if reloads["reload_s"] else 0.0,
        })
    return result
