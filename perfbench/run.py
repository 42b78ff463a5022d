"""Warehouse benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload {etl,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. See perfbench/README.md for what each workload
runs and what each metric means.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#: ``query_mix`` runs on its own too, but is not one of BENCHMARK.json's
#: workloads; the ``etl`` traced run includes its queries.
WORKLOADS = ("etl", "serve", "query_mix")
#: Hard stop that leaves the clean-up (at most about 30 s) inside the 180 s
#: a run may take.
DEADLINE_S = 145


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the clean-up below


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = common.ROOT / "BENCHMARK.json"
    if not common.package_present() or not spec_path.is_file():
        print(f"perfbench: no {common.PACKAGE} package or BENCHMARK.json under "
              f"{common.ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())

    signal.signal(signal.SIGALRM, _deadline)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    common.adopt_orphans()
    run_dir = common.make_run_dir(args.workload, args.seed)
    cwd = os.getcwd()
    tracer = Tracer() if args.trace else None
    try:
        common.hermetic_env(run_dir)
        workload = importlib.import_module(f"perfbench.{args.workload}")
        with common.TreeRSS() as rss:
            res = workload.run(run_dir, args.seed, args.seconds, tracer)
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        # The clean-up is bounded; neither signal may cut it short.
        signal.alarm(0)
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            common.stop_spark()
        finally:
            common.stop_children()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    if tracer:
        traces = common.WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.dump(traces / f"{args.workload}-seed{args.seed}.json")
        wanted, values = spec["per_layer"], dict(res["layers"], **{"driver.peak_rss_mb": rss.peak_mb})
    else:
        wanted, values = spec["end_to_end"], dict(res["metrics"], setup_s=res["setup_s"])
    # A layer the workload does not exercise did no work: it reads 0.
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for p in res["problems"]:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
