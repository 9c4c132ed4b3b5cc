"""The repo benchmark: one workload per invocation, on a ``local[4]``
session, closed loop (one job at a time, back to back).

    python3 perfbench/run.py --workload pages_small --seed 1 --seconds 8 --trace 0

Set-up starts the session, writes the input table to fresh files three
times and runs one untimed warm-up job; ``setup_s`` is session start +
median write + warm-up.  Then the workload's job runs back to back for
``--seconds``; ``docs_per_s`` comes from the median job.  The output is checked against an
oracle outside the timed region.  The last line of stdout is one JSON
object; the exit code is 1 when a check failed.

``--trace 1`` runs one set-up, one traced job, untraced and traced
extraction stages in turn, and the per-layer ledger (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import env  # noqa: E402
from perfbench.env import log  # noqa: E402

#: a run must end within 180 s; this leaves room to stop Spark
DEADLINE_S = 175


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    return args


def _on_deadline(signum, frame):
    raise TimeoutError("benchmark run exceeded its deadline")


def run_untraced(args, work: str) -> dict:
    from perfbench import harness, stats
    from perfbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = harness.start_session(f"perfbench-{args.workload}", ui=False)
    spark_start_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, work)
        setup_s, materialize = harness.set_up(wl, spark_start_s)
        log(f"set-up {setup_s:.2f} s, materialize {[round(s, 2) for s in materialize]}")
        walls = harness.timed_loop(wl, args.seconds)
        log(f"jobs {[round(w, 2) for w in walls]}")
        attempted, errors = wl.check()
        log("checked")
    finally:
        harness.stop_session(spark)
        log("stopped")
    values = {
        "setup_s": setup_s,
        "docs_per_s": wl.rows / stats.median(walls),
    }
    units = env.spec_units("end_to_end")
    return result(attempted, errors, {k: (v, units[k]) for k, v in values.items()})


def run_traced(args, work: str) -> dict:
    from perfbench import harness, layers

    t0 = time.perf_counter()
    spark = harness.start_session(f"perfbench-{args.workload}", ui=True)
    spark_start_s = time.perf_counter() - t0
    tracer = None
    try:
        attempted, errors, metrics, tracer = layers.ledger(args, spark, spark_start_s, work)
    finally:
        harness.stop_session(spark)
        if tracer is not None:
            tracer.dump(os.path.join(ROOT, ".perfbench-trace", f"{args.workload}-seed{args.seed}.json"))
    return result(attempted, errors, metrics)


def result(attempted: int, errors: list[str], metrics: dict) -> dict:
    for message in errors:
        print(f"CHECK FAILED: {message}", file=sys.stderr)
    return {
        "correct": not errors,
        "attempted": int(attempted),
        "failed": len(errors),
        "metrics": {name: {"value": float(v), "unit": unit} for name, (v, unit) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    env.clean()
    work = env.prepare()
    try:
        out = run_traced(args, work) if args.trace else run_untraced(args, work)
    finally:
        env.clean()
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
