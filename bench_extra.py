"""Per-query isolation bench over the query registry.

``bench.py`` stays frozen so its results compare across rounds; this
runner times single queries of ``__spark_entry__.queries()`` (and can
capture their plans) without paying the full suite + scaling phases.  It
defines no query of its own: every name is a registry key, built by the
registry's own function.  Each run is forced through the ``noop`` sink
(no collect, no result-size bias), as ``tools/shuffle_audit.py`` forces
its runs; one untimed warm-up, then the median of ``--runs`` timed runs
with min/max recorded.  The cache is cleared after every run, so no run
reuses a table an earlier one cached.

Usage:
    python bench_extra.py [query ...]            # default: all
    python bench_extra.py --plans plans/r06 --suffix _before [query ...]
    python bench_extra.py --runs 5 graph_pagerank

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32; also the shuffle partition count).
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graby_spark.session import get_spark


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_dir = None
    suffix = ""
    runs = 3
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            rest.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = importlib.import_module("__spark_entry__").queries()
    names = rest or list(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}; known: {sorted(registry)}")

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(query) -> float:
        start = time.perf_counter()
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - start
        spark.catalog.clearCache()
        return elapsed

    results = {}
    for name in names:
        query = registry[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            plan = query(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)
        run_once(query)  # warm-up, untimed
        samples = sorted(run_once(query) for _ in range(runs))
        results[name] = {
            "min": round(samples[0], 3),
            "median": round(samples[len(samples) // 2], 3),
            "max": round(samples[-1], 3),
            "runs": runs,
        }
        spark.sparkContext.setJobDescription(None)
        print(name, json.dumps(results[name]), flush=True)

    cpus = spark.sparkContext.defaultParallelism
    print(json.dumps({"queries": results, "sf_dir": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
