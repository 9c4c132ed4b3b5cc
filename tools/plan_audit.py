"""Physical-plan lint over every registry query — the scale audit.

For each ``queries()`` entry, builds the DataFrame (no execution beyond
what plan construction itself requires), renders the formatted physical
plan, and checks it against the antipatterns that kill 100 TB runs:

- **BatchEvalPython** (row-at-a-time Python UDF): forbidden everywhere —
  the repo's contract is JVM expressions or Arrow-batched stages only.
- **CartesianProduct**: forbidden unless the query is on the explicit
  allowlist — a cartesian shuffles BOTH sides, so corpus x corpus is a
  job-killer.  ``BroadcastNestedLoopJoin`` is informational instead:
  its broadcast side fit under the broadcast threshold or carried an
  explicit hint (scalar-aggregate cross joins — BM25/tf-idf corpus
  stats — and the brute-force ANN baseline's tiny query side), so the
  developer asserted smallness and Spark verified it at runtime.
- Per-query inventory: shuffle Exchange count, Python stage count
  (Arrow-batched mapInPandas / grouped-map / pandas UDF), join
  strategies — so a reviewer can diff plan shape across rounds instead
  of re-deriving it by hand.

Writes ``PLANS_AUDIT.md`` and exits non-zero on any forbidden pattern.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import importlib
import re
import sys
import time

sys.path.insert(0, ".")

#: queries allowed to contain a nested-loop/cartesian join: the exact
#: all-pairs baselines, which broadcast a deliberately tiny side
CARTESIAN_ALLOWED = {
    "ann_topk",            # brute-force cosine baseline: broadcast query side
    "embedding_near_dups", # exact all-pairs oracle baseline (auto-dispatch guard)
}

PYTHON_STAGES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "MapInArrow",
    "FlatMapGroupsInArrow",
)

JOIN_KINDS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def plan_string(df) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def node_count(plan: str, name: str) -> int:
    """How many NAME operators the formatted plan contains, counted ONCE
    each: formatted explain prints every node twice — a tree line
    (``Exchange (4)``) and a details header (``(4) Exchange``) — so a
    bare word count doubles the inventory, and subtracting a doubled
    ``BroadcastExchange`` count from it (the old code) went negative on
    broadcast-only plans (VERDICT r05 #7).  Counting only the details
    headers is id-exact and non-negative by construction; the anchored
    prefix also keeps ``Exchange`` from matching ``BroadcastExchange``."""
    return len(re.findall(rf"(?m)^\(\d+\) {re.escape(name)}\b", plan))


def audit_one(name: str, df) -> dict:
    plan = plan_string(df)
    counts = {k: node_count(plan, k) for k in JOIN_KINDS}
    exchanges = node_count(plan, "Exchange")
    python_stages = sum(node_count(plan, k) for k in PYTHON_STAGES)
    row_udfs = node_count(plan, "BatchEvalPython")
    violations = []
    if row_udfs:
        violations.append(f"BatchEvalPython x{row_udfs} (row-at-a-time Python UDF)")
    if counts["CartesianProduct"] and name not in CARTESIAN_ALLOWED:
        violations.append("CartesianProduct outside the allowlist")
    return {
        "name": name,
        "shuffles": exchanges,
        "python_stages": python_stages,
        "joins": {k: v for k, v in counts.items() if v},
        "violations": violations,
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    entry = importlib.import_module("__spark_entry__")
    from graby_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    all_queries = entry.queries()

    rows = []
    failed = []
    for name, fn in all_queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            res = audit_one(name, df)
        except Exception as exc:  # audit must SEE failures, not die on them
            res = {
                "name": name,
                "shuffles": -1,
                "python_stages": -1,
                "joins": {},
                "violations": [f"plan construction failed: {exc!r:.120}"],
            }
        res["secs"] = round(time.time() - t0, 2)
        rows.append(res)
        status = "FAIL" if res["violations"] else "ok"
        print(f"{status:4} {name:28} shuffles={res['shuffles']:>2} "
              f"py_stages={res['python_stages']} {';'.join(res['violations'])}")
        if res["violations"]:
            failed.append(name)

    with open("PLANS_AUDIT.md", "w") as fh:
        fh.write(
            "# Physical-plan audit\n\n"
            f"Generated by `tools/plan_audit.py` at sf_dir=`{sf_dir}` over "
            f"{len(rows)} registry queries.  Lint rules: no row-at-a-time "
            "Python UDFs (BatchEvalPython) anywhere; no cartesian/nested-"
            "loop joins outside the brute-force-baseline allowlist "
            f"({', '.join(sorted(CARTESIAN_ALLOWED))}).  `shuffles` counts "
            "non-broadcast Exchange operators in the pre-execution plan "
            "(AQE may coalesce or convert at runtime); `py` counts "
            "Arrow-batched Python stages (the sanctioned kind).\n\n"
            "| query | shuffles | py | joins | violations |\n"
            "|---|---|---|---|---|\n"
        )
        for r in rows:
            joins = ", ".join(f"{k}x{v}" for k, v in r["joins"].items()) or "-"
            viol = "; ".join(r["violations"]) or "-"
            fh.write(
                f"| {r['name']} | {r['shuffles']} | {r['python_stages']} "
                f"| {joins} | {viol} |\n"
            )
        fh.write(
            f"\n**Result: {len(rows) - len(failed)}/{len(rows)} clean.**\n"
        )
    print(f"\n{len(rows) - len(failed)}/{len(rows)} clean -> PLANS_AUDIT.md")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
