"""Pin for tools/plan_audit.py's operator inventory (VERDICT r05 #7).

The audit's ``shuffles`` column is a plan INVENTORY, not a lint — but a
counter that can go negative (the old code subtracted a doubled
BroadcastExchange count from a word count that never included it)
undermines trust in the numbers next to the lint.  These tests pin the
counting rule on plans whose shape is known by construction:

- a repartition + differently-keyed groupBy is exactly TWO shuffle
  Exchanges;
- a broadcast-joined plan has ZERO shuffle Exchanges (never -1), one
  BroadcastHashJoin, and its BroadcastExchange is not miscounted as a
  shuffle.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

from graby_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location(
    "plan_audit", os.path.join(REPO, "tools", "plan_audit.py")
)
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_audit)


@pytest.fixture(scope="module")
def spark():
    session = get_spark(
        app_name="graby-plan-audit-tests", master="local[2]", shuffle_partitions=2
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


def test_two_shuffle_plan_counts_two(spark):
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .withColumn("k", F.col("id") % 7)
        .withColumn("k2", F.col("id") % 3)
        .repartition(4, "k")
        .groupBy("k2")
        .count()
    )
    res = plan_audit.audit_one("two_shuffle", df)
    assert res["shuffles"] == 2, res
    assert res["violations"] == [], res


def test_broadcast_only_plan_counts_zero_not_negative(spark):
    from pyspark.sql import functions as F

    big = spark.range(100).withColumn("k", F.col("id") % 10)
    small = spark.range(10).select(F.col("id").alias("k"), F.lit("x").alias("v"))
    df = big.join(F.broadcast(small), "k")
    res = plan_audit.audit_one("broadcast_only", df)
    assert res["shuffles"] == 0, res
    assert res["joins"].get("BroadcastHashJoin") == 1, res
    assert res["violations"] == [], res


def test_python_stage_counted_once(spark):
    import pandas as pd

    def ident(batches):
        for b in batches:
            yield b

    df = spark.range(10).mapInPandas(ident, "id long")
    res = plan_audit.audit_one("one_py_stage", df)
    assert res["python_stages"] == 1, res


def test_node_count_matches_metacharacter_names_literally():
    assert plan_audit.node_count("(1) Scan+x\n(2) Scannx\n", "Scan+x") == 1
