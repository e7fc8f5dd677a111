"""No DV or DML step starts a Python worker.

A small DV delete, UPDATE, MERGE, merged read and optimize on both formats
run with every SQL execution's physical plan recorded by the session's
SQL status store; none may hold a pandas/Python-UDF node or a PythonRDD
scan.  Inputs are built from ``spark.range`` so the test's own frames
start no worker either."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lakehouse_loader_spark.sinks import delta as D
from lakehouse_loader_spark.sinks import iceberg as IC

from _plans import python_nodes


def _executions(spark) -> dict[int, str]:
    """executionId -> formatted physical plan of every SQL execution the
    session's status store holds, once the listener bus has drained."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        out[e.executionId()] = e.physicalPlanDescription()
    return out


def _dml_sequence(spark, tmpdir):
    base = spark.range(0, 3000, 1, 3).select("id", (F.col("id") % 7).alias("v"))
    src = spark.range(0, 40).select(
        (F.col("id") * 71).alias("id"), F.lit(99).cast("long").alias("v")
    )
    dp = os.path.join(tmpdir, "delta")
    D.write_delta(base, dp)
    D.delete_from_delta(spark, dp, "id % 10 = 3", mode="merge-on-read")
    D.update_delta(spark, dp, "id % 10 = 5", {"v": "v + 1"}, mode="merge-on-read")
    D.merge_delta(spark, dp, src, "id", mode="merge-on-read")
    D.read_delta(spark, dp).count()
    D.optimize_delta(spark, dp)

    ip = os.path.join(tmpdir, "iceberg")
    IC.write_iceberg(base, ip)
    IC.delete_from_iceberg(spark, ip, "id % 10 = 3", strategy="merge-on-read-dv")
    IC.update_iceberg(spark, ip, "id % 10 = 5", {"v": "v + 1"}, strategy="merge-on-read")
    IC.merge_iceberg(spark, ip, src, "id")
    IC.read_iceberg(spark, ip).count()
    IC.optimize_iceberg(spark, ip)
    return dp, ip


def test_dv_and_dml_plans_hold_no_python_node(spark, tmpdir):
    before = set(_executions(spark))
    dp, ip = _dml_sequence(spark, str(tmpdir))
    plans = {k: v for k, v in _executions(spark).items() if k not in before}
    assert len(plans) >= 10, len(plans)
    bad = {k: python_nodes(v) for k, v in plans.items() if python_nodes(v)}
    assert not bad, bad
    # the sequence did run the DV paths it is meant to guard
    assert any("LocalTableScan" in v and "explode" in v for v in plans.values())
    assert D.read_delta(spark, dp).count() == IC.read_iceberg(spark, ip).count()
