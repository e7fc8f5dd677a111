"""Plan probes shared by the tests that pin where DV and DML work runs."""

from __future__ import annotations

# physical nodes and RDDs that run rows through Python workers
PYTHON_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "PythonRDD",
)


def python_nodes(plan: str) -> list[str]:
    """The PYTHON_NODES named in a formatted plan (a PythonRDD scan names
    its RDD, ``... at applySchemaToPythonRDD``, among its arguments)."""
    return [n for n in PYTHON_NODES if n in plan]


def formatted_plan(df) -> str:
    """``df``'s executed plan as ``explain("formatted")`` prints it."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def local_relation_rows(df) -> int:
    """Rows of the one LocalRelation leaf of ``df``'s analyzed plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    (leaf,) = [leaves.apply(i) for i in range(leaves.size())]
    assert leaf.nodeName() == "LocalRelation", leaf.nodeName()
    return leaf.data().size()
