"""Non-pruning guard: the timed action must execute the whole plan.

``count()`` lets Catalyst drop every column the count does not need, and
with them whole operators (a model UDF whose output is never read is
never run). The guard plans the action the benchmark times, without
executing it, and compares the multiset of work-bearing nodes with the
plan of the statement's full result.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

# nodes whose loss means skipped work: exchanges, windows, generators and
# every Python evaluation or map-in-Python operator
GUARDED = re.compile(r"Exchange|^Window|^Generate|EvalPython|MapIn")
_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")


def guarded_nodes(plan_text: str) -> Counter:
    """Multiset of guarded node names in a physical plan's tree string."""
    names = (m.group(1) for m in map(_NODE.match, plan_text.splitlines()) if m)
    return Counter(n for n in names if GUARDED.search(n))


def full_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def timed_writer(df: DataFrame):
    """The writer every timed statement is materialized through: the noop
    sink consumes every row and column, as a user's full result would."""
    return df.write.format("noop").mode("overwrite")


def timed_plan(df: DataFrame) -> str:
    """Physical plan of ``timed_writer(df).save()``, planned from the same
    write command ``save()`` builds, without executing it."""
    jvm = df.sparkSession._jvm
    command = timed_writer(df)._jwrite.saveCommand(jvm.scala.Option.empty())
    skip = jvm.org.apache.spark.sql.execution.CommandExecutionMode.SKIP()
    qe = df.sparkSession._jsparkSession.sessionState().executePlan(command, skip)
    return qe.executedPlan().toString()


def count_plan(df: DataFrame) -> str:
    """Physical plan of ``df.count()``, which Spark runs as ``groupBy().count()``."""
    return full_plan(df.groupBy().count())


def pruned(df: DataFrame, action_plan=timed_plan) -> dict[str, tuple[int, int]]:
    """Guarded node kinds the action's plan has fewer of than the full plan,
    as ``{name: (full, action)}``; empty when nothing is lost."""
    full, timed = guarded_nodes(full_plan(df)), guarded_nodes(action_plan(df))
    return {k: (n, timed[k]) for k, n in full.items() if timed[k] < n}
