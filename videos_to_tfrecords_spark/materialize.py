"""One materialization scope: every persist and local checkpoint an operator
makes goes through ``with materialized() as m:``, which releases them.

- ``keep(df)`` persists a frame that several consumers of one plan read.
  It stays lazy: the first job that reads it fills the cache.
- ``cut(df, eager=True)`` local-checkpoints a frame: lazily to keep an
  iterative loop's lineage one round deep (the next job fills it), eagerly
  as a barrier, so concurrent AQE stage jobs of its consumers read its
  blocks instead of each re-deriving it from the sources.
- ``result(df)`` eagerly local-checkpoints the frame the operator returns.

Release rule: when the scope exits, normally or by an exception, it
releases every ``keep`` and ``cut`` (on an exception, every ``result``
too), without blocking and without starting a Spark job. A released
checkpoint cannot be read again (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``) and
a released ``keep`` is silently recomputed, so whatever the returned frame
reads must be materialized by ``result`` before the scope exits.
``DataFrame.unpersist()`` leaves a local checkpoint's RDD registered, and
``RDD.unpersist`` logs a WARN for every locally checkpointed RDD, so the
scope unpersists the checkpointed RDD through its ``SparkContext``.

A checkpoint collapses ``explain`` to ``Scan ExistingRDD``: inside ``with
inner_plans() as plans:`` each ``cut`` and ``result`` appends its frame's
``QueryExecution``, which ``plan_text`` renders.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Iterator

_recording: ContextVar[list | None] = ContextVar("inner_plans", default=None)


class Scope:
    def __init__(self) -> None:
        self._kept: list = []  # DataFrames
        self._cut: list = []  # JVM RDDs
        self._results: list = []  # JVM RDDs

    def keep(self, df):
        df = df.persist()
        self._kept.append(df)
        return df

    def cut(self, df, eager: bool = True):
        return _checkpoint(df, eager, self._cut)

    def result(self, df):
        return _checkpoint(df, True, self._results)


def _checkpoint(df, eager: bool, made: list):
    plans = _recording.get()
    if plans is not None:
        plans.append(df._jdf.queryExecution())
    out = df.localCheckpoint(eager=eager)
    # a local checkpoint's analyzed plan is the LogicalRDD over its RDD
    made.append(out._jdf.queryExecution().analyzed().rdd())
    return out


@contextmanager
def materialized() -> Iterator[Scope]:
    scope = Scope()
    failed = True
    try:
        yield scope
        failed = False
    finally:
        for df in scope._kept:
            df.unpersist(blocking=False)
        for rdd in scope._cut + (scope._results if failed else []):
            rdd.context().unpersistRDD(rdd.id(), False)


@contextmanager
def inner_plans() -> Iterator[list]:
    """Collect the ``QueryExecution`` of every frame a ``cut`` or
    ``result`` materializes inside the block."""
    plans: list = []
    token = _recording.set(plans)
    try:
        yield plans
    finally:
        _recording.reset(token)


def plan_text(qe) -> str:
    """The physical plan of a recorded frame as planned before it ran (AQE's
    initial plan), one operator per line. A persisted frame it reads shows
    as its scan: Spark's own rendering repeats that frame's whole plan under
    every scan of it (with AQE's final and initial plans once it has run)."""
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    lines, stack = [], [(plan, 0)]
    while stack:
        node, depth = stack.pop()
        lines.append("  " * depth + node.simpleString(2000))
        kids = node.children()
        stack += [(kids.apply(i), depth + 1) for i in reversed(range(kids.size()))]
    return "\n".join(lines)
