"""What did this sink just write? Named aggregates that ride the sink's
own action instead of a cache and a second job.

``observe(df, *metrics)`` attaches the aggregates to ``df`` as a
CollectMetrics node (``DataFrame.observe``) and returns the observed
frame plus a getter. The caller runs its one action (write, checkpoint,
count) over the observed frame; the getter then returns the aggregates
that action computed on the way through, as a dict keyed by alias.

The one corner, Spark 4.1 with AQE: when the rows above the observed
node come out empty at runtime (a filter or join downstream of the
observation drops everything), AQE's empty-relation propagation can
prune the CollectMetrics node from the executed plan. The observation
then completes with a schemaless row and ``Observation.get`` raises a
py4j ``java.lang.AssertionError`` from ``PythonSQLUtils.toPyRow``. The
getter answers that case with one eager ``df.agg(*metrics)``: the node
passes every row of ``df`` through unchanged, so the aggregate over
``df`` is exactly what the observation would have returned. Any other
failure propagates.
"""

from __future__ import annotations

from typing import Any, Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation


def _pruned_empty(e: Py4JJavaError) -> bool:
    return e.java_exception.getClass().getName() == "java.lang.AssertionError"


def observe(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, Callable[[], dict[str, Any]]]:
    """Return ``(observed_df, get)``. ``metrics`` are aliased aggregate
    columns (no DISTINCT aggregates: Spark rejects them in observations;
    ``size(collect_set(c))`` counts distinct values instead). Call
    ``get()`` only after an action over ``observed_df`` has consumed all
    of its rows — before that it blocks."""
    obs = Observation()

    def get() -> dict[str, Any]:
        try:
            return obs.get
        except Py4JJavaError as e:
            if not _pruned_empty(e):
                raise
        return df.agg(*metrics).first().asDict()

    return df.observe(obs, *metrics), get
