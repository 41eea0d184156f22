"""Driver-built dimension frames (engine-internal helper).

Operators that ship a small driver-side table into a plan — trained
model tables, PSL rule tables, URL blocklists, union-find label
frames, eval benchmarks — used ``createDataFrame(sc.parallelize(rows,
k))``: an opaque ``LogicalRDD`` whose pickled Python rows are decoded
by a PYTHON WORKER on every executing consumer. Round-15 event logs
measured ~0.17-0.22 s per consuming segment for these
PythonRDD+ParallelCollectionRDD stages — nine of them per corpus-
funnel pass (~1.9 s), each in its own single-task job (guide §4: the
JVM<->Python boundary is pure overhead for a static table; guide §5:
the driver should ship bytes once).

:func:`dim_frame` keeps the rows driver-side instead, as an
Arrow-converted **LocalRelation**:

- a ``BroadcastExchange`` over ``LocalTableScan`` collects the rows
  on the driver with NO job at all — the nine probe stages disappear
  from the funnel pass outright;
- non-broadcast consumers scan JVM ``InternalRow``s with no Python
  worker;
- unlike ``LogicalRDD`` (whose size statistic is the unknown-size
  default, so it NEVER auto-broadcasts without an explicit hint),
  a ``LocalRelation`` carries accurate size stats — the planner can
  pick the broadcast side by itself.

With Arrow conversion off, ``createDataFrame(pandas)`` would degrade
to a parallelize over ``defaultParallelism`` slices, so such sessions
get the explicit bounded-slice ``parallelize`` LogicalRDD instead.
The switch selects the representation only; the VALUES are identical
either way.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def dim_frame(
    spark: SparkSession,
    rows: Sequence,
    schema: str | T.StructType,
    slices: int = 1,
) -> DataFrame:
    """A small driver-built table as a plan-friendly DataFrame.

    Production: Arrow-converted LocalRelation (no Python worker, no
    job per broadcast build, accurate size stats). With Arrow off: the
    opaque ``parallelize(rows, slices)`` LogicalRDD. ``slices`` only
    applies to that fallback (dim-sized frames get 1; callers with
    genuinely large label sets size it up).
    """
    rows = list(rows)
    # the LocalRelation path depends on Arrow conversion being on
    # (session.py sets it); see the module docstring for the fallback
    arrow_on = (
        str(
            spark.conf.get("spark.sql.execution.arrow.pyspark.enabled", "false")
        ).lower()
        == "true"
    )
    if not arrow_on:
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, max(1, slices)), schema
        )
    struct = (
        schema
        if isinstance(schema, T.StructType)
        # public resolution of a DDL string without private parsers:
        # an empty createDataFrame is driver-only (no job, no rows)
        else spark.createDataFrame([], schema).schema
    )
    import pandas as pd

    # object dtype end-to-end: None stays NULL (a numeric dtype would
    # coerce it to NaN) and Arrow casts each column to the declared
    # Spark type — value fidelity pinned by tests/test_dimframe.py
    pdf = pd.DataFrame(rows, columns=struct.fieldNames(), dtype=object)
    return spark.createDataFrame(pdf, schema=struct)
