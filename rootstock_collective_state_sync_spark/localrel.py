"""Driver-side literal relations without per-partition Python runners.

``spark.createDataFrame(list_of_rows)`` parallelizes the rows into
``defaultParallelism`` slices, and EVERY materialization of the frame
(each broadcast, each count, each subtree that scans it) then runs one
task per slice through a Python runner — 32 near-empty tasks of
~170-250 ms of pure worker-handshake cost each on ``local[32]``,
measured on the PQ query-LUT frame (r17: task metrics showed 32 tasks,
0 records read, ~250 ms executorRunTime apiece; a ``coalesce(1)``
variant was WORSE — the single task pays the 32 handshakes
sequentially). The Arrow path ships the rows as JVM-readable record
batches instead: no Python runner exists at execution time and the
slice count follows the row count, not the core count. Measured 0.97 s
-> 0.12 s per materialization for a 5-row LUT frame (guide §4.1: keep
the JVM<->Python boundary out of the per-task path).

Callers: control-plane frames of the operators and plans (query
tables, probe lists, sketch renders, spines) and the sync loop's
driver batches (``streaming.sync``: each entity flush of at most
``merge_chunk_rows`` rows, the changelog ingest and the watermark
row), which ``merge_upsert`` then reads as ``LocalTableScan``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T


def _has_nan(cell) -> bool:
    """True when a cell (or any element of a nested list/tuple cell)
    is a float NaN."""
    if isinstance(cell, float):
        return cell != cell
    if isinstance(cell, (list, tuple)):
        return any(_has_nan(x) for x in cell)
    return False


def local_df(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """``createDataFrame`` for driver-side row lists (see the module
    docstring for the callers); ``schema`` is a DDL string or a
    ``StructType``. Identical values to
    ``spark.createDataFrame(rows, schema)`` — pandas is a transport
    here, never arithmetic: every cell rides as a Python object
    (``dtype=object``) straight into Arrow, so ints stay exact and
    floats keep their bits. Falls back
    to the plain path when rows are empty (no column count to build a
    pandas frame from) or Arrow cannot represent a cell (the session
    enables Arrow fallback anyway): a Decimal beyond the column's
    precision takes that path too and still raises, when the frame
    is first read.

    Every top-level column of the frame is nullable, whatever
    ``schema`` declares: the Arrow path does not check nullability, and
    a null under a column declared NOT NULL would let the optimizer
    fold ``IS NULL`` on it to false. A caller that needs NOT NULL checks
    it on the frame (``merge_upsert`` does)."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema.fields]
    )
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    if any(_has_nan(c) for r in rows for c in r):
        # Arrow reads a NaN in an object column as null — a value
        # change the plain path does not make. None of the engine's
        # control-plane frames carry NaN today; route any that ever
        # do through the exact path.
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    width = len(rows[0])
    pdf = pd.DataFrame(
        {i: pd.Series([r[i] for r in rows], dtype=object) for i in range(width)}
    )
    try:
        return spark.createDataFrame(pdf, schema)
    except Exception:
        # e.g. a cell type Arrow cannot map under this schema — the
        # plain (slower, correct) path is always available
        return spark.createDataFrame(rows, schema)
