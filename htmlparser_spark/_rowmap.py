"""The one row-expanding Python stage shared by every source, generator and
media operator: each input row becomes zero or more output rows. Also the
seeded generators' id input and the one builder of driver-side tables.

``fn`` must pickle by reference — a module-level function or a
``functools.partial`` of one, never a closure — so every worker that runs
the stage imports the package (and its ``_pyworker`` fix) when it
unpickles it.
"""
from __future__ import annotations

from functools import partial

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def flat_map(df, fn, cols, schema):
    """``df.mapInPandas`` whose output is ``fn(*row)`` for every input row:
    ``row`` holds the values of ``cols`` (plain Python objects, in that
    order) and ``fn`` returns an iterable of tuples, one per output row,
    laid out like ``schema``."""
    return df.mapInPandas(partial(_flat_map, fn, tuple(cols)), schema)


def _flat_map(fn, cols, batches):
    # output columns are matched to the schema by position; a batch with
    # no output rows is a frame with no columns, which PySpark accepts
    for pdf in batches:
        yield pd.DataFrame(
            [out for row in zip(*(pdf[c].tolist() for c in cols))
             for out in fn(*row)])


def one_row(fn, *args):
    """``[fn(*args)]``: lifts a one-row generator into a ``flat_map`` fn
    (bind it with ``partial(one_row, fn, ...)``)."""
    return [fn(*args)]


def id_range(spark, n, partitions=None):
    """Ids ``0..n-1`` (column ``id``) in ``partitions`` partitions, by
    default ``max(defaultParallelism, 4)`` — the input of the seeded
    generators, each of which is a pure function of (seed, id)."""
    partitions = partitions or max(spark.sparkContext.defaultParallelism, 4)
    return spark.range(0, n, 1, partitions)


def local_frame(spark, rows, schema):
    """Driver-side rows (tuples or ``Row``s; ``schema`` is DDL or a
    ``StructType``) as a ``LocalRelation`` shipped as Arrow. A list is a
    Python RDD that starts a daemon and a worker per core; a pandas frame
    falls back to it silently where this ``pa.Table`` raises."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)],
        schema=arrow), schema)
