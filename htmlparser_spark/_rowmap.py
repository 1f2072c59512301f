"""The one row-expanding Python stage shared by every source, generator and
media operator: each input row becomes zero or more output rows. Also the
seeded generators' id input and the one builder of Arrow batches from rows.

``fn`` must pickle by reference — a module-level function or a
``functools.partial`` of one, never a closure — so every worker that runs
the stage imports the package (and its ``_pyworker`` fix) when it
unpickles it.
"""
from __future__ import annotations

from functools import partial

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def arrow_schema(schema) -> pa.Schema:
    """The Arrow form of a Spark schema (DDL or ``StructType``). Resolve it
    on the driver: ``DataType.fromDDL`` needs the JVM."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    return to_arrow_schema(schema)


def arrow_batch(rows, arrow: pa.Schema) -> pa.RecordBatch:
    """Row tuples laid out like ``arrow`` as one record batch. Arrow reads a
    naive datetime as UTC and an aware one as its instant."""
    return pa.RecordBatch.from_arrays(
        [pa.array([r[i] for r in rows], f.type) for i, f in enumerate(arrow)],
        schema=arrow)


def flat_map(df, fn, cols, schema):
    """``df.mapInArrow`` whose output is ``fn(*row)`` for every input row:
    ``row`` holds the values of ``cols`` (plain Python objects, in that
    order; timestamps are aware) and ``fn`` returns an iterable of tuples,
    one per output row, laid out like ``schema``."""
    return df.mapInArrow(
        partial(_flat_map, fn, tuple(cols), arrow_schema(schema)), schema)


def _flat_map(fn, cols, arrow, batches):
    for batch in batches:
        yield arrow_batch(
            [out for row in zip(*(batch.column(c).to_pylist() for c in cols))
             for out in fn(*row)], arrow)


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
    return spark.createDataFrame(
        pa.Table.from_batches([arrow_batch(rows, arrow_schema(schema))]),
        schema)
