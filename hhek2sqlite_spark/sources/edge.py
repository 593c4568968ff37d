"""The one crossing between driver-side Python rows and Spark.

Every single-file container this package reads or writes (SQLite, the
Jet ``.mdb`` files, the streaming SQLite sink) is I/O on the driver, so
each needs Python values going into Spark and coming back out. Both
directions cross in Arrow form, here and nowhere else:

- ``rows_to_df`` builds a typed ``pyarrow.Table`` and hands it to
  ``createDataFrame``, which makes a JVM ``LocalRelation``: no pickled
  Python RDD, no Python worker.
- ``df_to_rows`` runs one ``toArrow`` collect: one Spark job, however
  many partitions the frame has.

``per_table`` runs one function per table name on its own thread, so
a container's per-table Spark jobs are in flight at once; it is the
package's only thread pool.

Values cross as a collected ``Row`` carries them. ``TimestampType`` goes
through Spark's own ``toInternal``/``fromInternal``, so a naive datetime
means local wall time both ways, exactly as on the row path; building
the Arrow column from naive datetimes directly would read them as UTC.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Iterator, TypeVar

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, TimestampType
from pyspark.util import inheritable_thread_target

_TS = TimestampType()
_R = TypeVar("_R")


def _arrow_column(values: list, dtype, arrow_type: pa.DataType) -> pa.Array:
    if isinstance(dtype, TimestampType):
        return pa.array([_TS.toInternal(v) for v in values], pa.int64()).cast(arrow_type)
    return pa.array(values, type=arrow_type)


def rows_to_df(spark: SparkSession, rows: list, schema: StructType) -> DataFrame:
    """Rows whose values are in ``schema``'s column order -> a DataFrame
    over a JVM local relation."""
    arrow_schema = to_arrow_schema(schema)
    arrays = [
        _arrow_column([r[i] for r in rows], f.dataType, arrow_schema.field(i).type)
        for i, f in enumerate(schema.fields)
    ]
    # a non-nullable column holding NULL fails here, in the cast to schema
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def _py_values(column: pa.ChunkedArray) -> list:
    if pa.types.is_timestamp(column.type) and column.type.tz is not None:
        return [_TS.fromInternal(v) for v in column.cast(pa.int64()).to_pylist()]
    return column.to_pylist()


def df_to_rows(df: DataFrame) -> list[tuple]:
    """All of ``df`` as row tuples in ``df.columns`` order, collected
    with one ``toArrow``."""
    return list(zip(*(_py_values(c) for c in df.toArrow().columns)))


def per_table(spark: SparkSession, fn: Callable[[str], _R], names: list[str]) -> Iterator[_R]:
    """``fn(name)`` for every name, one thread each, all at once; yields
    the results in ``names`` order. The Spark scheduler queues whatever
    tasks exceed the cores.

    Each submission is wrapped in its own ``inheritable_thread_target``,
    so every thread starts from its own clone of the caller's local
    properties: job groups and descriptions reach it, and concurrent SQL
    executions never share one ``Properties`` object.

    The first ``fn`` error is raised from the ``next`` that reaches it,
    after every thread has finished. A caller that may stop early closes
    the generator (``contextlib.closing``), which also waits for them.
    """
    with ThreadPoolExecutor(max(len(names), 1), thread_name_prefix="per_table") as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(fn), n) for n in names]
        for f in futures:
            yield f.result()
