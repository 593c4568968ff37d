"""Parquet sources for the driver's synthetic tables (TESTDATA.md).

Scale notes: ``spark.read.parquet`` gives vectorized columnar scans with
predicate pushdown + column pruning for free — every query in ``plans/``
is written so its filters and projections reach the scan (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``). At
100 TB the same call reads a partitioned directory tree; nothing here
assumes single-file inputs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import SESSION_MEMO

# The driver's fixture tables (TESTDATA.md). Order mirrors dependency-ish
# order the way the reference fixes its ten-table copy order
# (/root/reference/hhek2sqlite.go:1287-1296).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _file_signature(path: str) -> tuple:
    """((relpath, size, mtime_ns), ...) of every file under ``path`` (a
    file or a table directory); ``os.stat`` only, no Spark job."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for root, _, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            sig.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the inferred schema is metadata a catalog would supply: memoized
    # per file version, so a table is footer-read (one Spark job) once
    # per session and again only after it is rewritten
    schema = SESSION_MEMO.get(
        spark, "parquet.schema", ((path, _file_signature(path)),), lambda: spark.read.parquet(path).schema
    )
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = _normalize_events(df)
    return df


def _normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a canonical ``TIMESTAMP`` regardless of
    how the driver wrote the fixture. Known layouts:

    - parquet TIMESTAMP(NANOS) read as a raw nanosecond long (under
      ``spark.sql.legacy.parquet.nanosAsLong``): integer-DIV to micros
      (epoch nanos overflow double's 53-bit mantissa, so float division
      would drift by microseconds);
    - parquet ``timestamp[us]`` with no UTC annotation, read by Spark as
      ``TIMESTAMP_NTZ``: cast to ``TIMESTAMP`` — the session TZ is pinned
      UTC on every build path, so epoch values are unchanged and DuckDB's
      ``epoch_us(ts)`` oracles keep matching;
    - already ``TIMESTAMP``: pass through.

    Anything else raises so a driver-side fixture refresh fails loudly at
    load instead of deep inside a window expression.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    elif isinstance(dt, TimestampType):
        pass
    else:
        raise TypeError(
            f"events.ts has unrecognized type {dt}; expected raw nanos LONG, "
            "TIMESTAMP_NTZ, or TIMESTAMP — fixture layout drifted, update "
            "_normalize_events"
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
