"""Batch sources: the driver-provided TPC-H-ish parquet tables.

Reference parity: the reference reads Bril text from stdin / files
(utils/src/dataflow_executor.rs:21-32, impls/src/bin/test.rs:26); our
sources are columnar parquet scans so Catalyst gets predicate pushdown and
column pruning for free. At 100 TB these would be Iceberg/partitioned
parquet scans — the API here is path-based so swapping the format is a
one-line change per table.

Schema cache: ``spark.read.parquet(path)`` without a schema runs a whole
Spark job to read the parquet footers (about 70 ms of CPU on a 4-vCPU
host, against about 9 ms for the same read with a schema), and a query
reads several tables, again and again over the same files. So
``load_table`` infers a table's schema once per file-set version and then
reads it with ``spark.read.schema(cached).parquet(path)``. The key is the
absolute path, the ``(path, size, st_mtime_ns, st_ino)`` of every file
under it, and the session confs that change what Spark infers
(``_INFER_CONFS``). A rewritten table gets a new key and is inferred
again; only the newest key of a path is kept, so the cache grows with the
number of distinct tables, not of rewrites. Spark still lists the files
on every read. A path that is not a local file or directory (a URI with a
scheme, a missing path) goes through plain ``spark.read.parquet`` every
time, as does a directory that loses a file while it is listed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

# session confs whose values change the schema Spark infers from parquet
_INFER_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)

# absolute path -> (key, schema inferred under that key). Two threads
# reading one table at once may both infer it; either entry is right.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _file_set(path: str) -> tuple | None:
    """``(path, size, st_mtime_ns, st_ino)`` of every file under ``path``
    (of ``path`` itself if it is a file); None if it is no local file or
    directory, or a file under it was removed while it was listed."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(root, fn) for root, _dirs, names in os.walk(path) for fn in names
        )
    else:
        return None
    try:
        stats = [(f, os.stat(f)) for f in files]
    except FileNotFoundError:
        return None
    return tuple((f, st.st_size, st.st_mtime_ns, st.st_ino) for f, st in stats)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    full = os.path.abspath(path)
    files = _file_set(full)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(c) for c in _INFER_CONFS))
    hit = _schemas.get(full)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    # a copy: the DataFrame's own StructType is mutable and its caller's
    _schemas[full] = (key, StructType.fromJson(df.schema.jsonValue()))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
