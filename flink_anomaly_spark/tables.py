"""Catalog: the driver's deterministic parquet tables (TESTDATA.md).

``spark.read.parquet`` gives vectorized scans with predicate pushdown
and column pruning for free — at 100 TB these scans are partition-pruned
and column-pruned by Catalyst as long as downstream code stays in the
DataFrame API (it does).
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
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


#: columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
#: reader rejects. We read them as int64 nanos and truncate to µs —
#: exactly what DuckDB does when it casts TIMESTAMP_NS → TIMESTAMP, so
#: engine and oracle agree to the microsecond.
_NANOS_TS_COLS = {"events": ["ts"]}

#: Schemas already inferred, one per parquet file version. Inference
#: runs a one-task Spark job (``mergeSchemasInParallel``) on every bare
#: ``spark.read.parquet``; a known schema skips it. Keyed by absolute
#: path, inode, size and ``st_mtime_ns`` (a rewritten file is a new
#: key) plus ``nanosAsLong``, which changes the inferred type of
#: TIMESTAMP(NANOS) columns. Least-recently-used entries are evicted
#: past ``_SCHEMA_CACHE_MAX``.
_SCHEMA_CACHE: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMA_CACHE_MAX = 256
_SCHEMA_LOCK = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of each version of a single-file table. Directories are
    always inferred: a part file rewritten in place leaves the
    directory's own stat unchanged."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (
        os.path.abspath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
    )
    with _SCHEMA_LOCK:
        schema = _SCHEMA_CACHE.get(key)
        if schema is not None:
            _SCHEMA_CACHE.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMA_LOCK:
        _SCHEMA_CACHE[key] = df.schema
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table.

    SIDE EFFECT (documented, deliberate): loading a nanos-timestamp
    table sets ``spark.sql.legacy.parquet.nanosAsLong`` and pins the
    session timezone to UTC — required so the driver's own (unconfigured)
    SparkSession reads events identically to the DuckDB oracle. The
    engine standardizes on UTC everywhere (session.get_spark does the
    same); callers needing a non-UTC session TZ should not mix it with
    this catalog.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _NANOS_TS_COLS.get(name, [])
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp_micros() builds a session-TZ timestamp; pin UTC so
        # the value equals DuckDB's TZ-naive reading in any environment
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read_parquet(spark, path)
        types = dict(df.dtypes)
        for c in nanos_cols:
            # only convert when the column actually read as int64 nanos —
            # re-written copies of the table already carry µs timestamps
            if types.get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        return df
    return _read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API surface)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
