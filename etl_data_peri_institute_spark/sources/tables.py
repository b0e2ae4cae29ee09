"""Parquet table catalog for the synthetic TPC-H-ish testdata.

At cluster scale these would be external tables over object storage
(date-partitioned for the transactional ones so the incremental filters
prune partitions); locally they are single parquet files. Every parquet
open in the engine is typed by ``parquet_schema`` from a footer read on
the driver — no schema-inference job — and read through
``spark.read.parquet`` so Catalyst gets filter pushdown and column
pruning for free — no manual materialization.
"""

from __future__ import annotations

import json
import os
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

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

# Spark records a parquet file's Spark schema in this footer key
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _parquet_files(root: str):
    """The visible parquet data files under ``root``, as paths relative
    to it, listed lazily in a fixed order (names sorted at each level):
    what readers read. Dot- and underscore-prefixed names (backups,
    CRCs, ``_SUCCESS``, meta files) are skipped, and so is everything
    under such a directory. A missing ``root`` has none."""
    for base, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                yield os.path.relpath(os.path.join(base, name), root)


def _footers(root: str):
    """The footers (pyarrow ``FileMetaData``) of the visible parquet
    files under ``root``, each opened on the driver when it is reached,
    in ``_parquet_files`` order."""
    for rel in _parquet_files(root):
        yield pq.read_metadata(os.path.join(root, rel))


def parquet_schema(path: str) -> T.StructType:
    """The schema Spark infers for the parquet file or directory
    ``path``, from its first data file's footer, read on the driver (no
    job; ~0.4 ms, so not cached): the Spark schema a Spark-written
    footer records, else the Arrow schema typed as Spark types parquet —
    naive timestamps as ``timestamp_ntz``, top-level TIMESTAMP(NANOS) as
    the raw ``bigint`` nanos (a nested one fails to read). A ``REQUIRED``
    column stays non-nullable here (a reader makes it nullable).
    Partition columns come from dir names. A path with no data file
    raises ``FileNotFoundError``."""
    footer = next(_footers(path), None) if os.path.isdir(path) else pq.read_metadata(path)
    if footer is None:
        raise FileNotFoundError(f"no parquet data file under {path}")
    if _SPARK_SCHEMA_KEY in (footer.metadata or {}):
        return T.StructType.fromJson(json.loads(footer.metadata[_SPARK_SCHEMA_KEY]))
    fields = [
        f.with_type(pa.int64()) if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
        for f in footer.schema.to_arrow_schema()
    ]
    return from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True)


# Timestamp normalization at the load boundary. The testdata has been
# generated with two different physical types across driver rounds:
#   * TIMESTAMP(NANOS): unreadable natively by Spark — typed ``bigint``
#     by ``parquet_schema`` (the raw nanos) and converted to microsecond
#     TimestampType (the same truncation DuckDB applies);
#   * TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads it as
#     TIMESTAMP_NTZ, which rejects arithmetic casts (e.g. to double)
#     that the plans rely on — cast to the session TimestampType (the
#     session is pinned to UTC, so the instant is the NTZ wall-clock
#     read as UTC, exactly DuckDB's naive-timestamp semantics).
# Both normalize to TimestampType(UTC) so every downstream plan sees one
# stable type regardless of which generator produced the files.
_NANO_TS_COLUMNS = {"events": ["ts"]}


def _normalize_ts(df: DataFrame, name: str) -> DataFrame:
    """``df``, a read of table ``name`` (batch or stream), with its
    ``_NANO_TS_COLUMNS`` normalized to TimestampType."""
    for col in _NANO_TS_COLUMNS.get(name, []):
        dtype = df.schema[col].dataType if col in df.columns else None
        if isinstance(dtype, T.LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dtype, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast(T.TimestampType()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The NTZ->TimestampType cast in _normalize_ts reads the wall-clock in
    # the session zone; the engine needs UTC to match DuckDB's naive
    # timestamps. session.py pins it at construction; a driver-owned
    # session that didn't go through session.py may not — set it there
    # too, but LOUDLY, because changing session.timeZone alters every
    # subsequent timestamp parse/format in that session, not just this
    # read.
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        warnings.warn(
            "load_table: overriding spark.sql.session.timeZone -> UTC "
            "(required for NTZ timestamp normalization; affects the whole "
            "session — construct sessions via session.get_spark to pin it "
            "up front)",
            stacklevel=2,
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _normalize_ts(spark.read.schema(parquet_schema(path)).parquet(path), name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API path)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
