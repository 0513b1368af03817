"""Loaders for the driver-generated parquet fixtures (TESTDATA.md).

Parquet scans are the engine's default source: splittable, columnar,
predicate/projection pushdown for free. Small dimension tables
(region/nation/supplier at any SF) are broadcast by callers at join
sites, not here -- keeping the loader policy-free.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Schema comes from the parquet footer
    (self-describing), so no inference scan happens.

    An events.parquet whose `ts` is TIMESTAMP(NANOS), which Spark's
    vectorized parquet reader rejects, is read as raw INT64 nanos
    (legacy.parquet.nanosAsLong) and truncated to microseconds --
    exactly what DuckDB's reader does, keeping the oracle comparable.
    The footer says which unit the file holds, so the session-global
    conf is set (and then unset) only around a NANOS read; the
    fixtures store MICROS and never touch it.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            from pyspark.sql import functions as F

            # integer division: epoch-nanos (~1.7e18) overflow the
            # 53-bit double mantissa, so never divide with `/`.
            return spark.read.parquet(path).withColumn(
                "ts", F.expr("timestamp_micros(ts DIV 1000)")
            )
        finally:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    return spark.read.parquet(path)


def _ts_is_nanos(path: str) -> bool:
    """True iff the footer stores `ts` as TIMESTAMP(NANOS). `path` is a
    parquet file or a directory of them, all written alike. The parquet
    logical type is read, not the arrow type, which pyarrow also maps
    Spark's INT96 timestamps to."""
    schema = pq.read_metadata(pq.ParquetDataset(path).files[0]).schema
    ts = schema.column(schema.names.index("ts"))
    return json.loads(ts.logical_type.to_json()).get("timeUnit") == "nanoseconds"


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so queries can use the SQL
    surface interchangeably with the DataFrame API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


# --- multi-format read/write (engine source/sink breadth) -------------------
# Parquet is the canonical store; CSV/JSON/ORC cover interchange with
# upstream systems. Round-trip conformance is pinned by
# tests/test_formats.py: write parquet-loaded fixtures to each format,
# read back, prove value-identity. Format notes that matter at scale:
#  - csv: header + explicit schema (NEVER inferSchema: a 100 TB
#    inference pass is a full extra scan); timestamps as ISO strings.
#  - json (JSONL): splittable line format, explicit schema for the
#    same reason.
#  - orc: columnar+splittable like parquet; the vectorized reader and
#    pushdown work the same way.

_FORMAT_OPTS: dict[str, dict[str, str]] = {
    # timestampFormat governs TIMESTAMP; TIMESTAMP_NTZ columns read the
    # separate timestampNTZFormat option — without it NTZ falls back to
    # the [.SSS] default and silently truncates micros to millis on the
    # text round trip (events.ts is NTZ with real microsecond fractions).
    "csv": {
        "header": "true",
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    },
    "json": {
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
        "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    },
    "orc": {},
    "parquet": {},
}


def write_table(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Write a DataFrame in any supported interchange format."""
    if fmt not in _FORMAT_OPTS:
        raise ValueError(f"unsupported format: {fmt}")
    df.write.mode("overwrite").options(**_FORMAT_OPTS[fmt]).format(fmt).save(
        path
    )


def read_table(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Read any supported format. For text formats (csv/json) a schema
    is REQUIRED — self-describing formats (parquet/orc) carry their
    own."""
    if fmt not in _FORMAT_OPTS:
        raise ValueError(f"unsupported format: {fmt}")
    reader = spark.read.options(**_FORMAT_OPTS[fmt]).format(fmt)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(f"{fmt} requires an explicit schema")
        reader = reader.schema(schema)
    elif schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
