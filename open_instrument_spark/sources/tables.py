"""Parquet table loading for the driver's synthetic testdata.

The reference's storage layer (indexed block files with per-variable
offset/min-max-ts indexes, server/record_log.cc:187-271) is subsumed by
Parquet: row-group min/max statistics give the same time-range skipping,
and the FileIndex gives the same file pruning (SURVEY.md §4). Loading is
therefore just ``spark.read.parquet`` with the schema taken from the
file's Arrow footer — Catalyst owns the scan.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_instrument_spark.model import events_to_points

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


@lru_cache(maxsize=256)
def _read_schema(path: str, infer_ntz: bool) -> tuple[T.StructType, tuple[str, ...]]:
    """(Spark read schema, TIMESTAMP(NANOS) columns) of one parquet
    file, built from its Arrow schema so loading launches no footer
    inference job. Types are the ones Spark's inference gives, with
    ``infer_ntz`` standing for ``spark.sql.parquet.inferTimestampNTZ
    .enabled`` (tz-naive timestamps), except nanos: Spark has no nanos
    timestamp type, so those columns read as long
    (legacy.parquet.nanosAsLong) and ``Tables.table`` converts them to
    µs TimestampType — truncating like DuckDB/Arrow do on ns→µs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    fields, nanos = [], []
    for f in pq.read_schema(path):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            nanos.append(f.name)
            dtype = T.LongType()
        else:
            dtype = from_arrow_type(f.type, prefer_timestamp_ntz=infer_ntz)
        fields.append(T.StructField(f.name, dtype, True))
    return T.StructType(fields), tuple(nanos)


@dataclass
class Tables:
    spark: SparkSession
    sf_dir: str

    def table(self, name: str) -> DataFrame:
        path = os.path.join(self.sf_dir, f"{name}.parquet")
        infer_ntz = self.spark.conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled").lower() == "true"
        schema, nanos = _read_schema(path, infer_ntz)
        df = self.spark.read.schema(schema).parquet(path)
        for c in nanos:
            # integer `div` keeps full precision (double division of
            # epoch-nanos would round the microsecond).
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)

    def points(self) -> DataFrame:
        """The canonical points view over the events table (FIXTURES.md §2)."""
        return events_to_points(self.table("events"))

    def register_views(self) -> None:
        for name in TABLE_NAMES:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.table(name).createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> Tables:
    return Tables(spark, sf_dir or DEFAULT_SF_DIR)


def points_from_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir).points()
