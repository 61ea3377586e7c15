"""Batch table loaders for the test star schema.

One quirk: ``events.parquet`` has shipped with two physical types for
``ts`` across testdata generations — TIMESTAMP(NANOS) (which Spark's
vectorized reader rejects; ``spark.sql.legacy.parquet.nanosAsLong=true``
surfaces it as epoch-nanos LongType) and plain TIMESTAMP(MICROS)
(arriving as TIMESTAMP_NTZ).  We normalize both to the same contract:
``ts`` is a microsecond timestamp and ``ts_ns`` is an exact epoch-nanos
BIGINT (every downstream tie-break and session-gap comparison runs on
``ts_ns`` so Spark and the DuckDB oracles agree bit-for-bit).  All
conversions are integer expressions inside codegen — `div`, never
float division, so no precision loss at 2024-epoch magnitudes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # runtime-settable; required even when the caller's session was
        # not built by our factory (e.g. the verify driver's session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet read as epoch-nanos long
            df = df.withColumn("ts_ns", F.col("ts")).withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        else:
            # TIMESTAMP(MICROS) parquet (timestamp_ntz); session tz is
            # UTC so the ntz->instant cast is the identity mapping
            df = df.withColumn(
                "ts_ns",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            )
    return df
