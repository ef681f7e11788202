"""Structured Streaming operators over the `events` stream.

The parquet directory is treated as a file-source stream (for local smoke a
memory sink + processAllAvailable drives the batch to completion, per the
public Structured Streaming guide).  The same exact-integer discipline as the
batch queries applies so streamed aggregates agree with their batch analogs.
Checkpoints are written through the FileSystem checkpoint manager that
engine.session.build_session selects (spark.sql.streaming.checkpointFileManagerClass).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.tables import SCHEMAS

# The declared events schema with `ts` as TIMESTAMP: watermarks require
# TIMESTAMP, not the NTZ the batch queries read.
EVENT_SCHEMA = ", ".join("ts timestamp" if f == "ts timestamp_ntz" else f
                         for f in SCHEMAS["events"].split(", "))


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The file-stream source requires a directory; select the events file(s)
    # out of the sf dir with a glob filter.
    return (spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .option("pathGlobFilter", "events*.parquet")
            .parquet(sf_dir.rstrip("/")))


def windowed_counts(events: DataFrame, window: str = "6 hours") -> DataFrame:
    """Tumbling-window per-type counts and exact value sums (cents)."""
    value_c = F.round(F.col("value") * 100, 0).cast("long")
    return (events
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", window), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(value_c).alias("sum_value_c"))
            .select(F.col("window.start").alias("w_start"),
                    "event_type", "n", "sum_value_c"))


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming dedup on the composite key (event_id, ts) within the
    watermark: a record is a duplicate only if both its id and timestamp
    repeat.  (ts must be part of the key for the watermark to bound state.)

    At scale the dedup state holds every in-watermark key; select the RocksDB
    state store (and its changelog checkpointing) with Spark's own `--conf` or
    spark-defaults.conf so state lives off the executor heap."""
    return events.withWatermark("ts", "1 hour").dropDuplicates(["event_id", "ts"])


def run_to_memory(df: DataFrame, name: str | None = None, mode: str = "append") -> str:
    """Drive a streaming DataFrame to completion into a memory sink in output
    mode `mode` ("append", or "complete" for aggregations); returns the
    queryable table name."""
    name = name or f"s_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.outputMode(mode)
         .format("memory").queryName(name).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return name


def run_aggregation_to_memory(df: DataFrame, name: str | None = None) -> str:
    """run_to_memory in complete mode, for aggregations."""
    return run_to_memory(df, name, mode="complete")
