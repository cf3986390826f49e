"""Structured Streaming over the events table.

The same hourly aggregation as queries.q_events_hourly, expressed as a
readStream -> watermark -> window -> writeStream pipeline.  In tests
the parquet directory is replayed as a file stream (maxFilesPerTrigger)
and the sink is an in-memory table, proving batch/stream parity —
Spark's unified semantics make the windowed results identical to the
batch groupBy once the stream is drained.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = ("event_id long, ts timestamp, user_id long, "
                 "event_type string, value double, props string")


def hourly_stream(spark: SparkSession, events_dir: str,
                  watermark: str = "2 hours") -> DataFrame:
    """readStream over a parquet dir -> watermarked hourly windows."""
    src = (spark.readStream.schema(EVENTS_SCHEMA)
           .option("maxFilesPerTrigger", 1)
           .parquet(events_dir))
    return (src.withWatermark("ts", watermark)
               .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
               .agg(F.count("*").alias("n_events"),
                    F.round(F.sum("value"), 4).alias("sum_value"))
               .select(F.col("win.start").alias("hour"), "event_type",
                       "n_events", "sum_value"))


def run_to_memory(spark: SparkSession, events_dir: str,
                  name: str = "hourly_events",
                  timeout_s: float = 120.0) -> DataFrame:
    """Drain the stream into an in-memory sink (complete mode) and
    return the result table."""
    q = (hourly_stream(spark, events_dir)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(timeout_s)
    q.stop()
    return spark.table(name)
