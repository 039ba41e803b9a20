"""Structured Streaming variant of the pipeline.

The reference's library mode is a streaming consumer over a growing log file
(EP2, slow.go:43-71): events appear on a channel as the file grows.  The
Spark-native equivalent is a file-source stream over the tokens table
directory: new chunk files are discovered per micro-batch, pushed through the
SAME parse/fingerprint operators (mapInPandas works unchanged under
readStream), and aggregated with event-time windows + watermark for late
data.  Spark's streaming checkpoint (offsets/state under `checkpoint_dir`)
replaces the reference's caller-persisted StartOffset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_log_parser_spark.pipeline import events
from mysql_log_parser_spark.sources.tokens_table import TOKENS_DDL


def stream_events(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over tokens chunks -> parsed+fingerprinted event stream."""
    reader = spark.readStream.schema(TOKENS_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return events(reader.parquet(input_dir))


def windowed_class_counts(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed per-class digest with late-data watermark.

    Event time comes from the parsed `ts` (yyMMdd H:mm:ss); events without a
    parsable ts fall back to processing time so they are not dropped.
    """
    ev = events.withColumn(
        "event_time",
        F.coalesce(
            F.try_to_timestamp(F.col("ts"), F.lit("yyMMdd H:mm:ss")),
            F.current_timestamp(),
        ),
    )
    return (
        ev.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"), F.col("class_id"))
        .agg(
            F.count(F.lit(1)).alias("total_queries"),
            F.sum(F.col("query_time").cast("double")).alias("qt_sum"),
            F.max("query_time").alias("qt_max"),
            F.first("fingerprint").alias("fingerprint"),
        )
    )


def start_routed_sink(
    events: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Fan-out sink: per-source partitioned parquet, exactly-once via the
    streaming checkpoint (replaces caller-persisted StartOffset)."""
    w = (
        events.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("source")
        .outputMode("append")
    )
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()
