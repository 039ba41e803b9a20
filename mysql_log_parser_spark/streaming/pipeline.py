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

from mysql_log_parser_spark.operators.aggregate import class_digest
from mysql_log_parser_spark.pipeline import events
from mysql_log_parser_spark.sources.tokens_table import TOKENS_SCHEMA


def stream_events(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over tokens chunks -> parsed+fingerprinted event stream."""
    reader = spark.readStream.schema(TOKENS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return events(reader.parquet(input_dir))


def windowed_class_counts(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed per-class digest with late-data watermark:
    class_digest grouped by (win, class_id), reduced to the count, the
    Query_time sum and max, and the fingerprint.

    Event time comes from the parsed `ts` (yyMMdd H:mm:ss); events without a
    parsable ts fall back to processing time so they are not dropped.
    """
    event_time = F.coalesce(
        F.try_to_timestamp(F.col("ts"), F.lit("yyMMdd H:mm:ss")),
        F.current_timestamp(),
    )
    ev = events.withColumn("event_time", event_time).withWatermark("event_time", watermark)
    return class_digest(
        ev.withColumn("win", F.window("event_time", window)), group_extra=("win",)
    ).select(
        "win", "class_id", "total_queries", "query_time_sum", "query_time_max", "fingerprint"
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
