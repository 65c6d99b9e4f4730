"""Structured Streaming operators: incremental ingest + dedup + windowed aggs.

The reference is pure batch (SURVEY.md §2.11) — its generator/queue prefetch
is I/O overlap, not stream semantics. These jobs are the Spark-native
incremental path: new files land in the ingest directory, and each
micro-batch extends the dedup/metrics state without reprocessing history.

- file source + ``Trigger.AvailableNow`` gives replayable, checkpointed
  incremental batches (the streaming twin of CheckpointStore resume);
- exact dedup uses ``dropDuplicates`` on the content hash with state kept
  in the streaming state store, one entry per distinct content;
- windowed aggregation uses event-time + watermark for late data, and is
  the query ``stream_hourly_window``.

Tested with availableNow against the equivalent batch computation
(tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_repo_stream(
    spark: SparkSession, input_dir: str, schema: str | None = None
) -> DataFrame:
    """File-source stream of repo rows (parquet files dropped into
    input_dir). Schema must be provided or inferrable from existing files."""
    reader = spark.readStream.format("parquet")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        static = spark.read.parquet(input_dir)
        reader = reader.schema(static.schema)
    return reader.load(input_dir)


def incremental_exact_dedup(stream: DataFrame, content_col: str = "content") -> DataFrame:
    """Emit only first-seen contents across all micro-batches (state-store
    backed). Output adds ``content_sha``. State grows with distinct
    contents: there is no watermark, so no entry ever expires."""
    return stream.withColumn(
        "content_sha", F.sha2(F.col(content_col), 256)
    ).dropDuplicates(["content_sha"])


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time tumbling window counts with late-data watermark. Sums
    ride DECIMAL(18,2) and are cast to double once, so accumulation order
    cannot drift the doubles."""
    # parquet written by pandas carries TIMESTAMP_NTZ; watermarks require
    # TIMESTAMP (with tz) — session tz is pinned UTC so the cast is lossless
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            F.col("sv").cast("double").alias("sum_value"),
        )
    )


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, output_dir: str, output_mode: str = "append"
) -> None:
    """Drain everything currently available, checkpointed, then stop —
    the batch-testable incremental trigger."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("checkpointLocation", checkpoint_dir)
        .option("path", output_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
