"""Structured Streaming ops, driven with availableNow and compared against
their batch twins."""

import pathlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from belb_spark.streaming.incremental import (
    incremental_exact_dedup,
    read_repo_stream,
    run_available_now,
    windowed_event_counts,
)


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp(prefix="belb_stream_")
    yield pathlib.Path(d)
    shutil.rmtree(d, ignore_errors=True)


def test_incremental_dedup_two_batches(spark, tiny_spark, workdir):
    """Drop files in two waves; the second wave's duplicates (already seen
    contents) must NOT be re-emitted — state survives across runs via the
    stream checkpoint."""
    repos = tiny_spark["repos"].limit(200).cache()
    in_dir, out_dir, ckpt = (
        str(workdir / "in"),
        str(workdir / "out"),
        str(workdir / "ckpt"),
    )
    # wave 1: first 100 rows
    repos.filter("uid <= 100").write.mode("overwrite").parquet(in_dir)
    stream = incremental_exact_dedup(read_repo_stream(spark, in_dir))
    run_available_now(stream, ckpt, out_dir)
    n1 = spark.read.parquet(out_dir).count()
    distinct1 = (
        repos.filter("uid <= 100").select(F.sha2("content", 256)).distinct().count()
    )
    assert n1 == distinct1

    # wave 2: append rows 101-200 (some repeat wave-1 contents)
    repos.filter("uid > 100").write.mode("append").parquet(in_dir)
    stream = incremental_exact_dedup(read_repo_stream(spark, in_dir))
    run_available_now(stream, ckpt, out_dir)
    out = spark.read.parquet(out_dir)
    total_distinct = repos.select(F.sha2("content", 256)).distinct().count()
    assert out.count() == total_distinct
    # no content emitted twice
    assert out.select("content_sha").distinct().count() == out.count()


def test_windowed_counts_match_batch(spark, workdir):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir, out_dir, ckpt = (
        str(workdir / "in"),
        str(workdir / "out"),
        str(workdir / "ckpt"),
    )
    events.write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(events.schema).parquet(in_dir)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    # windowed aggregation on a finite stream: complete-mode to a memory sink
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from win_counts")
    batch = events.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
    assert got.count() == batch.count()
    diff = got.select("window_start", "event_type", "cnt").exceptAll(
        batch.select("window_start", "event_type", "cnt")
    )
    assert diff.count() == 0
