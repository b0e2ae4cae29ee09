"""Structured Streaming runners over the events table.

The reference has no streaming runtime (SURVEY.md §2.9 — its "streaming"
is a daily cron batch); this module supplies the north-star streaming
operators: tumbling/sliding/session windows with watermarks, executed as
real ``readStream`` queries driven to completion with
``processAllAvailable`` (file source + memory sink — the local smoke
topology; production swaps the source for Kafka and the sink for a
checkpointed table, same plan).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import _normalize_ts, parquet_schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a bounded stream, typed and ts-normalized as
    ``load_table`` reads it."""
    path = f"{sf_dir}/events.parquet"
    reader = spark.readStream.schema(parquet_schema(path))
    if os.path.isdir(path):
        # the production layout: the table IS a directory of part
        # files — stream it directly (a pathGlobFilter on the parent
        # would match nothing and silently stream 0 rows; caught by
        # the round-8 full replay against Spark-written 3x copies)
        stream = reader.parquet(path)
    else:
        # driver testdata layout: single file per table inside a dir
        # of other tables; glob-filter down to this one
        stream = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return _normalize_ts(stream, "events")


def run_to_completion(agg: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation over its (bounded) source to the end
    and return the materialized result as a batch DataFrame."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)
    return agg.sparkSession.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str, width: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window counts per event_type (streaming)."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_completion(agg)
