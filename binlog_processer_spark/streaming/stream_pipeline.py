"""Structured Streaming variant of the pipeline.

The reference runs continuously off RabbitMQ/Kafka queues
(RabbitMqProcessor.java:166-197, SURVEY.md §2.9); the Spark-native analogue is
a file-source stream processed with ``Trigger.AvailableNow`` (drain whatever
is queued, then stop — the repeated-batch operation mode) and ``foreachBatch``
for the routed write + aggregate merge, which is exactly the reference's
per-file unit of work.

Two flavors:
- ``run_streaming_pipeline``: foreachBatch → full batch route() per
  micro-batch, counts merged into a snapshot table. Order-dependent operators
  (the soft-delete window) are batch-local, matching the reference where the
  flag never crosses file boundaries (IgnoreStrategy state dies with the
  reader, BinlogFileReader.java:77-92).
- ``streaming_running_counts``: a pure streaming aggregation
  (groupBy + AvailableNow + memory sink) — running per-sink op totals with
  Spark-managed state, demonstrating the stateful-aggregation path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parse import keyed_events, parse_raw, split_quarantine
from ..operators import aggregate as agg
from ..operators.enrich import enrich_routing
from ..operators.route import route
from ..storage.table import SnapshotTable

RAW_SCHEMA = "raw string"


def run_streaming_pipeline(
    spark: SparkSession,
    raw_dir: str,
    routing_df: DataFrame,
    out_dir: str,
    max_files_per_trigger: int | None = None,
) -> SnapshotTable:
    """Drain raw_dir with AvailableNow; per micro-batch: parse → enrich →
    route → append per-sink counts to a snapshot table. Returns the counts
    table (read it for the merged result)."""
    counts_table = SnapshotTable(os.path.join(out_dir, "sink_counts_stream"))

    reader = spark.readStream.schema(RAW_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(raw_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        good = keyed_events(parse_raw(batch_df))
        routed, _ign = route(enrich_routing(good, routing_df))
        batch_counts = agg.sink_counts(routed).withColumn(
            "batch_id", F.lit(batch_id)
        )
        counts_table.write(batch_counts.coalesce(1), mode="append")

    q = (
        raw.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counts_table


def merged_stream_counts(spark: SparkSession, counts_table: SnapshotTable) -> DataFrame:
    """Merge per-batch count increments into final per-sink totals (the
    cross-batch combine the reference does in MySQL, DBbiz.java:85-112)."""
    return (
        counts_table.read(spark)
        .groupBy("tree", "db_instance", "database_name", "table_name", "part_date")
        .agg(
            F.sum("insert_cnt").alias("insert_cnt"),
            F.sum("update_cnt").alias("update_cnt"),
            F.sum("delete_cnt").alias("delete_cnt"),
        )
    )


def streaming_running_counts(
    spark: SparkSession, raw_dir: str, query_name: str = "running_counts"
) -> DataFrame:
    """Pure streaming aggregation: running per-(source, op) totals with
    Spark-managed state, complete-mode memory sink, AvailableNow drain."""
    raw = spark.readStream.schema(RAW_SCHEMA).parquet(raw_dir)
    good, _ = split_quarantine(parse_raw(raw))
    counts = good.groupBy("source", "op").agg(
        F.count("*").alias("cnt"), F.max("commit_ts").alias("max_commit_ts")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
