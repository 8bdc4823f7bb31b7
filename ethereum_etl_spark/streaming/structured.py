"""Structured Streaming front-end for the CDC loop.

The batch `ChainStreamer.run` is a hand-rolled micro-batch driver mirroring
the reference's poll loop (streamer.py:90-134). This module drives the SAME
batch lifecycle (`_prepare` → `_apply_batch`, which releases the batch) from
Spark Structured Streaming instead: a file-source readStream over the WAL
directory + foreachBatch, with Spark's own checkpointing for source offsets
(SURVEY §2.10 micro-batch trigger → trigger(availableNow)/processingTime).
Both front-ends share the idempotent MERGE path, so a batch replayed by the
streaming checkpoint after a crash is absorbed exactly-once."""

from __future__ import annotations

from pyspark.sql.types import LongType, StructField, StructType

from ethereum_etl_spark.schemas import CHANGE_EVENT_SCHEMA
from ethereum_etl_spark.streaming.streamer import ChainStreamer

WAL_STREAM_SCHEMA = StructType(
    [StructField("seq", LongType(), False)] + list(CHANGE_EVENT_SCHEMA.fields)
)


def run_structured(
    streamer: ChainStreamer,
    wal_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
):
    """Tail `wal_dir` as a streaming file source and MERGE each micro-batch.

    Returns the StreamingQuery (caller awaits/stops). availableNow=True
    drains the current WAL and stops — the backfill mode; False polls like
    the reference's streamer loop (POLLING_PERIOD analog)."""
    reader = streamer.spark.readStream.schema(WAL_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(wal_dir)

    def _process(batch_df, batch_id: int) -> None:
        streamer._apply_batch(streamer._prepare(batch_df), f"stream-{batch_id}")
        streamer.lineage.record(batch_id=f"stream-{batch_id}", source="structured")

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
