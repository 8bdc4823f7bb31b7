"""Message-queue re-ingest front-end (S12 — the reference's AMQP streamer).

The reference's ``AmqpStreamerAdapter`` (cli/amqp_stream.py:22-160) consumes
JSON messages from a RabbitMQ queue where each message is a list of
previously-exported items. It does NOT trust the message payload as data:
it reads the item type + block span from the message, then re-runs
``export_all(start_block, end_block)`` against the node so the DB converges
to node truth, acks the message, and routes malformed messages (missing
item type) or failed ranges to a dead-letter exchange
(cli/amqp_stream.py:111-141).

Spark-first rendering: the queue is a Structured Streaming **file source**
over a directory of JSON-lines message files (the sandbox has no broker;
a Kafka source would be a one-line reader swap — both deliver the same
micro-batch DataFrame). Each micro-batch:

1. malformed messages (NULL item type) → the shared errors table
   (``ChainStreamer.dead_letter``) — the DLX analog;
2. valid messages are reduced to their covered block span per the
   reference's rule (``number`` for block items, ``block_number``
   otherwise, cli/amqp_stream.py:120-125);
3. the span is re-read FROM THE WAL (the node analog) and replayed through
   ``ChainStreamer._prepare`` + ``_apply_batch`` — the ``export_all``
   re-export. The MERGE path is idempotent per (key, seq), so at-least-once
   delivery (redelivered messages, checkpoint replay after a crash)
   converges exactly-once — the same guarantee the reference gets from
   ack-after-process + ReplacingMergeTree.

Spark's streaming checkpoint owns source offsets (the ack analog):
a crashed batch is redelivered in full on restart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ethereum_etl_spark.streaming.streamer import ChainStreamer

# One JSON-lines row per exported item, mirroring the reference message
# fields it actually reads: item `type`, `number` (blocks) / `block_number`
# (every other entity). Anything else in the message is ignored — the range
# is re-exported from source truth, never upserted from the message body.
AMQP_MESSAGE_SCHEMA = StructType(
    [
        StructField("type", StringType(), True),
        StructField("number", LongType(), True),
        StructField("block_number", LongType(), True),
    ]
)


def _block_spans(messages: DataFrame) -> list[tuple[int, int]]:
    """Distinct covered block numbers → contiguous [lo, hi] spans.

    The reference processes one message (= one contiguous export chunk) at a
    time; a Spark micro-batch carries MANY messages, so coalescing their
    blocks into maximal contiguous spans keeps the replay count per batch
    proportional to the number of gaps, not the number of messages."""
    rows = (
        messages.select(
            F.coalesce(
                F.when(F.col("type") == "block", F.col("number")),
                F.col("block_number"),
            ).alias("bn")
        )
        .filter(F.col("bn").isNotNull())
        .distinct()
        .collect()
    )
    blocks = sorted(int(r["bn"]) for r in rows)
    spans: list[tuple[int, int]] = []
    for b in blocks:
        if spans and b == spans[-1][1] + 1:
            spans[-1] = (spans[-1][0], b)
        else:
            spans.append((b, b))
    return spans


def run_amqp_reingest(
    streamer: ChainStreamer,
    queue_dir: str,
    wal: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
):
    """Consume message files from ``queue_dir`` and re-ingest the block
    ranges they name from ``wal``. Returns the StreamingQuery.

    ``available_now=True`` drains the queue and stops (backfill / test
    mode); ``False`` polls like the reference's ``consume()`` loop."""
    reader = streamer.spark.readStream.schema(AMQP_MESSAGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(queue_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            # DLX: messages without an item type (cli/amqp_stream.py:115-119)
            bad = batch_df.filter(F.col("type").isNull()).select(
                F.coalesce(F.col("number"), F.col("block_number"), F.lit(0))
                .cast("long")
                .alias("timestamp"),
                F.lit("amqp_no_item_type").alias("kind"),
                F.to_json(F.struct("number", "block_number")).alias("data"),
            )
            streamer.dead_letter(bad, f"amqp-{batch_id}")

            spans = _block_spans(batch_df.filter(F.col("type").isNotNull()))
            for lo, hi in spans:
                # export_all(start_block, end_block) analog: re-read the
                # span from source truth; the idempotent MERGE absorbs
                # redelivery.
                chunk = wal.filter(F.col("block_number").between(lo, hi))
                streamer._apply_batch(
                    streamer._prepare(chunk), f"amqp-{batch_id}-{lo}-{hi}"
                )
            streamer.lineage.record(
                batch_id=f"amqp-{batch_id}",
                source="amqp",
                spans=[list(s) for s in spans],
            )
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
