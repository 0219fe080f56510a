"""Structured-Streaming CDC: the speed layer.

Reference behavior being reproduced
(/root/reference/dataflow/BookingDataTransformation.json:55-72,
/root/reference/pipeline/LoadBookingFact.json:5-38, README.md:115-137):

- incremental change-feed consumption with from-the-beginning backfill
  → file-stream source over a JSON landing directory, ``availableNow``
  trigger for the hourly-drain pattern (``processingTime`` for continuous);
- continuation-token checkpointing (customizedCheckpointKey)
  → ``checkpointLocation`` (WAL; restart resumes exactly where it left);
- "exactly-once" into the warehouse → every sink commit of a
  micro-batch carries the ``(pipeline, batch_id)`` txn marker, and a
  replayed batch whose marker a table already recorded commits nothing
  there (the replay guard of ``ParquetTable._commit_version``, read from
  the txn map of the table's newest log entry; tested);
- late/out-of-order data → no watermark needed for parity: the keyed
  merge resolves each booking_id to the latest arrival, or to the max
  event time with ``event_time_wins`` (§2.7).

Scale: the fact merge is merge-on-read (``ParquetTable.upsert_delta``).
Each trigger dedupes only its own (small) batch and writes it as a
sequence-numbered delta; nothing in the target is scanned or rewritten,
so a trigger costs O(batch). Readers resolve base ∪ deltas to one row
per key, and every 16th delta folds the pending deltas into the base
with the pruned copy-on-write merge, bounding the read tax and the file
count.

Every trigger is bounded (``read_change_feed``): by ``maxFilesPerTrigger``
when the caller passes a file count, else by ``maxBytesPerTrigger`` =
:data:`TRIGGER_MAX_BYTES`. The file source admits at least one file per
trigger, so a trigger holds at most max(cap, one file) of input: a
file larger than the cap is a trigger of its own, never an error. A
backlog — the first drain of a from-the-beginning change feed — is thus
cut into many micro-batches instead of one.

One pass per trigger (``pipelines.load_booking_fact``): the source is
read once into a cached batch, by the one job that also counts its bad
rows and brings every derived row to the driver as Arrow. Every
batch-sized step after it runs there: the latest row per key (the fact
delta, written as a local relation, and the after image), the
before-image resolve of the rows ``ParquetTable.read_for_keys`` collects
for the batch keys, and the signed gold delta against the dim side, which
the query collects once when it starts. Spark keeps the work that touches
a table: the key-restricted fact scan and the three sink writes. The
driver holds O(batch + dim) rows: the batch is trigger-bounded (above),
and the dim side is the one a broadcast star join already built on the
driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

#: Input bytes per trigger when the caller gives no file count. The
#: trigger collects its derived rows to the driver, and in Arrow those
#: measure ≈ 0.44 of their JSON bytes (20k generated booking events), so
#: a full trigger collects ≈ 28 MiB, and its before-image at most as many
#: rows again: well under the 256 MiB floor ``session._default_max_result``
#: never sets ``spark.driver.maxResultSize`` below. Spark wants a plain
#: integer here ("100k" fails the query).
TRIGGER_MAX_BYTES = 64 << 20


def read_change_feed(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Change-feed source analog: newline-JSON documents landing in a
    directory, consumed incrementally (new files only, from the beginning
    on first start). Each trigger reads ``max_files_per_trigger`` files,
    or :data:`TRIGGER_MAX_BYTES` of input without it (Spark refuses
    both caps at once)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    else:
        reader = reader.option("maxBytesPerTrigger", str(TRIGGER_MAX_BYTES))
    return reader.json(landing_dir)


def run_foreach_batch_merge(
    stream_df: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
) -> StreamingQuery:
    """Drain ``stream_df`` through ``process_batch(batch_df, batch_id)``
    with exactly-once checkpointing. ``available_now=True`` reproduces the
    reference's hourly drain-then-stop trigger."""
    writer = (
        stream_df.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
