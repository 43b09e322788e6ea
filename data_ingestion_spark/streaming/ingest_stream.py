"""The reference's event loop on Structured Streaming.

Reference shape (src/ecs_service.rs:113-174): infinite loop → SQS
receive_message(max=10, wait=20s) → decode S3 ObjectCreated events →
process each file → delete message even on failure (at-most-once).

Spark-first rebuild: two Structured Streaming transports for that loop,
sharing one ``start``/``run_available`` (``_StreamFrontDoor``); each
``foreachBatch`` call decodes its micro-batch and hands the records to the
per-record routing path shared with ``SqsIngestLoop`` (``routing.FileRouter``:
replay guard, warn-as-audit-row, per-file
``IngestionPipeline.process_file``). One micro-batch ≈ one SQS receive;
``maxFilesPerTrigger`` mirrors the ≤10-messages-per-receive bound.

- ``IngestionStreamLoop``: a ``binaryFile`` stream over the landing
  directory discovers new objects (replacing S3→SQS notification). Only the
  ``path`` column is selected, so the file source prunes ``content`` and the
  stream moves file *names*, not bytes (the reference moves whole file
  bodies through RAM, s3_adapter.rs:39-46).
- ``SqsFrontDoorLoop``: a text stream of SQS message bodies, decoded by
  ``s3_events.s3_event_files``.

Deliberate upgrades (SURVEY.md §3.4):
- at-most-once → exactly-once file discovery via the streaming checkpoint
  (a failed run re-offers the files of the incomplete batch on restart),
  and exactly-once sink effect via the shared replay guard.
- one failing file no longer aborts the rest of its batch (the reference's
  ``?`` in process_message aborts remaining records of the message,
  ecs_service.rs:205); per-file failures are audit-logged and counted.
"""

from __future__ import annotations

import os
from typing import Optional
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..pipeline import FileToProcess, IngestionPipeline
from . import s3_events
from .routing import FileRouter, Rejected, event_records

#: Fixed schema of the binaryFile source (streams can't infer at start).
BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


class _StreamFrontDoor(FileRouter):
    """``start``/``run_available`` for the two stream front doors.
    Subclasses give the streaming DataFrame (``_stream``) and decode each
    micro-batch in ``_process_batch``."""

    def __init__(
        self, pipeline: IngestionPipeline, checkpoint_dir: str, max_files_per_trigger: int
    ) -> None:
        super().__init__(pipeline)
        self.checkpoint_dir = checkpoint_dir
        self.max_files_per_trigger = max_files_per_trigger

    def start(
        self,
        available_now: bool = True,
        processing_interval: Optional[str] = None,
    ):
        """Start the stream. ``available_now=True`` drains everything
        currently available and stops (Trigger.AvailableNow) — the
        test/backfill mode; a ``processing_interval`` (e.g. ``'20 seconds'``,
        mirroring the reference's long-poll cadence) runs forever."""
        writer = (
            self._stream()
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_interval or "20 seconds")
        return writer.start()

    def run_available(self) -> list:
        """Drain what is available synchronously; returns per-file results."""
        q = self.start(available_now=True)
        q.awaitTermination()
        return self.results


class IngestionStreamLoop(_StreamFrontDoor):
    """Continuously ingest files that land under ``{landing_dir}/{bucket}/...``.

    The first path segment under ``landing_dir`` is the bucket, the rest is
    the key — the same (bucket, key) pair the SQS event would carry
    (ecs_service.rs:193-196).
    """

    def __init__(
        self,
        pipeline: IngestionPipeline,
        landing_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 10,
    ) -> None:
        super().__init__(pipeline, checkpoint_dir, max_files_per_trigger)
        self.landing_dir = os.path.abspath(landing_dir)

    def _decode(self, path_url: str) -> FileToProcess | Rejected:
        """file:/... URL → FileToProcess(bucket, key) — the rebuild's
        equivalent of the S3-event decode (ecs_service.rs:186-216). A file
        sitting DIRECTLY under landing_dir has no bucket segment — the
        (bucket, key) contract can't name it, so it is a ``Rejected``
        per-file failure (a Failed audit row; its batch siblings still
        process), not a half-decoded FileToProcess with an empty key."""
        local = unquote(urlparse(path_url).path)
        rel = os.path.relpath(local, self.landing_dir)
        parts = rel.split(os.sep)
        if len(parts) < 2:
            return Rejected(
                os.path.basename(local),
                f"file landed outside a bucket directory: {rel!r} "
                "(expected {landing_dir}/{bucket}/{key...})",
            )
        return FileToProcess(bucket=parts[0], key="/".join(parts[1:]))

    def _stream(self) -> DataFrame:
        return (
            self.pipeline.spark.readStream.format("binaryFile")
            .schema(BINARY_FILE_SCHEMA)
            .option("pathGlobFilter", "*.*")
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .option("recursiveFileLookup", "true")
            .load(self.landing_dir)
            .select("path")
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Only `path` is collected: a micro-batch is a list of file names
        # (bounded by maxFilesPerTrigger), never file contents.
        paths = [r.path for r in batch_df.select("path").collect()]
        self._route([(batch_id, [self._decode(url) for url in sorted(paths)])])


class SqsFrontDoorLoop(_StreamFrontDoor):
    """The reference's ACTUAL front door, composed end to end on one
    stream: SQS message bodies → S3-event decode → per-file ingest → audit
    rows (src/ecs_service.rs:113-224 — receive_message → process_message →
    process_record; dev-test.sh drives exactly this path).

    The "queue" here is a text file-source stream over ``queue_dir`` (one
    message body per line — at scale, swap in the Kinesis/Kafka/SQS
    connector; everything downstream is unchanged because the decode is a
    DataFrame transform). Per micro-batch, ``s3_events.s3_event_files``
    decodes the bodies to (bucket, key, status) rows — a narrow JVM
    ``from_json`` projection, no Python in the parse — and the shared
    routing path ingests the ``ok`` records and turns warn-status records
    (``missing_bucket_or_key`` / ``no_records`` / ``invalid_json`` — the
    reference's ``warn!`` lines, ecs_service.rs:212,218) into Failed AUDIT
    ROWS, tallied in ``self.warns``. The per-batch collect is bounded by
    the trigger's message cap × records per event, never corpus-scale.
    """

    def __init__(
        self,
        pipeline: IngestionPipeline,
        queue_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: int = 10,
    ) -> None:
        super().__init__(pipeline, checkpoint_dir, max_files_per_trigger)
        self.queue_dir = queue_dir

    def _stream(self) -> DataFrame:
        return (
            self.pipeline.spark.readStream.format("text")
            .option("maxFilesPerTrigger", str(self.max_files_per_trigger))
            .load(self.queue_dir)
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        decoded = s3_events.s3_event_files(batch_df, "value").collect()
        self._route([(batch_id, event_records(decoded))])
