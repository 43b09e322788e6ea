"""Per-record routing shared by the three ingestion front doors.

Reference shape (src/ecs_service.rs:113-224): one linear dataflow — SQS
poll → S3-event decode → per-file ingest → audit log. The rebuild has three
transports for the first two steps (``SqsIngestLoop``: an SQS receive;
``IngestionStreamLoop``: a ``binaryFile`` micro-batch of landed paths;
``SqsFrontDoorLoop``: a text-stream micro-batch of message bodies). Each
turns its batch into routing records — a ``FileToProcess`` to ingest or a
``Rejected`` record to audit — and hands them to ``FileRouter._route``,
the one place the step after decode happens:

- the audit-log replay guard (``successful_files``) is read once per batch;
- a rejected record becomes a Failed audit row (warn-as-data, not log text);
- a file that already finalized Success is skipped, not re-ingested;
- every other file runs ``IngestionPipeline.process_file`` in the order
  given; a raised ``IngestionError`` and a returned non-Success result
  (a sink failure, which the pipeline audits without raising) are both
  failures, and each Success joins the guard so a same-batch duplicate
  skips.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterable, Optional

from ..errors import IngestionError
from ..pipeline import FileToProcess, IngestionPipeline


@dataclass(frozen=True)
class Rejected:
    """A record that names no ingestible file; it becomes a Failed audit
    row ``(file_name, message)``. ``warn`` is the S3-event status of a
    poison body, tallied in ``warns`` and counted as finished (redelivery
    cannot fix it); ``None`` makes the record a per-file failure."""

    file_name: str
    message: str
    warn: Optional[str] = None


def event_records(rows: Iterable) -> list:
    """``s3_events.s3_event_files`` rows → routing records, in (bucket,
    key) order."""
    out: list = []
    for r in sorted(rows, key=lambda r: (r["bucket"] or "", r["key"] or "")):
        if r["status"] == "ok":
            out.append(FileToProcess(bucket=r["bucket"], key=r["key"]))
        else:
            name = f"{r['bucket']}/{r['key']}" if r["bucket"] and r["key"] else "<sqs-message>"
            out.append(Rejected(name, f"s3-event: {r['status']}", warn=r["status"]))
    return out


class FileRouter:
    """Holds the pipeline and the per-front-door tallies; ``_route`` routes
    one batch. Subclasses supply the transport and may act on each routed
    group in ``_settle``."""

    def __init__(self, pipeline: IngestionPipeline) -> None:
        self.pipeline = pipeline
        self.results: list = []  # IngestResult per file that finalized Success
        self.failures: list[tuple[str, str]] = []  # (file_name, error)
        self.warns: dict[str, int] = {}  # poison-status tallies
        self.skipped: list[str] = []  # already-Success files seen on replay

    def _settle(self, handle, finished: bool) -> None:
        """Called after each group is routed; ``finished`` is True when
        every record in it succeeded, was skipped, or was poison."""

    def _route(self, groups: Iterable[tuple[object, list]]) -> None:
        """Route one poll or micro-batch of ``(handle, records)`` groups."""
        # Replay guard: a redelivered message or a re-offered micro-batch
        # must not re-ingest files that already finalized Success (files
        # are immutable once landed), or the target table would hold
        # duplicates — this makes the sink effect exactly-once.
        done = self.pipeline.log.successful_files()
        for handle, records in groups:
            finished = True
            for rec in records:
                if not self._route_one(rec, done):
                    finished = False
            self._settle(handle, finished)

    def _route_one(self, rec, done: set) -> bool:
        if isinstance(rec, Rejected):
            if rec.warn is None:
                self.failures.append((rec.file_name, rec.message))
            else:
                self.warns[rec.warn] = self.warns.get(rec.warn, 0) + 1
            log_id = self.pipeline.log.insert_log(rec.file_name)
            self.pipeline.log.finalize_log(
                log_id, rec.file_name, _utcnow_naive(), False, rec.message
            )
            return rec.warn is not None
        name = rec.file_name
        if name in done:
            self.skipped.append(name)
            return True
        try:
            res = self.pipeline.process_file(rec)
        except IngestionError as ex:
            # one failing file does not abort its siblings (vs
            # ecs_service.rs:205 aborting the message on first failure)
            self.failures.append((name, str(ex)))
            return False
        if res.status != "Success":
            # a sink failure: audited Failed by the pipeline, not raised
            self.failures.append((name, res.message))
            return False
        self.results.append(res)
        done.add(name)  # a same-batch duplicate skips
        return True


def _utcnow_naive() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)
