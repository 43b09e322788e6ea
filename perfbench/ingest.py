"""The ``ingest_small_files`` workload: a seeded backlog of S3
ObjectCreated messages drained through ``SqsIngestLoop`` from a fake SQS
queue owned by the benchmark.

The backlog comes in blocks of ten messages, the SQS receive size, each
holding the same traffic mix in a seeded order: two csv files with headers,
one csv without, two json arrays, one txt log, one xml and one xlsx file,
one poison message and one redelivered duplicate. Poison rotates through an
invalid-JSON body, a body without ``Records``, a record without a key, a
key no rule matches and a truncated xlsx file. Files are KB-scale, so the
fixed per-file costs dominate: two audit appends, the replay guard's
re-read of the whole audit log on every poll, and the sink's count and
write. Every run starts from a fresh warehouse holding a fixed-size prior
audit history.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import random
import time
import uuid
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq

BUCKET = "landing"
QUEUE_URL = "https://sqs.local/perfbench"
BLOCK = 10  # messages per block, equal to the SQS receive size
PRIOR_FILES = 100  # ingested files in the prior audit history
HISTORY = f"{BUCKET}/uploads/history_"  # file names of the prior history
POISON_KINDS = ("invalid_json", "no_records", "missing_key", "unmatched_key", "malformed_file")
FILE_KINDS = ("csv", "csv", "csv_noh", "json", "json", "txt", "xml", "xlsx")
NAMES = ("ada", "bo", "cy", "dee", "eli", "fay", "gus", "hal")
CITIES = ("Oslo", "Lima", "Pune", "Kyiv", "Rome")


@dataclass
class Record:
    """One S3 record of a message and the outcome the program must give it.

    ``outcome`` is ``success`` (``rows`` land in ``table``), ``skipped``
    (a redelivery of a file already ingested), ``poison`` (a body the event
    decoder rejects: audited Failed, message acked) or ``failed`` (a file
    that cannot be ingested: audited Failed, message kept for redelivery).
    """

    audit_name: str
    outcome: str
    rows: int = 0
    table: Optional[str] = None
    audit_message: Optional[str] = None


@dataclass
class Message:
    body: str
    record: Record

    @property
    def acked(self) -> bool:
        return self.record.outcome != "failed"


class FakeSqsQueue:
    """boto3 SQS surface with SQS visibility semantics: a received message
    is invisible to later receives until deleted (no visibility timeout
    lapses within one run). Records when each receive returned."""

    def __init__(self, bodies: list[str]) -> None:
        self.messages = [
            {"MessageId": f"m{i}", "Body": b, "ReceiptHandle": f"rh{i}"}
            for i, b in enumerate(bodies)
        ]
        self.inflight: set[str] = set()
        self.delivered: list[str] = []  # MessageIds in delivery order
        self.deleted: set[str] = set()  # MessageIds acked
        self.last_receive = 0.0

    def receive_message(self, QueueUrl, MaxNumberOfMessages, WaitTimeSeconds):
        batch = [m for m in self.messages if m["ReceiptHandle"] not in self.inflight]
        batch = batch[:MaxNumberOfMessages]
        self.inflight.update(m["ReceiptHandle"] for m in batch)
        self.delivered += [m["MessageId"] for m in batch]
        self.last_receive = time.perf_counter()
        return {"Messages": batch}

    def delete_message(self, QueueUrl, ReceiptHandle):
        for m in self.messages:
            if m["ReceiptHandle"] == ReceiptHandle:
                self.deleted.add(m["MessageId"])
        self.messages = [m for m in self.messages if m["ReceiptHandle"] != ReceiptHandle]
        self.inflight.discard(ReceiptHandle)


def s3_event(key: Optional[str]) -> str:
    """An ObjectCreated event for ``key`` in ``BUCKET``; no key, no object."""
    s3: dict = {"bucket": {"name": BUCKET}}
    if key is not None:
        s3["object"] = {"key": key}
    return json.dumps({"Records": [{"s3": s3}]})


# -- inputs ---------------------------------------------------------------
def _write(path: str, data) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb" if isinstance(data, bytes) else "w") as f:
        f.write(data)


def _people(rng: random.Random, n: int) -> list[tuple]:
    return [
        (i, rng.choice(NAMES), rng.randint(18, 90), f"u{i}@x.org", rng.choice(CITIES))
        for i in range(n)
    ]


def _make_file(kind: str, stem: str, rng: random.Random, root: str) -> tuple[str, str, int]:
    """Write one landed file; returns (key, target table, rows)."""
    from data_ingestion_spark.sources.xlsx_writer import make_xlsx

    n = rng.randint(20, 120)
    rows = _people(rng, n)
    base = os.path.join(root, BUCKET)
    if kind == "csv":
        key, table = f"uploads/{stem}.csv", "csv_data"
        body = "id,name,age,email,city\n" + "".join(",".join(map(str, r)) + "\n" for r in rows)
    elif kind == "csv_noh":
        key, table = f"uploads/{stem}_test_no_headers.csv", "csv_no_headers_data"
        body = "".join(",".join(map(str, r[1:])) + "\n" for r in rows)
    elif kind == "json":
        key, table = f"uploads/{stem}.json", "json_data"
        body = json.dumps([{"id": r[0], "name": r[1], "age": r[2], "city": r[4]} for r in rows])
    elif kind == "txt":
        key, table = f"logs/{stem}.txt", "text_logs"
        body = "".join(f"2024-01-01T00:00:{r[0] % 60:02d} INFO user={r[1]} age={r[2]}\n" for r in rows)
    elif kind == "xml":
        key, table = f"uploads/{stem}.xml", "xml_data"
        body = "<records>" + "".join(
            f'<record id="{r[0]}"><name>{r[1]}</name><city>{r[4]}</city></record>' for r in rows
        ) + "</records>"
    elif kind == "xlsx":
        key, table = f"reports/{stem}.xlsx", "excel_reports"
        path = os.path.join(base, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        make_xlsx(path, [[["id", "name", "age", "city"]] + [[r[0], r[1], r[2], r[4]] for r in rows]],
                  shared=True)
        return key, table, n
    else:
        raise ValueError(kind)
    _write(os.path.join(base, key), body)
    return key, table, n


def _poison(kind: str, stem: str, root: str) -> Message:
    if kind == "invalid_json":
        return Message('{"Records": [', Record("<sqs-message>", "poison",
                                               audit_message="s3-event: invalid_json"))
    if kind == "no_records":
        return Message(json.dumps({"Event": "s3:TestEvent"}),
                       Record("<sqs-message>", "poison", audit_message="s3-event: no_records"))
    if kind == "missing_key":
        return Message(s3_event(None), Record("<sqs-message>", "poison",
                                              audit_message="s3-event: missing_bucket_or_key"))
    if kind == "unmatched_key":
        key = f"misc/{stem}.bin"
        _write(os.path.join(root, BUCKET, key), b"\x00\x01")
        return Message(s3_event(key), Record(f"{BUCKET}/{key}", "failed"))
    key = f"reports/{stem}.xlsx"  # malformed_file: not a zip archive
    _write(os.path.join(root, BUCKET, key), b"PK\x03\x04 truncated workbook")
    return Message(s3_event(key), Record(f"{BUCKET}/{key}", "failed"))


def make_backlog(seed: int, blocks: int, root: str, prior: list[str]) -> list[Message]:
    """``blocks`` blocks of ten messages over files landed under ``root``.
    The duplicate in block 0 redelivers a file of the prior history; later
    blocks redeliver a file ingested in the block before."""
    rng = random.Random(seed)
    out: list[Message] = []
    previous = list(prior)
    for b in range(blocks):
        block: list[Message] = []
        for i, kind in enumerate(FILE_KINDS):
            key, table, n = _make_file(kind, f"b{b:03d}_{i}_{rng.randrange(10**6):06d}", rng, root)
            block.append(Message(s3_event(key), Record(f"{BUCKET}/{key}", "success", n, table)))
        poison_kind = POISON_KINDS[(b + seed) % len(POISON_KINDS)]
        block.append(_poison(poison_kind, f"b{b:03d}_poison", root))
        dup = rng.choice(previous)
        block.append(Message(s3_event(dup.split("/", 1)[1]), Record(dup, "skipped")))
        previous = [m.record.audit_name for m in block if m.record.outcome == "success"]
        rng.shuffle(block)
        out += block
    return out


def write_prior_history(seed: int, log_dir: str) -> list[str]:
    """The audit trail of ``PRIOR_FILES`` earlier ingests, laid out as the
    log writer lays it out: one single-row parquet file per event, an open
    and a finalize event per file. Returns the files that succeeded."""
    rng = random.Random(seed ^ 0x5EED)
    schema = pa.schema([  # logs.LOG_SCHEMA
        ("log_id", pa.string()), ("file_name", pa.string()),
        ("start_time", pa.timestamp("us", tz="UTC")), ("end_time", pa.timestamp("us", tz="UTC")),
        ("status", pa.string()), ("message", pa.string()),
    ])
    os.makedirs(log_dir, exist_ok=True)
    t0 = datetime(2024, 1, 1)
    succeeded = []
    for i in range(PRIOR_FILES):
        name = f"{HISTORY}{i:04d}.csv"
        ok = rng.random() < 0.9
        start = t0 + timedelta(minutes=i)
        log_id = uuid.UUID(int=rng.getrandbits(128)).hex
        events = [
            (log_id, name, start, None, "Success", None),
            (log_id, name, start, start + timedelta(seconds=2),
             "Success" if ok else "Failed", None if ok else "Failed to parse"),
        ]
        for j, ev in enumerate(events):
            table = pa.Table.from_pylist([dict(zip(schema.names, ev))], schema)
            pq.write_table(table, os.path.join(log_dir, f"part-{i:05d}-{j}.parquet"))
        if ok:
            succeeded.append(name)
    return succeeded


# -- run ------------------------------------------------------------------
class AuditClock:
    """Records when each audit finalize returned, on every run; the
    latency of a file runs from the receive that delivered it."""

    def __init__(self, log, queue: FakeSqsQueue) -> None:
        self._log = log
        self._queue = queue
        self.latencies: list[float] = []

    def finalize_log(self, *args, **kwargs):
        out = self._log.finalize_log(*args, **kwargs)
        self.latencies.append(time.perf_counter() - self._queue.last_receive)
        return out

    def __getattr__(self, attr):
        return getattr(self._log, attr)


def blocks_for(seconds: float) -> int:
    """Enough blocks that a drain five times faster than today's would not
    empty the queue within ``seconds``."""
    return max(2, math.ceil(seconds * 5 / BLOCK))


def prepare(seed: int, work: str, blocks: int) -> dict:
    """A fresh warehouse with the prior history, plus the landed files and
    the backlog of ``blocks`` blocks that names them."""
    from data_ingestion_spark.logs import LOG_TABLE

    warehouse = os.path.join(work, "warehouse")
    landing = os.path.join(work, "landing")
    prior = write_prior_history(seed, os.path.join(warehouse, LOG_TABLE))
    backlog = make_backlog(seed, blocks, landing, prior)
    return {"warehouse": warehouse, "landing": landing, "backlog": backlog}


def warm_up(spark, work: str) -> None:
    """Drain one block of its own through a throwaway warehouse, so the
    timed drain does not pay first-use costs (JIT, Python workers)."""
    from data_ingestion_spark.pipeline import IngestionPipeline
    from data_ingestion_spark.streaming import SqsIngestLoop

    inputs = prepare(0, work, 1)
    pipe = IngestionPipeline(spark, inputs["warehouse"], base_dir=inputs["landing"])
    queue = FakeSqsQueue([m.body for m in inputs["backlog"]])
    SqsIngestLoop(pipe, QUEUE_URL, client=queue).run()


def drain(spark, inputs: dict, seconds: float, tracer=None) -> dict:
    """Poll until the queue is empty or ``seconds`` have passed; returns
    the timing and the program's outputs for ``check``."""
    import data_ingestion_spark.pipeline as pipeline_mod
    import data_ingestion_spark.streaming.s3_events as s3_events_mod
    from data_ingestion_spark.pipeline import IngestionPipeline
    from data_ingestion_spark.streaming import SqsIngestLoop

    from perfbench.spans import Proxy

    queue = FakeSqsQueue([m.body for m in inputs["backlog"]])
    pipe = IngestionPipeline(spark, inputs["warehouse"], base_dir=inputs["landing"])
    clock = AuditClock(pipe.log, queue)
    pipe.log = clock
    loop = SqsIngestLoop(pipe, QUEUE_URL, client=queue)
    restore = []
    if tracer is not None:
        pipe.log = Proxy(clock, tracer, {
            "insert_log": "logs.insert", "finalize_log": "logs.finalize",
            "successful_files": "logs.guard"})
        pipe.sink = Proxy(pipe.sink, tracer, {"insert_documents": "sinks.insert"})
        pipe.rules = Proxy(pipe.rules, tracer, {"match_or_raise": "rules.match"})
        pipe.process_file = tracer.wrap("pipeline.process_file", pipe.process_file,
                                        lambda f: f.file_name)
        for mod, attr, wrapped in (
            (pipeline_mod, "parse_file", tracer.wrap("sources.parse", pipeline_mod.parse_file)),
            (s3_events_mod, "s3_event_files", _traced_decode(tracer, s3_events_mod.s3_event_files)),
        ):
            restore.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, wrapped)
    poll_span = tracer.span if tracer is not None else (lambda *_: contextlib.nullcontext())
    try:
        t0 = time.perf_counter()
        while True:
            with poll_span("streaming.poll", f"poll-{len(queue.delivered)}"):
                n = loop.poll_once()
            if n == 0 or time.perf_counter() - t0 >= seconds:
                break
        wall = time.perf_counter() - t0
    finally:
        for mod, attr, fn in restore:
            setattr(mod, attr, fn)
    return {"wall": wall, "queue": queue, "loop": loop, "pipe": pipe, "clock": clock}


def _traced_decode(tracer, s3_event_files):
    """``s3_event_files`` returns a lazy DataFrame that the loop collects:
    trace the call and the collect, both as ``streaming.decode``."""

    class _Collected:
        def __init__(self, df):
            self._df = df

        def collect(self):
            with tracer.span("streaming.decode"):
                return self._df.collect()

    def decode(*args, **kwargs):
        with tracer.span("streaming.decode"):
            return _Collected(s3_event_files(*args, **kwargs))

    return decode


def check(spark, inputs: dict, run: dict) -> tuple[int, list[str]]:
    """Compare the program's outputs with the expected outcome of every
    record the queue delivered. Returns (records checked, failures)."""
    from pyspark.sql import functions as F

    queue, loop, pipe = run["queue"], run["loop"], run["pipe"]
    by_id = {f"m{i}": m for i, m in enumerate(inputs["backlog"])}
    delivered = [by_id[i] for i in queue.delivered]
    status = (pipe.log.current_status()
              .filter(F.col("end_time").isNotNull() & ~F.col("file_name").startswith(HISTORY))
              .select("file_name", "status", "message").collect())
    audited = Counter((r["file_name"], r["status"]) for r in status)
    poison_rows = Counter(r["message"] for r in status if r["file_name"] == "<sqs-message>")
    open_rows = pipe.log.current_status().filter(F.col("end_time").isNull()).count()
    landed: Counter = Counter()
    for table in {m.record.table for m in delivered if m.record.table}:
        for r in pipe.sink.read_table(table).groupBy("file_name").count().collect():
            landed[r["file_name"]] += r["count"]
    skipped = Counter(loop.skipped)

    failures: list[str] = []
    if open_rows:
        failures.append(f"{open_rows} audit entries never finalized")
    want_poison = Counter(m.record.audit_message for m in delivered if m.record.outcome == "poison")
    if poison_rows != want_poison:
        failures.append(f"poison audit rows {dict(poison_rows)} != {dict(want_poison)}")
    for i, m in zip(queue.delivered, delivered):
        rec = m.record
        if m.acked != (i in queue.deleted):
            failures.append(f"{i} {rec.audit_name}: acked={i in queue.deleted}, want {m.acked}")
        if rec.outcome == "success":
            if audited[(rec.audit_name, "Success")] != 1 or audited[(rec.audit_name, "Failed")]:
                failures.append(f"{rec.audit_name}: audit {audited[(rec.audit_name, 'Success')]} "
                                "Success rows, want 1")
            if landed[rec.audit_name] != rec.rows:
                failures.append(f"{rec.audit_name}: {landed[rec.audit_name]} rows, want {rec.rows}")
        elif rec.outcome == "skipped":
            if not skipped[rec.audit_name]:
                failures.append(f"{rec.audit_name}: redelivery not skipped")
        elif rec.outcome == "failed":
            if audited[(rec.audit_name, "Failed")] != 1 or landed[rec.audit_name]:
                failures.append(f"{rec.audit_name}: want one Failed audit row and no rows")
    want_rows = sum(m.record.rows for m in delivered)
    if sum(landed.values()) != want_rows:
        failures.append(f"target tables hold {sum(landed.values())} rows, want {want_rows}")
    return len(delivered), failures
