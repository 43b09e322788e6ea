"""Ingestion audit log (reference: src/domain/models.rs:17-29 and
src/infrastructure/mongodb/log_repo.rs).

Schema matches the reference's IngestionLog: file_name, start_time,
end_time (nullable), status ('Success' | 'Failed'), message (nullable),
plus the log_id primary key (the reference uses the Mongo ObjectId; the
rebuild generates a uuid4 up front — semantically equivalent, SURVEY.md §2.3
L1).

The log is an append-only event table: the start row (end_time NULL) and the
finalize row share a log_id; current status = latest row per log_id (a window
query, ``current_status``). At scale this is the standard
event-log-over-merge design — appends never contend, readers reconstruct.

Writes are driver-side: each event is one single-row ``part-<uuid>.parquet``
file, written by pyarrow under a ``.``-prefixed name in the table directory
and moved into place with ``os.replace``. Spark's file listing skips names
starting with ``.`` or ``_``, so a reader sees the whole row or nothing.
No Spark job is used: a job per event pays scheduling and commit for one
row and writes an empty partition file beside it, and every ingested file
logs two events, so that would be the largest fixed cost per small file.
Readers stay Spark (``read`` / ``current_status``).

The table path must be on a filesystem the driver sees as local (the
warehouse directory); ``successful_files`` already lists it from the
driver.
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone
from typing import Optional

import pyarrow as pa
from pyarrow.parquet import write_table
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

LOG_TABLE = "ingestion_logs"

LOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.StringType(), False),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("start_time", T.TimestampType(), False),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
    ]
)

# the row check Spark applies to local rows given with a schema: a None in
# a non-nullable field or a value of the wrong type raises
_verify_row = T._make_type_verifier(LOG_SCHEMA)

# on-disk schema: every column optional, as in the files Spark writes
_ARROW_SCHEMA = pa.schema(
    [pa.field(f.name, to_arrow_type(f.dataType)) for f in LOG_SCHEMA.fields]
)


class IngestionLogWriter:
    """Append-only audit log writer over a parquet table; one single-row
    file per event, written from the driver."""

    def __init__(self, spark: SparkSession, warehouse_dir: str) -> None:
        self.spark = spark
        self.path = os.path.join(warehouse_dir, LOG_TABLE)

    def _append(self, row: tuple) -> None:
        """Write ``row`` as its own parquet file. Timestamps go through
        ``TimestampType.toInternal``, the conversion Spark applies to local
        rows, so naive datetimes map to the instants a Spark write stores."""
        _verify_row(row)
        values = LOG_SCHEMA.toInternal(row)
        table = pa.Table.from_pydict(
            {name: [v] for name, v in zip(LOG_SCHEMA.names, values)}, _ARROW_SCHEMA
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + name)
        write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def insert_log(self, file_name: str) -> str:
        """Open a log entry; returns its log_id
        (reference: ingestion_service.rs:92-104 — status starts as the
        'Success' placeholder with end_time NULL)."""
        log_id = uuid.uuid4().hex
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        self._append((log_id, file_name, now, None, "Success", None))
        return log_id

    def finalize_log(self, log_id: str, file_name: str, start_time: datetime,
                     success: bool, message: Optional[str]) -> None:
        """Close a log entry (reference: ingestion_service.rs:119-124 /
        log_repo.rs:49-88 — a $set update; rebuilt as an append of the final
        state, reconstructed by ``current_status``)."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        status = "Success" if success else "Failed"
        self._append((log_id, file_name, start_time, now, status, message))

    def read(self) -> DataFrame:
        return self.spark.read.schema(LOG_SCHEMA).parquet(self.path)

    def current_status(self) -> DataFrame:
        """Latest state per log_id (finalize row wins over the open row)."""
        w = W.partitionBy("log_id").orderBy(
            F.col("end_time").desc_nulls_last(), F.col("start_time").desc()
        )
        return (
            self.read()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def successful_files(self) -> set:
        """File names whose LATEST log row is a finalized Success — the
        replay guard for the streaming loops: a micro-batch re-offered
        after a crash must not re-ingest files that already completed
        (files are immutable-once-landed, the S3-event contract). Empty
        set when no log exists yet; any other read error raises, since
        an empty guard would re-ingest every redelivered file.
        Driver-side and bounded by the audit log; at corpus scale this
        check becomes a left-anti join against ``current_status()``
        instead of a collected set."""
        if not os.path.isdir(self.path):
            return set()
        rows = (
            self.current_status()
            .filter((F.col("status") == "Success") & F.col("end_time").isNotNull())
            .select("file_name")
            .collect()
        )
        return {r["file_name"] for r in rows}
