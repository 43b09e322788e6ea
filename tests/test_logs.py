"""Audit-log writer tests (logs.py): the driver-side single-row appends
read back exactly as the rows a Spark ``createDataFrame(...).write``
append stores, keep ``createDataFrame``'s schema check, leave one file per
event and start no Spark job."""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from data_ingestion_spark.logs import LOG_SCHEMA, LOG_TABLE, IngestionLogWriter
from data_ingestion_spark.pipeline import IngestionPipeline

START = datetime(2024, 2, 29, 23, 59, 58, 123456)
END = datetime(2024, 3, 1, 0, 0, 1, 654321)
ROWS = [
    ("id-1", "b/k.csv", START, None, "Success", None),  # open row
    ("id-1", "b/k.csv", START, END, "Failed", "Failed to parse"),  # finalize
    ("id-2", "b/other.json", END, None, "Success", None),  # still open
]


@pytest.fixture(params=["UTC", "America/New_York"])
def host_tz(request):
    """The host timezone decides how naive datetimes map to instants."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = request.param
    time.tzset()
    yield request.param
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


def _sorted(rows):
    return sorted((r.asDict() for r in rows), key=lambda d: (d["log_id"], str(d["end_time"])))


def test_driver_append_reads_back_like_spark_write(spark, tmp_path, host_tz):
    spark_log = IngestionLogWriter(spark, str(tmp_path / "spark"))
    for row in ROWS:  # the Spark append the writer used to make per event
        spark.createDataFrame([row], LOG_SCHEMA).write.mode("append").parquet(spark_log.path)
    driver_log = IngestionLogWriter(spark, str(tmp_path / "driver"))
    for row in ROWS:
        driver_log._append(row)

    assert _sorted(driver_log.read().collect()) == _sorted(spark_log.read().collect())
    assert _sorted(driver_log.current_status().collect()) == _sorted(
        spark_log.current_status().collect()
    )
    # the stored instants, independent of any timezone on the read side
    instants = [F.unix_micros("start_time"), F.unix_micros("end_time")]
    assert sorted(driver_log.read().select(*instants).collect(), key=str) == sorted(
        spark_log.read().select(*instants).collect(), key=str
    )
    opened = [r for r in driver_log.read().collect() if r["end_time"] is None]
    assert {r["start_time"] for r in opened} == {START, END}
    assert all(r["message"] is None for r in opened)


def test_process_file_leaves_one_file_per_event(spark, tmp_path):
    bucket = tmp_path / "landing" / "b"
    bucket.mkdir(parents=True)
    (bucket / "a.csv").write_text("h1,h2\nv1,v2\n")
    wh = str(tmp_path / "wh")
    pipe = IngestionPipeline(spark, warehouse_dir=wh, base_dir=str(tmp_path / "landing"))
    assert pipe.process_key("b", "a.csv").status == "Success"

    names = os.listdir(os.path.join(wh, LOG_TABLE))
    assert len(names) == 2  # open + finalize; no temp, checksum or marker files
    assert all(n.startswith("part-") and n.endswith(".parquet") for n in names)
    assert pipe.log.successful_files() == {"b/a.csv"}


def test_schema_check_rejects_bad_rows(spark, tmp_path):
    log = IngestionLogWriter(spark, str(tmp_path))
    with pytest.raises(ValueError, match="file_name"):
        log.insert_log(None)
    with pytest.raises(TypeError, match="start_time"):
        log.finalize_log("id", "b/k.csv", "2024-01-01", True, None)
    assert not os.path.exists(log.path) or os.listdir(log.path) == []


def test_appends_start_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    group = f"audit-appends-{uuid.uuid4().hex}"
    log = IngestionLogWriter(spark, str(tmp_path))
    sc.setJobGroup(group, "audit appends")
    try:
        log_id = log.insert_log("b/k.csv")
        log.finalize_log(log_id, "b/k.csv", START, True, None)
        appended = sc.statusTracker().getJobIdsForGroup(group)
        assert log.read().count() == 2  # the group does see jobs
        read = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert appended == []
    assert read


def test_successful_files_raises_on_unreadable_log(spark, tmp_path):
    # no log yet is an empty guard; a log that exists but cannot be read
    # must fail the caller, since an empty guard re-ingests redeliveries
    log = IngestionLogWriter(spark, str(tmp_path))
    assert log.successful_files() == set()
    log.finalize_log(log.insert_log("b/k.csv"), "b/k.csv", START, True, None)
    with open(os.path.join(log.path, "part-corrupt.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE.*part-corrupt.parquet"):
        log.successful_files()
