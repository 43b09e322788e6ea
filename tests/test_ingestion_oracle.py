"""Every ingestion registry query (queries/ingestion.py) against its DuckDB
oracle, with the same value compare as tools/check_oracle.py. The queries
run the real pipeline on in-query fixtures, so this pins the parsers, the
sink and the audit log (``ingest_audit_log`` reads ``current_status()``)."""

from __future__ import annotations

import duckdb
import pytest

from data_ingestion_spark.queries.ingestion import QUERIES
from tools.check_oracle import compare

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_ingestion_query_matches_oracle(spark, duck, name):
    fn, oracle_sql = QUERIES[name]
    sdf = fn(spark, SF_DIR).toPandas()
    odf = duck.sql(oracle_sql).df()
    assert compare(name, sdf, odf) == []


def test_sink_failure_raises_its_recorded_message(spark, monkeypatch):
    from data_ingestion_spark.errors import SinkError
    from data_ingestion_spark.queries.ingestion import ingest_csv_docs
    from data_ingestion_spark.sinks.parquet_sink import ParquetSink

    def fail(self, table, df):
        raise OSError("disk full")

    monkeypatch.setattr(ParquetSink, "insert_documents", fail)
    with pytest.raises(SinkError, match="disk full"):
        ingest_csv_docs(spark, SF_DIR)
