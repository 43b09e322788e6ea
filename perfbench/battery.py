"""The ``queries_battery`` workload: registry queries over a
benchmark-owned copy of the sf0.1-shaped tables, each query timed as
``fn(spark, sf_dir)`` (plan construction, including eager cuts and driver
collects) plus ``.toPandas()`` (the final plan's execution and the result
transfer), then checked against its DuckDB oracle outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from collections import Counter
from contextlib import contextmanager

if __package__ in (None, ""):  # run as a script: import perfbench.* from the root
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import datagen  # noqa: E402

#: Run in this fixed order: the first query also pays the session's
#: first-use costs (JIT, Python workers), so a seeded order would move
#: per-query latencies by more than any change under test.
#: ``multimodal_metadata_docs`` is dominated by Python-worker start-up,
#: ``golden_record_customers`` by plan construction (eager cuts and driver
#: collects, 17 jobs before the final plan exists), and
#: ``dedup_containment_pairs_docs`` by its stored-shingle build and LSH
#: candidate exchange. A change to one layer should move its own query and
#: leave the others alone.
QUERIES = (
    "multimodal_metadata_docs",
    "golden_record_customers",
    "dedup_containment_pairs_docs",
)

#: executed-plan SQL metric -> exec.* name
PLAN_METRICS = {
    "shuffleBytesWritten": "exec.shuffle_bytes",
    "shuffleRecordsWritten": "exec.shuffle_rows",
    "spillSize": "exec.spill_bytes",
    "peakMemory": "exec.peak_memory_bytes",
    "pythonBootTime": "exec.python_init_s",  # worker boot ...
    "pythonInitTime": "exec.python_init_s",  # ... plus UDF set-up
    "pythonTotalTime": "exec.python_compute_s",
}
_SECONDS = {"timing": 1e-3, "nsTiming": 1e-9}


def plan_metrics(df) -> Counter:
    """Sum the SQL metrics of ``df``'s executed plan into exec.* names,
    walking through adaptive plans and query stages to the final plan."""
    out: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "ReusedExchangeExec":
            continue  # its work is counted at the exchange it reuses
        it = node.metrics().iterator()
        while it.hasNext():
            entry = it.next()
            name = PLAN_METRICS.get(entry._1())
            if name is not None:
                metric = entry._2()
                out[name] += metric.value() * _SECONDS.get(metric.metricType(), 1)
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    return out


@contextmanager
def _clock(_name, _trace):
    rec = {"start": time.perf_counter(), "end": None, "jobs": 0}
    try:
        yield rec
    finally:
        rec["end"] = time.perf_counter()


def run_battery(spark, names, sf_dir: str, tracer=None) -> list[dict]:
    """Run each query once, in the given order; return per-query
    timings, results or errors, and (when traced) plan metrics."""
    from data_ingestion_spark.queries import merged_queries

    registry = merged_queries()
    span = tracer.span if tracer is not None else _clock
    results = []
    for name in names:
        rec: dict = {"name": name, "result": None, "error": None, "exec_s": 0.0}
        try:
            with span("queries.build", name) as build:
                df = registry[name][0](spark, sf_dir)
            with span("exec.exec", name) as ex:
                rec["result"] = df.toPandas()
            rec["exec_s"], rec["exec_jobs"] = ex["end"] - ex["start"], ex["jobs"]
            if tracer is not None:
                rec["plan"] = plan_metrics(df)
        except Exception as err:  # noqa: BLE001 — a query that raises is a failed operation
            rec["error"] = f"{type(err).__name__}: {err}"
        rec["build_s"], rec["build_jobs"] = build["end"] - build["start"], build["jobs"]
        results.append(rec)
    return results


EXPECTED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def expected_path(name: str, sql: str) -> str:
    """Where the oracle's answer for ``name`` is kept: keyed by the oracle
    SQL and by the generator's source, so a change to either misses."""
    digest = hashlib.sha256(sql.encode())
    with open(datagen.__file__, "rb") as f:
        digest.update(f.read())
    return os.path.join(EXPECTED_DIR, f"{name}-{digest.hexdigest()[:16]}.parquet")


def oracle_frames(names, sf_dir: str, tables) -> dict:
    """The DuckDB oracle's answer per query. Contents do not depend on the
    seed, so answers kept in ``expected/`` are read instead of recomputed;
    the exact all-pairs containment oracle takes minutes at sf0.1."""
    import duckdb
    import pandas as pd

    from data_ingestion_spark.queries import merged_queries

    registry = merged_queries()
    out, con = {}, None
    for name in names:
        sql = registry[name][1]
        path = expected_path(name, sql)
        if os.path.exists(path):
            out[name] = pd.read_parquet(path)
            continue
        if con is None:
            con = duckdb.connect()
            for t in tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        out[name] = con.sql(sql).df()
    if con is not None:
        con.close()
    return out


def check(results: list[dict], sf_dir: str, tables) -> list[str]:
    """Compare each result with its DuckDB oracle; returns one line per
    query that fails."""
    from tools.check_oracle import compare

    oracle = oracle_frames({r["name"] for r in results}, sf_dir, tables)
    failures = []
    for rec in results:
        if rec["error"] is not None:
            failures.append(f"{rec['name']}: raised {rec['error']}")
            continue
        errs = compare(rec["name"], rec["result"], oracle[rec["name"]])
        if errs:
            failures.append(f"{rec['name']}: " + "; ".join(errs))
    return failures


def write_expected(names, sf_dir: str, tables) -> None:
    """Compute and keep the oracle's answers (see ``oracle_frames``)."""
    from data_ingestion_spark.queries import merged_queries

    registry = merged_queries()
    os.makedirs(EXPECTED_DIR, exist_ok=True)
    for name, frame in oracle_frames(names, sf_dir, tables).items():
        frame.to_parquet(expected_path(name, registry[name][1]), index=False)


if __name__ == "__main__":
    # python3 perfbench/battery.py: refresh expected/ after changing the
    # generator or an oracle of the battery
    import tempfile

    with tempfile.TemporaryDirectory(dir=os.path.dirname(EXPECTED_DIR)) as d:
        tables = datagen.build_tables()
        datagen.write_tables(tables, d, 0)
        write_expected(QUERIES, d, list(tables))
