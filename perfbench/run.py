"""Benchmark for the ingestion path and the query battery.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It starts one local Spark session with
one core per CPU, makes the workload's inputs from the seed, measures whole
receives or whole query batteries until ``S`` seconds have passed (at least
one), checks the outputs, prints a report and, as the last
line, one JSON object with the verdict and the metrics: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. All scratch files live under ``.perfbench_work/`` and are
removed at exit; traced runs leave their spans in ``.perfbench_out/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3  # set-up is done this many times and its median reported
DRIVER_MEM = "4g"


def _percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _data_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _isolate(work: str) -> None:
    """Point every temporary directory of this process, its JVM and its
    Python workers into ``work``; size the session to this machine."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_MUTE_WINDOWEXEC": "1",
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    tempfile.tempdir = tmp
    sys.path[0] = ROOT  # not perfbench/, whose modules are imported as perfbench.*


def _setup(prepare) -> tuple[object, list[float]]:
    times, inputs = [], None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        inputs = prepare(i)
        times.append(time.perf_counter() - t0)
    return inputs, times


def run_ingest(spark, args, work: str, tracer) -> dict:
    from perfbench import ingest

    blocks = ingest.blocks_for(args.seconds)
    inputs, prep = _setup(lambda i: ingest.prepare(args.seed, os.path.join(work, f"in{i}"), blocks))
    t0 = time.perf_counter()
    ingest.warm_up(spark, os.path.join(work, "warm"))
    warm = time.perf_counter() - t0
    run = ingest.drain(spark, inputs, args.seconds, tracer)
    attempted, failures = ingest.check(spark, inputs, run)
    lat = run["clock"].latencies
    out = {
        "prep": prep, "warm": warm, "attempted": attempted, "failures": failures,
        "ops": len(lat), "wall": run["wall"], "latencies": lat,
        "report": {"files_per_s": (len(lat) / run["wall"], "1/s"),
                   "file_latency_p50_ms": (_percentile(lat, 50) * 1e3, "ms"),
                   "file_latency_p90_ms": (_percentile(lat, 90) * 1e3, "ms")},
    }
    if tracer is not None:
        loop = run["loop"]
        warehouse = inputs["warehouse"]
        log_files, _ = _data_files(os.path.join(warehouse, "ingestion_logs"))
        sink_files = sink_bytes = 0
        for table in {m.record.table for m in inputs["backlog"] if m.record.table}:
            n, size = _data_files(os.path.join(warehouse, table))
            sink_files, sink_bytes = sink_files + n, sink_bytes + size
        t = tracer
        layer = {
            "streaming.poll_s": t.total("streaming.poll"),
            "streaming.decode_s": t.total("streaming.decode"),
            "streaming.self_s": t.self_total("streaming.poll"),
            "streaming.polls": t.count("streaming.poll"),
            "streaming.acked": loop.deleted,
            "streaming.redelivered": loop.redelivered,
            "streaming.skipped": len(loop.skipped),
            "pipeline.process_file_s": t.total("pipeline.process_file"),
            "pipeline.self_s": t.self_total("pipeline.process_file"),
            "pipeline.files": t.count("pipeline.process_file"),
            "rules.match_s": t.total("rules.match"),
            "rules.calls": t.count("rules.match"),
            "sources.parse_s": t.total("sources.parse"),
            "sources.jobs": t.jobs(["sources.parse"]),
            "sinks.insert_s": t.total("sinks.insert"),
            "sinks.jobs": t.jobs(["sinks.insert"]),
            "sinks.bytes_written": sink_bytes,
            "sinks.files_written": sink_files,
            "logs.insert_s": t.total("logs.insert"),
            "logs.finalize_s": t.total("logs.finalize"),
            "logs.guard_s": t.total("logs.guard"),
            "logs.jobs": t.jobs(["logs.insert", "logs.finalize", "logs.guard"]),
            "logs.files_written": log_files - 2 * ingest.PRIOR_FILES,
            "logs.files_per_ingested_file": (log_files - 2 * ingest.PRIOR_FILES) / max(1, len(lat)),
        }
        inner = t.descendant_total("pipeline.process_file", [
            "rules.match", "sources.parse", "sinks.insert", "logs.insert", "logs.finalize"])
        out["layer"] = layer
        out["accounting"] = (
            f"pipeline.process_file_s {layer['pipeline.process_file_s']:.3f} = "
            f"rules+sources+sinks+logs inside it {inner:.3f} + pipeline.self_s "
            f"{layer['pipeline.self_s']:.3f}")
    return out


def run_queries(spark, args, work: str, tracer) -> dict:
    from perfbench import battery, datagen

    def prepare(i):
        sf_dir = os.path.join(work, f"sf{i}")
        tables = datagen.build_tables()
        datagen.write_tables(tables, sf_dir, args.seed)
        return sf_dir, list(tables)

    (sf_dir, tables), prep = _setup(prepare)
    names = battery.QUERIES
    deadline = time.perf_counter() + args.seconds
    results = []
    while not results or time.perf_counter() < deadline:
        results += battery.run_battery(spark, names, sf_dir, tracer)
    failures = battery.check(results, sf_dir, tables)
    lat = [r["build_s"] + r["exec_s"] for r in results]
    wall = sum(lat)
    out = {
        "prep": prep, "warm": 0.0, "attempted": len(results), "failures": failures,
        "ops": len(results), "wall": wall, "latencies": lat,
        "report": {"battery_wall_s": (wall * len(names) / len(results), "s"),
                   "query_latency_p50_ms": (_percentile(lat, 50) * 1e3, "ms"),
                   "query_latency_p90_ms": (_percentile(lat, 90) * 1e3, "ms")},
        "per_query": [(r["name"], r["build_s"], r["exec_s"],
                       len(r["result"]) if r["error"] is None else 0) for r in results],
    }
    if tracer is not None:
        plan = sum((r.get("plan", Counter()) for r in results), Counter())
        result_rows = sum(len(r["result"]) for r in results if r["error"] is None)
        layer = {
            "queries.build_s": tracer.total("queries.build"),
            "queries.build_jobs": tracer.jobs(["queries.build"]),
            "exec.exec_s": tracer.total("exec.exec"),
            "exec.jobs": tracer.jobs(["exec.exec"]),
            "exec.result_rows": result_rows,
            "exec.useful_output_ratio": result_rows / plan["exec.shuffle_rows"]
            if plan["exec.shuffle_rows"] else 0.0,
        }
        for name in ("exec.shuffle_bytes", "exec.shuffle_rows", "exec.spill_bytes",
                     "exec.peak_memory_bytes", "exec.python_init_s", "exec.python_compute_s"):
            layer[name] = plan[name]
        out["layer"] = layer
        out["accounting"] = (
            f"battery_wall_s {wall:.3f} = queries.build_s {layer['queries.build_s']:.3f}"
            f" + exec.exec_s {layer['exec.exec_s']:.3f}")
        out["per_query_layer"] = [
            (r["name"], r["build_jobs"], r.get("exec_jobs", 0), dict(r.get("plan", {})))
            for r in results]
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "data_ingestion_spark", "__init__.py")):
        print(f"perfbench: no data_ingestion_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    spark = proc = None
    try:
        t0 = time.perf_counter()
        from data_ingestion_spark.session import get_spark

        spark = get_spark("perfbench")
        proc = spark.sparkContext._gateway.proc
        session = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.spans import Tracer

            tracer = Tracer(spark.sparkContext)
        if args.workload == "ingest_small_files":
            out = run_ingest(spark, args, work, tracer)
        else:
            out = run_queries(spark, args, work, tracer)
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024 + _vm_hwm_mb(proc.pid)
        if tracer is not None:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            spark.stop()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave the JVM behind
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))

    lat = out["latencies"]
    setup = session + statistics.median(out["prep"]) + out["warm"]
    e2e = {
        "setup_s": setup,
        "throughput_per_s": out["ops"] / out["wall"],
        "latency_p50_ms": _percentile(lat, 50) * 1e3,
    }
    failed = min(len(out["failures"]), out["attempted"])
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"  setup_s {setup:.3f} s = session {session:.3f} + median set-up "
          f"{statistics.median(out['prep']):.3f} of {[round(p, 3) for p in out['prep']]}"
          f" + warm-up {out['warm']:.3f}")
    for name, (value, unit) in out["report"].items():
        print(f"  {name} {value:.4f} {unit}")
    print(f"  failed_share {failed / out['attempted']:.4f} ({failed} of {out['attempted']})")
    print(f"  peak_rss_mb {rss:.1f} MB")
    for line in out["failures"]:
        print(f"  FAILED {line}")
    for name, build, exe, rows in out.get("per_query", []):
        print(f"  query {name} build_s {build:.3f} exec_s {exe:.3f} rows {rows}")
    if args.trace:
        for name, bjobs, ejobs, plan in out.get("per_query_layer", []):
            print(f"  query {name} build_jobs {bjobs} exec_jobs {ejobs} "
                  + " ".join(f"{k} {v:.4g}" for k, v in sorted(plan.items())))
        if "accounting" in out:
            print(f"  {out['accounting']}")
        # every declared name; 0 for a layer this workload does not use
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layer = dict.fromkeys(units, 0)
        layer.update(out.get("layer", {}))
        layer["session.peak_rss_mb"] = rss
        layer["traced.throughput_per_s"] = e2e["throughput_per_s"]
        layer["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = e2e
    if set(layer) != set(units):
        raise KeyError(f"metrics differ from BENCHMARK.json: {sorted(set(layer) ^ set(units))}")
    metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        print(f"  {k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": not out["failures"], "attempted": out["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
