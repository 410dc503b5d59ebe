#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 16 --trace 0

Runs the workload on ``local[<cores>]`` from the checkout this file
sits in, checks its outputs, and prints one JSON result line last:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (spans, self times and Spark stage counters; the
spans themselves go to ``perfbench/out/``). All working files live
under ``.perfbench_work/`` in the checkout and are removed at exit.
Exits 1 if any call or check failed, 2 if the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "us_flight_delay_data_pipeline_spark"
LAYERS = ("sources.envelope", "sources.registry", "plans.silver", "plans.gold",
          "plans.views", "queries")
SPARK_TOTALS = ("jobs", "stages", "tasks", "tasks_failed", "executor_run_s",
                "executor_cpu_s", "jvm_gc_s", "input_bytes", "output_bytes",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Everything the session and its Python workers inherit: the repo
    root on PYTHONPATH (workers import the package), working and temp
    dirs inside the checkout, one Spark core per CPU."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT, HERE]


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _start_session(work: str):
    from us_flight_delay_data_pipeline_spark.session import get_spark
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway  # noqa: SLF001 — owns the JVM process
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def _timed_spans(run):
    """Spans inside the timed rounds, and the round spans themselves."""
    rounds = [sp for sp in run.spans if sp.name == "bench.round"]
    ids = {sp.span_id for sp in rounds}
    inside, by_id = [], {sp.span_id: sp for sp in run.spans}
    for sp in run.spans:
        p = sp.parent
        while p is not None and p not in ids:
            p = by_id[p].parent
        if p is not None:
            inside.append(sp)
    return rounds, inside


def _query_walls(run) -> list[float]:
    """Latency of every query (dashboard view or registered query)
    inside the timed rounds."""
    _rounds, inside = _timed_spans(run)
    return [sp.end - sp.start for sp in inside if sp.name.startswith("unit.")]


def end_to_end(run, res) -> dict[str, tuple[float, str]]:
    wall = statistics.median(res.round_walls)
    return {
        "setup_s": (res.setup_s, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (res.rows_per_round / wall, "1/s"),
    }


def per_layer(run, res, cores: int, query_names) -> dict[str, tuple[float, str]]:
    """Per-round averages over the timed rounds; 0 for a layer the
    workload does not call."""
    rounds, inside = _timed_spans(run)
    n = len(rounds)
    own = run.self_seconds()
    total_wall = sum(sp.end - sp.start for sp in rounds)

    def secs(prefix: str) -> float:
        return sum(sp.end - sp.start for sp in inside if sp.name.startswith(prefix)) / n

    def count(prefix: str, what: str) -> float:
        return sum(sp.counters.get(what, 0) for sp in inside
                   if sp.name.startswith(prefix)) / n

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (res.session_s, "s"),
        "sources.write_envelope_bronze_s": (res.write_bronze_s, "s"),
        "sources.read_envelope_bronze_s": (secs("sources.envelope.read_bronze"), "s"),
        "plans.silver.transform_s": (secs("plans.silver.transform"), "s"),
        "plans.gold.derive_kpis_s": (secs("plans.gold.derive_kpis"), "s"),
    }
    for g in ("master", "carrier", "causes", "monthly"):
        m[f"plans.gold.write_{g}_s"] = (secs(f"plans.gold.write_{g}"), "s")
    loads = [sp for sp in inside if sp.name == "sources.registry.load_table"]
    m.update({
        "sources.load_table_s": (secs("sources.registry.load_table"), "s"),
        "sources.load_table_calls": (len(loads) / n, "count"),
        "sources.load_table_jobs": (count("sources.registry.load_table", "jobs"), "count"),
        "sources.pruned_scan_s": (secs("sources.registry.pruned_scan"), "s"),
        "plans.views.build_s": (secs("plans.views.build"), "s"),
        "plans.views.action_s": (secs("plans.views.action"), "s"),
        "queries.build_s": (sum(secs(f"queries.{q}.build") for q in query_names), "s"),
        "queries.action_s": (sum(secs(f"queries.{q}.action") for q in query_names), "s"),
    })
    for q in query_names:
        m[f"queries.{q}.wall_s"] = (secs(f"unit.{q}"), "s")
    for key, unit in (("plans.silver.rows_in", "count"), ("plans.silver.rows_out", "count"),
                      ("plans.silver.rows_repaired", "count"), ("plans.silver.yield", "ratio"),
                      ("plans.gold.files_written", "count"), ("plans.gold.bytes_written", "B"),
                      ("plans.gold.partitions", "count"),
                      ("plans.storage_amplification", "ratio"),
                      ("operators.leaked_persists", "count")):
        m[key] = (res.layer.get(key, 0), unit)
    for c in SPARK_TOTALS:
        unit = "s" if c.endswith("_s") else "B" if c.endswith("_bytes") else "count"
        m[f"spark.{c}"] = (count("", c), unit)
    m["spark.slot_utilization"] = (
        count("", "executor_run_s") * n / (total_wall * cores), "ratio")
    for layer in LAYERS:
        spans = [sp for sp in inside if sp.layer == layer]
        busy = sum(sp.end - sp.start for sp in spans)
        run_s = sum(sp.counters.get("executor_run_s", 0) for sp in spans)
        m[f"{layer}.self_s"] = (sum(own[sp.span_id] for sp in spans) / n, "s")
        m[f"{layer}.spark.jobs"] = (sum(sp.counters.get("jobs", 0) for sp in spans) / n, "count")
        m[f"{layer}.spark.tasks"] = (sum(sp.counters.get("tasks", 0) for sp in spans) / n, "count")
        m[f"{layer}.spark.executor_run_s"] = (run_s / n, "s")
        m[f"{layer}.spark.slot_utilization"] = (run_s / (busy * cores) if busy else 0.0, "ratio")
    queries = _query_walls(run) or [0.0]
    m["bench.query_samples"] = (len(queries), "count")
    m["bench.query_p50_s"] = (statistics.median(queries), "s")
    m["bench.query_max_s"] = (max(queries), "s")
    m["process.peak_rss_mb"] = (res.peak_rss_mb, "MB")
    m["trace.wall_s"] = (statistics.median(res.round_walls), "s")
    m["trace.rounds"] = (n, "count")
    m["trace.spans"] = (len(run.spans), "count")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("medallion", "operators"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE} not found next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    t0 = time.perf_counter()
    _prepare_env(work)
    try:
        return _run(args, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def _run(args, work: str, t0: float) -> int:
    import workloads
    from spans import Run

    spark = _start_session(work)
    try:
        session_s = time.perf_counter() - t0
        run = Run(spark, bool(args.trace), uuid.uuid4().hex[:8])
        res = workloads.WORKLOADS[args.workload](
            run, spark, args.seed, args.seconds, work, session_s)
        run.collect_counters()
        jvm_pid = spark._jvm.ProcessHandle.current().pid()  # noqa: SLF001
        res.peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    finally:
        _stop_session(spark)
    res.session_s = session_s
    writes = [sp.end - sp.start for sp in run.spans
              if sp.name == "sources.envelope.write_bronze"]
    res.write_bronze_s = statistics.median(writes) if writes else 0.0

    if args.trace:
        metrics = per_layer(run, res, _cores(), workloads.OPERATOR_QUERIES)
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"spans_{args.workload}_{args.seed}.jsonl"), "w") as fh:
            for rec in run.records():
                fh.write(json.dumps(rec) + "\n")
    else:
        metrics = end_to_end(run, res)
    print(f"rounds: {[round(w, 3) for w in res.round_walls]}", file=sys.stderr)
    for f in run.failures:
        print(f"FAILED {f['call']} [{f['layer']}] {f['error']}", file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if run.failures else 0


if __name__ == "__main__":
    sys.exit(main())
