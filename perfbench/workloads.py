"""The two workloads: the medallion chain (bronze through the gold
dashboards) and the iterative operator queries.

Each workload has a set-up (inputs from the seed, landed through the
package), a warm-up, a closed loop of timed rounds with one client,
and output checks outside the timed region. Every call into the
package goes through ``Run.call`` so one failure is recorded with its
layer and the run still ends with a result line.
"""

from __future__ import annotations

import decimal
import itertools
import math
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

import gen
from spans import FAILED, Run

from us_flight_delay_data_pipeline_spark.operators.cache import release_tracked
from us_flight_delay_data_pipeline_spark.plans import gold, silver, views
from us_flight_delay_data_pipeline_spark.queries import load_registry
from us_flight_delay_data_pipeline_spark.sources import envelope, registry

# Input sizes per workload. All fit in memory many times over.
MEDALLION = {"rows": 20_000, "carriers": 6, "airports": 100, "months": 6}
OPERATORS = {"docs": 500, "vectors": 500, "dim": 64, "labels": 10}
# Registered query -> the generated table it reads (for rows_per_s).
OPERATOR_QUERIES = {"dedup_clusters": "documents",
                    "knn_semantic_clusters": "embeddings"}
GENERATION_REPEATS = 3
CAUSES = ("carrier_ct", "weather_ct", "nas_ct", "security_ct", "late_aircraft_ct")


@dataclass
class Result:
    """What a workload hands back to the runner."""
    setup_s: float = 0.0
    round_walls: list[float] = field(default_factory=list)
    rows_per_round: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    # Filled in by the runner after the workload returns.
    session_s: float = 0.0
    write_bronze_s: float = 0.0
    peak_rss_mb: float = 0.0


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, repeats: int):
    """Run ``fn`` ``repeats`` times; return (median seconds, last value)."""
    times, value = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        value = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), value


def _loop(run: Run, seconds: float, one_round, min_rounds: int = 1,
          between=None) -> list[float]:
    """Closed loop, one client: rounds back to back until ``seconds``
    have passed and ``min_rounds`` are done. Returns the round walls;
    ``between`` runs after each round, outside its span."""
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(walls) < min_rounds or time.perf_counter() < t_end:
        with run.span("bench.round") as sp:
            one_round()
        walls.append(sp.end - sp.start)
        run.collect_counters()
        if between:
            between()
    return walls


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(data files, bytes, leaf partition directories) under ``path``."""
    files = size = 0
    leaves = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
            leaves.add(root)
    return files, size, len(leaves)


def _close(a: float, b: float) -> bool:
    return math.isclose(a or 0.0, b or 0.0, rel_tol=1e-9, abs_tol=1e-6)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: repr(tuple(round(x, 4) if isinstance(x, float) else x
                                           for x in t)))


def same_rows(scols, srows, dcols, drows, exact: bool) -> str | None:
    """None when both results hold the same rows (any order); else why not."""
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rows {len(srows)} != {len(drows)}"
    for a, b in zip(_rows(scols, srows), _rows(dcols, drows)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, (int, float)) and not exact:
                if not _close(x, y):
                    return f"value {x} != {y}"
            elif x != y:
                return f"value {x!r} != {y!r}"
    return None


# ---------------------------------------------------------------- medallion

def _land_bronze(run: Run, spark, table, work: str, name: str) -> str:
    stage = os.path.join(work, f"{name}_stage.parquet")
    pq.write_table(table, stage)
    bronze = os.path.join(work, f"{name}_bronze")
    run.call("sources.envelope.write_bronze", envelope.write_envelope_bronze,
             spark.read.parquet(stage), bronze)
    return bronze


def _silver(bronze, path: str):
    df, obs = silver.silver_transform_observed(bronze)
    silver.write_silver(df, path)
    return obs.get


def medallion_chain(run: Run, spark, bronze: str, out: dict[str, str]) -> dict | None:
    """bronze → silver → KPIs → the four gold grains. Returns the
    silver Observation metrics, or None if a step failed."""
    df = run.call("sources.envelope.read_bronze",
                  envelope.read_envelope_bronze, spark, bronze)
    if df is FAILED:
        return None
    health = run.call("plans.silver.transform", _silver, df, out["silver"])
    if health is FAILED:
        return None
    kpi = run.call("plans.gold.derive_kpis",
                   lambda: gold.derive_kpis(spark.read.parquet(out["silver"])))
    if kpi is FAILED:
        return None
    run.call("plans.gold.write_master",
             lambda: gold.write_gold(gold.gold_master(kpi), out["master"]))
    run.call("plans.gold.write_carrier",
             lambda: gold.write_gold(gold.agg_carrier(kpi), out["carrier"]))
    run.call("plans.gold.write_causes",
             lambda: gold.write_gold(gold.agg_causes(kpi), out["causes"]))
    run.call("plans.gold.write_monthly",
             lambda: gold.agg_monthly(kpi).write.mode("overwrite").parquet(out["monthly"]))
    return health


def _gold_paths(base: str) -> dict[str, str]:
    return {"silver": os.path.join(base, "silver"),
            **{g: os.path.join(base, f"gold_{g}.parquet")
               for g in ("master", "carrier", "causes", "monthly")}}


def dashboards(run: Run, spark, gold_dir: str, carrier: str, month: int,
               collect: bool) -> dict:
    """The read side: every view and dashboard query, then the
    partition-pruned reads, each over freshly loaded gold tables."""
    return {name: _dashboard_query(run, spark, gold_dir, name, tbl, build,
                                   carrier, month, collect)
            for name, tbl, build, _sql in _dashboard_queries(carrier, month)}


def medallion(run: Run, spark, seed: int, seconds: float, work: str,
              setup_s: float) -> Result:
    gen_s, (table, facts) = _median_time(
        lambda: gen.flight_envelopes(seed, **MEDALLION), GENERATION_REPEATS)
    rng = random.Random(seed)
    picks = [(rng.choice(facts["carriers"][:4]), rng.choice(facts["months"])[1])
             for _ in range(64)]
    t0 = time.perf_counter()
    with run.span("setup.land"):
        bronze = _land_bronze(run, spark, table, work, "flights")
    with run.span("setup.warmup"):
        warm = os.path.join(work, "warm")
        medallion_chain(run, spark, bronze, _gold_paths(warm))
        dashboards(run, spark, warm, *picks[0], collect=False)
    res = Result(setup_s=setup_s + gen_s + time.perf_counter() - t0)

    # Every round writes a fresh tree, so no round pays for deleting the
    # previous round's files; older trees go between rounds, untimed.
    tree_ids = itertools.count()
    trees: list[str] = []
    health: dict = {}
    picks_iter = iter(picks * 100)

    def one_round():
        nonlocal health
        trees.append(os.path.join(work, f"run{next(tree_ids)}"))
        health = medallion_chain(run, spark, bronze, _gold_paths(trees[-1])) or {}
        dashboards(run, spark, trees[-1], *next(picks_iter), collect=False)

    def drop_old_trees():
        while len(trees) > 1:
            shutil.rmtree(trees.pop(0))

    res.round_walls = _loop(run, seconds, one_round, min_rounds=2, between=drop_old_trees)
    res.rows_per_round = facts["rows_in"]
    gold_dir = trees[-1]
    run.call("check.chain", _check_chain, run, facts, bronze, _gold_paths(gold_dir),
             health, res)
    with run.span("check.dashboards"):
        pick = next(picks_iter)
        results = dashboards(run, spark, gold_dir, *pick, collect=True)
    run.call("check.dashboards", _check_dashboards, run, gold_dir, results, pick)
    return res


def _check_chain(run: Run, facts: dict, bronze: str, out: dict[str, str],
                 health: dict, res: Result) -> None:
    """Row counts between layers, grain sums and the partition count,
    read back with DuckDB from the files the last round wrote."""
    con = duckdb.connect()
    rows_out = health.get("rows_out", -1)
    silver_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{out['silver']}/*.parquet')").fetchone()[0]
    clean = con.execute(
        f"SELECT count(*) FROM read_parquet('{bronze}/*.parquet') "
        "WHERE right(body::VARCHAR, 1) = '}'").fetchone()[0]
    repaired = rows_out - clean
    _check(run, "plans.silver.rows_out", rows_out == facts["rows_parseable"] == silver_rows,
           f"rows_out {rows_out}, file rows {silver_rows}, expected {facts['rows_parseable']}")
    _check(run, "plans.silver.rows_repaired", repaired == facts["rows_repaired"],
           f"repaired {repaired} != {facts['rows_repaired']}")

    def hive(p):
        return f"read_parquet('{p}/**/*.parquet', hive_partitioning=1)"

    master_sums = con.execute(
        "SELECT sum(arr_flights), sum(arr_del15), sum(arr_delay), "
        + ", ".join(f"sum({c})" for c in CAUSES) + f" FROM {hive(out['master'])}").fetchone()
    for grain, src in (("carrier", hive(out["carrier"])),
                       ("monthly", f"read_parquet('{out['monthly']}/*.parquet')")):
        sums = con.execute(
            "SELECT sum(total_arr_flights), sum(total_arr_del15), "
            "sum(total_arr_delay_minutes), "
            + ", ".join(f"sum(sum_{c})" for c in CAUSES) + f" FROM {src}").fetchone()
        _check(run, f"plans.gold.{grain}_sums",
               all(_close(a, b) for a, b in zip(sums, master_sums)),
               f"{grain} sums {sums} != master {master_sums}")
    n_part = con.execute(
        f"SELECT count(DISTINCT (carrier, year, month)) FROM {hive(out['master'])}").fetchone()[0]
    files, size, leaves = 0, 0, 0
    for g in ("master", "carrier", "causes", "monthly"):
        f, s, n = _dir_stats(out[g])
        files, size = files + f, size + s
        leaves += n if g == "master" else 0
    _check(run, "plans.gold.partitions", n_part == leaves == facts["partitions"],
           f"partitions {n_part}/{leaves} != {facts['partitions']}")
    silver_bytes = _dir_stats(out["silver"])[1]
    res.layer.update({
        "plans.silver.rows_in": facts["rows_in"],
        "plans.silver.rows_out": rows_out,
        "plans.silver.rows_repaired": repaired,
        "plans.silver.yield": rows_out / facts["rows_in"],
        "plans.gold.files_written": files,
        "plans.gold.bytes_written": size,
        "plans.gold.partitions": leaves,
        "plans.storage_amplification": (silver_bytes + size) / facts["body_bytes"],
    })


def _check_dashboards(run: Run, gold_dir: str, results: dict, pick) -> None:
    """Each dashboard result against DuckDB over the same gold files."""
    con = duckdb.connect()
    for name, tbl, _build, sql in _dashboard_queries(*pick):
        got = results[name]
        if got is FAILED:
            continue
        path = os.path.join(gold_dir, f"gold_{tbl}.parquet")
        src = (f"read_parquet('{path}/*.parquet')" if tbl == "monthly"
               else f"read_parquet('{path}/**/*.parquet', hive_partitioning=1)")
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM {src}")
        r = con.execute(sql)
        why = same_rows(got[0], got[1], [d[0] for d in r.description], r.fetchall(),
                        exact=False)
        _check(run, f"plans.views.{name}", why is None, why or "")


def _check(run: Run, name: str, ok: bool, why: str) -> None:
    if ok:
        run.passed()
    else:
        print(f"CHECK FAILED {name}: {why}", file=sys.stderr, flush=True)
        run.fail(name, "mismatch")


# ---------------------------------------------------- medallion read side

def _dashboard_queries(carrier: str, month: int):
    """(name, gold table, build, DuckDB SQL over view ``t``) per query."""
    f = f"carrier = '{carrier}' AND month = {month}"

    def sd(n, d):
        return f"CASE WHEN {d} IS NULL OR {d} = 0 THEN 0.0 ELSE {n} / {d} END"

    pct = ", ".join(f"{sd(f'sum_{c}', 'total_cause_minutes')} AS {c}_pct_calc" for c in CAUSES)
    top = ("SELECT carrier, carrier_name, sum(total_arr_flights) AS total_flights, "
           "sum(total_arr_del15) AS total_del15, "
           "sum(total_arr_delay_minutes) AS total_delay_minutes FROM t "
           "GROUP BY carrier, carrier_name")
    top_cols = ("carrier, carrier_name, total_flights, total_del15, total_delay_minutes, "
                + sd("total_del15", "total_flights") + " AS delay_rate, "
                + sd("total_delay_minutes", "total_flights") + " AS avg_delay_per_flight")
    master_num = ("arr_flights arr_del15 carrier_ct weather_ct nas_ct security_ct "
                  "late_aircraft_ct arr_cancelled arr_diverted arr_delay carrier_delay "
                  "delay_rate avg_delay_per_flight cancel_rate divert_rate cause_total "
                  + " ".join(f"{c}_pct" for c in CAUSES)).split()
    return [
        ("v_overall_kpis", "monthly", views.v_overall_kpis,
         "SELECT *, " + sd("total_del15", "total_arrivals") + " AS delay_rate, "
         + sd("total_delay_minutes", "total_arrivals") + " AS avg_delay_per_flight FROM ("
         "SELECT max(year) AS latest_year, max(month) AS latest_month, "
         "sum(total_arr_flights) AS total_arrivals, sum(total_arr_del15) AS total_del15, "
         "sum(total_arr_delay_minutes) AS total_delay_minutes, "
         "sum(total_arr_cancelled) AS total_cancelled, "
         "sum(total_arr_diverted) AS total_diverted FROM t)"),
        ("v_monthly_trend", "monthly", views.v_monthly_trend,
         "SELECT year, month, year_month, total_arr_flights, total_arr_del15, "
         "total_arr_delay_minutes, " + sd("total_arr_del15", "total_arr_flights")
         + " AS delay_rate, " + sd("total_arr_delay_minutes", "total_arr_flights")
         + " AS avg_delay_per_flight FROM t"),
        ("v_top_carriers", "carrier", views.v_top_carriers,
         f"SELECT {top_cols} FROM ({top})"),
        ("v_causes_pct", "causes", views.v_causes_pct,
         "SELECT carrier, carrier_name, year, month, "
         + ", ".join(f"sum_{c}" for c in CAUSES) + f", total_cause_minutes, {pct} FROM t"),
        ("v_master_clean", "master", views.v_master_clean,
         "SELECT * REPLACE (" + ", ".join(
             f"TRY_CAST({c} AS DOUBLE) AS {c}" for c in master_num)
         + ", TRY_CAST(year AS INTEGER) AS year, TRY_CAST(month AS INTEGER) AS month) FROM t"),
        ("dashboard_top_carriers", "carrier", views.dashboard_top_carriers,
         f"SELECT {top_cols} FROM ({top}) ORDER BY total_flights DESC LIMIT 20"),
        ("dashboard_monthly_causes", "causes", views.dashboard_monthly_causes,
         "SELECT year, month, " + ", ".join(f"sum(sum_{c}) AS sum_{c}" for c in CAUSES)
         + ", sum(total_cause_minutes) AS total_cause_minutes FROM t GROUP BY year, month"),
        *[(f"pruned_{g}", g, None, f"SELECT * FROM t WHERE {f}")
          for g in ("carrier", "causes", "master")],
    ]


def _dashboard_query(run: Run, spark, gold_dir: str, name: str, table: str,
                     build, carrier: str, month: int, collect: bool):
    """One dashboard query: load the gold table, build, materialize."""
    from pyspark.sql import functions as F
    with run.span(f"unit.{name}"):
        df = run.call("sources.registry.load_table",
                      registry.load_table, spark, gold_dir, f"gold_{table}")
        if df is FAILED:
            return FAILED
        if build is None:
            q = run.call("sources.registry.prune",
                         lambda: df.filter((F.col("carrier") == carrier)
                                           & (F.col("month") == month)))
            action = "sources.registry.pruned_scan"
        else:
            q = run.call("plans.views.build", build, df)
            action = "plans.views.action"
        if q is FAILED:
            return FAILED
        if collect:
            return run.call(action, lambda: (q.columns, q.collect()))
        return run.call(action, materialize, q)


# ---------------------------------------------------------------- operators

def _operator_query(run: Run, spark, reg, name: str, data: str):
    """One registered query: build (iterative builders run eagerly
    here), then fetch the result to the client."""
    with run.span(f"unit.{name}"):
        df = run.call(f"queries.{name}.build", reg[name].fn, spark, data)
        if df is FAILED:
            return FAILED
        return run.call(f"queries.{name}.action", lambda: (df.columns, df.collect()))


def operators(run: Run, spark, seed: int, seconds: float, work: str,
              setup_s: float) -> Result:
    data = os.path.join(work, "ops")
    os.makedirs(data)
    gen_s, tables = _median_time(lambda: gen.operator_tables(seed, **OPERATORS),
                                 GENERATION_REPEATS)
    t0 = time.perf_counter()
    gen.write_tables(tables, data)
    reg = load_registry()
    order = list(OPERATOR_QUERIES)
    random.Random(seed).shuffle(order)
    leaked: list[int] = []
    jsc = spark.sparkContext._jsc  # noqa: SLF001 — persistent-RDD count has no Python API

    def drain():
        leaked.append(jsc.getPersistentRDDs().size())
        release_tracked()
        spark.catalog.clearCache()

    with run.span("setup.warmup"):
        for name in order:
            _operator_query(run, spark, reg, name, data)
            drain()
    res = Result(setup_s=setup_s + gen_s + time.perf_counter() - t0)
    leaked.clear()
    results: dict = {}

    def one_round():
        for name in order:
            results[name] = _operator_query(run, spark, reg, name, data)
            drain()

    res.round_walls = _loop(run, seconds, one_round, min_rounds=2)
    res.rows_per_round = sum(tables[OPERATOR_QUERIES[q]].num_rows for q in order)
    res.layer["operators.leaked_persists"] = max(leaked)

    run.call("check.oracles", _check_oracles, run, reg, tables, data, results)
    return res


def _check_oracles(run: Run, reg, tables: dict, data: str, results: dict) -> None:
    """The last round's results against each query's DuckDB oracle."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name, got in results.items():
        if got is FAILED or reg[name].oracle is None:
            continue
        r = con.execute(reg[name].oracle)
        why = same_rows(got[0], got[1], [d[0] for d in r.description], r.fetchall(),
                        exact=True)
        _check(run, f"queries.{name}", why is None, why or "")


WORKLOADS = {"medallion": medallion, "operators": operators}
