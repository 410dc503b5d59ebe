#!/usr/bin/env python3
"""Standalone A/B measurement: run the named queries interleaved with
BOTH frozen control profiles in one fresh-JVM session, cold runs
(release_tracked between every run, as bench.py does),
and print one JSON line with raw runs, medians, session control
factors, and box-normalized seconds.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/perf_ab.py q1 [q2 ...]
Env: SPARK_GRAFT_AB_ROUNDS (default 3) measurement rounds.
"""
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_flight_delay_data_pipeline_spark.operators.cache import (  # noqa: E402
    release_tracked)
from us_flight_delay_data_pipeline_spark.queries import load_registry  # noqa: E402
from us_flight_delay_data_pipeline_spark.session import get_spark  # noqa: E402

import bench  # noqa: E402

targets = sys.argv[1:]
rounds = int(os.environ.get("SPARK_GRAFT_AB_ROUNDS", "3"))
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark(app_name="perf_ab")
reg = load_registry()
bench.materialize(reg["monthly_trend"].fn(spark, sf_dir))  # JVM warmup

controls = ["region_revenue", "text_stats", "segment_sales",
            "topk_orders", "sessionize_events", "customer_running_total"]
names = targets + controls
times = {n: [] for n in names}
for rnd in range(rounds):
    for n in names:
        spark.sparkContext.setJobDescription(f"ab:{n}:r{rnd}")
        t0 = time.time()
        bench.materialize(reg[n].fn(spark, sf_dir))
        times[n].append(round(time.time() - t0, 3))
        release_tracked()
med = {n: round(statistics.median(v), 3) for n, v in times.items()}
ref = bench.control_reference()
sref = bench.shuffle_control_reference()
box = statistics.median(med[n] / ref[n] for n in ref)
sbox = statistics.median(med[n] / sref[n] for n in sref)
out = {"box_factor": round(box, 3), "box_factor_shuffle": round(sbox, 3),
       "controls": {n: med[n] for n in controls}}
for t in targets:
    out[t] = {"runs": times[t], "median_sec": med[t],
              "box_normalized_sec": round(med[t] / box, 3)}
print(json.dumps(out))
