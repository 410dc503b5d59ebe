#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named queries to a directory.

Usage: python scripts/dump_plan.py <out_dir> <suffix> <query> [query ...]

Writes <out_dir>/<query>_<suffix>.txt (suffix = "before" / "after").
Plans are built at sf0.001 — plan SHAPE (exchanges, join strategy,
pushdown, Python-eval nodes) is scale-invariant for these queries;
only AQE runtime re-optimization differs, and explain() shows the
static plan either way.

The plan is captured from ``df.explain("formatted")`` stdout rather
than through private PythonSQLUtils internals, which are brittle
across Spark versions.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_flight_delay_data_pipeline_spark.queries import load_registry
from us_flight_delay_data_pipeline_spark.session import get_spark


def main() -> None:
    out_dir, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="dump_plan")
    reg = load_registry()
    for name in names:
        df = reg[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange, "
              f"{plan.count('BatchEvalPython')} BatchEvalPython)")


if __name__ == "__main__":
    main()
