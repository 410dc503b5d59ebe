#!/usr/bin/env python3
"""Full-registry partition-invariance audit (the one-off behind
INVARIANCE_r2.log, now a repeatable script): every registered query
must return IDENTICAL canonicalized values under 32 vs 7 shuffle
partitions (coprime, so every hash distribution changes). The
15-query risk sample runs per-commit in
tests/test_partition_invariance.py; this sweeps everything.

Usage: python scripts/check_invariance.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_flight_delay_data_pipeline_spark.operators.cache import release_tracked
from us_flight_delay_data_pipeline_spark.queries import load_registry
from us_flight_delay_data_pipeline_spark.session import get_spark


def _canon(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()

    def cell(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v
        if isinstance(v, list):
            return tuple(v)
        return v

    return cols, sorted([tuple(cell(r[c]) for c in cols) for r in rows],
                        key=repr)


def _within_rtol(cols, base, other, rtol: float,
                 rtol_cols: tuple[str, ...]) -> bool:
    """Approximate multiset equality for sketch-estimate queries
    (QuerySpec.invariance_rtol > 0). The tolerance applies ONLY to
    the query's declared estimate columns (invariance_rtol_cols);
    every other cell — exact keys, decimal-routed sums, counts — must
    match exactly. Rows are paired by their exact-cell tuple first,
    so the matcher cannot pair rows across different key values (the
    old greedy any-to-any matcher let rtol*|key| absorb a key
    mismatch). Within an exact-key group, estimates pair greedily —
    O(g²) per group, and groups are 1-row for every keyed sketch
    query here."""
    if len(base) != len(other):
        return False
    est_idx = {i for i, c in enumerate(cols) if c in rtol_cols}

    def split(row):
        exact = tuple(v for i, v in enumerate(row) if i not in est_idx)
        est = [row[i] for i in sorted(est_idx)]
        return exact, est

    groups: dict[tuple, list[list]] = {}
    for orow in other:
        exact, est = split(orow)
        groups.setdefault(exact, []).append(est)
    for brow in base:
        exact, best = split(brow)
        cands = groups.get(exact)
        if not cands:
            return False
        for i, oest in enumerate(cands):
            ok = all(
                abs(b - o) <= rtol * max(1.0, abs(b), abs(o))
                if isinstance(b, (int, float)) and not isinstance(b, bool)
                else b == o
                for b, o in zip(best, oest))
            if ok:
                del cands[i]
                break
        else:
            return False
    return True


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark()
    reg = load_registry()
    names = sys.argv[2:] or sorted(reg)
    n_ok = n_fail = 0
    for name in names:
        t0 = time.monotonic()
        try:
            cols, base = _canon(reg[name].fn(spark, sf_dir))
            old = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            try:
                _, narrow = _canon(reg[name].fn(spark, sf_dir))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", old)
            release_tracked()
            dt = time.monotonic() - t0
            rtol = getattr(reg[name], "invariance_rtol", 0.0)
            rtol_cols = getattr(reg[name], "invariance_rtol_cols", ())
            if base == narrow:
                n_ok += 1
                print(f"ok   {name} ({dt:.1f}s)", flush=True)
            elif rtol and _within_rtol(cols, base, narrow, rtol,
                                       rtol_cols):
                n_ok += 1
                print(f"ok   {name} (sketch estimate cols "
                      f"{list(rtol_cols)} within rtol={rtol}; all other "
                      f"cells exact) ({dt:.1f}s)", flush=True)
            else:
                n_fail += 1
                print(f"FAIL {name}: {len(base)} vs {len(narrow)} rows "
                      f"or value drift ({dt:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}",
                  flush=True)
    print(f"\n{n_ok} invariant, {n_fail} failed")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
