"""The registry order is the driver's oracle sample (its first 50
names), derived from the committed ``CORRECTNESS_r*.json`` records:
red latest rows first, then never-checked names, then the stalest
green evidence."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from us_flight_delay_data_pipeline_spark.queries import (
    driver_sample_order, load_registry)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _row(green: bool) -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": green,
            "spark_rows": 1, "oracle_rows": 1, "err": None}


def test_sample_moves_past_the_last_checked_round():
    with open(os.path.join(REPO, "CORRECTNESS_r10.json")) as fh:
        last = set(json.load(fh))
    assert not set(list(load_registry())[:50]) & last


def test_rows_only_queries_sort_after_every_oracle_query():
    reg = load_registry()
    assert all(reg[n].oracle is not None for n in list(reg)[:50])


def test_order_rule(tmp_path):
    records = tmp_path / "records"
    records.mkdir()
    (records / "CORRECTNESS_r03.json").write_text(json.dumps({
        "a_old": _row(True), "d_red": _row(True), "e_fixed": _row(False)}))
    (tmp_path / "CORRECTNESS_r07.json").write_text(json.dumps({
        "c_recent": _row(True), "d_red": _row(False), "e_fixed": _row(True),
        "gone": _row(False)}))
    names = ["e_fixed", "c_recent", "a_old", "b_new", "d_red"]
    assert driver_sample_order(names, (tmp_path, records)) == [
        "d_red", "b_new", "a_old", "c_recent", "e_fixed"]
    # no records (an installed copy): everything is never-checked
    assert driver_sample_order(names, (tmp_path / "none",)) == sorted(names)


def test_registry_names_and_order_independent_of_cwd():
    here = list(load_registry())
    assert len(set(here)) == 253
    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); "
            "from us_flight_delay_data_pipeline_spark.queries import "
            "load_registry; print(json.dumps(list(load_registry())))")
    out = subprocess.run([sys.executable, "-c", code, REPO], cwd="/",
                         capture_output=True, text=True, check=True).stdout
    assert json.loads(out) == here
