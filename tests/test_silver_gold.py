"""Golden pipeline tests: bronze envelope → silver → gold → views
(SURVEY.md §5 strategy 2/3), including the dirty-data and
zero-denominator contracts."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.flight_fixtures import (bronze_df, dirty_bodies, encode_bodies,
                                   make_clean_rows)
from us_flight_delay_data_pipeline_spark.plans.gold import (
    agg_carrier, agg_causes, agg_monthly, derive_kpis, gold_master)
from us_flight_delay_data_pipeline_spark.plans import silver as silver_mod
from us_flight_delay_data_pipeline_spark.plans.silver import (
    silver_transform, write_silver)
from us_flight_delay_data_pipeline_spark.plans.views import (
    dashboard_monthly_causes, dashboard_top_carriers, v_causes_pct,
    v_monthly_trend, v_overall_kpis, v_top_carriers)
from us_flight_delay_data_pipeline_spark.sources.envelope import format_available


@pytest.fixture(scope="module")
def clean_rows():
    return make_clean_rows(200)


@pytest.fixture(scope="module")
def silver(spark, clean_rows):
    bodies = encode_bodies(clean_rows) + dirty_bodies()
    return silver_transform(bronze_df(spark, bodies)).cache()


def test_silver_schema_and_rowcount(silver, clean_rows):
    # 200 clean rows survive + 1 repaired (trailing garbage) + 1
    # non-numeric-metric row; the 4 unparseable/truncated/null die.
    assert silver.count() == len(clean_rows) + 2
    types = dict(silver.dtypes)
    assert types["year"] == "int" and types["month"] == "int"
    for c in ("arr_flights", "arr_delay", "carrier_ct", "late_aircraft_ct"):
        assert types[c] == "double"
    assert types["carrier"] == "string"


def test_silver_bad_numeric_goes_null(silver):
    # The "not_a_number" arr_flights row is kept with NULL (TRY_CAST
    # semantics, snowflake-wh/…:508-537).
    assert silver.filter(F.col("arr_flights").isNull()).count() == 1


def test_silver_values_roundtrip(silver, clean_rows):
    # silver = 200 clean rows + dirty[0] (seed-99 row 0, repaired) +
    # dirty[5] (seed-99 row 0 with bad arr_flights; arr_delay intact)
    extra = make_clean_rows(3, seed=99)[0]
    want = sum(float(r["arr_delay"]) for r in clean_rows) + 2 * float(extra["arr_delay"])
    got = silver.agg(F.sum("arr_delay")).collect()[0][0]
    assert abs(got - want) < 1e-6


def test_zero_denominator_yields_zero(spark):
    rows = [{
        "year": "2024", "month": "1", "carrier": "ZZ", "carrier_name": "Zero",
        "airport": "AAA", "airport_name": "A", "arr_flights": "0.00",
        "arr_del15": "0.00", "carrier_ct": "0.00", "weather_ct": "0.00",
        "nas_ct": "0.00", "security_ct": "0.00", "late_aircraft_ct": "0.00",
        "arr_cancelled": "0.00", "arr_diverted": "0.00", "arr_delay": "0.00",
        "carrier_delay": "0.00",
    }]
    silver = silver_transform(bronze_df(spark, encode_bodies(rows)))
    kpi = derive_kpis(silver).collect()[0]
    # CASE WHEN 0 THEN 0 contract: 0, not NULL (snowflake-wh/…:442-445)
    assert kpi["delay_rate"] == 0.0
    assert kpi["avg_delay_per_flight"] == 0.0
    assert kpi["carrier_ct_pct"] == 0.0
    mon = v_overall_kpis(agg_monthly(derive_kpis(silver))).collect()[0]
    assert mon["delay_rate"] == 0.0


def test_gold_schemas_match_ddl(silver):
    kpi = derive_kpis(silver)
    assert len(gold_master(kpi).columns) == 28
    carrier_cols = agg_carrier(kpi).columns
    # 23 DDL columns + our avg_delay_rate_rowmean extra
    assert len([c for c in carrier_cols if c != "avg_delay_rate_rowmean"]) == 23
    assert len(agg_monthly(kpi).columns) == 22
    assert len(agg_causes(kpi).columns) == 15


def test_reaggregation_consistency(silver):
    """Property: GOLD_CARRIER totals == GOLD_MONTHLY totals (SURVEY §5.3)."""
    kpi = derive_kpis(silver).na.drop(subset=["arr_flights"])
    a = agg_carrier(kpi).agg(F.sum("total_arr_flights")).collect()[0][0]
    b = agg_monthly(kpi).agg(F.sum("total_arr_flights")).collect()[0][0]
    assert abs(a - b) < 1e-6


def test_cause_pcts_sum_to_one(silver):
    kpi = derive_kpis(silver)
    causes = agg_causes(kpi).filter(F.col("total_cause_minutes") > 0)
    bad = causes.withColumn(
        "s", sum(F.col(f"{c}_pct") for c in (
            "carrier_ct", "weather_ct", "nas_ct", "security_ct",
            "late_aircraft_ct")),
    ).filter(F.abs(F.col("s") - 1.0) > 1e-9)
    assert bad.count() == 0


def test_views_run_and_order(silver):
    kpi = derive_kpis(silver)
    monthly, carrier, causes = agg_monthly(kpi), agg_carrier(kpi), agg_causes(kpi)
    trend = v_monthly_trend(monthly).collect()
    keys = [(r["year"], r["month"]) for r in trend]
    assert keys == sorted(keys)
    top = dashboard_top_carriers(carrier, k=3).collect()
    assert len(top) <= 3
    vols = [r["total_flights"] for r in top]
    assert vols == sorted(vols, reverse=True)
    assert v_causes_pct(causes).count() == causes.count()
    assert dashboard_monthly_causes(causes).count() > 0


def test_repartition_invariance(silver):
    """Property: gold totals invariant under repartitioning (§5.3)."""
    kpi = derive_kpis(silver)
    a = agg_monthly(kpi).agg(F.sum("total_arr_delay_minutes")).collect()[0][0]
    b = agg_monthly(kpi.repartition(17)).agg(
        F.sum("total_arr_delay_minutes")).collect()[0][0]
    assert abs(a - b) < 1e-5


def test_gold_write_partition_pruning(spark, silver, tmp_path):
    """The gold sink's partitionBy(carrier,year,month) must give the
    dashboard's per-carrier filter Hive partition pruning: the carrier
    predicate shows up as a PartitionFilter on the scan, not a data
    filter over all files."""
    from us_flight_delay_data_pipeline_spark.plans.gold import write_gold
    path = str(tmp_path / "gold_carrier")
    carrier_tbl = agg_carrier(derive_kpis(silver))
    write_gold(carrier_tbl, path)
    one = spark.read.parquet(path).filter(F.col("carrier") == "AA")
    plan = one._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "carrier" in pf
    assert one.count() == carrier_tbl.filter(F.col("carrier") == "AA").count()


def test_silver_observation_metrics(spark):
    """df.observe collects pipeline metrics in the SAME pass as the
    action — values must match explicit recomputation."""
    from tests.flight_fixtures import dirty_bodies, encode_bodies, make_clean_rows
    from us_flight_delay_data_pipeline_spark.plans.silver import (
        silver_transform, silver_transform_observed)
    from us_flight_delay_data_pipeline_spark.streaming.ingest import (
        ENVELOPE_SCHEMA)
    bodies = encode_bodies(make_clean_rows(40)) + dirty_bodies()
    rows = [(b, "0", i, None) for i, b in enumerate(bodies)]
    bronze = spark.createDataFrame(rows, ENVELOPE_SCHEMA)
    observed, obs = silver_transform_observed(bronze)
    n = observed.count()  # the action that feeds the observation
    metrics = obs.get
    assert metrics["rows_out"] == n
    assert metrics["null_year_rows"] == 0  # null-drop already applied
    expect = silver_transform(bronze)
    years = expect.agg(F.min("year"), F.max("year")).first()
    assert (metrics["min_year"], metrics["max_year"]) == tuple(years)


def test_write_silver_format_follows_probe(spark, silver, tmp_path):
    """The silver sink writes Delta iff the delta datasource is
    registered, parquet otherwise, and the table reads back equal."""
    path = str(tmp_path / "silver")
    write_silver(silver, path)
    delta = format_available(spark, "delta")
    assert os.path.isdir(os.path.join(path, "_delta_log")) == delta
    back = spark.read.format("delta" if delta else "parquet").load(path)
    assert back.schema == silver.schema
    assert back.exceptAll(silver).count() == 0
    assert silver.exceptAll(back).count() == 0


def test_write_silver_failure_is_not_retried_in_another_format(
        spark, tmp_path, monkeypatch):
    """A failing silver write raises its own error: a task failure
    surfaces with its message, and a failing Delta write is not
    silently replaced by a parquet table."""
    boom = spark.range(3).select(
        F.when(F.col("id") == 2, F.raise_error(F.lit("silver boom")))
         .otherwise(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="silver boom"):
        write_silver(boom, str(tmp_path / "boom"))

    if format_available(spark, "delta"):
        pytest.skip("delta is registered; the failing-delta case needs it absent")
    monkeypatch.setattr(silver_mod, "format_available", lambda *_: True)
    path = tmp_path / "fake_delta"
    with pytest.raises(Exception, match="delta"):
        write_silver(spark.range(3), str(path))
    assert not list(path.glob("*.parquet"))
