"""Plans-layer tests: KPI builds cross-validated three ways (DataFrame
impl vs Spark-SQL view vs DuckDB running the identical view SQL), QA
invariants, the SQL view stack, and the end-to-end pipeline."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def trade(spark):
    from sunat_rree_demo_spark.sources.trade import synthetic_trade
    return synthetic_trade(spark).cache()


@pytest.fixture(scope="module")
def trade_prod(spark):
    from sunat_rree_demo_spark.sources.trade import synthetic_trade_prod
    return synthetic_trade_prod(spark).cache()


def test_kpi_monthly_matches_sql_view_and_duckdb(spark, trade):
    from sunat_rree_demo_spark.plans.kpi import build_kpi_monthly
    from sunat_rree_demo_spark.plans.views import register_sql_views, view_sql

    built = build_kpi_monthly(trade)
    trade.createOrReplaceTempView("trade")
    register_sql_views(spark)
    view = spark.table("metrics_windowed")

    # the DataFrame build rounds HALF_EVEN (pandas fidelity) while the
    # SQL views round HALF_UP (the reference's metrics.sql) — the same
    # divergence the reference has between its own two implementations;
    # equality therefore holds to one rounding unit
    cols = {"year": 0, "month_num": 0, "export": 0, "import": 0,
            "balance": 0, "export_mom": 0.01, "export_yoy": 0.01,
            "import_mom": 0.01, "import_yoy": 0.01, "export_ma3": 1.0,
            "import_ma3": 1.0, "idx2005_export": 0.01, "idx2005_import": 0.01}
    b = {(r.year, r.month_num): r for r in built.collect()}
    v = {(r.year, r.month_num): r for r in view.collect()}
    assert b.keys() == v.keys()
    for k in b:
        for c, tol in cols.items():
            x, y = b[k][c], v[k][c]
            if x is None or y is None:
                assert x == y, (k, c, x, y)
            else:
                assert abs(x - y) <= tol, (k, c, x, y)

    # DuckDB executes the double-quoted twin of the same view SQL
    con = duckdb.connect()
    con.register("trade", trade.toPandas())
    sql = view_sql('"')
    con.sql(f'CREATE VIEW base_monthly AS {sql["base_monthly"]}')
    d = {(r[0], r[2]): r for r in con.sql(sql["metrics_windowed"]).fetchall()}
    dcols = list(con.sql(sql["metrics_windowed"]).columns)
    assert set(k for k in d) == set(b.keys())
    for k, row in d.items():
        duck = dict(zip(dcols, row))
        for c, tol in cols.items():
            x, y = b[k][c], duck[c]
            if x is None or y is None:
                assert x == y, (k, c, x, y)
            else:
                assert abs(x - y) <= tol, (k, c, x, y)


def test_kpi_prod_formulas_spot_check(spark, trade_prod):
    from sunat_rree_demo_spark.plans.kpi import build_kpi_prod_monthly

    kpi = build_kpi_prod_monthly(trade_prod)
    cat = trade_prod.select("category").first().category
    rows = sorted(
        kpi.filter(F.col("category") == cat).collect(),
        key=lambda r: (r.year, r.month_num))
    assert rows, "category series must not be empty"
    # NOTE python round() is half-even — the same semantics as the
    # builders' bround (mirroring pandas .round)
    # row-offset lag semantics: mom at row i uses row i-1, not calendar
    for i in range(1, min(len(rows), 20)):
        prev, cur = rows[i - 1], rows[i]
        if prev.exp and cur.exp is not None:
            assert cur.exp_mom == round((cur.exp / prev.exp - 1) * 100, 2)
    # base-100 index anchored at the first row of the category (per-cell
    # missing flows stay NULL, like the reference's pivot)
    first = rows[0]
    base = first.exp if first.exp and first.exp > 0 else 1.0
    for r in rows[:20]:
        if r.exp is None:
            assert r.idx_exp is None
        else:
            assert r.idx_exp == round(r.exp / base * 100, 2)
    # ma3 min_periods=1 with 0-decimal rounding over non-null values
    window3 = [r.exp for r in rows[:3] if r.exp is not None]
    if rows[0].exp is not None:
        assert rows[0].exp_ma3 == round(rows[0].exp, 0)
    if len(rows) >= 3 and window3:
        assert rows[2].exp_ma3 == round(sum(window3) / len(window3), 0)
    # cov_ratio is exp/imp rounded 4, NULL-guarded
    for r in rows[:20]:
        if r.imp and r.exp is not None:
            assert r.cov_ratio == round(r.exp / r.imp, 4)


def test_qa_invariants_flag_seeded_discrepancy(spark, trade, trade_prod):
    from sunat_rree_demo_spark.plans.kpi import build_kpi_prod_monthly
    from sunat_rree_demo_spark.plans.qa import reconciliation, run_invariants

    # the generator seeds a $5M discrepancy on (2012, export) national
    warn = reconciliation(trade, ["year", "flow"]).collect()
    assert [(r.year, r.flow) for r in warn] == [(2012, "export")]
    assert abs(warn[0].delta - 5e6) < 1.0

    results = {r.name: r for r in run_invariants(
        trade, trade_prod, build_kpi_prod_monthly(trade_prod))}
    assert results["reconciliation_major"].ok          # $5M < $10M major bar
    assert results["table_non_empty"].ok
    assert results["both_flows_present"].ok
    assert results["year_range_sane"].ok
    assert results["no_negative_or_null_usd"].ok
    assert results["no_empty_categories"].ok
    assert results["category_domains_consistent"].ok


def test_quarterly_and_annual_views_agree_with_duckdb(spark, trade):
    from sunat_rree_demo_spark.plans.views import register_sql_views, view_sql

    trade.createOrReplaceTempView("trade")
    register_sql_views(spark)
    con = duckdb.connect()
    con.register("trade", trade.toPandas())
    sql = view_sql('"')
    con.sql(f'CREATE VIEW base_monthly AS {sql["base_monthly"]}')
    for name in ("quarterly_summary", "annual_performance"):
        s = sorted(tuple(r) for r in spark.table(name).collect())
        d = sorted(con.sql(sql[name]).fetchall())
        assert s == d, name


def test_pipeline_end_to_end(spark, trade, trade_prod, tmp_path):
    from sunat_rree_demo_spark.plans.pipeline import run_pipeline

    manifest = run_pipeline(spark, trade, trade_prod, str(tmp_path / "wh"))
    assert manifest["qa_ok"]
    assert set(manifest["kpi_tables"]) == {"kpi_monthly", "kpi_prod_monthly"}
    assert spark.table("kpi_monthly").count() > 200
    assert manifest["eda"]["n_outliers"] >= 0
    assert "Mean monthly exports" in manifest["eda"]["report"]
    # synthetic 2025 has no import flow → balance NULL everywhere in the
    # latest year → the reference's dropna yields the no-data card
    # (insights_engine.py:63-68); both outcomes are valid here
    assert manifest["insights"]
    assert ("Insight #1" in manifest["insights"][0]
            or "Sin datos" in manifest["insights"][0]
            or "insuficientes" in manifest["insights"][0])
    assert manifest["quick_stats"]["latest_year"] == 2025
    assert manifest["quick_stats"]["active_categories"] == 10
    # partition pruning contract: facts are partitioned by year
    assert (tmp_path / "wh" / "trade" / "year=2005").exists()


def test_insights_edge_cases(spark):
    from pyspark.sql import types as T

    from sunat_rree_demo_spark.plans.insights import (
        build_insights,
        format_currency,
        month_abbrev,
        quick_stats,
        trend_emoji,
    )

    empty = spark.createDataFrame([], T.StructType([
        T.StructField("year", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("exp_yoy", T.DoubleType()),
        T.StructField("balance", T.DoubleType()),
        T.StructField("month", T.StringType()),
    ]))
    out = build_insights(empty)
    assert len(out) == 1 and "Sin datos" in out[0]
    assert quick_stats(empty.withColumn("exp", F.lit(1.0))) == {
        "error": "Sin datos"}

    schema = "year long, month string, category string, exp double, " \
             "exp_yoy double"

    def stats(rows):
        return quick_stats(spark.createDataFrame(rows, schema))

    # the latest year has rows but no positive export: no best month,
    # not the earlier year's
    got = stats([(2024, "Enero", "A", 0.0, 1.0),
                 (2024, "Febrero", "B", None, 3.0),
                 (2023, "Marzo", "A", 500.0, 2.0)])
    assert got["latest_year"] == 2024 and got["best_month"] == "N/A"
    assert got["active_categories"] == 2
    assert abs(got["volatility"] - 1.0) < 1e-12  # stddev_samp(1, 3, 2)
    # tied exports: ascending month name breaks the tie
    got = stats([(2024, "Marzo", "A", 50.0, None),
                 (2024, "Abril", "B", 50.0, None),
                 (2024, "Enero", "C", 20.0, None),
                 (2023, "Agosto", "A", 90.0, None)])
    assert got["best_month"] == "Abril"
    # every exp_yoy null: volatility 0.0
    assert got["volatility"] == 0.0
    assert got["active_categories"] == 3

    assert format_currency(1e9) == "1.0B"
    assert format_currency(5.2e6) == "5.2M"
    assert format_currency(900) == "0.9K"
    assert trend_emoji(15) == "🚀" and trend_emoji(-15) == "⚠️"
    assert month_abbrev("Enero") == "Jan" and month_abbrev("???") == "???"


def test_insights_rank_by_abs_yoy(spark):
    from pyspark.sql import Row

    from sunat_rree_demo_spark.plans.insights import top_insight_records

    df = spark.createDataFrame([
        Row(year=2024, month="Marzo", category="A", exp_yoy=5.0, balance=1.0),
        Row(year=2024, month="Marzo", category="B", exp_yoy=-40.0, balance=-2.0),
        Row(year=2024, month="Marzo", category="C", exp_yoy=12.0, balance=3.0),
        Row(year=2024, month="Marzo", category="E", exp_yoy=80.0, balance=None),
        Row(year=2023, month="Marzo", category="D", exp_yoy=99.0, balance=4.0),
    ])
    recs = top_insight_records(df, top_n=2)
    # latest year, dropna, |YoY| desc
    assert [r["category"] for r in recs] == ["B", "C"]
    # fewer complete latest-year rows than top_n: never an earlier year
    recs = top_insight_records(df, top_n=5)
    assert [r["category"] for r in recs] == ["B", "C", "A"]

    # every latest-year row lacks a YoY or a balance (the reference's
    # dropna): no records at all, not the earlier year's
    schema = "year long, month string, category string, exp_yoy double, " \
             "balance double"
    gaps = spark.createDataFrame([
        (2024, "Marzo", "A", None, 1.0),
        (2024, "Marzo", "B", -40.0, None),
        (2024, "Abril", "C", float("nan"), 3.0),
        (2023, "Marzo", "D", 99.0, 4.0),
    ], schema)
    assert top_insight_records(gaps, top_n=3) == []


def test_observe_qa_rides_the_action(spark):
    """Observation metrics must match direct aggregation and cost no
    extra job: they materialize with the caller's own action."""
    from sunat_rree_demo_spark.plans.qa import observe_qa
    from sunat_rree_demo_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    observed, obs = observe_qa(ev, "value", "event_id")

    n = observed.count()  # the caller's action; metrics ride it
    jobs_before = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    got = obs.get  # reading the observation must launch NO job
    jobs_after = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    assert jobs_after == jobs_before

    from pyspark.sql import functions as F
    direct = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        F.round(F.sum("value"), 2).alias("value_total")).first()
    assert got["n_rows"] == n == direct["n_rows"]
    assert got["n_null_value"] == direct["n_null_value"]
    assert abs(got["value_total"] - direct["value_total"]) < 0.01
    assert got["n_ids_approx"] > 0
