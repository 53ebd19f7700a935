"""Dashboard read path — the reference's Streamlit tabs
(``app.py:141-832``) re-expressed as parameterized DataFrame queries:
each function takes the filter state the UI widgets would supply
(year_range, categories, n_top, metric) and returns the frame the chart
would render. ``.toPandas()``/``.collect()`` happens only at the
presentation edge, outside this module; ``df.cache()`` replaces
``@st.cache_data`` (``app.py:23,58``).

Because every function is a plain DataFrame transform, the same API
serves a dashboard, a notebook, or a batch export — and Catalyst sees
the *complete* filtered plan (partition pruning by year works; the
reference filters in pandas after loading everything, ``app.py:187``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sunat_rree_demo_spark.operators.analytics import (
    monthly_profile,
    seasonality_matrix,
    ytd_vs_prior,
)
from sunat_rree_demo_spark.operators.relational import resolve_alias
from sunat_rree_demo_spark.operators.sorts import tail_k, top_n
from sunat_rree_demo_spark.functions.scalars import safe_div

#: ranking metrics the UI can sort by (``app.py:617-624``, T7).
RANKING_METRICS = ("exp", "imp", "balance", "cov_ratio")


def country_series(kpi_monthly: DataFrame, year_range: tuple[int, int]) -> DataFrame:
    """Country tab main series (``app.py:165-188``): the windowed KPI
    frame scoped to the slider range."""
    lo, hi = year_range
    return kpi_monthly.filter(F.col("year").between(lo, hi)) \
        .orderBy("year", "month_num")


def country_ytd(kpi_monthly: DataFrame) -> DataFrame:
    """YTD metric cards (``app.py:197-248``)."""
    return ytd_vs_prior(kpi_monthly, value_cols=("export", "import"))


def country_heatmap(kpi_monthly: DataFrame,
                    year_range: tuple[int, int]) -> DataFrame:
    """Seasonality heatmap (``app.py:313-330``), month × year wide."""
    lo, hi = year_range
    scoped = kpi_monthly.filter(F.col("year").between(lo, hi))
    return seasonality_matrix(scoped, value_col="export",
                              years=list(range(lo, hi + 1)))


def country_profile(kpi_monthly: DataFrame) -> DataFrame:
    """Monthly mean±std profile with error bars (``app.py:336-357``)."""
    return monthly_profile(kpi_monthly, value_col="export")


def country_detail_tail(kpi_monthly: DataFrame, k: int = 24) -> DataFrame:
    """Detail table: last k months (``app.py:366-379``, T5)."""
    return tail_k(kpi_monthly, ["year", "month_num"], k)


def top_categories(kpi_prod: DataFrame,
                   n_top: int | None = 5) -> list[str]:
    """Category pre-selection: top-N by total exports
    (``app.py:447-459``) — the one driver round-trip (a k-row collect
    feeding the UI multiselect). ``n_top=None`` returns the whole
    ranking, whose n-prefix is the top-n for every n."""
    exp_col = resolve_alias(kpi_prod, "exp", "export")
    totals = kpi_prod.groupBy("category").agg(F.sum(exp_col).alias("_t"))
    ranked = (totals.orderBy(F.desc("_t"), F.asc("category"))
              if n_top is None else top_n(totals, "_t", n_top, "category"))
    return [r.category for r in ranked.collect()]


def category_series(kpi_prod: DataFrame, year_range: tuple[int, int],
                    categories: list[str]) -> DataFrame:
    """Category tab working set (``app.py:483``): conjunctive
    range+membership filter (F2-F4)."""
    lo, hi = year_range
    return kpi_prod.filter(
        F.col("year").between(lo, hi) & F.col("category").isin(categories))


def category_annual(filtered: DataFrame) -> DataFrame:
    """Stacked-area source: annual sums per category
    (``app.py:506-529``)."""
    exp_col = resolve_alias(filtered, "exp", "export")
    imp_col = resolve_alias(filtered, "imp", "import")
    return (
        filtered.groupBy("year", "category")
        .agg(F.round(F.sum(exp_col), 2).alias("exp"),
             F.round(F.sum(imp_col), 2).alias("imp"))
        .withColumn("balance", F.round(F.col("exp") - F.col("imp"), 2))
        .withColumn("cov_ratio", F.round(safe_div(F.col("exp"), F.col("imp"), 100.0), 2))
        .orderBy("year", "category")
    )


def ranking_table(kpi_prod: DataFrame, year: int,
                  metric: str = "exp", n: int = 10) -> DataFrame:
    """Metric-switched ranking (``app.py:609-646``, T7): categories of
    one year ranked by whichever metric the user picked."""
    if metric not in RANKING_METRICS:
        raise ValueError(f"metric must be one of {RANKING_METRICS}")
    exp_col = resolve_alias(kpi_prod, "exp", "export")
    imp_col = resolve_alias(kpi_prod, "imp", "import")
    annual = (
        kpi_prod.filter(F.col("year") == year)
        .groupBy("category")
        .agg(F.round(F.sum(exp_col), 2).alias("exp"),
             F.round(F.sum(imp_col), 2).alias("imp"))
        .withColumn("balance", F.round(F.col("exp") - F.col("imp"), 2))
        .withColumn("cov_ratio",
                    F.round(safe_div(F.col("exp"), F.col("imp"), 100.0), 2))
    )
    return top_n(annual, metric, n, "category")
