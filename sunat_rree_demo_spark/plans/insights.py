"""Rule-based narrative insight layer — Spark rebuild of
``insights_engine.py``: the distributed part is a top-k reduction
(orderBy |YoY| desc, limit k — TakeOrderedAndProject, never a full
sort); only the ≤k collected records are templated into Markdown on the
driver (``insights_engine.py:82-125`` does the same post-collect).

The thresholds, emojis and bucket boundaries mirror the reference
(``insights_engine.py:28-37,94-105``).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation, functions as F

from sunat_rree_demo_spark.functions.months import MONTH_NAMES_ES
from sunat_rree_demo_spark.operators.relational import resolve_alias

_MONTH_ABBR = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")


def month_abbrev(mes: str) -> str:
    """'Enero' → 'Jan' (``insights_engine.py:7-17``)."""
    try:
        return _MONTH_ABBR[MONTH_NAMES_ES.index(mes)]
    except ValueError:
        return mes[:3]


def format_currency(value: float) -> str:
    """M/B/K formatting (``insights_engine.py:19-26``)."""
    if abs(value) >= 1e9:
        return f"{value / 1e9:.1f}B"
    if abs(value) >= 1e6:
        return f"{value / 1e6:.1f}M"
    return f"{value / 1e3:.1f}K"


def trend_emoji(yoy: float) -> str:
    """YoY bucket → emoji (``insights_engine.py:28-37``)."""
    if yoy > 10:
        return "🚀"
    if yoy > 0:
        return "📈"
    if yoy > -10:
        return "📉"
    return "⚠️"


def _action(yoy: float) -> tuple[str, str]:
    """Recommendation buckets (``insights_engine.py:94-105``)."""
    if yoy > 15:
        return (f"Intensify trade promotion and expand capacity. "
                f"Target: +{yoy * .1:.0f}% additional in Q4.", "DGCE + MINCETUR")
    if yoy > 5:
        return "Consolidate the positive trend with focused trade missions.", \
               "Oficinas Comerciales"
    if yoy > -5:
        return "Monitor closely and prepare market-diversification strategies.", \
               "DGIP"
    return "Review sector policy and consider targeted incentives.", \
           "DGCE + Gremios"


def top_insight_records(kpi_prod: DataFrame, top_n: int = 3) -> list[dict[str, Any]]:
    """The distributed reduction: latest year → dropna → top-n by |YoY|
    (``insights_engine.py:44-78``) as ONE ordered limit. Rows sort by
    year descending, then complete rows (no null/NaN in the reference's
    dropna subset) before incomplete ones, then |YoY| descending and
    category, so the first ``top_n`` rows hold every record the answer
    needs; the driver keeps the complete rows of the first row's year."""
    if not kpi_prod.columns:
        return []
    yoy_col = resolve_alias(kpi_prod, "exp_yoy", "%YoY_exp")
    complete = F.lit(True)
    for c, t in kpi_prod.dtypes:
        if c in (yoy_col, "balance"):
            missing = F.col(c).isNull()
            if t in ("double", "float"):  # na.drop treats NaN as missing
                missing = missing | F.isnan(c)
            complete = complete & ~missing
    rows = (
        kpi_prod.withColumn("_complete", complete)
        .orderBy(F.desc("year"), F.desc("_complete"),
                 F.desc(F.abs(F.col(yoy_col))), F.asc("category"))
        .limit(top_n).collect())
    latest = rows[0].year if rows else None
    out = []
    for r in rows:
        if latest is None or r.year != latest or not r["_complete"]:
            break  # the sort puts every kept row before the first dropped one
        rec = r.asDict()
        del rec["_complete"]
        # normalize the resolved YoY column to 'exp_yoy' so downstream
        # templating works for either supported schema
        rec.setdefault("exp_yoy", rec[yoy_col])
        out.append(rec)
    return out


def build_insights(kpi_prod: DataFrame, top_n: int = 3) -> list[str]:
    """Markdown insight cards (``insights_engine.py:39-127``)."""
    records = top_insight_records(kpi_prod, top_n)
    if not records:
        return ["📊 **Sin datos para el período seleccionado**\n\n"
                "Ajusta los filtros para ver insights."]
    out = []
    for i, rec in enumerate(records, 1):
        yoy = rec.get("exp_yoy") or 0.0
        balance = rec.get("balance") or 0.0
        category = rec.get("category", "N/A")
        action, responsible = _action(yoy)
        trend = "crecieron" if yoy > 0 else "decrecieron"
        balance_txt = "superávit" if balance > 0 else "déficit"
        out.append(
            f"### {trend_emoji(yoy)} **Insight #{i}: {category}**\n\n"
            f"**📊 Hallazgo:** Las exportaciones de **{category}** {trend} "
            f"**{yoy:+.1f}% YoY** en {month_abbrev(rec.get('month', 'Dic'))} "
            f"{rec.get('year')}.\n\n"
            f"**💰 Impacto:** Contribuye con US$ {format_currency(abs(balance))} "
            f"al {balance_txt} comercial.\n\n"
            f"**🎯 Acción:** {action}\n"
            f"- **Responsable:** {responsible}\n"
        )
    return out


def build_summary_insights(kpi_monthly: DataFrame,
                           kpi_prod: DataFrame) -> list[str]:
    """Executive summary: national totals + leading category
    (``insights_engine.py:129-192``) — two small aggregates, one
    top-1."""
    if kpi_monthly.isEmpty() or kpi_prod.isEmpty():
        return ["📊 **Datos insuficientes para generar resumen ejecutivo**"]
    latest = kpi_monthly.agg(F.max("year")).first()[0]
    nat = (kpi_monthly.filter(F.col("year") == latest)
           .agg(F.sum("export").alias("exp"), F.sum("import").alias("imp")).first())
    total_exp = nat.exp or 0.0
    balance = total_exp - (nat.imp or 0.0)
    exp_col = resolve_alias(kpi_prod, "exp", "export")
    top = (kpi_prod.filter(F.col("year") == latest)
           .groupBy("category").agg(F.sum(exp_col).alias("v"))
           .orderBy(F.desc("v"), F.asc("category")).limit(1).collect())
    top_cat, top_val = (top[0].category, top[0].v) if top else ("N/A", 0.0)
    pct = top_val / total_exp * 100 if total_exp > 0 else 0.0
    return [
        f"## 📈 **Resumen Ejecutivo - {latest}**\n\n"
        f"- **Exportaciones totales:** US$ {format_currency(total_exp)}\n"
        f"- **Balance comercial:** US$ {format_currency(balance)} "
        f"({'superávit' if balance > 0 else 'déficit'})\n"
        f"- **Top categoría:** {top_cat} — US$ {format_currency(top_val)} "
        f"({pct:.1f}% del total)\n"
    ]


def quick_stats(kpi_prod: DataFrame) -> dict[str, Any]:
    """Latest year, active categories, best month, YoY volatility
    (``insights_engine.py:194-234``) as one aggregate, observed over a
    single scan of the frame (a no-op write), so the bundle costs one
    Spark job; ``agg().first()`` would cost two under AQE, which runs
    the shuffle feeding a global aggregate as a job of its own."""
    exp_col = resolve_alias(kpi_prod, "exp", "export")
    exp = F.col(exp_col)
    # the smallest key is the best month of the latest year: the latest
    # year first, then rows with a positive export (if there are none,
    # no best month), the largest export, the earliest month name
    key = F.when(F.col("year").isNotNull(), F.struct(
        (-F.col("year")).alias("neg_year"),
        (~F.coalesce(exp > 0, F.lit(False))).alias("no_export"),
        (-exp).alias("neg_exp"),
        F.col("month").alias("month")))
    aggs = [F.count(F.lit(1)).alias("rows"), F.min(key).alias("best")]
    cols = ["year", "month", exp_col]
    if "exp_yoy" in kpi_prod.columns:
        aggs.append(F.stddev_samp("exp_yoy").alias("volatility"))
        cols.append("exp_yoy")
    if "category" in kpi_prod.columns:
        aggs.append(F.size(F.collect_set("category")).alias("categories"))
        cols.append("category")
    obs = Observation()
    (kpi_prod.select(*cols).observe(obs, *aggs)
     .write.format("noop").mode("overwrite").save())
    got = obs.get
    if not got["rows"]:
        return {"error": "Sin datos"}
    best = got["best"]
    return {
        "latest_year": None if best is None else -best.neg_year,
        "active_categories": got.get("categories", 0),
        "best_month": ("N/A" if best is None or best.no_export
                       else best.month),
        "volatility": got.get("volatility") or 0.0,
    }
