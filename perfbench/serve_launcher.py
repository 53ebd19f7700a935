"""Runs the program's dashboard server (``plans.serve``) in its own
process for the ``dashboard`` workload.

    python3 perfbench/serve_launcher.py <work_dir> <trace 0|1>

Builds ``DashboardApp.from_synthetic`` on a fresh session, writes the
KPI frames it serves to ``<work_dir>/ref.json`` (the reference the load
generator checks page tables against), prints one JSON line with the
port and set-up timings, and serves until its stdin closes. Traced, it
wraps the layer calls the pages make and, at shutdown, writes spans and
Spark counters to ``<work_dir>/server_trace.json``."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

import harness


def _install_wrappers(tracer: harness.Tracer, app) -> None:
    from sunat_rree_demo_spark.plans import charts_html, eda, insights, serve

    for attr in ("country_series", "country_ytd", "country_detail_tail",
                 "top_categories", "category_series", "category_annual",
                 "ranking_table"):
        tracer.patch(serve, attr, f"plans.dashboard.{attr}")
    for attr in ("build_insights", "build_summary_insights", "quick_stats"):
        tracer.patch(insights, attr, f"plans.insights.{attr}")
    for attr in ("render_chart_html", "render_figure", "panzoom_script"):
        tracer.patch(charts_html, attr, f"plans.charts_html.{attr}")
    tracer.patch(eda, "chart_bundle", "plans.eda.chart_bundle")

    render = app.render

    def traced_render(path: str):
        tracer.set_request(parse_qs(urlparse(path).query).get("rid", [None])[0])
        with tracer.span("plans.serve.render"):
            return render(path)
    app.render = traced_render


def main() -> None:
    work, trace = sys.argv[1], sys.argv[2] == "1"
    tracer = harness.Tracer(trace)
    t0 = time.perf_counter()
    from sunat_rree_demo_spark.plans.serve import DashboardApp, serve
    from sunat_rree_demo_spark.session import get_spark

    spark = get_spark("perfbench-dashboard")
    t1 = time.perf_counter()
    app = DashboardApp.from_synthetic(spark)
    t2 = time.perf_counter()

    ref = {
        "min_year": app.min_year, "max_year": app.max_year,
        "categories": app.categories,
        "kpi_monthly": [[r.year, r.month_num, r.export, r["import"],
                         r.balance] for r in app.kpi_monthly.select(
            "year", "month_num", "export", "import", "balance").collect()],
        "kpi_prod": [[r.year, r.category, r.exp, r.imp] for r in
                     app.kpi_prod.select("year", "category", "exp", "imp")
                     .collect()],
    }
    with open(os.path.join(work, "ref.json"), "w") as f:
        json.dump(ref, f)
    if trace:
        tracer.spark = spark
        _install_wrappers(tracer, app)
    srv = serve(app)
    loop = threading.Thread(target=srv.serve_forever, daemon=True)
    loop.start()
    print(json.dumps({"port": srv.server_address[1],
                      "get_spark_s": t1 - t0, "app_build_s": t2 - t1}),
          flush=True)
    sys.stdin.read()  # the load generator closes our stdin when done
    srv.shutdown()
    srv.server_close()
    loop.join(timeout=10)
    if trace:
        tracer.dump(os.path.join(work, "server_trace.json"), {
            "counters": harness.harvest_counters(spark)})
    harness.stop_spark(spark)


if __name__ == "__main__":
    main()
