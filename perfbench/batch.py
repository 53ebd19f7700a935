"""``batch`` workload: the nightly job in a fresh session — a warehouse
refresh (``plans.pipeline.run_pipeline``, the only write path), corpus
curation (``plans.curate.curate`` then ``curate_summary``), then an
analyst's seeded Zipf series of registry reads (``queries.REGISTRY``
through ``sources.catalog``) over published warehouse snapshots that
are never overwritten. A closed loop of back-to-back jobs, each into a
fresh warehouse directory, for the measured window.

Correctness (outside the timed region): DuckDB reads back every table
the refresh wrote and checks it against the totals the generator
knows, the QA gate must flag exactly the injected reconciliation
breaks, the curation summary must equal q204's oracle SQL run in
DuckDB over the same generated corpus, and every registry read must
equal its query's DuckDB oracle on the same snapshot."""

from __future__ import annotations

import math
import os
import time

import adhoc
import gen
import harness
import stats

#: input sizes (recorded in BENCHMARK.json's workload description)
N_CATEGORIES = 200
N_DOCS = 1_000
NEAR_DUP_SHARE = 0.15
EXACT_DUP_SHARE = 0.05
#: reconciliation breaks the generator injects into trade_prod
QA_MAJOR_BREAKS = 3
#: registry reads per job, over snapshots of TPC-H shape: sf0.05
#: dimensions, lineitem/orders replicated 2x (about 0.6M lineitem rows,
#: above the program's 4 MB hot-cache gate)
READS = 14
REG_SNAPSHOTS = 2
REG_SF = 0.05
REG_REPLICAS = 2

PIPELINE_STAGES = ("materialize_facts", "qa_gate", "kpi_build", "sql_views",
                   "eda", "insights")


def make_inputs(work: str, seed: int) -> dict:
    d = os.path.join(work, "in")
    os.makedirs(d, exist_ok=True)
    trade, t_truth = gen.trade(seed)
    prod, p_truth = gen.trade_prod(seed, N_CATEGORIES)
    docs, _ = gen.corpus(seed, N_DOCS, NEAR_DUP_SHARE, EXACT_DUP_SHARE)
    paths = {n: os.path.join(d, f"{n}.parquet")
             for n in ("trade", "trade_prod", "documents")}
    trade_bytes = (gen.write_parquet(trade, paths["trade"])
                   + gen.write_parquet(prod, paths["trade_prod"]))
    gen.write_parquet(docs, paths["documents"])
    snaps = [os.path.join(d, f"snap{i}") for i in range(REG_SNAPSHOTS)]
    for i, snap in enumerate(snaps):
        gen.write_snapshot(snap, seed * 100 + i, REG_SF, REG_REPLICAS)
    return {"paths": paths, "trade": t_truth, "trade_prod": p_truth,
            "trade_input_bytes": trade_bytes, "snapshots": snaps,
            "reads": [(q, snaps[-1 - rank]) for q, rank in
                      adhoc.draws(seed, READS, REG_SNAPSHOTS)]}


def _install_wrappers(tracer: harness.Tracer) -> None:
    from sunat_rree_demo_spark.plans import curate, pipeline

    for attr, name in (("run_invariants", "plans.qa.run_invariants"),
                       ("save_kpi_tables", "plans.kpi.save_kpi_tables"),
                       ("register_sql_views", "plans.views.register_sql_views"),
                       ("run_eda", "plans.eda.run_eda"),
                       ("build_insights", "plans.insights.build_insights"),
                       ("build_summary_insights",
                        "plans.insights.build_summary_insights"),
                       ("quick_stats", "plans.insights.quick_stats")):
        tracer.patch(pipeline, attr, name)
    tracer.patch(curate, "connected_components",
                 "operators.components.connected_components")
    tracer.patch(curate, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs")


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def check_refresh(wh: str, manifest: dict, truth: dict) -> list[str]:
    """Problems found reading the refreshed warehouse back with DuckDB."""
    import duckdb

    con = duckdb.connect()
    errs: list[str] = []

    def scan(name):
        return (f"read_parquet('{wh}/{name}/*/*.parquet', "
                "hive_partitioning = true)")

    for name, key in (("trade", "trade"), ("trade_prod", "trade_prod")):
        n = con.execute(f"SELECT count(*) FROM {scan(name)}").fetchone()[0]
        if n != truth[key]["rows"]:
            errs.append(f"{name}: {n} rows, expected {truth[key]['rows']}")
    for name, (exp, imp), key, rows_key in (
            ("kpi_monthly", ("export", "import"), "trade", "months"),
            ("kpi_prod_monthly", ("exp", "imp"), "trade_prod", "kpi_rows")):
        got = con.execute(
            f"SELECT CAST(year AS BIGINT), sum({exp}), sum({imp}), count(*) "
            f"FROM {scan(name)} GROUP BY 1").fetchall()
        if sum(r[3] for r in got) != truth[key][rows_key]:
            errs.append(f"{name}: {sum(r[3] for r in got)} rows, "
                        f"expected {truth[key][rows_key]}")
        for year, s_exp, s_imp, _n in got:
            for flow, val in (("export", s_exp), ("import", s_imp)):
                want = truth[key][flow].get(int(year))
                if (want is None) != (val is None) or (
                        want is not None and not math.isclose(
                            val, want, rel_tol=1e-9, abs_tol=0.01)):
                    errs.append(f"{name} {year} {flow}: {val} != {want}")
    breaks = manifest["qa"]["reconciliation_major"]["violations"]
    if breaks != QA_MAJOR_BREAKS:
        errs.append(f"QA found {breaks} major breaks, "
                    f"injected {QA_MAJOR_BREAKS}")
    return errs


def curate_oracle(docs_path: str) -> list[tuple]:
    """q204's oracle SQL over the generated corpus. The near-dup pair
    CTE is materialized into a temp table first: DuckDB inlines CTEs,
    so the recursive closure would otherwise recompute the whole MinHash
    pipeline on every iteration (minutes instead of seconds). The
    statement is otherwise run verbatim."""
    import duckdb

    from sunat_rree_demo_spark.queries import REGISTRY

    sql = REGISTRY["q204_curation_summary"].oracle
    lo = sql.index("pairs AS (") + len("pairs AS (")
    hi = sql.index("uedges AS")
    hi = sql.rindex(")", lo, hi)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs_path}')")
    con.execute(f"CREATE TEMP TABLE pairs_m AS {sql[:hi + 1]} "
                "SELECT * FROM pairs")
    return con.execute(sql[:lo] + " SELECT * FROM pairs_m " + sql[hi:]
                       ).fetchall()


def run(work: str, seed: int, seconds: float, tracer: harness.Tracer) -> dict:
    inputs = make_inputs(work, seed)
    paths = inputs["paths"]
    with harness.PeakRSS(os.getpid()) as rss:
        t0 = time.perf_counter()
        from sunat_rree_demo_spark.plans import curate as curate_mod
        from sunat_rree_demo_spark.plans import pipeline
        from sunat_rree_demo_spark.session import get_spark

        spark = get_spark("perfbench-batch")
        setup_s = time.perf_counter() - t0
        tracer.spark = spark if tracer.enabled else None
        _install_wrappers(tracer)
        analyst = adhoc.Analyst(spark, tracer)

        ops = []
        start = time.perf_counter()
        while True:
            wh = os.path.join(work, "wh", str(len(ops)))
            op = {"wh": wh, "error": None}
            t = time.perf_counter()
            try:
                tracer.set_request(len(ops))
                with tracer.span("batch.job"):
                    with tracer.span("plans.pipeline.run_pipeline"):
                        op["manifest"] = pipeline.run_pipeline(
                            spark, spark.read.parquet(paths["trade"]),
                            spark.read.parquet(paths["trade_prod"]), wh)
                    docs = spark.read.parquet(paths["documents"])
                    t_c = time.perf_counter()
                    with tracer.span("plans.curate.curate"):
                        curated = curate_mod.curate(docs)
                    t_s = time.perf_counter()
                    with tracer.span("plans.curate.curate_summary"):
                        op["summary"] = [tuple(r) for r in
                                         curate_mod.curate_summary(curated)
                                         .collect()]
                    t_e = time.perf_counter()
                    lo = len(analyst.reqs)
                    for name, snap in inputs["reads"]:
                        analyst.read(name, snap, 0)
                    op["reads"] = (lo, len(analyst.reqs))
                op["curate_s"], op["summary_s"] = t_s - t_c, t_e - t_s
                op["registry_s"] = time.perf_counter() - t_e
            except Exception as exc:  # a failed job is counted, not fatal
                op["error"] = repr(exc)
            op["latency_s"] = time.perf_counter() - t
            ops.append(op)
            if time.perf_counter() - start >= seconds:
                break
        wall = time.perf_counter() - start
        counters = (harness.harvest_counters(spark)
                    if tracer.enabled else None)
    rss_mb = rss.peak_mb

    # ---- correctness, outside the timed region
    cols = ["split", "n_docs", "total_tokens", "avg_quality"]
    oracle = stats.digest(cols, curate_oracle(paths["documents"]))
    failed = 0
    problems: list[str] = []
    for op in ops:
        errs = [op["error"]] if op["error"] else []
        if not errs:
            errs += check_refresh(op["wh"], op["manifest"], inputs)
            if stats.digest(cols, op["summary"]) != oracle:
                errs.append(f"curation summary {op['summary']} differs "
                            "from the q204 oracle")
            lo, hi = op["reads"]
            errs += adhoc.check(analyst.reqs[lo:hi], work, {})[1]
        if errs:
            failed += 1
            problems += errs
    harness.stop_spark(spark)

    lat_ms = [op["latency_s"] * 1000 for op in ops]
    result = {
        "attempted": len(ops), "failed": failed, "problems": problems,
        "samples": len(lat_ms),
        "e2e": {"latency_mean_ms": sum(lat_ms) / len(lat_ms),
                "setup_s": setup_s, "peak_rss_mb": rss_mb},
    }
    if tracer.enabled:
        result["layers"] = {
            **_layer_metrics(ops, inputs, tracer, counters, wall),
            **analyst.layer_metrics()}
        result["counters"] = counters
    return result


#: the per-layer metrics this workload produces (see BENCHMARK.json)
LAYERS = (*(f"plans.pipeline.{st}_s" for st in PIPELINE_STAGES),
          "plans.pipeline.refresh_s", "plans.qa.run_invariants_s",
          "plans.kpi.save_kpi_tables_s", "plans.views.register_sql_views_s",
          "plans.eda.run_eda_s", "plans.insights.s_per_refresh",
          "sources.files_written", "sources.bytes_written",
          "sources.stored_bytes_per_input_byte", "plans.curate.curate_s",
          "plans.curate.summary_s", "plans.curate.docs_per_s",
          "operators.components.connected_components_s",
          "operators.dedup.minhash_lsh_pairs_s", *adhoc.LAYERS,
          *harness.SPARK_LAYERS)


def _median(xs, what: str) -> float:
    """Median of a layer's samples. No sample means a wrapper stopped
    firing (e.g. the program renamed the function): the run fails."""
    if not xs:
        raise RuntimeError(f"no {what} sample in the traced run")
    return stats.percentile(xs, 50)


def _layer_metrics(ops, inputs, tracer, counters, wall) -> dict:
    good = [op for op in ops if not op["error"]]
    out = {}
    for st in PIPELINE_STAGES:
        out[f"plans.pipeline.{st}_s"] = _median(
            [op["manifest"]["stages"][st] for op in good], st)
    for name in ("plans.qa.run_invariants", "plans.kpi.save_kpi_tables",
                 "plans.views.register_sql_views", "plans.eda.run_eda",
                 "operators.components.connected_components",
                 "operators.dedup.minhash_lsh_pairs",
                 "plans.pipeline.run_pipeline"):
        out[f"{name}_s"] = _median(tracer.durations(name), name)
    out["plans.pipeline.refresh_s"] = out.pop("plans.pipeline.run_pipeline_s")
    insights = [[s["end"] - s["start"] for s in tracer.spans
                 if s["rid"] == i and s["name"].startswith("plans.insights.")]
                for i in range(len(ops))]
    out["plans.insights.s_per_refresh"] = _median(
        [sum(x) for x in insights if x], "plans.insights.*")
    written = [_dir_stats(op["wh"]) for op in good]
    out["sources.files_written"] = _median([f for f, _ in written], "write")
    out["sources.bytes_written"] = _median([b for _, b in written], "write")
    out["sources.stored_bytes_per_input_byte"] = (
        out["sources.bytes_written"] / inputs["trade_input_bytes"])
    out["plans.curate.curate_s"] = _median([op["curate_s"] for op in good],
                                           "curate")
    out["plans.curate.summary_s"] = _median([op["summary_s"] for op in good],
                                            "curate_summary")
    out["plans.curate.docs_per_s"] = N_DOCS / (out["plans.curate.curate_s"]
                                               + out["plans.curate.summary_s"])
    out.update(harness.spark_layer_metrics(
        counters, [str(s["id"]) for s in tracer.spans], wall, harness.cpus()))
    return out
