"""``adhoc`` workload: one analyst re-running registry queries over a
few warehouse snapshots while new data lands beside the reads.

A closed loop: the analyst issues seeded Zipf-distributed draws of
(query, snapshot), recent snapshots favoured, each through the
program's registry (``queries.REGISTRY[name].fn(spark, snapshot_dir)``
then ``collect``). Every ``LAND_EVERY`` requests the generator lands a
new version of the newest snapshot's ``lineitem`` and ``orders`` in
place, by atomic file replace.

Every result is digested and checked against the query's DuckDB oracle
on the snapshot version that was live when the request was issued. The
program memoizes built query plans per (session, snapshot path), so a
repeat after a landing can answer from the replaced data: such stale
reads are counted as failed operations, never filtered out. This
workload is therefore not one of the benchmark-of-record workloads in
BENCHMARK.json (those must run without failures); it stays runnable so
the defect remains visible until the program fixes it."""

from __future__ import annotations

import os
import random
import time

import gen
import harness
import stats

#: relational registry queries: trade KPIs, rollups and cube, windows,
#: range join, TPC-H shapes
QUERIES = (
    "q01_annual_balance", "q24_kpi_monthly", "q23_ytd_vs_prior",
    "q47_rollup_subtotals", "q53_cube", "q90_grouping_sets",
    "q26_rolling_trend", "q29_tail_window", "q57_range_join",
    "q157_pricing_summary", "q118_shipping_priority",
    "q152_slow_ship_priority", "q154_local_supplier_volume",
    "q158_forecast_revenue", "q161_late_line_priority",
    "q162_customer_order_distribution", "q20_region_revenue",
)
N_SNAPSHOTS = 3
SF = 0.1
REPLICAS = 2
LAND_EVERY = 6
ZIPF_S = 1.1


def zipf_choice(rng: random.Random, n: int, s: float) -> int:
    """Index in [0, n) with P(i) ∝ 1/(i+1)^s."""
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    return rng.choices(range(n), weights=weights)[0]


def draws(seed: int, n: int, n_snapshots: int = N_SNAPSHOTS
          ) -> list[tuple[str, int]]:
    """The analyst's (query, snapshot rank) sequence; rank 0 is the
    newest snapshot."""
    rng = random.Random(seed)
    order = list(QUERIES)
    rng.shuffle(order)
    return [(order[zipf_choice(rng, len(order), ZIPF_S)],
             zipf_choice(rng, n_snapshots, 1.5)) for _ in range(n)]


def _oracle(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return {"cols": cols, "rows": rows, "digest": stats.digest(cols, rows)}


class Analyst:
    """Issues registry reads through the program
    (``REGISTRY[name].fn(spark, snapshot_dir)`` then ``collect``) and
    records each with its latency split, whether it repeats an earlier
    (query, snapshot) and whether the program's plan memo already held
    it. Traced, it also counts the program's hot-table cache hits."""

    def __init__(self, spark, tracer: harness.Tracer):
        from sunat_rree_demo_spark.queries import base
        from sunat_rree_demo_spark.sources import catalog

        self.spark, self.tracer = spark, tracer
        self.reqs: list[dict] = []
        self.hot = {"hits": 0, "calls": 0}
        self._seen: set = set()
        self._memo_entries0 = self.memo_entries()
        if tracer.enabled:
            load_table = base.load_table
            hot = self.hot

            def counted_load(spark_, sf_dir, name):
                key = (catalog._session_key(spark_), sf_dir, name)
                hot["calls"] += 1
                hot["hits"] += key in catalog._HOT_CACHE
                return load_table(spark_, sf_dir, name)
            base.load_table = counted_load

    @staticmethod
    def memo_entries() -> int:
        from sunat_rree_demo_spark.sources import catalog

        return sum(len(c) for c in catalog._SESSION_CACHES)

    def read(self, name: str, snap: str, version: int) -> dict:
        from sunat_rree_demo_spark.queries import REGISTRY, base

        memo_key = (base._app_id(self.spark), snap, name)
        r = {"query": name, "snap": snap, "version": version,
             "repeat": (name, snap) in self._seen,
             "memo_hit": memo_key in base._PLAN_CACHE, "error": None}
        self._seen.add((name, snap))
        self.tracer.set_request(f"read-{len(self.reqs)}")
        t = time.perf_counter()
        try:
            with self.tracer.span("queries.request"):
                with self.tracer.span("queries.plan_build"):
                    df = REGISTRY[name].fn(self.spark, snap)
                t_b = time.perf_counter()
                with self.tracer.span("queries.execute"):
                    rows = df.collect()
            r["plan_s"], r["exec_s"] = t_b - t, time.perf_counter() - t_b
            r["cols"], r["rows"] = df.columns, [tuple(x) for x in rows]
            r["digest"] = stats.digest(r["cols"], r["rows"])
        except Exception as exc:  # counted as a failed operation
            r["error"] = repr(exc)
        r["latency_s"] = time.perf_counter() - t
        self.reqs.append(r)
        return r

    def layer_metrics(self) -> dict:
        """The ``queries.*`` and ``sources.catalog.*`` per-layer metrics
        of the reads so far."""
        reqs = self.reqs
        ok = [r for r in reqs if not r["error"]]
        if not ok or not self.hot["calls"]:
            raise RuntimeError("no successful traced registry read")
        return {
            "queries.plan_build_p50_ms": stats.percentile(
                [r["plan_s"] * 1000 for r in ok], 50),
            "queries.plan_memo_hit_frac": (
                sum(r["memo_hit"] for r in reqs) / len(reqs)),
            "queries.execute_p50_ms": stats.percentile(
                [r["exec_s"] * 1000 for r in ok], 50),
            "queries.repeat_frac": sum(r["repeat"] for r in reqs) / len(reqs),
            "sources.catalog.hot_cache_hit_frac": (
                self.hot["hits"] / self.hot["calls"]),
            "sources.catalog.session_memo_builds": (
                self.memo_entries() - self._memo_entries0),
        }


#: the per-layer metrics the registry reads produce
LAYERS = ("queries.plan_build_p50_ms", "queries.plan_memo_hit_frac",
          "queries.execute_p50_ms", "queries.repeat_frac",
          "sources.catalog.hot_cache_hit_frac",
          "sources.catalog.session_memo_builds")


def run(work: str, seed: int, seconds: float, tracer: harness.Tracer) -> dict:
    snaps = [os.path.join(work, f"snap{i}") for i in range(N_SNAPSHOTS)]
    for i, d in enumerate(snaps):
        gen.write_snapshot(d, seed * 100 + i, SF, REPLICAS)
    newest = snaps[-1]
    plan = draws(seed, 10_000)

    with harness.PeakRSS(os.getpid()) as rss:
        t0 = time.perf_counter()
        from sunat_rree_demo_spark.queries import REGISTRY
        from sunat_rree_demo_spark.session import get_spark

        spark = get_spark("perfbench-adhoc")
        tracer.spark = spark if tracer.enabled else None
        # warm-up pass: every query once on the newest snapshot
        for q in QUERIES:
            REGISTRY[q].fn(spark, newest).collect()
        setup_s = time.perf_counter() - t0

        analyst = Analyst(spark, tracer)
        version = 0
        start = time.perf_counter()
        while time.perf_counter() - start < seconds:
            i = len(analyst.reqs)
            if i and i % LAND_EVERY == 0:
                version += 1
                gen.land_facts(newest, seed * 100 + N_SNAPSHOTS - 1, SF,
                               REPLICAS, version)
            name, rank = plan[i]
            snap = snaps[-1 - rank]
            analyst.read(name, snap, version if snap == newest else 0)
        wall = time.perf_counter() - start
        counters = (harness.harvest_counters(spark)
                    if tracer.enabled else None)
    harness.stop_spark(spark)

    reqs = analyst.reqs
    failed, problems = check(reqs, work, {newest: (seed * 100 + N_SNAPSHOTS - 1,
                                                   SF, REPLICAS)})
    lat_ms = [r["latency_s"] * 1000 for r in reqs]
    res = {
        "attempted": len(reqs), "failed": failed, "problems": problems,
        "samples": len(lat_ms),
        "e2e": {"latency_mean_ms": sum(lat_ms) / len(lat_ms),
                "setup_s": setup_s, "peak_rss_mb": rss.peak_mb},
    }
    if tracer.enabled:
        res["counters"] = counters
        res["layers"] = {
            **analyst.layer_metrics(),
            **harness.spark_layer_metrics(
                counters, [str(s["id"]) for s in tracer.spans], wall,
                harness.cpus()),
        }
    return res


def check(reqs: list[dict], work: str, landed: dict) -> tuple[int, list[str]]:
    """Check each result against the oracle on the snapshot version that
    was live when it was issued: equal digests, or else equal rows up to
    float summation order (``stats.rows_match``). ``landed`` maps each snapshot that
    received landings to its (seed, sf, replicas); its files now hold the
    last landing, so every version of it is regenerated from its seed
    into a scratch copy for the oracle."""
    import duckdb

    from sunat_rree_demo_spark.queries import REGISTRY

    oracle: dict = {}
    failed, problems = 0, []
    for r in reqs:
        where = f"{r['query']} on {os.path.basename(r['snap'])} v{r['version']}"
        if r["error"]:
            failed += 1
            problems.append(f"{where}: {r['error'][:200]}")
            continue
        key = (r["query"], r["snap"], r["version"])
        if key not in oracle:
            src = r["snap"]
            if src in landed:  # overwritten by landings: rebuild the version
                src = os.path.join(work, f"oracle_v{r['version']}")
                if not os.path.isdir(src):
                    os.makedirs(src)
                    for name in ("region", "nation", "customer", "supplier",
                                 "part"):
                        os.link(os.path.join(r["snap"], f"{name}.parquet"),
                                os.path.join(src, f"{name}.parquet"))
                    gen.land_facts(src, *landed[r["snap"]], r["version"])
            con = duckdb.connect()
            for name in catalog_tables(src):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                            f"read_parquet('{src}/{name}.parquet')")
            oracle[key] = _oracle(con, REGISTRY[r["query"]].oracle)
            con.close()
        o = oracle[key]
        if r["digest"] != o["digest"] and not stats.rows_match(
                r["cols"], r["rows"], o["cols"], o["rows"]):
            failed += 1
            problems.append(f"{where}: result differs from oracle"
                            f"{' (plan memo hit)' if r['memo_hit'] else ''}")
    return failed, problems


def catalog_tables(src: str) -> list[str]:
    return sorted(f[:-len(".parquet")] for f in os.listdir(src)
                  if f.endswith(".parquet"))
