"""``dashboard`` workload: dashboard viewers clicking through pages.

The program's HTTP server (``plans.serve`` on
``DashboardApp.from_synthetic``) runs in its own process
(serve_launcher.py). This process holds ``nproc`` viewers, one thread
and one connection each, in a closed loop: each viewer takes the next
page of one shared seeded schedule as soon as its previous page has
arrived, for the measured window, so up to ``nproc`` pages are served
at once. Each request is timed from when it was sent to when its last
byte arrived.

The schedule is a stratified route mix: every block of ``BLOCK``
requests holds each route the app serves once, in seeded order and with
seeded widget state. The reported latency is the mean over the whole
blocks that were sent, so every route weighs in and the figure does not
drift with the draw.

A closed loop is used rather than an open loop of independent viewers:
on a shared host whose speed drifts by up to 2x between runs, Poisson
bursts at any rate that yields enough samples in the window made the
median swing by 2x from run to run, while a closed loop's latency only
scales with the host.

Correctness (outside the timed region): every page must answer 200 with
a complete document; the country and ranking tables are checked cell by
cell against the KPI frames the server collected once at start-up."""

from __future__ import annotations

import html
import http.client
import json
import os
import random
import re
import subprocess
import sys
import threading
import time
from urllib.parse import urlencode

import harness

#: the routes of one block of requests. No observed traffic mix exists
#: for this app, so every route it serves has the same share.
ROUTES = ("/country", "/category", "/ranking", "/insights", "/", "/chart")
BLOCK = len(ROUTES)
#: schedule length in blocks; a faster program cycles through it again
PLAN_BLOCKS = 100
CHARTS = ("series_temporal", "estacionalidad_heatmap", "distribucion_mensual",
          "tendencias", "outliers", "dashboard_eda")
METRICS = ("exp", "imp", "balance", "cov_ratio")
READY_TIMEOUT_S = 150.0


def _year_span(rng: random.Random, lo: int, hi: int, lo_len: int,
               hi_len: int) -> tuple[int, int]:
    n = rng.randint(lo_len, hi_len)
    a = rng.randint(lo, max(lo, hi - n + 1))
    return a, min(hi, a + n - 1)


def _cats(rng: random.Random, q: dict, categories: list[str]) -> None:
    """Half the time, an explicit multiselect. ``cats=`` is
    comma-separated, so a category whose name holds a comma cannot be
    selected through the URL at all; only the others are offered."""
    pickable = [c for c in categories if "," not in c]
    if rng.random() < 0.5:
        q["cats"] = ",".join(rng.sample(pickable,
                                        rng.randint(2, min(5, len(pickable)))))


def page_request(rng: random.Random, route: str, ref: dict) -> str:
    """One page URL with seeded widget state."""
    y0, y1 = ref["min_year"], ref["max_year"]
    q: dict = {}
    if route == "/chart":
        return f"/chart/{rng.choice(CHARTS)}"
    if route == "/country":
        q["lo"], q["hi"] = _year_span(rng, y0, y1, 1, y1 - y0 + 1)
    elif route == "/category":
        # always the default top-n pre-selection, so the route's cost does
        # not hang on a coin flip; /insights draws explicit selections
        q["lo"], q["hi"] = _year_span(rng, y0, y1, 3, 8)
        q["metric"] = rng.choice(METRICS)
        q["n"] = rng.randint(3, 10)
    elif route == "/ranking":
        q["year"] = rng.randint(y0, y1)
        q["metric"] = rng.choice(METRICS)
        q["n"] = rng.randint(3, 10)
    elif route == "/insights":
        q["lo"], q["hi"] = _year_span(rng, y0, y1, 1, 4)
        q["top_n"] = rng.randint(1, 5)
        _cats(rng, q, ref["categories"])
    return route + ("?" + urlencode(q) if q else "")


def schedule(seed: int, n: int, ref: dict) -> list[str]:
    """The first ``n`` page URLs of the viewer's seeded schedule."""
    rng = random.Random(seed)
    urls: list[str] = []
    while len(urls) < n:
        block = list(ROUTES)
        rng.shuffle(block)
        urls += [page_request(rng, r, ref) for r in block]
    return urls[:n]


# ---------------------------------------------------------------- checks
_TABLE = re.compile(r"<table>(.*?)</table>", re.S)
_ROW = re.compile(r"<tr>(.*?)</tr>", re.S)
_CELL = re.compile(r"<t[dh]>(.*?)</t[dh]>", re.S)


def html_tables(body: str) -> list[list[list[str]]]:
    return [[[html.unescape(c) for c in _CELL.findall(row)]
             for row in _ROW.findall(t)] for t in _TABLE.findall(body)]


def _num(s: str):
    return None if s == "" else float(s)


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= 0.011 + 1e-12 * abs(b)


def expected_ranking(ref: dict, year: int, metric: str, n: int) -> list[tuple]:
    agg: dict[str, list] = {}
    for y, cat, e, i in ref["kpi_prod"]:
        if y != year:
            continue
        a = agg.setdefault(cat, [None, None])
        if e is not None:
            a[0] = (a[0] or 0.0) + e
        if i is not None:
            a[1] = (a[1] or 0.0) + i
    rows = []
    for cat, (e, i) in agg.items():
        e = None if e is None else round(e, 2)
        i = None if i is None else round(i, 2)
        bal = None if e is None or i is None else round(e - i, 2)
        cov = (round(e / i * 100.0, 2)
               if e is not None and i not in (None, 0) else None)
        rows.append({"category": cat, "exp": e, "imp": i, "balance": bal,
                     "cov_ratio": cov})
    rows.sort(key=lambda r: (r[metric] is None, -(r[metric] or 0.0),
                             r["category"]))
    return rows[:n]


def check_page(url: str, status: int, body: str, ref: dict) -> str | None:
    """None when the page is right, else what is wrong with it."""
    if status != 200:
        return f"{url}: HTTP {status}"
    if not body.rstrip().endswith("</html>"):
        return f"{url}: truncated document"
    path, _, query = url.partition("?")
    q = dict(p.split("=", 1) for p in query.split("&") if p)
    if path.startswith("/chart/"):
        return None if "<svg" in body else f"{url}: no figure"
    if path == "/country":
        lo, hi = int(q["lo"]), int(q["hi"])
        want = sorted(r for r in ref["kpi_monthly"] if lo <= r[0] <= hi)
        got = html_tables(body)[-1][1:]
        if len(got) != len(want):
            return f"{url}: {len(got)} rows, expected {len(want)}"
        for g, w in zip(got, want):
            if (int(g[0]), int(g[1])) != (w[0], w[1]) or not all(
                    _close(_num(a), b) for a, b in zip(g[2:5], w[2:5])):
                return f"{url}: row {g} != {w}"
        return None
    if path == "/ranking":
        want = expected_ranking(ref, int(q["year"]), q["metric"], int(q["n"]))
        table = html_tables(body)[0] if want else [[]]
        head, got = table[0], table[1:]
        if len(got) != len(want):
            return f"{url}: {len(got)} rows, expected {len(want)}"
        for g, w in zip(got, want):
            cells = dict(zip(head, g))
            if cells["category"] != w["category"] or not all(
                    _close(_num(cells[c]), w[c])
                    for c in ("exp", "imp", "balance", "cov_ratio")):
                return f"{url}: row {cells} != {w}"
        return None
    marker = {"/": "<h1>trade dashboard</h1>", "/insights": "<h1>insights</h1>",
              "/category": "<h1>category "}[path]
    return None if marker in body else f"{url}: missing {marker!r}"


# ------------------------------------------------------------------ load
def _get(port: int, url: str) -> tuple[int, str]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", url)
        resp = conn.getresponse()
        return resp.status, resp.read().decode("utf-8", "replace")
    finally:
        conn.close()


def _send(port: int, url: str) -> dict:
    sent = time.perf_counter()
    try:
        status, body = _get(port, url)
    except (OSError, http.client.HTTPException) as exc:
        status, body = 0, repr(exc)
    return {"url": url, "sent": sent, "end": time.perf_counter(),
            "status": status, "body": body}


def _viewers(port: int, plan: list[str], seconds: float, clients: int,
             trace: bool, once: bool = False) -> list[dict]:
    """``clients`` threads take pages of ``plan`` in order until the
    window ends (or, with ``once``, until each page was taken); a page
    taken in the window is waited for. Returns the results in schedule
    order."""
    results: list[dict | None] = []
    lock = threading.Lock()
    deadline = time.perf_counter() + seconds

    def viewer():
        while once or time.perf_counter() < deadline:
            with lock:
                i = len(results)
                if once and i == len(plan):
                    return
                results.append(None)
            url = plan[i % len(plan)]
            if trace:  # the request id the server's spans carry
                url += ("&" if "?" in url else "?") + f"rid={i}"
            results[i] = _send(port, url)

    threads = [threading.Thread(target=viewer) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def block_mean(values: list[float]) -> float:
    """Mean over the whole blocks of ``values`` (in schedule order), so
    every route has the same weight; a partial last block is left out."""
    n = len(values) // BLOCK * BLOCK
    if not n:
        raise RuntimeError(f"fewer than {BLOCK} pages (one block) in the window")
    return sum(values[:n]) / n


def run(work: str, env: dict, seed: int, seconds: float,
        tracer: harness.Tracer) -> dict:
    trace = tracer.enabled
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__),
                                      "serve_launcher.py"),
         work, "1" if trace else "0"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env, cwd=work,
        text=True)
    try:
        with harness.PeakRSS(proc.pid) as rss:
            ready = _await_ready(proc)
            port = ready["port"]
            with open(os.path.join(work, "ref.json")) as f:
                ref = json.load(f)
            plan = schedule(seed, PLAN_BLOCKS * BLOCK, ref)
            # warm-up before the first timed request: every route once,
            # by the viewers at once
            t_warm = time.perf_counter()
            rng = random.Random(-seed)
            warm = [page_request(rng, route, ref) for route in ROUTES]
            for r in _viewers(port, warm, 0.0, len(warm), False, once=True):
                err = check_page(r["url"], r["status"], r["body"], ref)
                if err:
                    raise RuntimeError(f"warm-up request failed: {err}")
            warm_s = time.perf_counter() - t_warm

            results = _viewers(port, plan, seconds, harness.cpus(), trace)
            proc.stdin.close()
            proc.wait(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    problems = []
    failed = 0
    for r in results:
        err = check_page(r["url"].split("&rid=")[0].split("?rid=")[0],
                         r["status"], r["body"], ref)
        if err:
            failed += 1
            problems.append(err)
    lat_ms = [(r["end"] - r["sent"]) * 1000 for r in results]
    res = {
        "attempted": len(results), "failed": failed, "problems": problems,
        "samples": len(lat_ms) // BLOCK * BLOCK,
        "e2e": {"latency_mean_ms": block_mean(lat_ms),
                "setup_s": ready["get_spark_s"] + ready["app_build_s"] + warm_s,
                "peak_rss_mb": rss.peak_mb},
    }
    if trace:
        with open(os.path.join(work, "server_trace.json")) as f:
            server = json.load(f)
        tracer.spans = server["spans"]
        res["counters"] = server["counters"]
        whole = results[:res["samples"]]
        wall = max(r["end"] for r in whole) - min(r["sent"] for r in whole)
        res["layers"] = _layer_metrics(results, server, ready, wall)
    return res


def _await_ready(proc) -> dict:
    import selectors

    sel = selectors.DefaultSelector()
    sel.register(proc.stdout, selectors.EVENT_READ)
    if not sel.select(timeout=READY_TIMEOUT_S):
        raise RuntimeError("dashboard server did not start in time")
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError("dashboard server exited during set-up")
    return json.loads(line)


#: the per-layer metrics this workload produces (see BENCHMARK.json)
LAYERS = ("plans.serve.render_ms_per_page", "plans.serve.queue_ms_per_page",
          "plans.serve.app_build_s", "plans.dashboard.plan_ms_per_page",
          "plans.insights.ms_per_page", "plans.charts_html.ms_per_page",
          "spark.jobs_per_page", *harness.SPARK_LAYERS)


def _layer_metrics(results, server, ready, wall) -> dict:
    """Per-page means over the whole blocks, as the end-to-end latency.
    A layer with no span at all means a wrapper stopped firing (e.g. the
    program renamed the function), which fails the run."""
    spans = server["spans"]
    n = len(results) // BLOCK * BLOCK
    rids = {str(i) for i in range(n)}
    page_spans = [s for s in spans if s["rid"] in rids]

    def per_page_ms(prefix):
        hit = [s["end"] - s["start"] for s in page_spans
               if s["name"].startswith(prefix)]
        if not hit:
            raise RuntimeError(f"no {prefix}* span in the traced pages")
        return 1000 * sum(hit) / n

    render = {s["rid"]: s["end"] - s["start"] for s in page_spans
              if s["name"] == "plans.serve.render"}
    if len(render) != n:
        raise RuntimeError(f"{len(render)} render spans for {n} pages")
    queue = [results[i]["end"] - results[i]["sent"] - render[str(i)]
             for i in range(n)]
    page = harness.spark_layer_metrics(
        server["counters"], [str(s["id"]) for s in page_spans], wall,
        harness.cpus())
    return {
        "plans.serve.render_ms_per_page": per_page_ms("plans.serve.render"),
        "plans.serve.queue_ms_per_page": 1000 * sum(queue) / n,
        "plans.serve.app_build_s": ready["app_build_s"],
        "plans.dashboard.plan_ms_per_page": per_page_ms("plans.dashboard."),
        "plans.insights.ms_per_page": per_page_ms("plans.insights."),
        "plans.charts_html.ms_per_page": per_page_ms("plans.charts_html."),
        "spark.jobs_per_page": page["spark.jobs"] / n,
        **page,
    }
