"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed (numpy ``default_rng``),
returns pyarrow tables plus the ground truth the correctness checks
need, and touches no Spark: the program under test only ever receives
the parquet files written from these tables.

- ``trade`` / ``trade_prod``: the national and per-category (HS-style)
  monthly facts with the reference warehouse's data quirks — embedded
  ``month='Total'`` rows, missing months, zero cells dropped, a partial
  final year whose import flow drops out, and reconciliation
  discrepancies for the QA gate to find.
- ``corpus``: a documents table with a stated share of exact copies and
  of perturbed near-duplicates.
- ``write_snapshot``: a TPC-H-shaped warehouse (the registry queries'
  tables) with ``lineitem`` and ``orders`` key-offset-replicated, and
  ``land_facts`` to land the next version of its facts in place.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTHS_ES = ("Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio",
             "Julio", "Agosto", "Septiembre", "Octubre", "Noviembre",
             "Diciembre")
START_YEAR, END_YEAR = 2005, 2025
#: months present in the partial final year
FINAL_YEAR_MONTHS = 4

_HS_WORDS = ("animales", "carne", "pescados", "leche", "plantas", "hortalizas",
             "frutas", "cafe", "cereales", "semillas", "grasas", "azucares",
             "cacao", "bebidas", "minerales", "sal", "combustibles",
             "quimicos", "plasticos", "cueros", "madera", "papel", "algodon",
             "lana", "prendas", "calzado", "vidrio", "perlas", "hierro",
             "cobre", "zinc", "estano", "herramientas", "maquinas",
             "vehiculos", "instrumentos", "muebles", "juguetes")
_DOC_WORDS = ("batch", "part", "spark", "line", "column", "order", "small",
              "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
              "agg", "filter", "query", "big", "key", "window", "row",
              "table", "stream", "merge", "data", "vector", "join",
              "customer", "the", "of", "index", "shuffle", "plan", "cache",
              "task", "stage", "job", "disk", "memory", "network", "node",
              "leaf", "tree", "graph", "edge", "path", "token", "word",
              "doc", "page", "site", "crawl", "clean", "dedup", "score")


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file and return its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------- trade
def hs_categories(n: int) -> list[str]:
    """``n`` distinct HS-style category labels ("0101 frutas y cobre").
    Every 50th label gets a near-duplicate spelling (missing space after
    the code), the dirty-category wart of the reference data. The labels
    depend on ``n`` only: they decide how categories hash to shuffle
    partitions, and a seed should vary the data, not the partition skew."""
    out = []
    for i in range(n):
        code = 101 + (i * 7919) % 9600
        a, b = _HS_WORDS[i % len(_HS_WORDS)], _HS_WORDS[(i * 7) % len(_HS_WORDS)]
        sep = "" if i % 50 == 49 else " "
        out.append(f"{code:04d}{sep}{a} y {b}")
    return out


def _month_cells(rng: np.random.Generator, n_series: int, base: np.ndarray,
                 drop_frac: float):
    """(year, month_index, series, usd) for every kept cell of
    ``n_series`` monthly series over the year range; cells are dropped
    with probability ``drop_frac`` (missing months / zero cells)."""
    years = np.arange(START_YEAR, END_YEAR + 1)
    y, m, s = np.meshgrid(years, np.arange(12), np.arange(n_series),
                          indexing="ij")
    y, m, s = y.ravel(), m.ravel(), s.ravel()
    keep = ~((y == END_YEAR) & (m >= FINAL_YEAR_MONTHS))
    drop = rng.choice(y.size, size=round(drop_frac * y.size), replace=False)
    keep[drop] = False
    y, m, s = y[keep], m[keep], s[keep]
    growth = 1.0 + 0.06 * (y - START_YEAR)
    season = 1.0 + 0.15 * ((m % 6) - 2.5) / 2.5
    usd = np.round(base[s] * growth * season * rng.uniform(0.85, 1.15, y.size), 2)
    return y, m, s, usd


def _with_totals(y, m, keys: dict, usd, rng: np.random.Generator,
                 n_discrepant: int):
    """Append one ``month='Total'`` row per (year, *keys) group carrying
    the sum of its kept months; ``n_discrepant`` groups get a reported
    total that is $25M off, which the QA reconciliation must flag."""
    names = list(keys)
    cols = np.stack([y] + [keys[k] for k in names], axis=1)
    groups, inv = np.unique(cols, axis=0, return_inverse=True)
    inv = inv.ravel()
    totals = np.round(np.bincount(inv, weights=usd), 2)
    reported = totals.copy()
    bad = rng.choice(len(groups), size=min(n_discrepant, len(groups)),
                     replace=False)
    reported[bad] = np.round(reported[bad] + 25e6, 2)
    month = np.array(MONTHS_ES, dtype=object)[m].tolist() + ["Total"] * len(groups)
    out = {"year": np.concatenate([y, groups[:, 0]]).astype(np.int64),
           "month": month}
    for i, k in enumerate(names):
        out[k] = np.concatenate([keys[k], groups[:, i + 1]])
    out["usd"] = np.concatenate([usd, reported])
    return out, totals


def trade(seed: int) -> tuple[pa.Table, dict]:
    """National monthly facts (both flows, one series each)."""
    rng = np.random.default_rng([seed, 1])
    y, m, s, usd = _month_cells(rng, 2, np.array([2.5e9, 2.2e9]), 0.02)
    keep = ~((s == 1) & (y == END_YEAR))  # the import workbook lags a year
    y, m, s, usd = y[keep], m[keep], s[keep], usd[keep]
    cols, totals = _with_totals(y, m, {"flow": s}, usd, rng, 1)
    n_detail = len(y)
    flow = np.where(cols.pop("flow") == 0, "export", "import")
    sum_months = np.full(len(flow), np.nan)
    sum_months[n_detail:] = totals
    table = pa.table({
        "year": cols["year"], "month": cols["month"], "flow": flow,
        "usd": cols["usd"],
        "sum_months": pa.array(sum_months, mask=np.isnan(sum_months)),
    })
    truth = _flow_truth(y, np.where(s == 0, "export", "import"), usd)
    truth["detail_rows"] = n_detail
    truth["rows"] = table.num_rows
    truth["months"] = len({(int(a), int(b)) for a, b in zip(y, m)})
    return table, truth


def trade_prod(seed: int, n_categories: int) -> tuple[pa.Table, dict]:
    """Per-category monthly facts over ``n_categories`` HS-style
    categories. A third of the categories are export-only, a third
    import-only (flows are disjoint per category in the reference data);
    ~8% of cells are dropped as zero/missing."""
    rng = np.random.default_rng([seed, 2])
    cats = hs_categories(n_categories)
    # 0 export-only, 1 import-only, 2 both: exact thirds in seeded order
    kind = rng.permutation(np.arange(n_categories) % 3)
    # series = category × flow; only the flows the category trades
    sc = np.repeat(np.arange(n_categories), 2)
    sf = np.tile(np.arange(2), n_categories)
    trades = (kind[sc] == 2) | (kind[sc] == sf)
    sc, sf = sc[trades], sf[trades]
    base = rng.lognormal(17.0, 1.5, sc.size)
    y, m, s, usd = _month_cells(rng, sc.size, base, 0.08)
    keep = ~((sf[s] == 1) & (y == END_YEAR))
    y, m, s, usd = y[keep], m[keep], s[keep], usd[keep]
    cols, _ = _with_totals(y, m, {"flow": sf[s], "cat": sc[s]}, usd, rng, 3)
    table = pa.table({
        "year": cols["year"], "month": cols["month"],
        "flow": np.where(cols["flow"] == 0, "export", "import"),
        "category": np.array(cats, dtype=object)[cols["cat"]],
        "usd": cols["usd"],
    })
    truth = _flow_truth(y, np.where(sf[s] == 0, "export", "import"), usd)
    truth["detail_rows"] = len(y)
    truth["rows"] = table.num_rows
    # kpi_prod_monthly has one row per (year, month, category) cell
    truth["kpi_rows"] = len({(int(a), int(b), int(c))
                             for a, b, c in zip(y, m, sc[s])})
    return table, truth


def _flow_truth(year, flow, usd) -> dict:
    out: dict = {"export": {}, "import": {}}
    for f in ("export", "import"):
        sel = flow == f
        for yr in np.unique(year[sel]):
            out[f][int(yr)] = float(usd[sel & (year == yr)].sum())
    return out


# ---------------------------------------------------------------- corpus
def corpus(seed: int, n_docs: int, near_dup_share: float,
           exact_dup_share: float) -> tuple[pa.Table, dict]:
    """``n_docs`` documents over a small technical vocabulary. A share
    of them are verbatim copies of an earlier original doc, another
    share are near-duplicates of one (~5% of its tokens replaced).
    Copies are only ever made of originals, so every near-duplicate
    cluster is a star and the clustering work does not hinge on how
    long a chain of copies one seed happens to draw."""
    rng = np.random.default_rng([seed, 3])
    # exact counts of each role (0 original, 1 copy, 2 near-duplicate),
    # in seeded order after 10 leading originals
    n_exact = round(exact_dup_share * n_docs)
    n_near = round(near_dup_share * n_docs)
    roles = np.zeros(n_docs, dtype=np.int8)
    roles[10:10 + n_exact] = 1
    roles[10 + n_exact:10 + n_exact + n_near] = 2
    roles[10:] = rng.permutation(roles[10:])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if roles[i] == 1:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]])
        elif roles[i] == 2:
            src = originals[int(rng.integers(0, len(originals)))]
            toks = texts[src].split(" ")
            k = max(1, len(toks) // 20)
            for j in rng.choice(len(toks), size=k, replace=False):
                toks[j] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(12, 90))
            words = rng.integers(0, len(_DOC_WORDS), n)
            texts.append(" ".join(_DOC_WORDS[w] for w in words))
            originals.append(i)
    langs = np.array(["en", "es", "zh", "de"])[rng.integers(0, 4, n_docs)]
    sources = np.array([f"src{i}" for i in range(5)])[rng.integers(0, 5, n_docs)]
    table = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return table, {"docs": n_docs, "exact_dup_share": n_exact / n_docs,
                   "near_dup_share": n_near / n_docs}


# -------------------------------------------------------------- snapshot
_EPOCH = dt.datetime(1992, 1, 1)
_SHIP_DAYS = 2400


def _timestamps(days: np.ndarray) -> pa.Array:
    us = (np.datetime64(_EPOCH, "us")
          + days.astype("timedelta64[D]").astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def snapshot_dims(seed: int, sf: float) -> dict[str, pa.Table]:
    """The dimension tables of a TPC-H-shaped warehouse at scale ``sf``
    (region, nation, customer, supplier, part)."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = (int(150_000 * sf), int(10_000 * sf),
                              int(200_000 * sf))
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    nations = [f"NATION{i:02d}" for i in range(25)]
    types = [f"{a} {b} {c}" for a in ("STANDARD", "SMALL", "MEDIUM", "LARGE",
                                     "ECONOMY", "PROMO")
             for b in ("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
             for c in ("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": regions}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": nations,
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(segs)[rng.integers(0, 5, n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        "part": pa.table({
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": np.array([f"Brand#{a}{b}" for a in range(1, 6)
                                 for b in range(1, 6)])[
                rng.integers(0, 25, n_part)],
            "p_type": np.array(types)[rng.integers(0, len(types), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2)}),
    }


def snapshot_facts(seed: int, sf: float, replicas: int,
                   version: int = 0) -> dict[str, pa.Table]:
    """``orders`` and ``lineitem`` at scale ``sf``, replicated
    ``replicas`` times by offsetting the order keys (each replica is a
    fresh draw, so replicas do not collapse under DISTINCT). ``version``
    selects a landing: version v of a snapshot is a fresh draw of its
    facts under the same keys and dimensions."""
    rng = np.random.default_rng([seed, 5, version])
    n_cust, n_supp, n_part = (int(150_000 * sf), int(10_000 * sf),
                              int(200_000 * sf))
    n_ord = int(1_500_000 * sf)
    okeys = []
    for r in range(replicas):
        okeys.append(np.arange(1, n_ord + 1, dtype=np.int64) + r * n_ord * 4)
    o_key = np.concatenate(okeys)
    n_o = o_key.size
    o_date = rng.integers(0, _SHIP_DAYS - 150, n_o)
    orders = pa.table({
        "o_orderkey": o_key,
        "o_custkey": rng.integers(1, n_cust + 1, n_o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, n_o), 2),
        "o_orderdate": _timestamps(o_date),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_o)],
    })
    per = rng.integers(1, 8, n_o)
    lkeys = np.repeat(o_key, per)
    n_l = lkeys.size
    starts = np.repeat(np.cumsum(per) - per, per)
    linenum = (np.arange(n_l) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_l), 2)
    ship = np.repeat(o_date, per) + rng.integers(1, 122, n_l)
    lineitem = pa.table({
        "l_orderkey": lkeys,
        "l_partkey": rng.integers(1, n_part + 1, n_l).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_l).astype(np.int64),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": _timestamps(ship),
    })
    return {"orders": orders, "lineitem": lineitem}


def write_snapshot(out_dir: str, seed: int, sf: float, replicas: int) -> int:
    """Write a whole snapshot (dimensions + version-0 facts) as one
    parquet file per table; returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {**snapshot_dims(seed, sf), **snapshot_facts(seed, sf, replicas)}
    return sum(write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
               for name, t in tables.items())


def land_facts(out_dir: str, seed: int, sf: float, replicas: int,
               version: int) -> None:
    """Land version ``version`` of a snapshot's facts in place: each
    table is written to a sibling temp file and renamed over the live
    one, so a reader sees either the old or the new file, never a torn
    one."""
    for name, t in snapshot_facts(seed, sf, replicas, version).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        tmp = path + ".landing"
        pq.write_table(t, tmp)
        os.replace(tmp, path)
