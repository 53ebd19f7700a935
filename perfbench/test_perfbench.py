"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import adhoc  # noqa: E402
import dashboard  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------ percentile choice
@pytest.mark.parametrize("n, want", [
    (0, None), (9, None), (19, None), (20, None),
    (50, 80.0), (62, 80.0), (99, 80.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_tail_percentile_boundary_is_exact():
    # p90 of 100 samples is rank 90: exactly ten lie beyond it
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert sum(x > stats.percentile(xs, 90) for x in xs) == 10
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(101) == 90.0


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 80) == 4.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([7.0], 80) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# ------------------------------------------------------------- self time
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0),
             _span(3, 1, 5.0, 9.0), _span(4, 3, 6.0, 7.0)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 2.0 - 4.0)
    assert st[3] == pytest.approx(3.0)  # grandchild only charges its parent
    assert st[2] == pytest.approx(2.0) and st[4] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children():
    # two concurrent children cover [1, 6]; the overlap counts once
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 5.0),
             _span(3, 1, 3.0, 6.0)]
    assert stats.self_times(spans)[1] == pytest.approx(5.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(1, None, 2.0, 4.0), _span(2, 1, 1.0, 3.0)]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


# --------------------------------------------------------------- digests
def test_digest_is_order_insensitive():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    swapped = [("y", 2), ("x", 1)]
    assert stats.digest(cols, rows) == stats.digest(["a", "b"], swapped)


def test_digest_normalizes_float_noise_but_not_values():
    cols = ["v"]
    assert (stats.digest(cols, [(0.1 + 0.2,)])
            == stats.digest(cols, [(0.3,)]))
    assert stats.digest(cols, [(-0.0,)]) == stats.digest(cols, [(0.0,)])
    assert stats.digest(cols, [(0.3,)]) != stats.digest(cols, [(0.31,)])
    assert stats.digest(cols, [(1,)]) != stats.digest(cols, [(2,)])
    assert (stats.digest(cols, [(float("nan"),)])
            == stats.digest(cols, [(float("nan"),)]))


def test_digest_distinguishes_columns_and_multiplicity():
    assert stats.digest(["a"], [(1,)]) != stats.digest(["b"], [(1,)])
    assert stats.digest(["a"], [(1,)]) != stats.digest(["a"], [(1,), (1,)])


def test_normalize_value_handles_nested_and_decimal():
    from decimal import Decimal

    assert stats.normalize_value([1.00000004, None]) == [1.0, None]
    assert stats.normalize_value(Decimal("2.50")) == 2.5
    assert stats.normalize_value(True) is True


# ------------------------------------------------------------ generators
def _same(a, b):
    return a.equals(b)


def test_trade_generators_are_deterministic_per_seed():
    t1, truth1 = gen.trade_prod(7, 40)
    t2, truth2 = gen.trade_prod(7, 40)
    t3, _ = gen.trade_prod(8, 40)
    assert _same(t1, t2) and truth1 == truth2
    assert not _same(t1, t3)
    n1, _ = gen.trade(7)
    n2, _ = gen.trade(7)
    assert _same(n1, n2)


def test_trade_prod_keeps_reference_quirks():
    table, truth = gen.trade_prod(3, 60)
    rows = table.to_pylist()
    totals = [r for r in rows if r["month"] == "Total"]
    detail = [r for r in rows if r["month"] != "Total"]
    assert totals and len(detail) == truth["detail_rows"]
    # the partial final year has only its first months and no imports
    last = [r for r in detail if r["year"] == gen.END_YEAR]
    assert {r["month"] for r in last} <= set(gen.MONTHS_ES[:gen.FINAL_YEAR_MONTHS])
    assert all(r["flow"] == "export" for r in last)
    # missing months: fewer cells than a full grid
    assert len(detail) < 60 * 2 * 12 * (gen.END_YEAR - gen.START_YEAR + 1)
    assert all(r["usd"] > 0 for r in detail)
    # truth totals match the detail rows
    exp = sum(r["usd"] for r in detail if r["flow"] == "export")
    assert math.isclose(exp, sum(truth["export"].values()), rel_tol=1e-12)


def test_corpus_is_deterministic_and_states_its_shares():
    a, sa = gen.corpus(5, 400, 0.2, 0.1)
    b, sb = gen.corpus(5, 400, 0.2, 0.1)
    c, _ = gen.corpus(6, 400, 0.2, 0.1)
    assert _same(a, b) and sa == sb and not _same(a, c)
    texts = a.column("text").to_pylist()
    assert len(texts) - len(set(texts)) >= sa["exact_dup_share"] * 400 * 0.5
    assert 0.1 < sa["near_dup_share"] < 0.3


def test_snapshot_landing_changes_facts_not_keys():
    v0 = gen.snapshot_facts(2, 0.001, 2, version=0)
    v0b = gen.snapshot_facts(2, 0.001, 2, version=0)
    v1 = gen.snapshot_facts(2, 0.001, 2, version=1)
    assert _same(v0["lineitem"], v0b["lineitem"])
    assert not _same(v0["lineitem"], v1["lineitem"])
    assert v0["orders"].column("o_orderkey").equals(v1["orders"].column("o_orderkey"))
    keys = v0["orders"].column("o_orderkey").to_pylist()
    assert len(keys) == len(set(keys))  # replicas are key-offset


def test_dashboard_schedule_is_seeded_and_stratified():
    ref = {"min_year": 2005, "max_year": 2025,
           "categories": ["a", "b", "c, d", "e", "f", "g"]}
    s1 = dashboard.schedule(4, 35, ref)
    assert s1 == dashboard.schedule(4, 35, ref)
    assert s1 != dashboard.schedule(5, 35, ref)
    assert len(s1) == 35
    routes = ["/chart" if u.startswith("/chart/") else u.split("?")[0]
              for u in s1]
    for b in range(0, 30, dashboard.BLOCK):  # every whole block
        assert sorted(routes[b:b + dashboard.BLOCK]) == sorted(
            dashboard.ROUTES)
    assert not any("c%2C+d" in u for u in s1)


def test_block_mean_weighs_whole_blocks_only():
    n = dashboard.BLOCK
    vals = [1.0] * n + [3.0] * n + [100.0] * (n - 1)  # partial last block
    assert dashboard.block_mean(vals) == 2.0
    with pytest.raises(RuntimeError):
        dashboard.block_mean([1.0] * (n - 1))


def test_expected_ranking_orders_by_metric_then_category():
    ref = {"kpi_prod": [[2020, "b", 10.0, 5.0], [2020, "a", 10.0, None],
                        [2020, "c", 3.0, 1.0], [2021, "a", 99.0, 1.0]]}
    got = dashboard.expected_ranking(ref, 2020, "exp", 2)
    assert [r["category"] for r in got] == ["a", "b"]
    assert got[1]["cov_ratio"] == 200.0 and got[0]["cov_ratio"] is None


def test_adhoc_draws_favour_recent_snapshots():
    d = adhoc.draws(3, 2000)
    assert d == adhoc.draws(3, 2000)
    ranks = [r for _, r in d]
    assert ranks.count(0) > ranks.count(1) > ranks.count(2)
    assert {q for q, _ in d} <= set(adhoc.QUERIES)


def test_adhoc_draws_over_fewer_snapshots():
    d = adhoc.draws(3, 500, n_snapshots=2)
    assert {r for _, r in d} == {0, 1}


def test_rows_match_allows_one_rounding_step_only():
    cols = ["region", "revenue", "n"]
    oracle = [("ASIA", 723677175.08, 4947), ("EUROPE", 12.5, 3)]
    flipped = [("EUROPE", 12.5, 3), ("ASIA", 723677175.07, 4947)]
    assert stats.digest(cols, flipped) != stats.digest(cols, oracle)
    assert stats.rows_match(cols, flipped, cols, oracle)
    assert not stats.rows_match(cols, [("ASIA", 723677175.06, 4947),
                                       ("EUROPE", 12.5, 3)], cols, oracle)
    assert not stats.rows_match(cols, [("ASIA", 723677175.08, 4948),
                                       ("EUROPE", 12.5, 3)], cols, oracle)
    assert not stats.rows_match(cols, oracle[:1], cols, oracle)
    # a stale read (the count doubled) is never within tolerance
    assert not stats.rows_match(["c"], [(584648.0,)], ["c"], [(292745.0,)])
