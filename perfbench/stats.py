"""Pure helpers of the benchmark: percentile selection, span self time
and result digests. No Spark, no I/O, so the tests run in milliseconds."""

from __future__ import annotations

import decimal
import hashlib
import json
import math

#: candidate percentiles, tried from the highest down
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)
#: samples that must lie beyond a reported tail percentile
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of
    ``n`` samples strictly beyond its nearest-rank position, or None
    when ``n`` is too small for any tail percentile."""
    for p in PERCENTILE_LADDER:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its direct children cover (overlapping children, as
    from concurrent threads, are merged so no instant counts twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def normalize_value(v, digits: int = 6):
    """One cell in canonical form: floats rounded to ``digits`` (the
    oracles round aggregates to at most 6 places), -0.0 and NaN folded,
    timestamps and decimals as text, everything else as is."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, digits)
        return 0.0 if r == 0 else r
    if isinstance(v, int):
        return v
    if isinstance(v, (list, tuple)):
        return [normalize_value(x, digits) for x in v]
    if isinstance(v, dict):
        return {k: normalize_value(x, digits) for k, x in sorted(v.items())}
    if hasattr(v, "is_finite"):  # decimal.Decimal
        return normalize_value(float(v), digits)
    return str(v)


def digest(columns: list[str], rows: list) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    cells normalized, rows sorted, then sha256 of the JSON form."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        json.dumps([normalize_value(r[i]) for i in order], default=str)
        for r in rows)
    h = hashlib.sha256(json.dumps(sorted(columns[i] for i in order))
                       .encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


#: relative float noise accepted on top of a column's rounding grain
REL_NOISE = 1e-12


def _grain(values) -> float:
    """Rounding step of a float column: 10^-d for the most decimals any
    of its values shows (e.g. 0.01 for a column rounded to 2 places)."""
    d = 0
    for v in values:
        if isinstance(v, float) and math.isfinite(v):
            exp = decimal.Decimal(repr(v)).as_tuple().exponent
            d = max(d, -exp)
    return 10.0 ** -d


def _canon_rows(columns: list[str], rows: list) -> list[list]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [[r[i] for i in order] for r in rows]
    # non-float cells first, so a float that flipped one step does not
    # reorder the rows
    return sorted(canon, key=lambda r: (
        json.dumps([None if isinstance(v, float) else normalize_value(v)
                    for v in r], default=str),
        json.dumps(normalize_value(r), default=str)))


def rows_match(columns: list[str], rows: list, oracle_columns: list[str],
               oracle_rows: list) -> bool:
    """Order-insensitive comparison that tolerates float summation order:
    a float may differ from the oracle's by one step of the grain the
    oracle's column is rounded to (a sum that lands on a half-step
    rounds either way, depending on the order it was added in) plus
    ``REL_NOISE`` relative. Every other cell must be equal."""
    if sorted(columns) != sorted(oracle_columns) or len(rows) != len(oracle_rows):
        return False
    a, b = _canon_rows(columns, rows), _canon_rows(oracle_columns, oracle_rows)
    grains = [_grain(col) for col in zip(*b)] if b else []
    for ra, rb in zip(a, b):
        for x, y, g in zip(ra, rb, grains):
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) or math.isnan(y):
                    if not (math.isnan(x) and math.isnan(y)):
                        return False
                elif abs(x - y) > g * (1 + 1e-6) + REL_NOISE * max(
                        abs(x), abs(y), 1.0):
                    return False
            elif normalize_value(x) != normalize_value(y):
                return False
    return True
