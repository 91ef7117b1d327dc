"""Summary statistics and the metric-name grammar shared by every workload.

Timings are reported as medians.  A tail (p90) is reported only when the
run holds at least ``TAIL_MIN_SAMPLES`` samples, so that ten samples lie
beyond it; every summary carries its sample count.
"""

from __future__ import annotations

import math
import re
import statistics

TAIL_MIN_SAMPLES = 100

#: ``<layer>.<call>.<measure>`` (dotted words of letters, digits and ``_``),
#: at most 64 characters, starting with a letter — the per-layer grammar.
#: A layer-wide gauge has no call (``storage.files``); a call may name a
#: sub-step (``tsdb.sync.onehour.upsert_s``).
LAYER_METRIC = re.compile(r"^[a-z][a-z0-9_]*(\.[a-z0-9_]+){1,3}$")
#: end-to-end names are one word (letters, digits, ``_``)
E2E_METRIC = re.compile(r"^[a-z][a-z0-9_]*$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_layer_name(name: str) -> bool:
    return len(name) <= 64 and bool(LAYER_METRIC.match(name))


def valid_e2e_name(name: str) -> bool:
    return len(name) <= 64 and bool(E2E_METRIC.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT.match(unit))


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summarize(values: list[float]) -> dict:
    """``{"n", "p50"[, "p90"]}``: the median always (``n`` ≥ 1), the p90
    only from ``TAIL_MIN_SAMPLES`` samples on."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    if len(values) >= TAIL_MIN_SAMPLES:
        out["p90"] = percentile(values, 0.9)
    return out


def halves(values: list[float]) -> tuple[float | None, float | None]:
    """Medians of the first and second half of a run's samples, in the
    order taken; a drift between them shows as a gap, not as noise."""
    if len(values) < 2:
        return (statistics.median(values) if values else None, None)
    mid = len(values) // 2
    return statistics.median(values[:mid]), statistics.median(values[mid:])

