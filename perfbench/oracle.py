"""Output checks: a plain numpy aggregation over the generated points.

Late points always arrive inside the finality tail, so every bucket the
engine reports as final holds exactly the generated points of its
interval, and the oracle needs no knowledge of arrival order.  Values are
compared as the repository's oracle tests compare them: equal to six
decimal places (here ``isclose`` with ``abs_tol=1e-6``, plus a relative
tolerance for large sums).
"""

from __future__ import annotations

import math

import numpy as np

STATS = ("n", "min", "max", "avg", "sum", "p50", "p90", "p99")
TAIL = 60.0


def final_end(seconds: int, now: float, tail: float = TAIL) -> float:
    """Start of the first bucket of ``seconds`` that is not final at ``now``."""
    return math.floor((now - tail) / seconds) * seconds


def buckets(ts: np.ndarray, vals: np.ndarray, seconds: int) -> dict[float, dict]:
    """All 8 stats per bucket start for one path's points.  Percentiles
    interpolate linearly between the two nearest ranks, as Spark's exact
    ``percentile`` does."""
    b = np.floor(ts / seconds) * seconds
    order = np.lexsort((vals, b))
    b, v = b[order], vals[order]
    if not len(b):
        return {}
    starts = np.flatnonzero(np.r_[True, b[1:] != b[:-1]])
    n = np.diff(np.r_[starts, len(b)])
    sums = np.add.reduceat(v, starts)
    cols = {
        "n": n.astype(float),
        "min": v[starts],
        "max": v[starts + n - 1],
        "avg": sums / n,
        "sum": sums,
    }
    for stat, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        pos = (n - 1) * q
        lo = np.floor(pos).astype(int)
        hi = np.ceil(pos).astype(int)
        a, c = v[starts + lo], v[starts + hi]
        cols[stat] = a + (c - a) * (pos - lo)
    return {
        float(t): {stat: float(cols[stat][i]) for stat in STATS}
        for i, t in enumerate(b[starts])
    }


class Oracle:
    """Expected answers for reads over the points delivered so far."""

    def __init__(self, paths: np.ndarray, idx: np.ndarray, ts: np.ndarray, vals: np.ndarray):
        self.paths = [str(p) for p in paths]
        self._index = {p: i for i, p in enumerate(self.paths)}
        order = np.argsort(idx, kind="stable")
        self._idx, self._ts, self._vals = idx[order], ts[order], vals[order]
        self._cuts = np.searchsorted(self._idx, np.arange(len(self.paths) + 1))

    def points(self, path: str) -> tuple[np.ndarray, np.ndarray]:
        i = self._index[path]
        lo, hi = self._cuts[i], self._cuts[i + 1]
        return self._ts[lo:hi], self._vals[lo:hi]

    def final_buckets(self, path: str, seconds: int, now: float) -> dict[float, dict]:
        ts, vals = self.points(path)
        keep = ts < final_end(seconds, now)
        return buckets(ts[keep], vals[keep], seconds)

    def get_metric(self, path, seconds, stat, interval, now) -> list[tuple[float, float]]:
        """What ``get_metric(path, period, stat, (start, end))`` must return:
        final buckets with ``start <= bucket <= end``, ordered by time."""
        start, end = interval
        ts, vals = self.points(path)
        keep = (ts < final_end(seconds, now)) & (ts >= start) & (ts < end + seconds)
        rows = buckets(ts[keep], vals[keep], seconds)
        return [(t, r[stat]) for t, r in sorted(rows.items()) if start <= t <= end]

    def list_metrics(self, periods: list[int], now: float) -> list[str]:
        """Paths with at least one final bucket in some period."""
        cut = max(final_end(s, now) for s in periods)
        present = np.unique(self._idx[self._ts < cut])
        return sorted(self.paths[i] for i in present)


def close(a: float | None, b: float | None) -> bool:
    if a is None or b is None:
        return a is b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def same_series(got: list[tuple], want: list[tuple]) -> bool:
    """Two ``[(timestamp, value), ...]`` answers agree row for row."""
    return len(got) == len(want) and all(
        close(g[0], w[0]) and close(g[1], w[1]) for g, w in zip(got, want)
    )


def same_rows(got: dict[float, dict], want: dict[float, dict]) -> bool:
    """Two ``{bucket: {stat: value}}`` tables agree on every bucket and stat."""
    return got.keys() == want.keys() and all(
        close(got[t][s], want[t][s]) for t in want for s in STATS
    )
