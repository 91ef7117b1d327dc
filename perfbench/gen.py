"""Seeded input generators.  The engine sees only what these produce.

Metric traffic: ``N_PATHS`` Graphite paths whose rates follow a Zipf law
(exponent ``ZIPF_S``; which path is hot depends on the seed).  Values are
log-normal per path, rounded to one decimal so that ties are common; the
k-th hottest path has the same value distribution under every seed, so
that seeds differ in which paths are hot and in every point drawn, not in
how compressible the hottest paths' values are (the top 10 paths carry
about half of the points).
Timestamps carry millisecond fractions.  Every chunk of simulated time is
generated from its own seed derived from ``(seed, chunk start)``, so the
points of a given interval do not depend on how long a run lasts.
"""

from __future__ import annotations

import numpy as np

N_PATHS = 1000
ZIPF_S = 1.1
#: share of the points in a chunk's last ``LATE_WINDOW_S`` seconds that
#: arrive with the next chunk instead (out of order, inside the tail)
LATE_SHARE = 0.02
LATE_WINDOW_S = 50.0
#: a day boundary, so that day partitions line up with simulated days
EPOCH_BASE = 1_700_006_400.0


def path_names() -> list[str]:
    services = [f"svc{i:02d}" for i in range(10)]
    hosts = [f"host{i:02d}" for i in range(10)]
    metrics = ["latency", "errors", "qps", "cpu", "mem", "disk", "gc", "conns", "queue", "hits"]
    return [f"{s}.{h}.{m}" for s in services for h in hosts for m in metrics]


class Traffic:
    """The metric traffic of one seed: paths, their Zipf rate weights and
    their value distributions."""

    def __init__(self, seed: int, rate: float):
        self.seed = seed % 2**32
        self.rate = rate  # datapoints per simulated second, all paths
        rng = np.random.default_rng([self.seed, 0])
        self.paths = np.array(path_names(), dtype=object)
        ranks = rng.permutation(N_PATHS) + 1
        w = 1.0 / ranks.astype(float) ** ZIPF_S
        self.weights = w / w.sum()
        by_rank = np.random.default_rng(0)
        self.mu = by_rank.uniform(0.0, 4.0, N_PATHS)[ranks - 1]
        self.sigma = by_rank.uniform(0.2, 0.8, N_PATHS)[ranks - 1]

    def check_paths(self, rng: np.random.Generator, k: int) -> list[str]:
        """``k`` distinct paths whose outputs are checked: the 2 hottest,
        then others drawn by rate."""
        order = np.argsort(-self.weights)
        rest = order[2:]
        w = self.weights[rest]
        drawn = rng.choice(rest, size=k - 2, replace=False, p=w / w.sum())
        return [str(self.paths[i]) for i in [*order[:2], *drawn]]

    def sample_paths(self, rng: np.random.Generator, k: int) -> list[str]:
        """``k`` paths drawn by rate (Zipf-hot paths come up most)."""
        return [str(p) for p in rng.choice(self.paths, size=k, p=self.weights)]

    def chunk(self, lo: float, hi: float):
        """All points with timestamps in ``[lo, hi)`` as arrays
        ``(path_index, ts, value, late)``; ``late`` marks the points that
        arrive with the following chunk."""
        rng = np.random.default_rng([self.seed, 1, int(lo)])
        n = int(round(self.rate * (hi - lo)))
        idx = rng.choice(N_PATHS, size=n, p=self.weights)
        ts = np.round(rng.uniform(lo, hi, n), 3)
        ts = np.minimum(ts, np.nextafter(hi, lo))
        val = np.round(rng.lognormal(self.mu[idx], self.sigma[idx]), 1)
        late = (ts >= hi - LATE_WINDOW_S) & (rng.random(n) < LATE_SHARE)
        order = np.argsort(ts, kind="stable")
        return idx[order], ts[order], val[order], late[order]


class Timeline:
    """Points grouped into deliveries of ``step`` simulated seconds.

    Delivery ``k`` carries chunk ``k``'s on-time points plus chunk
    ``k-1``'s late ones, shuffled a little so arrival order is not
    timestamp order.  ``delivered`` accumulates everything handed out,
    which is what the output checks aggregate over.
    """

    def __init__(self, traffic: Traffic, start: float, step: float):
        self.traffic = traffic
        self.start = start
        self.step = step
        self._held: tuple | None = None
        self._parts: list[tuple] = []

    def bounds(self, k: int) -> tuple[float, float]:
        lo = self.start + (k - 1) * self.step
        return lo, lo + self.step

    def delivery(self, k: int, final: bool = False):
        """Arrays ``(path_index, ts, value)`` of delivery ``k``.  With
        ``final``, the late points are delivered now as well."""
        idx, ts, val, late = self.traffic.chunk(*self.bounds(k))
        keep = ~late if not final else np.ones_like(late)
        parts = [(idx[keep], ts[keep], val[keep])]
        if self._held is not None:
            parts.insert(0, self._held)
        self._held = None if final else (idx[late], ts[late], val[late])
        out = tuple(np.concatenate(c) for c in zip(*parts))
        rng = np.random.default_rng([self.traffic.seed, 2, int(self.bounds(k)[0])])
        # a few adjacent swaps: arrival order differs from time order
        perm = np.arange(len(out[0]))
        swaps = rng.choice(max(len(perm) - 1, 1), size=len(perm) // 50, replace=False)
        perm[swaps], perm[swaps + 1] = perm[swaps + 1], perm[swaps].copy()
        out = tuple(a[perm] for a in out)
        self._parts.append(out)
        return out

    def delivered(self):
        """Every point handed out so far, as ``(path_index, ts, value)``."""
        return tuple(np.concatenate(c) for c in zip(*self._parts))


def wire_lines(paths: np.ndarray, idx, ts, val) -> bytes:
    """Graphite plaintext (``path value timestamp``) for a delivery; ``repr``
    round-trips each double exactly."""
    return "".join(
        f"{paths[i]} {float(v)!r} {float(t)!r}\n" for i, t, v in zip(idx, ts, val)
    ).encode()
