"""Output checks, kept free of Spark so the benchmark's own test can feed
them deliberately wrong answers.

* Range responses are checked exactly against the point generator's
  closed form: count, timestamp order, inclusive bounds and every value.
* Analytics results are compared with their DuckDB oracle through a row
  count plus an order-insensitive digest (columns sorted by name, floats
  printed to 6 decimals, rows sorted), the normalisation the repository's
  correctness gate uses.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass
from decimal import Decimal


@dataclass(frozen=True)
class PointSpec:
    """Closed form of a generated series set: metric ``names[m]`` has one
    point every ``step_ms`` from ``start_ms`` for ``n`` steps, and point
    ``i`` has the value ``((i*a + m*b + c) % 100003) / 100``."""

    start_ms: int
    n: int
    names: tuple[str, ...]
    a: int
    b: int
    c: int
    step_ms: int = 1000

    @classmethod
    def from_seed(cls, rng, start_ms: int, n: int, names: tuple[str, ...]) -> "PointSpec":
        return cls(start_ms, n, names, rng.randrange(1, 99_991), rng.randrange(1, 99_991),
                   rng.randrange(0, 100_003))

    @property
    def end_ms(self) -> int:
        return self.start_ms + (self.n - 1) * self.step_ms

    def value(self, m: int, i: int) -> float:
        return ((i * self.a + m * self.b + self.c) % 100_003) / 100.0

    def expected(self, lo: int, hi: int, metric: str | None, limit: int) -> list[tuple[int, float]]:
        """``(timestamp, value)`` pairs that an inclusive ``[lo, hi]``
        query returns, ordered by (ts_ms, metric) and cut at ``limit``."""
        first = max(0, -(-(lo - self.start_ms) // self.step_ms))
        last = min(self.n - 1, (hi - self.start_ms) // self.step_ms)
        order = sorted(range(len(self.names)), key=lambda m: self.names[m])
        ms = [m for m in order if metric is None or self.names[m] == metric]
        out: list[tuple[int, float]] = []
        for i in range(first, last + 1):
            ts = self.start_ms + i * self.step_ms
            for m in ms:
                if len(out) == limit:
                    return out
                out.append((ts, self.value(m, i)))
        return out


def check_points(points: list[dict], expected: list[tuple[int, float]],
                 lo: int, hi: int) -> str | None:
    """``None`` when an ``api.query_points`` ``points`` list matches the
    expected pairs exactly, else a one-line reason."""
    if len(points) != len(expected):
        return f"count {len(points)} != {len(expected)}"
    prev = None
    for k, (p, (ts, v)) in enumerate(zip(points, expected)):
        t = p["timestamp"]
        if t < lo or t > hi:
            return f"point {k} ts {t} outside [{lo}, {hi}]"
        if prev is not None and t < prev:
            return f"point {k} ts {t} before {prev}"
        if t != ts or p["value"] != v:
            return f"point {k} ({t}, {p['value']}) != ({ts}, {v})"
        prev = t
    return None


def _norm_cell(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}" if abs(v) < 1e16 else f"{v:.6e}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and order-insensitive digest of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((repr(tuple(_norm_cell(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def check_digest(got: tuple[int, str], want: tuple[int, str]) -> str | None:
    if got[0] != want[0]:
        return f"rows {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"digest {got[1][:12]} != oracle {want[1][:12]}"
    return None
