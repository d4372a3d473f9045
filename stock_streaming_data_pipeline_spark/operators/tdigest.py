"""Mergeable t-digest quantile sketch (Dunning & Ertl, arXiv:1902.04023).

The third quantile-sketch contrast in the catalog:

- Greenwald-Khanna (``approx_quantile_sketch``): merge is NOT
  order-independent → rows-only forever, by measured necessity.
- HDR histogram (``approx_quantile_hdr``): merge is counter ADDITION →
  partitioning-independent and exactly oracle-able, but needs a bounded
  value range chosen up front.
- t-digest (HERE): rank-adaptive centroids — no value-range assumption,
  relative accuracy concentrated at the tails via the k1 scale function.
  The raw merge is order-sensitive, so the operator RESTORES determinism
  the way a 100 TB pipeline would: shard rows by a content hash (the
  partition contents become a pure function of the data, not of file
  layout), build one digest per shard, then merge the bounded centroid
  relation in a single deterministic pass (centroids sorted by exact
  rational mean — sums and weights compared cross-multiplied in
  arbitrary-precision ints, never by float division). Same data ⇒ same
  digest on any cluster layout, which is what makes the DuckDB-side
  replay exact.

Scale shape: one shuffle of (shard, value) onto 32 keys, Arrow-grouped
digest per shard (each task sees ~N/32 values), then a second
applyInPandas over the ~32×2δ-row centroid relation — the classic
two-level mergeable-sketch topology. The estimator is pinned by an
independent property test (rank error vs exact sorted ranks) per the
standing shared-implementation-oracle rule.
"""

from __future__ import annotations

import math
from fractions import Fraction

from stock_streaming_data_pipeline_spark.tables import spark_round

_TWO_PI = 2.0 * math.pi


def _k(q: float, delta: int) -> float:
    """k1 scale function: k(q) = (δ/2π)·asin(2q−1)."""
    return delta / _TWO_PI * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))


def _k_inv(k: float, delta: int) -> float:
    return (math.sin(k * _TWO_PI / delta) + 1.0) / 2.0


def compress(
    centroids: list[tuple[int, int]], *, delta: int
) -> list[tuple[int, int]]:
    """One merging pass over ``(sum, weight)`` centroids — integer sums,
    so merging is exact addition. Input may be unsorted; it is ordered by
    exact rational mean (cross-multiplied int compare via Fraction) with
    a (sum, weight) tie-break, making the pass a pure function of the
    centroid MULTISET — the property that lets shard digests merge
    deterministically regardless of shard completion order."""
    if not centroids:
        return []
    cs = sorted(centroids, key=lambda c: (Fraction(c[0], c[1]), c[0], c[1]))
    total = sum(w for _, w in cs)
    out: list[tuple[int, int]] = []
    cur_s, cur_w = cs[0]
    w_done = 0  # weight fully flushed to out
    q_limit = _k_inv(_k(0.0, delta) + 1.0, delta)
    for s, w in cs[1:]:
        if (w_done + cur_w + w) <= q_limit * total:
            cur_s += s
            cur_w += w
        else:
            out.append((cur_s, cur_w))
            w_done += cur_w
            q_limit = _k_inv(_k(w_done / total, delta) + 1.0, delta)
            cur_s, cur_w = s, w
    out.append((cur_s, cur_w))
    return out


def digest_values(values: list[int], *, delta: int) -> list[tuple[int, int]]:
    """Build a digest from raw integer values (weight-1 centroids)."""
    return compress([(v, 1) for v in values], delta=delta)


def quantile(
    centroids: list[tuple[int, int]],
    *,
    q: float,
    v_min: int,
    v_max: int,
) -> float:
    """Standard t-digest quantile estimate: piecewise-linear through the
    centroid means at half-weight ranks, clamped to the exact [min, max]
    tracked alongside the sketch."""
    cs = sorted(centroids, key=lambda c: (Fraction(c[0], c[1]), c[0], c[1]))
    total = sum(w for _, w in cs)
    if total == 0:
        return float("nan")
    r = q * total
    means = [s / w for s, w in cs]
    cum = []
    acc = 0
    for _, w in cs:
        cum.append(acc + w / 2.0)
        acc += w
    if r <= cum[0]:
        # interpolate from the exact minimum
        if cum[0] <= 0:
            return means[0]
        t = max(0.0, r) / cum[0]
        return v_min + t * (means[0] - v_min)
    if r >= cum[-1]:
        rem = total - cum[-1]
        if rem <= 0:
            return means[-1]
        t = min(1.0, (r - cum[-1]) / rem)
        return means[-1] + t * (v_max - means[-1])
    for i in range(1, len(cs)):
        if r <= cum[i]:
            span = cum[i] - cum[i - 1]
            t = 0.0 if span <= 0 else (r - cum[i - 1]) / span
            return means[i - 1] + t * (means[i] - means[i - 1])
    return means[-1]


def round_half_up(x: float) -> int:
    """Engine-neutral half-up rounding on the shortest decimal repr (the
    repo's F.round parity convention)."""
    return int(spark_round(x, 0))
