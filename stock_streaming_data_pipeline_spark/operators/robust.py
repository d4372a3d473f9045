"""Huber robust regression by IRLS with an EXACT-INTEGER inner loop.

M-estimation (Huber 1964) downweights outliers: minimize sum(rho(r_i))
with rho quadratic inside [-delta, delta] and linear outside. IRLS solves
it as repeated weighted least squares with w_i = min(1, delta/|r_i|).

The catalog realization keeps every PER-ROW quantity an integer so the
distributed aggregation is bit-reproducible at any parallelism (the
repo's money-sum discipline, applied to an iterative estimator):

- state (a, b) is carried as micro-cent integers, injected into each
  iteration's plan as literals;
- residual r = y_cents*1e6 - a - b*x is BIGINT (x is an integer regressor);
- weight w = 1e6 if |r| <= delta else (delta*1e6) DIV |r| — integer
  division, identical in Spark, DuckDB and Python;
- the five weighted sums run in DECIMAL(38,0) (overflow-free past the
  sf1000 tier), and the 2x2 normal equations are solved DRIVER-SIDE in
  exact rationals (Fraction), rounded half-up back to micro.

Same data => same estimate on any cluster layout, any engine. Scale
shape: T+1 aggregates over the projected 2-column relation (OLS init +
T reweighted passes), each a map-side-combined groupBy().agg() onto one
row; the projection is materialized so iterations re-scan cached
integer pairs, not the fact table (at the 100 TB tier this trades ~16
bytes/row of cache for T parquet re-scans — flip to recompute if the
cluster is storage-rich and memory-poor).
"""

from __future__ import annotations

from fractions import Fraction

MICRO = 1_000_000


def round_half_up_frac(fr: Fraction) -> int:
    """Half-up rounding of an exact rational (ties toward +inf — the
    single convention shared by every engine-side replica)."""
    return int((fr + Fraction(1, 2)).__floor__())


def solve_wls(
    sw: int, swx: int, swy: int, swxx: int, swxy: int
) -> tuple[int, int]:
    """Weighted-least-squares normal equations for y = a + b*x from the
    five exact integer sums; returns (a_micro, b_micro) half-up-rounded.
    Degenerate designs (constant x) fall back to b = 0."""
    det = sw * swxx - swx * swx
    if sw == 0 or det == 0:
        if sw == 0:
            return 0, 0
        return round_half_up_frac(Fraction(swy, sw) * MICRO), 0
    b = Fraction(sw * swxy - swx * swy, det)
    a = (Fraction(swy) - b * Fraction(swx)) / sw
    return (
        round_half_up_frac(a * MICRO),
        round_half_up_frac(b * MICRO),
    )


def weight_micro(r_micro: int, delta_micro: int) -> int:
    """Huber IRLS weight in micro units: min(1, delta/|r|) — pure
    integer arithmetic (floor division), engine-portable."""
    ar = -r_micro if r_micro < 0 else r_micro
    if ar <= delta_micro:
        return MICRO
    return (delta_micro * MICRO) // ar


def huber_irls(
    xy: list[tuple[int, int]], *, delta_micro: int, iters: int
) -> tuple[int, int, int, int]:
    """Reference replay of the distributed loop over ``(x, y_cents)``
    integer pairs: OLS init, then ``iters`` exact-integer IRLS passes.
    Returns ``(a_micro, b_micro, n_rows, n_downweighted)`` where the last
    is the count of rows with w < 1 at the FINAL state. The catalog
    oracle calls this on DuckDB-read rows; the Spark plan runs the same
    arithmetic as DECIMAL(38,0) aggregates — identical by construction,
    which is exactly what the differential checks."""
    n = len(xy)
    sw = n * MICRO
    swx = sum(x for x, _ in xy) * MICRO
    swy = sum(y for _, y in xy) * MICRO
    swxx = sum(x * x for x, _ in xy) * MICRO
    swxy = sum(x * y for x, y in xy) * MICRO
    a, b = solve_wls(sw, swx, swy, swxx, swxy)
    for _ in range(iters):
        sw = swx = swy = swxx = swxy = 0
        for x, y in xy:
            r = y * MICRO - a - b * x
            w = weight_micro(r, delta_micro)
            sw += w
            swx += w * x
            swy += w * y
            swxx += w * x * x
            swxy += w * x * y
        a, b = solve_wls(sw, swx, swy, swxx, swxy)
    n_down = sum(
        1
        for x, y in xy
        if weight_micro(y * MICRO - a - b * x, delta_micro) < MICRO
    )
    return a, b, n, n_down
