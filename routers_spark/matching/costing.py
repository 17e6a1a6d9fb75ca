"""Costing: the emission decay and the injectable strategy surface,
bit-compatible with the reference defaults.

  - decay:      cost(v) = (PRECISION * ZETA * (1/clamp(v,1e-6,1))^BETA) as u32
                (costing/util.rs:29-39)
  - emission:   calculate = exp(-sqrt(distance / 25 m))
                (costing/default.rs:62-65)
  - candidate:  projection of a point onto an edge segment, priced by the
                emission (:func:`project_candidates`, X6 + M2; the one
                kernel of both candidate paths)

The transition heuristic (default.rs:137-163: sqrt(deviance * turn_cost *
class_continuity), each factor clamped to [1e-6, 1], with the angular
complexity of map_path/entity.rs:229-297) is computed batched in
``matching/weigh.py``. Its per-pair scalar oracle lives in
``tests/test_weigh_vec.py``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from routers_spark.config import COST_PRECISION, DEFAULT_EMISSION_ERROR_M
from routers_spark.functions.geo import (
    haversine_m_np,
    line_locate_point_np,
    point_at_ratio_np,
)

_EPS = 1e-6


@dataclass(frozen=True)
class Strategy:
    """One costing strategy (§2.9 extension point, costing/util.rs:8-39):
    the ζ/β decay constants plus an optional custom heuristic.

    ``calculate`` receives numpy arrays and must return values in [0, 1]
    (1 = free, 0 = most expensive; NaN ≙ the reference's None → clamped to
    the most expensive cost). Emission signature:
    ``calculate(dist_m, emission_error)``; transition signature:
    ``calculate(straight_m, route_len_m, angular, w_src, w_tgt)``. None →
    the reference default formula (default.rs:62-65 / 137-163)."""

    zeta: float = 1.0
    beta: float = 1.0
    calculate: Callable | None = None


@dataclass(frozen=True)
class CostingStrategies:
    """The CostingStrategies pair (costing/mod.rs:23-60 how-to)."""

    emission: Strategy = field(default_factory=Strategy)
    transition: Strategy = field(default_factory=Strategy)


def decay_u32(values: np.ndarray, zeta: float = 1.0,
              beta: float = 1.0) -> np.ndarray:
    """[0,1] heuristic value → u32 cost:
    ``(PRECISION · ζ · (1/clamp(v,1e-6,1))^β) as u32`` (util.rs:29-39). The
    trailing truncation is part of the contract. NaN clamps to _EPS (the
    reference's None → 0.0 → clamp)."""
    v = np.asarray(values, dtype=np.float64)
    v = np.where(np.isnan(v), 0.0, v)
    v = np.clip(v, _EPS, 1.0)
    inv = 1.0 / v
    if beta != 1.0:
        inv = inv ** beta
    return ((COST_PRECISION * zeta) * inv).astype(np.uint32)


def emission_cost_u32(distance_m: np.ndarray,
                      emission_error: float = DEFAULT_EMISSION_ERROR_M,
                      strategy: Strategy | None = None) -> np.ndarray:
    """Gaussian-family emission on the perpendicular (projected) distance
    (default.rs:62-65): exp(-sqrt(d / err)) → decay. A custom strategy
    swaps the heuristic and/or the decay constants."""
    d = np.asarray(distance_m, dtype=np.float64)
    if strategy is None:
        return decay_u32(np.exp(-np.sqrt(d / emission_error)))
    if strategy.calculate is not None:
        value = strategy.calculate(d, emission_error)
    else:
        value = np.exp(-np.sqrt(d / emission_error))
    return decay_u32(value, strategy.zeta, strategy.beta)


def project_candidates(ax, ay, bx, by, lon, lat, emission_error: float,
                       strategy: Strategy | None):
    """(frac, px, py, dist_m, emission) of every (point, edge) pair, one
    vectorized pass (X6 + M2): the point (lon, lat) is located on the
    segment a→b (planar, scan.rs:22-44), the projection interpolated at
    that fraction (a degenerate segment projects onto its start), and the
    haversine distance to it priced by :func:`emission_cost_u32` under the
    emission ``strategy``. ``frac`` keeps the NaN of a degenerate segment."""
    frac = line_locate_point_np(ax, ay, bx, by, lon, lat)
    px, py = point_at_ratio_np(ax, ay, bx, by,
                               np.where(np.isnan(frac), 0.0, frac))
    dist = haversine_m_np(px, py, lon, lat)
    return frac, px, py, dist, emission_cost_u32(dist, emission_error,
                                                 strategy)
