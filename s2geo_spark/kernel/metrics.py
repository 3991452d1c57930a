"""S2 level <-> size metrics (quadratic projection constants).

Values from the reference src/s2/s2metrics.cc:40-114 (projection =
S2_QUADRATIC_PROJECTION, src/s2/s2coords.h:288); level selection logic from
src/s2/s2metrics.h:160-196.

Metric value at level k = deriv * 2^(-dim*k) with dim=1 (length) or 2 (area).
"""

from __future__ import annotations

import math

import numpy as np

MAX_LEVEL = 30

# Length metrics (dim=1), deriv values (s2metrics.cc:40-75)
MIN_ANGLE_SPAN_DERIV = 4.0 / 3.0
MAX_ANGLE_SPAN_DERIV = 1.704897179199218452
AVG_ANGLE_SPAN_DERIV = math.pi / 2
MIN_WIDTH_DERIV = 2 * math.sqrt(2.0) / 3.0
MAX_WIDTH_DERIV = MAX_ANGLE_SPAN_DERIV
AVG_WIDTH_DERIV = 1.434523672886099389
MIN_EDGE_DERIV = 2 * math.sqrt(2.0) / 3.0
MAX_EDGE_DERIV = MAX_ANGLE_SPAN_DERIV
AVG_EDGE_DERIV = 1.459213746386106062
MIN_DIAG_DERIV = 8 * math.sqrt(2.0) / 9.0
MAX_DIAG_DERIV = 2.438654594434021032
AVG_DIAG_DERIV = 2.060422738998471683

# Area metrics (dim=2) (s2metrics.cc:99-114)
MIN_AREA_DERIV = 8 * math.sqrt(2.0) / 9.0
MAX_AREA_DERIV = 2.635799256963161491
AVG_AREA_DERIV = 4 * math.pi / 6  # exact: every face has area 4*pi/6 at level 0

EARTH_RADIUS_METERS = 6371010.0  # s2earth.h:266


def metric_value(deriv: float, level, dim: int = 1):
    """deriv * 2^(-dim * level) (s2metrics.h GetValue)."""
    level = np.asarray(level, dtype=np.float64)
    return deriv * np.exp2(-dim * level)


def level_for_max_value(deriv: float, value, dim: int = 1):
    """Minimum level such that metric(level) <= value
    (s2metrics.h:167-182: ilogb-based). Clamped to [0, 30]."""
    value = np.asarray(value, dtype=np.float64)
    with np.errstate(divide="ignore"):
        # level = floor(log2(deriv / value) / dim), then +1 if still too big
        raw = np.floor(np.log2(deriv / np.maximum(value, 1e-300)) / dim)
    lvl = raw.astype(np.int64)
    # Adjust for float slop exactly like the reference's ilogb loop:
    too_big = metric_value(deriv, lvl, dim) > value
    lvl = np.where(too_big, lvl + 1, lvl)
    ok_coarser = (lvl > 0) & (metric_value(deriv, lvl - 1, dim) <= value)
    lvl = np.where(ok_coarser, lvl - 1, lvl)
    return np.clip(lvl, 0, MAX_LEVEL)


def level_for_min_value(deriv: float, value, dim: int = 1):
    """Maximum level such that metric(level) >= value (s2metrics.h:184-189)."""
    value = np.asarray(value, dtype=np.float64)
    with np.errstate(divide="ignore"):
        raw = np.floor(np.log2(deriv / np.maximum(value, 1e-300)) / dim)
    lvl = raw.astype(np.int64)
    too_small = metric_value(deriv, lvl, dim) < value
    lvl = np.where(too_small, lvl - 1, lvl)
    ok_finer = metric_value(deriv, lvl + 1, dim) >= value
    lvl = np.where(ok_finer, lvl + 1, lvl)
    return np.clip(lvl, 0, MAX_LEVEL)
