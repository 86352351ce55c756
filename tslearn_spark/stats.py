"""Small numerical helpers the container lacks scipy for.

norm_ppf: inverse standard-normal CDF via Acklam's rational approximation
(peer-reviewed, relative error < 1.15e-9) refined with one Halley step of
the complementary error function — matches scipy.stats.norm.ppf far below
the 1e-5 tolerance used by the golden tests (FIXTURES.md).
"""

from __future__ import annotations

import math

import numpy as np

_A = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
_B = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)

_P_LOW = 0.02425
_P_HIGH = 1 - _P_LOW


def _norm_cdf(x: float) -> float:
    return 0.5 * math.erfc(-x / math.sqrt(2.0))


def norm_ppf_scalar(p: float, scale: float = 1.0) -> float:
    if p <= 0.0:
        return -math.inf
    if p >= 1.0:
        return math.inf
    if p < _P_LOW:
        q = math.sqrt(-2 * math.log(p))
        x = ((((((_C[0] * q + _C[1]) * q + _C[2]) * q + _C[3]) * q + _C[4]) * q + _C[5])
             / ((((_D[0] * q + _D[1]) * q + _D[2]) * q + _D[3]) * q + 1))
    elif p <= _P_HIGH:
        q = p - 0.5
        r = q * q
        x = ((((((_A[0] * r + _A[1]) * r + _A[2]) * r + _A[3]) * r + _A[4]) * r + _A[5]) * q
             / (((((_B[0] * r + _B[1]) * r + _B[2]) * r + _B[3]) * r + _B[4]) * r + 1))
    else:
        q = math.sqrt(-2 * math.log(1 - p))
        x = -((((((_C[0] * q + _C[1]) * q + _C[2]) * q + _C[3]) * q + _C[4]) * q + _C[5])
              / ((((_D[0] * q + _D[1]) * q + _D[2]) * q + _D[3]) * q + 1))
    # one Halley refinement step
    e = _norm_cdf(x) - p
    u = e * math.sqrt(2.0 * math.pi) * math.exp(0.5 * x * x)
    x = x - u / (1 + x * u / 2)
    return x * scale


def norm_ppf(p, scale: float = 1.0) -> np.ndarray:
    return np.array([norm_ppf_scalar(float(v), scale) for v in np.atleast_1d(p)])


def sax_breakpoints(n_bins: int, scale: float = 1.0) -> np.ndarray:
    """Gaussian breakpoints (reference: piecewise.py:34-43 `_breakpoints`)."""
    return norm_ppf([float(a) / n_bins for a in range(1, n_bins)], scale=scale)


def sax_bin_medians(n_bins: int, scale: float = 1.0) -> np.ndarray:
    """Per-bin Gaussian medians (reference: piecewise.py:46-56 `_bin_medians`)."""
    return norm_ppf([float(a) / (2 * n_bins) for a in range(1, 2 * n_bins, 2)], scale=scale)
