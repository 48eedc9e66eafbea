"""STL decomposition driver: the inner seasonal/lowpass/trend loop with outer
bisquare robustness reweighting.
(ref: main/stl/SeasonalTrendLoess.java:635-862)

This is pure NumPy and runs per-series; Spark distributes it across urls
via one sorted ``mapInArrow`` kernel (see operators/stl_udf.py).
"""
from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .cyclic import cyclic_subseries_smooth
from .loess import loess_smooth, loess_smooth_exog
from .settings import StlConfig, build_stl_config
from .sma import simple_moving_average


@dataclass
class Decomposition:
    data: np.ndarray
    trend: np.ndarray
    seasonal: np.ndarray
    residual: np.ndarray
    weights: np.ndarray

    def smooth_seasonal(self, width: int, restore_end_points: bool = True) -> None:
        """Post-hoc quadratic LOESS smoothing of the seasonal component with
        residual recompute (ref: main/stl/SeasonalTrendLoess.java:686-735)."""
        width = max(3, int(width))
        if width % 2 == 0:
            width += 1
        smoothed = loess_smooth(self.seasonal, width, degree=2, jump=1)
        s0 = self.seasonal[0]
        s_n = self.seasonal[-1]
        self.seasonal = smoothed
        if restore_end_points:
            self.seasonal[0] = s0
            self.seasonal[-1] = s_n
        self.residual = self.data - self.trend - self.seasonal


def _residual_weights(data: np.ndarray, seasonal: np.ndarray, trend: np.ndarray) -> np.ndarray:
    """Bisquare robustness weights from 6*MAD of the absolute residuals, with
    the two-middle-element median (ref: SeasonalTrendLoess.java:643-679)."""
    r = np.abs(data - seasonal - trend)
    srt = np.sort(r)
    n = len(data)
    mi0 = (n + 1) // 2 - 1
    mi1 = n - mi0 - 1
    six_mad = 3.0 * (srt[mi0] + srt[mi1])
    c999 = 0.999 * six_mad
    c001 = 0.001 * six_mad
    h = np.divide(r, six_mad, out=np.zeros_like(r), where=six_mad > 0)
    w = 1.0 - h * h
    w = w * w
    w = np.where(r <= c999, w, 0.0)
    w = np.where(r <= c001, 1.0, w)
    return w


def stl_decompose(data: np.ndarray, config: StlConfig, exog: np.ndarray | None = None) -> Decomposition:
    """Run the STL inner/outer iteration on one series.

    ``exog``: optional (n_exog, n) exogenous regressors.  With exog present
    the inner-loop order flips (removeSeasonality -> updateSeasonalAndTrend
    -> smoothSeasonalSubCycles, ref: SeasonalTrendLoess.java:752-765), the
    trend smoother runs the exogenous WLS with jump forced to 1 (:849-851),
    and its width gains one per regressor (:463-466).  The cyclic smoother
    never receives exog in the reference's STL path (:473-479)."""
    y = np.asarray(data, dtype=np.float64)
    n = len(y)
    period = config.period
    if exog is not None:
        exog = np.asarray(exog, dtype=np.float64)
        if exog.size == 0:
            exog = None

    trend = np.zeros(n)
    seasonal = np.zeros(n)
    weights = np.ones(n)
    extended = np.zeros(n + 2 * period)

    def smooth_subcycles(rw):
        detrend = y - trend
        return cyclic_subseries_smooth(
            detrend,
            period,
            config.seasonal.width,
            config.seasonal.degree,
            config.seasonal.jump,
            n_backward=1,
            n_forward=1,
            weights=rw,
        )

    def remove_seasonality(ext):
        # lowpass: 2x SMA(period) + SMA(3) erode the extension back to n,
        # then LOESS removes what seasonal smoothing leaked into the mean
        pass1 = simple_moving_average(ext, period)
        pass2 = simple_moving_average(pass1, period)
        pass3 = simple_moving_average(pass2, 3)
        return loess_smooth(
            pass3, config.lowpass.width, config.lowpass.degree, config.lowpass.jump
        )

    def update_seasonal_and_trend(ext, deseasonalized, rw):
        nonlocal seasonal, trend
        seasonal = ext[period : period + n] - deseasonalized
        trend_input = y - seasonal
        trend_width = config.trend.width + (len(exog) if exog is not None else 0)
        if exog is not None:
            trend = loess_smooth_exog(
                trend_input,
                exog,
                trend_width,
                config.trend.degree,
                jump=1,
                external_weights=rw,
            )
        else:
            trend = loess_smooth(
                trend_input,
                trend_width,
                config.trend.degree,
                config.trend.jump,
                external_weights=rw,
            )

    outer = 0
    while True:
        use_rw = outer > 0
        rw = weights if use_rw else None
        for _ in range(config.inner_iterations):
            if exog is not None:
                deseasonalized = remove_seasonality(extended)
                update_seasonal_and_trend(extended, deseasonalized, rw)
                extended = smooth_subcycles(rw)
            else:
                extended = smooth_subcycles(rw)
                deseasonalized = remove_seasonality(extended)
                update_seasonal_and_trend(extended, deseasonalized, rw)

        outer += 1
        if outer > config.outer_iterations:
            break
        weights = _residual_weights(y, seasonal, trend)

    residual = y - seasonal - trend
    return Decomposition(data=y, trend=trend, seasonal=seasonal, residual=residual, weights=weights)


def decompose(
    data: np.ndarray,
    period: int,
    exog: np.ndarray | None = None,
    **kwargs,
) -> Decomposition:
    """Convenience: derive the config for this series length and decompose."""
    if data is None:
        # ref: SeasonalTrendLoess.Builder.buildSmoother null check
        raise ValueError("decompose: data must be non-null")
    config = build_stl_config(len(data), period, **kwargs)
    return stl_decompose(data, config, exog=exog)


def periodic_decomposition(data: np.ndarray, period: int) -> Decomposition:
    """Diagnostic strictly-periodic non-robust decomposition
    (ref: SeasonalTrendLoess.java:494-514)."""
    return decompose(data, period, periodic=True, inner_iterations=1, outer_iterations=0)


def robust_periodic_decomposition(data: np.ndarray, period: int) -> Decomposition:
    """Diagnostic strictly-periodic robust decomposition
    (ref: SeasonalTrendLoess.java:525-545)."""
    return decompose(data, period, periodic=True, inner_iterations=1, outer_iterations=1)
