"""Vectorized LOESS smoothing on a regular integer grid.

NumPy re-expression of the reference's loess stack (semantics-faithful, not a
translation): tricube neighborhood weights with the 0.001/0.999 fuzzy cutoffs
and the width>n lambda inflation, regression-recast-as-weights for degrees
0/1/2 with the 1e-6*range^2 degeneracy guards, jump-skipping with linear
interpolation between evaluation points including the separate last-point
rule, and fallback-to-raw-value when a window's total weight is zero.
(ref: main/stl/LoessInterpolator.java:147-266,357-499;
 main/stl/LoessSmoother.java:182-288)

Two levels of vectorization, both bit-exact vs the scalar loops:
  - across evaluation points of one series (rows of a 2-D batch), and
  - across many same-length series at once (``loess_smooth_batch``) — the
    cyclic sub-series smoother runs ALL sub-series of one length class in a
    single kernel call, which is what makes large periods cheap.
Row-batching cannot change results: every per-row quantity is an
element-wise op or a row-wise left-to-right reduction.
"""
from __future__ import annotations

import numpy as np

from . import commons_svd


def _seqsum(a: np.ndarray) -> np.ndarray:
    """Left-to-right sequential row sum (bit-identical to the reference's
    scalar accumulation loops, unlike NumPy's pairwise np.sum)."""
    return a.cumsum(axis=1)[:, -1]


# per-process memo for the data-independent loess geometry (see smooth_windows)
_GEOM_CACHE: dict = {}
_GEOM_CACHE_MAX = 64

# per-process memo for the FINAL normalized+degree-updated weight matrix of
# non-robust smooths: with no external weights the whole weight pipeline is
# data-independent, so a repeat call with the same geometry reduces to one
# multiply+reduction.  A hit replays the exact weights the full pipeline
# produced (cached after computing them once), so bit-parity is untouched.
_WEIGHT_CACHE: dict = {}
_WEIGHT_CACHE_MAX = 64


def smooth_windows(
    vals: np.ndarray,
    xs: np.ndarray,
    lefts: np.ndarray,
    width: int,
    degree: int,
    data_len: int,
    ext_w: np.ndarray | None = None,
):
    """LOESS-evaluate one point per row.

    vals:  (R, L) window values; row r covers grid positions
           [lefts[r], lefts[r]+L-1] of a series of length ``data_len``.
    xs:    (R,) evaluation x (may be fractional / outside the window).
    ext_w: optional (R, L) external (robustness) weights.

    Returns (ys, ok): rows with ok False had zero total weight and the
    caller must fall back to the raw value.
    """
    L = vals.shape[1]
    xs = np.asarray(xs, dtype=np.float64)
    lefts = np.asarray(lefts, dtype=np.int64)
    key = (data_len, width, L, xs.tobytes(), lefts.tobytes())
    if ext_w is None:
        wc = _WEIGHT_CACHE.get((key, degree))
        if wc is not None:
            w_final, ok = wc
            return _seqsum(w_final * vals), ok
    w, ok, lam, fidx = _neighborhood(xs, lefts, width, data_len, L, ext_w)

    if degree != 0:
        linear_ok = lam > 0
        range_ = float(data_len - 1)
        guard = 1.0e-6 * range_ * range_
        if degree == 1:
            x_mean = _seqsum(w * fidx)
            centered = fidx - x_mean[:, None]
            x2_mean = _seqsum(w * centered * centered)
            use = linear_ok & (x2_mean > guard)
            beta = np.where(use, (xs - x_mean) / np.where(use, x2_mean, 1.0), 0.0)
            w = np.where(use[:, None], w * (1.0 + beta[:, None] * centered), w)
        else:
            x1w = fidx * w
            x2w = fidx * x1w
            x3w = fidx * x2w
            x4w = fidx * x3w
            x1m = _seqsum(x1w)
            x2m = _seqsum(x2w)
            x3m = _seqsum(x3w)
            x4m = _seqsum(x4w)
            m2 = x2m - x1m * x1m
            m3 = x3m - x2m * x1m
            m4 = x4m - x2m * x2m
            den = m2 * m4 - m3 * m3
            use = linear_ok & (den > guard)
            den_safe = np.where(use, den, 1.0)
            beta2 = m4 / den_safe
            beta3 = m3 / den_safe
            beta4 = m2 / den_safe
            x1 = xs - x1m
            x2 = xs * xs - x2m
            a1 = beta2 * x1 - beta3 * x2
            a2 = beta4 * x2 - beta3 * x1
            adj = 1.0 + a1[:, None] * (fidx - x1m[:, None]) + a2[:, None] * (fidx * fidx - x2m[:, None])
            w = np.where(use[:, None], w * adj, w)

    if ext_w is None:
        if len(_WEIGHT_CACHE) >= _WEIGHT_CACHE_MAX:
            _WEIGHT_CACHE.pop(next(iter(_WEIGHT_CACHE)))
        _WEIGHT_CACHE[(key, degree)] = (w, ok)
    ys = _seqsum(w * vals)
    return ys, ok


def _neighborhood(xs, lefts, width: int, data_len: int, L: int, ext_w):
    """Normalized tricube neighborhood weights, before the degree update:
    returns (w, ok, lam, fidx) for windows of L points starting at
    ``lefts``, evaluated at ``xs``; rows with ok False have zero total
    weight.

    The tricube/geometry block depends only on (xs, lefts, width, data_len)
    — NOT on the data or robustness weights — so across a robust
    decomposition (no+1 outer passes x identical smoother configs) it is
    recomputed with identical inputs dozens of times.  It is memoized per
    worker process; a cache hit replays the exact same float64 values, so
    bit-parity is untouched."""
    key = (data_len, width, L, xs.tobytes(), lefts.tobytes())
    cached = _GEOM_CACHE.get(key)
    if cached is None:
        offs = np.arange(L, dtype=np.float64)
        fidx = lefts[:, None].astype(np.float64) + offs[None, :]  # (R, L) grid coords
        rights = lefts + L - 1

        lam = np.maximum(xs - lefts, rights - xs)
        if width > data_len:
            lam = lam + (width - data_len) // 2

        delta = np.abs(xs[:, None] - fidx)
        lam_col = lam[:, None]
        frac = np.divide(delta, lam_col, out=np.zeros_like(delta), where=lam_col > 0)
        tri = 1.0 - frac * frac * frac
        w_base = tri * tri * tri
        np.copyto(w_base, 1.0, where=delta <= 0.001 * lam_col)
        np.copyto(w_base, 0.0, where=delta > 0.999 * lam_col)
        if len(_GEOM_CACHE) >= _GEOM_CACHE_MAX:
            _GEOM_CACHE.pop(next(iter(_GEOM_CACHE)))
        _GEOM_CACHE[key] = (w_base, lam, fidx)
    else:
        w_base, lam, fidx = cached
    w = w_base.copy()

    if ext_w is not None:
        # external weights apply only inside the neighborhood; outside the
        # weight is exactly 0 so an unconditional multiply is equivalent
        w *= ext_w

    total = _seqsum(w)
    ok = total > 0.0
    w /= np.where(ok, total, 1.0)[:, None]
    return w, ok, lam, fidx


def _householder_qr_solve(A: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Least-squares solve replicating commons-math's QRDecomposition
    (Householder, singularity threshold 0) bit-for-bit, because the
    reference's exogenous goldens encode its behavior on rank-deficient
    windows (duplicate regressor columns -> rDiag ~ 1e-16 -> division
    amplifies rounding noise into the output).  Raises LinAlgError exactly
    when commons-math would throw SingularMatrixException (rDiag == 0), and
    the caller falls back to the SVD pseudoinverse as the reference does.
    (ref: LoessInterpolator.leastSquaresEstimation, :341-354)"""
    m, n = A.shape
    np.seterr(invalid="ignore", divide="ignore")  # Java silently makes NaN here, then throws at the rDiag check
    qrt = [[float(A[r, c]) for r in range(m)] for c in range(n)]  # transposed
    r_diag = [0.0] * n
    for minor in range(min(m, n)):
        col = qrt[minor]
        norm_sqr = 0.0
        for row in range(minor, m):
            norm_sqr += col[row] * col[row]
        a = -np.sqrt(norm_sqr) if col[minor] > 0 else np.sqrt(norm_sqr)
        r_diag[minor] = a
        if a != 0.0:
            col[minor] -= a
            for c in range(minor + 1, n):
                nxt = qrt[c]
                alpha = 0.0
                for row in range(minor, m):
                    alpha -= nxt[row] * col[row]
                alpha /= a * col[minor]
                for row in range(minor, m):
                    nxt[row] -= alpha * col[row]
    yv = [float(v) for v in y]
    for minor in range(min(m, n)):
        col = qrt[minor]
        dot = 0.0
        for row in range(minor, m):
            dot += yv[row] * col[row]
        dot /= r_diag[minor] * col[minor]
        for row in range(minor, m):
            yv[row] += dot * col[row]
    x = [0.0] * n
    for row in range(n - 1, -1, -1):
        rd = r_diag[row]
        if abs(rd) <= 0.0:
            raise np.linalg.LinAlgError("singular")
        yv[row] /= rd
        y_row = yv[row]
        col = qrt[row]
        x[row] = y_row
        for i in range(row):
            yv[i] -= y_row * col[i]
    return np.array(x)


def smooth_one_point_exog(
    data: np.ndarray,
    exog: np.ndarray,
    x: float,
    left: int,
    right: int,
    w_row: np.ndarray,
    degree: int,
    output_non_exog: bool,
) -> float:
    """Weighted least-squares fit with exogenous regressors evaluated at x
    (ref: LoessInterpolator.smoothOnePointExogModel, :292-354): regressor
    matrix [1, (i/n)^d, exog...], sqrt-weight rows floored at 1e-20, OLS with
    no intercept (bit-faithful commons-math SVD pseudoinverse fallback), then
    optionally only the non-exogenous (const+trend) part of the fit."""
    n = len(data)
    L = right - left + 1
    xp = (left + np.arange(L, dtype=np.float64)) / n
    cols = [np.ones(L)]
    for d in range(1, degree + 1):
        cols.append(xp**d)
    for row in exog:
        cols.append(row[left : right + 1])
    A = np.column_stack(cols)
    sw = np.sqrt(np.maximum(np.abs(w_row), 1e-20))
    Aw = A * sw[:, None]
    yw = data[left : right + 1] * sw
    try:
        params = _householder_qr_solve(Aw, yw)
    except np.linalg.LinAlgError:
        # commons-math falls back to its SVD pseudoinverse here; the chaotic
        # step-exogenous fixture requires that exact arithmetic, not LAPACK's
        # (see commons_svd module docstring).
        params = np.array(commons_svd.svd_solve(Aw, yw))
    k = degree + 1 if output_non_exog else A.shape[1]
    row = A[int(x - left), :k]
    acc = 0.0
    for i in range(k):
        acc += row[i] * params[i]
    return float(acc)


def loess_smooth_exog(
    data: np.ndarray,
    exog: np.ndarray,
    width: int,
    degree: int = 1,
    jump: int = 1,
    external_weights: np.ndarray | None = None,
    output_non_exog: bool = False,
) -> np.ndarray:
    """LoessSmoother.smooth with exogenous inputs: each evaluation point runs
    the exogenous WLS (always linear in x — the reference hardcodes degree 1
    in the smoothOnePoint dispatch, LoessInterpolator.java:158-160); windows
    with zero lambda fall back to the plain weighted average."""
    data = np.asarray(data, dtype=np.float64)
    n = len(data)
    if n == 1:
        return data.copy()
    jump, window_len, xs, xs_all, lefts_all, tail = _eval_geometry(n, width, jump)

    idx = lefts_all[:, None] + np.arange(window_len)[None, :]
    vals = data[idx]
    ext = external_weights[idx] if external_weights is not None else None
    w, ok, lam, _ = _neighborhood(xs_all.astype(np.float64), lefts_all, width, n, window_len, ext)

    ys = np.empty(len(xs_all))
    for r in range(len(xs_all)):
        if not ok[r]:
            ys[r] = data[int(xs_all[r])]
        elif lam[r] > 0:
            ys[r] = smooth_one_point_exog(
                data, exog, float(xs_all[r]), int(lefts_all[r]),
                int(lefts_all[r]) + window_len - 1, w[r], 1, output_non_exog,
            )
        else:
            ys[r] = float(np.cumsum(w[r] * vals[r])[-1])

    if jump == 1:
        return ys
    out = np.empty(n, dtype=np.float64)
    _interpolate_jumps(out[None, :], xs, ys[None, :], jump, tail)
    return out


def smooth_one_point(
    data: np.ndarray,
    x: float,
    left: int,
    right: int,
    width: int,
    degree: int,
    external_weights: np.ndarray | None = None,
):
    """Single-point LOESS evaluation/extrapolation; None when the window's
    total weight is zero (ref: LoessInterpolator.smoothOnePoint)."""
    lefts = np.array([left], dtype=np.int64)
    idx = lefts[:, None] + np.arange(int(right) - int(left) + 1)[None, :]
    ext = external_weights[idx] if external_weights is not None else None
    ys, ok = smooth_windows(
        data[idx], np.array([x], dtype=np.float64), lefts, width, degree, len(data), ext
    )
    return float(ys[0]) if ok[0] else None


def _eval_geometry(n: int, width: int, jump: int):
    """Evaluation xs, window lefts, window length, and the tail-point flag
    shared by every series of length n (ref: LoessSmoother.smooth windowing,
    all three regimes collapse to one clip formula — see tests)."""
    jump = min(jump, n - 1)
    window_len = min(width, n)
    half = (width + 1) // 2
    xs = np.arange(0, n, jump, dtype=np.int64)
    if width >= n:
        lefts = np.zeros(len(xs), dtype=np.int64)
    else:
        lefts = np.clip(xs - half + 1, 0, n - width)
    last = n - 1
    last_eval = int(xs[-1])
    tail = jump != 1 and last_eval != last
    if tail:
        # the reference smooths the final point reusing the window of the
        # LAST evaluated point — replicate exactly
        xs_all = np.concatenate([xs, [last]])
        lefts_all = np.concatenate([lefts, lefts[-1:]])
    else:
        xs_all, lefts_all = xs, lefts
    return jump, window_len, xs, xs_all, lefts_all, tail


def _interpolate_jumps(out: np.ndarray, xs: np.ndarray, ys: np.ndarray, jump: int, tail: bool):
    """Row-wise linear interpolation between jump evaluation points plus the
    last-point rule.  out: (G, n); ys: (G, K[+1])."""
    G, n = out.shape
    K = len(xs)
    out[:, xs] = ys[:, :K]
    starts = np.arange(0, n - jump, jump, dtype=np.int64)
    if len(starts):
        offs = np.arange(1, jump, dtype=np.float64)
        slope = (out[:, starts + jump] - out[:, starts]) / float(jump)
        fill = out[:, starts][:, :, None] + slope[:, :, None] * offs[None, None, :]
        pos = (starts[:, None] + np.arange(1, jump)[None, :]).ravel()
        out[:, pos] = fill.reshape(G, -1)
    if tail:
        last = n - 1
        last_eval = int(xs[-1])
        out[:, last] = ys[:, -1]
        if last_eval != last - 1:
            gap = last - last_eval
            slope = (out[:, last] - out[:, last_eval]) / gap
            js = np.arange(1, gap)
            out[:, last_eval + js] = out[:, last_eval][:, None] + slope[:, None] * js[None, :]


def loess_smooth_batch(
    D: np.ndarray,
    width: int,
    degree: int = 1,
    jump: int = 1,
    W: np.ndarray | None = None,
) -> np.ndarray:
    """Smooth G same-length series at once.  D: (G, n); W: optional (G, n)
    external weights.  Bit-identical to looping loess_smooth over rows."""
    D = np.asarray(D, dtype=np.float64)
    G, n = D.shape
    if n == 1:
        return D.copy()
    jump, window_len, xs, xs_all, lefts_all, tail = _eval_geometry(n, width, jump)

    idx = lefts_all[:, None] + np.arange(window_len)[None, :]      # (K, L)
    vals = D[:, idx].reshape(G * len(xs_all), window_len)          # (G*K, L)
    ext = W[:, idx].reshape(G * len(xs_all), window_len) if W is not None else None
    xs_t = np.tile(xs_all.astype(np.float64), G)
    lefts_t = np.tile(lefts_all, G)
    ys, ok = smooth_windows(vals, xs_t, lefts_t, width, degree, n, ext)
    raw = D[:, xs_all].ravel()
    ys = np.where(ok, ys, raw).reshape(G, len(xs_all))

    if jump == 1:
        return ys
    out = np.empty_like(D)
    _interpolate_jumps(out, xs, ys, jump, tail)
    return out


def loess_smooth(
    data: np.ndarray,
    width: int,
    degree: int = 1,
    jump: int = 1,
    external_weights: np.ndarray | None = None,
) -> np.ndarray:
    """Smooth a full series, evaluating LOESS every ``jump`` points with
    linear interpolation in between (ref: LoessSmoother.smooth,
    main/stl/LoessSmoother.java:182-288, incl. the last-point rule :270-284).
    """
    data = np.asarray(data, dtype=np.float64)
    W = external_weights[None, :] if external_weights is not None else None
    return loess_smooth_batch(data[None, :], width, degree, jump, W)[0]
