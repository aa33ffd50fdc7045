"""Carried-tail fold == whole-series kernel — the streaming contract.

The reference checks every op both online and offline
(tests/testthat/test-roll.R). The engine has one kernel family: a
state-carrying (online) evaluation is ``kernels.carry_step``, which
folds each batch through the offline ``conv_*`` kernel with the series'
last width-1 raw values in front. These tests split series at arbitrary
points — 1-row batches, NaN bursts across a seam, uneven chunks — and
require the folded output to equal the whole-series kernel. Window
reduces, (co)moments and quantiles must match exactly; convolution sums
(mean/sum) may differ in the last bits, since np.convolve's summation
order follows memory alignment, so they compare at 1e-9.
"""

from __future__ import annotations

import numpy as np
import pytest

from roll_spark.operators import kernels as K

WIDTHS = (1, 2, 3, 5, 10, 15)


def _same(a, b, atol=0.0):
    mask = np.isnan(a) & np.isnan(b)
    if atol == 0.0:
        return ((a == b) | mask).all()
    return np.allclose(a, b, equal_nan=True, atol=atol, rtol=0)


def _splits(n):
    """Seams at the head (1-row batches), mid-series and near the end."""
    return sorted({0, 1, 2, 3, n // 3, n // 3 + 1, 2 * n // 3, n - 1, n} & set(range(n + 1)))


def _fold(kernel, cols, width, bounds, **kw):
    """Evaluate ``cols`` batch by batch through carry_step."""
    st, parts = None, []
    for lo, hi in zip(bounds, bounds[1:]):
        seg, st = K.carry_step(kernel, [c[lo:hi] for c in cols], width, st, **kw)
        parts.append(seg)
    return np.concatenate(parts)


@pytest.mark.parametrize("width", WIDTHS)
def test_online_sum_equals_offline(grid_series, width):
    for name, x in grid_series.items():
        for mo in (1, max(1, width // 2), width):
            got = _fold(K.conv_sum, [x], width, _splits(len(x)), min_obs=mo)
            want = K.conv_sum(x, width, min_obs=mo)
            assert _same(got, want, atol=1e-9), (name, width, mo)


@pytest.mark.parametrize("width", WIDTHS)
def test_online_var_equals_offline(grid_series, width):
    for name, x in grid_series.items():
        for mo in (2, width):
            got, _ = K.online_var(x, width, min_obs=mo)
            want = K.conv_var(x, width, min_obs=max(mo, 2))
            assert _same(got, want), (name, width, mo)
            got = _fold(K.conv_var, [x], width, _splits(len(x)), min_obs=mo)
            assert _same(got, want), (name, width, mo)


@pytest.mark.parametrize("width", WIDTHS)
def test_online_cov_equals_offline(grid_pairs, width):
    for name, (x, y) in grid_pairs.items():
        got = _fold(K.conv_cov, [x, y], width, _splits(len(x)), min_obs=2)
        want = K.conv_cov(x, y, width, min_obs=2)
        assert _same(got, want), (name, width)


@pytest.mark.parametrize("width", WIDTHS)
@pytest.mark.parametrize("p", (0.1, 0.25, 0.5, 0.75, 0.9))
def test_online_quantile_equals_offline(grid_series, width, p):
    """The folded quantile is EXACT vs the whole-series HF2 selection."""
    for name, x in grid_series.items():
        for mo in (1, width):
            got = _fold(K.conv_quantile, [x], width, _splits(len(x)), p=p, min_obs=mo)
            want = K.conv_quantile(x, width, p, min_obs=mo)
            assert _same(got, want), (name, width, p, mo)


def test_online_quantile_tie_heavy_long_series():
    rng = np.random.default_rng(97)
    x = np.round(rng.normal(100, 5, 3000), 1)  # heavy ties
    x[rng.random(3000) < 0.15] = np.nan
    x[1495:1510] = np.nan  # a NaN burst across the mid-series seam
    for width, p in ((7, 0.5), (40, 0.25), (200, 0.9)):
        got = _fold(K.conv_quantile, [x], width, _splits(len(x)), p=p, min_obs=1)
        want = K.conv_quantile(x, width, p, min_obs=1)
        assert _same(got, want), (width, p)


@pytest.mark.parametrize("splits", [(137,), (50, 260), (1, 2, 3)])
def test_state_carry_across_chunks(splits):
    """Evaluating a series in arbitrary chunks with carried state must
    equal the single-pass answer — the contract the streaming path
    relies on."""
    rng = np.random.default_rng(31)
    x = np.round(rng.normal(100, 20, 400), 2)
    x[rng.random(400) < 0.2] = np.nan
    y = np.round(rng.normal(50, 10, 400), 2)
    bounds = [0, *splits, 400]
    for kernel, cols, kw, atol in (
        (K.conv_sum, [x], {}, 1e-9),
        (K.conv_var, [x], {}, 0.0),
        (K.conv_quantile, [x], {"p": 0.5}, 0.0),
        (K.conv_cov, [x, y], {}, 0.0),
    ):
        min_obs = 2 if kernel is K.conv_cov else 1
        for width in (3, 10, 64):
            whole = kernel(*cols, width, min_obs=min_obs, **kw)
            got = _fold(kernel, cols, width, bounds, min_obs=min_obs, **kw)
            assert _same(whole, got, atol=atol), (kernel.__name__, width)


# every window op with its input columns (cov is bivariate)
_WINDOW_OPS = (
    (K.conv_mean, 1, {}), (K.conv_sum, 1, {}), (K.conv_var, 1, {}),
    (K.conv_scale, 1, {}), (K.conv_quantile, 1, {"p": 0.5}),
    (K.conv_cov, 2, {}), (K.conv_min, 1, {}), (K.conv_max, 1, {}),
    (K.conv_nanprod, 1, {}), (K.conv_idxmin, 1, {}), (K.conv_idxmax, 1, {}),
)
# convolution sums: last-bit differences allowed (see module docstring)
_ATOL = {K.conv_mean: 1e-9, K.conv_sum: 1e-9}


def test_online_minmax_mismatched_carry_recovers():
    """A restored tail LONGER than width-1 (stream resumed with a smaller
    width than the checkpointed one) resumes exactly from its trailing
    width-1 values, for every window op; a SHORT tail that still holds
    every row of a young series is NaN-padded on the left."""
    x = np.array([5.0, 1.0, 9.0])
    # long carry: width=3 needs 2 tail values, give it 5
    long_state = {"tail": [100.0, -7.0, 2.0, 8.0, 4.0], "rows": 5}
    out, st = K.carry_step(K.conv_min, [x], 3, long_state, min_obs=1)
    # trailing width-1 = [8.0, 4.0] is the effective carry
    assert out.tolist() == [4.0, 1.0, 1.0]
    assert st["tail"].ravel().tolist() == [1.0, 9.0]
    assert st["rows"] == 8
    out_max, _ = K.carry_step(K.conv_max, [x], 3,
                              {"tail": [8.0, 4.0, 2.0], "rows": 3}, min_obs=1)
    assert out_max.tolist() == [5.0, 5.0, 9.0]
    # short carry covering the whole (1-row) series: NaN-padded
    out_s, _ = K.carry_step(K.conv_min, [x], 4, {"tail": [2.0], "rows": 1},
                            min_obs=1)
    assert out_s.tolist() == [2.0, 1.0, 1.0]

    rng = np.random.default_rng(23)
    series = np.round(rng.normal(10, 3, (2, 60)), 2)
    series[:, rng.random(60) < 0.2] = np.nan
    for kernel, ncols, kw in _WINDOW_OPS:
        cols = list(series[:ncols])
        # 40 rows at width 9 (tail 8), resumed at width 4 (tail 3)
        _, st = K.carry_step(kernel, [c[:40] for c in cols], 9, None,
                             min_obs=1, **kw)
        got, _ = K.carry_step(kernel, [c[40:] for c in cols], 4, st,
                              min_obs=1, **kw)
        want = kernel(*cols, 4, min_obs=1, **kw)[40:]
        assert _same(got, want, _ATOL.get(kernel, 0.0)), kernel.__name__
        # 1 row at width 2 (tail 1) resumes at width 5: the tail still
        # holds the whole series
        _, st = K.carry_step(kernel, [c[:1] for c in cols], 2, None,
                             min_obs=1, **kw)
        got, _ = K.carry_step(kernel, [c[1:] for c in cols], 5, st,
                              min_obs=1, **kw)
        want = kernel(*cols, 5, min_obs=1, **kw)[1:]
        assert _same(got, want, _ATOL.get(kernel, 0.0)), kernel.__name__


def test_online_width_growth_raises():
    """Resuming with a LARGER width than the checkpointed tail covers
    must raise: the tail lost rows the wider windows need, so silent
    continuation would emit wrong values."""
    x = np.arange(20.0)
    for kernel, ncols, kw in _WINDOW_OPS:
        cols = [x] * ncols
        _, st = K.carry_step(kernel, cols, 5, None, min_obs=1, **kw)
        with pytest.raises(ValueError, match="state width mismatch"):
            K.carry_step(kernel, cols, 8, st, min_obs=1, **kw)
    _, st = K.online_var(x, 5, min_obs=2)
    with pytest.raises(ValueError, match="state width mismatch"):
        K.online_var(x, 6, min_obs=2, state=st)


def test_online_idxminmax_matches_batch_contract():
    """conv_idxmin/conv_idxmax == an independent naive replay of the
    batch contract (window_ops._idx_extreme / roll_vec.h:1345-1659):
    series position while expanding, window slot once rolling,
    most-recent ties, NaN exclusion, min_obs gating — plus the chunked
    fold (tail + series row count) equals the single pass."""
    rng = np.random.default_rng(7)
    x = np.round(rng.normal(50, 20, 200), 2)
    x[rng.random(200) < 0.15] = np.nan
    x[::7] = 42.0  # force ties

    def naive(x, width, mode, min_obs):
        out = np.full(len(x), np.nan)
        for i in range(len(x)):
            r = i + 1
            lo = max(0, i - width + 1)
            win = x[lo:i + 1]
            obs = ~np.isnan(win)
            if obs.sum() < max(min_obs, 1):
                continue
            vals = np.where(obs, win, np.inf if mode == "min" else -np.inf)
            ext = vals.min() if mode == "min" else vals.max()
            j = np.flatnonzero(obs & (win == ext))[-1]  # most recent tie
            r_ext = lo + j + 1
            out[i] = r_ext if r <= width else width - r + r_ext
        return out

    for mode, kernel in (("min", K.conv_idxmin), ("max", K.conv_idxmax)):
        for width in (1, 3, 10):
            for mo in (1, 3):
                want = naive(x, width, mode, mo)
                got = kernel(x, width, min_obs=mo)
                assert _same(got, want), (mode, width, mo)
                got = _fold(kernel, [x], width, (0, 13, 14, 90, 200), min_obs=mo)
                assert _same(got, want), (mode, width, mo)


def test_online_scale_matches_naive():
    """conv_scale == a naive two-pass z-score replay of the batch
    roll_scale contract (most-recent-non-NA value, n_obs>1 + var>eps
    emission, min_obs gate), within float noise of the different
    summation order (5e-8 band); the chunked fold equals the single
    pass exactly."""
    rng = np.random.default_rng(3)
    x = np.round(rng.normal(50, 20, 300), 2)
    x[rng.random(300) < 0.2] = np.nan
    x[100:110] = 7.0  # a zero-variance stretch -> NULL (var <= eps)

    def naive(x, width, min_obs):
        out = np.full(len(x), np.nan)
        for i in range(len(x)):
            win = x[max(0, i - width + 1): i + 1]
            obs = win[~np.isnan(win)]
            if len(obs) < max(min_obs, 2):
                continue
            v = obs.var(ddof=1)
            if v > np.finfo(float).eps:
                out[i] = (obs[-1] - obs.mean()) / np.sqrt(v)
        return out

    for width in (2, 5, 10, 30):
        for mo in (1, 5):
            want = naive(x, width, mo)
            got = K.conv_scale(x, width, min_obs=mo)
            assert np.array_equal(np.isnan(got), np.isnan(want)), (width, mo)
            m = ~np.isnan(got)
            assert np.allclose(got[m], want[m], rtol=0, atol=5e-8), (width, mo)
            g2 = _fold(K.conv_scale, [x], width, (0, 17, 18, 150, 300), min_obs=mo)
            assert np.array_equal(g2, got, equal_nan=True), (width, mo)


def test_online_prod_matches_naive():
    """conv_nanprod == the naive per-window product (exact zeros/signs,
    NaN exclusion, min_obs gate); chunked fold == single pass."""
    rng = np.random.default_rng(11)
    x = np.round(rng.normal(0.0, 1.5, 250), 2)  # mixed signs
    x[rng.random(250) < 0.2] = np.nan
    x[40] = 0.0  # exact zero through the window

    def naive(x, width, min_obs):
        out = np.full(len(x), np.nan)
        for i in range(len(x)):
            win = x[max(0, i - width + 1): i + 1]
            obs = win[~np.isnan(win)]
            if len(obs) >= max(min_obs, 1):
                out[i] = np.prod(obs)
        return out

    for width in (1, 4, 10):
        for mo in (1, 4):
            want = naive(x, width, mo)
            got = K.conv_nanprod(x, width, min_obs=mo)
            assert _same(got, want), (width, mo)
            g2 = _fold(K.conv_nanprod, [x], width, (0, 41, 42, 130, 250), min_obs=mo)
            assert np.array_equal(g2, got, equal_nan=True), (width, mo)
