"""Proximity raster kernel (method='proximity') unit tests."""

import numpy as np
import pytest

def test_proximity_matches_brute_force():
    """method='proximity': distance to the nearest point, exact, on
    both the brute-force and bucket-index paths."""
    from geocube_spark.kernels.interpolate import (
        GridInterpolator, _BUCKET_NN_MIN_POINTS,
    )

    rng = np.random.default_rng(17)
    for n in (50, _BUCKET_NN_MIN_POINTS + 100):
        px = rng.uniform(0, 100, n)
        py = rng.uniform(0, 100, n)
        gi = GridInterpolator("points_griddata", "proximity", px, py,
                              np.zeros(n))
        gx = np.linspace(2.5, 97.5, 20)
        gy = np.linspace(2.5, 97.5, 15)
        out = gi(gx, gy)
        qx, qy = np.meshgrid(gx, gy)
        d = np.sqrt(
            (qx.ravel()[:, None] - px[None, :]) ** 2
            + (qy.ravel()[:, None] - py[None, :]) ** 2
        ).min(axis=1).reshape(out.shape)
        np.testing.assert_allclose(out, d, rtol=1e-12, atol=1e-12)

    with pytest.raises(ValueError, match="rescale"):
        GridInterpolator("points_griddata", "proximity",
                         px, py, np.zeros(n), rescale=True)(gx, gy)


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_idw_matches_scalar_reference():
    """gdal_grid 'invdist' parity: a scalar python replay of the
    closed form (weight = (d^2+s^2)^(-p/2), radius cut on raw
    distance, min_points -> fill) must agree with the vectorized
    blocked kernel; also pins the exact-hit rule and the gdal-style
    parameter-string parsing."""
    from geocube_spark.kernels.interpolate import (
        GridInterpolator, idw_interp,
    )

    rng = np.random.default_rng(23)
    n = 80
    px = rng.uniform(0, 100, n)
    py = rng.uniform(0, 100, n)
    vals = rng.uniform(-50, 50, n)
    qx = rng.uniform(-10, 110, 300)
    qy = rng.uniform(-10, 110, 300)

    for power, s, radius, minp in [(2.0, 0.0, None, 0),
                                   (3.5, 1.0, None, 0),
                                   (2.0, 0.5, 20.0, 3)]:
        got = idw_interp(px, py, vals, qx, qy, power=power, smoothing=s,
                         radius=radius, min_points=minp, fill=-1.0)
        for i in range(len(qx)):
            num = den = 0.0
            n_in = 0
            for j in range(n):
                d2 = (qx[i] - px[j]) ** 2 + (qy[i] - py[j]) ** 2
                if radius is not None and d2 > radius * radius:
                    continue
                w = (d2 + s * s) ** (-power / 2.0)
                num += vals[j] * w
                den += w
                n_in += 1
            want = num / den if n_in >= max(1, minp) and den > 0 else -1.0
            np.testing.assert_allclose(got[i], want, rtol=1e-9)

    # exact hit with smoothing=0: the coincident point's value wins,
    # lowest index first
    px2 = np.array([10.0, 10.0, 20.0])
    py2 = np.array([5.0, 5.0, 5.0])
    v2 = np.array([7.0, 9.0, 1.0])
    out = idw_interp(px2, py2, v2, np.array([10.0, 15.0]),
                     np.array([5.0, 5.0]))
    assert out[0] == 7.0
    assert 1.0 < out[1] < 7.0  # smooth blend elsewhere

    # gdal-style algorithm string through the interpolator front door
    gi = GridInterpolator(
        "points_griddata", "invdist:power=2:smoothing=1", px, py, vals
    )
    gx1 = np.linspace(0, 100, 7)
    gy1 = np.linspace(0, 100, 5)
    got2 = gi(gx1, gy1)
    mx, my = np.meshgrid(gx1, gy1)
    want2 = idw_interp(
        px, py, vals, mx.ravel(), my.ravel(), power=2.0, smoothing=1.0
    ).reshape(5, 7)
    np.testing.assert_allclose(got2, want2, rtol=1e-12)

    with pytest.raises(ValueError, match="unknown idw parameter"):
        GridInterpolator("points_griddata", "idw:bogus=1",
                         px, py, vals)(np.array([0.0]), np.array([0.0]))
    with pytest.raises(ValueError, match="rescale"):
        GridInterpolator("points_griddata", "idw", px, py, vals,
                         rescale=True)(np.array([0.0]), np.array([0.0]))
