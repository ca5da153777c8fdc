"""Delaunay triangulation, pure numpy.

Used by the 'linear' and 'cubic' point-interpolation paths (reference
geocube/rasterize.py:136-191 delegates to scipy.interpolate.griddata,
whose 'linear' method is Delaunay + barycentric interpolation) and by
interpolate_na. scipy is not a dependency of this engine, so we
triangulate ourselves: one build for every n, batch-parallel
incremental insertion with Lawson flips, each round a handful of
whole-array operations (see ``delaunay``). The per-cell interpolation
afterwards is fully vectorized too.
"""

from __future__ import annotations

import numpy as np


def _batch_circum(allp: np.ndarray, tri: np.ndarray):
    """Vectorized circumcircles for (M, 3) triangles: (ux, uy, r2).

    Degenerate (collinear) triangles get r2 = -1 so the in-circle test
    never admits a point (matches the scalar form's sentinel).
    """
    a = allp[tri[:, 0]]
    b = allp[tri[:, 1]]
    c = allp[tri[:, 2]]
    d = 2 * (
        a[:, 0] * (b[:, 1] - c[:, 1])
        + b[:, 0] * (c[:, 1] - a[:, 1])
        + c[:, 0] * (a[:, 1] - b[:, 1])
    )
    bad = d == 0
    dd = np.where(bad, 1.0, d)
    a2 = a[:, 0] ** 2 + a[:, 1] ** 2
    b2 = b[:, 0] ** 2 + b[:, 1] ** 2
    c2 = c[:, 0] ** 2 + c[:, 1] ** 2
    ux = (
        a2 * (b[:, 1] - c[:, 1])
        + b2 * (c[:, 1] - a[:, 1])
        + c2 * (a[:, 1] - b[:, 1])
    ) / dd
    uy = (
        a2 * (c[:, 0] - b[:, 0])
        + b2 * (a[:, 0] - c[:, 0])
        + c2 * (b[:, 0] - a[:, 0])
    ) / dd
    r2 = (a[:, 0] - ux) ** 2 + (a[:, 1] - uy) ** 2
    ux = np.where(bad, np.inf, ux)
    uy = np.where(bad, np.inf, uy)
    r2 = np.where(bad, -1.0, r2)
    return ux, uy, r2


# documented single-task ceiling: the build is expected O(n log n)
# (~0.9 s per 100k points on one core of a 4-core host) but runs as
# ONE task per (band, group); past this cap the fail-fast error beats
# a silently-pinned executor. Only CUBIC still needs the single global
# fit (its CT patches read gradient estimates that couple across the
# whole triangulation); 'linear' auto-routes to the halo-tiled
# certified fit above 150k points (cube._interp_linear_tiled), whose
# per-tile builds stay far below this cap.
DELAUNAY_MAX_POINTS = 2_000_000

# Relative margin on both fp predicates, about 1000 times their
# rounding-error bound. An edge flips only when its in-circle
# determinant clears this share of its permanent, so exact or near
# ties (the four corners of a grid cell) keep either diagonal instead
# of flipping back and forth; a flip also needs both new triangles
# CCW by the same margin.
_EPS = 1e-12
# flips per point before the build gives up on the input
_FLIPS_PER_POINT = 32


def delaunay(points: np.ndarray) -> np.ndarray:
    """Return (M, 3) int array of CCW triangle vertex indices.

    points: (N, 2) float array. Exact duplicate points collapse to
    their first occurrence; fewer than 3 distinct points or an
    all-collinear input return an empty triangle list.

    Batch-parallel incremental insertion with Lawson flips, every step
    a whole-array numpy operation: starting from one super-triangle,
    each round inserts one pending point into EVERY triangle that
    holds one (a 1->3 split), relocates the other pending points by
    orientation tests against the new spokes, then flips the edges
    that fail the in-circle test in independent batches (each triangle
    in at most one flip per batch) until none is left. Points go in a
    fixed-seed random order, so the result is a deterministic function
    of the input and takes O(log n) rounds. In general position the
    output is THE Delaunay triangulation, covering the convex hull; on
    exactly co-circular quadruples either diagonal may be kept. Inputs
    too near-degenerate for the fp predicates raise a "near-degenerate"
    ValueError.
    """
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n > DELAUNAY_MAX_POINTS:
        # the fit is one task per (band, group) — inherent to the
        # globally-coupled triangulation, and exactly the reference's
        # own single-node limitation (scipy griddata). Fail fast with
        # guidance instead of grinding one executor core for minutes.
        raise ValueError(
            f"{n} scatter points exceed the single-task Delaunay cap "
            f"of {DELAUNAY_MAX_POINTS} (the triangulation is fitted "
            "once per band; ~0.9 s per 100k points in one task). "
            "Subsample the input, or use method='nearest' (scales to "
            "any point count) or a burn + interpolate_na pipeline."
        )
    empty = np.empty((0, 3), dtype=np.int64)
    if n < 3:
        return empty
    # + 0.0 folds -0.0 into 0.0 so equal coordinates compare equal
    _, first = np.unique(pts + 0.0, axis=0, return_index=True)
    keep = np.sort(first)
    upts = pts[keep]
    d = upts - upts[0]
    far = d[np.argmax(np.abs(d).sum(axis=1))]
    if len(upts) < 3 or not (far[0] * d[:, 1] - far[1] * d[:, 0]).any():
        return empty
    return _check_build(keep[_flip_build(upts)], n)


def _orient(x, y, a, b, c):
    """Orientation determinant of (a, b, c) (> 0: CCW) and its
    permanent (the sum of the absolute products)."""
    abx, aby = x[b] - x[a], y[b] - y[a]
    acx, acy = x[c] - x[a], y[c] - y[a]
    lt, rt = abx * acy, aby * acx
    return lt - rt, np.abs(lt) + np.abs(rt)


def _ccw(x, y, a, b, c):
    """Mask of triangles (a, b, c) that are CCW beyond fp doubt."""
    o, perm = _orient(x, y, a, b, c)
    return o > _EPS * perm


def _incircle(x, y, a, b, c, d):
    """In-circle determinant (> 0: d strictly inside the circle of the
    CCW triangle a, b, c) and its permanent."""
    adx, ady = x[a] - x[d], y[a] - y[d]
    bdx, bdy = x[b] - x[d], y[b] - y[d]
    cdx, cdy = x[c] - x[d], y[c] - y[d]
    ad = adx * adx + ady * ady
    bd = bdx * bdx + bdy * bdy
    cd = cdx * cdx + cdy * cdy
    p1, q1 = bdx * cdy, bdy * cdx
    p2, q2 = cdx * ady, cdy * adx
    p3, q3 = adx * bdy, ady * bdx
    det = ad * (p1 - q1) + bd * (p2 - q2) + cd * (p3 - q3)
    perm = (ad * (np.abs(p1) + np.abs(q1)) + bd * (np.abs(p2) + np.abs(q2))
            + cd * (np.abs(p3) + np.abs(q3)))
    return det, perm


def _slot_of(nb, w, t):
    """Slot of each triangle ``w`` whose neighbour is ``t``."""
    return np.argmax(nb[w] == t[:, None], axis=1)


def _flip_build(p: np.ndarray) -> np.ndarray:
    """Delaunay triangles of distinct, not-all-collinear points ``p``
    (see ``delaunay``).

    Triangle ``t`` is ``tv[t]`` (CCW); ``nb[t, k]`` is the triangle
    across the edge opposite vertex ``tv[t, k]`` (-1 on the
    super-triangle's rim). Every pending point ``pend[i]`` lies in
    triangle ``loc[i]``.
    """
    m = len(p)
    cx, cy = p.mean(axis=0)
    span = max(np.ptp(p[:, 0]), np.ptp(p[:, 1]), 1e-12) * 100.0
    x = np.concatenate([p[:, 0], [cx - 20 * span, cx + 20 * span, cx]])
    y = np.concatenate([p[:, 1], [cy - span, cy - span, cy + 20 * span]])

    cap = 2 * m + 1            # triangle count once every point is in
    tv = np.empty((cap, 3), dtype=np.int64)
    nb = np.full((cap, 3), -1, dtype=np.int64)
    tv[0] = (m, m + 1, m + 2)
    ntri = 1
    owner = np.empty((cap, 3), dtype=np.int64)   # per split/flip batch
    mark = np.full(cap, -1, dtype=np.int64)      # batch index, or -1
    pend = np.random.default_rng(0).permutation(m)
    loc = np.zeros(m, dtype=np.int64)
    budget = _FLIPS_PER_POINT * m + 64

    while len(pend):
        # split: the first pending point (insertion order) of each
        # triangle holding one goes in, 1 -> 3
        npend = len(pend)
        head = np.full(ntri, npend)
        np.minimum.at(head, loc, np.arange(npend))
        t = np.flatnonzero(head < npend)
        ip = head[t]
        # a point on (or within fp doubt of) an edge waits a round when
        # the triangle across that edge takes an earlier point now: two
        # flat triangles facing each other across one edge could block
        # each other's flip
        v = tv[t]
        onedge = np.column_stack([
            ~_ccw(x, y, v[:, (j + 1) % 3], v[:, (j + 2) % 3], pend[ip])
            for j in range(3)])
        if onedge.any():
            head[head == npend] = -1
            across = head[nb[t]]
            go = ~(onedge & (nb[t] >= 0) & (across >= 0)
                   & (across < ip[:, None])).any(axis=1)
            t, ip, v = t[go], ip[go], v[go]
        q = pend[ip]
        k = len(t)
        t1 = np.arange(ntri, ntri + k)
        t2 = t1 + k
        ntri += 2 * k
        # kid j = (v[j+1], v[j+2], q) keeps old edge j
        kids = np.column_stack([t, t1, t2])
        mark[t] = np.arange(k)
        owner[t] = kids
        outer = _rewire(nb, mark, owner, np.repeat(t, 3),
                        np.tile(np.arange(3), k), kids.ravel()).reshape(k, 3)
        for j in range(3):
            j1, j2 = (j + 1) % 3, (j + 2) % 3
            tv[kids[:, j]] = np.column_stack([v[:, j1], v[:, j2], q])
            nb[kids[:, j]] = np.column_stack(
                [kids[:, j1], kids[:, j2], outer[:, j]])

        rest = np.ones(npend, dtype=bool)
        rest[ip] = False
        pend, loc = pend[rest], loc[rest]
        s = mark[loc]
        mv = np.flatnonzero(s >= 0)
        mark[t] = -1
        if len(mv):
            # closed-sector tests against the spokes q -> v0, v1, v2
            s, w = s[mv], pend[mv]
            o = [_orient(x, y, q[s], v[s, j], w)[0] for j in range(3)]
            loc[mv] = np.where(
                (o[1] >= 0) & (o[2] <= 0), t[s],
                np.where((o[2] >= 0) & (o[0] <= 0), t1[s], t2[s]))

        dirty = np.concatenate([t, t1, t2])
        while len(dirty):
            dirty, budget = _flip_batch(x, y, tv, nb, owner, mark, dirty,
                                        pend, loc, budget, cap)

    # every triangle CCW beyond doubt (the super-triangle's included)
    # means the mesh tiles the super-triangle: a valid triangulation
    if not _ccw(x, y, tv[:, 0], tv[:, 1], tv[:, 2]).all():
        raise ValueError(_degenerate(
            "Delaunay build left flat or inverted triangles"))
    return tv[(tv < m).all(axis=1)]


def _rewire(nb, mark, owner, old, slot, new):
    """Neighbour pointers across the outer edges of a batch of split or
    flipped triangles (``mark >= 0`` on them).

    Edge ``slot`` of pre-batch triangle ``old`` ends up in triangle
    ``new``. Returns the triangle now across each such edge (-1 on the
    rim) and points unchanged neighbours back at ``new``; a neighbour
    that changes in the same batch is resolved through ``owner`` (its
    slot -> the triangle that keeps that edge). Reads ``nb`` before it
    writes, so call it before the batch's own rows are rewritten.
    """
    w = nb[old, slot]
    out = np.full(len(old), -1, dtype=np.int64)
    has = np.flatnonzero(w >= 0)
    w, old, new = w[has], old[has], new[has]
    sw = _slot_of(nb, w, old)
    moved = mark[w] >= 0
    out[has] = np.where(moved, owner[w, sw], w)
    still = ~moved
    nb[w[still], sw[still]] = new[still]
    return out


def _flip_batch(x, y, tv, nb, owner, mark, dirty, pend, loc, budget,
                cap):
    """One batch of Lawson flips over the edges of ``dirty`` triangles.
    Returns the triangles the batch rewrote (the next dirty set) and
    the remaining flip budget."""
    lo = np.repeat(dirty, 3)
    hi = nb[dirty].ravel()
    ok = hi >= 0
    lo, hi = lo[ok], hi[ok]
    key = np.unique(np.minimum(lo, hi) * cap + np.maximum(lo, hi))
    lo, hi = key // cap, key % cap
    kl = _slot_of(nb, lo, hi)
    kh = _slot_of(nb, hi, lo)
    # lo = (c, a, b) and hi = (d, b, a) share edge (a, b)
    c = tv[lo, kl]
    a = tv[lo, (kl + 1) % 3]
    b = tv[lo, (kl + 2) % 3]
    d = tv[hi, kh]
    det, perm = _incircle(x, y, c, a, b, d)
    f = det > _EPS * perm
    # the super-triangle's corners count as infinitely far: a real
    # edge never flips towards one (a finite corner could sit inside a
    # hull sliver's huge circumcircle and drop a hull edge), and an
    # edge from one to a real point flips whenever the real triangle
    # it makes is valid
    sup = len(x) - 3
    sa, sb, scd = a >= sup, b >= sup, (c >= sup) | (d >= sup)
    f = np.where(scd, f & (sa | sb), np.where(sa ^ sb, True, f))
    # a split on (or within fp noise of) an edge leaves a flat
    # triangle; it flips whenever the flip is valid, whatever the
    # in-circle test says (the guard below keeps flips from making one)
    f |= ~_ccw(x, y, c, a, b) | ~_ccw(x, y, d, b, a)
    if f.any():
        # the flip must leave two CCW triangles (c, a, d) and (d, b, c)
        i = np.flatnonzero(f)
        f[i] = _ccw(x, y, c[i], a[i], d[i]) & _ccw(x, y, d[i], b[i], c[i])
    i = np.flatnonzero(f)
    if not len(i):
        return i, budget
    lo, hi, kl, kh, a, b, c, d = (
        arr[i] for arr in (lo, hi, kl, kh, a, b, c, d))
    # independent set: keep a flip when it has the smallest priority
    # of both its triangles' candidates; the priority scrambles the
    # edge key (an odd multiplier is a bijection mod 2**64), so a run
    # of adjacent candidates does not resolve one flip per batch
    touched = np.concatenate([lo, hi])
    pri = key[i].astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    first = np.full(cap, np.iinfo(np.uint64).max, dtype=np.uint64)
    np.minimum.at(first, lo, pri)
    np.minimum.at(first, hi, pri)
    i = np.flatnonzero((first[lo] == pri) & (first[hi] == pri))
    lo, hi, kl, kh, a, b, c, d = (
        arr[i] for arr in (lo, hi, kl, kh, a, b, c, d))
    nf = len(lo)
    budget -= nf
    if budget < 0:
        raise ValueError(_degenerate(
            "Delaunay flip loop exceeded its budget of "
            f"{_FLIPS_PER_POINT} flips per point"))
    # after the flip lo = (c, a, d) and hi = (d, b, c); the outer edges
    # b-c, c-a (of lo) and a-d, d-b (of hi) move as follows
    la, lb = (kl + 1) % 3, (kl + 2) % 3
    ha, hb = (kh + 1) % 3, (kh + 2) % 3
    batch = np.arange(nf)
    mark[lo] = batch
    mark[hi] = batch
    owner[lo, la] = hi
    owner[lo, lb] = lo
    owner[hi, ha] = lo
    owner[hi, hb] = hi
    old = np.concatenate([lo, lo, hi, hi])
    slot = np.concatenate([la, lb, ha, hb])
    out = _rewire(nb, mark, owner, old, slot, owner[old, slot])
    bc, ca, ad, db = out.reshape(4, nf)
    tv[lo] = np.column_stack([c, a, d])
    tv[hi] = np.column_stack([d, b, c])
    nb[lo] = np.column_stack([ad, hi, ca])
    nb[hi] = np.column_stack([bc, lo, db])
    # pending points in a flipped pair: (c, a, d) lies right of c -> d
    s = mark[loc]
    mv = np.flatnonzero(s >= 0)
    mark[lo] = -1
    mark[hi] = -1
    if len(mv):
        s = s[mv]
        o = _orient(x, y, c[s], d[s], pend[mv])[0]
        loc[mv] = np.where(o < 0, lo[s], hi[s])
    # every candidate's pair is checked again: a candidate that lost
    # the independent-set draw may still need its flip
    return np.unique(touched), budget


def _degenerate(what: str) -> str:
    return (
        f"{what}: the point set is adversarially near-degenerate for "
        "the floating-point predicates (e.g. all points within fp "
        "jitter of one line). Jitter or rescale the coordinates, or "
        "use method='nearest'."
    )


def _check_build(tris: np.ndarray, n: int) -> np.ndarray:
    """Euler-bound sanity check: a planar triangulation of n points
    has at most 2n - 5 triangles (2n - 2 - h for hull size h >= 3).
    Adversarial NEAR-collinear inputs (e.g. a rank-1 lattice whose
    second coordinate is 1 - first, distinct only through fp jitter)
    can defeat the floating-point in-circle predicate and make the
    incremental build emit overlapping garbage (measured: 32k
    'triangles' from 3k such points) — fail fast with guidance
    instead of returning silently wrong interpolants or grinding an
    executor."""
    if len(tris) > 2 * n:
        raise ValueError(
            f"incremental Delaunay build produced {len(tris)} "
            f"triangles for {n} points (planar maximum 2n-5): the "
            "point set is adversarially near-degenerate for the "
            "floating-point in-circle predicate (e.g. all points "
            "within fp jitter of one line). Jitter or rescale the "
            "coordinates, or use method='nearest'."
        )
    return tris


def estimate_gradients(points, values, tris, maxiter=400, tol=1e-6):
    """Estimate per-vertex gradients for C1 interpolation.

    Minimizes the sum over triangulation edges of the bending energy of
    the 1D Hermite cubic along each edge (the classical minimum-norm-
    network / global gradient estimation used for Clough-Tocher
    interpolants; scipy.interpolate.griddata(method='cubic') does the
    equivalent). Solved by Gauss-Seidel: each vertex's 2x2 normal
    system against its neighbors' current gradients.

    For the Hermite cubic h on [0,1] with h(0)=f1, h(1)=f2, h'(0)=d1,
    h'(1)=d2 and edge length L, the energy int h''(x)^2 dx works out to
    [12(f1-f2)^2 + 12(f1-f2)(d1+d2) + 4(d1^2+d1*d2+d2^2)] / L^3 with
    d = grad . e; stationarity in g_p gives
        [sum 2 e e^T / L^3] g_p = -sum (3(f1-f2) + g_n . e) e / L^3.
    """
    pts = np.asarray(points, dtype=np.float64)
    vals = np.asarray(values, dtype=np.float64)
    n = len(pts)
    grads = np.zeros((n, 2), dtype=np.float64)
    # undirected edge set -> directed (src, dst) arrays, fully numpy
    if len(tris) == 0:
        return grads
    und = np.concatenate(
        [tris[:, [0, 1]], tris[:, [1, 2]], tris[:, [2, 0]]], axis=0
    )
    und = np.unique(np.sort(und, axis=1), axis=0)
    src = np.concatenate([und[:, 0], und[:, 1]])
    dst = np.concatenate([und[:, 1], und[:, 0]])
    e = pts[dst] - pts[src]                           # (E, 2)
    L3 = np.maximum(np.hypot(e[:, 0], e[:, 1]), 1e-300) ** 3
    w = 1.0 / L3
    # per-vertex 2x2 normal matrices Q = sum 2 e e^T / L^3 (fixed)
    qxx = np.zeros(n)
    qxy = np.zeros(n)
    qyy = np.zeros(n)
    np.add.at(qxx, src, 2.0 * w * e[:, 0] * e[:, 0])
    np.add.at(qxy, src, 2.0 * w * e[:, 0] * e[:, 1])
    np.add.at(qyy, src, 2.0 * w * e[:, 1] * e[:, 1])
    det = qxx * qyy - qxy * qxy
    det[det == 0] = 1.0
    df = 3.0 * (vals[src] - vals[dst])
    # Jacobi iteration (vectorized): every vertex solves its 2x2 system
    # against the neighbors' previous gradients simultaneously — same
    # fixed point as Gauss-Seidel, each sweep O(E) numpy
    for _ in range(maxiter):
        d2 = grads[dst, 0] * e[:, 0] + grads[dst, 1] * e[:, 1]
        coef = (df + d2) * w
        # bincount is the fast scatter-add (np.add.at is ~10x slower)
        rx = -np.bincount(src, weights=coef * e[:, 0], minlength=n)
        ry = -np.bincount(src, weights=coef * e[:, 1], minlength=n)
        gx = (qyy * rx - qxy * ry) / det
        gy = (qxx * ry - qxy * rx) / det
        new = np.column_stack([gx, gy])
        change = np.abs(new - grads).max()
        grads = new
        if change < tol * (1.0 + np.abs(grads).max()):
            break
    return grads


def _ct_patch_nets(V, f, g):
    """Clough-Tocher control nets, vectorized over many triangles.

    V: (T,3,2) vertices, f: (T,3) values, g: (T,3,2) gradients.
    Returns (centroids (T,2), coeffs (T,3,10)): per mini-patch k (on
    outer edge (Vk, Vk+1), internal vertex = centroid) the cubic Bezier
    coefficients ordered
      [b300, b030, b003, b210, b120, b201, b021, b111, b102, b012].

    Construction (reduced Hsieh-Clough-Tocher, public literature —
    Farin, 'Triangles and triangulations'): outer-edge points from
    vertex gradients; each patch interior b111 from the linear-normal-
    derivative condition along its outer edge; internal-edge points
    next to the centroid and the centroid value from C1 continuity
    across the internal edges:
      u_i = (w_left + w_right + t_i) / 3,   c = (u0 + u1 + u2) / 3,
    where t_i = f_i + g_i . (V4 - V_i) / 3.
    """
    V4 = V.mean(axis=1)                                   # (T, 2)
    t = f + (g * ((V4[:, None, :] - V) / 3.0)).sum(axis=2)  # (T, 3)
    T = len(V)
    coeffs = np.empty((T, 3, 10), dtype=np.float64)
    w = np.empty((T, 3), dtype=np.float64)
    for k in range(3):
        a, b = k, (k + 1) % 3
        A, B = V[:, a], V[:, b]
        e = B - A
        b300 = f[:, a]
        b030 = f[:, b]
        b210 = f[:, a] + (g[:, a] * e).sum(axis=1) / 3.0
        b120 = f[:, b] - (g[:, b] * e).sum(axis=1) / 3.0
        b201 = t[:, a]
        b021 = t[:, b]
        # normal-derivative-linear condition -> b111; the 2x2 system
        # M = [[e, V4-A]] columns inverted in closed form
        m00, m01 = e[:, 0], V4[:, 0] - A[:, 0]
        m10, m11 = e[:, 1], V4[:, 1] - A[:, 1]
        detM = m00 * m11 - m01 * m10
        nx, ny = -e[:, 1], e[:, 0]
        dB = (m11 * nx - m01 * ny) / detM
        d4 = (-m10 * nx + m00 * ny) / detM
        dA = -dB - d4
        q0 = dA * b120 + dB * b030 + d4 * b021
        q2 = dA * b300 + dB * b210 + d4 * b201
        w[:, k] = ((q0 + q2) / 2.0 - dA * b210 - dB * b120) / d4
        coeffs[:, k, 0] = b300
        coeffs[:, k, 1] = b030
        coeffs[:, k, 3] = b210
        coeffs[:, k, 4] = b120
        coeffs[:, k, 5] = b201
        coeffs[:, k, 6] = b021
        coeffs[:, k, 7] = w[:, k]
    # internal-edge points next to centroid (C1 across internal edges)
    u = np.stack(
        [
            (w[:, 0] + w[:, 2] + t[:, 0]) / 3.0,
            (w[:, 0] + w[:, 1] + t[:, 1]) / 3.0,
            (w[:, 1] + w[:, 2] + t[:, 2]) / 3.0,
        ],
        axis=1,
    )
    c = u.mean(axis=1)
    for k in range(3):
        coeffs[:, k, 2] = c
        coeffs[:, k, 8] = u[:, k]             # A-side internal edge point
        coeffs[:, k, 9] = u[:, (k + 1) % 3]   # B-side
    return V4, coeffs


def _ct_eval(coeffs, a, b, m):
    """Evaluate a cubic Bezier triangle with _ct_patch_coeffs ordering
    at barycentric (a, b, m) arrays."""
    (b300, b030, b003, b210, b120, b201, b021, b111, b102, b012) = coeffs
    return (
        a**3 * b300 + b**3 * b030 + m**3 * b003
        + 3 * a * a * b * b210 + 3 * a * b * b * b120
        + 3 * a * a * m * b201 + 3 * b * b * m * b021
        + 3 * a * m * m * b102 + 3 * b * m * m * b012
        + 6 * a * b * m * b111
    )


class Triangulation:
    """Fitted Delaunay interpolator: build once, evaluate many times.

    The tile loop in the distributed interp stage calls ``evaluate``
    once per tile; the Delaunay build, gradient estimation and
    Clough-Tocher patch coefficients are computed once per (band,
    group) instead of once per tile (the former per-tile rebuild cost
    ~1 s/tile at 1k points). Point location is a uniform bbox-bin index
    over the triangles, so each query touches only nearby candidates
    instead of every triangle.

    Semantics match the loop-over-triangles form exactly: the in-circle
    tolerance is unchanged and a query inside several triangles (shared
    edges) resolves to the HIGHEST triangle index — the 'last triangle
    wins' behavior of the former sequential overwrite loop.
    """

    def __init__(self, points, values, tris=None):
        self.pts = np.asarray(points, dtype=np.float64)
        self.vals = np.asarray(values, dtype=np.float64)
        # tris: precomputed simplices (the broadcast-eval path ships
        # the fitted triangulation to workers; rebuilding the bin
        # index here is vectorized O(n), only delaunay() is skipped)
        self.tris = delaunay(self.pts) if tris is None else np.asarray(
            tris, dtype=np.int64
        )
        self._grads = None
        t = self.tris
        if len(t) == 0:
            self._ok = False
            return
        a = self.pts[t[:, 0]]
        b = self.pts[t[:, 1]]
        c = self.pts[t[:, 2]]
        det = (b[:, 1] - c[:, 1]) * (a[:, 0] - c[:, 0]) + (
            c[:, 0] - b[:, 0]
        ) * (a[:, 1] - c[:, 1])
        self._det = np.where(det == 0, np.nan, det)
        self._a, self._b, self._c = a, b, c
        xs = np.stack([a[:, 0], b[:, 0], c[:, 0]])
        ys = np.stack([a[:, 1], b[:, 1], c[:, 1]])
        self._minx = xs.min(axis=0)
        self._maxx = xs.max(axis=0)
        self._miny = ys.min(axis=0)
        self._maxy = ys.max(axis=0)
        # uniform bins over the hull bbox; triangles registered in every
        # bin their bbox overlaps (CSR layout)
        self._gx0 = float(self._minx.min())
        self._gy0 = float(self._miny.min())
        spanx = float(self._maxx.max()) - self._gx0
        spany = float(self._maxy.max()) - self._gy0
        nb = max(1, int(np.sqrt(len(t))))
        self._nbx = self._nby = nb
        self._pad = 1e-9 * max(spanx, spany, 1e-300)
        # zero-extent dimension: everything lands in bin 0 (consistent
        # for triangles and queries; avoids inf scales)
        self._sx = nb / spanx if spanx > 0 else 0.0
        self._sy = nb / spany if spany > 0 else 0.0
        bx0 = np.clip(((self._minx - self._gx0) * self._sx).astype(np.int64), 0, nb - 1)
        bx1 = np.clip(((self._maxx - self._gx0) * self._sx).astype(np.int64), 0, nb - 1)
        by0 = np.clip(((self._miny - self._gy0) * self._sy).astype(np.int64), 0, nb - 1)
        by1 = np.clip(((self._maxy - self._gy0) * self._sy).astype(np.int64), 0, nb - 1)
        counts = (bx1 - bx0 + 1) * (by1 - by0 + 1)
        rep = np.repeat(np.arange(len(t)), counts)
        j = _dl_multi_arange(counts)
        nx = (bx1 - bx0 + 1)[rep]
        bins = (by0[rep] + j // nx) * nb + (bx0[rep] + j % nx)
        order = np.argsort(bins, kind="stable")
        self._bin_tri = rep[order]
        self._bin_start = np.searchsorted(bins[order], np.arange(nb * nb + 1))
        self._ok = True

    def locate(self, qx, qy):
        """Containing triangle index per query (-1 = outside hull).

        Ties (queries on shared edges) resolve to the highest triangle
        index, matching the former last-wins overwrite loop.
        """
        q = len(qx)
        found = np.full(q, -1, dtype=np.int64)
        if not self._ok or q == 0:
            return found
        nb = self._nbx
        bx = np.clip(((qx - self._gx0) * self._sx).astype(np.int64), 0, nb - 1)
        by = np.clip(((qy - self._gy0) * self._sy).astype(np.int64), 0, nb - 1)
        qbin = by * nb + bx
        s = self._bin_start
        cnt = s[qbin + 1] - s[qbin]
        # zero-count queries (empty bins) must be dropped BEFORE the
        # offset expansion: _dl_multi_arange assumes positive counts
        nz = np.flatnonzero(cnt > 0)
        if not len(nz):
            return found
        rep = np.repeat(nz, cnt[nz])
        j = _dl_multi_arange(cnt[nz])
        cand = self._bin_tri[s[qbin[rep]] + j]
        px = qx[rep]
        py = qy[rep]
        # cheap bbox reject before barycentric math; padded so the
        # barycentric eps (-1e-12, relative to triangle scale) can never
        # admit a point the bbox test rejected
        pad = self._pad
        m = (
            (px >= self._minx[cand] - pad) & (px <= self._maxx[cand] + pad)
            & (py >= self._miny[cand] - pad) & (py <= self._maxy[cand] + pad)
        )
        rep, cand, px, py = rep[m], cand[m], px[m], py[m]
        if not len(rep):
            return found
        a, b, c = self._a[cand], self._b[cand], self._c[cand]
        det = self._det[cand]
        l1 = ((b[:, 1] - c[:, 1]) * (px - c[:, 0]) + (c[:, 0] - b[:, 0]) * (py - c[:, 1])) / det
        l2 = ((c[:, 1] - a[:, 1]) * (px - c[:, 0]) + (a[:, 0] - c[:, 0]) * (py - c[:, 1])) / det
        l3 = 1.0 - l1 - l2
        eps = -1e-12
        inside = (l1 >= eps) & (l2 >= eps) & (l3 >= eps)
        np.maximum.at(found, rep[inside], cand[inside])
        return found

    def linear(self, qx, qy, fill=np.nan):
        out = np.full(qx.shape, fill, dtype=np.float64)
        loc = self.locate(qx, qy)
        m = loc >= 0
        if not m.any():
            return out
        t = self.tris[loc[m]]
        a, b, c = self._a[loc[m]], self._b[loc[m]], self._c[loc[m]]
        det = self._det[loc[m]]
        px, py = qx[m], qy[m]
        l1 = ((b[:, 1] - c[:, 1]) * (px - c[:, 0]) + (c[:, 0] - b[:, 0]) * (py - c[:, 1])) / det
        l2 = ((c[:, 1] - a[:, 1]) * (px - c[:, 0]) + (a[:, 0] - c[:, 0]) * (py - c[:, 1])) / det
        l3 = 1.0 - l1 - l2
        out[m] = (
            l1 * self.vals[t[:, 0]] + l2 * self.vals[t[:, 1]] + l3 * self.vals[t[:, 2]]
        )
        return out

    def gradients(self):
        if self._grads is None:
            self._grads = estimate_gradients(self.pts, self.vals, self.tris)
        return self._grads

    def cubic(self, qx, qy, fill=np.nan, gradients=None):
        out = np.full(qx.shape, fill, dtype=np.float64)
        loc = self.locate(qx, qy)
        mask = loc >= 0
        if not mask.any():
            return out
        grads = (
            np.asarray(gradients, dtype=np.float64)
            if gradients is not None
            else self.gradients()
        )
        ti = loc[mask]
        ut, inv = np.unique(ti, return_inverse=True)
        tri = self.tris[ut]
        V = self.pts[tri]                       # (T', 3, 2)
        V4, coeffs = _ct_patch_nets(V, self.vals[tri], grads[tri])
        Vq, V4q = V[inv], V4[inv]
        A, B, C = Vq[:, 0], Vq[:, 1], Vq[:, 2]
        det = (B[:, 1] - C[:, 1]) * (A[:, 0] - C[:, 0]) + (
            C[:, 0] - B[:, 0]
        ) * (A[:, 1] - C[:, 1])
        px, py = qx[mask], qy[mask]
        l0 = ((B[:, 1] - C[:, 1]) * (px - C[:, 0])
              + (C[:, 0] - B[:, 0]) * (py - C[:, 1])) / det
        l1 = ((C[:, 1] - A[:, 1]) * (px - C[:, 0])
              + (A[:, 0] - C[:, 0]) * (py - C[:, 1])) / det
        lam = np.stack([l0, l1, 1.0 - l0 - l1])
        # mini-patch k covers the region nearest outer edge (k, k+1),
        # i.e. where the opposite coordinate lam[(k+2)%3] is minimal
        patch = (np.argmin(lam, axis=0) + 1) % 3
        qi = np.arange(len(px))
        Pa = Vq[qi, patch]
        Pb = Vq[qi, (patch + 1) % 3]
        m00 = Pb[:, 0] - Pa[:, 0]
        m01 = V4q[:, 0] - Pa[:, 0]
        m10 = Pb[:, 1] - Pa[:, 1]
        m11 = V4q[:, 1] - Pa[:, 1]
        detM = m00 * m11 - m01 * m10
        dx = px - Pa[:, 0]
        dy = py - Pa[:, 1]
        bb = (m11 * dx - m01 * dy) / detM
        mm = (-m10 * dx + m00 * dy) / detM
        cf = coeffs[inv, patch]                 # (Q, 10)
        out[np.flatnonzero(mask)] = _ct_eval(cf.T, 1.0 - bb - mm, bb, mm)
        return out


def _dl_multi_arange(counts):
    """Concatenated arange(0, c) per count (local copy to avoid a
    circular import with kernels.rasterize)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = counts.cumsum()
    out = np.ones(total, dtype=np.int64)
    out[0] = 0
    out[ends[:-1]] = 1 - counts[:-1]
    return out.cumsum()


def cubic_interpolate(points, values, qx, qy, fill=np.nan, gradients=None):
    """griddata(method='cubic') equivalent: C1 Clough-Tocher on
    Delaunay with globally estimated gradients.

    points (N,2), values (N,), qx/qy flat query arrays. Points outside
    the convex hull get ``fill``. Pass ``gradients`` (N,2) to skip
    estimation (tests: exact gradients reproduce quadratics exactly).
    """
    return Triangulation(points, values).cubic(
        np.asarray(qx, dtype=np.float64), np.asarray(qy, dtype=np.float64),
        fill=fill, gradients=gradients,
    )


def linear_interpolate(points, values, qx, qy, fill=np.nan):
    """griddata(method='linear') equivalent: barycentric on Delaunay.

    points (N,2), values (N,), qx/qy flat query arrays. Points outside
    the convex hull get ``fill``.
    """
    return Triangulation(points, values).linear(
        np.asarray(qx, dtype=np.float64), np.asarray(qy, dtype=np.float64),
        fill=fill,
    )
