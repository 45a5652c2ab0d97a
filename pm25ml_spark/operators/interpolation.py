"""Daily spatial interpolation (SURVEY K1) as a grouped pandas UDF.

Reference semantics (`imputation/spatial/daily_spatial_interpolator.py:31-114`):
per (date, column), fill NaN cells of a projected-metre lattice from the
valid cells — first by 2-D linear interpolation over the Delaunay
triangulation of the valid points (scipy ``griddata(method="linear")``),
then nearest-neighbour for cells outside the valid convex hull; valid
values are preserved exactly. Note the reference's nearest stage draws
from all non-NaN points *after* the linear stage (its code, not its
comment), which this kernel matches.

Both stages are numpy-only:

* linear — an incremental Bowyer-Watson Delaunay triangulation followed
  by barycentric interpolation inside each containing triangle. On any
  locally-linear field this is bit-equal to ``griddata(linear)``; on
  non-linear fields the only freedom is the diagonal choice inside
  exactly-cocircular lattice squares, which is arbitrary in qhull too.
  Here it is pinned by the coordinates: the valid points are inserted
  in a fixed order derived from their (y, x) sort, so the output does
  not depend on the input's row order.
* nearest — a uniform-bucket expanding-ring search, O(n) build and ~O(1)
  per query, with a deterministic (distance, y, x) tie-break.

Spark shape: ``df.groupBy("date").applyInPandas(...)`` — one task per
date, the natural parallel unit (the reference loops dates in a
ThreadPool; here the cluster does). Grid coordinates arrive pre-joined
(broadcast J4 pattern), so the UDF sees (grid_id, x, y, value…) only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# relative tolerance for the in-circumcircle test: cocircular points
# (every square of a regular lattice) must test as inside so cavity
# boundaries stay consistent
_COCIRCULAR_RTOL = 1e-9
# relative area below which a candidate triangle is a degenerate sliver
_SLIVER_RTOL = 1e-12
# barycentric slack for on-edge / on-vertex containment
_BARY_EPS = 1e-9


def _circumcircles(pts: np.ndarray, tris: np.ndarray):
    """Vectorized circumcenter + squared radius for triangle rows.

    Degenerate (collinear) triangles get radius -inf so they never admit
    any point and are effectively dead.
    """
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    d = 2.0 * (
        a[:, 0] * (b[:, 1] - c[:, 1])
        + b[:, 0] * (c[:, 1] - a[:, 1])
        + c[:, 0] * (a[:, 1] - b[:, 1])
    )
    a2 = (a * a).sum(1)
    b2 = (b * b).sum(1)
    c2 = (c * c).sum(1)
    with np.errstate(divide="ignore", invalid="ignore"):
        ux = (
            a2 * (b[:, 1] - c[:, 1])
            + b2 * (c[:, 1] - a[:, 1])
            + c2 * (a[:, 1] - b[:, 1])
        ) / d
        uy = (
            a2 * (c[:, 0] - b[:, 0])
            + b2 * (a[:, 0] - c[:, 0])
            + c2 * (b[:, 0] - a[:, 0])
        ) / d
    cc = np.stack([ux, uy], axis=1)
    r2 = ((pts[tris[:, 0]] - cc) ** 2).sum(1)
    degenerate = np.abs(d) <= _SLIVER_RTOL * np.maximum(a2 + b2 + c2, 1.0)
    r2 = np.where(degenerate, -np.inf, r2)
    cc = np.where(degenerate[:, None], 0.0, cc)
    return cc, r2


def _delaunay(points: np.ndarray) -> np.ndarray:
    """Incremental Bowyer-Watson Delaunay; returns (T, 3) vertex rows.

    O(n log n) expected: points are inserted in a deterministic shuffled
    order (sorted orders are the lattice worst case — they breed sliver
    triangles with huge circumcircles and O(n) cavities), each located by
    a visibility walk, and the cavity is grown by BFS over edge adjacency —
    so per-insertion cost is O(walk + cavity), not O(all triangles).

    ``points`` should be pre-normalized to O(1) coordinates for float
    stability (``interpolate_frame`` does this). Deterministic: fixed
    insertion order, cocircular ties resolved by the insertion sequence.
    """
    n = len(points)
    if n < 3:
        return np.empty((0, 3), dtype=np.int64)

    lo, hi = points.min(0), points.max(0)
    span = float(max(hi[0] - lo[0], hi[1] - lo[1], 1e-9))
    mid = (lo + hi) / 2.0
    big = 64.0 * span
    px = points[:, 0].tolist() + [mid[0] - big, mid[0] + big, float(mid[0])]
    py = points[:, 1].tolist() + [
        mid[1] - span - big,
        mid[1] - span - big,
        mid[1] + big,
    ]

    def cc3(a: int, b: int, c: int):
        """Circumcenter + r² of triangle (a, b, c); None when collinear."""
        ax, ay, bx, by, cx, cy = px[a], py[a], px[b], py[b], px[c], py[c]
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        m2 = ax * ax + ay * ay + bx * bx + by * by + cx * cx + cy * cy
        if abs(d) <= _SLIVER_RTOL * max(m2, 1.0):
            return None
        a2, b2, c2 = ax * ax + ay * ay, bx * bx + by * by, cx * cx + cy * cy
        ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
        uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
        return ux, uy, (ax - ux) ** 2 + (ay - uy) ** 2

    # triangle store: vertex triple, cached circumcircle, liveness
    tv: list[tuple[int, int, int]] = []
    tcc: list[tuple[float, float, float]] = []
    talive: list[bool] = []
    # edge (min,max) -> list of adjacent alive triangle ids (≤ 2)
    emap: dict[tuple[int, int], list[int]] = {}

    def add_tri(a: int, b: int, c: int) -> int:
        # keep CCW orientation so the walk's outside tests are uniform
        if (px[b] - px[a]) * (py[c] - py[a]) - (px[c] - px[a]) * (
            py[b] - py[a]
        ) < 0.0:
            b, c = c, b
        circ = cc3(a, b, c)
        if circ is None:  # exact sliver: never materialize it
            return -1
        t = len(tv)
        tv.append((a, b, c))
        tcc.append(circ)
        talive.append(True)
        for u, w in ((a, b), (b, c), (c, a)):
            emap.setdefault((u, w) if u < w else (w, u), []).append(t)
        return t

    def kill_tri(t: int) -> None:
        talive[t] = False
        a, b, c = tv[t]
        for u, w in ((a, b), (b, c), (c, a)):
            key = (u, w) if u < w else (w, u)
            lst = emap.get(key)
            if lst is not None:
                try:
                    lst.remove(t)
                except ValueError:
                    pass
                if not lst:
                    del emap[key]

    def in_circle(t: int, qx: float, qy: float) -> bool:
        ux, uy, rr = tcc[t]
        return (qx - ux) ** 2 + (qy - uy) ** 2 <= rr * (
            1.0 + _COCIRCULAR_RTOL
        )

    def neighbor(t: int, u: int, w: int) -> int:
        lst = emap.get((u, w) if u < w else (w, u), ())
        for o in lst:
            if o != t and talive[o]:
                return o
        return -1

    s0, s1, s2 = n, n + 1, n + 2
    add_tri(s0, s1, s2)
    last = 0
    # random insertion order kills walk locality, so keep a coarse grid of
    # recently-created triangles to seed walks near the query point
    inv_cell = max(np.sqrt(n), 1.0)  # ~1 point per cell on O(1) coords
    seed_grid: dict[tuple[int, int], int] = {}

    def locate(qx: float, qy: float) -> int:
        """Visibility walk to a triangle containing q, seeded from the
        nearest cached cell; falls back to a global scan if the walk
        degenerates (rare float ties)."""
        key = (int(qx * inv_cell), int(qy * inv_cell))
        t = -1
        for r in range(3):  # probe the 5×5 cell neighbourhood for a seed
            for dx in range(-r, r + 1):
                for dy in range(-r, r + 1):
                    if max(abs(dx), abs(dy)) != r:
                        continue
                    s = seed_grid.get((key[0] + dx, key[1] + dy), -1)
                    if s >= 0 and talive[s]:
                        t = s
                        break
                if t >= 0:
                    break
            if t >= 0:
                break
        if t < 0:
            t = last if talive[last] else next(
                (k for k in range(len(tv) - 1, -1, -1) if talive[k]), -1
            )
        steps = 0
        limit = 4 * len(tv) + 16
        while t >= 0 and steps < limit:
            a, b, c = tv[t]
            moved = False
            for u, w in ((a, b), (b, c), (c, a)):
                # CCW triangle: q strictly right of edge (u,w) → outside
                if (px[w] - px[u]) * (qy - py[u]) - (qx - px[u]) * (
                    py[w] - py[u]
                ) < -1e-15:
                    nt = neighbor(t, u, w)
                    if nt >= 0:
                        t = nt
                        moved = True
                        break
            if not moved:
                return t
            steps += 1
        # degenerate walk: global scan for any circumcircle containing q
        for k in range(len(tv) - 1, -1, -1):
            if talive[k] and in_circle(k, qx, qy):
                return k
        return -1

    order = np.random.RandomState(0x5EED).permutation(n)
    for i in order.tolist():
        qx, qy = px[i], py[i]
        seed = locate(qx, qy)
        if seed < 0:  # cannot happen inside the super-triangle; be safe
            continue
        # BFS the cavity: all connected triangles whose circumcircle holds q
        bad = {seed}
        queue = [seed]
        while queue:
            t = queue.pop()
            a, b, c = tv[t]
            for u, w in ((a, b), (b, c), (c, a)):
                o = neighbor(t, u, w)
                if o >= 0 and o not in bad and in_circle(o, qx, qy):
                    bad.add(o)
                    queue.append(o)
        # boundary edges = edges of bad triangles with no bad twin
        boundary: list[tuple[int, int]] = []
        for t in bad:
            a, b, c = tv[t]
            for u, w in ((a, b), (b, c), (c, a)):
                o = neighbor(t, u, w)
                if o < 0 or o not in bad:
                    boundary.append((u, w))
        for t in bad:
            kill_tri(t)
        created = -1
        for u, w in boundary:
            t = add_tri(u, w, i)
            if t >= 0:
                created = t
        if created >= 0:
            last = created
            seed_grid[(int(qx * inv_cell), int(qy * inv_cell))] = created

    out = [
        tv[t]
        for t in range(len(tv))
        if talive[t] and tv[t][0] < n and tv[t][1] < n and tv[t][2] < n
    ]
    return (
        np.asarray(out, dtype=np.int64)
        if out
        else np.empty((0, 3), dtype=np.int64)
    )


class _Buckets:
    """Uniform-grid spatial index over 2-D points (numpy only)."""

    def __init__(self, xy: np.ndarray, cell: float):
        self.cell = cell
        self.x0 = float(xy[:, 0].min())
        self.y0 = float(xy[:, 1].min())
        ix = ((xy[:, 0] - self.x0) / cell).astype(np.int64)
        iy = ((xy[:, 1] - self.y0) / cell).astype(np.int64)
        self.nx = int(ix.max()) + 1
        self.ny = int(iy.max()) + 1
        key = iy * self.nx + ix
        order = np.argsort(key, kind="stable")
        self.sorted_idx = order
        self.sorted_key = key[order]
        self.starts = np.searchsorted(
            self.sorted_key, np.arange(self.nx * self.ny)
        )
        self.ends = np.searchsorted(
            self.sorted_key, np.arange(self.nx * self.ny), side="right"
        )

    def cell_of(self, x: float, y: float) -> tuple[int, int]:
        return (
            int(np.clip((x - self.x0) / self.cell, 0, self.nx - 1)),
            int(np.clip((y - self.y0) / self.cell, 0, self.ny - 1)),
        )

    def in_cell(self, cx: int, cy: int) -> np.ndarray:
        if not (0 <= cx < self.nx and 0 <= cy < self.ny):
            return np.empty(0, dtype=np.int64)
        k = cy * self.nx + cx
        return self.sorted_idx[self.starts[k] : self.ends[k]]

    def ring(self, cx: int, cy: int, r: int) -> np.ndarray:
        """Indices in cells at Chebyshev distance exactly r."""
        if r == 0:
            return self.in_cell(cx, cy)
        chunks = []
        for dx in range(-r, r + 1):
            chunks.append(self.in_cell(cx + dx, cy - r))
            chunks.append(self.in_cell(cx + dx, cy + r))
        for dy in range(-r + 1, r):
            chunks.append(self.in_cell(cx - r, cy + dy))
            chunks.append(self.in_cell(cx + r, cy + dy))
        return np.concatenate(chunks) if chunks else np.empty(0, np.int64)


def _delaunay_linear_numpy(
    x: np.ndarray, y: np.ndarray, v: np.ndarray
) -> np.ndarray:
    """griddata(method='linear') semantics: barycentric interpolation over
    the Delaunay triangulation of the valid points; NaN outside the hull.

    Cost model: O(n log n) Bowyer-Watson insertions with an
    interpreted-Python constant — ~2.8 s/date at the reference's 33k
    cells. The valid points are triangulated in (y, x) order, so the
    result is a function of the coordinates alone, never of input row
    order (the diagonal of an exactly-cocircular lattice square follows
    the insertion sequence)."""
    out = v.copy()
    valid = ~np.isnan(v)
    missing = np.flatnonzero(~valid)
    if valid.sum() < 3 or missing.size == 0:
        return out

    # normalize coordinates to O(1) for float stability
    allx, ally = x, y
    sx = max(float(allx.max() - allx.min()), 1e-9)
    sy = max(float(ally.max() - ally.min()), 1e-9)
    s = max(sx, sy)
    nx = (allx - allx.min()) / s
    ny = (ally - ally.min()) / s

    vidx = np.flatnonzero(valid)
    vidx = vidx[np.lexsort((x[vidx], y[vidx]))]
    pts = np.stack([nx[vidx], ny[vidx]], axis=1)
    tris = _delaunay(pts)
    if len(tris) == 0:  # all collinear
        return out

    # bucket triangles by bbox for near-O(1) point location
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    cell = max(1.0 / max(np.sqrt(len(tris)), 1.0), 1e-6)
    grid: dict[tuple[int, int], list[int]] = {}
    x0g, y0g = float(pts[:, 0].min()), float(pts[:, 1].min())
    tl_x = np.minimum(np.minimum(a[:, 0], b[:, 0]), c[:, 0])
    tl_y = np.minimum(np.minimum(a[:, 1], b[:, 1]), c[:, 1])
    th_x = np.maximum(np.maximum(a[:, 0], b[:, 0]), c[:, 0])
    th_y = np.maximum(np.maximum(a[:, 1], b[:, 1]), c[:, 1])
    lo_cx = ((tl_x - x0g) / cell).astype(np.int64)
    lo_cy = ((tl_y - y0g) / cell).astype(np.int64)
    hi_cx = ((th_x - x0g) / cell).astype(np.int64)
    hi_cy = ((th_y - y0g) / cell).astype(np.int64)
    for t in range(len(tris)):
        for cyc in range(lo_cy[t], hi_cy[t] + 1):
            for cxc in range(lo_cx[t], hi_cx[t] + 1):
                grid.setdefault((cxc, cyc), []).append(t)

    vv = v[vidx]
    # signed-area denominators per triangle
    det = (b[:, 1] - c[:, 1]) * (a[:, 0] - c[:, 0]) + (
        c[:, 0] - b[:, 0]
    ) * (a[:, 1] - c[:, 1])
    for i in missing:
        px, py = nx[i], ny[i]
        cand = grid.get(
            (int((px - x0g) / cell), int((py - y0g) / cell)), None
        )
        if not cand:
            continue
        t = np.asarray(cand)
        w0 = (
            (b[t, 1] - c[t, 1]) * (px - c[t, 0])
            + (c[t, 0] - b[t, 0]) * (py - c[t, 1])
        ) / det[t]
        w1 = (
            (c[t, 1] - a[t, 1]) * (px - c[t, 0])
            + (a[t, 0] - c[t, 0]) * (py - c[t, 1])
        ) / det[t]
        w2 = 1.0 - w0 - w1
        inside = (w0 >= -_BARY_EPS) & (w1 >= -_BARY_EPS) & (w2 >= -_BARY_EPS)
        hit = np.flatnonzero(inside)
        if hit.size == 0:
            continue
        j = t[hit[0]]
        k = hit[0]
        # det==0 slivers were excluded by _delaunay, so the division above
        # is safe; any containing triangle gives the same value on shared
        # edges (the interpolant is continuous)
        out[i] = (
            w0[k] * vv[tris[j, 0]]
            + w1[k] * vv[tris[j, 1]]
            + w2[k] * vv[tris[j, 2]]
        )
    return out


def _nearest_fill(x: np.ndarray, y: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Fill remaining NaNs from the Euclidean-nearest valid cell via a
    bucketed expanding-ring search (~O(1) per query instead of the old
    O(valid) scan); deterministic (distance, y, x) tie-break."""
    out = v.copy()
    valid = ~np.isnan(v)
    if not valid.any():
        return out
    missing = np.flatnonzero(np.isnan(v))
    if missing.size == 0:
        return out
    vidx = np.flatnonzero(valid)
    vx, vy, vv = x[vidx], y[vidx], v[vidx]
    span = max(
        float(vx.max() - vx.min()), float(vy.max() - vy.min()), 1e-9
    )
    cell = max(span / max(np.sqrt(len(vidx)), 1.0), 1e-9)
    bk = _Buckets(np.stack([vx, vy], axis=1), cell)
    max_ring = bk.nx + bk.ny + 2
    for i in missing:
        px, py = float(x[i]), float(y[i])
        cx, cy = bk.cell_of(px, py)
        pool: list[np.ndarray] = []
        best_d2 = np.inf
        r = 0
        while r <= max_ring:
            # any point in ring r is at least (r-1)*cell away; once that
            # bound exceeds the best hit, no later ring can beat it
            lower = (r - 1) * cell
            if pool and lower > 0 and lower * lower > best_d2:
                break
            cand = bk.ring(cx, cy, r)
            if cand.size:
                d2 = (vx[cand] - px) ** 2 + (vy[cand] - py) ** 2
                best_d2 = min(best_d2, float(d2.min()))
                pool.append(cand)
            r += 1
        if pool:
            cand = np.concatenate(pool)
            d2 = (vx[cand] - px) ** 2 + (vy[cand] - py) ** 2
            # deterministic tie-break: lowest (distance², y, x)
            k = np.lexsort((vx[cand], vy[cand], d2))[0]
            out[i] = vv[cand[k]]
    return out


def interpolate_frame(
    pdf: pd.DataFrame,
    value_cols: list[str],
    x_col: str = "original_x",
    y_col: str = "original_y",
) -> pd.DataFrame:
    """Interpolate one date's lattice in place (pandas side)."""
    x = pdf[x_col].to_numpy(dtype=np.float64)
    y = pdf[y_col].to_numpy(dtype=np.float64)
    for c in value_cols:
        v = pdf[c].to_numpy(dtype=np.float64)
        v = _delaunay_linear_numpy(x, y, v)
        v = _nearest_fill(x, y, v)
        pdf[c] = v
    return pdf


def daily_spatial_interpolate(
    df: DataFrame,
    value_cols: list[str],
    date_col: str = "date",
    x_col: str = "original_x",
    y_col: str = "original_y",
) -> DataFrame:
    """Distributed K1: one pandas task per date."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return interpolate_frame(pdf, value_cols, x_col, y_col)

    return df.groupBy(date_col).applyInPandas(fn, schema=df.schema)

