"""Delaunay triangulation (``ST_DelaunayTriangles``).

Bowyer–Watson incremental insertion over the distinct vertices of the
input geometry — the classic algorithm (Bowyer 1981 / Watson 1981,
Computer Journal 24), implemented with numpy float64 arithmetic and a
scale-relative tolerance on the in-circumcircle determinant so
near-degenerate (almost-cocircular) sites resolve deterministically.

The public seam mirrors PostGIS: every triangle of the triangulation of
the input's distinct vertices is returned; ``flags=1`` returns the
unique edges as a MultiLineString instead. Reference surface:
``ST_DelaunayTriangles(g)`` is admitted by the raw-SQL passthrough
(/root/reference/xcube_geodb/sql/geodb.sql:1147-1167).

Determinism: sites are sorted lexicographically before insertion and
the output triangles sort by (min vertex, next vertex), so the same
input bytes always produce the same WKB — required by the engine's
oracle-gate contract.
"""

from __future__ import annotations

import math

import numpy as np

from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import Geometry, _all_vertices


def _delaunay_sites(geom: Geometry) -> np.ndarray:
    pts = _all_vertices(geom)
    if len(pts) == 0:
        return pts.reshape(0, 2)
    # exact dedup + lexicographic sort: the deterministic insertion order
    uniq = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    return uniq


def delaunay_triangulation(
    sites: np.ndarray,
) -> list[tuple[int, int, int]]:
    """Bowyer–Watson over (n, 2) sites (pre-sorted, deduped). Returns
    index triples, each counter-clockwise."""
    n = len(sites)
    if n < 3:
        return []
    xmin, ymin = sites.min(axis=0)
    xmax, ymax = sites.max(axis=0)
    span = max(xmax - xmin, ymax - ymin, 1e-300)
    # in-circle tolerance: det scales like length^4
    tol = (1e-9 * span) * span * span * span
    # super-triangle far enough out that its circumcircles cover all sites
    cx0, cy0 = (xmin + xmax) / 2.0, (ymin + ymax) / 2.0
    m = 64.0 * span
    sup = np.array(
        [[cx0 - 2 * m, cy0 - m], [cx0 + 2 * m, cy0 - m], [cx0, cy0 + 2 * m]],
        dtype=np.float64,
    )
    pts = np.vstack([sites, sup])
    s0, s1, s2 = n, n + 1, n + 2
    tris: set[tuple[int, int, int]] = {(s0, s1, s2)}

    def _ccw(t):
        a, b, c = pts[t[0]], pts[t[1]], pts[t[2]]
        return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])

    for i in range(n):
        px, py = pts[i]
        # vectorized in-circle over ALL live triangles at once: the
        # per-insertion scan is the Bowyer-Watson hot loop, and a Python
        # triangle-by-triangle determinant makes group-collect inputs in
        # the thousands take minutes instead of seconds
        tri_list = list(tris)
        T = np.asarray(tri_list, dtype=np.int64)
        A = pts[T[:, 0]]
        B = pts[T[:, 1]]
        C = pts[T[:, 2]]
        ad = A - (px, py)
        bd = B - (px, py)
        cd = C - (px, py)
        det = (
            (ad[:, 0] ** 2 + ad[:, 1] ** 2)
            * (bd[:, 0] * cd[:, 1] - cd[:, 0] * bd[:, 1])
            - (bd[:, 0] ** 2 + bd[:, 1] ** 2)
            * (ad[:, 0] * cd[:, 1] - cd[:, 0] * ad[:, 1])
            + (cd[:, 0] ** 2 + cd[:, 1] ** 2)
            * (ad[:, 0] * bd[:, 1] - bd[:, 0] * ad[:, 1])
        )
        bad = [tri_list[k] for k in np.nonzero(det > tol)[0]]
        if not bad:
            # numerically outside every circumcircle (should not happen
            # inside the super-triangle) — skip rather than corrupt
            continue
        # boundary of the union of bad triangles: edges seen exactly once
        edge_count: dict[tuple[int, int], int] = {}
        edge_dir: dict[tuple[int, int], tuple[int, int]] = {}
        for t in bad:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                k = (e[0], e[1]) if e[0] < e[1] else (e[1], e[0])
                edge_count[k] = edge_count.get(k, 0) + 1
                edge_dir[k] = e
        for t in bad:
            tris.discard(t)
        for k, cnt in edge_count.items():
            if cnt == 1:
                u, v = edge_dir[k]
                t = (u, v, i)
                # keep counter-clockwise orientation
                if _ccw(t) < 0:
                    t = (v, u, i)
                tris.add(t)
    out = []
    for t in tris:
        if t[0] < n and t[1] < n and t[2] < n:
            # canonical rotation: smallest index first, orientation kept
            j = t.index(min(t))
            out.append((t[j], t[(j + 1) % 3], t[(j + 2) % 3]))
    out.sort()
    return out


def delaunay_geometry(
    geom: Geometry | None, flags: int = 0
) -> Geometry | None:
    """``ST_DelaunayTriangles(g[, tolerance, flags])`` over the distinct
    vertices of ``g``. flags=0 -> (Multi)Polygon of triangles; flags=1 ->
    MultiLineString of the unique triangulation edges. Fewer than three
    non-collinear sites -> None (the engine's SQL-NULL spelling of
    PostGIS' GEOMETRYCOLLECTION EMPTY)."""
    if geom is None:
        return None
    sites = _delaunay_sites(geom)
    tris = delaunay_triangulation(sites)
    if not tris:
        return None
    if flags == 1:
        edges = set()
        for a, b, c in tris:
            for e in ((a, b), (b, c), (c, a)):
                edges.add((e[0], e[1]) if e[0] < e[1] else (e[1], e[0]))
        members = [
            Geometry(
                "LineString",
                np.asarray([sites[u], sites[v]], dtype=np.float64),
            )
            for u, v in sorted(edges)
        ]
        if len(members) == 1:
            out = members[0]
            out.srid = geom.srid
            return out
        return Geometry("MultiLineString", members, geom.srid)
    members = [
        Geometry(
            "Polygon",
            [np.asarray(
                [sites[a], sites[b], sites[c], sites[a]], dtype=np.float64
            )],
        )
        for a, b, c in tris
    ]
    if len(members) == 1:
        out = members[0]
        out.srid = geom.srid
        return out
    return Geometry("MultiPolygon", members, geom.srid)


def _clip_halfplane(
    poly: list[tuple[float, float]], a: float, b: float, c: float
) -> list[tuple[float, float]]:
    """Sutherland–Hodgman clip of a convex polygon (open vertex list) to
    the half-plane a*x + b*y + c <= 0."""
    out: list[tuple[float, float]] = []
    n = len(poly)
    for i in range(n):
        px, py = poly[i]
        qx, qy = poly[(i + 1) % n]
        dp = a * px + b * py + c
        dq = a * qx + b * qy + c
        if dp <= 0:
            out.append((px, py))
            if dq > 0:
                t = dp / (dp - dq)
                out.append((px + t * (qx - px), py + t * (qy - py)))
        elif dq <= 0:
            t = dp / (dp - dq)
            out.append((px + t * (qx - px), py + t * (qy - py)))
    return out


def voronoi_polygons(geom: Geometry | None) -> Geometry | None:
    """``ST_VoronoiPolygons(g)`` — one convex cell per distinct input
    vertex, built by half-plane clipping (each cell is the input
    ENVELOPE clipped by the perpendicular bisector against every other
    site; O(n^2) per call, exact for the group-collect sizes this SQL
    surface sees). The cells tile the envelope exactly — the closed form
    the oracle gate pins (sum of cell areas = envelope area, one cell
    per distinct site).

    DOCUMENTED DEVIATION (COVERAGE.md): cells clip to the input
    envelope; PostGIS/GEOS clips to an envelope extended ~50% beyond it
    (pass a wider geometry — e.g. anchor corner points — to widen the
    frame, which is also what makes the tiling closed form exact).
    Output order follows the lexicographically sorted sites; fewer than
    two distinct sites or a degenerate (zero-area) envelope -> None."""
    if geom is None:
        return None
    sites = _delaunay_sites(geom)
    if len(sites) < 2:
        return None
    xmin, ymin = sites.min(axis=0)
    xmax, ymax = sites.max(axis=0)
    if xmax - xmin <= 0 or ymax - ymin <= 0:
        return None
    frame = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)]
    members = []
    for i in range(len(sites)):
        sx, sy = float(sites[i, 0]), float(sites[i, 1])
        cell = frame
        for j in range(len(sites)):
            if j == i or not cell:
                continue
            tx, ty = float(sites[j, 0]), float(sites[j, 1])
            # |p - s|^2 <= |p - t|^2  <=>  2(t-s).p <= |t|^2 - |s|^2
            a, b = 2.0 * (tx - sx), 2.0 * (ty - sy)
            c = (sx * sx + sy * sy) - (tx * tx + ty * ty)
            cell = _clip_halfplane(cell, a, b, c)
        if len(cell) >= 3:
            ring = np.asarray(cell + [cell[0]], dtype=np.float64)
            members.append(Geometry("Polygon", [ring]))
    if not members:
        return None
    if len(members) == 1:
        out = members[0]
        out.srid = geom.srid
        return out
    return Geometry("MultiPolygon", members, geom.srid)


def concave_hull(
    geom: Geometry | None, param_pctconvex: float = 1.0
) -> Geometry | None:
    """``ST_ConcaveHull(g, param_pctconvex)`` as a chi-shape (Duckham,
    Kulik, Worboys & Galton 2008, "Efficient generation of simple
    polygons for characterizing the shape of a set of points in the
    plane"): start from the Delaunay triangulation of the distinct
    vertices and repeatedly carve the longest exterior edge while the
    carve keeps the region simple (the exposed vertex is not already on
    the boundary) and the edge is longer than the length threshold.

    ``param_pctconvex`` in [0, 1] maps to the threshold the way PostGIS
    users expect: 1.0 keeps every edge (the convex hull), smaller values
    allow deeper carving — threshold = min_len + pct * (max_len -
    min_len) over the initial hull-edge lengths. Deterministic: ties
    break on edge endpoints' coordinates. Fewer than three
    non-collinear sites -> None."""
    if geom is None:
        return None
    if not 0.0 <= param_pctconvex <= 1.0:
        from xcube_geodb_spark.errors import GeoDBError

        raise GeoDBError(
            "st_concavehull: param_pctconvex must be in [0, 1]"
        )
    sites = _delaunay_sites(geom)
    tris = delaunay_triangulation(sites)
    if not tris:
        return None

    def _elen(u, v):
        return float(
            math.hypot(
                sites[u, 0] - sites[v, 0], sites[u, 1] - sites[v, 1]
            )
        )

    # edge -> incident triangles
    live = set(tris)
    incident: dict[tuple[int, int], set] = {}
    for t in tris:
        for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            k = (e[0], e[1]) if e[0] < e[1] else (e[1], e[0])
            incident.setdefault(k, set()).add(t)

    # boundary edges maintained INCREMENTALLY: carving one triangle
    # retires its boundary edge and toggles its two other edges — a
    # full O(E) boundary recompute per heap pop would make the carve
    # quadratic on large group collects
    boundary = {e for e, ts in incident.items() if len(ts & live) == 1}
    if not boundary:
        return None
    lens = [_elen(u, v) for u, v in boundary]
    lo, hi = min(lens), max(lens)
    threshold = lo + float(param_pctconvex) * (hi - lo)
    # carve: longest boundary edge first (ties -> coordinates)
    import heapq

    def _key(e):
        return (-_elen(*e), sites[e[0], 0], sites[e[0], 1],
                sites[e[1], 0], sites[e[1], 1])

    heap = [(_key(e), e) for e in boundary]
    heapq.heapify(heap)
    on_boundary = {v for e in boundary for v in e}
    while heap:
        k, e = heapq.heappop(heap)
        if e not in boundary:
            continue  # stale entry
        if _elen(*e) <= threshold + 1e-12:
            break  # longest remaining is short enough: done
        ts = [t for t in incident[e] if t in live]
        if len(ts) != 1:
            continue
        t = ts[0]
        apex = next(v for v in t if v not in e)
        if apex in on_boundary:
            continue  # carving would pinch the region: skip this edge
        if len(live) == 1:
            continue  # never carve the last triangle
        live.discard(t)
        on_boundary.add(apex)
        boundary.discard(e)
        for u, v in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
            ek = (u, v) if u < v else (v, u)
            if ek == e:
                continue
            if len(incident[ek] & live) == 1:
                boundary.add(ek)
                heapq.heappush(heap, (_key(ek), ek))
            else:
                boundary.discard(ek)
    if not live:
        return None
    # boundary of the remaining triangulation -> polygon via the face
    # tracer (handles any simple region the carve produced)
    from xcube_geodb_spark.geometry.overlay import polygonize

    edges = []
    for e, ts in incident.items():
        if len(ts & live) == 1:
            edges.append(
                Geometry(
                    "LineString",
                    np.asarray(
                        [sites[e[0]], sites[e[1]]], dtype=np.float64
                    ),
                )
            )
    out = polygonize(Geometry("MultiLineString", edges, geom.srid))
    if out is not None:
        out.srid = geom.srid
    return out


def _bridge_holes(
    shell: np.ndarray, holes: list[np.ndarray]
) -> list[tuple[float, float]]:
    """Merge holes into the shell ring with bridge edges (the classic
    ear-clipping preprocessing, cf. Eberly, "Triangulation by Ear
    Clipping"): each hole's rightmost vertex connects to a visible
    shell vertex found by the +x ray cast; holes merge rightmost-first
    so later bridges see the already-merged ring."""
    ring = [(float(x), float(y)) for x, y in shell[:-1]]
    if _ring_signed(ring) < 0:
        ring.reverse()  # shell CCW
    hs = []
    for h in holes:
        hv = [(float(x), float(y)) for x, y in h[:-1]]
        if _ring_signed(hv) > 0:
            hv.reverse()  # holes CW
        hs.append(hv)
    for hv in sorted(hs, key=lambda v: -max(p[0] for p in v)):
        mi = max(range(len(hv)), key=lambda i: (hv[i][0], hv[i][1]))
        mx, my = hv[mi]
        # nearest intersection of the +x ray with a ring edge
        best_t, best_j = None, None
        n = len(ring)
        for j in range(n):
            (x1, y1), (x2, y2) = ring[j], ring[(j + 1) % n]
            if (y1 > my) == (y2 > my):
                continue
            t = x1 + (my - y1) * (x2 - x1) / (y2 - y1)
            if t >= mx - 1e-12 and (best_t is None or t < best_t):
                best_t, best_j = t, j
        if best_j is None:
            raise GeoDBError(
                "st_triangulatepolygon: hole outside the shell"
            )
        # connect to the edge endpoint with the larger x (visible side)
        j = best_j if ring[best_j][0] >= ring[(best_j + 1) % len(ring)][0] \
            else (best_j + 1) % len(ring)
        # visibility refinement: among ring vertices inside the triangle
        # (M, I, P) pick the one minimizing angle to +x (Eberly's rule);
        # the simple endpoint choice suffices for the engine's generated
        # rings, but reflex vertices inside the triangle must win
        px, py = ring[j]
        cand = j
        for k in range(len(ring)):
            if k == j:
                continue
            kx, ky = ring[k]
            if kx <= mx:
                continue
            # inside triangle (M, (best_t, my), P)?
            ax, ay = mx, my
            bx, by = best_t, my
            s1 = (bx - ax) * (ky - ay) - (by - ay) * (kx - ax)
            s2 = (px - bx) * (ky - by) - (py - by) * (kx - bx)
            s3 = (ax - px) * (ky - py) - (ay - py) * (kx - px)
            if (s1 >= 0 and s2 >= 0 and s3 >= 0) or (
                s1 <= 0 and s2 <= 0 and s3 <= 0
            ):
                if abs(ky - my) * abs(px - mx) < abs(py - my) * abs(
                    kx - mx
                ):
                    cand, (px, py) = k, (kx, ky)
        j = cand
        ring = (
            ring[: j + 1]
            + hv[mi:] + hv[: mi + 1]
            + ring[j:]
        )
    return ring


def _ring_signed(ring: list[tuple[float, float]]) -> float:
    s = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def triangulate_polygon(geom: Geometry | None) -> Geometry | None:
    """``ST_TriangulatePolygon`` (PostGIS 3.3): triangulate the polygon
    INTERIOR respecting its boundary — ear clipping (Meister's
    two-ears theorem; Eberly's formulation) over the hole-bridged ring.
    Every triangle lies inside the input, triangles tile it exactly
    (count = n + 2*holes - 2 over the bridged vertex count), and the
    result is deterministic (lowest-index ear first). Non-areal input
    raises; empty -> None."""
    if geom is None:
        return None
    members = []
    polys = [leaf for leaf in geom.children() if leaf.kind == "Polygon"]
    if not polys:
        raise GeoDBError("st_triangulatepolygon: polygonal input required")
    for leaf in polys:
        shell = np.asarray(leaf.parts[0], dtype=np.float64)
        holes = [np.asarray(r, dtype=np.float64) for r in leaf.parts[1:]]
        ring = _bridge_holes(shell, holes)
        idx = list(range(len(ring)))
        guard = 0
        while len(idx) > 3:
            guard += 1
            if guard > 4 * len(ring) * len(ring):
                raise GeoDBError(
                    "st_triangulatepolygon: no ear found (degenerate "
                    "or self-intersecting input)"
                )
            n = len(idx)
            clipped = False
            for ii in range(n):
                i0, i1, i2 = idx[(ii - 1) % n], idx[ii], idx[(ii + 1) % n]
                ax, ay = ring[i0]
                bx, by = ring[i1]
                cx, cy = ring[i2]
                cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
                if cross <= 1e-18:
                    continue  # reflex or degenerate corner
                # no other ring vertex strictly inside the candidate ear
                ok = True
                for jj in idx:
                    if jj in (i0, i1, i2):
                        continue
                    px, py = ring[jj]
                    if (px, py) in ((ax, ay), (bx, by), (cx, cy)):
                        continue  # bridge duplicates coincide
                    s1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
                    s2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
                    s3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
                    if s1 > 1e-12 and s2 > 1e-12 and s3 > 1e-12:
                        ok = False
                        break
                    if s1 >= -1e-12 and s2 >= -1e-12 and s3 >= -1e-12:
                        # on the boundary of the ear: blocks it too
                        ok = False
                        break
                if not ok:
                    continue
                members.append(
                    Geometry(
                        "Polygon",
                        [np.asarray(
                            [ring[i0], ring[i1], ring[i2], ring[i0]],
                            dtype=np.float64,
                        )],
                    )
                )
                idx.pop(ii)
                clipped = True
                break
            if not clipped:
                # relax: clip the first convex corner even if a boundary
                # vertex touches (bridge coincidences) — keeps progress
                for ii in range(n):
                    i0, i1, i2 = idx[(ii - 1) % n], idx[ii], idx[(ii + 1) % n]
                    ax, ay = ring[i0]
                    bx, by = ring[i1]
                    cx, cy = ring[i2]
                    cross = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
                    if cross <= 1e-18:
                        continue
                    strictly_inside = False
                    for jj in idx:
                        if jj in (i0, i1, i2):
                            continue
                        px, py = ring[jj]
                        s1 = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
                        s2 = (cx - bx) * (py - by) - (cy - by) * (px - bx)
                        s3 = (ax - cx) * (py - cy) - (ay - cy) * (px - cx)
                        if s1 > 1e-12 and s2 > 1e-12 and s3 > 1e-12:
                            strictly_inside = True
                            break
                    if not strictly_inside:
                        members.append(
                            Geometry(
                                "Polygon",
                                [np.asarray(
                                    [ring[i0], ring[i1], ring[i2],
                                     ring[i0]],
                                    dtype=np.float64,
                                )],
                            )
                        )
                        idx.pop(ii)
                        clipped = True
                        break
                if not clipped:
                    raise GeoDBError(
                        "st_triangulatepolygon: stuck (degenerate input)"
                    )
        if len(idx) == 3:
            i0, i1, i2 = idx
            members.append(
                Geometry(
                    "Polygon",
                    [np.asarray(
                        [ring[i0], ring[i1], ring[i2], ring[i0]],
                        dtype=np.float64,
                    )],
                )
            )
    members = [m for m in members if abs(_ring_shoelace_np(m)) > 0]
    if not members:
        return None
    if len(members) == 1:
        out = members[0]
        out.srid = geom.srid
        return out
    return Geometry("MultiPolygon", members, geom.srid)


def _ring_shoelace_np(poly: Geometry) -> float:
    r = poly.parts[0]
    s = 0.0
    for i in range(len(r) - 1):
        s += r[i, 0] * r[i + 1, 1] - r[i + 1, 0] * r[i, 1]
    return s / 2.0


def maximum_inscribed_circle(
    geom: Geometry | None, tolerance: float | None = None
) -> tuple[float, float, float] | None:
    """``ST_MaximumInscribedCircle``: the center and radius of the
    largest circle fully inside the polygon — the GEOS/PostGIS 3.1
    operation, computed with the same successive-quadtree refinement
    GEOS uses: cells ranked by the upper bound (signed boundary
    distance at the center + half-diagonal), split until the bound
    cannot beat the best center by more than ``tolerance`` (default:
    envelope diagonal / 1e6 — deterministic, no RNG anywhere).
    Returns (cx, cy, radius); non-areal input raises."""
    import heapq

    from xcube_geodb_spark.geometry.geom import (
        _all_segments,
        _point_in_rings,
        envelope as _env,
    )

    if geom is None:
        return None
    polys = [leaf for leaf in geom.children() if leaf.kind == "Polygon"]
    if not polys:
        raise GeoDBError(
            "st_maximuminscribedcircle: polygonal input required"
        )
    segs = _all_segments(geom)
    a = segs[:, 0:2]
    ab = segs[:, 2:4] - a
    denom = (ab * ab).sum(-1)

    def _boundary_dist(x: float, y: float) -> float:
        p = np.asarray([x, y], dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            t = np.clip(
                ((p - a) * ab).sum(-1) / np.where(denom > 0, denom, 1.0),
                0.0, 1.0,
            )
        proj = a + t[:, None] * ab
        return float(
            np.hypot(p[0] - proj[:, 0], p[1] - proj[:, 1]).min()
        )

    def _signed(x: float, y: float) -> float:
        d = _boundary_dist(x, y)
        inside = any(_point_in_rings(x, y, pl.parts) for pl in polys)
        return d if inside else -d

    x0, y0, x1, y1 = _env(geom)
    diag = math.hypot(x1 - x0, y1 - y0)
    if diag <= 0:
        return None
    tol = float(tolerance) if tolerance else diag / 1e6
    # cell = (neg upper bound, x, y, half_size)
    hx, hy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    h = max(x1 - x0, y1 - y0) / 2.0
    best = (_signed(hx, hy), hx, hy)
    heap = [(-(best[0] + h * math.sqrt(2)), hx, hy, h)]
    iters = 0
    while heap and iters < 100000:
        iters += 1
        nub, cx, cy, ch = heapq.heappop(heap)
        if -nub <= best[0] + tol:
            break  # no cell can beat the current best
        for dx in (-ch / 2, ch / 2):
            for dy in (-ch / 2, ch / 2):
                nx, ny = cx + dx, cy + dy
                d = _signed(nx, ny)
                if d > best[0]:
                    best = (d, nx, ny)
                ub = d + (ch / 2) * math.sqrt(2)
                if ub > best[0] + tol:
                    heapq.heappush(heap, (-ub, nx, ny, ch / 2))
    return best[1], best[2], max(best[0], 0.0)


def largest_empty_circle(
    geom: Geometry | None,
    boundary: Geometry | None = None,
    tolerance: float | None = None,
) -> tuple[float, float, float] | None:
    """``ST_LargestEmptyCircle``: the largest circle whose interior
    avoids ``geom`` (the obstacles) with its center inside ``boundary``
    (default: the obstacles' envelope) — the same deterministic
    quadtree refinement as maximum_inscribed_circle, maximizing the
    plain distance to the obstacles instead of the inside-signed one."""
    import heapq

    from xcube_geodb_spark.geometry.geom import (
        _all_segments,
        _all_vertices,
        envelope as _env,
    )

    if geom is None:
        return None
    segs = _all_segments(geom)
    if len(segs) == 0:
        pts = _all_vertices(geom)
        if len(pts) == 0:
            return None
        segs = np.concatenate([pts, pts], axis=1)
    a = segs[:, 0:2]
    ab = segs[:, 2:4] - a
    denom = (ab * ab).sum(-1)

    def _dist(x: float, y: float) -> float:
        p = np.asarray([x, y], dtype=np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            t = np.clip(
                ((p - a) * ab).sum(-1) / np.where(denom > 0, denom, 1.0),
                0.0, 1.0,
            )
        proj = a + t[:, None] * ab
        return float(np.hypot(p[0] - proj[:, 0], p[1] - proj[:, 1]).min())

    frame = boundary if boundary is not None else geom
    x0, y0, x1, y1 = _env(frame)
    w, hgt = x1 - x0, y1 - y0
    if w <= 0 and hgt <= 0:
        return None
    diag = math.hypot(max(w, 1e-300), max(hgt, 1e-300))
    tol = float(tolerance) if tolerance else diag / 1e6

    def _clamped(x, y):
        return min(max(x, x0), x1), min(max(y, y0), y1)

    hx, hy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
    h = max(w, hgt) / 2.0
    best = (_dist(hx, hy), hx, hy)
    heap = [(-(best[0] + h * math.sqrt(2)), hx, hy, h)]
    iters = 0
    while heap and iters < 100000:
        iters += 1
        nub, cx, cy, ch = heapq.heappop(heap)
        if -nub <= best[0] + tol:
            break
        for dx in (-ch / 2, ch / 2):
            for dy in (-ch / 2, ch / 2):
                nx, ny = _clamped(cx + dx, cy + dy)
                d = _dist(nx, ny)
                if d > best[0]:
                    best = (d, nx, ny)
                ub = d + (ch / 2) * math.sqrt(2)
                if ub > best[0] + tol:
                    heapq.heappush(heap, (-ub, cx + dx, cy + dy, ch / 2))
    return best[1], best[2], best[0]
