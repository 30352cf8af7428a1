"""Bbox-vs-geometry predicates (the spatial core of ``geodb_get_by_bbox``).

The reference maps ``comparison_mode`` to a PostGIS binary predicate with the
**bbox as the first argument** — ``ST_Within(bbox, geom)`` means "bbox within
feature" (``xcube_geodb/sql/geodb.sql:1204-1214``). We reproduce those exact
semantics for an axis-aligned query rectangle against arbitrary 2D
geometries, using a small computational-geometry kernel:

- point-in-polygon: even-odd ray cast with boundary detection
- segment-vs-box: Liang-Barsky parametric clipping
- polygon∩box area: Sutherland-Hodgman clipping (box is convex) + shoelace

Predicates are then derived from three primitive relations:

- ``intersects``    — closures share a point
- ``II``            — interiors share a point
- ``geom ⊆ box``    — envelope containment (box is axis-aligned)
- ``box ⊆ geom``    — corner containment + no boundary crossing

All evaluated per-row inside pandas UDFs (Arrow-batched); the scan-level
envelope pre-filter (see operators/spatial.py) keeps the number of exact
tests small at scale.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np

from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import Geometry

Box = tuple[float, float, float, float]  # (xmin, ymin, xmax, ymax)

_REL_EPS = 1e-9


def _eps(box: Box) -> float:
    scale = max(abs(box[0]), abs(box[1]), abs(box[2]), abs(box[3]), 1.0)
    return _REL_EPS * scale


# ---------------------------------------------------------------------------
# Primitive tests
# ---------------------------------------------------------------------------


def _point_in_ring(x: float, y: float, ring: np.ndarray) -> int:
    """2 = strictly inside, 1 = on boundary, 0 = outside (even-odd)."""
    inside = False
    n = len(ring)
    eps = _REL_EPS * max(1.0, abs(x), abs(y))
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        # boundary check: point on segment?
        if (
            min(x1, x2) - eps <= x <= max(x1, x2) + eps
            and min(y1, y2) - eps <= y <= max(y1, y2) + eps
        ):
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            seg_len = math.hypot(x2 - x1, y2 - y1)
            if abs(cross) <= eps * max(seg_len, 1.0):
                return 1
        # ray cast (rightward ray)
        if (y1 > y) != (y2 > y):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if xint > x:
                inside = not inside
    return 2 if inside else 0


def _point_in_polygon(x: float, y: float, rings: Sequence[np.ndarray]) -> int:
    """2 inside, 1 on boundary (outer or hole), 0 outside — w.r.t. the full
    polygon (outer ring minus holes)."""
    r = _point_in_ring(x, y, rings[0])
    if r == 0:
        return 0
    if r == 1:
        return 1
    for hole in rings[1:]:
        h = _point_in_ring(x, y, hole)
        if h == 2:
            return 0
        if h == 1:
            return 1
    return 2


def _segment_box_clip(
    x1: float, y1: float, x2: float, y2: float, box: Box
) -> tuple[float, float] | None:
    """Liang-Barsky: parametric [t0, t1] of the segment inside the closed
    box, or None if no intersection."""
    dx, dy = x2 - x1, y2 - y1
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x1 - box[0]),
        (dx, box[2] - x1),
        (-dy, y1 - box[1]),
        (dy, box[3] - y1),
    ):
        if p == 0.0:
            if q < 0.0:
                return None
        else:
            r = q / p
            if p < 0.0:
                if r > t1:
                    return None
                if r > t0:
                    t0 = r
            else:
                if r < t0:
                    return None
                if r < t1:
                    t1 = r
    return (t0, t1)


def _segments_intersect_box(coords: np.ndarray, box: Box) -> bool:
    """Any segment of the polyline touches the closed box."""
    for i in range(len(coords) - 1):
        if _segment_box_clip(*coords[i], *coords[i + 1], box) is not None:
            return True
    return False


def _polyline_interior_hits_open_box(coords: np.ndarray, box: Box) -> bool:
    """Some portion of the polyline lies strictly inside the open box."""
    eps = _eps(box)
    for i in range(len(coords) - 1):
        clip = _segment_box_clip(*coords[i], *coords[i + 1], box)
        if clip is None:
            continue
        t0, t1 = clip
        if t1 - t0 <= 1e-15:
            # single-point contact with the box — boundary only
            continue
        x1, y1 = coords[i]
        x2, y2 = coords[i + 1]
        tm = (t0 + t1) / 2.0
        mx, my = x1 + tm * (x2 - x1), y1 + tm * (y2 - y1)
        if (
            box[0] + eps < mx < box[2] - eps
            and box[1] + eps < my < box[3] - eps
        ):
            return True
        # midpoint on the boundary: the clipped run lies along a box edge
    return False


def _clip_ring_to_box(ring: np.ndarray, box: Box) -> np.ndarray:
    """Sutherland-Hodgman clip of a closed ring against the (convex) box."""
    xmin, ymin, xmax, ymax = box
    pts = ring[:-1] if len(ring) > 1 and np.array_equal(ring[0], ring[-1]) else ring
    poly = [tuple(p) for p in pts]

    def clip_edge(poly, inside, intersect):
        out = []
        n = len(poly)
        for i in range(n):
            cur, prev = poly[i], poly[i - 1]
            cur_in, prev_in = inside(cur), inside(prev)
            if cur_in:
                if not prev_in:
                    out.append(intersect(prev, cur))
                out.append(cur)
            elif prev_in:
                out.append(intersect(prev, cur))
        return out

    def x_intersect(xv):
        def f(a, b):
            t = (xv - a[0]) / (b[0] - a[0])
            return (xv, a[1] + t * (b[1] - a[1]))

        return f

    def y_intersect(yv):
        def f(a, b):
            t = (yv - a[1]) / (b[1] - a[1])
            return (a[0] + t * (b[0] - a[0]), yv)

        return f

    for inside, intersect in (
        (lambda p: p[0] >= xmin, x_intersect(xmin)),
        (lambda p: p[0] <= xmax, x_intersect(xmax)),
        (lambda p: p[1] >= ymin, y_intersect(ymin)),
        (lambda p: p[1] <= ymax, y_intersect(ymax)),
    ):
        if not poly:
            return np.empty((0, 2))
        poly = clip_edge(poly, inside, intersect)
    return np.asarray(poly, dtype=np.float64)


def _ring_area(ring: np.ndarray) -> float:
    """Absolute shoelace area of a ring given as (n,2) vertices."""
    if len(ring) < 3:
        return 0.0
    x, y = ring[:, 0], ring[:, 1]
    return abs(float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))) / 2.0


def _polygon_clip_area(rings: Sequence[np.ndarray], box: Box) -> float:
    """Area of polygon∩box = |clip(outer)| − Σ|clip(hole)| (valid polygons)."""
    area = _ring_area(_clip_ring_to_box(rings[0], box))
    for hole in rings[1:]:
        area -= _ring_area(_clip_ring_to_box(hole, box))
    return max(area, 0.0)


# ---------------------------------------------------------------------------
# Relations between the box and one geometry
# ---------------------------------------------------------------------------


def _envelope_leaf(leaf: Geometry) -> Box:
    if leaf.kind == "Point":
        x, y = float(leaf.parts[0]), float(leaf.parts[1])
        return (x, y, x, y)
    arrays = leaf.parts if leaf.kind == "Polygon" else [leaf.parts]
    xs = np.concatenate([a[:, 0] for a in arrays])
    ys = np.concatenate([a[:, 1] for a in arrays])
    return (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))


def _leaf_intersects(leaf: Geometry, box: Box) -> bool:
    if leaf.kind == "Point":
        x, y = float(leaf.parts[0]), float(leaf.parts[1])
        return box[0] <= x <= box[2] and box[1] <= y <= box[3]
    if leaf.kind == "LineString":
        return _segments_intersect_box(leaf.parts, box)
    # Polygon: ring vertex in box / box corner in polygon / edge crossing
    env = _envelope_leaf(leaf)
    if env[2] < box[0] or env[0] > box[2] or env[3] < box[1] or env[1] > box[3]:
        return False
    for ring in leaf.parts:
        if _segments_intersect_box(ring, box):
            return True
    # no edge contact: either box fully inside polygon, or polygon fully
    # inside box (vertex-in-box caught by segment test), or disjoint
    cx, cy = (box[0] + box[2]) / 2.0, (box[1] + box[3]) / 2.0
    return _point_in_polygon(cx, cy, leaf.parts) != 0


def _leaf_interiors_intersect(leaf: Geometry, box: Box) -> bool:
    eps = _eps(box)
    if leaf.kind == "Point":
        x, y = float(leaf.parts[0]), float(leaf.parts[1])
        return box[0] + eps < x < box[2] - eps and box[1] + eps < y < box[3] - eps
    if leaf.kind == "LineString":
        return _polyline_interior_hits_open_box(leaf.parts, box)
    area = _polygon_clip_area(leaf.parts, box)
    # The overlap area is bounded by min(box area, leaf envelope area), so
    # the relative tolerance must anchor on the CONTACT scale — anchoring on
    # max() lets a huge query box swallow a genuine tiny overlap (a 1e-6
    # corner overlap vs box (1.079,1.079,33,33) must classify as interior).
    box_area = (box[2] - box[0]) * (box[3] - box[1])
    env = _envelope_leaf(leaf)
    env_area = (env[2] - env[0]) * (env[3] - env[1])
    tol = max(_REL_EPS * min(box_area, env_area), _eps(box) ** 2)
    return area > tol


def _leaf_box_within(leaf: Geometry, box: Box) -> bool:
    """box ⊆ leaf (closed); leaf must be polygonal."""
    if leaf.kind != "Polygon":
        return False
    corners = (
        (box[0], box[1]),
        (box[2], box[1]),
        (box[2], box[3]),
        (box[0], box[3]),
    )
    for cx, cy in corners:
        if _point_in_polygon(cx, cy, leaf.parts) == 0:
            return False
    # no polygon boundary may pass through the open box (would carve a hole
    # or exclude part of the box)
    for ring in leaf.parts:
        if _polyline_interior_hits_open_box(ring, box):
            return False
    return True


def _leaves(geom: Geometry):
    """The leaves of ``geom`` that have a point: an EMPTY polygon (no ring)
    meets nothing, as an empty multi-geometry has no leaf at all."""
    return (leaf for leaf in geom.children() if leaf.kind != "Polygon" or leaf.parts)


def _geom_within_box(geom: Geometry, box: Box) -> bool:
    """geom ⊆ closed box ⟺ envelope containment (box is axis-aligned)."""
    eps = _eps(box)
    for leaf in _leaves(geom):
        env = _envelope_leaf(leaf)
        if not (
            env[0] >= box[0] - eps
            and env[1] >= box[1] - eps
            and env[2] <= box[2] + eps
            and env[3] <= box[3] + eps
        ):
            return False
    return True


def _intersects(geom: Geometry, box: Box) -> bool:
    return any(_leaf_intersects(leaf, box) for leaf in _leaves(geom))


def _interiors_intersect(geom: Geometry, box: Box) -> bool:
    return any(_leaf_interiors_intersect(leaf, box) for leaf in _leaves(geom))


def _box_within_geom(geom: Geometry, box: Box) -> bool:
    return any(_leaf_box_within(leaf, box) for leaf in _leaves(geom))


# ---------------------------------------------------------------------------
# Public predicate dispatch (pred(bbox, geom) argument order, like the ref)
# ---------------------------------------------------------------------------

COMPARISON_MODES = (
    "within",
    "contains",
    "intersects",
    "touches",
    "overlaps",
    "crosses",
    "disjoint",
    "equals",
)


def bbox_predicate(mode: str, geom: Geometry, box: Box) -> bool:
    """Evaluate ``ST_<mode>(bbox_polygon, geom)`` (bbox first — reference
    CASE at ``xcube_geodb/sql/geodb.sql:1204-1214``)."""
    if mode == "intersects":
        return _intersects(geom, box)
    if mode == "disjoint":
        return not _intersects(geom, box)
    if mode == "contains":
        # ST_Contains(box, geom): geom ⊆ box and interiors meet
        return _geom_within_box(geom, box) and _interiors_intersect(geom, box)
    if mode == "within":
        # ST_Within(box, geom): box ⊆ geom
        return _box_within_geom(geom, box)
    if mode == "touches":
        return _intersects(geom, box) and not _interiors_intersect(geom, box)
    if mode == "overlaps":
        if geom.dimension != 2:
            return False
        return (
            _interiors_intersect(geom, box)
            and not _geom_within_box(geom, box)
            and not _box_within_geom(geom, box)
        )
    if mode == "crosses":
        if geom.dimension >= 2:
            return False
        return _interiors_intersect(geom, box) and not _geom_within_box(geom, box)
    if mode == "equals":
        if geom.dimension != 2 or not _geom_within_box(geom, box):
            return False
        box_area = (box[2] - box[0]) * (box[3] - box[1])
        tol = _REL_EPS * max(box_area, 1.0)
        clip_area = sum(
            _polygon_clip_area(leaf.parts, box)
            for leaf in _leaves(geom)
            if leaf.kind == "Polygon"
        )
        return clip_area >= box_area - tol
    raise GeoDBError(
        f"Unknown comparison mode: {mode!r} (expected one of {COMPARISON_MODES})"
    )
