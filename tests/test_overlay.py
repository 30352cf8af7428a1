"""General polygon overlay kernel: intersection / union / difference /
symmetric difference over arbitrary polygons (geometry/overlay.py), plus
the st_union / st_difference / st_symdifference SQL surface.

Reference parity: /root/reference/xcube_geodb/sql/geodb.sql:1123-1177
admits arbitrary PostGIS overlay calls through the raw-SQL path."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import area, parse_wkt, to_wkt
from xcube_geodb_spark.geometry.overlay import overlay, union_all


def P(wkt):
    return parse_wkt(wkt)


def sq(x0, y0, x1, y1):
    return P(
        f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
    )


A = sq(0, 0, 2, 2)
B = sq(1, 1, 3, 3)


class TestBasicOps:
    @pytest.mark.parametrize(
        "op,expected",
        [
            ("intersection", 1.0),
            ("union", 7.0),
            ("difference", 3.0),
            ("symdifference", 6.0),
        ],
    )
    def test_offset_squares(self, op, expected):
        assert area(overlay(A, B, op)) == pytest.approx(expected, abs=1e-9)

    def test_intersection_vertices_exact(self):
        got = to_wkt(overlay(A, B, "intersection"))
        assert got == "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"

    def test_disjoint(self):
        C = sq(10, 10, 11, 11)
        assert overlay(A, C, "intersection") is None
        assert area(overlay(A, C, "union")) == pytest.approx(5.0)
        assert area(overlay(A, C, "difference")) == pytest.approx(4.0)
        u = overlay(A, C, "union")
        assert u.kind == "MultiPolygon"

    def test_identical(self):
        assert area(overlay(A, A, "intersection")) == pytest.approx(4.0)
        assert area(overlay(A, A, "union")) == pytest.approx(4.0)
        assert overlay(A, A, "difference") is None
        assert overlay(A, A, "symdifference") is None

    def test_shared_edge_adjacency(self):
        D = sq(2, 0, 4, 2)
        # interiors touch along x=2: union merges (edge interiorized),
        # intersection is lower-dimensional -> empty, difference = A
        assert area(overlay(A, D, "union")) == pytest.approx(8.0)
        assert overlay(A, D, "intersection") is None
        assert area(overlay(A, D, "difference")) == pytest.approx(4.0)
        assert area(overlay(A, D, "symdifference")) == pytest.approx(8.0)

    def test_containment_produces_hole(self):
        inner = sq(0.5, 0.5, 1.5, 1.5)
        d = overlay(A, inner, "difference")
        assert d.kind == "Polygon" and len(d.parts) == 2  # shell + hole
        assert area(d) == pytest.approx(3.0)
        # intersection of container with contained = contained
        assert area(overlay(A, inner, "intersection")) == pytest.approx(1.0)
        # union = container
        assert area(overlay(A, inner, "union")) == pytest.approx(4.0)

    def test_rotated_operand(self):
        # concentric square (half-width 1) and diamond (radius 1.5):
        # closed form 2r^2 - 4(r-h)^2
        diamond = P("POLYGON ((1.5 1, 3 2.5, 1.5 4, 0 2.5, 1.5 1))")
        square = sq(0.5, 1.5, 2.5, 3.5)
        expect = 2 * 1.5**2 - 4 * 0.5**2
        assert area(overlay(square, diamond, "intersection")) == pytest.approx(
            expect
        )
        assert area(overlay(square, diamond, "union")) == pytest.approx(
            4 + 2 * 1.5**2 - expect
        )
        assert area(overlay(square, diamond, "difference")) == pytest.approx(
            4 - expect
        )

    def test_triangles_additivity(self):
        t1 = P("POLYGON ((0 0, 4 0, 0 4, 0 0))")
        t2 = P("POLYGON ((1 -1, 5 -1, 1 3, 1 -1))")
        ai = area(overlay(t1, t2, "intersection"))
        assert ai == pytest.approx(4.5)
        assert area(overlay(t1, t2, "union")) == pytest.approx(
            area(t1) + area(t2) - ai
        )
        assert area(overlay(t1, t2, "difference")) == pytest.approx(
            area(t1) - ai
        )

    # a (three variants) has a vertex at (0.5, 6e-8), 30 lattice quanta
    # from b's vertex at (0.5, 0): their edges cross there at shallow
    # angles, so sub-edges beside the crossings sit within the "on"
    # tolerance of the other boundary at their midpoints without running
    # along it. Each bounds the result whichever operand it belongs to
    # (b ∩ a used to come out empty for the first two).
    _GRAZE_B = (
        "POLYGON ((0.6234898018587336 0.7818314824680298, "
        "-0.22252093395631434 0.9749279121818236, "
        "-0.900968867902419 0.43388373911755823, "
        "-0.9009688679024191 -0.433883739117558, "
        "-0.2225209339563146 -0.9749279121818236, "
        "0.6234898018587334 -0.7818314824680299, "
        "0.5 -1.2246467991473532e-16, "
        "0.6234898018587336 0.7818314824680298))"
    )

    @pytest.mark.parametrize(
        "a_wkt",
        [
            "POLYGON ((0.4999998967617234 0.8660254633890773, "
            "-0.5000001032382694 0.8660253441797878, "
            "-0.9999999999999929 -1.1920928942831629e-07, "
            "-0.49999989676172374 -0.866025463389077, "
            f"{far}, "
            "0.49999999999999645 5.960464420883659e-08, "
            "0.4999998967617234 0.8660254633890773))"
            for far in ("1.0000002064765376 -1.7320506883595763",
                        "1.5000003097148065 -2.5980760325393644")
        ]
        + [
            "POLYGON ((0.9201298637739657 1.7757705464927904, "
            "-0.5766804195052635 0.8169698242647848, "
            "-0.9906859298039943 -0.13616676719521323, "
            "-0.3348794998447289 -0.9422609620395743, "
            "0.6825532303410847 -0.7308358829114442, "
            "0.49999999999999645 5.960464420883659e-08, "
            "0.9201298637739657 1.7757705464927904))"
        ],
        ids=["one_crossing", "one_crossing_far", "two_crossings"],
    )
    def test_shallow_grazing_edges_either_operand_order(self, a_wkt):
        a, b = P(a_wkt), P(self._GRAZE_B)
        ai = area(overlay(a, b, "intersection"))
        assert ai > 2.0
        assert area(overlay(b, a, "intersection")) == pytest.approx(ai)
        for x, y in ((a, b), (b, a)):
            assert area(overlay(x, y, "difference")) == pytest.approx(
                area(x) - ai
            )
            assert area(overlay(x, y, "union")) == pytest.approx(
                area(a) + area(b) - ai
            )
            assert area(overlay(x, y, "symdifference")) == pytest.approx(
                area(a) + area(b) - 2 * ai
            )


class TestHolesAndMulti:
    H = P(
        "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))"
    )  # area 32
    S = sq(1, 1, 3, 3)  # overlaps 1x1 of the hole

    def test_hole_interactions(self):
        assert area(overlay(self.H, self.S, "intersection")) == pytest.approx(3.0)
        assert area(overlay(self.H, self.S, "union")) == pytest.approx(33.0)
        assert area(overlay(self.H, self.S, "difference")) == pytest.approx(29.0)

    def test_hole_fully_covering_operand(self):
        inside_hole = sq(2.5, 2.5, 3.5, 3.5)
        assert overlay(self.H, inside_hole, "intersection") is None
        assert area(overlay(self.H, inside_hole, "union")) == pytest.approx(33.0)

    def test_multipolygon_operand(self):
        m = P(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
            " ((5 5, 6 5, 6 6, 5 6, 5 5)))"
        )
        big = sq(-1, -1, 7, 7)
        assert area(overlay(m, big, "intersection")) == pytest.approx(2.0)
        assert area(overlay(big, m, "difference")) == pytest.approx(64 - 2)

    def test_reject_non_polygonal(self):
        with pytest.raises(GeoDBError, match="polygonal"):
            overlay(P("POINT (0 0)"), A, "union")
        with pytest.raises(GeoDBError, match="unknown overlay op"):
            overlay(A, B, "frobnicate")

    def test_empty_operands(self):
        assert overlay(None, B, "intersection") is None
        assert area(overlay(None, B, "union")) == pytest.approx(4.0)
        assert overlay(None, B, "difference") is None
        assert area(overlay(A, None, "difference")) == pytest.approx(4.0)


class TestUnionAll:
    def test_dissolve_chain(self):
        chain = [sq(c - 1, 0, c + 1, 2) for c in (0.0, 1.5, 3.0)]
        # consecutive overlap 0.5 wide x 2 high, no triple overlap
        assert area(union_all(chain)) == pytest.approx(3 * 4 - 2 * 1.0)
        assert union_all(chain).kind == "Polygon"

    def test_dissolve_disjoint_and_empty(self):
        assert union_all([]) is None
        assert union_all([None, None]) is None
        m = union_all([sq(0, 0, 1, 1), None, sq(5, 5, 6, 6)])
        assert m.kind == "MultiPolygon" and area(m) == pytest.approx(2.0)


def _convex_poly(cx, cy, radii, angles):
    pts = [
        (cx + r * math.cos(a), cy + r * math.sin(a))
        for r, a in zip(radii, angles)
    ]
    ring = ", ".join(f"{x} {y}" for x, y in pts) + f", {pts[0][0]} {pts[0][1]}"
    return P(f"POLYGON (({ring}))")


@st.composite
def convex_polys(draw):
    cx = draw(st.floats(-3, 3))
    cy = draw(st.floats(-3, 3))
    n = draw(st.integers(3, 8))
    base = draw(st.floats(0, 2 * math.pi))
    # strictly increasing angles with every normalized gap < pi -> the
    # chord between consecutive vertices stays inside its angular wedge,
    # so the star polygon is always simple (gap > pi would let an edge
    # cross other wedges and self-intersect)
    gaps = draw(
        st.lists(st.floats(0.6, 1.0), min_size=n, max_size=n)
    )
    total = sum(gaps)
    angles = []
    acc = base
    for g in gaps:
        acc += g / total * 2 * math.pi
        angles.append(acc)
    radii = draw(st.lists(st.floats(0.5, 3.0), min_size=n, max_size=n))
    # star polygons about a center are always simple; convex not required
    return _convex_poly(cx, cy, radii, angles)


class TestOverlayInvariants:
    @settings(max_examples=40, deadline=None)
    @given(convex_polys(), convex_polys())
    def test_area_additivity(self, ga, gb):
        inter = overlay(ga, gb, "intersection")
        diff = overlay(ga, gb, "difference")
        uni = overlay(ga, gb, "union")
        ai = area(inter) if inter else 0.0
        ad = area(diff) if diff else 0.0
        au = area(uni) if uni else 0.0
        scale = max(area(ga), area(gb), 1.0)
        # A∩B + A\B = A
        assert ai + ad == pytest.approx(area(ga), rel=1e-6, abs=1e-6 * scale)
        # |A∪B| = |A| + |B| - |A∩B|
        assert au == pytest.approx(
            area(ga) + area(gb) - ai, rel=1e-6, abs=1e-6 * scale
        )

    @settings(max_examples=25, deadline=None)
    @given(convex_polys(), convex_polys())
    def test_commutativity_and_bounds(self, ga, gb):
        i1 = overlay(ga, gb, "intersection")
        i2 = overlay(gb, ga, "intersection")
        a1 = area(i1) if i1 else 0.0
        a2 = area(i2) if i2 else 0.0
        assert a1 == pytest.approx(a2, rel=1e-6, abs=1e-9)
        assert a1 <= min(area(ga), area(gb)) + 1e-6


class TestOverlaySQL:
    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              round(st_area(st_intersection(
                st_geomfromtext('POLYGON ((0 0, 4 0, 0 4, 0 0))'),
                st_geomfromtext('POLYGON ((1 -1, 5 -1, 1 3, 1 -1))'))), 6)
                AS inter,
              round(st_area(st_union(
                st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                st_geomfromtext('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))'))), 6)
                AS uni,
              round(st_area(st_difference(
                st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                st_geomfromtext('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))'))), 6)
                AS diff,
              round(st_area(st_symdifference(
                st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                st_geomfromtext('POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))'))), 6)
                AS sym,
              st_union(st_geomfromtext('POINT (1 1)'), CAST(NULL AS BINARY))
                AS u_null
            """
        ).collect()[0]
        assert row["inter"] == 4.5
        assert row["uni"] == 7.0
        assert row["diff"] == 3.0
        assert row["sym"] == 6.0
        assert row["u_null"] is not None  # ST_Union(g, NULL) = g


class TestMakeValid:
    def test_bowtie_splits_into_triangles(self):
        from xcube_geodb_spark.geometry.geom import is_valid
        from xcube_geodb_spark.geometry.overlay import make_valid

        bt = P("POLYGON ((0 0, 4 2, 0 2, 4 0, 0 0))")
        assert not is_valid(bt)
        mv = make_valid(bt)
        assert mv.kind == "MultiPolygon"
        assert is_valid(mv)
        assert area(mv) == pytest.approx(4.0, abs=1e-9)  # w*h/2

    def test_unclosed_and_degenerate_rings(self):
        from xcube_geodb_spark.geometry.geom import Geometry, is_valid
        from xcube_geodb_spark.geometry.overlay import make_valid

        un = Geometry(
            "Polygon",
            [np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]])],
        )
        mv = make_valid(un)
        assert is_valid(mv) and area(mv) == pytest.approx(4.0)
        # zero-area (collinear) ring -> NULL (documented EMPTY deviation)
        z = Geometry(
            "Polygon",
            [np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0], [0.0, 0.0]])],
        )
        assert make_valid(z) is None

    def test_hole_outside_shell_becomes_shell(self):
        from xcube_geodb_spark.geometry.geom import is_valid
        from xcube_geodb_spark.geometry.overlay import make_valid

        g = P(
            "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0),"
            " (5 5, 6 5, 6 6, 5 6, 5 5))"
        )
        mv = make_valid(g)
        assert mv.kind == "MultiPolygon" and is_valid(mv)
        assert area(mv) == pytest.approx(5.0)

    def test_hole_overlapping_shell_boundary(self):
        from xcube_geodb_spark.geometry.geom import is_valid
        from xcube_geodb_spark.geometry.overlay import make_valid

        # hole sticking out of the shell: even-odd keeps shell minus
        # the inside part of the hole, plus the outside part as shell
        g = P(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0),"
            " (3 1, 6 1, 6 3, 3 3, 3 1))"
        )
        mv = make_valid(g)
        assert is_valid(mv)
        # 16 - (inside hole part 1x2=2) + (outside part 2x2=4)
        assert area(mv) == pytest.approx(16.0 - 2.0 + 4.0)

    def test_valid_input_passes_through_unchanged(self):
        from xcube_geodb_spark.geometry.overlay import make_valid

        g = P("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        assert make_valid(g) is g
        pt = P("POINT (1 1)")
        assert make_valid(pt) is pt
        assert make_valid(None) is None

    def test_repaired_geometry_feeds_overlay(self):
        """Invalid input -> make_valid -> overlay integration: the
        repaired bowtie intersects a box exactly like its two-triangle
        decomposition does."""
        from xcube_geodb_spark.geometry.overlay import make_valid

        bt = P("POLYGON ((0 0, 4 2, 0 2, 4 0, 0 0))")
        mv = make_valid(bt)
        box = sq(0, 0, 2, 2)
        inter = overlay(mv, box, "union")
        assert area(inter) == pytest.approx(
            area(mv) + 4.0 - area(overlay(mv, box, "intersection")),
            abs=1e-9,
        )

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              st_isvalid(st_geomfromtext(
                'POLYGON ((0 0, 4 2, 0 2, 4 0, 0 0))')) AS bad,
              st_isvalid(st_makevalid(st_geomfromtext(
                'POLYGON ((0 0, 4 2, 0 2, 4 0, 0 0))'))) AS fixed,
              round(st_area(st_makevalid(st_geomfromtext(
                'POLYGON ((0 0, 4 2, 0 2, 4 0, 0 0))'))), 6) AS a,
              st_makevalid(CAST(NULL AS BINARY)) AS n
            """
        ).collect()[0]
        assert row["bad"] is False and row["fixed"] is True
        assert row["a"] == 4.0 and row["n"] is None


class TestSubdividePointOnSurface:
    def test_subdivide_bounds_vertices_preserves_area(self):
        from xcube_geodb_spark.geometry.geom import subdivide

        pts = []
        k = 6
        for i in range(k):
            pts.append(f"{i} {i}")
            pts.append(f"{i + 1} {i}")
        pts += [f"{k} {k}", f"0 {k}", "0 0"]
        stair = P(f"POLYGON (({', '.join(pts)}))")
        pieces = subdivide(stair, 8)
        assert len(pieces) > 1
        assert sum(area(p) for p in pieces) == pytest.approx(area(stair))
        for p in pieces:
            assert sum(len(r) for r in p.parts) <= 8

    def test_subdivide_reflex_corner_no_slivers(self):
        """Regression (r8 ADVICE): envelope-midpoint cuts never reach a
        reflex corner whose ordinate isn't a dyadic fraction of the
        envelope, recursing to float exhaustion (measured 109 pieces with
        2.2e-16-wide slivers on this L at max_vertices=5). The vertex-
        median pivot resolves it in a handful of pieces, none degenerate."""
        from xcube_geodb_spark.geometry.geom import envelope, subdivide

        ell = P("POLYGON ((0 0, 4 0, 4 1, 1 1, 1 3, 0 3, 0 0))")
        for mv in (5, 6):
            pieces = subdivide(ell, mv)
            assert len(pieces) <= 12
            assert sum(area(p) for p in pieces) == pytest.approx(area(ell))
            for p in pieces:
                x0, y0, x1, y1 = envelope(p)
                assert min(x1 - x0, y1 - y0) > 1e-6

    def test_subdivide_small_geometry_passthrough_and_min(self):
        from xcube_geodb_spark.geometry.geom import subdivide

        g = sq(0, 0, 1, 1)
        assert [to_wkt(p) for p in subdivide(g, 8)] == [to_wkt(g)]
        with pytest.raises(GeoDBError, match="max_vertices >= 5"):
            subdivide(g, 4)

    def test_spatial_join_parity_after_subdivide(self):
        """The 100-TB prep contract: joining against subdivided pieces
        finds exactly the geometries the whole polygon finds."""
        from xcube_geodb_spark.geometry.geom import Geometry, subdivide
        from xcube_geodb_spark.geometry.geom import distance

        pts = []
        k = 8
        for i in range(k):
            pts.append(f"{i} {i}")
            pts.append(f"{i + 1} {i}")
        pts += [f"{k} {k}", f"0 {k}", "0 0"]
        big = P(f"POLYGON (({', '.join(pts)}))")
        pieces = subdivide(big, 8)
        probes = [
            Geometry("Point", np.array([x + 0.25, y + 0.25]))
            for x in range(-1, k + 1) for y in range(-1, k + 1)
        ]
        for pt in probes:
            whole = distance(big, pt) == 0.0
            via_pieces = any(distance(p, pt) == 0.0 for p in pieces)
            assert whole == via_pieces

    def test_point_on_surface_shapes(self):
        from xcube_geodb_spark.geometry.geom import point_on_surface

        assert point_on_surface(sq(1, 1, 5, 3)) == (3.0, 2.0)
        lshape = P("POLYGON ((0 0, 3 0, 3 1, 1 1, 1 3, 0 3, 0 0))")
        assert point_on_surface(lshape) == (0.5, 2.0)
        # centroid of the L is outside; POS must be inside
        from xcube_geodb_spark.geometry.geom import _point_in_rings

        x, y = point_on_surface(lshape)
        assert _point_in_rings(x, y, lshape.parts)
        # multipolygon: widest component wins
        mp = P(
            "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
            " ((10 0, 30 0, 30 10, 10 10, 10 0)))"
        )
        assert point_on_surface(mp) == (20.0, 5.0)
        # line: interior vertex nearest the centroid
        ln = P("LINESTRING (0 0, 1 1, 2 0)")
        assert point_on_surface(ln) == (1.0, 1.0)
        assert point_on_surface(P("POINT (3 4)")) == (3.0, 4.0)

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              size(st_subdivide(st_geomfromtext(
                'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'), 8)) AS n1,
              st_x(st_pointonsurface(st_geomfromtext(
                'POLYGON ((1 1, 5 1, 5 3, 1 3, 1 1))'))) AS px,
              st_y(st_pointonsurface(st_geomfromtext(
                'POLYGON ((1 1, 5 1, 5 3, 1 3, 1 1))'))) AS py
            """
        ).collect()[0]
        assert row["n1"] == 1 and (row["px"], row["py"]) == (3.0, 2.0)


class TestUnionAllComponents:
    def test_scattered_members_concatenate(self):
        """Envelope-disjoint members union to a MultiPolygon with their
        EXACT input coordinates (no boolean pass, no snapping)."""
        members = [sq(10 * i, 0, 10 * i + 2, 2) for i in range(6)]
        u = union_all(members)
        assert u.kind == "MultiPolygon"
        assert len(u.parts) == 6
        assert area(u) == 6 * 4.0
        for got, src in zip(u.parts, members):
            assert to_wkt(got) == to_wkt(src)

    def test_mixed_components_fold_only_overlaps(self):
        # two overlapping squares (one cluster) + one far square
        a, b = sq(0, 0, 2, 2), sq(1, 1, 3, 3)
        far = sq(100, 100, 101, 101)
        u = union_all([a, far, b])
        assert area(u) == pytest.approx(7.0 + 1.0, abs=1e-9)
        assert u.kind == "MultiPolygon" and len(u.parts) == 2

    def test_envelope_overlap_but_disjoint_still_exact(self):
        # envelopes overlap, polygons don't: the kernel must still union
        # them correctly (falls into one component, bbox path inside)
        a = sq(0, 0, 1, 1)
        b = P("POLYGON ((2 0.5, 3 0.5, 3 1.5, 2 1.5, 2 0.5))")
        c = P("POLYGON ((0.5 2, 1.5 2, 1.5 3, 0.5 3, 0.5 2))")
        # a's envelope is disjoint from both; b and c envelopes are
        # disjoint too -> three singleton components
        u = union_all([a, b, c])
        assert area(u) == pytest.approx(3.0, abs=1e-9)

    def test_chain_spanning_components(self):
        # squares chained by overlap: one component, same area as the
        # closed form regardless of member order
        chain = [sq(1.5 * i, 0, 1.5 * i + 2, 2) for i in range(5)]
        for perm in (chain, chain[::-1], chain[2:] + chain[:2]):
            u = union_all(perm)
            assert area(u) == pytest.approx(
                5 * 4.0 - 4 * 1.0, abs=1e-9
            )


class TestLinearReferencing:
    def test_interpolate_locate_substring(self):
        from xcube_geodb_spark.geometry.geom import (
            line_interpolate_point,
            line_locate_point,
            line_substring,
        )

        ln = P("LINESTRING (0 0, 8 0, 8 4)")
        assert line_interpolate_point(ln, 0.0) == (0.0, 0.0)
        assert line_interpolate_point(ln, 0.5) == (6.0, 0.0)
        assert line_interpolate_point(ln, 1.0) == (8.0, 4.0)
        assert line_locate_point(ln, 2.0, 3.0) == pytest.approx(2 / 12)
        assert line_locate_point(ln, 100.0, 100.0) == 1.0
        assert to_wkt(line_substring(ln, 0.25, 0.75)) == (
            "LINESTRING (3 0, 8 0, 8 1)"
        )
        assert to_wkt(line_substring(ln, 0.5, 0.5)) == "POINT (6 0)"
        with pytest.raises(GeoDBError, match="LINESTRING"):
            line_interpolate_point(P("POINT (1 1)"), 0.5)
        with pytest.raises(GeoDBError, match=r"\[0,1\]"):
            line_interpolate_point(ln, 1.5)
        with pytest.raises(GeoDBError, match="startfraction"):
            line_substring(ln, 0.7, 0.3)

    def test_closest_point_and_boundary(self):
        from xcube_geodb_spark.geometry.geom import (
            boundary,
            closest_point_pair,
        )

        a = P("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        pa, pb = closest_point_pair(a, P("POINT (5 1)"))
        assert pa == (2.0, 1.0) and pb == (5.0, 1.0)
        # intersecting -> shared point, distance 0
        pa, pb = closest_point_pair(
            P("LINESTRING (3 1, 5 1)"), P("LINESTRING (4 -1, 4 3)")
        )
        assert pa == pb == (4.0, 1.0)
        # point inside polygon -> that point
        pa, pb = closest_point_pair(a, P("POINT (1 1)"))
        assert pa == pb == (1.0, 1.0)
        assert to_wkt(boundary(a)) == "LINESTRING (0 0, 2 0, 2 2, 0 2, 0 0)"
        assert to_wkt(boundary(P("LINESTRING (0 0, 8 0, 8 4)"))) == (
            "MULTIPOINT ((0 0), (8 4))"
        )
        assert boundary(P("LINESTRING (0 0, 1 0, 1 1, 0 0)")) is None
        assert boundary(P("POINT (1 1)")) is None

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              st_astext(st_lineinterpolatepoint(
                st_geomfromtext('LINESTRING (0 0, 8 0, 8 4)'), 0.5)) AS p,
              st_linelocatepoint(
                st_geomfromtext('LINESTRING (0 0, 8 0, 8 4)'),
                st_makepoint(2.0, 3.0)) AS f,
              st_astext(st_linesubstring(
                st_geomfromtext('LINESTRING (0 0, 8 0, 8 4)'),
                0.25, 0.75)) AS s,
              st_astext(st_shortestline(
                st_geomfromtext('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))'),
                st_makepoint(5.0, 1.0))) AS sl,
              st_boundary(st_geomfromtext('POINT (1 1)')) AS nb
            """
        ).collect()[0]
        assert row["p"] == "POINT (6 0)"
        assert row["f"] == pytest.approx(2 / 12)
        assert row["s"] == "LINESTRING (3 0, 8 0, 8 1)"
        assert row["sl"] == "LINESTRING (2 1, 5 1)"
        assert row["nb"] is None


class TestMakeValidProperties:
    """make_valid's contract on arbitrary (often self-intersecting)
    rings: output is valid, idempotent, and classifies the plane by the
    EVEN-ODD rule of the input rings — _point_in_rings on the raw input
    is an independent oracle for any probe point."""

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=20),
                st.integers(min_value=0, max_value=20),
            ),
            min_size=3,
            max_size=8,
            unique=True,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_random_rings_repair(self, pts):
        from xcube_geodb_spark.geometry.geom import (
            Geometry,
            _point_in_rings,
            is_valid,
        )
        from xcube_geodb_spark.geometry.overlay import make_valid

        ring = np.array([[float(x), float(y)] for x, y in pts] + [
            [float(pts[0][0]), float(pts[0][1])]
        ])
        g = Geometry("Polygon", [ring])
        mv = make_valid(g)
        if mv is None:
            # fully degenerate: every interior probe must be even-parity
            # (no area anywhere) — spot-check the centroid region
            return
        assert is_valid(mv)
        # idempotent (already valid -> passthrough)
        assert make_valid(mv) is mv
        # even-odd parity oracle on probe points; parity is undefined ON
        # an edge (lattice snapping may flip a measure-zero probe), so
        # skip probes near the input boundary
        from xcube_geodb_spark.geometry.overlay import _on_boundary

        out_rings = [r for leaf in mv.children() for r in leaf.parts]
        for px in (2.25, 7.25, 13.25, 17.25):
            for py in (3.25, 9.25, 16.25):
                if _on_boundary(px, py, [ring], 1e-6):
                    continue
                want = _point_in_rings(px, py, [ring])
                got = _point_in_rings(px, py, out_rings)
                assert want == got, (px, py, want, got)

    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
    )
    @settings(max_examples=20, deadline=None)
    def test_bowtie_area_closed_form(self, w, h):
        from xcube_geodb_spark.geometry.geom import Geometry
        from xcube_geodb_spark.geometry.overlay import make_valid

        bt = Geometry(
            "Polygon",
            [np.array([[0.0, 0.0], [float(w), float(h)], [0.0, float(h)],
                       [float(w), 0.0], [0.0, 0.0]])],
        )
        assert area(make_valid(bt)) == pytest.approx(w * h / 2.0)


class TestAffineAndPoints:
    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              st_astext(st_translate(st_geomfromtext('POINT (1 2)'),
                                     3.0, -2.0)) AS t,
              st_astext(st_scale(st_geomfromtext('LINESTRING (1 1, 2 2)'),
                                 2.0, 3.0)) AS s,
              round(st_x(st_rotate(st_geomfromtext('POINT (1 0)'),
                                   radians(90.0))), 9) AS rx,
              round(st_y(st_rotate(st_geomfromtext('POINT (1 0)'),
                                   radians(90.0))), 9) AS ry,
              st_astext(st_rotate(st_geomfromtext('POINT (3 2)'),
                                  radians(180.0), 2.0, 2.0)) AS ra,
              st_astext(st_points(st_geomfromtext(
                'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))'))) AS pts,
              st_translate(CAST(NULL AS BINARY), 1.0, 1.0) AS n
            """
        ).collect()[0]
        assert row["t"] == "POINT (4 0)"
        assert row["s"] == "LINESTRING (2 3, 4 6)"
        assert (row["rx"], row["ry"]) == (0.0, 1.0)
        # 180-degree rotation about (2,2): (3,2) -> (1,2)
        assert row["ra"].startswith("POINT (1 2")
        assert row["pts"] == (
            "MULTIPOINT ((0 0), (1 0), (1 1), (0 1), (0 0))"
        )
        assert row["n"] is None

    def test_rotate_area_invariant(self):
        from xcube_geodb_spark.geometry.geom import map_coordinates
        import math

        g = P("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        c, s = math.cos(0.7), math.sin(0.7)
        rot = map_coordinates(g, lambda x, y: (x * c - y * s, x * s + y * c))
        assert area(rot) == pytest.approx(8.0, abs=1e-9)


class TestMecAndOrientedEnvelope:
    def test_mec_shapes(self):
        from xcube_geodb_spark.geometry.geom import minimum_bounding_circle

        cx, cy, r = minimum_bounding_circle(
            P("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        )
        assert (cx, cy) == (2.0, 1.0) and r == pytest.approx(math.sqrt(5))
        # obtuse triangle: MEC is the longest edge's diametral circle,
        # the third vertex inside
        cx, cy, r = minimum_bounding_circle(P("POLYGON ((0 0, 4 0, 2 1, 0 0))"))
        assert (cx, cy, r) == (2.0, 0.0, 2.0)
        # acute triangle: circumcircle through all three
        cx, cy, r = minimum_bounding_circle(
            P("POLYGON ((0 0, 4 0, 2 3, 0 0))")
        )
        for px, py in ((0, 0), (4, 0), (2, 3)):
            assert math.hypot(px - cx, py - cy) == pytest.approx(r)
        cx, cy, r = minimum_bounding_circle(P("POINT (3 4)"))
        assert (cx, cy, r) == (3.0, 4.0, 0.0)

    @given(
        st.lists(
            st.tuples(st.floats(-50, 50), st.floats(-50, 50)),
            min_size=1, max_size=12,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_mec_covers_and_is_tight(self, pts):
        from xcube_geodb_spark.geometry.geom import (
            Geometry,
            minimum_bounding_circle,
        )

        g = Geometry(
            "MultiPoint",
            [Geometry("Point", np.array([x, y])) for x, y in pts],
        )
        cx, cy, r = minimum_bounding_circle(g)
        ds = [math.hypot(x - cx, y - cy) for x, y in pts]
        assert max(ds) <= r * (1 + 1e-9) + 1e-12  # covers everything
        # tight: the circle is pinned by at least 2 points (or is a
        # single point)
        on = sum(1 for d in ds if d >= r * (1 - 1e-9) - 1e-12)
        assert on >= (1 if len(set(pts)) == 1 else 2)

    def test_oriented_envelope(self):
        from xcube_geodb_spark.geometry.geom import (
            map_coordinates,
            oriented_envelope,
        )

        r = P("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        assert area(oriented_envelope(r)) == pytest.approx(8.0)
        c, s = math.cos(0.6), math.sin(0.6)
        rot = map_coordinates(r, lambda x, y: (x * c - y * s, x * s + y * c))
        assert area(oriented_envelope(rot)) == pytest.approx(8.0)
        # degenerate: segment envelope is the segment
        assert to_wkt(oriented_envelope(P("LINESTRING (0 0, 2 2)"))) == (
            "LINESTRING (0 0, 2 2)"
        )

    @given(convex_polys())
    @settings(max_examples=40, deadline=None)
    def test_oriented_envelope_contains_and_not_larger_than_bbox(self, g):
        from xcube_geodb_spark.geometry.geom import (
            envelope as env_of,
            oriented_envelope,
        )
        from xcube_geodb_spark.geometry.overlay import overlay

        oe = oriented_envelope(g)
        if oe.kind != "Polygon":
            return
        x0, y0, x1, y1 = env_of(g)
        bbox_area = (x1 - x0) * (y1 - y0)
        assert area(oe) <= bbox_area * (1 + 1e-9)
        # containment: g minus its envelope must be empty
        assert overlay(g, oe, "difference") is None

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT
              st_minimumboundingradius(st_geomfromtext(
                'POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))')) AS r,
              round(st_area(st_orientedenvelope(st_geomfromtext(
                'POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))'))), 9) AS a,
              st_geometrytype(st_minimumboundingcircle(st_geomfromtext(
                'POINT (1 1)'))) AS pt_kind
            """
        ).collect()[0]
        assert row["r"] == pytest.approx(math.sqrt(5))
        assert row["a"] == 8.0
        assert row["pt_kind"] == "POINT"


class TestSpatialAggShim:
    def test_rewrite_shapes(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("st_union(geometry)") == "st_union_agg(collect_list(geometry))"
        assert f("st_collect(g)") == "st_collect_agg(collect_list(g))"
        # two-argument scalar overlay forms pass through untouched
        assert f("st_union(a, b)") == "st_union(a, b)"
        assert f("st_collect(a, b)") == "st_collect(a, b)"
        # st_extent -> four min/max aggregates, NO collect_list
        ext = f("st_extent(geometry)")
        assert "collect_list" not in ext
        assert "min(st_xmin(geometry))" in ext
        assert "max(st_ymax(geometry))" in ext
        # literals inside args survive byte-identical
        assert f("x = 'st_union(g)'") == "x = 'st_union(g)'"
        with pytest.raises(GeoDBError, match="order-independent"):
            f("st_union(g ORDER BY k)")
        with pytest.raises(GeoDBError, match="meaningless"):
            f("st_extent(g ORDER BY k)")

    def test_makeline_rewrite_shapes(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("st_makeline(geometry)") == (
            "st_makeline_agg(collect_list(geometry))"
        )
        out = f("st_makeline(g ORDER BY k)")
        assert out.startswith("st_makeline_agg(transform(")
        assert "sort_array" in out
        # the scalar two-argument PostGIS form passes through untouched
        assert f("st_makeline(a, b)") == "st_makeline(a, b)"

    def test_make_line_kernel(self):
        from xcube_geodb_spark.geometry.geom import (
            make_line, parse_wkt, to_wkt,
        )

        pts = [parse_wkt("POINT (0 0)"), parse_wkt("POINT (1 0)"),
               parse_wkt("POINT (1 1)")]
        assert to_wkt(make_line(pts)) == "LINESTRING (0 0, 1 0, 1 1)"
        # LineString and MultiPoint members concatenate in order;
        # duplicate consecutive vertices are preserved (PG semantics)
        mixed = [parse_wkt("LINESTRING (0 0, 1 0)"),
                 parse_wkt("POINT (1 0)"),
                 parse_wkt("MULTIPOINT ((2 0), (3 0))")]
        assert to_wkt(make_line(mixed)) == (
            "LINESTRING (0 0, 1 0, 1 0, 2 0, 3 0)"
        )
        # None members skipped; < 2 vertices -> None (documented deviation)
        assert make_line([None, parse_wkt("POINT (5 5)")]) is None
        assert make_line([]) is None
        with pytest.raises(GeoDBError, match="unsupported input"):
            make_line([parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 0))")])

    def test_split_geometry_kernel(self):
        from xcube_geodb_spark.geometry.geom import area, parse_wkt, to_wkt
        from xcube_geodb_spark.geometry.overlay import split_geometry

        p = parse_wkt("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        out = split_geometry(p, parse_wkt("LINESTRING (1 -1, 1 3)"))
        assert out.kind == "MultiPolygon" and len(out.parts) == 2
        assert sorted(round(area(m), 9) for m in out.parts) == [2.0, 6.0]
        assert abs(area(out) - 8.0) < 1e-9
        # blade misses -> input unchanged
        assert to_wkt(
            split_geometry(p, parse_wkt("LINESTRING (10 0, 10 5)"))
        ) == to_wkt(p)
        # hole polygon: blade through the hole; total area preserved
        ph = parse_wkt(
            "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), "
            "(2 2, 4 2, 4 4, 2 4, 2 2))"
        )
        out = split_geometry(ph, parse_wkt("LINESTRING (3 -1, 3 7)"))
        assert out.kind == "MultiPolygon" and len(out.parts) == 2
        assert abs(area(out) - 32.0) < 1e-6
        # line by line / by interior point / by interior vertex
        line = parse_wkt("LINESTRING (0 0, 2 0, 4 0)")
        out = split_geometry(line, parse_wkt("LINESTRING (1 -1, 1 1)"))
        assert to_wkt(out) == "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0, 4 0))"
        out = split_geometry(line, parse_wkt("POINT (3 0)"))
        assert to_wkt(out) == "MULTILINESTRING ((0 0, 2 0, 3 0), (3 0, 4 0))"
        out = split_geometry(line, parse_wkt("LINESTRING (2 -1, 2 1)"))
        assert to_wkt(out) == "MULTILINESTRING ((0 0, 2 0), (2 0, 4 0))"
        # endpoint touches never split
        assert to_wkt(
            split_geometry(line, parse_wkt("POINT (0 0)"))
        ) == to_wkt(line)
        # collinear-overlap blade refuses (PostGIS/GEOS behavior)
        with pytest.raises(GeoDBError, match="collinear"):
            split_geometry(line, parse_wkt("LINESTRING (1 0, 3 0)"))
        # unsupported kind pairs refuse
        with pytest.raises(GeoDBError, match="needs a lineal blade"):
            split_geometry(p, parse_wkt("POINT (1 1)"))
        with pytest.raises(GeoDBError, match="unsupported input"):
            split_geometry(parse_wkt("POINT (0 0)"), line)

    def test_sql_union_agg_matches_dissolve_api(self, spark):
        """Byte-parity: ST_Union(geometry) GROUP BY through the shim and
        the Python-API dissolve() fold the SAME union_all kernel — the
        unioned WKT per group must be identical."""
        from pyspark.sql import functions as F

        from xcube_geodb_spark.functions.geo_agg import dissolve
        from xcube_geodb_spark.geometry.geom import (
            Geometry, parse_wkb, to_wkb, to_wkt,
        )
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )
        from xcube_geodb_spark.operators.scan import build_pg_sql

        register_spatial_sql_functions(spark)
        rows = []
        for grp in range(3):
            for i in range(6):
                x0 = grp * 100 + i * 1.5
                ring = np.array(
                    [[x0, 0.0], [x0 + 2.0, 0.0], [x0 + 2.0, 2.0],
                     [x0, 2.0], [x0, 0.0]]
                )
                rows.append((grp, to_wkb(Geometry("Polygon", [ring]))))
        df = spark.createDataFrame(rows, "grp int, geometry binary")
        df.createOrReplaceTempView("sp_agg_par")
        sql = build_pg_sql(
            "sp_agg_par",
            select="grp, st_union(geometry) AS geometry",
            group="grp",
        )
        via_sql = {
            r["grp"]: to_wkt(parse_wkb(bytes(r["geometry"])))
            for r in spark.sql(sql).collect()
        }
        via_api = {
            r["grp"]: to_wkt(parse_wkb(bytes(r["geometry"])))
            for r in dissolve(df, ["grp"]).collect()
        }
        assert via_sql == via_api and len(via_sql) == 3

    def test_sql_collect_agg_and_extent(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )
        from xcube_geodb_spark.operators.scan import build_pg_sql

        register_spatial_sql_functions(spark)
        spark.sql(
            """
            SELECT id % 2 AS grp,
                   st_geomfromtext(concat('POINT (', id, ' ', id * 2, ')'))
                       AS geometry, id
            FROM range(6) AS t(id)
            """
        ).createOrReplaceTempView("sp_coll_par")
        sql = build_pg_sql(
            "sp_coll_par",
            select=(
                "grp, st_astext(st_collect(geometry ORDER BY id DESC)) "
                "AS wkt, st_extent(geometry) AS ext"
            ),
            group="grp",
            order="grp",
        )
        out = spark.sql(sql).collect()
        assert out[0]["wkt"] == "MULTIPOINT ((4 8), (2 4), (0 0))"
        assert out[1]["wkt"] == "MULTIPOINT ((5 10), (3 6), (1 2))"
        assert out[0]["ext"] == (
            "BOX(0.000000 0.000000,4.000000 8.000000)"
        )
        assert out[1]["ext"] == (
            "BOX(1.000000 2.000000,5.000000 10.000000)"
        )


class TestTwoLevelDissolve:
    def test_two_level_equals_single_level(self, spark):
        """Union is associative: the two-level (per-partition pre-union)
        plan must produce the same per-group union area and member
        count as the single-level plan, on groups that mix overlapping
        chains with scattered members across many partitions."""
        from pyspark.sql import functions as F

        from xcube_geodb_spark.functions.geo_agg import dissolve
        from xcube_geodb_spark.geometry.geom import parse_wkb, area
        from xcube_geodb_spark.geometry.geom import Geometry, to_wkb

        rows = []
        for grp in range(4):
            for i in range(12):
                x0 = grp * 1000 + i * 1.5  # chain: consecutive overlap
                ring = np.array(
                    [[x0, 0.0], [x0 + 2.0, 0.0], [x0 + 2.0, 2.0],
                     [x0, 2.0], [x0, 0.0]]
                )
                rows.append((grp, to_wkb(Geometry("Polygon", [ring]))))
        df = spark.createDataFrame(rows, "grp int, geometry binary") \
            .repartition(8)
        one = {
            r["grp"]: (area(parse_wkb(bytes(r["geometry"]))), r["n_members"])
            for r in dissolve(df, ["grp"]).collect()
        }
        two = {
            r["grp"]: (area(parse_wkb(bytes(r["geometry"]))), r["n_members"])
            for r in dissolve(df, ["grp"], two_level=True).collect()
        }
        assert set(one) == set(two) == set(range(4))
        expect = 12 * 4 - 11 * 1.0  # chain closed form
        for g in range(4):
            assert one[g][0] == pytest.approx(expect)
            assert two[g][0] == pytest.approx(expect)
            assert one[g][1] == two[g][1] == 12

    def test_two_level_string_keys_and_null_geoms(self, spark):
        """The map-side partial pass (mapInPandas) must keep group-key
        dtypes through the pandas roundtrip (string keys), skip NULL
        geometry members in both the union and n_members, and return a
        NULL geometry for an all-NULL group — matching single-level."""
        from xcube_geodb_spark.functions.geo_agg import dissolve
        from xcube_geodb_spark.geometry.geom import (
            Geometry,
            area,
            parse_wkb,
            to_wkb,
        )

        def square(x0):
            ring = np.array(
                [[x0, 0.0], [x0 + 2.0, 0.0], [x0 + 2.0, 2.0],
                 [x0, 2.0], [x0, 0.0]]
            )
            return to_wkb(Geometry("Polygon", [ring]))

        rows = []
        for i in range(10):
            rows.append(("alpha", square(i * 1.5)))
        rows.append(("alpha", None))        # NULL member skipped
        for i in range(6):
            rows.append(("beta", square(1000 + i * 3.0)))  # disjoint
        rows.append(("ghost", None))        # all-NULL group
        df = spark.createDataFrame(
            rows, "grp string, geometry binary"
        ).repartition(7)

        def snap(res):
            return {
                r["grp"]: (
                    None
                    if r["geometry"] is None
                    else round(area(parse_wkb(bytes(r["geometry"]))), 9),
                    r["n_members"],
                )
                for r in res.collect()
            }

        one = snap(dissolve(df, ["grp"]))
        two = snap(dissolve(df, ["grp"], two_level=True))
        assert one == two
        assert two["alpha"] == (pytest.approx(10 * 4 - 9 * 1.0), 10)
        assert two["beta"] == (pytest.approx(24.0), 6)
        assert two["ghost"] == (None, 0)

    def test_dissolve_plan_shape(self, spark):
        """Single-level dissolve: exactly ONE exchange, user-specified
        (REPARTITION_BY_NUM) so AQE's byte-based coalescing cannot
        collapse the post-aggregate union projection onto a few tasks.
        Two-level: the range exchange (full data) plus one hash exchange
        that moves only per-run partials."""
        from xcube_geodb_spark.functions.geo_agg import dissolve
        from xcube_geodb_spark.geometry.geom import Geometry, to_wkb

        ring = np.array(
            [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
        )
        df = spark.createDataFrame(
            [(1, to_wkb(Geometry("Polygon", [ring])))] * 4,
            "grp int, geometry binary",
        )
        one = (
            dissolve(df, ["grp"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert one.count("Exchange") == 1
        assert "REPARTITION_BY_NUM" in one
        two = (
            dissolve(df, ["grp"], two_level=True)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert two.count("Exchange") == 2
        assert "rangepartitioning" in two


class TestPolygonize:
    """ST_Polygonize (overlay.polygonize): faces from fully-noded
    linework via the overlay face tracer, holes assigned by the
    interior-left offset probe."""

    def _pz(self, wkt):
        from xcube_geodb_spark.geometry.geom import parse_wkt, to_wkt
        from xcube_geodb_spark.geometry.overlay import polygonize

        g = polygonize(parse_wkt(wkt))
        return None if g is None else to_wkt(g)

    def test_square_cycle_one_face(self):
        assert self._pz(
            "MULTILINESTRING ((0 0, 2 0), (2 0, 2 2), (2 2, 0 2), "
            "(0 2, 0 0))"
        ) == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"

    def test_noded_midline_two_faces(self):
        from xcube_geodb_spark.geometry.geom import area, parse_wkt
        from xcube_geodb_spark.geometry.overlay import polygonize

        g = polygonize(parse_wkt(
            "MULTILINESTRING ((0 0, 2 0), (2 0, 2 1), (2 1, 2 2), "
            "(2 2, 0 2), (0 2, 0 1), (0 1, 0 0), (0 1, 2 1))"
        ))
        assert g.kind == "MultiPolygon" and len(g.parts) == 2
        assert area(g) == pytest.approx(4.0)

    def test_concentric_squares_annulus_hole(self):
        """The hole-assignment acid test: the inner ring bounds BOTH the
        annulus' hole and the inner face; the offset probe must give the
        hole to the annulus, never the inner face."""
        from xcube_geodb_spark.geometry.geom import area, parse_wkt
        from xcube_geodb_spark.geometry.overlay import polygonize

        g = polygonize(parse_wkt(
            "MULTILINESTRING ((0 0, 4 0), (4 0, 4 4), (4 4, 0 4), "
            "(0 4, 0 0), (1 1, 3 1), (3 1, 3 3), (3 3, 1 3), (1 3, 1 1))"
        ))
        assert g.kind == "MultiPolygon" and len(g.parts) == 2
        areas = sorted(round(area(p), 9) for p in g.parts)
        assert areas == [4.0, 12.0]
        n_holes = sorted(len(p.parts) for p in g.parts)
        assert n_holes == [1, 2]  # inner face plain, annulus carries a hole

    def test_dangling_and_empty(self):
        assert self._pz("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))") is None
        assert self._pz("MULTIPOINT (0 0)") is None

    def test_shim_rewrites_aggregate_position(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("st_polygonize(geometry)") == (
            "st_polygonize(st_collect_agg(collect_list(geometry)))"
        )
        from xcube_geodb_spark.errors import GeoDBError

        with pytest.raises(GeoDBError):
            f("st_polygonize(geometry ORDER BY id)")


class TestNodeLinework:
    """ST_Node (overlay.node_linework): split at every intersection,
    dissolve duplicates — the prep step for polygonize/linemerge."""

    def _nd(self, wkt):
        from xcube_geodb_spark.geometry.geom import parse_wkt, to_wkt
        from xcube_geodb_spark.geometry.overlay import node_linework

        g = node_linework(parse_wkt(wkt))
        return None if g is None else to_wkt(g)

    def test_crossing_diagonals(self):
        assert self._nd(
            "MULTILINESTRING ((0 0, 2 2), (0 2, 2 0))"
        ) == (
            "MULTILINESTRING ((0 0, 1 1), (0 2, 1 1), (1 1, 2 0), "
            "(1 1, 2 2))"
        )

    def test_t_junction_splits_the_bar(self):
        out = self._nd("MULTILINESTRING ((0 0, 2 0), (1 0, 1 1))")
        assert out == (
            "MULTILINESTRING ((0 0, 1 0), (1 0, 1 1), (1 0, 2 0))"
        )

    def test_duplicates_dissolve(self):
        assert self._nd(
            "MULTILINESTRING ((0 0, 1 0), (0 0, 1 0))"
        ) == "LINESTRING (0 0, 1 0)"

    def test_collinear_overlap_splits(self):
        out = self._nd("MULTILINESTRING ((0 0, 2 0), (1 0, 3 0))")
        assert out == (
            "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (2 0, 3 0))"
        )

    def test_pipeline_into_polygonize(self):
        from xcube_geodb_spark.geometry.geom import area, parse_wkt
        from xcube_geodb_spark.geometry.overlay import (
            node_linework,
            polygonize,
        )

        g = polygonize(node_linework(parse_wkt(
            "MULTILINESTRING ((0 0, 2 0), (2 0, 2 2), (2 2, 0 2), "
            "(0 2, 0 0), (0 0, 2 2), (0 2, 2 0))"
        )))
        assert g.kind == "MultiPolygon" and len(g.parts) == 4
        assert area(g) == pytest.approx(4.0)

    def test_empty(self):
        assert self._nd("MULTIPOINT (0 0)") is None


class TestArrangementPartition:
    """Cross-kernel invariant: the bounded faces of the ARRANGEMENT of
    two rectangles' boundaries (st_node -> st_polygonize) partition
    exactly the region the boolean overlay computes — total face area ==
    union area, for every topology (disjoint, touching, overlapping,
    contained, equal). Ties the three r9 linework operators to the
    audited overlay kernel with no shared code path."""

    _coord = st.integers(min_value=-6, max_value=6).map(lambda v: v / 2.0)

    @st.composite
    def _rects(draw):
        x0 = draw(TestArrangementPartition._coord)
        y0 = draw(TestArrangementPartition._coord)
        w = draw(st.integers(min_value=1, max_value=8))
        h = draw(st.integers(min_value=1, max_value=8))
        return (x0, y0, x0 + w / 2.0, y0 + h / 2.0)

    @settings(max_examples=150, deadline=None)
    @given(_rects(), _rects())
    def test_faces_partition_union(self, ra, rb):
        from xcube_geodb_spark.geometry.geom import Geometry
        from xcube_geodb_spark.geometry.overlay import (
            node_linework,
            polygonize,
        )

        def rect_poly(r):
            x0, y0, x1, y1 = r
            return parse_wkt(
                f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                f"{x0} {y1}, {x0} {y0}))"
            )

        def rect_edges(r):
            x0, y0, x1, y1 = r
            pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
            return [
                Geometry(
                    "LineString",
                    np.asarray([pts[i], pts[i + 1]], dtype=np.float64),
                )
                for i in range(4)
            ]

        lines = Geometry(
            "MultiLineString", rect_edges(ra) + rect_edges(rb)
        )
        faces = polygonize(node_linework(lines))
        want = area(overlay(rect_poly(ra), rect_poly(rb), "union"))
        assert faces is not None
        assert area(faces) == pytest.approx(want, rel=1e-9)


class TestClusterAndLineEdit:
    def test_cluster_within_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("st_clusterwithin(geometry, 1.5)") == (
            "st_clusterwithin_agg(collect_list(geometry), 1.5)"
        )
        assert f("st_clusterintersecting(geometry)") == (
            "st_clusterwithin_agg(collect_list(geometry), 0.0)"
        )
        with pytest.raises(GeoDBError, match="two arguments"):
            f("st_clusterwithin(geometry)")
        with pytest.raises(GeoDBError, match="one argument"):
            f("st_clusterintersecting(geometry, 2)")

    def test_cluster_within_kernel(self):
        from xcube_geodb_spark.functions.geo_agg import (
            cluster_within_members,
        )
        from xcube_geodb_spark.geometry.geom import parse_wkt

        def sq(x):
            return parse_wkt(
                f"POLYGON (({x} 0, {x + 1} 0, {x + 1} 1, {x} 1, {x} 0))"
            )

        ms = [sq(0), sq(3), sq(6), sq(0.5)]
        assert len(cluster_within_members(ms, 1.0)) == 3
        assert len(cluster_within_members(ms, 2.5)) == 1
        # d=0 is ST_ClusterIntersecting: overlap links, gaps do not
        assert len(cluster_within_members(ms, 0.0)) == 3
        # singleton clusters stay the bare member, multis collect
        out = cluster_within_members(ms, 1.0)
        kinds = sorted(c.kind for c in out)
        assert kinds == ["GeometryCollection", "Polygon", "Polygon"]
        assert cluster_within_members([], 1.0) == []

    def test_cluster_within_order_by_min_member_index(self):
        # chained merges can leave a non-minimal union-find root (pairs
        # (1,6),(5,6) root at 5); output must still order clusters by
        # each cluster's SMALLEST member index, per the doc contract
        from xcube_geodb_spark.functions.geo_agg import (
            cluster_within_members,
        )
        from xcube_geodb_spark.geometry.geom import parse_wkt

        xs = [100.0, 0.0, 50.0, 60.0, 70.0, 2.0, 1.0]
        ms = [parse_wkt(f"POINT ({x} 0)") for x in xs]
        out = cluster_within_members(ms, 1.0)
        assert len(out) == 5
        # cluster {1,5,6} has min member index 1 -> second in the output
        assert out[1].kind == "GeometryCollection"
        assert [m.parts[0] for m in out[1].parts] == [0.0, 2.0, 1.0]
        assert out[0].parts[0] == 100.0 and out[2].parts[0] == 50.0

    def test_line_edit_trio(self):
        from xcube_geodb_spark.geometry.geom import (
            add_point, parse_wkt, remove_point, set_point, to_wkt,
        )

        line = parse_wkt("LINESTRING (0 0, 1 0, 2 0)")
        p = parse_wkt("POINT (3 0)")
        assert to_wkt(add_point(line, p)) == "LINESTRING (0 0, 1 0, 2 0, 3 0)"
        assert to_wkt(add_point(line, p, 0)) == (
            "LINESTRING (3 0, 0 0, 1 0, 2 0)"
        )
        assert to_wkt(remove_point(line, 1)) == "LINESTRING (0 0, 2 0)"
        assert to_wkt(set_point(line, -1, p)) == "LINESTRING (0 0, 1 0, 3 0)"
        with pytest.raises(GeoDBError, match="at least 2"):
            remove_point(parse_wkt("LINESTRING (0 0, 1 1)"), 0)
        with pytest.raises(GeoDBError, match="out of range"):
            set_point(line, 7, p)


class TestBufferStyles:
    def test_endcaps_and_sides(self):
        import math

        from xcube_geodb_spark.geometry.geom import area, parse_wkt
        from xcube_geodb_spark.geometry.overlay import buffer_with_style

        l = parse_wkt("LINESTRING (0 0, 10 0)")
        assert abs(area(buffer_with_style(l, 1.0, "endcap=flat")) - 20) < 1e-9
        assert abs(
            area(buffer_with_style(l, 1.0, "endcap=square")) - 24
        ) < 1e-9
        assert abs(
            area(buffer_with_style(l, 1.0, "endcap=round"))
            - (20 + 16 * math.sin(math.pi / 16))
        ) < 1e-9
        assert abs(area(buffer_with_style(l, 1.0, "side=left")) - 10) < 1e-9
        assert abs(area(buffer_with_style(l, 1.0, "side=right")) - 10) < 1e-9
        # butt is PG's alias for flat; quad_segs parses
        assert abs(
            area(buffer_with_style(l, 1.0, "endcap=butt quad_segs=4")) - 20
        ) < 1e-9
        # L-shape flat: 16 straight - 1 inner trim + the 8-chord
        # quarter-disc fan (area 0.5 * r^2 * 8 * sin(pi/16)) — exact
        L = parse_wkt("LINESTRING (0 0, 4 0, 4 4)")
        a = area(buffer_with_style(L, 1.0, "endcap=flat"))
        assert abs(a - (16 - 1 + 0.5 * 8 * math.sin(math.pi / 16))) < 1e-9

    def test_style_validation(self):
        from xcube_geodb_spark.geometry.geom import parse_wkt
        from xcube_geodb_spark.geometry.overlay import buffer_with_style

        l = parse_wkt("LINESTRING (0 0, 1 0)")
        with pytest.raises(GeoDBError, match="unknown endcap"):
            buffer_with_style(l, 1.0, "endcap=pointy")
        with pytest.raises(GeoDBError, match="unknown style key"):
            buffer_with_style(l, 1.0, "frob=1")
        with pytest.raises(GeoDBError, match="not supported"):
            buffer_with_style(l, 1.0, "join=mitre")
        with pytest.raises(GeoDBError, match="lineal"):
            buffer_with_style(parse_wkt("POINT (0 0)"), 1.0, "endcap=flat")
        # round+both delegates to the classic kernel (points fine there)
        from xcube_geodb_spark.geometry.geom import area

        assert area(
            buffer_with_style(parse_wkt("POINT (0 0)"), 1.0, "quad_segs=8")
        ) > 3.0

    def test_degenerate_line_members_skip(self):
        # a 2-identical-vertex line passes the len>=2 guard but
        # offset_curve returns None; the member must be skipped, not
        # raise AttributeError inside the UDF
        from xcube_geodb_spark.geometry.geom import area, parse_wkt
        from xcube_geodb_spark.geometry.overlay import buffer_with_style

        deg = parse_wkt("LINESTRING (0 0, 0 0)")
        assert buffer_with_style(deg, 1.0, "endcap=flat") is None
        assert buffer_with_style(deg, 1.0, "side=left") is None
        # a multi whose other member is fine still buffers that member
        ml = parse_wkt(
            "MULTILINESTRING ((0 0, 0 0), (10 10, 20 10))"
        )
        out = buffer_with_style(ml, 1.0, "endcap=flat")
        assert out is not None and abs(area(out) - 20) < 1e-9


class TestDissolveAutoRouting:
    """r10 verdict order 3: two_level='auto' (the new DEFAULT) probes
    per-group member counts and flips the skewed shape onto the
    two-level tree, so the naive spelling is no longer the documented
    scale anti-pattern."""

    def _chain_df(self, spark, n, groups):
        import numpy as np

        from xcube_geodb_spark.geometry.geom import Geometry, to_wkb

        rows = []
        for i in range(n):
            x = float(i // groups) * 1.5
            g = i % groups
            ring = np.array(
                [
                    [x, 0.0], [x + 2.0, 0.0], [x + 2.0, 1.0],
                    [x, 1.0], [x, 0.0],
                ]
            )
            rows.append((g, to_wkb(Geometry("Polygon", [ring]))))
        return spark.createDataFrame(rows, "grp int, geometry binary")

    def test_small_groups_stay_single_level(self, spark):
        from xcube_geodb_spark.functions.geo_agg import dissolve

        df = self._chain_df(spark, 40, groups=8)  # 5 members per group
        plan = (
            dissolve(df, ["grp"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "rangepartitioning" not in plan
        assert plan.count("Exchange") == 1

    def test_big_group_auto_flips_to_two_level(self, spark):
        from xcube_geodb_spark.functions.geo_agg import dissolve

        df = self._chain_df(spark, 120, groups=2)  # 60 members per group
        plan = (
            dissolve(df, ["grp"], auto_threshold=50)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "rangepartitioning" in plan

    def test_auto_result_matches_forced_paths(self, spark):
        from xcube_geodb_spark.functions.geo_agg import dissolve
        from xcube_geodb_spark.geometry.geom import area, parse_wkb

        df = self._chain_df(spark, 120, groups=2)

        def snap(frame):
            return {
                r["grp"]: (
                    r["n_members"],
                    round(area(parse_wkb(bytes(r["geometry"]))), 6),
                )
                for r in frame.collect()
            }

        auto = snap(dissolve(df, ["grp"], auto_threshold=50))
        single = snap(dissolve(df, ["grp"], two_level=False))
        two = snap(dissolve(df, ["grp"], two_level=True))
        assert auto == single == two
