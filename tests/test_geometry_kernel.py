"""Geometry kernel golden tests.

Mirrors the semantics the reference pins in
``tests/sql/test_sql_functions.py`` (bbox hit/miss per comparison mode,
extent strings, geometry types) — evaluated against our pure-Python kernel.
"""

import math

import numpy as np
import pytest

from xcube_geodb_spark.geometry import (
    bbox_predicate,
    envelope,
    from_geojson,
    geometry_type_wkb,
    parse_wkb,
    parse_wkb_hex,
    parse_wkt,
    to_geojson,
    to_wkb,
    to_wkb_hex,
    to_wkt,
)
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import (
    Geometry,
    area,
    bbox_polygon,
    is_valid,
    simplify,
)


class TestCodecs:
    def test_wkt_point_roundtrip(self):
        g = parse_wkt("POINT (10 20)")
        assert g.kind == "Point"
        assert to_wkt(g) == "POINT (10 20)"
        assert to_wkt(parse_wkb(to_wkb(g))) == "POINT (10 20)"

    def test_ewkt_srid(self):
        g = parse_wkt("SRID=3794;POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        assert g.srid == 3794
        assert g.kind == "Polygon"

    def test_ewkb_hex_roundtrip(self):
        # EWKB hex like PostGIS returns (SRID flag set)
        g = parse_wkt("SRID=4326;POINT (-6 9)")
        h = to_wkb_hex(g)
        g2 = parse_wkb_hex(h)
        assert g2.srid == 4326
        assert to_wkt(g2) == "POINT (-6 9)"

    def test_postgis_ewkb_sample(self):
        # PostGIS-produced hex EWKB for SRID=4326;POINT(1 2)
        h = "0101000020E6100000000000000000F03F0000000000000040"
        g = parse_wkb_hex(h)
        assert g.srid == 4326
        assert to_wkt(g) == "POINT (1 2)"

    def test_polygon_with_hole(self):
        g = parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
        assert len(g.parts) == 2
        rt = parse_wkb(to_wkb(g))
        assert to_wkt(rt) == to_wkt(g)

    def test_multipolygon_roundtrip(self):
        w = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"
        g = parse_wkt(w)
        assert to_wkt(parse_wkb(to_wkb(g))) == w

    def test_geojson_roundtrip(self):
        gj = {"type": "Polygon", "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]}
        g = from_geojson(gj)
        assert to_geojson(g) == {
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]],
        }

    def test_geometry_type_header_only(self):
        assert geometry_type_wkb(to_wkb(parse_wkt("POINT (1 1)"))) == "POINT"
        assert (
            geometry_type_wkb(to_wkb(parse_wkt("SRID=4326;POINT (1 1)"), srid=4326))
            == "POINT"
        )
        assert (
            geometry_type_wkb(to_wkb(parse_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")))
            == "MULTIPOLYGON"
        )

    def test_envelope(self):
        g = parse_wkt("POLYGON ((-6 9, -6 10, 3 10, 3 9, -6 9))")
        assert envelope(g) == (-6.0, 9.0, 3.0, 10.0)


# The FIXTURES.md §3 micro-collection: SRID 4326 polygons with union extent
# BOX(-6 9, 5 11) — from reference tests/sql/test_sql_functions.py:341-367
POLY_A = "POLYGON ((-5 10, -5 11, 5 11, 5 10, -5 10))"
POLY_B = "POLYGON ((-6 9, -6 10, 3 10, 3 9, -6 9))"


class TestBboxPredicates:
    def test_contains(self):
        box = (-10.0, 5.0, 10.0, 15.0)  # big box containing both polygons
        assert bbox_predicate("contains", parse_wkt(POLY_A), box)
        assert bbox_predicate("contains", parse_wkt(POLY_B), box)
        small = (-1.0, 9.5, 1.0, 10.5)
        assert not bbox_predicate("contains", parse_wkt(POLY_A), small)

    def test_empty_polygon_meets_nothing(self):
        # WKB polygon with no ring: as an empty multi-geometry, it is
        # disjoint from every box and satisfies no other mode
        import struct

        for wkb in (struct.pack("<BII", 1, 3, 0), struct.pack("<BII", 1, 6, 1) + struct.pack("<BII", 1, 3, 0)):
            g = parse_wkb(wkb)
            for mode in ("within", "contains", "intersects", "touches", "overlaps", "crosses", "equals"):
                assert not bbox_predicate(mode, g, (0.0, 0.0, 1.0, 1.0)), mode
            assert bbox_predicate("disjoint", g, (0.0, 0.0, 1.0, 1.0))

    def test_contains_point_on_boundary_is_false(self):
        box = (0.0, 0.0, 10.0, 10.0)
        assert not bbox_predicate("contains", parse_wkt("POINT (0 5)"), box)
        assert bbox_predicate("contains", parse_wkt("POINT (5 5)"), box)

    def test_within(self):
        # box within polygon A
        box = (-1.0, 10.25, 1.0, 10.75)
        assert bbox_predicate("within", parse_wkt(POLY_A), box)
        assert not bbox_predicate("within", parse_wkt(POLY_B), box)

    def test_within_respects_holes(self):
        donut = parse_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
        )
        assert bbox_predicate("within", donut, (1.0, 1.0, 3.0, 3.0))
        assert not bbox_predicate("within", donut, (4.5, 4.5, 5.5, 5.5))  # in hole
        assert not bbox_predicate("within", donut, (3.0, 3.0, 7.0, 7.0))  # spans hole

    def test_intersects_disjoint(self):
        g = parse_wkt(POLY_A)
        assert bbox_predicate("intersects", g, (0.0, 10.5, 20.0, 20.0))
        assert bbox_predicate("disjoint", g, (6.0, 10.0, 8.0, 11.0))
        assert not bbox_predicate("intersects", g, (6.0, 10.0, 8.0, 11.0))
        # box entirely inside polygon still intersects (no edge contact)
        assert bbox_predicate("intersects", g, (-1.0, 10.25, 1.0, 10.75))

    def test_touches(self):
        g = parse_wkt(POLY_A)  # spans x[-5,5], y[10,11]
        assert bbox_predicate("touches", g, (-5.0, 8.0, 5.0, 10.0))  # shares edge y=10
        assert bbox_predicate("touches", g, (5.0, 11.0, 7.0, 13.0))  # shares corner
        assert not bbox_predicate("touches", g, (0.0, 10.5, 20.0, 20.0))  # overlap

    def test_overlaps(self):
        g = parse_wkt(POLY_A)
        assert bbox_predicate("overlaps", g, (0.0, 10.5, 20.0, 20.0))
        assert not bbox_predicate("overlaps", g, (-10.0, 5.0, 10.0, 15.0))  # contains
        assert not bbox_predicate("overlaps", g, (6.0, 10.0, 8.0, 11.0))  # disjoint

    def test_crosses_line(self):
        line = parse_wkt("LINESTRING (-5 0, 5 0)")
        assert bbox_predicate("crosses", line, (-1.0, -1.0, 1.0, 1.0))
        assert not bbox_predicate("crosses", line, (-10.0, -1.0, 10.0, 1.0))  # inside
        poly = parse_wkt(POLY_A)
        assert not bbox_predicate("crosses", poly, (0.0, 10.5, 20.0, 20.0))

    def test_equals(self):
        box = (-5.0, 10.0, 5.0, 11.0)
        assert bbox_predicate("equals", parse_wkt(POLY_A), box)
        assert not bbox_predicate("equals", parse_wkt(POLY_B), box)

    def test_point_modes(self):
        pt = parse_wkt("POINT (-6 9)")
        assert bbox_predicate("intersects", pt, (-7.0, 8.0, -5.0, 10.0))
        assert bbox_predicate("contains", pt, (-7.0, 8.0, -5.0, 10.0))
        assert bbox_predicate("touches", pt, (-6.0, 9.0, 0.0, 10.0))  # on corner
        assert not bbox_predicate("within", pt, (-7.0, 8.0, -5.0, 10.0))

    def test_invalid_mode_raises(self):
        from xcube_geodb_spark.errors import GeoDBError

        with pytest.raises(GeoDBError):
            bbox_predicate("nope", parse_wkt(POLY_A), (0, 0, 1, 1))

    def test_multipolygon(self):
        mp = parse_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))")
        assert bbox_predicate("contains", mp, (-1.0, -1.0, 7.0, 7.0))
        assert not bbox_predicate("contains", mp, (-1.0, -1.0, 2.0, 2.0))
        assert bbox_predicate("intersects", mp, (-1.0, -1.0, 2.0, 2.0))

    def test_box_inside_hole_is_disjoint(self):
        donut = parse_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
        )
        assert bbox_predicate("disjoint", donut, (4.5, 4.5, 5.5, 5.5))


class TestMeasures:
    """area / length / perimeter / centroid (PostGIS ST_* semantics)."""

    def g(self, wkt):
        from xcube_geodb_spark.geometry.geom import parse_wkt

        return parse_wkt(wkt)

    def test_area_orientation_independent(self):
        from xcube_geodb_spark.geometry.geom import area

        ccw = self.g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        cw = self.g("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
        assert area(ccw) == area(cw) == 16.0

    def test_area_hole_subtracts(self):
        from xcube_geodb_spark.geometry.geom import area

        holed = self.g(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
        )
        assert area(holed) == 15.0

    def test_area_zero_for_lines_points(self):
        from xcube_geodb_spark.geometry.geom import area

        assert area(self.g("LINESTRING (0 0, 5 0)")) == 0.0
        assert area(self.g("POINT (1 2)")) == 0.0

    def test_length_vs_perimeter_split(self):
        from xcube_geodb_spark.geometry.geom import length, perimeter

        line = self.g("LINESTRING (0 0, 3 4, 3 10)")
        poly = self.g("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        assert length(line) == 11.0 and perimeter(line) == 0.0
        assert length(poly) == 0.0 and perimeter(poly) == 16.0

    def test_centroid_polygon_with_hole(self):
        from xcube_geodb_spark.geometry.geom import centroid

        holed = self.g(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
        )
        cx, cy = centroid(holed)
        # (16*2 - 1*1.5) / 15 for both axes
        assert abs(cx - 30.5 / 15) < 1e-12 and abs(cy - 30.5 / 15) < 1e-12

    def test_centroid_hole_winding_independent(self):
        # OGC/WKB convention: CCW shell + CW hole.  The hole must subtract
        # from the denominator regardless of its winding (r2 regression:
        # a CW hole ADDED its area).
        from xcube_geodb_spark.geometry.geom import centroid

        shell = "(0 0, 4 0, 4 4, 0 4, 0 0)"
        hole_ccw = "(0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5)"
        hole_cw = "(0.5 0.5, 0.5 1.5, 1.5 1.5, 1.5 0.5, 0.5 0.5)"
        expect = (16.0 * 2.0 - 1.0 * 1.0) / 15.0  # = 2.0666...
        for hole in (hole_ccw, hole_cw):
            cx, cy = centroid(self.g(f"POLYGON ({shell}, {hole})"))
            assert abs(cx - expect) < 1e-12 and abs(cy - expect) < 1e-12

    def test_centroid_mixed_winding_multipolygon(self):
        # One CCW shell and one CW shell: areas must not cancel to nan.
        from xcube_geodb_spark.geometry.geom import centroid

        m = self.g(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((10 0, 10 2, 12 2, 12 0, 10 0)))"
        )
        assert centroid(m) == (6.0, 1.0)

    def test_centroid_line_length_weighted(self):
        from xcube_geodb_spark.geometry.geom import centroid

        cx, cy = centroid(self.g("LINESTRING (0 0, 3 4, 3 10)"))
        assert abs(cx - 25.5 / 11) < 1e-12 and abs(cy - 52.0 / 11) < 1e-12

    def test_centroid_multipolygon(self):
        from xcube_geodb_spark.geometry.geom import centroid

        m = self.g(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((10 0, 12 0, 12 2, 10 2, 10 0)))"
        )
        assert centroid(m) == (6.0, 1.0)

    def test_centroid_highest_dimension_wins(self):
        from xcube_geodb_spark.geometry.geom import centroid, parse_wkt

        mix = parse_wkt(
            "GEOMETRYCOLLECTION (POINT (100 100),"
            " POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"
        )
        assert centroid(mix) == (1.0, 1.0)  # the point is ignored


class TestDistance:
    def g(self, wkt):
        from xcube_geodb_spark.geometry.geom import parse_wkt

        return parse_wkt(wkt)

    def test_point_point(self):
        from xcube_geodb_spark.geometry.geom import distance

        assert distance(self.g("POINT (0 0)"), self.g("POINT (3 4)")) == 5.0

    def test_point_segment_interior(self):
        from xcube_geodb_spark.geometry.geom import distance

        d = distance(self.g("POINT (5 3)"), self.g("LINESTRING (0 0, 10 0)"))
        assert abs(d - 3.0) < 1e-12

    def test_point_segment_beyond_endpoint(self):
        from xcube_geodb_spark.geometry.geom import distance

        d = distance(self.g("POINT (13 4)"), self.g("LINESTRING (0 0, 10 0)"))
        assert abs(d - 5.0) < 1e-12

    def test_point_outside_square_corner(self):
        from xcube_geodb_spark.geometry.geom import distance

        sq = self.g("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        d = distance(self.g("POINT (5 6)"), sq)
        assert abs(d - 5.0) < 1e-12  # corner (2,2): 3-4-5

    def test_point_inside_polygon_is_zero(self):
        from xcube_geodb_spark.geometry.geom import distance

        sq = self.g("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        assert distance(self.g("POINT (1 1)"), sq) == 0.0
        assert distance(sq, self.g("POINT (1 1)")) == 0.0

    def test_point_in_hole_uses_hole_boundary(self):
        from xcube_geodb_spark.geometry.geom import distance

        donut = self.g(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (4 4, 6 4, 6 6, 4 6, 4 4))"
        )
        d = distance(self.g("POINT (5 5)"), donut)
        assert abs(d - 1.0) < 1e-12  # nearest hole edge

    def test_crossing_lines_zero(self):
        from xcube_geodb_spark.geometry.geom import distance

        a = self.g("LINESTRING (0 0, 10 10)")
        b = self.g("LINESTRING (0 10, 10 0)")
        assert distance(a, b) == 0.0

    def test_touching_at_vertex_zero(self):
        from xcube_geodb_spark.geometry.geom import distance

        a = self.g("LINESTRING (0 0, 5 5)")
        b = self.g("LINESTRING (5 5, 9 0)")
        assert distance(a, b) == 0.0

    def test_parallel_segments(self):
        from xcube_geodb_spark.geometry.geom import distance

        a = self.g("LINESTRING (0 0, 10 0)")
        b = self.g("LINESTRING (0 2, 10 2)")
        assert abs(distance(a, b) - 2.0) < 1e-12

    def test_nested_polygons_zero(self):
        from xcube_geodb_spark.geometry.geom import distance

        outer = self.g("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        inner = self.g("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
        assert distance(outer, inner) == 0.0
        assert distance(inner, outer) == 0.0

    def test_polygon_in_hole_positive(self):
        from xcube_geodb_spark.geometry.geom import distance

        donut = self.g(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (3 3, 7 3, 7 7, 3 7, 3 3))"
        )
        island = self.g("POLYGON ((4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 4.5))")
        d = distance(donut, island)
        assert abs(d - 1.5) < 1e-12

    def test_multipoint_to_polygon(self):
        from xcube_geodb_spark.geometry.geom import distance

        mp = self.g("MULTIPOINT ((20 0), (5 1))")
        sq = self.g("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        assert abs(distance(mp, sq) - 3.0) < 1e-12


class TestBufferPoint:
    def test_buffer_is_regular_polygon(self):
        from xcube_geodb_spark.geometry.geom import area, buffer_point, perimeter

        import math

        g = buffer_point(2.0, 3.0, 1.0, quad_segs=8)
        assert g.kind == "Polygon"
        ring = g.parts[0]
        assert len(ring) == 33  # 32 vertices + closure
        # all vertices on the radius circle
        import numpy as np

        r = np.hypot(ring[:, 0] - 2.0, ring[:, 1] - 3.0)
        assert np.allclose(r, 1.0)
        # area of a regular 32-gon inscribed in r=1: (n/2) sin(2*pi/n)
        assert abs(area(g) - 16 * math.sin(math.pi / 16)) < 1e-12

    def test_buffer_contains_near_point(self):
        from xcube_geodb_spark.geometry.geom import buffer_point, distance, parse_wkt

        b = buffer_point(0.0, 0.0, 2.0)
        assert distance(b, parse_wkt("POINT (0.5 0.5)")) == 0.0
        assert distance(b, parse_wkt("POINT (3 0)")) > 0.9


class TestCentroidDegenerateRing:
    def test_zero_area_bowtie_ring_carries_no_weight(self):
        from xcube_geodb_spark.geometry.geom import centroid, parse_wkt

        # bowtie with zero signed area far from the valid square; its
        # moments must not skew the sibling polygon's centroid
        m = parse_wkt(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((100 100, 102 102, 102 100, 100 102, 100 100)))"
        )
        assert centroid(m) == (1.0, 1.0)


class TestIsValid:
    def _poly(self, coords):
        import numpy as np

        from xcube_geodb_spark.geometry.geom import Geometry

        return Geometry("Polygon", [np.array(c, dtype=float) for c in coords])

    def test_validity_matrix(self):
        import numpy as np

        from xcube_geodb_spark.geometry.geom import Geometry, is_valid

        square = self._poly([[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]])
        bowtie = self._poly([[(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)]])
        unclosed = self._poly([[(0, 0), (2, 0), (2, 2), (0, 2)]])
        zero_area = self._poly([[(0, 0), (2, 0), (0, 0), (2, 0), (0, 0)]])
        hole_inside = self._poly(
            [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
             [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]]
        )
        hole_outside = self._poly(
            [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
             [(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]]
        )
        assert is_valid(square)
        assert not is_valid(bowtie)
        assert not is_valid(unclosed)
        assert not is_valid(zero_area)
        assert is_valid(hole_inside)
        assert not is_valid(hole_outside)
        # points and lines are always valid (OGC: lines may self-cross)
        assert is_valid(Geometry("Point", np.array([1.0, 2.0])))
        zigzag = Geometry(
            "LineString",
            np.array([(0, 0), (2, 2), (2, 0), (0, 2)], dtype=float),
        )
        assert is_valid(zigzag)

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_isvalid(st_geomfromtext(
                       'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))')) AS ok,
                   st_isvalid(st_geomfromtext(
                       'POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))')) AS bowtie
            """
        ).collect()[0]
        assert row["ok"] is True
        assert row["bowtie"] is False


class TestSimplify:
    """st_simplify: Douglas-Peucker parity with PostGIS semantics
    (reference surface: arbitrary PostGIS via geodb_get_pg passthrough,
    /root/reference/xcube_geodb/sql/geodb.sql:1123-1177)."""


    def test_drops_near_collinear_keeps_corners(self):
        g = parse_wkt("LINESTRING(0 0, 1 0.01, 2 0, 3 1, 4 0)")
        out = simplify(g, 0.1)
        assert to_wkt(out) == "LINESTRING (0 0, 2 0, 3 1, 4 0)"

    def test_zero_tolerance_keeps_everything_noncollinear(self):
        g = parse_wkt("LINESTRING(0 0, 1 0.5, 2 0, 3 0.5)")
        assert to_wkt(simplify(g, 0.0)) == to_wkt(g)

    def test_exactly_collinear_dropped_at_zero_tolerance(self):
        g = parse_wkt("LINESTRING(0 0, 1 0, 2 0, 3 1)")
        assert to_wkt(simplify(g, 0.0)) == "LINESTRING (0 0, 2 0, 3 1)"

    def test_polygon_ring_stays_closed_and_valid(self):
        g = parse_wkt("POLYGON((0 0, 5 0.01, 10 0, 10 10, 5 10.01, 0 10, 0 0))")
        out = simplify(g, 0.1)
        ring = out.parts[0]
        assert (ring[0] == ring[-1]).all()
        assert is_valid(out)
        assert to_wkt(out) == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"

    def test_collapsed_hole_dropped_shell_kept(self):
        g = parse_wkt(
            "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (4 4, 4.1 4.05, 4.2 4, 4 4))"
        )
        out = simplify(g, 0.5)
        assert len(out.parts) == 1

    def test_collapsed_shell_returns_none(self):
        assert simplify(parse_wkt("POLYGON((0 0, 1 0.001, 2 0, 0 0))"), 0.5) is None

    def test_multilinestring_and_point_passthrough(self):
        m = parse_wkt("MULTILINESTRING((0 0, 1 0.001, 2 0), (0 0, 1 1))")
        out = simplify(m, 0.1)
        assert to_wkt(out) == "MULTILINESTRING ((0 0, 2 0), (0 0, 1 1))"
        p = parse_wkt("POINT(3 4)")
        assert simplify(p, 100.0) is p

    def test_vertices_within_tolerance_of_result(self):
        # every dropped vertex must lie within tolerance of the kept chain
        import numpy as np

        from xcube_geodb_spark.geometry.geom import _all_segments, _point_seg_dist_min

        rng = np.random.default_rng(7)
        xs = np.cumsum(rng.uniform(0.1, 1.0, 60))
        ys = rng.uniform(-0.2, 0.2, 60)
        arr = np.stack([xs, ys], axis=1)
        g = Geometry("LineString", arr)
        tol = 0.15
        out = simplify(g, tol)
        segs = _all_segments(out)
        for pt in arr:
            assert _point_seg_dist_min(pt[None, :], segs) <= tol + 1e-12

    def test_rejects_negative_tolerance(self):
        with pytest.raises(GeoDBError):
            simplify(parse_wkt("LINESTRING(0 0, 1 1)"), -1.0)

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_simplify(st_geomfromtext(
                       'LINESTRING (0 0, 1 0.01, 2 0)'), 0.1)) AS line,
                   st_simplify(st_geomfromtext(
                       'POLYGON ((0 0, 1 0.001, 2 0, 0 0))'), 0.5) AS collapsed
            """
        ).collect()[0]
        assert row["line"] == "LINESTRING (0 0, 2 0)"
        assert row["collapsed"] is None


class TestDistanceSphere:
    def test_known_values(self):
        from xcube_geodb_spark.geometry.geom import distance_sphere

        one_deg = distance_sphere(parse_wkt("POINT(0 0)"), parse_wkt("POINT(0 1)"))
        assert one_deg == pytest.approx(111195.08, abs=0.01)
        half = distance_sphere(parse_wkt("POINT(0 0)"), parse_wkt("POINT(180 0)"))
        assert half == pytest.approx(20015114.44, abs=0.01)
        assert distance_sphere(parse_wkt("POINT(7 7)"), parse_wkt("POINT(7 7)")) == 0.0

    def test_symmetry(self):
        from xcube_geodb_spark.geometry.geom import distance_sphere

        a, b = parse_wkt("POINT(-73.98 40.75)"), parse_wkt("POINT(2.35 48.85)")
        assert distance_sphere(a, b) == distance_sphere(b, a)
        # NYC <-> Paris ~ 5837 km
        assert distance_sphere(a, b) == pytest.approx(5_837_000, rel=0.01)

    def test_rejects_non_points(self):
        from xcube_geodb_spark.errors import GeoDBError
        from xcube_geodb_spark.geometry.geom import distance_sphere

        with pytest.raises(GeoDBError):
            distance_sphere(
                parse_wkt("POINT(0 0)"), parse_wkt("LINESTRING(0 0, 1 1)")
            )

    def test_sql_udf_matches_column_twin(self, spark):
        from pyspark.sql import functions as F

        from xcube_geodb_spark.geometry.crs import haversine_meters_col
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        df = spark.createDataFrame(
            [(0.0, 0.0, 10.0, 20.0), (-73.98, 40.75, 2.35, 48.85)],
            ["x1", "y1", "x2", "y2"],
        )
        df.createOrReplaceTempView("sphere_pairs")
        udf_vals = [
            r[0]
            for r in spark.sql(
                """
                SELECT st_distancesphere(
                    st_geomfromtext(concat('POINT (', x1, ' ', y1, ')')),
                    st_geomfromtext(concat('POINT (', x2, ' ', y2, ')')))
                FROM sphere_pairs
                """
            ).collect()
        ]
        col_vals = [
            r[0]
            for r in df.select(
                haversine_meters_col(
                    F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")
                )
            ).collect()
        ]
        for u, c in zip(udf_vals, col_vals):
            assert u == pytest.approx(c, abs=1e-6)


class TestCollectGeometries:
    def test_homogeneous_points_promote_to_multipoint(self, spark):
        from xcube_geodb_spark.functions.geo_agg import collect_geometries
        from xcube_geodb_spark.geometry.geom import parse_wkt

        rows = [
            (1, 1, to_wkb(parse_wkt("POINT(1 1)"))),
            (1, 2, to_wkb(parse_wkt("POINT(2 2)"))),
            (2, 3, to_wkb(parse_wkt("POINT(3 3)"))),
        ]
        df = spark.createDataFrame(rows, ["grp", "k", "geometry"])
        out = {
            r["grp"]: to_wkt(parse_wkb(bytes(r["geometry"])))
            for r in collect_geometries(df, ["grp"], order_col="k").collect()
        }
        assert out[1] == "MULTIPOINT ((1 1), (2 2))"
        assert out[2] == "MULTIPOINT ((3 3))"

    def test_mixed_kinds_promote_to_collection(self, spark):
        from xcube_geodb_spark.functions.geo_agg import collect_geometries

        rows = [
            (1, 1, to_wkb(parse_wkt("POINT(1 1)"))),
            (1, 2, to_wkb(parse_wkt("LINESTRING(0 0, 1 1)"))),
        ]
        df = spark.createDataFrame(rows, ["grp", "k", "geometry"])
        (row,) = collect_geometries(df, ["grp"], order_col="k").collect()
        g = parse_wkb(bytes(row["geometry"]))
        assert g.kind == "GeometryCollection"
        assert [c.kind for c in g.parts] == ["Point", "LineString"]

    def test_wkt_collector_matches_kernel(self, spark):
        from pyspark.sql import functions as F

        from xcube_geodb_spark.functions.geo_agg import collect_points_wkt

        df = spark.createDataFrame(
            [(1, 2, -14.8, 5.0), (1, 1, 3.25, -2.5)], ["grp", "k", "x", "y"]
        )
        (row,) = collect_points_wkt(df, ["grp"], "x", "y", "k", precision=2).collect()
        assert row["wkt"] == "MULTIPOINT (3.25 -2.50, -14.80 5.00)"
        plan = collect_points_wkt(df, ["grp"], "x", "y", "k")._jdf \
            .queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPointScalars:
    def test_makepoint_setsrid_azimuth(self, spark):
        import math

        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_makepoint(3.5, -2.0)) AS wkt,
                   st_azimuth(st_makepoint(0, 0), st_makepoint(0, 1)) AS north,
                   st_azimuth(st_makepoint(0, 0), st_makepoint(1, 0)) AS east,
                   st_azimuth(st_makepoint(0, 0), st_makepoint(0, -1)) AS south,
                   st_azimuth(st_makepoint(0, 0), st_makepoint(-1, 0)) AS west,
                   st_azimuth(st_makepoint(2, 2), st_makepoint(2, 2)) AS self_az
            """
        ).collect()[0]
        assert row["wkt"] == "POINT (3.5 -2)"
        assert row["north"] == 0.0
        assert row["east"] == pytest.approx(math.pi / 2)
        assert row["south"] == pytest.approx(math.pi)
        assert row["west"] == pytest.approx(3 * math.pi / 2)
        assert row["self_az"] is None

    def test_setsrid_roundtrip(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        (row,) = spark.sql(
            "SELECT st_setsrid(st_makepoint(1, 2), 3857) AS g"
        ).collect()
        g = parse_wkb(bytes(row["g"]))
        assert g.srid == 3857
        assert to_wkt(g) == "POINT (1 2)"


class TestClipByBox:
    def test_polygon_corner_clip(self):
        from xcube_geodb_spark.geometry.geom import area, clip_by_box

        g = parse_wkt("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))")
        c = clip_by_box(g, (5, 5, 20, 20))
        assert to_wkt(c) == "POLYGON ((5 5, 10 5, 10 10, 5 10, 5 5))"
        assert area(c) == 25.0

    def test_polygon_with_hole(self):
        from xcube_geodb_spark.geometry.geom import area, clip_by_box

        g = parse_wkt(
            "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),"
            " (2 2, 4 2, 4 4, 2 4, 2 2))"
        )
        # box covers half the hole
        c = clip_by_box(g, (0, 0, 3, 10))
        assert len(c.parts) == 2
        assert area(c) == 30.0 - 2.0  # 3x10 shell minus 1x2 hole part

    def test_line_splits_into_multilinestring(self):
        from xcube_geodb_spark.geometry.geom import clip_by_box

        l = parse_wkt("LINESTRING(-5 5, 5 5, 5 50, 8 50, 8 5, 20 5)")
        c = clip_by_box(l, (0, 0, 10, 10))
        assert c.kind == "MultiLineString"
        assert len(c.parts) == 2

    def test_outside_returns_none_inside_unchanged(self):
        from xcube_geodb_spark.geometry.geom import clip_by_box

        assert clip_by_box(parse_wkt("POINT(50 50)"), (0, 0, 10, 10)) is None
        assert clip_by_box(
            parse_wkt("POLYGON((90 90, 95 90, 95 95, 90 95, 90 90))"),
            (0, 0, 10, 10),
        ) is None
        p = parse_wkt("POINT(5 5)")
        assert clip_by_box(p, (0, 0, 10, 10)) is p
        sq = parse_wkt("POLYGON((1 1, 2 1, 2 2, 1 2, 1 1))")
        assert to_wkt(clip_by_box(sq, (0, 0, 10, 10))) == to_wkt(sq)

    def test_multipolygon_members_clip_independently(self):
        from xcube_geodb_spark.geometry.geom import clip_by_box

        mp = parse_wkt(
            "MULTIPOLYGON(((0 0, 4 0, 4 4, 0 4, 0 0)),"
            " ((20 20, 24 20, 24 24, 20 24, 20 20)),"
            " ((90 90, 95 90, 95 95, 90 95, 90 90)))"
        )
        c = clip_by_box(mp, (2, 2, 22, 22))
        assert c.kind == "MultiPolygon" and len(c.parts) == 2

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        (row,) = spark.sql(
            """
            SELECT st_area(st_clipbybox2d(
                       st_geomfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
                       st_makeenvelope(5, 5, 20, 20))) AS a,
                   st_clipbybox2d(
                       st_geomfromtext('POINT (50 50)'),
                       st_makeenvelope(0, 0, 1, 1)) AS outside
            """
        ).collect()
        assert row["a"] == 25.0
        assert row["outside"] is None


class TestSnapToGrid:
    def test_snap_and_null_cases(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        (row,) = spark.sql(
            """
            SELECT st_astext(st_snaptogrid(
                       st_geomfromtext('LINESTRING (0.26 0.77, 1.24 1.26)'),
                       0.5)) AS snapped,
                   st_snaptogrid(st_geomfromtext('POINT (1 1)'), 0) AS bad
            """
        ).collect()
        assert row["snapped"] == "LINESTRING (0.5 1, 1 1.5)"
        assert row["bad"] is None


class TestEnvelopeExpandIntersection:
    def test_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_envelope(st_geomfromtext(
                       'LINESTRING (1 2, 5 8)'))) AS env,
                   st_astext(st_expand(st_geomfromtext('POINT (5 5)'), 2)) AS exp,
                   st_area(st_intersection(
                       st_geomfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))'),
                       st_makeenvelope(5, 5, 20, 20))) AS a,
                   st_area(st_intersection(
                       st_makeenvelope(5, 5, 20, 20),
                       st_geomfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))')
                   )) AS a_flipped
            """
        ).collect()[0]
        assert row["env"] == "POLYGON ((1 2, 5 2, 5 8, 1 8, 1 2))"
        assert row["exp"] == "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))"
        assert row["a"] == 25.0 and row["a_flipped"] == 25.0

    def test_general_overlay_via_kernel(self, spark):
        # non-rectangular operands route to the general overlay kernel
        # (geometry/overlay.py) instead of raising — round 5 closed the
        # last PostGIS-passthrough gap
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT round(st_area(st_intersection(
                st_geomfromtext('POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))'),
                st_geomfromtext('POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))'))), 6)
                AS a
            """
        ).collect()[0]
        assert row["a"] == 4.0


class TestConvexHull:
    """st_convexhull: monotone-chain hull with GEOS degenerate-type parity
    (reference surface: arbitrary PostGIS via geodb_get_pg passthrough,
    /root/reference/xcube_geodb/sql/geodb.sql:1123-1177)."""

    def test_point_cloud_hull_is_bounding_triangle(self):
        from xcube_geodb_spark.geometry.geom import convex_hull

        g = parse_wkt("MULTIPOINT (0 0, 4 0, 2 3, 2 1, 1 1)")
        assert to_wkt(convex_hull(g)) == "POLYGON ((0 0, 4 0, 2 3, 0 0))"

    def test_square_with_interior_vertex(self):
        from xcube_geodb_spark.geometry.geom import convex_hull

        g = parse_wkt(
            "MULTIPOINT (0 0, 10 0, 10 10, 0 10, 5 5, 3 7)"
        )
        out = convex_hull(g)
        assert to_wkt(out) == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"

    def test_orientation_is_ccw_from_smallest_vertex(self):
        from xcube_geodb_spark.geometry.geom import _ring_shoelace, convex_hull

        g = parse_wkt("POLYGON ((2 0, 0 2, -2 0, 0 -2, 2 0))")
        ring = convex_hull(g).parts[0]
        assert _ring_shoelace(ring) > 0  # CCW shell
        assert tuple(ring[0]) == (-2.0, 0.0)  # lexicographic start

    def test_collinear_yields_linestring(self):
        from xcube_geodb_spark.geometry.geom import convex_hull

        g = parse_wkt("MULTIPOINT (0 0, 1 1, 2 2, 3 3)")
        assert to_wkt(convex_hull(g)) == "LINESTRING (0 0, 3 3)"

    def test_single_and_duplicate_points(self):
        from xcube_geodb_spark.geometry.geom import convex_hull

        assert to_wkt(convex_hull(parse_wkt("POINT (5 7)"))) == "POINT (5 7)"
        g = parse_wkt("MULTIPOINT (5 7, 5 7, 5 7)")
        assert to_wkt(convex_hull(g)) == "POINT (5 7)"

    def test_hull_of_hull_is_identical(self, spark=None):
        from xcube_geodb_spark.geometry.geom import convex_hull

        g = parse_wkt("MULTIPOINT (0 0, 4 0, 2 3, 2 1, 1 1, 4 4, 0 3)")
        h1 = convex_hull(g)
        assert to_wkt(convex_hull(h1)) == to_wkt(h1)

    def test_hull_contains_every_vertex(self):
        from xcube_geodb_spark.geometry.geom import (
            _all_vertices,
            convex_hull,
            distance,
        )

        g = parse_wkt(
            "GEOMETRYCOLLECTION (POINT (9 1), LINESTRING (0 0, 2 8),"
            " POLYGON ((1 1, 6 2, 4 5, 1 1)))"
        )
        hull = convex_hull(g)
        for x, y in _all_vertices(g):
            p = Geometry("Point", np.array([x, y]))
            assert distance(p, hull) == 0.0

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_convexhull(st_geomfromtext(
                       'MULTIPOINT (0 0, 4 0, 2 3, 2 1)'))) AS hull,
                   st_convexhull(CAST(NULL AS BINARY)) AS null_in
            """
        ).collect()[0]
        assert row["hull"] == "POLYGON ((0 0, 4 0, 2 3, 0 0))"
        assert row["null_in"] is None


class TestStructuralAccessors:
    """PostGIS structural accessors on the SQL surface: st_srid,
    st_npoints, st_numgeometries, line/ring accessors, st_reverse,
    st_flipcoordinates."""

    def test_counts_and_srid(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_npoints(st_geomfromtext(
                       'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS np,
                   st_numpoints(st_geomfromtext('POINT (1 2)')) AS np1,
                   st_srid(st_setsrid(st_makepoint(1, 2), 4326)) AS srid,
                   st_numgeometries(st_geomfromtext(
                       'MULTIPOINT (0 0, 1 1, 2 2)')) AS nm,
                   st_numgeometries(st_geomfromtext('POINT (0 0)')) AS n1
            """
        ).collect()[0]
        assert row["np"] == 5 and row["np1"] == 1
        assert row["srid"] == 4326
        assert row["nm"] == 3 and row["n1"] == 1

    def test_line_accessors(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_startpoint(l)) AS sp,
                   st_astext(st_endpoint(l)) AS ep,
                   st_astext(st_pointn(l, 2)) AS p2,
                   st_astext(st_pointn(l, -2)) AS pm2,
                   st_pointn(l, 9) AS off_range,
                   st_startpoint(st_geomfromtext('POINT (1 1)')) AS not_line
            FROM (SELECT st_geomfromtext(
                      'LINESTRING (0 0, 1 1, 2 0, 3 2)') AS l)
            """
        ).collect()[0]
        assert row["sp"] == "POINT (0 0)" and row["ep"] == "POINT (3 2)"
        assert row["p2"] == "POINT (1 1)" and row["pm2"] == "POINT (2 0)"
        assert row["off_range"] is None and row["not_line"] is None

    def test_ring_accessors(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_exteriorring(p)) AS shell,
                   st_numinteriorrings(p) AS holes,
                   st_astext(st_interiorringn(p, 1)) AS hole1,
                   st_interiorringn(p, 2) AS off_range,
                   st_numinteriorrings(st_geomfromtext('POINT (0 0)')) AS np
            FROM (SELECT st_geomfromtext(
                'POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 2))'
                ) AS p)
            """
        ).collect()[0]
        assert row["shell"] == "LINESTRING (0 0, 9 0, 9 9, 0 9, 0 0)"
        assert row["holes"] == 1
        assert row["hole1"] == "LINESTRING (2 2, 3 2, 3 3, 2 2)"
        assert row["off_range"] is None and row["np"] is None

    def test_reverse_and_flip(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_reverse(st_geomfromtext(
                       'LINESTRING (0 0, 1 1, 2 0)'))) AS rline,
                   st_astext(st_reverse(st_geomfromtext(
                       'MULTILINESTRING ((0 0, 1 0), (5 5, 6 6))'))) AS rmulti,
                   st_astext(st_flipcoordinates(st_geomfromtext(
                       'POLYGON ((0 0, 4 0, 4 2, 0 0))'))) AS flipped
            """
        ).collect()[0]
        assert row["rline"] == "LINESTRING (2 0, 1 1, 0 0)"
        assert row["rmulti"] == "MULTILINESTRING ((1 0, 0 0), (6 6, 5 5))"
        assert row["flipped"] == "POLYGON ((0 0, 0 4, 2 4, 0 0))"


class TestSphereLength:
    def test_meridian_segment_and_additivity(self):
        from xcube_geodb_spark.geometry.geom import (
            distance_sphere,
            length_sphere,
        )

        # one degree of meridian, split into two half-degree segments:
        # haversine is additive along a meridian
        one = parse_wkt("LINESTRING (0 0, 0 1)")
        split = parse_wkt("LINESTRING (0 0, 0 0.5, 0 1)")
        d = distance_sphere(parse_wkt("POINT (0 0)"), parse_wkt("POINT (0 1)"))
        assert abs(length_sphere(one) - d) < 1e-6
        assert abs(length_sphere(split) - d) < 1e-6
        assert 111000 < d < 112000  # ~111.2 km per degree

    def test_points_and_polygons_contribute_zero(self):
        from xcube_geodb_spark.geometry.geom import length_sphere

        assert length_sphere(parse_wkt("POINT (5 5)")) == 0.0
        assert length_sphere(
            parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 0))")
        ) == 0.0

    def test_perimeter_sphere_counts_rings(self):
        from xcube_geodb_spark.geometry.geom import (
            distance_sphere,
            perimeter_sphere,
        )

        # a 1-degree "bigon" out and back along the equator
        g = parse_wkt("POLYGON ((0 0, 1 0, 0 0))")
        d = distance_sphere(parse_wkt("POINT (0 0)"), parse_wkt("POINT (1 0)"))
        assert abs(perimeter_sphere(g) - 2 * d) < 1e-6

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_lengthsphere(st_geomfromtext(
                       'LINESTRING (0 0, 0 1)')) AS l,
                   st_perimetersphere(st_geomfromtext(
                       'POLYGON ((0 0, 1 0, 0 0))')) AS p
            """
        ).collect()[0]
        assert 111000 < row["l"] < 112000
        assert 222000 < row["p"] < 224000


class TestProject:
    """st_project: great-circle destination point (inverse of
    st_azimuth + st_distancesphere)."""

    def test_cardinal_directions(self):
        import math

        from xcube_geodb_spark.geometry.geom import (
            distance_sphere,
            project_point,
        )

        # due north from the equator by one degree of meridian
        d = distance_sphere(parse_wkt("POINT (0 0)"), parse_wkt("POINT (0 1)"))
        lon, lat = project_point(0.0, 0.0, d, 0.0)
        assert abs(lon) < 1e-9 and abs(lat - 1.0) < 1e-9
        # due east along the equator
        lon, lat = project_point(0.0, 0.0, d, math.pi / 2)
        assert abs(lon - 1.0) < 1e-9 and abs(lat) < 1e-9

    def test_roundtrip_distance_and_azimuth(self):
        import math

        from xcube_geodb_spark.geometry.geom import (
            Geometry,
            distance_sphere,
            project_point,
        )
        import numpy as np

        for az in (0.3, 1.2, 2.5, 4.0, 5.9):
            lon, lat = project_point(8.0, 47.0, 250_000.0, az)
            back = distance_sphere(
                Geometry("Point", np.array([8.0, 47.0])),
                Geometry("Point", np.array([lon, lat])),
            )
            assert abs(back - 250_000.0) < 1.0  # sub-meter roundtrip

    def test_antimeridian_normalization(self):
        import math

        from xcube_geodb_spark.geometry.geom import project_point

        lon, lat = project_point(179.5, 0.0, 200_000.0, math.pi / 2)
        assert -180.0 <= lon <= 180.0 and lon < -178.0  # wrapped past +180

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_astext(st_project(st_makepoint(0, 0),
                       st_distancesphere(st_makepoint(0, 0),
                                         st_makepoint(0, 1)),
                       0.0)) AS north
            """
        ).collect()[0]
        assert row["north"].startswith("POINT (")
        assert "1" in row["north"]


class TestSphereAreaAndSpheroid:
    """Geodesic area (spherical excess, van Oosterom & Strackee signed
    solid angle) and WGS84 Vincenty distance — the sphere-family closers
    (PostGIS geography passthrough parity, geodb.sql:1123-1177)."""

    def test_octant_exact(self):
        import math

        from xcube_geodb_spark.geometry.geom import EARTH_RADIUS_M, area_sphere

        octant = parse_wkt("POLYGON ((0 0, 90 0, 0 90, 0 0))")
        assert area_sphere(octant) == pytest.approx(
            math.pi / 2 * EARTH_RADIUS_M**2, rel=1e-12
        )

    def test_equator_quad_matches_band(self):
        import math

        from xcube_geodb_spark.geometry.geom import EARTH_RADIUS_M, area_sphere

        quad = parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        band = EARTH_RADIUS_M**2 * math.radians(1) * math.sin(math.radians(1))
        # geodesic-edge quad vs parallel-bounded band: tiny known gap
        assert area_sphere(quad) == pytest.approx(band, rel=1e-4)
        assert 1.2e10 < area_sphere(quad) < 1.25e10  # ~12,364 km^2

    def test_orientation_invariant_and_holes(self):
        from xcube_geodb_spark.geometry.geom import area_sphere

        cw = parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))")
        ccw = parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
        assert area_sphere(cw) == pytest.approx(area_sphere(ccw), rel=1e-12)
        holed = parse_wkt(
            "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0),"
            " (0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"
        )
        full = parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        inner = parse_wkt(
            "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"
        )
        assert area_sphere(holed) == pytest.approx(
            area_sphere(full) - area_sphere(inner), rel=1e-12
        )
        assert area_sphere(parse_wkt("POINT (3 3)")) == 0.0

    def test_vincenty_known_values(self):
        from xcube_geodb_spark.geometry.geom import distance_spheroid

        p = lambda lon, lat: parse_wkt(f"POINT ({lon} {lat})")
        # one degree along the equator: a * pi/180 = 111319.4908 m
        assert distance_spheroid(p(0, 0), p(1, 0)) == pytest.approx(
            111319.4908, abs=1e-3
        )
        # quarter meridian (WGS84): 10001965.729 m
        assert distance_spheroid(p(0, 0), p(0, 90)) == pytest.approx(
            10001965.729, abs=1e-2
        )
        assert distance_spheroid(p(7, 7), p(7, 7)) == 0.0
        # symmetric
        a, b = p(2.3522, 48.8566), p(-74.006, 40.7128)
        assert distance_spheroid(a, b) == distance_spheroid(b, a)
        # spheroid vs sphere differ by < 0.5% but are NOT equal
        from xcube_geodb_spark.geometry.geom import distance_sphere

        ds = distance_sphere(a, b)
        dv = distance_spheroid(a, b)
        assert abs(dv - ds) / ds < 0.005 and dv != ds

    def test_vincenty_near_antipodal_falls_back(self):
        from xcube_geodb_spark.geometry.geom import distance_spheroid

        p = lambda lon, lat: parse_wkt(f"POINT ({lon} {lat})")
        d = distance_spheroid(p(0, 0), p(179.5, 0.5))
        assert 1.9e7 < d < 2.1e7  # ~half circumference, no crash

    def test_non_point_operands_raise(self):
        from xcube_geodb_spark.errors import GeoDBError
        from xcube_geodb_spark.geometry.geom import distance_spheroid

        with pytest.raises(GeoDBError, match="Point operands"):
            distance_spheroid(
                parse_wkt("LINESTRING (0 0, 1 1)"), parse_wkt("POINT (0 0)")
            )

    def test_sql_surface(self, spark):
        import math

        from xcube_geodb_spark.geometry.geom import EARTH_RADIUS_M
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """
            SELECT st_areasphere(st_geomfromtext(
                       'POLYGON ((0 0, 90 0, 0 90, 0 0))')) AS a,
                   st_distancespheroid(st_geomfromtext('POINT (0 0)'),
                                       st_geomfromtext('POINT (1 0)')) AS d
            """
        ).collect()[0]
        assert row["a"] == pytest.approx(
            math.pi / 2 * EARTH_RADIUS_M**2, rel=1e-9
        )
        assert row["d"] == pytest.approx(111319.4908, abs=1e-3)


class TestSpheroidArea:
    """WGS84 ellipsoidal polygon area via the authalic transformation
    (geom.area_spheroid — Snyder PP 1395 eqs. 3-11/3-12). Fixtures are
    independent closed forms on the ellipsoid, not the kernel's own
    math."""

    A = 6378137.0
    F = 1.0 / 298.257223563

    def _q(self, s):
        import math

        e2 = self.F * (2 - self.F)
        e = math.sqrt(e2)
        return (1 - e2) * (s / (1 - e2 * s * s) + math.atanh(e * s) / e)

    def test_total_ellipsoid_area_is_published_value(self):
        import math

        # WGS84 surface area, a public reference value: 510,065,621.72 km²
        total = 2 * math.pi * self.A**2 * self._q(1.0)
        assert total / 1e6 == pytest.approx(510_065_621.724, abs=0.01)

    def test_octant_is_exactly_one_eighth(self):
        import math

        from xcube_geodb_spark.geometry.geom import area_spheroid

        octant = parse_wkt("POLYGON ((0 0, 90 0, 0 90, 0 0))")
        total = 2 * math.pi * self.A**2 * self._q(1.0)
        # meridian/equator edges map to great circles: exact by design
        assert area_spheroid(octant) == pytest.approx(total / 8, rel=1e-12)

    def test_polar_cap_matches_zone_closed_form(self):
        import math

        import numpy as np

        from xcube_geodb_spark.geometry.geom import Geometry, area_spheroid

        n = 720
        ring = np.array(
            [[i * 360.0 / n, 30.0] for i in range(n)] + [[0.0, 30.0]]
        )
        got = area_spheroid(Geometry("Polygon", [ring]))
        exact = (
            math.pi
            * self.A**2
            * (self._q(1.0) - self._q(math.sin(math.radians(30.0))))
        )
        # chords vs the true parallel: sub-1e-5 at 720 vertices
        assert got == pytest.approx(exact, rel=2e-5)

    def test_graticule_cell_matches_numeric_integral(self):
        """Independent oracle: area = ∫∫ M·N·cosφ dφ dλ integrated
        numerically over the cell — the kernel must land within 1e-6
        where the sphere kernel is off by ~0.23%."""
        import math

        import numpy as np

        from xcube_geodb_spark.geometry.geom import (
            Geometry,
            area_sphere,
            area_spheroid,
        )

        lon0, lon1, lat0, lat1 = 10.0, 11.0, 45.0, 46.0

        def seg(a, b, n=64):
            return [
                (a[0] + (b[0] - a[0]) * t / n, a[1] + (b[1] - a[1]) * t / n)
                for t in range(n)
            ]

        pts = (
            seg((lon0, lat0), (lon1, lat0))
            + seg((lon1, lat0), (lon1, lat1))
            + seg((lon1, lat1), (lon0, lat1))
            + seg((lon0, lat1), (lon0, lat0))
            + [(lon0, lat0)]
        )
        rect = Geometry("Polygon", [np.array(pts)])
        e2 = self.F * (2 - self.F)
        phis = np.linspace(math.radians(lat0), math.radians(lat1), 20001)
        m_rad = self.A * (1 - e2) / (1 - e2 * np.sin(phis) ** 2) ** 1.5
        n_rad = self.A / np.sqrt(1 - e2 * np.sin(phis) ** 2)
        exact = float(
            np.trapz(m_rad * n_rad * np.cos(phis), phis)
        ) * math.radians(lon1 - lon0)
        assert area_spheroid(rect) == pytest.approx(exact, rel=1e-6)
        # and it genuinely improves on the sphere
        sphere_err = abs(area_sphere(rect) - exact) / exact
        spheroid_err = abs(area_spheroid(rect) - exact) / exact
        assert spheroid_err < sphere_err / 100

    def test_holes_and_nonpolygons(self):
        from xcube_geodb_spark.geometry.geom import area_spheroid

        holed = parse_wkt(
            "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0),"
            " (0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"
        )
        full = parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        inner = parse_wkt(
            "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"
        )
        assert area_spheroid(holed) == pytest.approx(
            area_spheroid(full) - area_spheroid(inner), rel=1e-12
        )
        assert area_spheroid(parse_wkt("POINT (1 2)")) == 0.0
        assert area_spheroid(parse_wkt("LINESTRING (0 0, 1 1)")) == 0.0


class TestSpheroidLength:
    def test_line_equals_sum_of_vincenty_segments(self):
        from xcube_geodb_spark.geometry.geom import (
            distance_spheroid,
            length_spheroid,
        )

        line = parse_wkt("LINESTRING (0 0, 1 0.5, 2.5 1.5)")
        segs = [("0 0", "1 0.5"), ("1 0.5", "2.5 1.5")]
        want = sum(
            distance_spheroid(
                parse_wkt(f"POINT ({a})"), parse_wkt(f"POINT ({b})")
            )
            for a, b in segs
        )
        assert length_spheroid(line) == pytest.approx(want, rel=1e-12)
        assert length_spheroid(parse_wkt("POINT (1 2)")) == 0.0

    def test_meridian_quarter_is_published_value(self):
        from xcube_geodb_spark.geometry.geom import length_spheroid

        # equator->pole along a meridian: the WGS84 meridian quadrant,
        # published value 10,001,965.729 m (the historic "10000 km")
        line = parse_wkt("LINESTRING (0 0, 0 90)")
        assert length_spheroid(line) == pytest.approx(10_001_965.729, abs=1.0)

    def test_equator_degree(self):
        from xcube_geodb_spark.geometry.geom import length_spheroid

        # one degree of longitude on the equator: a*pi/180
        import math

        line = parse_wkt("LINESTRING (0 0, 1 0)")
        assert length_spheroid(line) == pytest.approx(
            6378137.0 * math.pi / 180.0, rel=1e-9
        )

    def test_perimeter_spheroid_vs_sphere(self):
        from xcube_geodb_spark.geometry.geom import (
            perimeter_sphere,
            perimeter_spheroid,
        )

        poly = parse_wkt("POLYGON ((10 45, 11 45, 11 46, 10 46, 10 45))")
        sphere = perimeter_sphere(poly)
        spheroid = perimeter_spheroid(poly)
        # within the flattening's ~0.3%, but NOT identical
        assert abs(spheroid - sphere) / sphere < 0.005
        assert spheroid != sphere

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            "SELECT st_lengthspheroid(st_geomfromtext("
            "'LINESTRING(0 0, 0 90)')) AS l,"
            " st_perimeterspheroid(st_geomfromtext("
            "'POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))')) AS p"
        ).collect()[0]
        assert row["l"] == pytest.approx(10_001_965.729, abs=1.0)
        assert row["p"] > 4.4e5


class TestGeoJsonSql:
    def test_roundtrip_and_nulls(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            """SELECT st_asgeojson(st_makepoint(1.5, 2.5)) AS j,
                      st_astext(st_geomfromgeojson(
                        '{"type":"LineString",'
                        '"coordinates":[[0,0],[1,1]]}')) AS w,
                      st_asgeojson(cast(null as binary)) AS nj,
                      st_geomfromgeojson(cast(null as string)) AS ng"""
        ).collect()[0]
        assert row["j"] == '{"type":"Point","coordinates":[1.5,2.5]}'
        assert row["w"] == "LINESTRING (0 0, 1 1)"
        assert row["nj"] is None and row["ng"] is None
        # roundtrip through both codecs preserves the geometry
        rt = spark.sql(
            "SELECT st_astext(st_geomfromgeojson(st_asgeojson("
            "st_geomfromtext('POLYGON((0 0,2 0,2 2,0 2,0 0))')))) AS w"
        ).collect()[0]
        assert rt["w"] == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"


class TestBufferGeometry:
    """General ST_Buffer (geometry/overlay.buffer_geometry): offset
    rectangles + convex-vertex fans dissolved through the overlay union
    kernel. Convex inputs have an exact closed-form area (A + P*r +
    corner wedges of nseg * r^2/2 * sin(sweep/nseg)) — the same formula
    the geo_buffer_squares oracle replays."""

    @staticmethod
    def _contains(geom, x, y):
        from xcube_geodb_spark.geometry.geom import _point_in_rings
        from xcube_geodb_spark.geometry.overlay import _polygons_of

        return any(
            _point_in_rings(x, y, rings) for rings in _polygons_of(geom)
        )

    def _closed_form_convex(self, pts, r, qs=8):
        import math

        import numpy as np

        n = len(pts)
        A = abs(
            sum(
                pts[i][0] * pts[(i + 1) % n][1]
                - pts[(i + 1) % n][0] * pts[i][1]
                for i in range(n)
            )
        ) / 2.0
        P = sum(
            math.hypot(
                pts[(i + 1) % n][0] - pts[i][0],
                pts[(i + 1) % n][1] - pts[i][1],
            )
            for i in range(n)
        )
        corners = 0.0
        for j in range(n):
            p = np.asarray(pts[j], float)
            prv = np.asarray(pts[(j - 1) % n], float)
            nxt = np.asarray(pts[(j + 1) % n], float)
            d1, d2 = p - prv, nxt - p
            n1 = np.asarray([d1[1], -d1[0]]) / math.hypot(*d1)
            n2 = np.asarray([d2[1], -d2[0]]) / math.hypot(*d2)
            sweep = (
                math.atan2(n2[1], n2[0]) - math.atan2(n1[1], n1[0])
            ) % (2 * math.pi)
            nseg = max(1, math.ceil(sweep / (math.pi / 2) * qs))
            corners += nseg * r * r / 2 * math.sin(sweep / nseg)
        return A + P * r + corners

    def test_square_closed_form(self):
        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        g = parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        got = area(buffer_geometry(g, 0.5, 8))
        want = self._closed_form_convex([(0, 0), (2, 0), (2, 2), (0, 2)], 0.5)
        assert abs(got - want) < 1e-9

    def test_triangle_closed_form_and_cw_input(self):
        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        want = self._closed_form_convex([(0, 0), (4, 0), (1, 3)], 0.7)
        ccw = parse_wkt("POLYGON ((0 0, 4 0, 1 3, 0 0))")
        cw = parse_wkt("POLYGON ((0 0, 1 3, 4 0, 0 0))")
        assert abs(area(buffer_geometry(ccw, 0.7, 8)) - want) < 1e-9
        # ring orientation must not matter
        assert abs(area(buffer_geometry(cw, 0.7, 8)) - want) < 1e-9

    def test_reflex_polygon_smaller_than_convex_formula(self):
        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        import math

        g = parse_wkt("POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))")
        b = buffer_geometry(g, 0.3, 8)
        got = area(b)
        # reflex corner: the wedge overlap is absorbed by the union, so
        # the area is strictly below A + P*r + full-turn wedges
        assert 3.0 + 8 * 0.3 < got < 3.0 + 8 * 0.3 + math.pi * 0.09 + 1e-9
        # buffered region contains the original boundary's neighborhood
        for x, y in [(0, 0), (2, 0), (1, 1), (0, 2), (2.2, 0.5), (-0.2, 1)]:
            assert self._contains(b, x, y)

    def test_linestring_capsule_closed_form(self):
        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        g = parse_wkt("LINESTRING (0 0, 3 0)")
        got = area(buffer_geometry(g, 0.5, 8))
        # rectangle 2rL + one full inscribed 32-gon (the two end discs
        # each contribute an exact half on an axis-aligned segment)
        want = 2 * 0.5 * 3 + 16 * 0.25 * math.sin(2 * math.pi / 32)
        assert abs(got - want) < 1e-9

    def test_multi_and_point_dispatch(self):
        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        mp = parse_wkt("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((10 0, 11 0, 11 1, 10 1, 10 0)))")
        got = area(buffer_geometry(mp, 0.2, 8))
        one = self._closed_form_convex([(0, 0), (1, 0), (1, 1), (0, 1)], 0.2)
        assert abs(got - 2 * one) < 1e-9  # disjoint parts: areas add
        pt = parse_wkt("POINT (5 5)")
        got_pt = area(buffer_geometry(pt, 1.0, 8))
        assert abs(got_pt - 16 * math.sin(2 * math.pi / 32)) < 1e-9

    def test_errors_and_srid(self):
        import pytest as _pytest

        from xcube_geodb_spark.errors import GeoDBError
        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        g = parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
        g.srid = 4326
        assert buffer_geometry(g, 0.1).srid == 4326
        assert buffer_geometry(g, 0.0) is g  # zero radius: identity
        with _pytest.raises(GeoDBError, match="polygonal"):
            buffer_geometry(parse_wkt("POINT (0 0)"), -1.0)
        assert buffer_geometry(None, 0.1) is None

    def test_holes_shrink_and_seal(self):
        import math

        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        outer = (
            36 + 24 * 0.5 + 2 * 8 * 0.25 * math.sin(math.pi / 16)
        )
        holed = parse_wkt(
            "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0),"
            " (2 2, 4 2, 4 4, 2 4, 2 2))"
        )
        # the 2x2 hole shrinks by r=0.5 per side -> 1x1 remains
        got = area(buffer_geometry(holed, 0.5, 8))
        assert abs(got - (outer - 1.0)) < 1e-9
        # a hole narrower than 2r seals completely
        pin = parse_wkt(
            "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0),"
            " (2.8 2.8, 3.2 2.8, 3.2 3.2, 2.8 3.2, 2.8 2.8))"
        )
        got2 = area(buffer_geometry(pin, 0.5, 8))
        assert abs(got2 - outer) < 1e-9

    def test_negative_radius_erodes(self):
        import math

        from xcube_geodb_spark.geometry.overlay import buffer_geometry

        sq = parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        e = buffer_geometry(sq, -1.0, 8)
        assert abs(area(e) - 4.0) < 1e-9  # inset square is exact
        assert buffer_geometry(sq, -2.5, 8) is None  # over-eroded
        # erosion with a hole: outer insets, hole dilates with rounded
        # corners (4 + P*r + 32-gon corner wedges)
        holed = parse_wkt(
            "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0),"
            " (2 2, 4 2, 4 4, 2 4, 2 2))"
        )
        eh = buffer_geometry(holed, -0.5, 8)
        want = 25 - (4 + 8 * 0.5 + 16 * 0.25 * math.sin(math.pi / 16))
        assert abs(area(eh) - want) < 1e-9
        # round-trip sanity: erode-then-dilate stays inside the original
        rt = buffer_geometry(buffer_geometry(sq, -1.0, 8), 1.0, 8)
        assert area(rt) <= 16.0 + 1e-9

    def test_sql_overerode_returns_null(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            "SELECT st_buffer(st_geomfromtext("
            "'POLYGON((0 0,4 0,4 4,0 4,0 0))'), -2.5) AS g"
        ).collect()[0]
        assert row["g"] is None  # vanished, not AttributeError

    def test_sql_surface_polygon_buffer(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            "SELECT round(st_area(st_buffer("
            "st_geomfromtext('POLYGON((0 0,2 0,2 2,0 2,0 0))'), 0.5)), 6)"
            " AS a"
        ).collect()[0]
        want = self._closed_form_convex([(0, 0), (2, 0), (2, 2), (0, 2)], 0.5)
        assert row["a"] == round(want, 6)


class TestLineMerge:
    """ST_LineMerge (geom.line_merge): GEOS LineMerger contract — sew
    through degree-2 endpoint nodes only, exact endpoint equality."""

    def _lm(self, wkt):
        from xcube_geodb_spark.geometry.geom import line_merge, parse_wkt
        g = line_merge(parse_wkt(wkt))
        from xcube_geodb_spark.geometry.geom import to_wkt
        return None if g is None else to_wkt(g)

    def test_chain_merges(self):
        assert self._lm(
            "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (2 0, 3 0))"
        ) == "LINESTRING (0 0, 1 0, 2 0, 3 0)"

    def test_head_to_head_reverses(self):
        assert self._lm(
            "MULTILINESTRING ((1 0, 0 0), (1 0, 2 0))"
        ) == "LINESTRING (0 0, 1 0, 2 0)"

    def test_t_junction_preserved(self):
        out = self._lm(
            "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (1 0, 1 1))"
        )
        assert out.startswith("MULTILINESTRING") and out.count(",") == 5

    def test_degree2_cycle_closes(self):
        assert self._lm(
            "MULTILINESTRING ((0 0, 1 0), (1 0, 1 1), (1 1, 0 1), "
            "(0 1, 0 0))"
        ) == "LINESTRING (0 0, 1 0, 1 1, 0 1, 0 0)"

    def test_disconnected_components(self):
        out = self._lm(
            "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (5 5, 6 5), "
            "(6 5, 7 5))"
        )
        assert out == (
            "MULTILINESTRING ((0 0, 1 0, 2 0), (5 5, 6 5, 7 5))"
        )

    def test_near_miss_does_not_merge(self):
        # exact endpoint equality: 1e-9 apart stays apart (PostGIS parity)
        out = self._lm(
            "MULTILINESTRING ((0 0, 1 0), (1.000000001 0, 2 0))"
        )
        assert out.startswith("MULTILINESTRING")

    def test_single_line_passthrough_and_empty(self):
        assert self._lm("LINESTRING (0 0, 5 5)") == "LINESTRING (0 0, 5 5)"
        assert self._lm("MULTIPOINT (0 0, 1 1)") is None

    def test_sql_surface(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            "SELECT st_astext(st_linemerge(st_geomfromtext("
            "'MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))'))) AS wkt, "
            "st_npoints(st_linemerge(st_geomfromtext("
            "'MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))'))) AS n"
        ).collect()[0]
        assert row["wkt"] == "LINESTRING (0 0, 1 0, 2 0)"
        assert row["n"] == 3


class TestScalarKit:
    """SFS predicates + structure edits (geom.py scalar kit)."""

    def test_is_simple_lineal(self):
        from xcube_geodb_spark.geometry.geom import is_simple, parse_wkt

        assert is_simple(parse_wkt("LINESTRING (0 0, 1 0, 1 1)"))
        # proper crossing
        assert not is_simple(parse_wkt("LINESTRING (0 0, 2 2, 0 2, 2 0)"))
        # endpoint landing mid-segment (T-touch)
        assert not is_simple(parse_wkt("LINESTRING (0 0, 2 0, 1 0)"))
        # endpoint-to-endpoint contact between members is allowed
        assert is_simple(
            parse_wkt("MULTILINESTRING ((0 0, 1 0), (1 0, 2 0))")
        )
        assert is_simple(
            parse_wkt(
                "MULTILINESTRING ((0 0, 1 1), (1 1, 2 0), (1 1, 0 2))"
            )
        )
        # collinear overlap / identical members are not simple
        assert not is_simple(
            parse_wkt("MULTILINESTRING ((0 0, 2 0), (1 0, 3 0))")
        )
        assert not is_simple(
            parse_wkt("MULTILINESTRING ((0 0, 1 0), (0 0, 1 0))")
        )

    def test_is_simple_points(self):
        from xcube_geodb_spark.geometry.geom import is_simple, parse_wkt

        assert is_simple(parse_wkt("MULTIPOINT ((0 0), (1 1))"))
        assert not is_simple(parse_wkt("MULTIPOINT ((0 0), (0 0))"))

    def test_is_closed_is_ring(self):
        from xcube_geodb_spark.geometry.geom import (
            is_closed, is_ring, parse_wkt,
        )

        ring = parse_wkt("LINESTRING (0 0, 1 0, 1 1, 0 0)")
        assert is_closed(ring) and is_ring(ring)
        assert not is_closed(parse_wkt("LINESTRING (0 0, 1 0)"))
        # closed but self-crossing: not a ring
        bow = parse_wkt("LINESTRING (0 0, 2 2, 0 2, 2 0, 0 0)")
        assert is_closed(bow) and not is_ring(bow)
        # points are closed (PG)
        assert is_closed(parse_wkt("POINT (1 1)"))

    def test_multi_and_collection_extract(self):
        from xcube_geodb_spark.geometry.geom import (
            GeoDBError, collection_extract, multi, parse_wkt, to_wkt,
        )
        import pytest as _pytest

        assert to_wkt(multi(parse_wkt("POINT (1 2)"))) == (
            "MULTIPOINT ((1 2))"
        )
        mp = parse_wkt("MULTIPOINT ((1 2))")
        assert multi(mp) is mp
        gc = parse_wkt(
            "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 0), "
            "POLYGON ((0 0, 1 0, 1 1, 0 0)))"
        )
        assert to_wkt(collection_extract(gc, 1)) == "MULTIPOINT ((1 1))"
        assert to_wkt(collection_extract(gc, 2)) == (
            "MULTILINESTRING ((0 0, 1 0))"
        )
        assert collection_extract(parse_wkt("POINT (0 0)"), 3) is None
        with _pytest.raises(GeoDBError, match="type must be"):
            collection_extract(gc, 4)

    def test_remove_repeated_and_segmentize(self):
        from xcube_geodb_spark.geometry.geom import (
            parse_wkt, remove_repeated_points, segmentize, to_wkt,
        )

        assert to_wkt(remove_repeated_points(
            parse_wkt("LINESTRING (0 0, 0 0, 1 0, 1 0, 2 0)")
        )) == "LINESTRING (0 0, 1 0, 2 0)"
        # all-equal line keeps its two end vertices (PG)
        assert to_wkt(remove_repeated_points(
            parse_wkt("LINESTRING (3 3, 3 3, 3 3)")
        )) == "LINESTRING (3 3, 3 3)"
        # tolerance collapses near-duplicates; ring closure preserved
        assert to_wkt(remove_repeated_points(
            parse_wkt("POLYGON ((0 0, 0.4 0, 4 0, 4 4, 0 4, 0 0))"), 0.5
        )) == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
        # ring floor: a tolerance larger than the ring's extent keeps a
        # structurally valid 4-point ring (first 3 distinct vertices +
        # closure), like PostGIS — never a collapsed 1-point "ring"
        floored = remove_repeated_points(
            parse_wkt("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"), 100.0
        )
        assert to_wkt(floored) == "POLYGON ((0 0, 1 0, 1 1, 0 0))"
        from xcube_geodb_spark.geometry.geom import is_valid
        assert is_valid(floored)
        # fewer than 3 distinct vertices -> the original ring unchanged
        assert to_wkt(remove_repeated_points(
            parse_wkt("POLYGON ((0 0, 1 0, 0 0, 1 0, 0 0))"), 100.0
        )) == "POLYGON ((0 0, 1 0, 0 0, 1 0, 0 0))"
        assert to_wkt(segmentize(parse_wkt("LINESTRING (0 0, 4 0)"), 1.0)) \
            == "LINESTRING (0 0, 1 0, 2 0, 3 0, 4 0)"
        # uneven remainder splits into EQUAL pieces
        assert to_wkt(segmentize(parse_wkt("LINESTRING (0 0, 3 0)"), 2.0)) \
            == "LINESTRING (0 0, 1.5 0, 3 0)"

    def test_hausdorff_postgis_doc_examples(self):
        from xcube_geodb_spark.geometry.geom import (
            hausdorff_distance, parse_wkt,
        )

        assert hausdorff_distance(
            parse_wkt("LINESTRING (0 0, 2 0)"),
            parse_wkt("MULTIPOINT ((0 1), (1 0), (2 1))"),
        ) == 1.0
        # the PostGIS doc pair (default, no densify): 14.142135623730951
        assert abs(hausdorff_distance(
            parse_wkt("LINESTRING (130 0, 0 0, 0 150)"),
            parse_wkt("LINESTRING (10 10, 10 150, 130 10)"),
        ) - 14.142135623730951) < 1e-12

    def test_angle_doc_example(self):
        import math

        from xcube_geodb_spark.geometry.geom import angle_3pt, parse_wkt

        a = angle_3pt(
            parse_wkt("POINT (5 0)"),
            parse_wkt("POINT (0 0)"),
            parse_wkt("POINT (5 5)"),
        )
        assert abs(a - math.pi / 4) < 1e-12
        # degenerate: ray to the vertex itself -> NULL
        assert angle_3pt(
            parse_wkt("POINT (0 0)"),
            parse_wkt("POINT (0 0)"),
            parse_wkt("POINT (1 1)"),
        ) is None


class TestGeneratePointsAndSnap:
    def test_generate_points_uniform_deterministic(self):
        from xcube_geodb_spark.geometry.geom import (
            _point_in_rings, generate_points, parse_wkt, to_wkt,
        )

        g = parse_wkt(
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
            "(4 4, 6 4, 6 6, 4 6, 4 4))"
        )
        pts = generate_points(g, 25, seed=7)
        assert pts.kind == "MultiPoint" and len(pts.parts) == 25
        # every point inside the shell and outside the hole (even-odd)
        assert all(
            _point_in_rings(p.parts[0], p.parts[1], g.parts)
            for p in pts.parts
        )
        assert to_wkt(pts) == to_wkt(generate_points(g, 25, seed=7))
        assert to_wkt(pts) != to_wkt(generate_points(g, 25, seed=8))
        # degenerate inputs
        assert generate_points(g, 0) is None
        assert generate_points(parse_wkt("POINT (1 1)"), 5) is None

    def test_generate_points_thin_polygon_fails_fast(self):
        from xcube_geodb_spark.geometry.geom import (
            GeoDBError, generate_points, parse_wkt,
        )
        import pytest as _pytest

        sliver = parse_wkt(
            "POLYGON ((0 0, 1000 0, 1000 0.0001, 0 0.0001, 0 0))"
        )
        # envelope == polygon: accepts fine even though thin in absolute
        assert generate_points(sliver, 5, seed=1) is not None
        # a diagonal sliver leaves ~zero envelope fraction -> fail fast
        diag = parse_wkt(
            "POLYGON ((0 0, 1000 1000, 1000 1000.0001, 0 0.0001, 0 0))"
        )
        with _pytest.raises(GeoDBError, match="acceptance"):
            generate_points(diag, 50, seed=1)

    def test_snap_rules(self):
        from xcube_geodb_spark.geometry.geom import (
            parse_wkt, snap_geometry, to_wkt,
        )

        sq = parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        moved = parse_wkt(
            "POLYGON ((0.005 0.005, 4.005 0.005, 4.005 4.005, "
            "0.005 4.005, 0.005 0.005))"
        )
        # rule 1: vertices within tolerance land exactly on reference
        assert to_wkt(snap_geometry(moved, sq, 0.02)) == to_wkt(sq)
        # out of tolerance: unchanged
        assert to_wkt(snap_geometry(moved, sq, 0.001)) == to_wkt(moved)
        # rule 2: a reference vertex near a segment interior is inserted
        line = parse_wkt("LINESTRING (0 0, 4 0)")
        assert to_wkt(
            snap_geometry(line, parse_wkt("POINT (2 0.005)"), 0.01)
        ) == "LINESTRING (0 0, 2 0.005, 4 0)"
        assert to_wkt(
            snap_geometry(line, parse_wkt("POINT (2 0.5)"), 0.01)
        ) == "LINESTRING (0 0, 4 0)"


class TestFrechetAndUnaryUnion:
    def test_frechet_postgis_doc_example(self):
        from xcube_geodb_spark.geometry.geom import (
            frechet_distance, parse_wkt,
        )

        assert abs(frechet_distance(
            parse_wkt("LINESTRING (0 0, 100 0)"),
            parse_wkt("LINESTRING (0 0, 50 50, 100 0)"),
        ) - 70.71067811865476) < 1e-9
        # symmetric; identical inputs -> 0
        a = parse_wkt("LINESTRING (0 0, 3 4, 6 0)")
        b = parse_wkt("LINESTRING (0 1, 3 5, 6 1)")
        assert frechet_distance(a, b) == frechet_distance(b, a)
        assert frechet_distance(a, a) == 0.0
        # frechet >= hausdorff always
        from xcube_geodb_spark.geometry.geom import hausdorff_distance

        assert frechet_distance(a, b) >= hausdorff_distance(a, b) - 1e-12

    def test_unary_union(self):
        from xcube_geodb_spark.geometry.geom import (
            area, parse_wkt, to_wkt, unary_union,
        )

        g = parse_wkt(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
            "((1 0, 3 0, 3 2, 1 2, 1 0)))"
        )
        u = unary_union(g)
        assert u.kind == "Polygon" and abs(area(u) - 6.0) < 1e-9
        # points dedup
        assert to_wkt(unary_union(
            parse_wkt("MULTIPOINT ((1 1), (1 1), (2 2))")
        )) == "MULTIPOINT ((1 1), (2 2))"
        # crossing linework fully nodes (PostGIS unary-union behavior)
        l = unary_union(
            parse_wkt("MULTILINESTRING ((0 0, 2 2), (0 2, 2 0))")
        )
        assert l.kind == "MultiLineString" and len(l.parts) == 4


class TestCodecAliases:
    """SQL/MM typed constructors + codec aliases (sqlfuncs r9)."""

    def test_typed_constructors_and_dimension(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            "SELECT st_dimension(st_geomfromtext("
            "'POLYGON ((0 0, 1 0, 1 1, 0 0))')) AS d2, "
            "st_dimension(st_geomfromtext('LINESTRING (0 0, 1 1)')) AS d1, "
            "st_dimension(st_geomfromtext('POINT (1 1)')) AS d0, "
            "st_astext(st_pointfromtext('POINT (1 2)')) AS p, "
            "st_linefromtext('POINT (1 2)') AS mismatch, "
            "st_astext(st_mpointfromtext('MULTIPOINT ((1 2), (3 4))')) "
            "AS mp, "
            "st_astext(st_geomfromwkb(st_geomfromtext('POINT (3 4)'))) "
            "AS rt, "
            "st_astext(st_force2d(st_geomfromtext("
            "'LINESTRING (0 0, 1 1)'))) AS f2"
        ).first()
        assert (row.d2, row.d1, row.d0) == (2, 1, 0)
        assert row.p == "POINT (1 2)"
        assert row.mismatch is None  # PG: typed mismatch -> NULL
        assert row.mp == "MULTIPOINT ((1 2), (3 4))"
        assert row.rt == "POINT (3 4)"
        assert row.f2 == "LINESTRING (0 0, 1 1)"


class TestOffsetCurve:
    def test_l_shape_closed_forms(self):
        import math

        from xcube_geodb_spark.geometry.geom import (
            length, offset_curve, parse_wkt, to_wkt,
        )

        l = parse_wkt("LINESTRING (0 0, 4 0, 4 4)")
        # inner (left of travel): both legs trim by |d|
        assert to_wkt(offset_curve(l, 1.0)) == "LINESTRING (0 1, 3 1, 3 4)"
        # outer (right): quarter-circle chord polyline, 8 chords of pi/16
        outer = offset_curve(l, -1.0)
        assert abs(length(outer) - (8 + 16 * math.sin(math.pi / 32))) < 1e-9
        # straight line: pure translation
        assert to_wkt(
            offset_curve(parse_wkt("LINESTRING (0 0, 10 0)"), 2.0)
        ) == "LINESTRING (0 2, 10 2)"
        # d=0 is the input
        assert to_wkt(offset_curve(l, 0.0)) == to_wkt(l)

    def test_deep_offset_falls_back_and_validates(self):
        import pytest as _pytest

        from xcube_geodb_spark.geometry.geom import (
            GeoDBError, offset_curve, parse_wkt,
        )

        # offset deeper than a leg: direct-connect fallback, no fold
        zig = parse_wkt("LINESTRING (0 0, 1 0, 1 1, 2 1)")
        out = offset_curve(zig, 0.9)
        assert out is not None and out.kind == "LineString"
        with _pytest.raises(GeoDBError, match="lineal"):
            offset_curve(parse_wkt("POINT (0 0)"), 1.0)


class TestAffineMaxDistance:
    def test_affine_maxdistance_longestline_sql(self, spark):
        from xcube_geodb_spark.geometry.sqlfuncs import (
            register_spatial_sql_functions,
        )

        register_spatial_sql_functions(spark)
        row = spark.sql(
            # shear+translate: (x, y) -> (x + 2y + 10, 3y - 5)
            "SELECT st_astext(st_affine(st_geomfromtext("
            "'LINESTRING (0 0, 1 1)'), 1, 2, 0, 3, 10, -5)) AS aff, "
            "st_maxdistance(st_geomfromtext('POLYGON ((0 0, 1 0, 1 1, "
            "0 1, 0 0))'), st_geomfromtext('POINT (4 5)')) AS md, "
            "st_astext(st_longestline(st_geomfromtext('LINESTRING "
            "(0 0, 3 0)'), st_geomfromtext('POINT (0 4)'))) AS ll"
        ).first()
        assert row.aff == "LINESTRING (10 -5, 13 -2)"
        # farthest square corner from (4, 5) is (0, 0): sqrt(41)
        assert abs(row.md - 41**0.5) < 1e-12
        assert row.ll == "LINESTRING (3 0, 0 4)"


class TestOrientationClearanceGrid:
    def test_orientation_forcing_roundtrip(self):
        from xcube_geodb_spark.geometry.geom import (
            area, force_polygon_orientation, parse_wkt,
            polygon_orientation_is,
        )

        p = parse_wkt(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
            "(1 1, 2 1, 2 2, 1 2, 1 1))"
        )
        cw = force_polygon_orientation(p, True)
        assert polygon_orientation_is(cw, True)
        assert not polygon_orientation_is(cw, False)
        ccw = force_polygon_orientation(cw, False)
        assert polygon_orientation_is(ccw, False)
        assert abs(area(ccw) - 15.0) < 1e-12  # area invariant
        # idempotent
        from xcube_geodb_spark.geometry.geom import to_wkt

        assert to_wkt(force_polygon_orientation(cw, True)) == to_wkt(cw)
        # non-areal inputs pass through / answer True (PG)
        line = parse_wkt("LINESTRING (0 0, 1 1)")
        assert force_polygon_orientation(line, True) is line
        assert polygon_orientation_is(line, True)

    def test_minimum_clearance(self):
        import math

        from xcube_geodb_spark.geometry.geom import (
            minimum_clearance, parse_wkt,
        )

        # a square's clearance is its side
        assert minimum_clearance(
            parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        ) == 4.0
        # hole corner one unit from the shell edge dominates
        assert minimum_clearance(parse_wkt(
            "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
            "(1 1, 2 1, 2 2, 1 2, 1 1))"
        )) == 1.0
        # near-degenerate sliver: clearance is the tiny height
        assert abs(minimum_clearance(parse_wkt(
            "POLYGON ((0 0, 10 0, 5 0.001, 0 0))"
        )) - 0.001) < 1e-9
        assert minimum_clearance(parse_wkt("POINT (0 0)")) == math.inf

    def test_bounding_diagonal(self):
        from xcube_geodb_spark.geometry.geom import (
            bounding_diagonal, parse_wkt, to_wkt,
        )

        assert to_wkt(bounding_diagonal(
            parse_wkt("POLYGON ((0 0, 4 0, 4 2, 0 2, 0 0))")
        )) == "LINESTRING (0 0, 4 2)"


class TestSmoothingKit:
    def test_geometric_median(self):
        from xcube_geodb_spark.geometry.geom import (
            geometric_median, parse_wkt,
        )

        # symmetric corners -> the center
        gx, gy = geometric_median(
            parse_wkt("MULTIPOINT ((0 0), (4 0), (4 4), (0 4))")
        )
        assert abs(gx - 2) < 1e-7 and abs(gy - 2) < 1e-7
        # obtuse triangle (vertex angle > 120 deg): the median IS that
        # vertex (Weiszfeld's vertex test)
        gx, gy = geometric_median(
            parse_wkt("MULTIPOINT ((0 0), (10 0), (5 1))")
        )
        assert abs(gx - 5.0) < 1e-6 and abs(gy - 1.0) < 1e-6
        gx, gy = geometric_median(parse_wkt("POINT (3 7)"))
        assert (gx, gy) == (3.0, 7.0)

    def test_simplify_vw_and_chaikin(self):
        from xcube_geodb_spark.geometry.geom import (
            area, chaikin_smoothing, parse_wkt, simplify_vw, to_wkt,
        )

        # collinear midpoints have zero effective area: dropped
        assert to_wkt(simplify_vw(parse_wkt(
            "POLYGON ((0 0, 2 0, 4 0, 4 4, 0 4, 0 0))"
        ), 1e-4)) == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
        # a genuine corner survives a small threshold
        assert to_wkt(simplify_vw(parse_wkt(
            "LINESTRING (0 0, 2 0, 2 2)"
        ), 1e-4)) == "LINESTRING (0 0, 2 0, 2 2)"
        # chaikin square: each corner cut removes an (h/2)-leg triangle
        ch = chaikin_smoothing(
            parse_wkt("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
        )
        assert abs(area(ch) - 14.0) < 1e-12
        # open line keeps endpoints (PG default)
        out = chaikin_smoothing(parse_wkt("LINESTRING (0 0, 4 0, 4 4)"))
        assert to_wkt(out) == (
            "LINESTRING (0 0, 1 0, 3 0, 4 1, 4 3, 4 4)"
        )
        import pytest as _pytest

        from xcube_geodb_spark.geometry.geom import GeoDBError

        with _pytest.raises(GeoDBError, match="1..5"):
            chaikin_smoothing(parse_wkt("LINESTRING (0 0, 1 0)"), 9)

    def test_shift_longitude(self):
        from xcube_geodb_spark.geometry.geom import (
            parse_wkt, shift_longitude, to_wkt,
        )

        assert to_wkt(shift_longitude(
            parse_wkt("LINESTRING (-170 10, 170 10)")
        )) == "LINESTRING (190 10, 170 10)"


class TestSharedPaths:
    def test_direction_split_and_clip(self):
        from xcube_geodb_spark.geometry.geom import (
            parse_wkt, shared_paths, to_wkt,
        )

        a = parse_wkt("LINESTRING (0 0, 10 0)")
        same = shared_paths(a, parse_wkt("LINESTRING (4 0, 6 0, 6 5)"))
        assert to_wkt(same) == (
            "GEOMETRYCOLLECTION (MULTILINESTRING ((4 0, 6 0)), "
            "MULTILINESTRING ())"
        )
        opp = shared_paths(a, parse_wkt("LINESTRING (6 0, 4 0)"))
        assert to_wkt(opp) == (
            "GEOMETRYCOLLECTION (MULTILINESTRING (), "
            "MULTILINESTRING ((4 0, 6 0)))"
        )
        # overlap clips to the common interval
        part = shared_paths(a, parse_wkt("LINESTRING (8 0, 15 0)"))
        assert to_wkt(part) == (
            "GEOMETRYCOLLECTION (MULTILINESTRING ((8 0, 10 0)), "
            "MULTILINESTRING ())"
        )
        # disjoint / point-touch / parallel-offset share nothing
        assert shared_paths(a, parse_wkt("LINESTRING (0 5, 10 5)")) is None
        assert shared_paths(a, parse_wkt("LINESTRING (10 0, 10 5)")) is None


class TestLineExtendDumpRings:
    def test_line_extend(self):
        from xcube_geodb_spark.geometry.geom import (
            GeoDBError, line_extend, parse_wkt, to_wkt,
        )
        import pytest as _pytest

        l = parse_wkt("LINESTRING (0 0, 4 0)")
        assert to_wkt(line_extend(l, 2.0, 1.0)) == "LINESTRING (-1 0, 6 0)"
        assert to_wkt(line_extend(l, 2.0)) == "LINESTRING (0 0, 6 0)"
        # extension follows the LAST segment's own direction
        bent = parse_wkt("LINESTRING (0 0, 4 0, 4 3)")
        assert to_wkt(line_extend(bent, 2.0)) == "LINESTRING (0 0, 4 0, 4 5)"
        with _pytest.raises(GeoDBError, match="non-negative"):
            line_extend(l, -1.0)

    def test_dump_rings_and_ordering_equals(self):
        from xcube_geodb_spark.geometry.geom import (
            area, dump_rings, ordering_equals, parse_wkt,
        )

        p = parse_wkt(
            "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), "
            "(2 2, 4 2, 4 4, 2 4, 2 2))"
        )
        rings = dump_rings(p)
        assert [round(area(r), 9) for r in rings] == [36.0, 4.0]
        assert dump_rings(parse_wkt("POINT (1 1)")) == []
        l = parse_wkt("LINESTRING (0 0, 4 0)")
        assert ordering_equals(l, l)
        # same geometry, different vertex order: NOT ordering-equal
        assert not ordering_equals(l, parse_wkt("LINESTRING (4 0, 0 0)"))
