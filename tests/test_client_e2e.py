"""End-to-end golden-semantics suite, mirroring the reference's SQL
integration tests (``tests/sql/test_sql_functions.py`` — the layer-2
golden suite per SURVEY.md §5) on the Spark engine."""

import pandas as pd
import pytest

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.errors import GeoDBError
from xcube_geodb_spark.geometry.geom import parse_wkt, to_wkt

# the FIXTURES.md §3 micro-collection: SRID 4326, union extent BOX(-6 9,5 11)
POLY_A = "POLYGON ((-5 10, -5 11, 5 11, 5 10, -5 10))"
POLY_B = "POLYGON ((-6 9, -6 10, 3 10, 3 9, -6 9))"


@pytest.fixture()
def client(spark, tmp_path):
    return GeoDBSparkClient(
        spark, warehouse=str(tmp_path / "warehouse"), user="tester"
    )


@pytest.fixture()
def land_use(client):
    client.create_collection(
        "land_use",
        {"raba_pid": "float", "raba_id": "float", "d_od": "date"},
        crs=4326,
    )
    values = pd.DataFrame(
        {
            "geometry": [POLY_A, POLY_B, "POINT (0 10.5)", "POINT (100 50)"],
            "raba_pid": [5900001.0, 5900002.0, 5900003.0, 5900004.0],
            "raba_id": [1410.0, 1300.0, 1410.0, 7000.0],
            "d_od": ["2019-02-01", "2019-03-01", "2019-02-01", "2019-04-01"],
        }
    )
    client.insert_into_collection("land_use", values)
    return "land_use"


class TestLifecycle:
    def test_create_insert_read(self, client, land_use):
        df = client.get_collection(land_use)
        assert len(df) == 4
        # no ORDER BY -> physical order; ids are dense 1..4
        assert sorted(df["id"]) == [1, 2, 3, 4]
        assert df["created_at"].notna().all()
        assert df["modified_at"].isna().all()
        row1 = df[df["id"] == 1].iloc[0]
        assert to_wkt(row1["geometry"]) == POLY_A
        assert df.attrs["crs"] == "EPSG:4326"

    def test_collection_exists_and_info(self, client, land_use):
        assert client.collection_exists(land_use)
        assert not client.collection_exists("nope")
        info = client.get_collection_info(land_use)
        assert info["srid"] == 4326
        names = [p["name"] for p in info["properties"]]
        assert names[:4] == ["id", "created_at", "modified_at", "geometry"]
        assert set(names[4:]) == {"raba_pid", "raba_id", "d_od"}

    def test_filter_grammar(self, client, land_use):
        df = client.get_collection(land_use, query="raba_id=eq.1410")
        assert sorted(df["id"]) == [1, 3]
        df = client.get_collection(
            land_use, query="or=(raba_id.eq.1300,raba_id.eq.7000)"
        )
        assert sorted(df["id"]) == [2, 4]

    def test_paging(self, client, land_use):
        df = client.get_collection(
            land_use, query="id=ge.1&order=id.asc", limit=2, offset=1
        )
        assert list(df["id"]) == [2, 3]

    def test_head(self, client, land_use):
        assert list(client.head_collection(land_use, 2)["id"]) == [1, 2]

    def test_pg_groupby(self, client, land_use):
        df = client.get_collection_pg(
            land_use,
            select="COUNT(d_od) as ct, d_od",
            group="d_od",
            order="d_od",
        )
        assert list(df["ct"]) == [2, 1, 1]

    def test_pg_where_limit(self, client, land_use):
        df = client.get_collection_pg(
            land_use, where="raba_id = 1410", order="id", limit=1, offset=1
        )
        assert list(df["id"]) == [3]

    def test_pg_spatial_sql_functions(self, client, land_use):
        # ST_* functions usable in the raw-SQL path, bbox-first arg order
        df = client.get_collection_pg(
            land_use,
            select="id, st_geometrytype(geometry) AS gtype, "
            "st_xmin(geometry) AS gxmin",
            where="st_intersects('POLYGON ((-10 5, 10 5, 10 15, -10 15, -10 5))',"
            " geometry)",
            order="id",
        )
        assert list(df["id"]) == [1, 2, 3]
        assert list(df["gtype"]) == ["POLYGON", "POLYGON", "POINT"]
        assert df["gxmin"][0] == -5.0

    def test_pg_empty_raises(self, client, land_use):
        with pytest.raises(GeoDBError, match="Empty result"):
            client.get_collection_pg(land_use, where="raba_id = -1")

    def test_pg_dialect_shim_casts_and_regex(self, client, land_use):
        # PG-isms Spark's parser rejects: ::casts (ident + literal
        # operands) and ~/~* regex match (scan._pg_clause_to_spark)
        df = client.get_collection_pg(
            land_use,
            select="id, raba_id::text AS rt",
            where="d_od ~ '^2019' AND raba_id::int8 = 1410 "
            "AND d_od >= '2019-01-01'::date",
            order="id",
        )
        assert list(df["id"]) == [1, 3]
        assert list(df["rt"]) == ["1410.0", "1410.0"]

    def test_pg_dialect_shim_case_insensitive_regex(self, client, land_use):
        df = client.get_collection_pg(
            land_use, select="id", where="d_od !~* '^X2019'", order="id"
        )
        assert len(df) == 4  # negated non-matching pattern keeps all rows

    def test_pg_distinct_on(self, client, land_use):
        # PG DISTINCT ON -> row_number window rewrite: first row per
        # raba_id under the ORDER BY (ids 1,3 share raba_id 1410; the id
        # tiebreak keeps 1)
        df = client.get_collection_pg(
            land_use,
            select="DISTINCT ON (raba_id) raba_id, id",
            order="raba_id, d_od DESC, id",
        )
        assert sorted(zip(df["raba_id"], df["id"])) == [
            (1300.0, 2), (1410.0, 1), (7000.0, 4),
        ]

    def test_pg_distinct_on_star_and_where(self, client, land_use):
        # the * spelling projects the collection columns back out (no
        # helper row-number column) and WHERE applies BEFORE DISTINCT ON
        df = client.get_collection_pg(
            land_use,
            select="DISTINCT ON (raba_id) *",
            where="id >= 2",
            order="raba_id, id",
        )
        assert "__geodb_rn" not in df.columns
        assert sorted(df["id"]) == [2, 3, 4]

    def test_pg_distinct_on_group_by_raises(self, client, land_use):
        with pytest.raises(GeoDBError, match="DISTINCT ON"):
            client.get_collection_pg(
                land_use,
                select="DISTINCT ON (raba_id) raba_id",
                group="raba_id",
            )

    def test_pg_comment_with_apostrophe(self, client, land_use):
        # the apostrophes inside the comments pair up into no literal:
        # ^ is still PG's power (Spark's XOR would give 3 ^ 2 = 1)
        df = client.get_collection_pg(
            land_use, select="raba_pid, /* it's */ 3 ^ 2 AS p /* ok' */"
        )
        assert list(df["p"]) == [9.0] * 4
        # a :: cast and a ~ after such a comment are still rewritten
        df = client.get_collection_pg(
            land_use,
            select="id, /* it's */ raba_id::text AS rt /* ok' */",
            where="raba_id > 0 /* don't */ AND d_od::text ~ '^2019-02' "
            "/* won't */",
            order="id",
        )
        assert list(df["id"]) == [1, 3]
        assert list(df["rt"]) == ["1410.0", "1410.0"]

    def test_pg_double_quoted_identifiers(self, client, land_use):
        # PG's "ident" is a column, not Spark's double-quoted string
        df = client.get_collection_pg(
            land_use, select='raba_pid, "raba_id" AS q', order="raba_pid"
        )
        assert list(df["q"]) == [1410.0, 1300.0, 1410.0, 7000.0]
        df = client.get_collection_pg(
            land_use, select="id", where='"raba_id" = 1410', order="id"
        )
        assert list(df["id"]) == [1, 3]

    def test_pg_distinct_agg_order_by_resolves_quoted_names(self, client):
        # "s" and s name one column in PG, "S" another: DISTINCT + ORDER BY
        # compares the resolved names, not the spellings
        client.create_collection("tags", {"s": "text"})
        client.insert_into_collection(
            "tags",
            pd.DataFrame({"geometry": ["POINT (0 0)"] * 4, "s": ["b", "a", "b", None]}),
        )
        for arg, key in (('"s"', "s"), ("s", '"s"'), ("S", "s")):
            df = client.get_collection_pg(
                "tags", select=f"string_agg(DISTINCT {arg}, '|' ORDER BY {key}) AS j"
            )
            assert df["j"].tolist() == ["a|b"], (arg, key)
        with pytest.raises(GeoDBError, match="must be x itself"):
            client.get_collection_pg(
                "tags", select="string_agg(DISTINCT \"S\", '|' ORDER BY s) AS j"
            )

    def test_pg_line_comments_end_at_the_clause(self, client, land_use):
        # a -- comment ends its own clause: the ORDER BY and LIMIT after
        # it must survive (the statement is built on one line)
        df = client.get_collection_pg(
            land_use, select="id", where="id > 1 -- newer rows",
            order="id DESC", limit=2,
        )
        assert list(df["id"]) == [4, 3]
        df = client.get_collection_pg(
            land_use,
            select="raba_id, count(*) AS n",
            group="raba_id -- per land-use class",
            order="raba_id DESC",
            limit=1,
        )
        assert list(zip(df["raba_id"], df["n"])) == [(7000.0, 1)]

    def test_counts(self, client, land_use):
        assert client.count_collection_rows(land_use) == 4
        assert client.count_collection_rows(land_use, exact_count=True) == 4

    def test_collection_bbox_exact_and_estimate(self, client, land_use):
        # union extent of POLY_A/POLY_B + points: x[-6,100], y[9,50]
        # client reorders to (miny, minx, maxy, maxx) — geodb.py:400
        assert client.get_collection_bbox(land_use) == (9.0, -6.0, 50.0, 100.0)
        assert client.get_collection_bbox(land_use, exact=False) == (
            9.0,
            -6.0,
            50.0,
            100.0,
        )

    def test_geometry_types(self, client, land_use):
        assert client.get_geometry_types(land_use) == [
            "POLYGON",
            "POLYGON",
            "POINT",
            "POINT",
        ]
        assert sorted(client.get_geometry_types(land_use, aggregate=True)) == [
            "POINT",
            "POLYGON",
        ]


class TestBboxQuery:
    def test_contains(self, client, land_use):
        df = client.get_collection_by_bbox(land_use, (-10, 5, 10, 15), "contains")
        assert list(df["id"]) == [1, 2, 3]  # ORDER BY id parity

    def test_intersects_with_where(self, client, land_use):
        df = client.get_collection_by_bbox(
            land_use, (-10, 5, 10, 15), "intersects", where="raba_id = 1410"
        )
        assert list(df["id"]) == [1, 3]

    def test_or_where(self, client, land_use):
        df = client.get_collection_by_bbox(
            land_use, (-10, 5, 10, 15), "contains", where="raba_id = 7000", op="OR"
        )
        assert list(df["id"]) == [1, 2, 3, 4]

    def test_limit_offset(self, client, land_use):
        df = client.get_collection_by_bbox(
            land_use, (-10, 5, 10, 15), "contains", limit=2, offset=1
        )
        assert list(df["id"]) == [2, 3]

    def test_disjoint(self, client, land_use):
        df = client.get_collection_by_bbox(land_use, (90, 40, 110, 60), "disjoint")
        assert list(df["id"]) == [1, 2, 3]

    def test_crs_transform_3857(self, client, land_use):
        # same box queried in web-mercator meters must hit the same rows
        from xcube_geodb_spark.geometry.crs import transform_bbox_crs

        box_3857 = transform_bbox_crs((-10, 5, 10, 15), 4326, 3857)
        df = client.get_collection_by_bbox(
            land_use, box_3857, "contains", bbox_crs=3857
        )
        assert list(df["id"]) == [1, 2, 3]

    def test_lat_lon_order(self, client, land_use):
        df = client.get_collection_by_bbox(
            land_use, (5, -10, 15, 10), "contains", wsg84_order="lat_lon"
        )
        assert list(df["id"]) == [1, 2, 3]

    def test_invalid_mode(self, client, land_use):
        with pytest.raises(GeoDBError):
            client.get_collection_by_bbox(land_use, (0, 0, 1, 1), "nope")

    def test_count_by_bbox(self, client, land_use):
        assert client.count_collection_by_bbox(land_use, (-10, 5, 10, 15)) == 3
        assert (
            client.count_collection_by_bbox(
                land_use, (-10, 5, 10, 15), where="raba_id = 1410"
            )
            == 2
        )


class TestDML:
    def test_delete(self, client, land_use):
        client.delete_from_collection(land_use, "raba_id=eq.7000")
        df = client.get_collection(land_use)
        assert sorted(df["id"]) == [1, 2, 3]

    def test_update(self, client, land_use):
        client.update_collection(land_use, {"d_od": "2000-01-01"}, "raba_id=eq.1300")
        df = client.get_collection(land_use, query="raba_id=eq.1300")
        assert str(df["d_od"][0]) == "2000-01-01"
        assert df["modified_at"].notna().all()
        other = client.get_collection(land_use, query="raba_id=eq.1410")
        assert other["modified_at"].isna().all()

    def test_update_of_the_filtered_column_sets_every_value(self, client, land_use):
        # every SET value and the modified_at stamp test the filter
        # against the row as it was, not as an earlier SET left it
        client.update_collection(
            land_use, {"raba_id": 1600.0, "raba_pid": 1.0}, "raba_id=eq.1300"
        )
        df = client.get_collection(land_use).set_index("id")
        assert (df.loc[2, "raba_id"], df.loc[2, "raba_pid"]) == (1600.0, 1.0)
        assert pd.notna(df.loc[2, "modified_at"])
        assert df.drop(index=2)["modified_at"].isna().all()

    def test_insert_appends_ids(self, client, land_use):
        client.insert_into_collection(
            land_use,
            pd.DataFrame(
                {"geometry": ["POINT (1 1)"], "raba_id": [1600.0]}
            ),
        )
        df = client.get_collection(land_use)
        assert sorted(df["id"]) == [1, 2, 3, 4, 5]

    def test_upsert_replaces_and_stamps(self, client, land_use):
        up = pd.DataFrame(
            {
                "id": [2],
                "geometry": [POLY_B],
                "raba_pid": [5900002.0],
                "raba_id": [9999.0],
                "d_od": ["2020-01-01"],
            }
        )
        client.insert_into_collection(land_use, up, upsert=True)
        df = client.get_collection(land_use)
        assert sorted(df["id"]) == [1, 2, 3, 4]
        row = df[df["id"] == 2].iloc[0]
        assert row["raba_id"] == 9999.0
        assert pd.notna(row["modified_at"])
        assert pd.notna(row["created_at"])

    def test_crs_mismatch_raises(self, client, land_use):
        with pytest.raises(GeoDBError, match="not compatible"):
            client.insert_into_collection(
                land_use,
                pd.DataFrame({"geometry": ["POINT (0 0)"]}),
                crs=3857,
            )


class TestDDL:
    def test_schema_evolution(self, client, land_use):
        client.add_property(land_use, "quality", "int")
        df = client.get_collection(land_use)
        assert "quality" in df.columns
        assert df["quality"].isna().all()
        client.drop_property(land_use, "quality")
        assert "quality" not in client.get_collection(land_use).columns

    def test_mandatory_property_protected(self, client, land_use):
        with pytest.raises(GeoDBError):
            client.drop_property(land_use, "geometry")

    def test_rename_copy_move(self, client, land_use):
        client.copy_collection(land_use, "land_use2", "tester")
        assert client.collection_exists("land_use2")
        assert len(client.get_collection("land_use2")) == 4
        client.rename_collection("land_use2", "land_use3")
        assert not client.collection_exists("land_use2")
        assert client.collection_exists("land_use3")
        client.create_database("otherdb")
        client.move_collection("land_use3", "otherdb")
        assert client.collection_exists("land_use3", database="otherdb")

    def test_get_my_collections(self, client, land_use):
        df = client.get_my_collections()
        assert {"owner", "database", "collection"} <= set(df.columns)
        assert "land_use" in list(df["collection"])


class TestAdmin:
    def test_acl_lifecycle(self, client, land_use):
        assert client.acl.user_allowed(land_use, "tester", "tester") is True
        assert client.acl.user_allowed(land_use, "tester", "someone") is False
        client.grant_access_to_collection(land_use, "someone")
        assert client.acl.user_allowed(land_use, "tester", "someone") is True
        client.revoke_access_from_collection(land_use, "someone")
        assert client.acl.user_allowed(land_use, "tester", "someone") is False
        client.publish_collection(land_use)
        assert client.acl.user_allowed(land_use, "tester", "anyone") is True
        grants = client.list_grants(land_use)
        assert "PUBLIC" in list(grants["grantee"])
        client.unpublish_collection(land_use)

    def test_groups(self, client, land_use):
        client.create_group("team")
        client.add_user_to_group("alice", "team")
        assert client.get_group_users("team") == ["alice"]
        client.grant_access_to_collection(land_use, "team")
        assert client.acl.user_allowed(land_use, "tester", "alice") is True
        client.remove_user_from_group("alice", "team")
        assert client.acl.user_allowed(land_use, "tester", "alice") is False

    def test_indexes(self, client, land_use):
        client.create_index(land_use, "raba_id")
        idx = client.show_indexes(land_use)
        assert "raba_id" in list(idx["property"])
        client.remove_index(land_use, "raba_id")
        assert "raba_id" not in list(client.show_indexes(land_use)["property"])

    def test_index_name_truncation(self, client):
        from xcube_geodb_spark.admin import IndexManager

        long_coll = "c" * 80
        name = IndexManager.index_name("prop", long_coll)
        assert len(name) == 63

    def test_stac_metadata(self, client, land_use):
        client.set_metadata_field(land_use, "title", "Land use")
        client.set_metadata_field(land_use, "keywords", ["land", "use"])
        md = client.get_metadata(land_use)
        assert md["title"] == "Land use"
        assert md["stac_version"] == "1.1.0"
        assert md["spatial_extent"]  # auto-computed from collection bbox
        with pytest.raises(GeoDBError):
            client.set_metadata_field(land_use, "bogus_field", "x")
        with pytest.raises(GeoDBError):
            client.set_metadata_field(land_use, "keywords", "not-a-list")

    def test_event_log(self, client, land_use):
        log = client.get_event_log(collection=land_use, database="tester")
        assert len(log) >= 2  # created + rows_added
        types = set(log["event_type"])
        assert "created" in types and "rows_added" in types

    def test_usage(self, client, land_use):
        raw = client.get_my_usage(pretty=False)
        assert raw > 0
        assert isinstance(client.get_my_usage(pretty=True), str)


class TestRound2Fixes:
    def test_upsert_mixed_explicit_and_generated_ids(self, client, land_use):
        # explicit id 10 (> current max_id 4) plus a no-id row in ONE batch:
        # the generated sequence must start past the explicit ids
        up = pd.DataFrame(
            {
                "id": [10.0, None],
                "geometry": ["POINT (1 1)", "POINT (2 2)"],
                "raba_id": [111.0, 222.0],
            }
        )
        client.insert_into_collection(land_use, up, upsert=True)
        df = client.get_collection(land_use)
        ids = sorted(df["id"])
        assert len(ids) == len(set(ids)), f"duplicate ids minted: {ids}"
        assert 10 in ids
        assert max(ids) == 11  # generated row got 11, not 5

    def test_evolved_property_survives_mixed_schema_read(self, client, land_use):
        # add_properties then insert -> manifest mixes files with/without the
        # column; the declared-schema read must keep real values (not NULL)
        client.add_property(land_use, "quality", "int")
        client.insert_into_collection(
            land_use,
            pd.DataFrame({"geometry": ["POINT (3 3)"], "quality": [42]}),
        )
        df = client.get_collection(land_use)
        newest = df[df["id"] == 5].iloc[0]
        assert newest["quality"] == 42
        assert df[df["id"] <= 4]["quality"].isna().all()


class TestGroupPublishing:
    def test_get_my_groups(self, client):
        client.create_group("teamx")
        client.add_user_to_group("tester", "teamx")
        assert client.get_my_groups() == ["teamx"]

    def test_publish_collection_to_group_grants_rw(self, client, land_use):
        client.create_group("readers")
        client.add_user_to_group("bob", "readers")
        client.publish_collection_to_group(land_use, "readers")
        rights = client.get_access_rights(land_use)
        assert rights["readers"] == ["SELECT", "INSERT", "UPDATE", "DELETE"]
        assert client.acl.user_allowed(land_use, "tester", "bob")
        client.unpublish_collection_from_group(land_use, "readers")
        assert not client.acl.user_allowed(land_use, "tester", "bob")

    def test_group_publish_requires_owner(self, client, land_use):
        client.create_group("g2")
        mallory = GeoDBSparkClient(
            client.spark,
            warehouse=client.catalog.warehouse,
            user="mallory",
            database="tester",
        )
        with pytest.raises(GeoDBError, match="must be owner"):
            mallory.publish_collection_to_group(land_use, "g2")
        with pytest.raises(GeoDBError, match="does not exist"):
            client.publish_collection_to_group(land_use, "no_such_group")

    def test_database_group_publish(self, client):
        client.create_group("builders")
        client.add_user_to_group("alice", "builders")
        client.publish_database_to_group("builders")
        assert client.acl.database_allowed("tester", "alice")
        client.unpublish_database_from_group("builders")
        assert not client.acl.database_allowed("tester", "alice")

    def test_create_collections_if_not_exist(self, client, land_use):
        client.create_collections_if_not_exist(
            {
                land_use: {"properties": {"zzz": "int"}},
                "fresh": {"properties": {"a": "int"}},
            }
        )
        assert client.collection_exists("fresh")
        names = [
            p["name"] for p in client.get_collection_info(land_use)["properties"]
        ]
        assert "zzz" not in names  # existing collection untouched

    def test_sql_version(self, client):
        v = client.get_geodb_sql_version()
        assert isinstance(v, str) and v


class TestExport:
    def test_export_geojson_and_csv(self, client, land_use, tmp_path):
        import json as _json

        gj = str(tmp_path / "exp_gj")
        client.export_collection(land_use, gj, fmt="geojson", query="raba_id=eq.1410")
        spark = client.spark
        feats = [_json.loads(r.value) for r in spark.read.text(gj).collect()]
        assert len(feats) == 2
        assert all(f["type"] == "Feature" for f in feats)

        cs = str(tmp_path / "exp_csv")
        client.export_collection(land_use, cs, fmt="csv")
        back = spark.read.option("header", True).csv(cs)
        assert back.count() == 4
        assert "geometry" in back.columns

    def test_export_geojson_keeps_null_properties(self, client, land_use, tmp_path):
        # to_json drops null struct fields by default; export must keep
        # them or a re-ingest silently changes the schema per line
        import json as _json

        client.update_collection(land_use, {"d_od": None}, "raba_id=eq.1410")
        gj = str(tmp_path / "exp_nulls")
        client.export_collection(land_use, gj, fmt="geojson", query="raba_id=eq.1410")
        spark = client.spark
        feats = [_json.loads(r.value) for r in spark.read.text(gj).collect()]
        assert len(feats) == 2
        for f in feats:
            assert "d_od" in f["properties"] and f["properties"]["d_od"] is None

    def test_export_bad_format_raises(self, client, land_use, tmp_path):
        with pytest.raises(GeoDBError, match="Unsupported export format"):
            client.export_collection(land_use, str(tmp_path / "x"), fmt="shp")


class TestShimLiteralSafety:
    def test_shim_never_rewrites_literal_contents(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # literals containing shim-looking text pass through byte-identical
        assert f("comment = 'match ~ ''this'''") == "comment = 'match ~ ''this'''"
        assert f("name = 'a::b'") == "name = 'a::b'"
        assert (
            f("a ~ 'p' AND b = 'q ~ r'") == "a RLIKE 'p' AND b = 'q ~ r'"
        )
        # containment / ARRAY / SIMILAR TO tokens inside literals survive
        assert f("c = 'x @> ARRAY[1]'") == "c = 'x @> ARRAY[1]'"
        assert f("c = 'a SIMILAR TO b'") == "c = 'a SIMILAR TO b'"
        # r10 operator tokens inside literals survive too
        for tok in ("->>", "#>", "&&", "@@", "?|", "~~", "strpos(a,b)",
                    "to_char(x,'Y')", "json_agg(x ORDER BY x)"):
            clause = f"c = 'pre {tok} post'"
            assert f(clause) == clause, tok

    def test_shim_literal_safety_fuzz(self):
        """Property: every string literal's CONTENT survives the whole
        shim byte-identical, no matter which operator lookalikes it
        contains — the invariant the quote-split / placeholder
        architecture exists to guarantee."""
        hypothesis = pytest.importorskip("hypothesis")
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark

        tokens = st.sampled_from([
            "->>", "->", "#>>", "#>", "&&", "@@", "?", "?|", "?&",
            "#-", "- 'k'", "jsonb_set(", "AT TIME ZONE",
            "~~*", "~~", "!~", "~", "::int", "::geography", "@>", "<@",
            "<->", "ARRAY[1]", "SIMILAR TO", "ORDER BY x",
            "json_agg(", "to_char(", "unnest(", "FILTER (WHERE",
            "array_length(a, 1)", "x", " ", "''",
        ])
        lit_body = st.lists(tokens, min_size=0, max_size=5).map("".join)

        @given(body=lit_body, n=st.integers(1, 3))
        @settings(
            max_examples=120, deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        def check(body, n):
            lit = "'" + body.replace("'", "''") + "'"
            clause = " AND ".join(f"c{i} = {lit}" for i in range(n))
            try:
                out = _pg_clause_to_spark(clause)
            except GeoDBError:
                return  # a loud refusal is always acceptable
            # every literal occurrence survives byte-identical
            assert out.count(lit) == n, (clause, out)

        check()

    def test_relate3_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # PostGIS 3-arg boolean ST_Relate -> st_relatematch composition
        assert f("st_relate(a.geometry, b.geometry, 'T*F**FFF*')") == (
            "st_relatematch(st_relate(a.geometry, b.geometry), "
            "'T*F**FFF*')"
        )
        # the 2-arg matrix form passes through untouched
        assert f("st_relate(a, b)") == "st_relate(a, b)"
        # nested calls and literal commas don't confuse the arg split
        assert f(
            "st_relate(g, st_geomfromtext('POINT (1 2)'), p)"
        ) == "st_relatematch(st_relate(g, st_geomfromtext('POINT (1 2)')), p)"

    def test_knn_operator_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # PostGIS KNN distance operators -> distance expressions
        assert f("geometry <-> st_point(1.5, 2.5)") == (
            "st_distance(geometry, st_point(1.5, 2.5))"
        )
        assert f("a.geometry <#> b.geometry") == (
            "st_distance(st_envelope(a.geometry), "
            "st_envelope(b.geometry))"
        )
        # literal-bearing call operands survive (quote protection)
        assert f("st_geomfromtext('POINT (1 2)') <-> g") == (
            "st_distance(st_geomfromtext('POINT (1 2)'), g)"
        )
        # inside a wrapping call: surrounding commas/parens untouched
        assert f("round(g <-> st_point(0.0, 0.0), 6)") == (
            "round(st_distance(g, st_point(0.0, 0.0)), 6)"
        )
        # operator text inside a string literal is never rewritten
        assert f("note = 'a <-> b'") == "note = 'a <-> b'"
        # compound operands refuse loudly instead of rewriting wrong SQL
        import pytest as _pytest

        from xcube_geodb_spark.errors import GeoDBError

        with _pytest.raises(GeoDBError, match="left operand"):
            f("a || b <-> c")
        with _pytest.raises(GeoDBError, match="right operand"):
            f("a <-> b + 1")
        with _pytest.raises(GeoDBError, match="operand shape"):
            f("a <#> ")

    def test_generate_series_from_rewrite(self):
        from xcube_geodb_spark.operators.scan import build_pg_sql

        assert build_pg_sql(
            "generate_series(1, 10) AS t(i)", select="sum(i) AS s"
        ) == (
            "SELECT sum(i) AS s "
            "FROM (SELECT explode(sequence(1, 10)) AS i) t"
        )
        # bare alias and no-alias forms; PG default column name
        assert "AS i) g" in build_pg_sql(
            "generate_series(1, 5, 2) g(i)", select="i"
        )
        assert "AS generate_series)" in build_pg_sql(
            "generate_series(1, 5)", select="*"
        )
        # args run through the clause shim (:: casts translate)
        assert "CAST('2024-01-01' AS timestamp)" in build_pg_sql(
            "generate_series('2024-01-01'::timestamp, "
            "'2024-01-02'::timestamp, interval 1 hour) ts(h)",
            select="count(*) AS n",
        )
        # a JOIN keyword after the series is not mistaken for an alias
        sql = build_pg_sql(
            "generate_series(1, 3) t(i) JOIN nation ON i = n_nationkey",
            select="count(*) AS n",
        )
        assert "t JOIN nation" in sql
        # plain table names pass through untouched
        assert build_pg_sql("nation", select="n_name") == (
            "SELECT n_name FROM nation"
        )

    def test_geometry_cast_rewrite(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # '...'::geometry (the everyday PG WKT-literal cast) becomes a
        # parser call, not an invalid Spark CAST
        assert f("'POINT (1 2)'::geometry") == (
            "st_geomfromtext('POINT (1 2)')"
        )
        assert f("geometry <-> 'POINT (0 0)'::geometry") == (
            "st_distance(geometry, st_geomfromtext('POINT (0 0)'))"
        )
        # non-literal operand too; other casts unaffected
        assert f("wkt_col::geometry") == "st_geomfromtext(wkt_col)"
        assert f("x::int8") == "CAST(x AS bigint)"

    def test_from_keywords_not_series_aliases(self):
        from xcube_geodb_spark.operators.scan import build_pg_sql

        sql = build_pg_sql(
            "generate_series(1, 3) LEFT JOIN nation "
            "ON generate_series = n_nationkey",
            select="count(*) AS n",
        )
        assert "LEFT JOIN nation" in sql and ") LEFT" in sql
        # but left()/right() still parse as operand calls elsewhere
        from xcube_geodb_spark.operators.scan import (
            _pg_clause_to_spark as f,
        )

        assert f("split(left(text, 10), ' ') @> ARRAY['q']") == (
            "size(array_except(array('q'), split(left(text, 10), ' '))) "
            "= 0"
        )

    def test_unnest_and_regexp_flags(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("unnest(tags)") == "explode(tags)"
        # literal contents survive; no false hits on identifiers
        assert f("x = 'unnest(a)'") == "x = 'unnest(a)'"
        assert f("my_unnest(a)") == "my_unnest(a)"
        # 4-arg regexp_replace with 'g': Spark is global, so g drops;
        # i folds in as a (?i) pattern prefix
        assert f("regexp_replace(n, 'a+', 'X', 'g')") == (
            "regexp_replace(n, 'a+', 'X')"
        )
        assert f("regexp_replace(n, 'a+', 'X', 'gi')") == (
            "regexp_replace(n, '(?i)a+', 'X')"
        )
        # without 'g' PG replaces only the FIRST match (r12): the shim
        # emits the regexp_instr/regexp_extract splice
        out = f("regexp_replace(n, pat_col, 'X', 'i')")
        assert "regexp_instr((n), concat('(?i)', pat_col))" in out
        assert out.startswith("CASE WHEN")
        out = f("regexp_replace(n, 'a', 'b')")
        assert "regexp_instr((n), 'a')" in out and "CASE WHEN" in out
        import pytest as _pytest

        from xcube_geodb_spark.errors import GeoDBError

        with _pytest.raises(GeoDBError, match="unsupported flags"):
            f("regexp_replace(n, 'a', 'b', 'x')")
        with _pytest.raises(GeoDBError, match="string literal"):
            f("regexp_replace(n, 'a', 'b', flags_col)")

    def test_buffer3_rewrite(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("st_buffer(geometry, 1.0, 'endcap=flat')") == (
            "st_buffer_style(geometry, 1.0, 'endcap=flat')"
        )
        assert f("st_buffer(geometry, 2.0)") == "st_buffer(geometry, 2.0)"

    def test_array_containment_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("tags @> ARRAY['a','b']") == (
            "size(array_except(array('a','b'), tags)) = 0"
        )
        assert f("ARRAY['a'] <@ tags") == (
            "size(array_except(array('a'), tags)) = 0"
        )
        assert f("nested @> ARRAY[ARRAY[1],ARRAY[2]]") == (
            "size(array_except(array(array(1),array(2)), nested)) = 0"
        )
        # function-call operands and plain subscripts survive
        assert f("split(text,' ') @> ARRAY['q']") == (
            "size(array_except(array('q'), split(text,' '))) = 0"
        )
        # subscripts inside array literals get PG's 1-based NULL-safe
        # read since r12
        assert f("ARRAY[col[1], 2] <@ other") == (
            "size(array_except(array(try_element_at(col, 1), 2), "
            "other)) = 0"
        )
        # a gap between function name and paren keeps the name (PG allows
        # the whitespace); a KEYWORD before parens is never swallowed
        assert f("foo (a) @> ARRAY[1]") == (
            "size(array_except(array(1), foo (a))) = 0"
        )
        assert f("x IS NULL OR (tags) @> ARRAY['a']") == (
            "x IS NULL OR size(array_except(array('a'), (tags))) = 0"
        )
        # compound operands would rewrite to silently-wrong SQL -> refuse
        with pytest.raises(GeoDBError, match="operand shape"):
            f("x || y @> z")
        with pytest.raises(GeoDBError, match="operand shape"):
            f("a <@ b || c")
        # explicit parens make the compound operand legal
        assert f("(x || y) @> z") == (
            "size(array_except(z, (x || y))) = 0"
        )
        # the refusal is symmetric: a right operand extending into
        # arithmetic must raise too, not rewrite to wrong SQL (r8 ADVICE:
        # 'tags @> needle + 1' silently became size(...) = 0 + 1)
        with pytest.raises(GeoDBError, match="operand shape"):
            f("tags @> needle + 1")
        with pytest.raises(GeoDBError, match="operand shape"):
            f("a <@ b - 1")

    def test_similar_to_translation(self):
        from xcube_geodb_spark.operators.scan import (
            _pg_clause_to_spark as f,
            _similar_to_regex,
        )

        assert f("name SIMILAR TO 'ab%'") == "name RLIKE '^(?:ab.*)$'"
        assert f("name NOT SIMILAR TO '(a|b)_'") == (
            "name NOT RLIKE '^(?:(a|b).)$'"
        )
        # the operator is swapped IN PLACE: a compound lhs stays intact
        # and binds to [NOT] RLIKE with PG's SIMILAR TO precedence
        assert f("a || b SIMILAR TO 'x%'") == "a || b RLIKE '^(?:x.*)$'"
        assert f("a || b NOT SIMILAR TO 'x%'") == (
            "a || b NOT RLIKE '^(?:x.*)$'"
        )
        # embedded escaped quotes survive the regex round trip
        assert f("name SIMILAR TO 'it''s%'") == (
            "name RLIKE '^(?:it''s.*)$'"
        )
        # an identifier merely ENDING in "similar to"-ish text is not one
        assert f("not_similar_to = 'x'") == "not_similar_to = 'x'"
        # PG: the period is NOT a metacharacter in SIMILAR TO
        assert _similar_to_regex("v1.2%") == "^(?:v1\\.2.*)$"
        # bracket expressions pass through verbatim (incl. % _ inside)
        assert _similar_to_regex("x[%_]y") == "^(?:x[%_]y)$"

    def test_agg_orderby_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # r12: string_agg routes through the ordered-collect core —
        # Spark's native ListAgg crashes Catalyst's
        # RewriteDistinctAggregates beside any DISTINCT aggregate
        assert f("string_agg(name, ',' ORDER BY id) AS names") == (
            "array_join(transform(sort_array(collect_list(struct((id) "
            "AS __o0, (name) AS __v))), s -> s.__v), ',') AS names"
        )
        out = f("string_agg(x, '; ' ORDER BY a DESC, b) AS s")
        assert out.startswith("array_join(transform(") and "'; '" in out
        assert f("array_agg(name ORDER BY id) AS names") == (
            "transform(sort_array(collect_list(struct((id) AS __o0, "
            "(name) AS __v))), s -> s.__v) AS names"
        )
        assert f("array_agg(name ORDER BY id DESC) AS names") == (
            "transform(sort_array(collect_list(struct((id) AS __o0, "
            "(name) AS __v)), false), s -> s.__v) AS names"
        )
        # no in-args ORDER BY -> native Spark forms, untouched
        assert f("string_agg(x, ',') AS s") == "string_agg(x, ',') AS s"
        assert f("array_agg(x) AS s") == "array_agg(x) AS s"
        # literals containing agg-looking text survive
        assert f("c = 'string_agg(x ORDER BY y)'") == (
            "c = 'string_agg(x ORDER BY y)'"
        )
        # mixed directions / explicit NULLS placement (refused through r8)
        # now build an array_sort comparator with exact PG semantics
        mixed = f("array_agg(x ORDER BY a ASC, b DESC)")
        assert mixed.startswith("transform(array_sort(collect_list(")
        assert "(l, r) ->" in mixed
        nulls = f("array_agg(x ORDER BY a NULLS LAST)")
        assert "array_sort" in nulls and "IS NULL THEN 1" in nulls
        # uniform direction without NULLS keeps the r8 sort_array fast path
        assert "sort_array" in f("array_agg(x ORDER BY a DESC, b DESC)")
        # r10: the one PG-legal DISTINCT+ORDER shape (order by the value)
        # lifts to array_distinct inside the same ordered-collect core
        d = f("array_agg(DISTINCT x ORDER BY x)")
        assert d == (
            "transform(sort_array(array_distinct(collect_list(struct("
            "(x) AS __o0, (x) AS __v)))), s -> s.__v)"
        )
        ddesc = f("array_agg(DISTINCT (k % 5) ORDER BY (k%5) DESC)")
        assert "array_distinct" in ddesc and ddesc.endswith(
            ", false), s -> s.__v)"
        )
        # an ORDER BY key outside the argument list is illegal in PG too
        with pytest.raises(GeoDBError, match="must be x itself"):
            f("array_agg(DISTINCT x ORDER BY y)")
        with pytest.raises(GeoDBError, match="must be x itself"):
            f("array_agg(DISTINCT x ORDER BY x, y)")
        # FILTER (WHERE ...) folds INTO the collect (CASE WHEN -> NULL
        # rows dropped by collect_list, exactly FILTER semantics) —
        # Spark's FILTER clause can't attach to the transform() rewrite
        filt = f("array_agg(x ORDER BY x) FILTER (WHERE y > 0)")
        assert filt == (
            "transform(sort_array(collect_list(CASE WHEN (y > 0) THEN "
            "struct((x) AS __o0, (x) AS __v) END)), s -> s.__v)"
        )
        jfilt = f("json_agg(x) FILTER (WHERE f(y) = 1) AS a")
        assert jfilt == (
            "to_json(transform(collect_list(CASE WHEN (f(y) = 1) THEN "
            "struct((x) AS __v) END), s -> s.__v)) AS a"
        )
        # plain aggregates keep Spark's native FILTER clause
        assert f("count(*) FILTER (WHERE y > 0)") == (
            "count(*) FILTER (WHERE y > 0)"
        )

    def test_json_arrow_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # text terminal: one get_json_object, chains fold into one path
        assert f("props ->> 'k'") == "get_json_object(props, '$.k')"
        assert f("props->'a'->>'b'") == "get_json_object(props, '$.a.b')"
        assert f("props -> 'items' ->> 2") == (
            "get_json_object(props, '$.items[2]')"
        )
        assert f("props #>> '{a,b,1}'") == (
            "get_json_object(props, '$.a.b[1]')"
        )
        # json terminal rides VARIANT (string values keep their quotes)
        assert f("props -> 'k'") == (
            "to_json(variant_get(try_parse_json(props), '$.k'))"
        )
        assert f("props #> '{a}'") == (
            "to_json(variant_get(try_parse_json(props), '$.a'))"
        )
        # non-identifier keys take the bracket form; quotes in keys refuse
        assert f("props ->> 'a b'") == "get_json_object(props, '$[''a b'']')"
        with pytest.raises(GeoDBError, match="json key"):
            f("props ->> 'a''b'")
        # Spark lambda arrows are NOT json arrows: identifier rhs skips
        assert f("transform(xs, x -> x + 1)") == "transform(xs, x -> x + 1)"
        # KNN operators keep their own rewrite (lookbehind guard)
        assert f("a <-> b") == "st_distance(a, b)"
        # function-call lhs (e.g. a constructed document) chains fine
        # concat carries PG's skip-NULL semantics since r12
        assert f("concat('{\"v\":', x, '}') ->> 'v'") == (
            "get_json_object(concat_ws('', '{\"v\":', x, '}'), '$.v')"
        )
        # literals containing arrows survive untouched
        assert f("c = '->> not an op'") == "c = '->> not an op'"
        with pytest.raises(GeoDBError, match="text-array literal"):
            f("props #>> 'a,b'")
        with pytest.raises(GeoDBError, match="text-array literal"):
            f("props #> 3")

    def test_paren_cast_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # the everyday PG idiom: typed json extraction
        assert f("(props->>'n')::int + 1") == (
            "CAST((get_json_object(props, '$.n')) AS int) + 1"
        )
        # call results with nested parens (outside _CAST_RE's grammar)
        assert f("sum(f(g(x)))::double") == "CAST(sum(f(g(x))) AS double)"
        assert f("count(*)::int8") == "CAST(count(*) AS bigint)"
        # chained casts resolve inner-out
        assert f("((x)::int)::text") == (
            "CAST((CAST((x) AS int)) AS string)"
        )
        # CASE ... END parens are never mistaken for a cast operand
        assert f("CASE WHEN (x > 1) THEN 1 ELSE 0 END") == (
            "CASE WHEN (x > 1) THEN 1 ELSE 0 END"
        )

    def test_geography_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # PostGIS geography default is the spheroid (use_spheroid=true)
        assert f("st_distance(a::geography, b::geography)") == (
            "st_distancespheroid((a), (b))"
        )
        # explicit false -> the haversine sphere kernel
        assert f(
            "st_distance(g::geography, 'POINT (0 51)'::geography, false)"
        ) == "st_distancesphere((g), (st_geomfromtext('POINT (0 51)')))"
        assert f("ST_DWithin(a::geography, b::geography, 1000, false)") == (
            "(st_distancesphere((a), (b)) <= 1000)"
        )
        assert f("st_dwithin(a::geography, b::geography, 1000)") == (
            "(st_distancespheroid((a), (b)) <= 1000)"
        )
        # measures on geography route to the geodesic kernels
        assert f("st_length(l::geography, false)") == (
            "st_lengthsphere((l))"
        )
        assert f("st_length(l::geography)") == "st_lengthspheroid((l))"
        assert f("st_area(p::geography, false)") == "st_areasphere((p))"
        assert f("st_perimeter(p::geography)") == (
            "st_perimeterspheroid((p))"
        )
        # outside the supported calls the cast refuses loudly
        # (stripping it would silently return degrees, not meters)
        with pytest.raises(GeoDBError, match="ST_Distance / ST_DWithin"):
            f("st_centroid(a::geography)")
        with pytest.raises(GeoDBError, match="direct argument"):
            f("st_distance(st_buffer(a::geography, 1), b)")
        # geometry-typed st_distance stays untouched
        assert f("st_distance(a, b)") == "st_distance(a, b)"

    def test_bbox_overlap_and_misc_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        # PostGIS && -> envelope intersect
        assert f("geometry && other") == (
            "st_intersects(st_envelope(geometry), st_envelope(other))"
        )
        assert f("g && 'POINT (1 2)'::geometry") == (
            "st_intersects(st_envelope(g), "
            "st_envelope(st_geomfromtext('POINT (1 2)')))"
        )
        with pytest.raises(GeoDBError, match="operand shape for &&"):
            f("a + b && c")
        # json_agg / jsonb_agg -> to_json over the ordered-collect core
        assert f("json_agg(x ORDER BY x)") == (
            "to_json(transform(sort_array(collect_list(struct((x) AS "
            "__o0, (x) AS __v))), s -> s.__v))"
        )
        assert f("jsonb_agg(x)") == (
            "to_json(transform(collect_list(struct((x) AS __v)), "
            "s -> s.__v))"
        )
        # to_char template translation; unknown tokens refuse
        assert f("to_char(ts, 'YYYY-MM-DD')") == (
            "date_format(ts, 'yyyy-MM-dd')"
        )
        assert f("to_char(ts, 'HH24:MI:SS')") == (
            "date_format(ts, 'HH:mm:ss')"
        )
        # numeric templates route to the r11 numeric path (TestR11
        # ScalarShims pins the forms); D/G are decimal/group synonyms
        assert f("to_char(n, '999D99')") == (
            "CASE WHEN CAST(n AS DOUBLE) IS NULL THEN NULL ELSE "
            "lpad(format_string('%.2f', CAST(n AS DOUBLE)), 7, ' ') END"
        )
        with pytest.raises(GeoDBError, match="string literal"):
            f("to_char(ts, fmt_col)")
        # string_to_array: literal separator, regex-escaped for split
        # r12: the output pass doubles literal backslashes so Spark's
        # parser delivers the regex-escaped separator intact
        assert f("string_to_array(t, '.')") == "split(t, '\\\\.')"
        with pytest.raises(GeoDBError, match="exactly 2"):
            f("string_to_array(t, ',', 'NULL')")
        # extract(epoch from x): Spark has no epoch field; the
        # timestamp->double cast IS epoch seconds + fractional micros
        assert f("extract(epoch from ts)") == (
            "CAST(CAST((ts) AS TIMESTAMP) AS DOUBLE)"
        )
        assert f("extract(year from ts)") == "extract(year from ts)"
        # PG LIKE-operator spellings (MUST match before the regex ops:
        # the r9 shim half-matched ~~ as ~ and emitted broken SQL)
        assert f("name ~~ 'x%'") == "name LIKE 'x%'"
        assert f("name ~~* '%u%'") == "name ILIKE '%u%'"
        assert f("name !~~ 'x%'") == "name NOT LIKE 'x%'"
        assert f("name !~~* 'x%'") == "name NOT ILIKE 'x%'"
        assert f("name ~ '^x'") == "name RLIKE '^x'"
        # PG text-search match operator -> the dialect's ts_match_all
        assert f("to_tsvector('english', t) @@ plainto_tsquery('q')") == (
            "ts_match_all(to_tsvector('english', t), plainto_tsquery('q'))"
        )
        # PG 14 date_bin: closed-form epoch arithmetic, folded literals
        db = f("date_bin(INTERVAL '15 minutes', ts, "
               "TIMESTAMP '2024-01-01 00:00:00')")
        assert db == (
            "timestamp_seconds(floor((CAST(CAST(ts AS TIMESTAMP) AS "
            "DOUBLE) - 1704067200.0) / 900.0) * 900.0 + 1704067200.0)"
        )
        with pytest.raises(GeoDBError, match="fixed-length"):
            f("date_bin(INTERVAL '1 month', ts, TIMESTAMP '2024-01-01')")
        with pytest.raises(GeoDBError, match="INTERVAL"):
            f("date_bin(stride_col, ts, TIMESTAMP '2024-01-01')")
        # jsonb key-existence operators + name aliases
        assert f("props ? 'k'") == (
            "array_contains(json_object_keys(props), 'k')"
        )
        assert f("props ?| ARRAY['a','b']") == (
            "arrays_overlap(json_object_keys(props), array('a','b'))"
        )
        assert f("props ?& ARRAY['a','b']") == (
            "size(array_except(array('a','b'), "
            "json_object_keys(props))) = 0"
        )
        assert f("jsonb_array_length(j)") == "json_array_length(j)"
        assert f("c = 'what?'") == "c = 'what?'"  # literal ? untouched
        # PG array scalars: NULL-for-empty length, cat, strpos swap
        assert f("array_length(tags, 1)") == "nullif(size(tags), 0)"
        assert f("array_upper(tags, 1)") == "nullif(size(tags), 0)"
        assert f("array_cat(a, b)") == "concat(a, b)"
        assert f("strpos(name, 'x')") == "locate('x', name)"
        with pytest.raises(GeoDBError, match="dimension 1"):
            f("array_length(a, 2)")
        # json_build_object -> to_json(named_struct(...))
        assert f("json_build_object('k', v)") == (
            "to_json(named_struct('k', v))"
        )
        assert f("jsonb_build_object('a', f(x, g(y)))") == (
            "to_json(named_struct('a', f(x, g(y))))"
        )

    def test_export_geojson_without_geometry_raises(self, client, land_use, tmp_path):
        with pytest.raises(GeoDBError, match="geometry column"):
            client.export_collection(
                land_use, str(tmp_path / "x"), fmt="geojson", query="select=id"
            )


class TestGrantsAndCapabilities:
    def test_list_my_grants_empty(self, client, land_use):
        df = client.list_my_grants()
        assert list(df.columns) == ["Grants"]
        assert df.iloc[0, 0] == "No Grants"

    def test_list_my_grants_rows(self, client, land_use):
        client.grant_access_to_collection(land_use, "alice")
        client.publish_collection(land_use)
        df = client.list_my_grants()
        got = {(r["collection"], r["grantee"], r["privilege"])
               for _, r in df.iterrows()}
        assert (land_use, "alice", "SELECT") in got
        assert (land_use, "PUBLIC", "SELECT") in got

    def test_capabilities_lists_collection_schemas(self, client, land_use):
        caps = client.capabilities
        key = f"tester_{land_use}"
        assert key in caps["definitions"]
        props = caps["definitions"][key]["properties"]
        assert "raba_id" in props
        # DDL refreshes on next access (reference invalidates its cache)
        client.add_property(land_use, "new_col", "int")
        assert "new_col" in client.capabilities["definitions"][key]["properties"]


class TestSearchCollection:
    def test_ranked_search(self, client):
        client.create_collection("docs", {"body": "string"})
        values = pd.DataFrame(
            {
                "body": [
                    "spark shuffle join spark",
                    "hash table scan",
                    "spark hash window",
                    "unrelated words entirely",
                ],
            }
        )
        client.insert_into_collection("docs", values)
        out = client.search_collection("docs", "Spark, hash!", "body", k=3)
        assert list(out.columns[:2]) == ["id", "bm25"]
        assert len(out) == 3
        # doc containing both query terms ranks first
        assert out.iloc[0]["body"] == "spark hash window"
        assert out.iloc[0]["bm25"] > out.iloc[1]["bm25"]
        assert "unrelated words entirely" not in set(out["body"].head(3)) or \
            out.iloc[2]["bm25"] >= 0

    def test_empty_query_raises(self, client):
        client.create_collection("docs2", {"body": "string"})
        with pytest.raises(GeoDBError):
            client.search_collection("docs2", "!!!", "body")


@pytest.mark.slow
def test_quickstart_example_runs(tmp_path):
    """The examples/quickstart.py notebook-parity walkthrough must keep
    executing end-to-end (subprocess: it owns its own SparkSession)."""
    import os
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "examples", "quickstart.py")],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "quickstart complete" in r.stdout


class TestQuantilesCollection:
    def test_manifest_bounds_used_and_values_sane(self, spark, tmp_path):
        import pandas as pd

        from xcube_geodb_spark.client import GeoDBSparkClient

        c = GeoDBSparkClient(
            spark, warehouse=str(tmp_path / "wh"), user="q"
        )
        c.create_collection("t", {"v": "float"})
        c.insert_into_collection(
            "t",
            pd.DataFrame(
                {
                    "geometry": [f"POINT ({i} 0)" for i in range(100)],
                    "v": [float(i + 1) for i in range(100)],
                }
            ),
        )
        out = c.quantiles_collection("t", "v", qs=(0.5, 1.0), bins=100)
        got = dict(zip(out["q"], out["est"]))
        # manifest bounds are (1, 100): median lands within one bucket
        # width of 50, max exactly 100
        assert abs(got[0.5] - 50.0) <= (99.0 / 100) * 1.5
        assert got[1.0] == 100.0

    def test_grouped(self, spark, tmp_path):
        import pandas as pd

        from xcube_geodb_spark.client import GeoDBSparkClient

        c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh2"), user="q")
        c.create_collection("t2", {"v": "float", "g": "text"})
        c.insert_into_collection(
            "t2",
            pd.DataFrame(
                {
                    "geometry": ["POINT (0 0)"] * 40,
                    "v": [float(i % 20 + 1) for i in range(40)],
                    "g": ["a"] * 20 + ["b"] * 20,
                }
            ),
        )
        out = c.quantiles_collection(
            "t2", "v", qs=(1.0,), bins=20, group_by=["g"]
        )
        assert sorted(out["g"]) == ["a", "b"]
        assert set(out["est"]) == {20.0}


@pytest.mark.slow
def test_corpus_pipeline_example_runs(tmp_path):
    """The examples/corpus_pipeline.py walkthrough must keep executing
    end-to-end (subprocess: it owns its own SparkSession)."""
    import os
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "examples", "corpus_pipeline.py")],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "corpus pipeline complete" in r.stdout


class TestCheckConstraints:
    @pytest.fixture()
    def cc(self, spark, tmp_path):
        import pandas as pd

        from xcube_geodb_spark.client import GeoDBSparkClient

        c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user="k")
        c.create_collection("t", {"v": "int", "name": "text"})
        c.insert_into_collection(
            "t",
            pd.DataFrame(
                {
                    "geometry": ["POINT (0 0)", "POINT (1 1)"],
                    "v": [5, 10],
                    "name": ["a", "b"],
                }
            ),
        )
        return c

    def test_add_validates_existing_rows(self, cc):
        from xcube_geodb_spark.errors import GeoDBError

        with pytest.raises(GeoDBError, match="existing row"):
            cc.add_constraint("t", "v_big", "v > 7")
        cc.add_constraint("t", "v_pos", "v > 0")
        assert cc.get_constraints("t") == {"v_pos": "v > 0"}

    def test_insert_rejects_violation_and_commits_nothing(self, cc):
        import pandas as pd

        from xcube_geodb_spark.errors import GeoDBError

        cc.add_constraint("t", "v_pos", "v > 0")
        with pytest.raises(GeoDBError, match="v_pos"):
            cc.insert_into_collection(
                "t",
                pd.DataFrame(
                    {"geometry": ["POINT (2 2)"], "v": [-1], "name": ["x"]}
                ),
            )
        assert len(cc.get_collection("t")) == 2  # nothing committed
        cc.insert_into_collection(
            "t",
            pd.DataFrame({"geometry": ["POINT (2 2)"], "v": [3], "name": ["x"]}),
        )
        assert len(cc.get_collection("t")) == 3

    def test_update_and_upsert_enforced_null_passes(self, cc):
        import pandas as pd

        from xcube_geodb_spark.errors import GeoDBError

        cc.add_constraint("t", "v_pos", "v > 0")
        with pytest.raises(GeoDBError, match="update"):
            cc.update_collection("t", {"v": -5}, "name=eq.a")
        # NULL check result passes (Postgres semantics)
        cc.insert_into_collection(
            "t",
            pd.DataFrame(
                {"geometry": ["POINT (3 3)"], "v": [None], "name": ["n"]}
            ),
        )
        with pytest.raises(GeoDBError, match="upsert"):
            cc.insert_into_collection(
                "t",
                pd.DataFrame(
                    {
                        "id": [1],
                        "geometry": ["POINT (0 0)"],
                        "v": [-9],
                        "name": ["a"],
                    }
                ),
                upsert=True,
            )

    def test_drop_constraint_lifts_enforcement(self, cc):
        import pandas as pd

        cc.add_constraint("t", "v_pos", "v > 0")
        cc.drop_constraint("t", "v_pos")
        cc.insert_into_collection(
            "t",
            pd.DataFrame({"geometry": ["POINT (4 4)"], "v": [-2], "name": ["z"]}),
        )
        assert len(cc.get_collection("t")) == 3


class TestR11AdviceFixes:
    """Regression pins for the r10 ADVICE items (VERDICT.md round 10)."""

    def test_geography_cast_case_insensitive(self):
        # (x)::GEOGRAPHY must arm the marker-consuming geodesic pass —
        # PG type names are case-insensitive; the r10 gate was not,
        # leaking the internal marker into the final SQL
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        for t in ("GEOGRAPHY", "Geography", "geography"):
            out = f(f"st_distance((a)::{t}, (b)::{t})")
            assert "__geodb_geography__" not in out, out
            assert "st_distancespheroid" in out, out

    def test_lambda_literal_body_survives(self):
        # a Spark lambda whose body is a bare literal is NOT a PG json
        # arrow (`transform(xs, x -> 'y')` used to rewrite to a broken
        # variant_get walk)
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        for clause in (
            "transform(xs, x -> 'y')",
            "transform(xs, x -> 1)",
            "filter(xs, x -> 'y')",
            "aggregate(xs, 0, (acc, v) -> 1)",
            "array_sort(xs, (l, r) -> 1)",
        ):
            assert f(clause) == clause, clause
        # arrows inside non-HOF calls and lambda BODIES still rewrite
        assert f("coalesce(j ->> 'k', 'x')") == (
            "coalesce(get_json_object(j, '$.k'), 'x')"
        )
        assert f("transform(xs, x -> x ->> 'k')") == (
            "transform(xs, x -> get_json_object(x, '$.k'))"
        )

    def test_keyword_operand_refuses_loudly(self):
        # `CASE ... END ->> 'k'` (valid PG) used to emit broken SQL; the
        # operand scanner stops at END — refuse with a parenthesize hint
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        for clause in (
            "CASE WHEN a THEN j ELSE k END ->> 'k'",
            "CASE WHEN a THEN j ELSE k END -> 'k'",
            "CASE WHEN a THEN x ELSE y END @> z",
            "CASE WHEN a THEN g ELSE h END && b",
            "CASE WHEN a THEN v ELSE w END @@ q",
            "CASE WHEN a THEN j ELSE k END ? 'k'",
        ):
            with pytest.raises(GeoDBError, match="[Pp]arenthesize"):
                f(clause)
        # the parenthesized spelling rewrites correctly
        assert f("(CASE WHEN a THEN j ELSE k END) ->> 'k'") == (
            "get_json_object((CASE WHEN a THEN j ELSE k END), '$.k')"
        )


def _from_clause(table: str) -> str:
    """The FROM clause build_pg_sql emits for ``table``."""
    from xcube_geodb_spark.operators.scan import build_pg_sql

    return build_pg_sql(table, select="*")[len("SELECT * FROM "):]


class TestFromSrfRewrites:
    """FROM-position set-returning functions (r10 verdict order 1):
    string-level pins for operators/scan._rewrite_from_srfs; execution
    + value semantics are oracle-gated by pg_from_srf."""

    def test_comma_form_unnest(self):
        f = _from_clause

        assert f("t, unnest(t.arr) AS u(x)") == (
            "t LATERAL VIEW explode(t.arr) u AS x"
        )
        # PG scalar-function rule: bare alias names the COLUMN
        assert f("t, unnest(t.arr) u") == (
            "t LATERAL VIEW explode(t.arr) u AS u"
        )
        # no alias: PG default column name = function name
        assert f("t, unnest(t.arr)") == (
            "t LATERAL VIEW explode(t.arr) unnest AS unnest"
        )

    def test_with_ordinality_and_multi_array(self):
        f = _from_clause

        out = f("t, unnest(t.arr) WITH ORDINALITY AS u(x, i)")
        assert "inline(transform(t.arr" in out and "u AS x, i" in out
        # 1-based BIGINT ordinal, ordinality column LAST like PG
        assert "__geodb_i + 1 AS BIGINT" in out
        assert f("t, unnest(a, b) AS u(x, y)") == (
            "t LATERAL VIEW inline(arrays_zip(a, b)) u AS x, y"
        )
        with pytest.raises(GeoDBError, match="uniquely named"):
            f("t, unnest(a, b)")  # multi-array needs explicit columns

    def test_json_each_forms(self):
        f = _from_clause

        assert f("e, json_each_text(props) AS x(k, v)") == (
            "e LATERAL VIEW explode(from_json(props, "
            "'map<string,string>')) x AS k, v"
        )
        # json-typed values go through to_json(variant) — quotes kept
        out = f("e, jsonb_each(props) x")
        assert "map<string,variant>" in out and "to_json(__geodb_v)" in out
        assert out.endswith("x AS key, value")

    def test_elements_and_standalone(self):
        f = _from_clause

        # PG's scalar-SRF rule: a bare alias names the COLUMN (text-
        # returning set function), so `... el` yields column el
        assert f("t, json_array_elements_text(t.j) el") == (
            "t LATERAL VIEW explode(from_json(t.j, 'array<string>')) "
            "el AS el"
        )
        assert f("t, json_array_elements_text(t.j) AS el(value)") == (
            "t LATERAL VIEW explode(from_json(t.j, 'array<string>')) "
            "el AS value"
        )
        assert f("t, json_object_keys(t.j) AS ko(k)") == (
            "t LATERAL VIEW explode(json_object_keys(t.j)) ko AS k"
        )
        assert f("t, regexp_split_to_table(t.name, '[-_]') tok") == (
            "t LATERAL VIEW explode(split(t.name, '[-_]')) tok AS tok"
        )
        # the separator is regex-escaped, and its backslash doubled for
        # Spark's string-literal unescaping (Spark reads '\.' as '.')
        assert f("t, string_to_table(t.name, '.') part") == (
            "t LATERAL VIEW explode(split(t.name, '\\\\.')) part AS part"
        )
        # standalone literal-args form -> lateral subquery
        assert f("unnest(array(1,2,3)) t(x)") == (
            "(SELECT explode(array(1,2,3)) AS x) t"
        )
        out = f("json_each_text('{\"a\":1}') e(k, v)")
        assert out.startswith("(SELECT explode(from_json('{\"a\":1}'")
        assert out.endswith("AS (k, v)) e")

    def test_string_to_table_splits_on_the_literal_separator(self, spark):
        from xcube_geodb_spark.operators.scan import build_pg_sql

        sql = build_pg_sql(
            "(SELECT 'a.b' AS name) s, string_to_table(s.name, '.') p",
            select="p",
        )
        assert [r[0] for r in spark.sql(sql).collect()] == ["a", "b"]

    def test_join_spellings_and_nesting(self):
        f = _from_clause

        assert f("t CROSS JOIN unnest(t.arr) u(x)") == (
            "t LATERAL VIEW explode(t.arr) u AS x"
        )
        assert f("t CROSS JOIN LATERAL unnest(t.arr) u(x)") == (
            "t LATERAL VIEW explode(t.arr) u AS x"
        )
        assert f("t, LATERAL unnest(t.arr) u(x)") == (
            "t LATERAL VIEW explode(t.arr) u AS x"
        )
        # SRFs nested in a subquery item are that scope's business
        assert f("(SELECT unnest(x) FROM q) s") == "(SELECT unnest(x) FROM q) s"
        # a plain table clause passes through untouched
        assert f("lineitem") == "lineitem"
        # join chains keep their shape; lateral views append at the end
        assert f("a JOIN b ON a.id = b.id, unnest(a.arr) u(x)") == (
            "a JOIN b ON a.id = b.id LATERAL VIEW explode(a.arr) u AS x"
        )

    def test_alias_column_count_mismatch_refuses(self):
        f = _from_clause

        with pytest.raises(GeoDBError, match="output column"):
            f("e, json_each_text(props) AS x(k)")
        with pytest.raises(GeoDBError, match="ORDINALITY"):
            f("e, json_each(props) WITH ORDINALITY x")


class TestJsonbConcatGuard:
    """r10 verdict What's-wrong #1: `jsonb || jsonb` must refuse loudly
    (Spark's || string-concats where PG merges); jsonb_merge is the
    provided function spelling with exact PG semantics."""

    def test_json_typed_operands_refuse(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        for clause in (
            "props::jsonb || other",
            "a || b::json",
            "'{\"a\":1}'::jsonb || props",
            "a || '{\"b\":2}'::jsonb",
            "(a)::jsonb || b",
            "a || (b)::jsonb",
            "json_build_object('k', 1) || x",
            "x || jsonb_agg(v)",
            "to_jsonb(r) || x",
            "props -> 'a' || x",
            "x || props -> 'a'",
            "props #> '{a}' || x",
            "x || props #> '{a}'",
        ):
            with pytest.raises(GeoDBError, match="jsonb_merge"):
                f(clause)

    def test_string_concat_still_passes(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        for clause in (
            "name || '-suffix'",
            "a || b",
            "(props ->> 'k') || 'x'",
            "props ->> 'k' || 'x'",
            "x || props ->> 'k'",
            "props #>> '{a}' || 'x'",
            "transform(xs, x -> y || 'z')",
            "'lit || lit2' || col",
        ):
            f(clause)  # must not raise

    def test_jsonb_merge_kernel_pg_semantics(self):
        from xcube_geodb_spark.functions.jsonsql import jsonb_merge_py as m

        # object || object: shallow merge, right wins
        assert m('{"a":1,"b":2}', '{"b":9,"c":3}') == (
            '{"a": 1, "b": 9, "c": 3}'
        )
        # PG keeps null-valued keys (RFC-7386 merge-patch would DROP b)
        assert m('{"a":1}', '{"b":null}') == '{"a": 1, "b": null}'
        # PG shallow merge REPLACES nested objects (merge-patch recurses)
        assert m('{"a":{"x":1,"y":2}}', '{"a":{"z":3}}') == '{"a": {"z": 3}}'
        # array concatenation, non-arrays wrap as single elements
        assert m('[1,2]', '[3]') == '[1, 2, 3]'
        assert m('{"a":1}', '[2]') == '[{"a": 1}, 2]'
        assert m('[1]', '"x"') == '[1, "x"]'
        assert m('"a"', '"b"') == '["a", "b"]'
        # PG jsonb text rendering: keys sorted (length, bytes) at every
        # level, ", "/": " separators
        assert m('{"bb":1,"a":2,"ccc":{"z":1,"bb":2}}', '{}') == (
            '{"a": 2, "bb": 1, "ccc": {"z": 1, "bb": 2}}'
        )
        # NULL / malformed inputs -> NULL (engine try-parse convention)
        assert m(None, "{}") is None
        assert m("{}", None) is None
        assert m("not json", "{}") is None


class TestR11ScalarShims:
    """r10 verdict orders 4 and 6: to_jsonb/row_to_json, the date_part
    epoch spelling, AT TIME ZONE, and numeric to_char."""

    def test_to_jsonb_row_packaging(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("to_jsonb(li)") == "to_json(struct(li.*))"
        assert f("row_to_json(t)") == "to_json(struct(t.*))"
        with pytest.raises(GeoDBError, match="row reference"):
            f("to_jsonb(x + 1)")
        with pytest.raises(GeoDBError, match="row reference"):
            f("to_jsonb('text')")

    def test_date_part_epoch_routes_like_extract(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("date_part('epoch', ts)") == (
            "CAST(CAST((ts) AS TIMESTAMP) AS DOUBLE)"
        )
        # the same expression extract(epoch from ...) compiles to
        assert f("extract(epoch from ts)") == (
            "CAST(CAST((ts) AS TIMESTAMP) AS DOUBLE)"
        )
        # other fields pass through (Spark runs date_part natively)
        assert f("date_part('year', ts)") == "date_part('year', ts)"

    def test_epoch_of_interval_difference(self, spark):
        """r12: PG's canonical duration idiom extract(epoch from t2 - t1)
        has an INTERVAL operand no timestamp cast can lift — the shim
        emits the epoch-seconds difference instead; other INTERVAL shapes
        refuse loudly naming the supported forms."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        diff = (
            "(CAST(CAST((t2) AS TIMESTAMP) AS DOUBLE) - "
            "CAST(CAST((t1) AS TIMESTAMP) AS DOUBLE))"
        )
        assert f("extract(epoch from t2 - t1)") == diff
        assert f("extract(epoch from (t2 - t1))") == diff
        assert f("date_part('epoch', t2 - t1)") == diff
        # timestamp - INTERVAL literal / date - n yield timestamps again:
        # single-cast path preserved
        assert f("extract(epoch from ts - INTERVAL '1' DAY)") == (
            "CAST(CAST((ts - INTERVAL '1' DAY) AS TIMESTAMP) AS DOUBLE)"
        )
        assert f("extract(epoch from d - 7)") == (
            "CAST(CAST((d - 7) AS TIMESTAMP) AS DOUBLE)"
        )
        # json arrows in the operand are not binary minuses
        assert "- CAST" not in f("extract(epoch from j ->> 'k')")
        for bad in (
            "extract(epoch from t3 - t2 - t1)",
            "extract(epoch from INTERVAL '1 day' - t1)",
        ):
            with pytest.raises(GeoDBError, match="t2 - t1|INTERVAL"):
                f(bad)
        # value-level: 27h difference = 97200 s
        row = spark.sql(
            "SELECT "
            + f("extract(epoch from t2 - t1)")
            + " AS s FROM (SELECT timestamp'2024-01-02 03:00:00' AS t2, "
            "timestamp'2024-01-01 00:00:00' AS t1)"
        ).collect()[0]
        assert row.s == 97200.0

    def test_to_timestamp_to_date_templates(self, spark):
        """r12: PG templates route through the shared to_char token
        table for the parse direction — untranslated they hit Spark's
        Java patterns where YYYY is week-based-year and DD day-of-year
        (DATETIME_PATTERN_RECOGNITION)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("to_timestamp(s, 'YYYY-MM-DD')") == (
            "to_timestamp(s, 'yyyy-MM-dd')"
        )
        assert f("to_date(s, 'DD Mon YYYY')") == "to_date(s, 'dd MMM yyyy')"
        assert f("to_timestamp(s, 'HH24:MI:SS')") == (
            "to_timestamp(s, 'HH:mm:ss')"
        )
        # PG's 1-arg form takes epoch seconds
        assert f("to_timestamp(x)") == "timestamp_seconds(CAST(x AS DOUBLE))"
        # Spark's ISO to_date(s) == PG s::date — passthrough
        assert f("to_date(s)") == "to_date(s)"
        for bad, why in (
            ("to_timestamp('x')", "epoch seconds"),
            ("to_timestamp(s, fmtcol)", "string literal"),
            ("to_timestamp(s, 'YYYY TZ')", "cannot be parsed"),
        ):
            with pytest.raises(GeoDBError, match=why):
                f(bad)
        # value-level incl. PG's case-insensitive name parsing
        row = spark.sql(
            "SELECT "
            + f("to_timestamp('05 JAN 1996', 'DD Mon YYYY')")
            + " AS a, "
            + f("to_date('1996-03-05', 'YYYY-MM-DD')")
            + " AS b, "
            + f("to_timestamp(3.25)")
            + " AS c"
        ).collect()[0]
        assert str(row.a) == "1996-01-05 00:00:00"
        assert str(row.b) == "1996-03-05"
        assert str(row.c) == "1970-01-01 00:00:03.250000"

    def test_everyday_semantics_values(self, spark):
        """r12 probe round: int division, 1-based subscripts, skip-NULL
        concat, negative string windows — PG values, not Spark's."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("7 / 2") == "7 DIV 2"
        assert f("a / b") == "a / b"  # unprovable: documented boundary
        assert f("7 / 2.0") == "7 / 2.0"  # numeric operand: PG is numeric
        # same-precedence left context: the division's left input is the
        # whole product (unknown type), not the adjacent literal
        assert f("x * 7 / 2") == "x * 7 / 2"
        assert f("x % 7 / 2") == "x % 7 / 2"
        assert f("x + 7 / 2") == "x + 7 DIV 2"
        # ...but an int-division chain stays integral left-to-right
        assert f("8 / 3 / 2") == "8 DIV 3 DIV 2"
        assert f("x * -7 / 2") == "x * -7 / 2"
        assert f("arr[1]") == "try_element_at(arr, 1)"
        assert f("concat(a, b)") == "concat_ws('', a, b)"
        assert f("concat_ws('-', a, b)") == "concat_ws('-', a, b)"
        spark.sql(
            "SELECT array('a','b','c') AS arr, 'abcdef' AS s, 2 AS i"
        ).createOrReplaceTempView("eds_t")
        cases = [
            ("7 / 2", 3),
            ("-7 / 2", -3),  # toward zero, not floor
            ("arr[1]", "a"),
            ("arr[i]", "b"),  # column index through the CASE guard
            ("arr[0]", None),
            ("arr[-1]", None),  # PG: NULL, never count-from-end
            ("arr[9]", None),
            ("concat('a', NULL, 'b')", "ab"),
            ("left(s, -2)", "abcd"),
            ("right(s, -2)", "cdef"),
            ("substring(s, 0, 3)", "ab"),
            ("substring(s, -2, 5)", "ab"),
        ]
        exprs = [f"{f(sql)} AS c{i}" for i, (sql, _) in enumerate(cases)]
        row = spark.sql(
            "SELECT " + ", ".join(exprs) + " FROM eds_t"
        ).collect()[0]
        for i, (sql, want) in enumerate(cases):
            assert row[f"c{i}"] == want, sql

    def test_to_number_and_between_symmetric(self, spark):
        """r12: to_number (parse direction of the numeric to_char
        subset) and BETWEEN SYMMETRIC (either-order bounds — Spark's
        parser rejects the keyword)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("x BETWEEN SYMMETRIC 5 AND 1") == (
            "x BETWEEN least(5, 1) AND greatest(5, 1)"
        )
        assert f("x NOT BETWEEN SYMMETRIC b AND a") == (
            "x NOT BETWEEN least(b, a) AND greatest(b, a)"
        )
        # parenthesized lower bound containing its own AND: the bounds
        # separator is the first depth-0 AND
        assert f(
            "x BETWEEN SYMMETRIC (CASE WHEN a AND b THEN 1 ELSE 2 END) "
            "AND 9"
        ) == (
            "x BETWEEN least((CASE WHEN a AND b THEN 1 ELSE 2 END), 9) "
            "AND greatest((CASE WHEN a AND b THEN 1 ELSE 2 END), 9)"
        )
        for bad in (
            "to_number(s, 'RN')",
            "to_number(s, fmtcol)",
            "x BETWEEN SYMMETRIC 1 AND b + 1",
        ):
            with pytest.raises(GeoDBError):
                f(bad)
        row = spark.sql(
            "SELECT "
            + f("to_number('12,345.67', '99G999D99')")
            + " AS n, "
            + f("to_number(NULL, '999')")
            + " AS nn, "
            + f("3 BETWEEN SYMMETRIC 5 AND 1")
            + " AS b1, "
            + f("7 BETWEEN SYMMETRIC 5 AND 1")
            + " AS b2"
        ).collect()[0]
        assert row.n == 12345.67
        assert row.nn is None
        assert row.b1 is True and row.b2 is False

    def test_regexp_replace_first_match_semantics(self, spark):
        """r12 probe (DuckDB-confirmed): PG regexp_replace without 'g'
        replaces only the FIRST match — Spark's 3-arg form replaces ALL
        — and PG spells backrefs \\1/\\& where Java wants $1/$0. Value-
        level pins against literal expecteds (not a formula replay)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        cases = [
            (r"regexp_replace('aaa', 'a', 'b')", "baa"),
            (r"regexp_replace('a1b2c', '\d', 'x')", "axb2c"),
            (r"regexp_replace('a1b2c', '\d', 'x', 'g')", "axbxc"),
            (r"regexp_replace('a1b2', '([0-9])', '<\1>', 'g')", "a<1>b<2>"),
            (r"regexp_replace('a1b2', '([0-9])', '<\1>')", "a<1>b2"),
            (r"regexp_replace('A1b2', '([a-z])(\d)', '\2\1', 'i')", "1Ab2"),
            (r"regexp_replace('xyz', 'q', 'b')", "xyz"),
            (
                r"regexp_replace(regexp_replace('aab', 'a', 'x'), 'b', 'y')",
                "xay",
            ),
            (r"regexp_replace('a$b', '\$', 'D', 'g')", "aDb"),
            (r"regexp_replace('5 bucks', '(\d+)', '$\1', 'g')", "$5 bucks"),
            (r"regexp_replace('a\&b', '\\&', 'x', 'g')", "axb"),
            (r"regexp_replace('aXbXc', 'x', '-', 'i')", "a-bXc"),
            (r"regexp_replace('aXbXc', 'x', '-', 'gi')", "a-b-c"),
            # empty-capable pattern matches at position 1, like PG
            (r"regexp_replace('ab', 'x*', '-')", "-ab"),
            (r"regexp_replace(NULL, 'a', 'b')", None),
            (r"regexp_replace('ab', NULL, 'b')", None),
        ]
        sel = ", ".join(f"{f(sql)} AS c{i}" for i, (sql, _) in enumerate(cases))
        row = spark.sql(f"SELECT {sel}").collect()[0]
        for i, (sql, want) in enumerate(cases):
            assert row[f"c{i}"] == want, sql

    def test_literal_backslashes_reach_spark_intact(self, spark):
        """r12 probe: Spark's parser treats backslash as an escape in
        string literals; PG does not — '\\d+' through a verbatim
        passthrough becomes 'd+' and silently matches letter-d runs.
        The shim doubles backslashes in its final output's literals."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f(r"name ~ '\d+'") == r"name RLIKE '\\d+'"
        spark.sql(
            "SELECT * FROM VALUES ('a1'),('dd'),('b22') AS t(name)"
        ).createOrReplaceTempView("bs_t")
        got = spark.sql(
            r"SELECT name FROM bs_t WHERE " + f(r"name ~ '\d+'")
        ).collect()
        assert sorted(r.name for r in got) == ["a1", "b22"]
        # the emitted re.escape'd split separator survives too
        row = spark.sql(
            "SELECT " + f(r"string_to_array('a.b.c', '.')") + " AS v"
        ).collect()[0]
        assert row.v == ["a", "b", "c"]
        # SIMILAR TO's escaped period is a literal period, not any-char
        got = spark.sql(
            "SELECT name FROM bs_t WHERE " + f("name SIMILAR TO 'a.%'")
        ).collect()
        assert [r.name for r in got] == []

    def test_log_trim_hex_regexp_match(self, spark):
        """r12 probe: PG's single-arg log is BASE 10 where Spark's is
        the natural log (silent wrong value), and Spark's 2-arg
        ltrim/rtrim REVERSE the arguments (trimStr first — silently
        trims the wrong operand). Plus to_hex and literal-pattern
        regexp_match."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        cases = [
            ("log(100.0)", 2.0),
            ("log(2, 32.0)", 5.0),
            ("ltrim('xxabcx', 'x')", "abcx"),
            ("rtrim('xabcxx', 'x')", "xabc"),
            ("ltrim('  ab ')", "ab "),
            ("btrim('xxabcxx', 'x')", "abc"),
            ("to_hex(255)", "ff"),
            (r"regexp_match('a1b2', '(\d)')", ["1"]),
            (r"regexp_match('abc', '\d+')", None),
            (r"regexp_match('a7', 'A(\d)', 'i')", ["7"]),
            (r"regexp_match('xy', 'x')", ["x"]),
            # optional group that doesn't participate -> NULL element
            (r"regexp_match('a1', '(\d)(z)?')", ["1", None]),
        ]
        sel = ", ".join(f"{f(sql)} AS c{i}" for i, (sql, _) in enumerate(cases))
        row = spark.sql(f"SELECT {sel}").collect()[0]
        for i, (sql, want) in enumerate(cases):
            assert row[f"c{i}"] == want, sql
        for bad in (
            "regexp_match(s, pat_col)",
            "regexp_match('a', 'b', 'g')",
            "to_hex(1, 2)",
        ):
            with pytest.raises(GeoDBError):
                f(bad)
        # r12: year-bucket extract fields + array_to_string alias
        more = [
            ("extract(isoyear from date '2023-01-01')", 2022),
            ("extract(century from date '2000-12-31')", 20),
            ("extract(decade from date '2024-05-05')", 202),
            ("extract(millennium from date '2024-05-05')", 3),
            ("date_part('century', date '2024-05-05')", 21),
            ("array_to_string(string_to_array('a-b-c', '-'), '+')", "a+b+c"),
            ("array_to_string(array['x', NULL], '-', 'N')", "x-N"),
            # r12: PG format() — %s renders NULL as '', %% escapes,
            # %n$s positions; Java's format_string would print 'null'
            ("format('%s-%s', 'a', 1)", "a-1"),
            ("format('%s', NULL)", ""),
            ("format('100%% of %s', 'x')", "100% of x"),
            ("format('%2$s %1$s', 'b', 'a')", "a b"),
            # comma spelling of the regex substring
            (r"substring('ab12cd', '[0-9]+')", "12"),
            (r"substring('ab12cd', '([a-z]+)[0-9]')", "ab"),
            # ms/us: PG's seconds-field-including-fraction scaling
            (
                "CAST(extract(milliseconds from timestamp "
                "'2024-01-01 00:00:02.5') AS BIGINT)",
                2500,
            ),
            (
                "extract(microseconds from timestamp "
                "'2024-01-01 00:00:02.5')",
                2500000,
            ),
            # r12: PG initcap word boundary is ANY non-alphanumeric
            ("initcap('hello-world foo_bar')", "Hello-World Foo_Bar"),
            ("initcap('o''neill 2nd ABC')", "O'Neill 2nd Abc"),
            ("initcap(NULL)", None),
            # r12: full-name to_char blank-pads to 9; FM strips
            ("to_char(date '2024-03-04', 'Day')", "Monday   "),
            ("to_char(date '2024-03-04', 'FMDay')", "Monday"),
            ("to_char(date '2024-05-04', 'MONTH')", "MAY      "),
            ("to_char(date '2024-05-04', 'month')", "may      "),
            ("to_char(date '2024-05-04', 'FMMonth')", "May"),
            # r12 differential-fuzz finds: unary minus folds into the
            # ANY/ALL lhs; literal-lhs regex operators rewrite too
            ("-3 = ANY(array[1, -3, 7])", True),
            ("-3 > ALL(array[-5, -9])", True),
            (r"'ab1' ~ '[0-9]'", True),
            (r"'ab' !~* 'A.'", False),
            (r"'xy' ~* 'XY'", True),
        ]
        sel = ", ".join(
            f"({f(sql)}) AS m{i}" for i, (sql, _) in enumerate(more)
        )
        row = spark.sql(f"SELECT {sel}").collect()[0]
        for i, (sql, want) in enumerate(more):
            assert row[f"m{i}"] == want, sql
        # r12: PG array scalars — position is NULL (not 0) on absent,
        # prepend is (elem, arr), replace replaces ALL (NULL-safely)
        arrs = [
            ("array_position(array[10,20], 20)", 2),
            ("array_position(array[10,20], 99)", None),
            ("array_prepend(0, array[1,2])", [0, 1, 2]),
            ("array_replace(array[1,2,1], 1, 9)", [9, 2, 9]),
            ("array_replace(array[1,NULL,1], NULL, 0)", [1, 0, 1]),
        ]
        sel = ", ".join(
            f"({f(sql)}) AS a{i}" for i, (sql, _) in enumerate(arrs)
        )
        row = spark.sql(f"SELECT {sel}").collect()[0]
        for i, (sql, want) in enumerate(arrs):
            assert row[f"a{i}"] == want, sql

    def test_pg_null_ordering_defaults(self, spark):
        """r12 probe: PG sorts NULLs LAST ascending / FIRST descending;
        Spark's bare asc()/desc() are the OPPOSITE — silent row-order
        and LIMIT-membership flips. build_pg_sql and window ORDER BYs
        make the PG placement explicit; explicit spellings pass
        through."""
        from xcube_geodb_spark.operators.scan import (
            _pg_clause_to_spark as f,
            _pg_order_nulls,
            build_pg_sql,
        )

        assert _pg_order_nulls("x, y DESC, z ASC, w NULLS FIRST") == (
            "x NULLS LAST, y DESC NULLS FIRST, z ASC NULLS LAST, "
            "w NULLS FIRST"
        )
        # a comma inside a literal separates no sort items
        assert build_pg_sql("t", order="y = 'a,b' DESC, x") == (
            "SELECT * FROM t ORDER BY y = 'a,b' DESC NULLS FIRST, "
            "x NULLS LAST"
        )
        assert f("row_number() OVER (PARTITION BY a ORDER BY b DESC)") == (
            "row_number() OVER (PARTITION BY a ORDER BY b DESC "
            "NULLS FIRST)"
        )
        # frame clause survives after the order list
        assert f(
            "sum(v) OVER (ORDER BY t ROWS BETWEEN 1 PRECEDING "
            "AND CURRENT ROW)"
        ) == (
            "sum(v) OVER (ORDER BY t NULLS LAST ROWS BETWEEN 1 "
            "PRECEDING AND CURRENT ROW)"
        )
        spark.sql(
            "SELECT * FROM VALUES (1,'a'),(NULL,'b'),(2,'c') AS t(x, y)"
        ).createOrReplaceTempView("nulls_t")
        # LIMIT membership: PG ASC keeps non-null rows first
        rows = spark.sql(
            build_pg_sql("nulls_t", select="x, y", order="x", limit=2)
        ).collect()
        assert [r.x for r in rows] == [1, 2]
        rows = spark.sql(
            build_pg_sql("nulls_t", select="x, y", order="x DESC", limit=2)
        ).collect()
        assert [r.x for r in rows] == [None, 2]

    def test_substring_from_regex(self, spark):
        """r12: PG's substring(s FROM 'posix') regex extraction — group 1
        when the pattern captures, whole match otherwise, NULL when it
        doesn't match (untranslated, Spark casts the pattern to INT and
        dies)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("substring(s from '[0-9]+')") == (
            "CASE WHEN s RLIKE '[0-9]+' "
            "THEN regexp_extract(s, '[0-9]+', 0) END"
        )
        # positional FROM stays Spark-native
        assert f("substring(s from 2 for 3)") == "substring(s from 2 for 3)"
        row = spark.sql(
            "SELECT "
            + f("substring('abc123' from '[0-9]+')")
            + " AS a, "
            + f("substring('abc123' from '([a-z]+)[0-9]')")
            + " AS b, "
            + f("substring('abc123' from 'zz+')")
            + " AS c"
        ).collect()[0]
        assert (row.a, row.b, row.c) == ("123", "abc", None)

    def test_round_double_half_even_and_multiword_types(self, spark):
        """r12: PG round(float8) ties are HALF-TO-EVEN (C rint) where
        Spark's round is HALF_UP — provably-double operands route to
        rint; NUMERIC stays HALF_UP (= PG's half-away on both signs).
        Multi-word PG type spellings canonicalize instead of
        half-matching (::double precision used to leave a dangling
        'precision' token that SELECT read as a silent alias)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("round(x::float8)") == "rint(CAST(x AS double))"
        assert f("round(x::double precision)") == "rint(CAST(x AS DOUBLE))"
        assert f("round(-2.5::float8)") == "rint(-CAST(2.5 AS double))"
        # 2-arg / numeric / unprovable operands stay Spark round
        assert f("round(x::float8, 2)") == "round(CAST(x AS double), 2)"
        assert f("round(x)") == "round(x)"
        assert "rint" not in f("round(x::numeric(10,2))")
        # multi-word types
        assert f("x::double precision") == "CAST(x AS DOUBLE)"
        assert f("s::character varying(3)") == (
            "substring(CAST(s AS STRING), 1, 3)"
        )
        assert f("ts::timestamp with time zone") == "CAST(ts AS timestamp)"
        assert "timestamp_micros" in f("ts::timestamp(3) without time zone")
        with pytest.raises(GeoDBError, match="bit strings"):
            f("x::bit varying")
        row = spark.sql(
            "SELECT " + f("round(2.5::float8)") + " AS a, "
            + f("round(3.5::float8)") + " AS b, "
            + f("round(-2.5::float8)") + " AS c"
        ).collect()[0]
        assert (row.a, row.b, row.c) == (2.0, 4.0, -2.0)

    def test_power_unary_minus_base(self, spark):
        """r11 ADVICE: PG's unary minus binds TIGHTER than ^, so
        -2 ^ 2 = power(-2, 2) = 4 (DuckDB agrees) — a minus in unary
        position folds into the BASE; a binary minus stays outside."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("-a ^ b") == "power(-a, b)"
        assert f("(-a) ^ b") == "power((-a), b)"
        # binary minus: only the adjacent operand is the base
        assert f("x - a ^ b") == "x - power(a, b)"
        assert f("x-2 ^ 2") == "x-power(2, 2)"
        # unary positions: start / '(' / ',' / operator / keyword
        assert f("(-a ^ b)") == "(power(-a, b))"
        assert f("f(x, -a ^ b)") == "f(x, power(-a, b))"
        assert f("x * -a ^ b") == "x * power(-a, b)"
        assert f("CASE WHEN c THEN -a ^ 2 ELSE 0 END") == (
            "CASE WHEN c THEN power(-a, 2) ELSE 0 END"
        )
        # chains stay left-associative with the folded base
        assert f("-2 ^ 2 ^ 3") == "power(power(-2, 2), 3)"
        row = spark.sql(
            "SELECT " + f("-2 ^ 2") + " AS a, " + f("10 - 2 ^ 2") + " AS b"
        ).collect()[0]
        assert row.a == 4.0  # PG/DuckDB: -2 ^ 2 = 4
        assert row.b == 6.0

    def test_date_minus_date_and_timestamp_precision(self, spark):
        """r12: PG ``date - date`` is INTEGER days (Spark's is an
        interval) — rewritten to datediff when BOTH operands are
        provably date-typed; and ``::timestamp(p)`` rounds micros to p
        digits like PG (a bare TIMESTAMP cast kept them)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("date '2024-01-10' - date '2024-01-01'") == (
            "datediff(date '2024-01-10', date '2024-01-01')"
        )
        assert f("d1::date - d2::date") == (
            "datediff(CAST(d1 AS date), CAST(d2 AS date))"
        )
        assert f("current_date - d::date") == (
            "datediff(current_date, CAST(d AS date))"
        )
        # date - int is a DATE again in PG: stays arithmetic
        assert f("d::date - 7") == "CAST(d AS date) - 7"
        # bare columns are not provable: documented passthrough boundary
        assert f("a - b") == "a - b"
        assert f("ts - INTERVAL '1 day'") == "ts - INTERVAL '1 day'"
        # ::timestamp(p): round micros at the cut
        assert f("x::timestamp(3)") == (
            "timestamp_micros(CAST(round(unix_micros("
            "CAST(x AS TIMESTAMP)), -3) AS BIGINT))"
        )
        assert f("x::timestamp(6)") == "CAST(x AS TIMESTAMP)"
        spark.sql(
            "SELECT timestamp'2024-01-01 00:00:00.123456' AS a, "
            "timestamp'2024-01-01 00:00:00.9996' AS b"
        ).createOrReplaceTempView("tsp_t")
        row = spark.sql(
            "SELECT "
            + f("date '2024-01-10' - date '2024-01-01'")
            + " AS days, "
            + f("a::timestamp(3)")
            + " AS p3, "
            + f("a::timestamp(0)")
            + " AS p0, "
            + f("b::timestamp(3)")
            + " AS carry FROM tsp_t"
        ).collect()[0]
        assert row.days == 9
        assert str(row.p3) == "2024-01-01 00:00:00.123000"
        assert str(row.p0) == "2024-01-01 00:00:00"
        assert str(row.carry) == "2024-01-01 00:00:01"

    def test_overlaps_and_starts_with(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        out = f("(s1, e1) OVERLAPS (s2, e2)")
        # CASE translation of PG's timestamp_overlaps — a rewrite, with
        # equal normalized starts answering before the range comparisons
        assert out.startswith("(CASE WHEN")
        assert "OVERLAPS" not in out
        with pytest.raises(GeoDBError, match="OVERLAPS"):
            f("(s1) OVERLAPS (s2, e2)")
        assert f("starts_with(name, 'ab')") == "startswith(name, 'ab')"
        # literal contents survive
        assert f("c = 'x OVERLAPS y'") == "c = 'x OVERLAPS y'"

    def test_overlaps_values_incl_null_endpoints(self, spark):
        """r12: OVERLAPS follows PG's three-valued algorithm — a NULL
        endpoint degrades to NULL exactly where PG's timestamp_overlaps
        does (the old least/greatest form collapsed it to an instant, so
        NOT (... OVERLAPS ...) silently kept rows PG drops)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        cases = [
            ("(10, 20) OVERLAPS (15, 25)", True),
            ("(10, 20) OVERLAPS (20, 30)", False),  # end is exclusive
            ("(10, 20) OVERLAPS (10, 10)", True),  # shared start
            ("(20, 10) OVERLAPS (15, 25)", True),  # reversed swaps
            ("(CAST(NULL AS INT), CAST(NULL AS INT)) OVERLAPS (10, 20)",
             None),
            # one-NULL pairs: unknown wherever the deciding endpoint is
            ("(10, CAST(NULL AS INT)) OVERLAPS (15, 25)", None),
            ("(10, CAST(NULL AS INT)) OVERLAPS (5, 8)", None),
            ("(10, 20) OVERLAPS (10, CAST(NULL AS INT))", None),
            # ...but a NULL START adopts the known end: decidable
            ("(CAST(NULL AS INT), 20) OVERLAPS (15, 25)", True),
            # the verdict's negated shape: NULL, not TRUE
            ("NOT ((10, CAST(NULL AS INT)) OVERLAPS (15, 25))", None),
        ]
        exprs = [f"{f(sql)} AS c{i}" for i, (sql, _) in enumerate(cases)]
        row = spark.sql("SELECT " + ", ".join(exprs)).collect()[0]
        for i, (sql, want) in enumerate(cases):
            assert row[f"c{i}"] == want, sql

    def test_dow_isodow_numbering(self):
        # PG: dow Sunday=0..6; isodow Monday=1..7. Spark's own
        # extract(DOW) is Sunday=1 — a silent off-by-one if passed
        # through; isodow doesn't exist in Spark at all.
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("extract(dow from ts)") == "(dayofweek(ts) - 1)"
        assert f("extract(isodow from ts)") == "(weekday(ts) + 1)"
        assert f("date_part('dow', ts)") == "(dayofweek(ts) - 1)"
        assert f("date_part('isodow', ts)") == "(weekday(ts) + 1)"
        # fields Spark numbers identically pass through untouched
        assert f("extract(doy from ts)") == "extract(doy from ts)"
        assert f("extract(year from ts)") == "extract(year from ts)"

    def test_at_time_zone(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("ts AT TIME ZONE 'UTC'") == "to_utc_timestamp(ts, 'UTC')"
        # chained zones: first interprets the naive ts, second converts
        # the instant to zone-local — PG's wall-time translation
        assert f("ts AT TIME ZONE 'UTC' AT TIME ZONE 'Europe/Berlin'") == (
            "from_utc_timestamp(to_utc_timestamp(ts, 'UTC'), "
            "'Europe/Berlin')"
        )
        # r11 ADVICE: the equivalent PARENTHESIZED chain must also
        # convert, not re-interpret (the prefix test sees through parens)
        assert f(
            "(ts AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Berlin'"
        ) == (
            "from_utc_timestamp((to_utc_timestamp(ts, 'UTC')), "
            "'Europe/Berlin')"
        )
        with pytest.raises(GeoDBError, match="string literal"):
            f("ts AT TIME ZONE tzcol")

    def test_numeric_to_char(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        def _null_guarded(operand, body):
            # every numeric to_char is wrapped so NULL -> NULL (PG), not
            # format_string's literal 'null' text
            return (
                f"CASE WHEN CAST({operand} AS DOUBLE) IS NULL THEN NULL "
                f"ELSE {body} END"
            )

        assert f("to_char(p, 'FM9999999.00')") == _null_guarded(
            "p", "format_string('%.2f', CAST(p AS DOUBLE))"
        )
        # non-FM right-justifies to template width + 1 sign column
        assert f("to_char(p, '9999999.00')") == _null_guarded(
            "p", "lpad(format_string('%.2f', CAST(p AS DOUBLE)), 11, ' ')"
        )
        # zero-fill integer positions: pad the MAGNITUDE, re-attach the
        # sign (Java's %0 width counts the sign column, PG's does not)
        assert f("to_char(n, 'FM000.00')") == _null_guarded(
            "n",
            "concat(CASE WHEN CAST(n AS DOUBLE) < 0 THEN '-' ELSE '' END, "
            "format_string('%06.2f', abs(CAST(n AS DOUBLE))))",
        )
        # grouping separators -> format_number; D/G synonyms accepted
        assert f("to_char(n, 'FM9,999,999.00')") == _null_guarded(
            "n", "format_number(CAST(n AS DOUBLE), 2)"
        )
        assert f("to_char(n, 'FM9G999D99')") == f("to_char(n, 'FM9,999.99')")
        # FM + all-9 decimals strips trailing zeros
        assert "regexp_replace" in f("to_char(n, 'FM9999.99')")
        # datetime templates still route to date_format
        assert f("to_char(ts, 'YYYY-MM-DD')") == (
            "date_format(ts, 'yyyy-MM-dd')"
        )
        for bad in ("'RN'", "'FM9999.09'", "'FM0,000'"):
            with pytest.raises(GeoDBError):
                f(f"to_char(n, {bad})")

    def test_numeric_to_char_values_negative_and_null(self, spark):
        """Value-level pins against literal PG outputs (r11 verdict: the
        formula-replay oracle could not catch sign-vs-pad-width)."""
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark

        spark.range(1).selectExpr(
            "CAST(-5 AS DOUBLE) AS n",
            "CAST(-5.25 AS DOUBLE) AS nd",
            "CAST(-0.4 AS DOUBLE) AS nz",
            "CAST(NULL AS DOUBLE) AS x",
        ).createOrReplaceTempView("tc_neg")
        cases = [
            ("n", "FM00", "-05"),
            ("n", "00", "-05"),
            ("nd", "FM00.0", "-05.3"),
            ("n", "9999", "   -5"),
            # PG keeps the input's sign even when the value rounds to 0
            ("nz", "FM00", "-00"),
            # to_char(NULL, ...) is NULL, never the text 'null'
            ("x", "FM00", None),
            ("x", "9,999.99", None),
        ]
        exprs = [
            f"{_pg_clause_to_spark(f'to_char({col}, {fmt!r})')} AS c{i}"
            for i, (col, fmt, _) in enumerate(cases)
        ]
        row = spark.sql(
            f"SELECT {', '.join(exprs)} FROM tc_neg"
        ).collect()[0]
        for i, (col, fmt, want) in enumerate(cases):
            assert row[f"c{i}"] == want, (col, fmt)


class TestJsonbMutation:
    """r11: the jsonb mutation surface — jsonb_set kernel, the `-`
    delete operator (provably-json lhs only), and `#-` path delete."""

    def test_minus_and_hash_minus_rewrites(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("props #- '{a,b}'") == "jsonb_delete_path(props, '{a,b}')"
        assert f("props::jsonb - 'k'") == (
            "jsonb_delete(CAST(props AS string), 'k')"
        )
        assert f("(props)::jsonb - 0") == (
            "jsonb_delete(CAST((props) AS string), 0)"
        )
        assert f("json_build_object('a', 1) - 'a'") == (
            "jsonb_delete(to_json(named_struct('a', 1)), 'a')"
        )
        # arithmetic stays arithmetic
        assert f("num - 5") == "num - 5"
        assert f("num - '3'") == "num - '3'"
        assert f("price - 1.5") == "price - 1.5"
        assert f("ts - INTERVAL '1 day'") == "ts - INTERVAL '1 day'"
        # ambiguous non-numeric subtraction refuses (Spark would
        # silently coerce to doubles and return NULL)
        with pytest.raises(GeoDBError, match="jsonb delete"):
            f("name - 'abc'")

    def test_jsonb_set_kernel(self):
        from xcube_geodb_spark.functions.jsonsql import jsonb_set_py as s

        assert s('{"a":1}', "{b}", "2") == '{"a": 1, "b": 2}'
        assert s('{"a":1}', "{a}", "9") == '{"a": 9}'
        # missing INTERMEDIATE step: target unchanged (exactly PG)
        assert s('{"a":1}', "{b,c}", "2") == '{"a": 1}'
        # create_missing=false never adds the leaf
        assert s('{"a":1}', "{b}", "2", False) == '{"a": 1}'
        # array positions, negative indexes, clamped appends
        assert s('{"a":[1,2]}', "{a,1}", "9") == '{"a": [1, 9]}'
        assert s('{"a":[1,2]}', "{a,-1}", "9") == '{"a": [1, 9]}'
        assert s('{"a":[1,2]}', "{a,99}", "9") == '{"a": [1, 2, 9]}'
        assert s('{"a":[1,2]}', "{a,-99}", "9") == '{"a": [9, 1, 2]}'
        assert s(None, "{a}", "1") is None
        assert s("{}", None, "1") is None

    def test_jsonb_delete_kernels(self):
        from xcube_geodb_spark.functions.jsonsql import (
            jsonb_delete_path_py as dp,
            jsonb_delete_py as d,
        )

        assert d('{"a":1,"b":2}', "a") == '{"b": 2}'
        assert d('{"a":1}', "zz") == '{"a": 1}'
        assert d('["x","y","x"]', "x") == '["y"]'
        assert d('["x","y"]', 1) == '["x"]'
        assert d('["x","y"]', -1) == '["x"]'
        assert d('"scalar"', "a") is None  # PG errors; engine NULLs
        assert dp('{"a":{"b":1,"c":2}}', "{a,b}") == '{"a": {"c": 2}}'
        assert dp('{"a":1}', "{x,y}") == '{"a": 1}'
        assert dp('{"a":[1,2,3]}', "{a,-1}") == '{"a": [1, 2]}'


class TestToCharNameCasing:
    """r10 What's-wrong #2 closed: PG renders name tokens in the
    template's case ('MON' -> 'JAN'); uniformly-cased templates wrap
    the date_format result in upper()/lower()."""

    def test_casing_wraps(self):
        from xcube_geodb_spark.operators.scan import _pg_clause_to_spark as f

        assert f("to_char(ts, 'DD MON YYYY')") == (
            "upper(date_format(ts, 'dd MMM yyyy'))"
        )
        assert f("to_char(ts, 'DD mon YYYY')") == (
            "lower(date_format(ts, 'dd MMM yyyy'))"
        )
        # title case is SimpleDateFormat's native rendering — no wrap
        assert f("to_char(ts, 'DD Mon YYYY')") == (
            "date_format(ts, 'dd MMM yyyy')"
        )
        assert f("to_char(ts, 'Day, DD')") == "date_format(ts, 'EEEE, dd')"
        assert f("to_char(ts, 'HH12:MI AM')") == (
            "upper(date_format(ts, 'hh:mm a'))"
        )
        assert f("to_char(ts, 'HH12:MI am')") == (
            "lower(date_format(ts, 'hh:mm a'))"
        )
        # mixed-case name tokens: documented deviation, no wrap
        assert f("to_char(ts, 'MON dy')") == "date_format(ts, 'MMM EEE')"
        # name-free templates never wrap
        assert f("to_char(ts, 'YYYY-MM-DD')") == (
            "date_format(ts, 'yyyy-MM-dd')"
        )
        # PG digit tokens are case-insensitive ('yyyy-mm-dd' everyday PG)
        assert f("to_char(ts, 'yyyy-mm-dd')") == (
            "date_format(ts, 'yyyy-MM-dd')"
        )
        assert f("to_char(ts, 'hh24:mi:ss')") == (
            "date_format(ts, 'HH:mm:ss')"
        )
        assert f("to_char(ts, 'dd mon yyyy')") == (
            "lower(date_format(ts, 'dd MMM yyyy'))"
        )
