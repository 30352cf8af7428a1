"""File-level DML pruning: deletes/updates/upserts must rewrite only files
whose footer stats can contain matching rows."""

import pandas as pd
import pytest

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.operators.pruning import (
    conjunctive_constraints,
    file_may_match,
)


class TestConstraintAnalysis:
    def test_extracts_conjunctive(self):
        cs = conjunctive_constraints("a=eq.5&b=gt.10&c=in.(1,2)&order=a.asc")
        assert ("a", "eq", 5) in cs
        assert ("b", "gt", 10) in cs
        assert ("c", "in", [1, 2]) in cs

    def test_ignores_unanalyzable(self):
        assert conjunctive_constraints("or=(a.eq.1,b.eq.2)") == []
        assert conjunctive_constraints("a=not.eq.1") == []
        assert conjunctive_constraints("a=like.*x*") == []

    def test_and_group_members(self):
        cs = conjunctive_constraints(
            "and=(id.gte.3,id.lte.5,v.in.(1,2),or(a.eq.1,b.eq.2),"
            "and(c.eq.1),w.not.eq.4,n.like.*x*)&z=eq.9"
        )
        assert cs == [
            ("id", "gte", 3),
            ("id", "lte", 5),
            ("v", "in", [1, 2]),
            ("z", "eq", 9),
        ]
        assert conjunctive_constraints("not.and=(id.gte.3,id.lte.5)") == []

    def test_file_may_match(self):
        stats = {"a": (10, 20)}
        assert not file_may_match(stats, [("a", "eq", 5)])
        assert file_may_match(stats, [("a", "eq", 15)])
        assert not file_may_match(stats, [("a", "gt", 25)])
        assert file_may_match(stats, [("a", "gt", 15)])
        assert not file_may_match(stats, [("a", "in", [1, 2, 30])])
        assert file_may_match(stats, [("a", "in", [1, 12])])
        assert file_may_match(stats, [("b", "eq", 1)])  # no stats -> maybe


@pytest.fixture()
def client(spark, tmp_path):
    return GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user="pruner")


@pytest.fixture()
def chunked(client):
    """Collection with two data files with disjoint value ranges."""
    return _make_chunked(client, "c")


def _make_chunked(client, name):
    client.create_collection(name, {"v": "int", "name": "text"})
    lo = pd.DataFrame(
        {
            "geometry": [f"POINT ({i} {i})" for i in range(10)],
            "v": list(range(10)),
            "name": [f"lo{i}" for i in range(10)],
        }
    )
    hi = pd.DataFrame(
        {
            "geometry": [f"POINT ({i} {i})" for i in range(100, 110)],
            "v": list(range(100, 110)),
            "name": [f"hi{i}" for i in range(10)],
        }
    )
    client.insert_into_collection(name, lo)
    client.insert_into_collection(name, hi)  # second file(s), separate commit
    return name


def _file_set(client, coll):
    return set(client.catalog.manifest_paths(coll, "pruner"))


class TestFilePruning:
    def test_delete_rewrites_only_matching_file(self, client, chunked):
        before = _file_set(client, chunked)
        client.delete_from_collection(chunked, "v=eq.105")
        after = _file_set(client, chunked)
        # the lo file(s) survive verbatim; hi file(s) rewritten
        survivors = before & after
        assert survivors, "untouched files must remain in the manifest"
        df = client.get_collection(chunked)
        assert len(df) == 19
        assert 105 not in set(df["v"])

    def test_delete_no_match_keeps_all_files(self, client, chunked):
        before = _file_set(client, chunked)
        client.delete_from_collection(chunked, "v=eq.99999")
        assert _file_set(client, chunked) == before
        assert len(client.get_collection(chunked)) == 20

    def test_update_prunes(self, client, chunked):
        before = _file_set(client, chunked)
        client.update_collection(chunked, {"name": "X"}, "v=gt.100")
        after = _file_set(client, chunked)
        assert before & after, "lo file should be untouched"
        df = client.get_collection(chunked)
        assert set(df[df["v"] > 100]["name"]) == {"X"}
        assert all(n.startswith("lo") for n in df[df["v"] < 100]["name"])

    def test_upsert_prunes_by_id_range(self, client, chunked):
        before = _file_set(client, chunked)
        up = pd.DataFrame(
            {
                "id": [1],
                "geometry": ["POINT (0 0)"],
                "v": [999],
                "name": ["updated"],
            }
        )
        client.insert_into_collection(chunked, up, upsert=True)
        after = _file_set(client, chunked)
        assert before & after, "file with ids 11..20 must be untouched"
        df = client.get_collection(chunked)
        assert len(df) == 20
        assert df[df["id"] == 1].iloc[0]["v"] == 999


class TestAndGroupPruning:
    """A DML filter spelled ``and=(id.gte.A,id.lte.B)`` prunes files like
    ``id=gte.A&id=lte.B``, and the pruned rewrite equals the unpruned one."""

    GROUP, PAIRS = "and=(id.gte.12,id.lte.14)", "id=gte.12&id=lte.14"

    def test_same_files_as_top_level_pairs(self, client, chunked):
        from xcube_geodb_spark.operators.dml import _touched_untouched

        group = _touched_untouched(client.catalog, chunked, "pruner", self.GROUP)
        pairs = _touched_untouched(client.catalog, chunked, "pruner", self.PAIRS)
        assert group == pairs
        assert group[1], "the lo file(s) must be left untouched"

    @pytest.mark.parametrize("dml", ["delete", "update"])
    def test_pruned_equals_unpruned(self, client, chunked, monkeypatch, dml):
        from xcube_geodb_spark.operators import pruning

        def run(coll):
            if dml == "delete":
                client.delete_from_collection(coll, self.GROUP)
            else:
                client.update_collection(coll, {"name": "X"}, self.GROUP)
            return client.get_collection(coll).sort_values("id")

        _make_chunked(client, "unpruned")
        before = _file_set(client, chunked)
        pruned = run(chunked)
        assert before & _file_set(client, chunked), "pruning kept no file"
        monkeypatch.setattr(pruning, "conjunctive_constraints", lambda q: [])
        before = _file_set(client, "unpruned")
        unpruned = run("unpruned")
        assert not before & _file_set(client, "unpruned")  # full rewrite
        cols = ["id", "v", "name"]
        pd.testing.assert_frame_equal(
            pruned[cols].reset_index(drop=True), unpruned[cols].reset_index(drop=True)
        )
        changed = {12, 13, 14}
        if dml == "delete":
            assert changed.isdisjoint(pruned["id"]) and len(pruned) == 17
        else:
            assert set(pruned[pruned["name"] == "X"]["id"]) == changed


class TestScanFilePruning:
    """Read-path data skipping: get_collection must plan a scan over only
    the manifest files whose footer stats admit the query's conjunctive
    constraints (the engine's stand-in for the reference's PK btree)."""

    def test_point_lookup_scans_one_file(self, client, chunked):
        from xcube_geodb_spark.operators.scan import get_collection

        assert len(_file_set(client, chunked)) >= 2
        # ids are dense in insert order: 1..10 in the lo file, 11..20 hi
        df = get_collection(client.catalog, chunked, "id=eq.3", database="pruner")
        assert len(df.inputFiles()) == 1
        assert [r.v for r in df.select("v").collect()] == [2]

    def test_value_range_scans_one_file(self, client, chunked):
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(client.catalog, chunked, "v=gte.100", database="pruner")
        assert len(df.inputFiles()) == 1
        assert df.count() == 10

    def test_no_match_scans_zero_files(self, client, chunked):
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(client.catalog, chunked, "v=eq.50", database="pruner")
        assert df.inputFiles() == []
        assert df.count() == 0

    def test_unanalyzable_query_scans_everything_correctly(self, client, chunked):
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(
            client.catalog, chunked, "or=(v.eq.5,v.eq.105)", database="pruner"
        )
        assert df.count() == 2


class TestManifestFileStats:
    """Commit-time data skipping stats: the manifest carries per-file
    column min/max so pruning reads no footers at query time."""

    def test_commit_records_stats_for_every_file(self, client, chunked):
        m = client.catalog.meta(chunked, "pruner")
        assert set(m.file_stats()) == set(m.files)
        for st in m.file_stats().values():
            assert "id" in st and "v" in st
            lo, hi = st["v"]
            assert (lo, hi) in {(0, 9), (100, 109)}

    def test_rewrite_drops_stale_stats(self, client, chunked):
        client.delete_from_collection(chunked, "v=eq.105")
        m = client.catalog.meta(chunked, "pruner")
        assert set(m.file_stats()) == set(m.files)

    def test_pruning_uses_manifest_not_footers(self, client, chunked, monkeypatch):
        # with manifest stats present, footer reads must not happen
        import xcube_geodb_spark.operators.stats as stats_mod

        def _boom(*a, **k):
            raise AssertionError("footer read despite manifest stats")

        monkeypatch.setattr(stats_mod, "footer_min_max", _boom)
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(client.catalog, chunked, "v=eq.5", database="pruner")
        assert len(df.inputFiles()) == 1

    def test_stats_live_in_sidecar_shards_not_manifest(self, client, chunked):
        import json
        import os

        m = client.catalog.meta(chunked, "pruner")
        with open(m.path) as f:
            d = json.load(f)
        # the manifest pointer stays small: stats are sharded sidecars
        assert "file_stats" not in d
        assert d["stats_files"], "commit must record stats shards"
        cdir = os.path.dirname(m.path)
        merged = {}
        for s in d["stats_files"]:
            with open(os.path.join(cdir, s)) as f:
                merged.update(json.load(f))
        assert set(m.files) <= set(merged)
        assert m.file_stats() == {f: merged[f] for f in m.files}


class TestDedupCollection:
    """client.dedup_collection: the corpus dedup pipeline applied through
    the table format via the frame-based delete_ids DML."""

    @pytest.fixture()
    def dup_client(self, spark, tmp_path):
        c = GeoDBSparkClient(
            spark, warehouse=str(tmp_path / "whd"), user="pruner"
        )
        c.create_collection("d", {"k": "int", "text": "text"})
        def doc(i):
            # fully distinct token sets between docs: cross-doc Jaccard 0
            return " ".join(f"w{i}x{j}" for j in range(12))

        base = [
            {"k": i, "text": doc(i), "geometry": "POINT (0 0)"}
            for i in range(20)
        ]
        # second commit (separate file, ids 21..26): exact duplicates of
        # k=0..4 and a near-duplicate of k=5
        dups = [
            {"k": 100 + i, "text": doc(i), "geometry": "POINT (0 0)"}
            for i in range(5)
        ]
        dups.append(
            {"k": 105, "text": doc(5) + " thanks", "geometry": "POINT (0 0)"}
        )
        c.insert_into_collection("d", pd.DataFrame(base))
        c.insert_into_collection("d", pd.DataFrame(dups))
        return c

    def test_exact_dedup_keeps_min_id(self, dup_client):
        stats = dup_client.dedup_collection("d", "text", method="exact")
        assert stats["removed"] == 5
        ks = sorted(dup_client.get_collection("d")["k"])
        assert 100 not in ks and 0 in ks and 105 in ks
        assert len(ks) == 21

    def test_minhash_dedup_removes_near_dup(self, dup_client):
        stats = dup_client.dedup_collection(
            "d", "text", method="minhash", jaccard_threshold=0.5
        )
        # the 5 exact dups are also near-dups; 105 is near 5
        assert stats["removed"] == 6
        ks = sorted(dup_client.get_collection("d")["k"])
        assert 105 not in ks and 5 in ks
        assert len(ks) == 20

    def test_unknown_method_raises(self, dup_client):
        from xcube_geodb_spark.errors import GeoDBError

        with pytest.raises(GeoDBError, match="Unknown dedup method"):
            dup_client.dedup_collection("d", "text", method="fuzzy")

    def test_delete_ids_prunes_files(self, dup_client, spark):
        # victims all in the appended file range -> base files untouched
        from xcube_geodb_spark.operators.dml import delete_ids

        before = set(dup_client.catalog.manifest_paths("d", "pruner"))
        ids = spark.createDataFrame([(23,), (24,)], "id long")  # ids of k=102,103
        delete_ids(dup_client.catalog, "d", ids, database="pruner")
        after = set(dup_client.catalog.manifest_paths("d", "pruner"))
        assert before & after, "files outside the id range must survive"
        assert len(dup_client.get_collection("d")) == 24


class TestManifestRowCounts:
    def test_count_reads_manifest_not_footers(self, client, chunked, monkeypatch):
        import xcube_geodb_spark.operators.stats as stats_mod
        from xcube_geodb_spark.operators.scan import count_collection

        def _boom(*a, **k):
            raise AssertionError("footer read despite manifest row counts")

        monkeypatch.setattr(stats_mod, "footer_row_count", _boom)
        assert count_collection(client.catalog, chunked, "pruner") == 20

    def test_count_tracks_dml(self, client, chunked):
        from xcube_geodb_spark.operators.scan import count_collection

        client.delete_from_collection(chunked, "v=lt.5")
        assert count_collection(client.catalog, chunked, "pruner") == 15


class TestProfileCollection:
    """ANALYZE-style per-column profile: manifest fast path vs exact."""

    def test_manifest_profile_is_zero_io(self, client, chunked, monkeypatch):
        import pyarrow.parquet as pq

        from xcube_geodb_spark.operators.stats import profile_collection

        def _boom(*a, **k):
            raise AssertionError("file read despite manifest stats")

        monkeypatch.setattr(pq, "ParquetFile", _boom)
        monkeypatch.setattr(pq, "read_table", _boom)
        prof = profile_collection(client.catalog, chunked, "pruner")
        row = prof.set_index("column").loc["v"]
        assert row["row_count"] == 20
        assert row["n_nulls"] == 0
        assert row["vmin"] == 0 and row["vmax"] == 109
        assert row["n_distinct"] is None  # manifest stores no cardinality

    def test_exact_profile_adds_distincts_and_nulls(self, client):
        from xcube_geodb_spark.operators.stats import profile_collection

        client.create_collection("p", {"v": "int", "name": "text"})
        client.insert_into_collection(
            "p",
            pd.DataFrame(
                {
                    "geometry": [f"POINT ({i} {i})" for i in range(6)],
                    "v": [1, 1, 2, 3, 3, 3],
                    "name": ["a", None, "b", None, "c", "c"],
                }
            ),
        )
        prof = profile_collection(
            client.catalog, "p", "pruner", exact=True
        ).set_index("column")
        assert prof.loc["v"]["n_distinct"] == 3
        assert prof.loc["v"]["n_nulls"] == 0
        assert prof.loc["name"]["n_nulls"] == 2
        assert prof.loc["name"]["n_distinct"] == 3
        assert prof.loc["name"]["vmin"] == "a" and prof.loc["name"]["vmax"] == "c"

    def test_manifest_null_counts_match_exact(self, client):
        from xcube_geodb_spark.operators.stats import profile_collection

        client.create_collection("pn", {"v": "int", "name": "text"})
        client.insert_into_collection(
            "pn",
            pd.DataFrame(
                {
                    "geometry": [f"POINT ({i} {i})" for i in range(4)],
                    "v": [1, 2, 3, 4],
                    "name": ["x", None, None, "y"],
                }
            ),
        )
        fast = profile_collection(client.catalog, "pn", "pruner").set_index(
            "column"
        )
        assert fast.loc["name"]["n_nulls"] == 2

    def test_profile_tracks_dml(self, client, chunked):
        client.delete_from_collection(chunked, "v=gt.9")  # drop the hi file
        prof = client.profile_collection(
            chunked, database="pruner"
        ).set_index("column")
        assert prof.loc["v"]["row_count"] == 10
        assert prof.loc["v"]["vmax"] == 9


class TestBloomIndex:
    """Per-file bloom filters: equality pruning on non-clustered columns
    where min/max intervals overlap between files."""

    @pytest.fixture()
    def bloom_client(self, spark, tmp_path):
        c = GeoDBSparkClient(
            spark, warehouse=str(tmp_path / "whb"), user="pruner"
        )
        c.create_collection("b", {"v": "int", "name": "text"})
        c.create_index("b", "name", kind="bloom")
        # interleaved v ranges: min/max stats on name/v can't separate the
        # files, only the bloom can
        f1 = pd.DataFrame(
            {
                "geometry": ["POINT (0 0)"] * 10,
                "v": list(range(10)),
                "name": [f"alpha{i}" for i in range(10)],
            }
        )
        f2 = pd.DataFrame(
            {
                "geometry": ["POINT (0 0)"] * 10,
                "v": list(range(10)),
                "name": [f"zeta{i}" for i in range(10)],
            }
        )
        c.insert_into_collection("b", f1)
        c.insert_into_collection("b", f2)
        return c

    def test_blooms_recorded_in_manifest(self, bloom_client):
        m = bloom_client.catalog.meta("b", "pruner")
        # blooms live in their own sidecar family, off the stats hot path
        assert all("::bloom:name" in b for b in m.file_blooms().values())
        assert not any(
            k.startswith("::bloom:")
            for st in m.file_stats().values()
            for k in st
        )

    def test_eq_lookup_scans_one_file(self, bloom_client):
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(
            bloom_client.catalog, "b", "name=eq.zeta3", database="pruner"
        )
        assert len(df.inputFiles()) == 1
        assert [r.v for r in df.select("v").collect()] == [3]

    def test_absent_value_scans_zero_files(self, bloom_client):
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(
            bloom_client.catalog, "b", "name=eq.nothere", database="pruner"
        )
        assert df.inputFiles() == []

    def test_in_list_prunes(self, bloom_client):
        from xcube_geodb_spark.operators.scan import get_collection

        df = get_collection(
            bloom_client.catalog, "b", "name=in.(alpha1,alpha2)",
            database="pruner",
        )
        assert len(df.inputFiles()) == 1
        assert df.count() == 2

    def test_delete_prunes_via_bloom(self, bloom_client):
        before = _file_set(bloom_client, "b")
        bloom_client.delete_from_collection("b", "name=eq.alpha5")
        after = _file_set(bloom_client, "b")
        assert before & after, "the zeta file must survive untouched"
        assert len(bloom_client.get_collection("b")) == 19

    def test_bloom_unit_roundtrip(self):
        from xcube_geodb_spark.operators.stats import (
            bloom_may_contain,
            build_bloom,
        )

        b = build_bloom(["a", "b", None, "c", "a"])
        assert bloom_may_contain(b, "a") and bloom_may_contain(b, "c")
        assert not bloom_may_contain(b, "zzz")

    def test_bloom_saturation_returns_none(self):
        from xcube_geodb_spark.operators.stats import build_bloom

        assert build_bloom((str(i) for i in range(30000))) is None

    def test_explain_reports_bloom_columns(self, bloom_client):
        from xcube_geodb_spark.operators.scan import explain_scan

        info = explain_scan(
            bloom_client.catalog, "b", "name=eq.zeta1", database="pruner"
        )
        assert info["bloom_columns"] == ["name"]
        assert info["files_scanned"] == 1

    def test_explain_counts_the_files_a_read_keeps(self, bloom_client):
        from xcube_geodb_spark.operators.scan import explain_scan

        for q in ("name=eq.zeta3", "name=eq.nothere", "name=in.(alpha1,alpha2)", "name=eq.zeta1"):
            read = bloom_client.get_collection("b", q).attrs["read"]
            info = explain_scan(bloom_client.catalog, "b", q, database="pruner")
            assert info["files_scanned"] == read["files_kept"], q

    def test_optimize_rebuilds_blooms(self, bloom_client):
        from xcube_geodb_spark.operators.scan import get_collection

        bloom_client.optimize_collection("b")
        m = bloom_client.catalog.meta("b", "pruner")
        assert all(
            "::bloom:name" in b for b in m.file_blooms().values()
        )
        df = get_collection(
            bloom_client.catalog, "b", "name=eq.nothere", database="pruner"
        )
        assert df.inputFiles() == []


class TestHeadPruning:
    def test_head_reads_only_leading_files(self, client, chunked):
        from xcube_geodb_spark.operators.scan import head_collection

        df = head_collection(client.catalog, chunked, 5, database="pruner")
        assert len(df.inputFiles()) == 1  # ids 1..10 live in the lo file
        assert [r.v for r in df.select("v").collect()] == [0, 1, 2, 3, 4]

    def test_head_spanning_files_is_correct(self, client, chunked):
        from xcube_geodb_spark.operators.scan import head_collection

        rows = head_collection(
            client.catalog, chunked, 15, database="pruner"
        ).collect()
        assert [r.id for r in rows] == list(range(1, 16))


class TestExplainScan:
    def test_explain_reports_pruning(self, client, chunked):
        from xcube_geodb_spark.operators.scan import explain_scan

        info = explain_scan(client.catalog, chunked, "v=gte.100", database="pruner")
        assert info["files_total"] == 2
        assert info["files_scanned"] == 1
        assert info["files_skipped"] == 1
        assert info["manifest_stats"] is True
        assert info["constraints"] == [
            {"column": "v", "op": "gte", "literal": 100}
        ]

    @pytest.mark.parametrize("q", [
        "id=eq.3", "v=gte.100", "v=eq.50", "v=eq.5", "or=(v.eq.5,v.eq.105)",
        TestAndGroupPruning.GROUP, TestAndGroupPruning.PAIRS, None,
    ])
    def test_explain_counts_the_files_a_read_keeps(self, client, chunked, q):
        """The files ``explain_scan`` reports are the files a client
        grammar read keeps (``attrs["read"]``), on either lane."""
        from xcube_geodb_spark.operators.scan import explain_scan

        read = client.get_collection(chunked, q).attrs["read"]
        info = explain_scan(client.catalog, chunked, q, database="pruner")
        assert info["files_scanned"] == read["files_kept"]
        assert info["files_total"] == read["files_total"]

    def test_explain_unfiltered_scans_all(self, client, chunked):
        from xcube_geodb_spark.operators.scan import explain_scan

        info = explain_scan(client.catalog, chunked, None, database="pruner")
        assert info["files_scanned"] == info["files_total"] == 2



class TestHistogram:
    def test_exact_counts_and_edges(self, spark):
        from xcube_geodb_spark.operators.stats import histogram_column

        df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
        rows = histogram_column(df, "v", bins=10, bounds=(0.0, 100.0)).collect()
        assert len(rows) == 10
        assert all(r["n"] == 10 for r in rows)
        assert rows[0]["lo"] == 0.0 and rows[0]["hi"] == 10.0
        assert rows[-1]["hi"] == 100.0

    def test_max_value_lands_in_last_bucket(self, spark):
        from xcube_geodb_spark.operators.stats import histogram_column

        df = spark.createDataFrame([(0.0,), (10.0,)], ["v"])
        rows = {r["bucket"]: r["n"] for r in
                histogram_column(df, "v", bins=5, bounds=(0.0, 10.0)).collect()}
        assert rows[0] == 1 and rows[4] == 1

    def test_auto_bounds_and_empty_buckets(self, spark):
        from xcube_geodb_spark.operators.stats import histogram_column

        df = spark.createDataFrame([(1.0,), (1.0,), (9.0,)], ["v"])
        rows = histogram_column(df, "v", bins=4).collect()
        assert [r["n"] for r in rows] == [2, 0, 0, 1]
        assert rows[0]["lo"] == 1.0 and rows[-1]["hi"] == 9.0

    def test_out_of_bounds_rows_excluded(self, spark):
        from xcube_geodb_spark.operators.stats import histogram_column

        df = spark.createDataFrame([(-5.0,), (5.0,), (50.0,), (None,)], ["v"])
        rows = histogram_column(df, "v", bins=2, bounds=(0.0, 10.0)).collect()
        assert sum(r["n"] for r in rows) == 1

    def test_rejects_zero_bins(self, spark):
        import pytest as _pytest

        from xcube_geodb_spark.operators.stats import histogram_column

        df = spark.createDataFrame([(1.0,)], ["v"])
        with _pytest.raises(ValueError):
            histogram_column(df, "v", bins=0)


class TestQuantiles:
    def test_uniform_data_interpolates_exactly(self, spark):
        from xcube_geodb_spark.operators.stats import quantiles_column

        # values 1..100 with bins=100 over (0, 100]: value v sits alone in
        # bucket [v, v+1), and the interpolated fraction is (0, 1]-open, so
        # the estimate is that bucket's UPPER edge v+1 — one width above
        # the exact order statistic, inside the documented error bound
        df = spark.createDataFrame([(float(i),) for i in range(1, 101)], ["v"])
        out = {
            r["q"]: r["est"]
            for r in quantiles_column(
                df, "v", qs=(0.25, 0.5, 0.75, 1.0), bins=100,
                bounds=(0.0, 100.0),
            ).collect()
        }
        assert out == {0.25: 26.0, 0.5: 51.0, 0.75: 76.0, 1.0: 100.0}

    def test_within_bucket_error_bound(self, spark):
        from xcube_geodb_spark.operators.stats import quantiles_column

        import random

        rng = random.Random(7)
        vals = sorted(rng.uniform(0, 1000) for _ in range(2000))
        df = spark.createDataFrame([(v,) for v in vals], ["v"])
        out = quantiles_column(
            df, "v", qs=(0.1, 0.5, 0.9), bins=500, bounds=(0.0, 1000.0)
        ).collect()
        width = 1000.0 / 500
        for r in out:
            exact = vals[max(int(r["q"] * 2000) - 1, 0)]
            assert abs(r["est"] - exact) <= 2 * width

    def test_parallelism_invariance(self, spark):
        from xcube_geodb_spark.operators.stats import quantiles_column

        df = spark.createDataFrame([(float(i % 97),) for i in range(500)], ["v"])
        a = quantiles_column(df.repartition(1), "v", bins=64).collect()
        b = quantiles_column(df.repartition(13), "v", bins=64).collect()
        assert [(r["q"], r["est"]) for r in a] == [(r["q"], r["est"]) for r in b]

    def test_auto_bounds_and_validation(self, spark):
        import pytest as _pytest

        from xcube_geodb_spark.operators.stats import quantiles_column

        df = spark.createDataFrame([(2.0,), (4.0,), (None,)], ["v"])
        out = quantiles_column(df, "v", qs=(1.0,), bins=4).collect()
        assert out[0]["est"] == 4.0  # auto bounds reach the max
        with _pytest.raises(ValueError):
            quantiles_column(df, "v", qs=(0.0,))
        with _pytest.raises(ValueError):
            quantiles_column(df, "v", bins=0)


class TestGroupedQuantiles:
    def test_groups_independent(self, spark):
        from xcube_geodb_spark.operators.stats import quantiles_column

        rows = [("a", float(i)) for i in range(1, 101)] + [
            ("b", float(i * 10)) for i in range(1, 11)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = {
            (r["g"], r["q"]): r["est"]
            for r in quantiles_column(
                df, "v", qs=(0.5, 1.0), bins=100, bounds=(0.0, 100.0),
                group_cols=["g"],
            ).collect()
        }
        # group a: values 1..100 (upper-edge estimates, see TestQuantiles)
        assert out[("a", 0.5)] == 51.0 and out[("a", 1.0)] == 100.0
        # group b: values 10..100, median = 50 -> bucket [50, 51)
        assert out[("b", 0.5)] == 51.0 and out[("b", 1.0)] == 100.0

    def test_grouped_matches_ungrouped_on_single_group(self, spark):
        from xcube_geodb_spark.operators.stats import quantiles_column

        df = spark.createDataFrame(
            [("x", float(i % 13)) for i in range(200)], "g string, v double"
        )
        grouped = quantiles_column(
            df, "v", bins=64, bounds=(0.0, 13.0), group_cols=["g"]
        ).collect()
        flat = quantiles_column(df, "v", bins=64, bounds=(0.0, 13.0)).collect()
        assert [(r["q"], r["est"]) for r in grouped] == [
            (r["q"], r["est"]) for r in flat
        ]


class TestManifestScalability:
    """10^5-file collections: the stats sidecar must keep the manifest
    pointer small, commits O(new files), and probes cache-hot — the
    metadata path that becomes the probe bottleneck at 100 TB."""

    N = 100_000

    @pytest.fixture()
    def big(self, client):
        """Synthesize a 100k-file manifest + one stats shard without
        writing 100k parquet files (the metadata path is what's under
        test)."""
        import json
        import os

        from xcube_geodb_spark.catalog import _atomic_write_json

        client.create_collection("big", {"id": "int", "v": "int"})
        cat = client.catalog
        m = cat.meta("big", "pruner")
        cdir = cat._coll_dir("big", "pruner")
        files = [f"data/x/{i:06d}.parquet" for i in range(self.N)]
        shard_rel = os.path.join("stats", "seed.json")
        os.makedirs(os.path.join(cdir, "stats"), exist_ok=True)
        stats = {
            f: {"id": [i * 10, i * 10 + 9], "::rows": [10, 10]}
            for i, f in enumerate(files)
        }
        with open(os.path.join(cdir, shard_rel), "w") as fh:
            json.dump(stats, fh)
        m.d["files"] = files
        m.d["stats_files"] = [shard_rel]
        _atomic_write_json(m.path, m.d)
        return cat

    def test_probe_parses_each_shard_once(self, big, monkeypatch):
        import json as json_mod

        import xcube_geodb_spark.catalog as cat_mod

        loads = {"n": 0}
        orig = cat_mod.json.load

        def counting(fh, *a, **k):
            if "stats" in getattr(fh, "name", ""):
                loads["n"] += 1
            return orig(fh, *a, **k)

        monkeypatch.setattr(cat_mod.json, "load", counting)
        # first probe: parses the one shard
        fs1 = big.meta("big", "pruner").file_stats()
        assert len(fs1) == self.N
        first = loads["n"]
        assert first == 1
        # steady state: fresh meta() reads, ZERO shard re-parses
        for _ in range(5):
            fs = big.meta("big", "pruner").file_stats()
            assert len(fs) == self.N
        assert loads["n"] == first

    def test_pruning_selects_one_file_from_manifest(self, big):
        from xcube_geodb_spark.operators.pruning import (
            conjunctive_constraints,
            file_may_match,
        )

        m = big.meta("big", "pruner")
        fs = m.file_stats()
        cons = conjunctive_constraints("id=eq.500005")
        hit = [f for f in m.files if file_may_match(fs.get(f, {}), cons)]
        assert hit == ["data/x/050000.parquet"]

    def test_delta_commit_parses_only_new_shard(self, big, monkeypatch):
        import json as json_mod
        import os

        import xcube_geodb_spark.catalog as cat_mod
        from xcube_geodb_spark.catalog import _atomic_write_json

        # warm the cache
        big.meta("big", "pruner").file_stats()
        # simulate a delta commit: one new file + one small delta shard
        m = big.meta("big", "pruner")
        cdir = big._coll_dir("big", "pruner")
        delta_rel = os.path.join("stats", "delta1.json")
        with open(os.path.join(cdir, delta_rel), "w") as fh:
            json_mod.dump(
                {"data/x/new.parquet": {"id": [1, 2], "::rows": [5, 5]}}, fh
            )
        m.d["files"] = m.d["files"] + ["data/x/new.parquet"]
        m.d["stats_files"] = m.d["stats_files"] + [delta_rel]
        _atomic_write_json(m.path, m.d)

        loads = {"n": 0}
        orig = cat_mod.json.load

        def counting(fh, *a, **k):
            if "stats" in getattr(fh, "name", ""):
                loads["n"] += 1
            return orig(fh, *a, **k)

        monkeypatch.setattr(cat_mod.json, "load", counting)
        fs = big.meta("big", "pruner").file_stats()
        assert len(fs) == self.N + 1
        assert loads["n"] == 1  # only the delta shard parsed; seed cached

    def test_shard_chain_merges_past_threshold(self, client):
        import json
        import os

        from xcube_geodb_spark.catalog import _atomic_write_json

        client.create_collection("m", {"id": "int"})
        cat = client.catalog
        m = cat.meta("m", "pruner")
        cdir = cat._coll_dir("m", "pruner")
        os.makedirs(os.path.join(cdir, "stats"), exist_ok=True)
        files, shards = [], []
        for i in range(70):
            f = f"data/c/{i}.parquet"
            rel = os.path.join("stats", f"s{i}.json")
            with open(os.path.join(cdir, rel), "w") as fh:
                json.dump({f: {"id": [i, i], "::rows": [1, 1]}}, fh)
            files.append(f)
            shards.append(rel)
        m.d["files"] = files
        m.d["stats_files"] = shards
        _atomic_write_json(m.path, m.d)

        # a metadata-only commit compacts the 70-shard chain to one
        cat.commit_version("m", "pruner", None)
        m2 = cat.meta("m", "pruner")
        assert len(m2.d["stats_files"]) == 1
        fs = m2.file_stats()
        assert len(fs) == 70 and fs["data/c/7.parquet"]["id"] == [7, 7]

    def test_vacuum_expires_superseded_shards(self, client):
        import json
        import os
        import time as time_mod

        from xcube_geodb_spark.catalog import _atomic_write_json
        from xcube_geodb_spark.operators.maintenance import vacuum_collection

        client.create_collection("vx", {"id": "int"})
        cat = client.catalog
        m = cat.meta("vx", "pruner")
        cdir = cat._coll_dir("vx", "pruner")
        os.makedirs(os.path.join(cdir, "stats"), exist_ok=True)
        dead_rel = os.path.join("stats", "dead.json")
        live_rel = os.path.join("stats", "live.json")
        for rel in (dead_rel, live_rel):
            with open(os.path.join(cdir, rel), "w") as fh:
                json.dump({}, fh)
        old = time_mod.time() - 7200
        os.utime(os.path.join(cdir, dead_rel), (old, old))
        os.utime(os.path.join(cdir, live_rel), (old, old))
        m.d["stats_files"] = [live_rel]
        _atomic_write_json(m.path, m.d)

        out = vacuum_collection(
            cat, "vx", "pruner", older_than_seconds=3600
        )
        assert dead_rel in out["removed"]
        assert os.path.exists(os.path.join(cdir, live_rel))
        assert not os.path.exists(os.path.join(cdir, dead_rel))
