"""fts token-bloom index: per-file blooms over the (Porter-stemmed)
token vocabulary, built at commit, pruning whole files for fts-family
scans — the engine's stand-in for a tsvector GIN index
(geodb.sql:1441-1510 delegates text search to PG; SURVEY.md §2.2).

The probe must never skip a matching file (conservative), must skip
non-matching files when vocabularies are file-local, and must honor
dictionary compatibility (a stemmed query can't prune a simple-dict
bloom)."""

import pytest
from pyspark.sql import functions as F

from xcube_geodb_spark.catalog import GeoDBCatalog, _atomic_write_json
from xcube_geodb_spark.operators import dml
from xcube_geodb_spark.operators.scan import explain_scan, get_collection

# three id-bands with disjoint vocabulary; btree(id) clustering makes the
# bands file-local so the fts blooms are selective
BANDS = {
    0: "aurora borealis shimmering skies",
    1: "querying tables joining merging",
    2: "volcano erupting basalt flows",
}


def _mk(spark, wh, name, dictionary):
    cat = GeoDBCatalog(spark, wh, user="fts")
    if not cat.database_exists("ftsdb"):
        cat.create_database("ftsdb")
    cat.create_collection(name, {"n": "int", "text": "text"}, database="ftsdb")
    m = cat.meta(name, "ftsdb")
    m.d["max_file_rows"] = 40
    _atomic_write_json(m.path, m.d)
    from xcube_geodb_spark.admin import IndexManager

    im = IndexManager(cat)
    im.create_index(name, "n", "ftsdb", kind="btree")
    im.create_index(
        name, "text", "ftsdb", kind="fts",
        options={"dictionary": dictionary},
    )
    rows = [(i, f"{BANDS[i // 40]} filler{i}") for i in range(120)]
    df = spark.createDataFrame(rows, "n int, text string")
    dml.insert_into_collection(cat, name, df, database="ftsdb")
    return cat


@pytest.fixture(scope="module")
def english_cat(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("ftswh"))
    return _mk(spark, wh, "docs", "english")


@pytest.fixture(scope="module")
def simple_cat(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("ftswh_simple"))
    return _mk(spark, wh, "docs_s", "simple")


class TestFtsBloomPruning:
    def test_multi_file_layout(self, english_cat):
        assert len(english_cat.meta("docs", "ftsdb").files) >= 3

    def test_probe_skips_nonmatching_files(self, english_cat):
        ex = explain_scan(
            english_cat, "docs", "text=fts(english).volcano", database="ftsdb"
        )
        assert ex["fts_constraints"], "fts filter must register a constraint"
        assert ex["files_skipped"] > 0
        assert ex["files_scanned"] < ex["files_total"]

    def test_stemmed_query_never_wrong_skips(self, english_cat):
        # 'queries'/'merged' are not literal tokens anywhere; their stems
        # match band 1's 'querying'/'merging' — the file must survive
        # pruning AND the rows must come back
        out = get_collection(
            english_cat, "docs", "text=fts(english).queries%26merged",
            database="ftsdb",
        )
        ns = sorted(r["n"] for r in out.collect())
        assert ns == list(range(40, 80))

    def test_untagged_query_prunes_english_bloom(self, english_cat):
        # raw token 'volcano' stems to a value present in the english
        # bloom of band 2 only — untagged queries prune too
        ex = explain_scan(
            english_cat, "docs", "text=fts.volcano", database="ftsdb"
        )
        assert ex["files_skipped"] > 0
        out = get_collection(
            english_cat, "docs", "text=fts.volcano", database="ftsdb"
        )
        assert sorted(r["n"] for r in out.collect()) == list(range(80, 120))

    def test_or_groups_keep_both_bands(self, english_cat):
        ex = explain_scan(
            english_cat,
            "docs",
            "text=fts(english).volcano|aurora",
            database="ftsdb",
        )
        # bands 0 and 2 both survive; band 1 is skippable
        assert ex["files_skipped"] > 0
        out = get_collection(
            english_cat, "docs", "text=fts(english).volcano|aurora",
            database="ftsdb",
        )
        ns = sorted(r["n"] for r in out.collect())
        assert ns == list(range(0, 40)) + list(range(80, 120))

    def test_negation_never_prunes(self, english_cat):
        ex = explain_scan(
            english_cat, "docs", "text=not.fts(english).volcano",
            database="ftsdb",
        )
        assert ex["files_skipped"] == 0
        out = get_collection(
            english_cat, "docs", "text=not.fts(english).volcano",
            database="ftsdb",
        )
        assert sorted(r["n"] for r in out.collect()) == list(range(0, 80))

    def test_wfts_and_phfts_prune(self, english_cat):
        for q in (
            'text=wfts(english).erupting basalt',
            "text=phfts(english).borealis shimmering",
        ):
            ex = explain_scan(english_cat, "docs", q, database="ftsdb")
            assert ex["files_skipped"] > 0, q

    def test_all_negated_group_disables_pruning(self, english_cat):
        ex = explain_scan(
            english_cat, "docs", "text=fts(english).!volcano", database="ftsdb"
        )
        assert ex["files_skipped"] == 0

    def test_mixed_negation_prefixes_never_prune_matching_files(
        self, english_cat
    ):
        """filters._fts.term negates BOTH '!' and '-' in every grammar;
        the bloom extractor must skip both spellings — a '-'-negated fts
        term (or '!'-negated wfts term) treated as a required positive
        would prune the files that DO match (advice r5, high)."""
        # fts with '-' negation: aurora is band 0; '-volcano' must NOT
        # become a required token (band 0's bloom has no volcano)
        q = "text=fts(english).aurora%26-volcano"
        out = get_collection(english_cat, "docs", q, database="ftsdb")
        assert sorted(r["n"] for r in out.collect()) == list(range(0, 40))
        # wfts with '!' negation, same shape
        q = "text=wfts(english).aurora !volcano"
        out = get_collection(english_cat, "docs", q, database="ftsdb")
        assert sorted(r["n"] for r in out.collect()) == list(range(0, 40))
        # purely-negated groups in either spelling disable pruning
        for q in (
            "text=fts(english).-volcano",
            "text=wfts(english).!volcano",
        ):
            ex = explain_scan(english_cat, "docs", q, database="ftsdb")
            assert ex["files_skipped"] == 0, q


@pytest.mark.parametrize("q", [
    "text=fts(english).volcano", "text=fts(english).queries%26merged", "text=fts.volcano",
    "text=fts(english).volcano|aurora", "text=not.fts(english).volcano",
    "text=wfts(english).erupting basalt", "text=phfts(english).borealis shimmering",
    "text=fts(english).!volcano", "text=fts(english).aurora%26-volcano",
    "text=wfts(english).aurora !volcano", "n=eq.5",
])
def test_explain_counts_the_files_a_read_keeps(spark, english_cat, q):
    """The files ``explain_scan`` reports are the files a client grammar
    read keeps (``attrs["read"]``)."""
    from xcube_geodb_spark.client import GeoDBSparkClient

    client = GeoDBSparkClient(spark, warehouse=english_cat.warehouse, user="fts", database="ftsdb")
    read = client.get_collection("docs", q).attrs["read"]
    assert explain_scan(english_cat, "docs", q, database="ftsdb")["files_scanned"] == read["files_kept"]


class TestDictionaryCompatibility:
    def test_simple_index_prunes_raw_queries(self, simple_cat):
        ex = explain_scan(
            simple_cat, "docs_s", "text=fts.volcano", database="ftsdb"
        )
        assert ex["files_skipped"] > 0

    def test_simple_index_ignores_stemmed_queries(self, simple_cat):
        # stemmed query terms have no raw-token preimage: no pruning, but
        # results stay correct
        ex = explain_scan(
            simple_cat, "docs_s", "text=fts(english).queries",
            database="ftsdb",
        )
        assert ex["files_skipped"] == 0
        out = get_collection(
            simple_cat, "docs_s", "text=fts(english).queries",
            database="ftsdb",
        )
        assert sorted(r["n"] for r in out.collect()) == list(range(40, 80))


class TestBloomBuild:
    def test_blooms_live_in_own_sidecar_family(self, english_cat):
        # bloom payloads must NOT sit in the interval-stats hot path: the
        # stats shards stay bloom-free, file_blooms() carries them
        m = english_cat.meta("docs", "ftsdb")
        stats = m.file_stats()
        assert not any(
            k.startswith("::bloom:") for st in stats.values() for k in st
        )
        blooms = m.file_blooms()
        assert all("::bloom:fts:text" in blooms[f] for f in m.files)
        assert m.d.get("bloom_files"), "bloom shard family must be tracked"

    def test_interval_probe_never_parses_bloom_shards(self, english_cat):
        # an interval-only scan must not load the (kilobytes x files)
        # bloom shards: the catalog shard cache sees no bloom path
        import os

        from xcube_geodb_spark.operators.scan import explain_scan

        english_cat._stats_shard_cache.clear()
        explain_scan(english_cat, "docs", "n=eq.5", database="ftsdb")
        assert not any(
            os.sep + "blooms" + os.sep in p
            for p in english_cat._stats_shard_cache
        )
        # an fts probe DOES load them (and they get cached)
        explain_scan(
            english_cat, "docs", "text=fts(english).volcano", database="ftsdb"
        )
        assert any(
            os.sep + "blooms" + os.sep in p
            for p in english_cat._stats_shard_cache
        )

    def test_legacy_inline_blooms_still_served(self, english_cat):
        # pre-split shards carried ::bloom: keys inline in the stats — the
        # bloom view must surface them unchanged
        from xcube_geodb_spark.catalog import CollectionMeta

        m = english_cat.meta("docs", "ftsdb")
        legacy = CollectionMeta(
            {
                "files": ["data/a.parquet"],
                "file_stats": {
                    "data/a.parquet": {
                        "id": [1, 9],
                        "::bloom:fts:text": "QUJD",
                    }
                },
            },
            path="/dev/null",
        )
        assert (
            legacy.file_blooms()["data/a.parquet"]["::bloom:fts:text"]
            == "QUJD"
        )
        assert m is not legacy

    def test_rewrite_preserves_fts_blooms(self, english_cat, spark):
        # DML rewrite commits must rebuild the blooms for rewritten files
        dml.update_collection(
            english_cat,
            "docs",
            query="n=eq.5",
            values={"text": "zebra zithers"},
            database="ftsdb",
        )
        ex = explain_scan(
            english_cat, "docs", "text=fts(english).zebra", database="ftsdb"
        )
        assert ex["files_scanned"] >= 1
        out = get_collection(
            english_cat, "docs", "text=fts(english).zebra", database="ftsdb"
        )
        assert [r["n"] for r in out.collect()] == [5]


class TestFtsDmlPruning:
    def test_delete_by_fts_rewrites_only_matching_files(
        self, spark, tmp_path_factory
    ):
        wh = str(tmp_path_factory.mktemp("ftswh_dml"))
        cat = _mk(spark, wh, "docs_d", "english")
        before = set(cat.meta("docs_d", "ftsdb").files)
        dml.delete_from_collection(
            cat, "docs_d", "text=fts(english).volcano", database="ftsdb"
        )
        m = cat.meta("docs_d", "ftsdb")
        # the non-matching band files survive UNREWRITTEN (same physical
        # file names); only the volcano band was touched
        untouched = before & set(m.files)
        assert untouched, "non-matching files must not rewrite"
        out = get_collection(cat, "docs_d", database="ftsdb")
        assert sorted(r["n"] for r in out.collect()) == list(range(0, 80))
