"""Optimistic-concurrency commit guard (SURVEY §7 hard part: mutable
tables under multiple writers): the commit point is an exclusive
hard-link of the manifest into ``history/v{N}.json`` — exactly one winner
per version, the loser raises, and a crash between the link and the
``metadata.json`` pointer swap is rolled forward by the next committer."""

import json
import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from xcube_geodb_spark.client import GeoDBSparkClient
from xcube_geodb_spark.errors import GeoDBError


def _mk(spark, tmp_path, user="cc"):
    c = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"), user=user)
    c.create_collection("t", {"v": "int"})
    c.insert_into_collection(
        "t", pd.DataFrame({"geometry": ["POINT (0 0)"], "v": [1]})
    )
    return c


class TestCommitRace:
    def test_two_concurrent_commits_one_wins(self, spark, tmp_path):
        c = _mk(spark, tmp_path)
        cat = c.catalog
        base = cat.meta("t", "cc").version

        # synchronize both writers onto the SAME base snapshot right
        # before the commit link: each commit_version call reads meta 3x
        # (roll-forward probe, entry check, pre-link re-read) — the
        # barrier on the 3rd read guarantees neither has linked yet when
        # both have chosen the same next version.
        orig_meta = cat.meta
        barrier = threading.Barrier(2, timeout=30)
        local = threading.local()

        def patched(collection, database):
            m = orig_meta(collection, database)
            n = getattr(local, "n", 0)
            local.n = n + 1
            if n == 2:
                barrier.wait()
            return m

        cat.meta = patched
        results: dict[str, object] = {}

        def commit(tag):
            try:
                cat.commit_version(
                    "t", "cc", None, extra_meta={"who": tag}
                )
                results[tag] = "ok"
            except GeoDBError as e:
                results[tag] = e
            except Exception as e:  # pragma: no cover - diagnostics
                results[tag] = e

        t1 = threading.Thread(target=commit, args=("a",))
        t2 = threading.Thread(target=commit, args=("b",))
        t1.start(), t2.start()
        t1.join(60), t2.join(60)
        cat.meta = orig_meta

        outcomes = sorted(
            "win" if v == "ok" else "lose" for v in results.values()
        )
        assert outcomes == ["lose", "win"], f"results: {results}"
        loser = next(v for v in results.values() if v != "ok")
        assert isinstance(loser, GeoDBError)
        assert "Concurrent modification" in str(loser)

        # table consistent: exactly one new version; pointer cache matches
        # the durable history snapshot; winner's metadata landed
        m = cat.meta("t", "cc")
        assert m.version == base + 1
        hist = os.path.join(
            cat._coll_dir("t", "cc"), "history", f"v{base + 1}.json"
        )
        with open(hist) as f:
            assert json.load(f) == m.d
        winner = next(k for k, v in results.items() if v == "ok")
        assert m.d["who"] == winner
        assert not os.path.exists(
            os.path.join(
                cat._coll_dir("t", "cc"), "history", f"v{base + 2}.json"
            )
        )
        # data still readable (client returns a pandas frame)
        assert len(c.get_collection("t")) == 1

    def test_loser_cleans_up_orphan_data_files(self, spark, tmp_path):
        c = _mk(spark, tmp_path)
        cat = c.catalog
        base_meta = cat.meta("t", "cc")
        cdir = cat._coll_dir("t", "cc")

        # simulate a racer that links the next version AFTER this commit
        # has already written its data files: inject the racer's history
        # link at the pre-link re-read (the 2nd meta() call made directly
        # from commit_version — entry check is the 1st)
        import inspect

        orig_meta = cat.meta
        state = {"cv": 0}

        def patched(collection, database):
            m = orig_meta(collection, database)
            caller = inspect.stack()[1].function
            if caller == "commit_version":
                state["cv"] += 1
                if state["cv"] == 2:
                    d = dict(m.d)
                    d["version"] = m.version + 1
                    d["who"] = "racer"
                    hist = os.path.join(
                        cdir, "history", f"v{m.version + 1}.json"
                    )
                    os.makedirs(os.path.dirname(hist), exist_ok=True)
                    with open(hist, "w") as f:
                        json.dump(d, f)
            return m

        cat.meta = patched
        before_files = set(base_meta.files)
        with pytest.raises(GeoDBError, match="Concurrent modification"):
            c.insert_into_collection(
                "t", pd.DataFrame({"geometry": ["POINT (1 1)"], "v": [99]})
            )
        cat.meta = orig_meta
        assert state["cv"] >= 2  # the injection actually fired

        # the loser's freshly-written parquet files must not linger
        m = orig_meta("t", "cc")
        on_disk = set()
        data_dir = os.path.join(cdir, "data")
        for root, _, files in os.walk(data_dir):
            for fn in files:
                if fn.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(root, fn), cdir)
                    on_disk.add(rel)
        assert on_disk == before_files


class TestCrashRollForward:
    def test_orphaned_history_rolls_forward(self, spark, tmp_path):
        c = _mk(spark, tmp_path)
        cat = c.catalog
        m = cat.meta("t", "cc")
        base = m.version
        # simulate a crashed commit: durable history link, no pointer swap
        d = dict(m.d)
        d["version"] = base + 1
        d["who"] = "crashed"
        hist = os.path.join(
            cat._coll_dir("t", "cc"), "history", f"v{base + 1}.json"
        )
        with open(hist, "w") as f:
            json.dump(d, f)
        assert cat.meta("t", "cc").version == base  # pointer still stale

        # next commit first completes the crashed one, then applies its own
        cat.commit_version("t", "cc", None, extra_meta={"who": "next"})
        m2 = cat.meta("t", "cc")
        assert m2.version == base + 2
        assert m2.d["who"] == "next"
        # the crashed snapshot is preserved in the history chain
        assert cat.meta_at_version("t", "cc", base + 1).d["who"] == "crashed"


class TestAppendRetry:
    def test_insert_retries_commute_with_concurrent_writer(
        self, spark, tmp_path
    ):
        """Plain appends commute: a version conflict redoes the insert
        against the fresh snapshot (fresh ids, fresh base version)."""
        c = _mk(spark, tmp_path)
        other = GeoDBSparkClient(
            spark, warehouse=str(tmp_path / "wh"), user="cc"
        )
        cat = c.catalog
        orig_meta = cat.meta
        fired = {"done": False}

        def stale_once(collection, database):
            m = orig_meta(collection, database)
            if not fired["done"]:
                fired["done"] = True
                # another writer lands a commit AFTER our snapshot read:
                # our first attempt must conflict, the retry must win
                other.insert_into_collection(
                    "t", pd.DataFrame({"geometry": ["POINT (1 1)"], "v": [2]})
                )
            return m

        cat.meta = stale_once
        from xcube_geodb_spark.operators import dml

        n = dml.insert_into_collection(
            cat, "t",
            pd.DataFrame({"geometry": ["POINT (2 2)"], "v": [3]}),
            database="cc", retries=2,
        )
        cat.meta = orig_meta
        assert n == 1
        rows = c.get_collection("t")
        assert sorted(rows["v"]) == [1, 2, 3]
        assert rows["id"].is_unique

    def test_insert_without_retries_still_raises(self, spark, tmp_path):
        c = _mk(spark, tmp_path)
        other = GeoDBSparkClient(
            spark, warehouse=str(tmp_path / "wh"), user="cc"
        )
        cat = c.catalog
        orig_meta = cat.meta
        # the insert's PINNING read is its second meta call (the first is
        # meta_for_write's roll-forward probe); the racer must land after
        # the pin is taken for the conflict to be forced
        state = {"calls": 0, "fired": False}

        def stale_once(collection, database):
            m = orig_meta(collection, database)
            state["calls"] += 1
            if state["calls"] == 2 and not state["fired"]:
                state["fired"] = True
                other.insert_into_collection(
                    "t", pd.DataFrame({"geometry": ["POINT (1 1)"], "v": [2]})
                )
            return m

        cat.meta = stale_once
        from xcube_geodb_spark.operators import dml

        with pytest.raises(GeoDBError, match="Concurrent modification"):
            dml.insert_into_collection(
                cat, "t",
                pd.DataFrame({"geometry": ["POINT (2 2)"], "v": [3]}),
                database="cc",
            )
        cat.meta = orig_meta


class TestRebaseOnDisjoint:
    """File-rewrite commits (delete/update/compaction) REBASE instead of
    aborting when the racing commit touched a disjoint file set
    (catalog.commit_version rebase_on_disjoint) — Delta-style
    WriteSerializable."""

    def _mk_files(self, spark, tmp_path):
        """btree(id)-clustered collection: 3 small files (10 rows each)
        + 1 full file (20 rows) — optimize targets the small ones."""
        from xcube_geodb_spark.catalog import GeoDBCatalog, _atomic_write_json
        from xcube_geodb_spark.operators import dml

        cat = GeoDBCatalog(spark, str(tmp_path / "whr"), user="cc")
        cat.create_database("d")
        cat.create_collection("c", {"v": "int"}, database="d")
        m = cat.meta("c", "d")
        m.d["max_file_rows"] = 20
        _atomic_write_json(m.path, m.d)
        import pandas as pd

        for n in (10, 10, 10, 20):
            dml.insert_into_collection(
                cat, "c", pd.DataFrame({"v": list(range(n))}), database="d"
            )
        assert len(cat.meta("c", "d").files) == 4
        return cat

    def test_optimize_and_update_both_land(self, spark, tmp_path, monkeypatch):
        from xcube_geodb_spark.catalog import GeoDBCatalog
        from xcube_geodb_spark.operators.dml import update_collection
        from xcube_geodb_spark.operators.maintenance import optimize_collection

        cat = self._mk_files(spark, tmp_path)
        base_version = cat.meta("c", "d").version
        # the 20-row file holds ids 31..50 (3 batches of 10 first)
        orig_load = GeoDBCatalog.load_files
        fired = {"done": False}

        def hooked(self, coll, db, files, meta=None):
            if not fired["done"]:
                fired["done"] = True
                # the racing update lands BETWEEN optimize's snapshot
                # read and its commit; it rewrites only the big file
                update_collection(
                    cat, "c", {"v": 999}, "id=eq.45", database="d"
                )
            return orig_load(self, coll, db, files, meta=meta)

        monkeypatch.setattr(GeoDBCatalog, "load_files", hooked)
        stats = optimize_collection(
            cat, "c", "d", small_file_rows=15
        )
        monkeypatch.undo()
        assert stats["compacted"] == 3
        m = cat.meta("c", "d")
        # BOTH commits landed
        assert m.version == base_version + 2
        df = cat.load_df("c", "d")
        assert df.count() == 50
        assert df.filter("v = 999").count() == 1  # update survived
        assert len(m.files) < 4 + 1  # compaction shrank the small set

    def test_overlapping_race_still_raises(self, spark, tmp_path, monkeypatch):
        """A racer that rewrites a file the compaction READ is a true
        conflict: rebase must refuse and the abort must surface."""
        from xcube_geodb_spark.catalog import GeoDBCatalog
        from xcube_geodb_spark.errors import GeoDBError
        from xcube_geodb_spark.operators.dml import update_collection
        from xcube_geodb_spark.operators.maintenance import optimize_collection

        cat = self._mk_files(spark, tmp_path)
        orig_load = GeoDBCatalog.load_files
        fired = {"done": False}

        def hooked(self, coll, db, files, meta=None):
            if not fired["done"]:
                fired["done"] = True
                # id=5 lives in a SMALL file optimize is compacting
                update_collection(
                    cat, "c", {"v": 888}, "id=eq.5", database="d"
                )
            return orig_load(self, coll, db, files, meta=meta)

        monkeypatch.setattr(GeoDBCatalog, "load_files", hooked)
        with pytest.raises(GeoDBError, match="Concurrent modification"):
            optimize_collection(cat, "c", "d", small_file_rows=15)
        monkeypatch.undo()
        # the update's result survived; the table is consistent
        df = cat.load_df("c", "d")
        assert df.filter("v = 888").count() == 1
        assert df.count() == 50


class TestRebaseConstraintGuard:
    def test_rebase_refuses_when_constraints_changed(
        self, spark, tmp_path, monkeypatch
    ):
        """A concurrently added CHECK constraint was never enforced
        against the rebasing commit's rows: rebase must refuse (review
        r6 finding: properties/srid alone were compared)."""
        import pandas as pd

        from xcube_geodb_spark.catalog import GeoDBCatalog, _atomic_write_json
        from xcube_geodb_spark.errors import GeoDBError
        from xcube_geodb_spark.operators import dml
        from xcube_geodb_spark.operators.dml import update_collection

        cat = GeoDBCatalog(spark, str(tmp_path / "whcg"), user="cc")
        cat.create_database("d")
        cat.create_collection("c", {"v": "int"}, database="d")
        m = cat.meta("c", "d")
        m.d["max_file_rows"] = 10
        _atomic_write_json(m.path, m.d)
        for n in (10, 10):
            dml.insert_into_collection(
                cat, "c", pd.DataFrame({"v": list(range(n))}), database="d"
            )
        orig_split = dml._touched_untouched
        fired = {"done": False}

        def hooked(*args):
            # the rewrite has read its snapshot; it rewrites on the driver
            # lane, as the snapshot declares no constraint
            if not fired["done"]:
                fired["done"] = True
                # racer adds a CHECK constraint (touches no files)
                cat.add_constraint("c", "v_nonneg", "v >= 0", "d")
            return orig_split(*args)

        monkeypatch.setattr(dml, "_touched_untouched", hooked)
        with pytest.raises(GeoDBError, match="Concurrent modification"):
            update_collection(cat, "c", {"v": -5}, "id=eq.1", database="d")
        monkeypatch.undo()
        # the constraint landed; the violating update did not
        df = cat.load_df("c", "d")
        assert df.filter("v < 0").count() == 0


class TestPublishFlagCommit:
    def test_publish_during_concurrent_insert_loses_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """publish_gs's flag write is a versioned commit against the
        POST-HTTP meta read; a commit landing during the (slow)
        geoservice round-trip must survive (review r6 finding: the old
        stale metadata.json swap dropped it)."""
        import pandas as pd

        from xcube_geodb_spark.client import GeoDBSparkClient

        c = GeoDBSparkClient(
            spark, warehouse=str(tmp_path / "whpub"), user="pu"
        )
        c.create_collection("t", {"v": "int"})
        c.insert_into_collection(
            "t", pd.DataFrame({"geometry": ["POINT (0 0)"], "v": [1]})
        )

        class SlowGS:
            def publish(self, db, coll):
                # a commit lands while the HTTP call is in flight
                c.insert_into_collection(
                    "t",
                    pd.DataFrame({"geometry": ["POINT (1 1)"], "v": [2]}),
                )
                return {"status": "published"}

        c.gs = SlowGS()
        out = c.publish_gs("t")
        assert out["published"] is True
        m = c.catalog.meta("t", "pu")
        assert m.d["gs"]["published"] is True
        # the mid-flight insert survived the flag commit
        assert c.catalog.load_df("t", "pu").count() == 2


class TestAclStacVersionedCommit:
    """ACL grants and STAC fields are versioned CAS commits (round-6
    review follow-up): a snapshot-based metadata.json swap would revert
    the manifest pointer of any commit landing between the ACL read and
    write — the data survives roll-forward, but the grant itself is lost
    and reads see a stale manifest until the next commit."""

    def test_grant_racing_insert_both_land(self, spark, tmp_path):
        c = _mk(spark, tmp_path, user="au")
        v0 = c.catalog.meta("t", "au").version

        fired = {"done": False}
        orig_meta = c.catalog.meta

        def meta_with_race(coll, db, *a, **k):
            m = orig_meta(coll, db, *a, **k)
            # a DML commit lands after the grant's snapshot read: the
            # grant's CAS must conflict and re-derive, never clobber
            if not fired["done"]:
                fired["done"] = True
                c.insert_into_collection(
                    "t", pd.DataFrame({"geometry": ["POINT (2 2)"], "v": [7]})
                )
            return m

        c.catalog.meta = meta_with_race
        try:
            c.acl.grant_access("t", "bob", "au", "SELECT")
        finally:
            c.catalog.meta = orig_meta

        m = c.catalog.meta("t", "au")
        assert "bob" in m.d["acl"]["grants"]                 # grant landed
        assert c.catalog.load_df("t", "au").count() == 2     # insert survived
        assert m.version >= v0 + 2                           # both committed

    def test_stac_field_racing_insert_both_land(self, spark, tmp_path):
        c = _mk(spark, tmp_path, user="au2")

        fired = {"done": False}
        orig_meta = c.catalog.meta

        def meta_with_race(coll, db, *a, **k):
            m = orig_meta(coll, db, *a, **k)
            if not fired["done"]:
                fired["done"] = True
                c.insert_into_collection(
                    "t", pd.DataFrame({"geometry": ["POINT (3 3)"], "v": [9]})
                )
            return m

        c.catalog.meta = meta_with_race
        try:
            c.stac.set_metadata_field("t", "title", "races", "au2")
        finally:
            c.catalog.meta = orig_meta

        m = c.catalog.meta("t", "au2")
        assert m.d["stac"]["title"] == "races"
        assert c.catalog.load_df("t", "au2").count() == 2

    def test_owner_recheck_against_fresh_snapshot(self, spark, tmp_path):
        c = _mk(spark, tmp_path, user="au3")
        c.acl.create_group("g")
        with pytest.raises(GeoDBError, match="must be owner"):
            c.acl.publish_collection_to_group("t", "g", "au3", "not_owner")


class TestRebaseConstraintNormalization:
    def test_constraint_roundtrip_is_not_a_conflict(
        self, spark, tmp_path, monkeypatch
    ):
        """A fresh collection has NO 'constraints' key; add_constraint +
        drop_constraint leaves 'constraints': {}. The rebase guard must
        normalize None vs {} — the effective constraint set is identical,
        so a disjoint-file update racing the round-trip REBASES instead
        of aborting (review r6.2 finding)."""
        import pandas as pd

        from xcube_geodb_spark.catalog import GeoDBCatalog, _atomic_write_json
        from xcube_geodb_spark.operators import dml
        from xcube_geodb_spark.operators.dml import update_collection

        cat = GeoDBCatalog(spark, str(tmp_path / "whcn"), user="cc")
        cat.create_database("d")
        cat.create_collection("c", {"v": "int"}, database="d")
        m = cat.meta("c", "d")
        m.d["max_file_rows"] = 10
        _atomic_write_json(m.path, m.d)
        for n in (10, 10):
            dml.insert_into_collection(
                cat, "c", pd.DataFrame({"v": list(range(n))}), database="d"
            )
        assert "constraints" not in cat.meta("c", "d").d
        orig_load = GeoDBCatalog.load_files
        fired = {"done": False}

        def hooked(self, coll, db, files, meta=None):
            if not fired["done"]:
                fired["done"] = True
                cat.add_constraint("c", "v_nonneg", "v >= 0", "d")
                cat.drop_constraint("c", "v_nonneg", "d")
                assert cat.meta("c", "d").d.get("constraints") == {}
            return orig_load(self, coll, db, files, meta=meta)

        monkeypatch.setattr(GeoDBCatalog, "load_files", hooked)
        # must NOT raise: effective constraints unchanged, files disjoint
        update_collection(cat, "c", {"v": 42}, "id=eq.1", database="d")
        monkeypatch.undo()
        df = cat.load_df("c", "d")
        assert df.filter("v = 42").count() == 1
        assert df.count() == 20


class TestMetaChangeNoop:
    def test_idempotent_grant_commits_nothing(self, spark, tmp_path):
        """Re-granting a privilege the user already holds is a no-op:
        no version bump, no history snapshot (review r6.2 finding —
        every idempotent admin call used to commit a full new version,
        pushing concurrent DML through conflict/rebase for no change)."""
        c = _mk(spark, tmp_path, user="ni")
        c.acl.grant_access("t", "bob", "ni", "SELECT")
        v1 = c.catalog.meta("t", "ni").version
        c.acl.grant_access("t", "bob", "ni", "SELECT")  # already held
        assert c.catalog.meta("t", "ni").version == v1
        c.acl.revoke_access("t", "nobody", "ni", "SELECT")  # absent
        assert c.catalog.meta("t", "ni").version == v1
        c.acl.revoke_access("t", "bob", "ni", "SELECT")  # real change
        assert c.catalog.meta("t", "ni").version == v1 + 1

    def test_idempotent_gs_flag_commits_nothing(self, spark, tmp_path):
        c = _mk(spark, tmp_path, user="ng")
        c.publish_gs("t")
        v1 = c.catalog.meta("t", "ng").version
        c.publish_gs("t")  # already published
        assert c.catalog.meta("t", "ng").version == v1
        c.unpublish_gs("t")
        assert c.catalog.meta("t", "ng").version == v1 + 1
        c.unpublish_gs("t")  # already unpublished
        assert c.catalog.meta("t", "ng").version == v1 + 1


class TestMultiWriterStress:
    """Randomized N-thread writer mix against ONE collection: appends
    (with retry), ACL grants, constraint round-trips, and a compaction.
    The pairwise-race tests above pin each protocol arm; this pins the
    COMPOSITION — every acknowledged write must be visible in the final
    state, versions strictly advance, and history replays cleanly."""

    def test_parallel_append_storm_loses_nothing(self, spark, tmp_path):
        import threading

        from xcube_geodb_spark.operators import dml

        c = _mk(spark, tmp_path, user="mw")
        cat = c.catalog
        N_THREADS, N_OPS = 4, 3
        errors: list[Exception] = []
        acked: list[int] = []
        lock = threading.Lock()

        def writer(t):
            try:
                for i in range(N_OPS):
                    n = dml.insert_into_collection(
                        cat, "t",
                        pd.DataFrame({
                            "geometry": [f"POINT ({t} {i})"],
                            "v": [(t + 1) * 100 + i],
                        }),
                        database="mw", retries=12,
                    )
                    with lock:
                        acked.append(n)
            except Exception as e:  # pragma: no cover
                errors.append(e)

        threads = [
            threading.Thread(target=writer, args=(t,))
            for t in range(N_THREADS)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        assert len(acked) == N_THREADS * N_OPS
        df = cat.load_df("t", "mw")
        # the fixture row + every acknowledged append
        assert df.count() == 1 + N_THREADS * N_OPS
        # all distinct payloads present exactly once
        vals = sorted(
            r["v"] for r in df.select("v").collect() if r["v"] != 1
        )
        assert vals == sorted(
            (t + 1) * 100 + i
            for t in range(N_THREADS)
            for i in range(N_OPS)
        )
        m = cat.meta("t", "mw")
        assert m.version >= 1 + N_THREADS * N_OPS

    def test_mixed_admin_and_dml_storm(self, spark, tmp_path):
        import threading

        from xcube_geodb_spark.operators import dml

        c = _mk(spark, tmp_path, user="mx")
        cat = c.catalog
        errors: list[Exception] = []

        def appender():
            try:
                for i in range(3):
                    dml.insert_into_collection(
                        cat, "t",
                        pd.DataFrame({
                            "geometry": [f"POINT (1 {i})"], "v": [10 + i],
                        }),
                        database="mx", retries=12,
                    )
            except Exception as e:
                errors.append(e)

        def granter():
            try:
                for i in range(3):
                    c.acl.grant_access("t", f"user{i}", "mx", "SELECT")
            except Exception as e:
                errors.append(e)

        def constrainer():
            try:
                for i in range(2):
                    cat.add_constraint("t", f"c{i}", "v >= 0", "mx")
                    cat.drop_constraint("t", f"c{i}", "mx")
            except Exception as e:
                errors.append(e)

        threads = [
            threading.Thread(target=f)
            for f in (appender, granter, constrainer)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        df = cat.load_df("t", "mx")
        assert df.count() == 4  # fixture + 3 appends
        m = cat.meta("t", "mx")
        grants = m.d["acl"]["grants"]
        assert all(f"user{i}" in grants for i in range(3))
        assert m.d.get("constraints") in (None, {},)


class TestStacNoop:
    def test_unchanged_stac_field_commits_nothing(self, spark, tmp_path):
        c = _mk(spark, tmp_path, user="sn")
        c.set_metadata_field("t", "title", "Atlas")
        v1 = c.catalog.meta("t", "sn").version
        c.set_metadata_field("t", "title", "Atlas")  # unchanged
        assert c.catalog.meta("t", "sn").version == v1
        c.set_metadata_field("t", "title", "Atlas v2")
        assert c.catalog.meta("t", "sn").version == v1 + 1


class TestCrashPointFuzz:
    """Exhaustive fault-injection over the commit protocol: an append is
    crashed at EVERY metadata write / hard-link call index in turn, and
    after each crash the table must be atomic (a fresh read sees either
    the pre-commit state or the complete new version — crash after the
    history-link commit point counts as committed and rolls forward) and
    live (the next clean append succeeds). Complements
    TestCrashRollForward's single hand-picked crash point."""

    class _Boom(RuntimeError):
        pass

    def test_every_crash_point_is_atomic_and_recoverable(
        self, spark, tmp_path
    ):
        import os as _os

        from xcube_geodb_spark import catalog as catmod
        from xcube_geodb_spark.operators import dml

        cat = catmod.GeoDBCatalog(spark, str(tmp_path / "whf"), user="fz")
        cat.create_database("d")
        cat.create_collection("c", {"v": "int"}, database="d")
        dml.insert_into_collection(
            cat, "c", pd.DataFrame({"v": [0]}), database="d"
        )
        committed = cat.load_df("c", "d").count()

        real_write = catmod._atomic_write_json
        real_link = _os.link
        state = {"budget": None, "used": 0}

        def gate():
            if state["used"] >= state["budget"]:
                raise self._Boom(f"injected at call {state['used']}")
            state["used"] += 1

        def failing_write(path, obj):
            gate()
            return real_write(path, obj)

        def failing_link(src, dst, **kw):
            gate()
            return real_link(src, dst, **kw)

        k, crashes, max_k = 0, 0, 50
        try:
            while k < max_k:
                state["budget"], state["used"] = k, 0
                catmod._atomic_write_json = failing_write
                _os.link = failing_link
                payload = 1000 + k
                try:
                    dml.insert_into_collection(
                        cat, "c",
                        pd.DataFrame({"v": [payload]}), database="d",
                    )
                    clean = True
                except self._Boom:
                    clean = False
                    crashes += 1
                finally:
                    catmod._atomic_write_json = real_write
                    _os.link = real_link
                # invariant 1: atomicity — old count, or exactly +1 with
                # the payload visible. A crash AFTER the history link is
                # committed-but-unswapped: plain reads see the old
                # pointer until the next writer repairs it, so play the
                # next committer first (meta_for_write = roll-forward).
                cat.meta_for_write("c", "d")
                n = cat.load_df("c", "d").count()
                assert n in (committed, committed + 1), (k, n, committed)
                if n == committed + 1:
                    assert (
                        cat.load_df("c", "d")
                        .filter(F.col("v") == payload).count() == 1
                    )
                committed = n
                # invariant 2: liveness — a clean append always lands
                dml.insert_into_collection(
                    cat, "c",
                    pd.DataFrame({"v": [2000 + k]}), database="d",
                )
                committed += 1
                assert cat.load_df("c", "d").count() == committed
                if clean:
                    break  # budget exceeded every fault point: done
                k += 1
        finally:
            catmod._atomic_write_json = real_write
            _os.link = real_link
        assert crashes >= 2, "fuzz must have exercised several fault points"
        assert k < max_k, "append never completed under the fault budget"
