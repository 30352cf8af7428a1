"""Measurement tools under tools/: the scaled-dataset cache, the plan
capture's round directory and the composed-op phase timers."""

import importlib.util
import os
import sys
import types

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def _load(name):
    spec = importlib.util.spec_from_file_location(name, os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestScaledDirMarker:
    def test_rebuilds_on_other_replication(self, tmp_path, monkeypatch):
        scaled_ab = _load("scaled_ab")
        builds = []

        def prep(sf_dir, repl):
            out = tmp_path / f"built{len(builds)}"
            out.mkdir()
            (out / "repl").write_text(str(repl))
            builds.append(repl)
            return str(out)

        monkeypatch.setitem(sys.modules, "bench", types.SimpleNamespace(_prep_scaled_dir=prep))
        monkeypatch.setenv("SPARK_GRAFT_SCALED_DIR", str(tmp_path / "scaled"))
        path = scaled_ab.scaled_dir("sf", 10)
        assert scaled_ab.scaled_dir("sf", 10) == path
        assert builds == [10]  # reused while the factor matches
        scaled_ab.scaled_dir("sf", 100)
        assert builds == [10, 100]
        assert (tmp_path / "scaled" / "repl").read_text() == "100"

    def test_unstamped_marker_rebuilds(self, tmp_path, monkeypatch):
        scaled_ab = _load("scaled_ab")
        builds = []

        def prep(sf_dir, repl):
            builds.append(repl)
            out = tmp_path / "built"
            out.mkdir()
            return str(out)

        monkeypatch.setitem(sys.modules, "bench", types.SimpleNamespace(_prep_scaled_dir=prep))
        old = tmp_path / "scaled"
        old.mkdir()
        (old / "_ready").write_text("ok\n")  # marker written before the stamp
        monkeypatch.setenv("SPARK_GRAFT_SCALED_DIR", str(old))
        scaled_ab.scaled_dir("sf", 10)
        assert builds == [10]


class TestCapturePlansRound:
    def test_next_round(self, tmp_path):
        capture_plans = _load("capture_plans")
        assert capture_plans.next_round(str(tmp_path / "missing")) == "r1"
        for d in ("r12", "r13", "notes", "rx"):
            (tmp_path / d).mkdir()
        assert capture_plans.next_round(str(tmp_path)) == "r14"

    def test_round_is_required(self, monkeypatch, capsys):
        capture_plans = _load("capture_plans")
        monkeypatch.delenv("SPARK_GRAFT_PLANS_ROUND", raising=False)
        assert capture_plans.main() == 2
        assert "SPARK_GRAFT_PLANS_ROUND" in capsys.readouterr().err


class TestProfileComposedTimers:
    def test_times_the_driver_write(self, tmp_path, monkeypatch):
        import pyarrow as pa

        import xcube_geodb_spark.catalog as cat_mod

        prof = _load("profile_composed")
        prof.install_timers(monkeypatch.setattr)
        names = cat_mod.write_local_parquet(pa.table({"v": [1, 2]}), str(tmp_path), 10)
        assert len(names) == 1
        assert prof.CALLS["  driver_write.parquet"] == 1
        assert prof.PHASES["  driver_write.parquet"] > 0
        assert "  spark_write.parquet(job)" not in prof.CALLS


class TestLaneCrossover:
    def test_both_lanes_agree_at_a_tiny_size(self, spark, tmp_path):
        """The crossover tool at 600 features, one run per lane: every read,
        rewrite and insert answers the same on both lanes."""
        tool = _load("lane_crossover")
        recs = list(tool.run(spark, [600], reps=1, seed=1, workdir=str(tmp_path)))
        assert [r["read"] for r in recs][-4:] == ["delete", "update", "insert", "insert"]
        assert len(recs) == 12
        assert [r["read"] for r in recs if not r["same"]] == []
        assert all(r["rows"] for r in recs[-4:-2])
        assert [r["rows"] for r in recs[-2:]] == [300, 600]
        assert all(r["kept_mb"] > 0 for r in recs[-2:])
