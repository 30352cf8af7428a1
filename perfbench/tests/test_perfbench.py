"""Tests of the benchmark itself: generator, oracle and traced accounting.

    python3 -m pytest perfbench/tests -q

The engine tests start one local Spark session and build a tiny collection.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import tracing  # noqa: E402
from gen import PROPERTIES, make_dataset  # noqa: E402
from oracle import Model  # noqa: E402
from workloads import COLLECTION, CYCLES, build_ops, warmup_ops  # noqa: E402

N_FEATURES_TINY = 2_000


class Recorder:
    """Stands in for the client and records each call."""

    def __init__(self):
        self.calls = []

    def __getattr__(self, name):
        def call(*args, **kwargs):
            self.calls.append((name, args, kwargs))

        return call


def _calls(workload, seed, n):
    ds = make_dataset(seed, N_FEATURES_TINY)
    model = Model(ds.truth, ds.id_ranges())
    rec = Recorder()
    for op in warmup_ops(workload, seed, model, ds.towns) + build_ops(
        workload, seed, n, model, ds.towns
    ):
        op.call(rec)
    return rec.calls


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        return np.array_equal(a, b)
    if hasattr(a, "to_dict"):  # an insert batch
        return a.equals(b)
    if isinstance(a, (tuple, list)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    return a == b


def test_generator_is_deterministic_for_a_seed():
    a, b, c = (make_dataset(s, 2_000) for s in (7, 7, 8))
    for name in ("is_point", "xmin", "ymin", "xmax", "ymax", "raba_pid", "raba_id", "d_od"):
        assert np.array_equal(getattr(a.truth, name), getattr(b.truth, name))
    assert not np.array_equal(a.truth.xmin, c.truth.xmin)
    assert [len(x) for x in a.batches] == [len(x) for x in b.batches]
    # batches are the truth in id order
    assert sum(len(x) for x in a.batches) == len(a.truth)
    assert np.array_equal(np.concatenate([x.xmin for x in a.batches]), a.truth.xmin)
    assert a.batches[0].to_pandas()["geometry"].tolist() == b.batches[0].to_pandas()["geometry"].tolist()


@pytest.mark.parametrize("workload", sorted(CYCLES))
def test_op_sequence_is_deterministic_for_a_seed(workload):
    a = _calls(workload, 3, 2 * len(CYCLES[workload]))
    b = _calls(workload, 3, 2 * len(CYCLES[workload]))
    c = _calls(workload, 4, 2 * len(CYCLES[workload]))
    assert _same(a, b)
    assert not _same(a, c)


def test_op_parts_add_up_to_the_wall_time():
    root = tracing.Span("lookup", tracing.UNATTRIBUTED, 0.0, 0, 0)
    root.end = 10.0
    scan = tracing.Span("get_collection", tracing.SCAN, 1.0, 1, 0)
    scan.end = 4.0
    meta = tracing.Span("meta", tracing.META, 1.5, 2, 0)
    meta.end = 2.0
    collect = tracing.Span("_collect_geo", tracing.COLLECT, 4.5, 1, 0)
    collect.end = 9.0
    topandas = tracing.Span("toPandas", tracing.TOPANDAS, 4.6, 2, 0)
    topandas.end = 8.0
    # a job inside toPandas, one straddling the op's end, and an overlap
    jobs = [(5.0, 7.0), (6.0, 7.5), (9.5, 12.0)]
    parts = tracing.op_parts(root, [root, scan, meta, collect, topandas], jobs)
    assert sum(parts.values()) == pytest.approx(10.0)
    assert parts[tracing.JOB] == pytest.approx(2.5 + 0.5)
    assert parts[tracing.META] == pytest.approx(0.5)
    assert parts[tracing.SCAN] == pytest.approx(2.5)
    assert parts[tracing.TOPANDAS] == pytest.approx(3.4 - 2.5)
    assert parts[tracing.COLLECT] == pytest.approx(0.1 + 1.0)
    assert parts[tracing.UNATTRIBUTED] == pytest.approx(1.0 + 0.5 + 0.5)
    assert tracing.covered(jobs, 0.0, 10.0) == pytest.approx(3.0)


# -- against the engine ----------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from xcube_geodb_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="perfbench-tests",
        extra_conf={"spark.sql.warehouse.dir": str(tmp / "spark-warehouse")},
    )
    yield s
    s.stop()


def _tiny(spark, tmp_path, seed):
    from xcube_geodb_spark.client import GeoDBSparkClient

    client = GeoDBSparkClient(spark, warehouse=str(tmp_path / "wh"))
    client.create_collection(COLLECTION, PROPERTIES, crs=4326)
    ds = make_dataset(seed, N_FEATURES_TINY)
    for batch in ds.batches:
        client.insert_into_collection(COLLECTION, batch.to_pandas())
    return client, ds


@pytest.mark.parametrize("workload", sorted(CYCLES))
def test_oracle_agrees_with_the_engine(spark, tmp_path, workload):
    client, ds = _tiny(spark, tmp_path, 11)
    model = Model(ds.truth, ds.id_ranges())
    ops = warmup_ops(workload, 11, model, ds.towns) + build_ops(
        workload, 11, 2 * len(CYCLES[workload]), model, ds.towns
    )
    results = [op.call(client) for op in ops]
    errors = [(op.name, op.check(r)) for op, r in zip(ops, results)]
    assert [e for e in errors if e[1]] == []
    # the checks have teeth: a dropped row or a wrong count fails them
    for op, r in zip(ops, results):
        if hasattr(r, "iloc") and len(r):
            assert op.check(r.iloc[1:]) is not None, op.name
        elif isinstance(r, int):
            assert op.check(r + 1) is not None, op.name


def test_traced_parts_add_up_on_the_engine(spark, tmp_path):
    client, ds = _tiny(spark, tmp_path, 12)
    model = Model(ds.truth, ds.id_ranges())
    for op in warmup_ops("edit_session", 12, model, ds.towns):
        op.call(client)
    ops = build_ops("edit_session", 12, len(CYCLES["edit_session"]), model, ds.towns)
    tracer = tracing.Tracer(spark)
    tracer.install()
    try:
        results = [tracer.run_op(op.type, lambda op=op: op.call(client)) for op in ops]
    finally:
        tracer.uninstall()
    assert all(op.check(r) is None for op, r in zip(ops, results))
    import time

    time.sleep(0.5)  # the listener bus records job ends asynchronously
    metrics, records = tracing.summarize(tracer, ["insert", "lookup"])
    for r in records:
        assert sum(r["parts_ms"].values()) == pytest.approx(r["wall_ms"], abs=1e-3)
    by_type = {r["type"]: r for r in records}
    assert by_type["insert"]["parts_ms"].get(tracing.COMMIT, 0) > 0
    assert by_type["lookup"]["jobs"] >= 1
    assert metrics["catalog.commits_per_op"] == pytest.approx(3 / len(ops))
    assert metrics["pruning.files_kept"] <= metrics["pruning.files_total"]
    # the wrappers are gone again
    from xcube_geodb_spark.operators import dml

    assert not hasattr(dml.insert_into_collection, "__wrapped__")
