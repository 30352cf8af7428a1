"""Client-facing geoDB benchmark.

Drives the public ``GeoDBSparkClient`` API from one process and one client
in a closed loop, over a seeded ``land_use``-shaped collection, and checks
every answer against a numpy oracle. Run from the repository root::

    python3 perfbench/run.py --workload map_browse --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before it
are for people. See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3  # set-ups per plain run; setup_s takes their median
DRIVER_MEMORY = "2g"  # the 40k-feature collection needs far less


def _children(pid: int) -> set[int]:
    """Every live descendant of ``pid``, from /proc."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def _stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and the JVM, and wait until every process this run
    started has ended."""
    from pyspark import SparkContext

    procs = _children(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        if procs:
            time.sleep(0.05)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


def _percentile(xs, q: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, tmp: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.attempted = 0
        self.failures: list[str] = []

    def start_spark(self):
        from xcube_geodb_spark.session import get_spark

        return get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.tmp, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            },
        )

    def setup(self, spark, k: int):
        """Fresh warehouse, client and collection, ingested region by
        region. Returns (client, dataset, warehouse, seconds)."""
        from gen import PROPERTIES, make_dataset
        from workloads import COLLECTION, N_FEATURES
        from xcube_geodb_spark.client import GeoDBSparkClient

        t0 = time.perf_counter()
        wh = os.path.join(self.tmp, f"warehouse-{k}")
        client = GeoDBSparkClient(spark, warehouse=wh)
        client.create_collection(COLLECTION, PROPERTIES, crs=4326)
        ds = make_dataset(self.seed, N_FEATURES)
        for batch in ds.batches:
            client.insert_into_collection(COLLECTION, batch.to_pandas())
        return client, ds, wh, time.perf_counter() - t0

    def run_ops(self, client, ops, runner=None) -> tuple[list, list, float]:
        """Run ``ops`` back to back; returns (results, latencies_s, wall_s).
        An exception is the op's result."""
        results, lats = [], []
        t0 = time.perf_counter()
        for op in ops:
            a = time.perf_counter()
            try:
                if runner is None:
                    res = op.call(client)
                else:
                    res = runner(op.type, lambda: op.call(client))
            except Exception as e:  # a failed op, counted and reported
                res = e
            lats.append(time.perf_counter() - a)
            results.append(res)
        return results, lats, time.perf_counter() - t0

    def check(self, ops, results) -> None:
        self.attempted += len(ops)
        for op, res in zip(ops, results):
            if isinstance(res, Exception):
                err = f"{type(res).__name__}: {res}"
            else:
                try:
                    err = op.check(res)
                except Exception as e:  # a malformed result fails the op
                    err = f"check raised {type(e).__name__}: {e}"
            if err:
                self.failures.append(f"{op.name}: {err}")

    def prepare(self, spark, k: int):
        """One set-up plus warm-up; returns (client, model, dataset,
        warehouse, setup_s), ready for the timed ops."""
        from oracle import Model
        from workloads import warmup_ops

        client, ds, wh, setup_s = self.setup(spark, k)
        model = Model(ds.truth, ds.id_ranges())
        warm = warmup_ops(self.workload, self.seed, model, ds.towns)
        results, _l, self.warmup_s = self.run_ops(client, warm)
        self.check(warm, results)
        return client, model, ds, wh, setup_s

    def timed_ops(self, model, ds):
        from workloads import CYCLES, NOMINAL_RATE, build_ops

        # whole cycles only, so every run holds the same mix of op types
        cycle = len(CYCLES[self.workload])
        n = cycle * max(1, round(self.seconds * NOMINAL_RATE[self.workload] / cycle))
        return build_ops(self.workload, self.seed, n, model, ds.towns)


def plain_run(b: Bench, spark, session_s: float) -> dict:
    from workloads import COLLECTION, rows_out

    setups = []
    for k in range(SETUP_REPEATS - 1):
        _c, _d, wh, s = b.setup(spark, k)
        setups.append(s)
        shutil.rmtree(wh, ignore_errors=True)
    client, model, ds, wh, s = b.prepare(spark, SETUP_REPEATS - 1)
    setups.append(s)
    ops = b.timed_ops(model, ds)
    results, lats, wall = b.run_ops(client, ops)
    b.check(ops, results)

    done = sum(not isinstance(r, Exception) for r in results)
    ms = sorted(x * 1e3 for x in lats)
    with open(os.path.join(wh, client.database, COLLECTION, "metadata.json")) as f:
        live_files = json.load(f)["files"]
    coll_dir = os.path.join(wh, client.database, COLLECTION)
    live_bytes = sum(os.path.getsize(os.path.join(coll_dir, p)) for p in live_files)
    wh_bytes = _dir_bytes(wh)
    user_bytes = ds.truth.user_bytes() + model.edited_user_bytes
    print(
        f"{b.workload}: {len(ops)} timed ops in {wall:.2f}s; "
        f"session {session_s:.2f}s, set-ups {', '.join(f'{s:.2f}' for s in setups)}s, "
        f"warm-up {b.warmup_s:.2f}s; {len(live_files)} live files"
    )
    by_type: dict = {}
    for op, x in zip(ops, lats):
        by_type.setdefault(op.type, []).append(x * 1e3)
    for t, xs in sorted(by_type.items()):
        print(f"  {t:<11} n={len(xs):<3} p50={statistics.median(xs):8.1f}ms")
    return {
        "setup_s": (session_s + statistics.median(setups), "s"),
        "ops_per_s": (done / wall, "1/s"),
        "p50_ms": (statistics.median(ms), "ms"),
        "p90_ms": (_percentile(ms, 90), "ms"),
        "rows_out_per_s": (
            sum(rows_out(r) for r in results if not isinstance(r, Exception)) / wall,
            "rows/s",
        ),
        "space_amp": (wh_bytes / live_bytes, "ratio"),
        "write_amp": (wh_bytes / user_bytes, "ratio"),
    }


def traced_run(b: Bench, spark) -> dict:
    import tracing
    from workloads import COLLECTION, CYCLES, OP_TYPES

    client, model, ds, wh, _s = b.prepare(spark, 0)
    ops = b.timed_ops(model, ds)
    cycle = len(CYCLES[b.workload])
    tracer = tracing.Tracer(spark)
    # Odd cycles record spans, even ones run plain (the wrappers stay in
    # place but record nothing): the two interleave, so the JIT warming up
    # over the run weighs on both alike and their ratio is the overhead.
    walls = {True: 0.0, False: 0.0}
    done = {True: 0, False: 0}
    tracer.install()
    try:
        for k in range(0, len(ops), cycle):
            part = ops[k : k + cycle]
            on = (k // cycle) % 2 == 1
            results, _l, wall = b.run_ops(
                client, part, runner=tracer.run_op if on else None
            )
            b.check(part, results)
            walls[on] += wall
            done[on] += sum(not isinstance(r, Exception) for r in results)
    finally:
        tracer.uninstall()
    time.sleep(0.5)  # let the listener bus record the last job's end
    metrics, records = tracing.summarize(tracer, OP_TYPES)
    metrics["trace.overhead_ratio"] = (done[True] / walls[True]) / (
        done[False] / walls[False]
    )
    with open(os.path.join(wh, client.database, COLLECTION, "metadata.json")) as f:
        metrics["catalog.files_live"] = float(len(json.load(f)["files"]))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"spans-{b.workload}-{b.seed}.json"))
    print(
        f"{b.workload}: traced {len(records)} of {len(ops)} ops; "
        "mean ms per part and op type:"
    )
    for line in tracing.parts_table(records):
        print(line)
    return {k: (v, _unit(k)) for k, v in sorted(metrics.items())}


def _unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith("_ms_per_op"):
        return "ms"
    if name.endswith("_us_per_row"):
        return "us"
    if name.endswith("ratio"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from workloads import CYCLES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(CYCLES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xcube_geodb_spark", "__init__.py")):
        print(f"no xcube_geodb_spark package under {ROOT}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    b = Bench(args.workload, args.seed, args.seconds, tmp)
    spark = None
    try:
        with open("/proc/loadavg") as f:
            load = f.read().split()[:3]
        print(f"load average at start: {' '.join(load)}")
        spark = b.start_spark()
        session_s = time.perf_counter() - T_PROCESS
        if args.trace:
            metrics = traced_run(b, spark)
        else:
            metrics = plain_run(b, spark, session_s)
    finally:
        if spark is not None:
            t_stop = time.perf_counter()
            _stop_spark(spark)
            print(f"stopped Spark in {time.perf_counter() - t_stop:.2f}s")
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    with open("/proc/loadavg") as f:
        print(f"load average at end: {' '.join(f.read().split()[:3])}")
    for msg in b.failures[:20]:
        print(f"FAILED {msg}")
    print(
        json.dumps(
            {
                "correct": not b.failures,
                "attempted": b.attempted,
                "failed": len(b.failures),
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
