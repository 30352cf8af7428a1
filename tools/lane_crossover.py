#!/usr/bin/env python
"""Where does a client read or a one-file rewrite stop being faster on the
driver lane?

Builds the benchmark's ``land_use``-shaped collection (``perfbench/gen.py``,
six spatially coherent files) at each size given, then times client bbox,
count, knn and grammar reads on both lanes of ``operators/pruning.py``
(``PrunedRead``), forced by patching the lane decision, interleaved,
median of ``--reps`` runs each:

- ``bbox_street`` / ``bbox_district``: the benchmark's map views (2 of 6
  files kept, results grow with the collection);
- ``bbox_strip``: a thin box across the domain, every file kept and few
  rows returned (the scan cost alone);
- ``count_region`` / ``count_all``: counts over a region and the whole
  domain (``count_all`` has every row as a candidate);
- ``knn``: k=10 around a town;
- ``lookup``: ``id=eq.N`` (one file kept);
- ``filter_ordered``: ``raba_id=eq.V&order=id&limit=40``, the benchmark's
  grammar filter (every file kept).

It then times the benchmark's one-file rewrites on both lanes of
``dml._rewrite``: the driver lane (pyarrow read, filter and write, no Spark
job) against the Spark lane (forced by patching ``dml.driver_rewrite_filter``;
the touched file fits the driver, so Spark's batch is collected and written
there). Each run starts from the same snapshot (a ``restore_collection``
after it, untimed):

- ``delete``: ``id=gte.A&id=lte.A+59`` in the middle file;
- ``update``: ``raba_id`` SET over a 400-id window of it, filtered on
  ``raba_id``.

Last, it times pandas inserts on both lanes of
``dml.insert_into_collection``: the driver lane (the Arrow batch built
in-process, no Spark job) against the collect lane (forced by patching
``dml.driver_insert_batch``: ``createDataFrame``, one collect job, the same
driver-side write), with ``dml.fits_driver_write`` forced true on both, as
``files_fit_driver`` is for the rewrites. Each run starts from the same
snapshot (a ``restore_collection`` after it, untimed):

- ``insert``: a batch of 300 new features (the benchmark's edit), then one
  of every feature of the collection (at one million, a batch near the
  driver bound).

Prints one JSON line per read, rewrite or insert and size: the kept
files' (for an insert: the batch's written files') summed decoded bytes
against the driver bound (``dml.DRIVER_BYTES``), both lanes' median
milliseconds, and whether the lanes returned the same ids or count (for a
rewrite: the same ids and ``raba_id`` values in and around its window
after it; for an insert: the same ids, ``raba_id`` and ``d_od`` of the
rows it added).

    python tools/lane_crossover.py 40000 160000 640000 1000000 --reps 5

One million features decode to about 261 MB, just under the 256 MiB bound;
each of the six files then holds about 167k rows.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def run(spark, sizes, reps: int, seed: int, workdir: str):
    """Yield one record per read, rewrite or insert and size (see the module
    docstring), building each collection under ``workdir``."""
    import numpy as np
    from gen import DOMAIN, PROPERTIES, RABA_IDS, make_dataset, make_features
    from workloads import DISTRICT, REGION, STREET

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators import dml, spatial
    from xcube_geodb_spark.operators.stats import file_arrow_bytes

    on_driver = mock.patch.object(dml, "files_fit_driver", lambda *a: True)
    on_spark = {
        "read": mock.patch.object(dml, "files_fit_driver", lambda *a: False),
        "rewrite": mock.patch.object(dml, "driver_rewrite_filter", lambda *a, **k: None),
        "insert": mock.patch.object(dml, "driver_insert_batch", lambda *a, **k: None),
    }
    insert_fits = mock.patch.object(dml, "fits_driver_write", lambda *a: True)

    def around(c, half):
        return (c[0] - half[0], c[1] - half[1], c[0] + half[0], c[1] + half[1])

    for n in sizes:
        client = GeoDBSparkClient(spark, warehouse=os.path.join(workdir, f"wh-{n}"))
        client.create_collection("lu", PROPERTIES, crs=4326)
        data = make_dataset(seed, n)
        for batch in data.batches:
            client.insert_into_collection("lu", batch.to_pandas())
        cat, db = client.catalog, client.database
        cdir = cat._coll_dir("lu", db)
        size = {f: file_arrow_bytes(os.path.join(cdir, f)) for f in cat.meta("lu", db).files}
        town = data.towns[0]
        mid_y = (DOMAIN[1] + DOMAIN[3]) / 2
        strip = (DOMAIN[0], mid_y - 0.0005, DOMAIN[2], mid_y + 0.0005)
        boxes = {"count_region": around(town, REGION), "count_all": DOMAIN}
        count = {b: lambda b=b: client.count_collection_by_bbox("lu", boxes[b], "intersects") for b in boxes}
        reads = {
            "bbox_street": lambda: client.get_collection_by_bbox("lu", around(town, STREET), "intersects"),
            "bbox_district": lambda: client.get_collection_by_bbox("lu", around(town, DISTRICT), "intersects"),
            "bbox_strip": lambda: client.get_collection_by_bbox("lu", strip, "intersects"),
            **count,
            "knn": lambda: client.get_collection_knn("lu", (town[0], town[1]), k=10),
            "lookup": lambda: client.get_collection("lu", f"id=eq.{n // 2}"),
            "filter_ordered": lambda: client.get_collection(
                "lu", f"raba_id=eq.{RABA_IDS[2]:g}&order=id&limit=40"
            ),
        }
        # the rewrites' windows lie inside the middle file (ids run in
        # batch order, one file per batch)
        lo = n // 2 + 1
        old_v, new_v = float(RABA_IDS[2]), float(RABA_IDS[1])
        rewrites = {
            "delete": (59, lambda hi: client.delete_from_collection("lu", f"id=gte.{lo}&id=lte.{hi}")),
            "update": (399, lambda hi: client.update_collection(
                "lu", {"raba_id": new_v}, f"id=gte.{lo}&id=lte.{hi}&raba_id=eq.{old_v:g}")),
        }

        def record(name, kept, times, answer):
            return {
                "features": n,
                "read": name,
                "files_kept": f"{kept}/{len(size)}",
                # the six files are equal in size by construction
                "kept_mb": round(kept * sum(size.values()) / len(size) / 1e6, 1),
                "bound_mb": round(dml._driver_limit(spark) / 1e6, 1),
                "driver_ms": round(1000 * statistics.median(times["driver"]), 1),
                "spark_ms": round(1000 * statistics.median(times["spark"]), 1),
                "rows": answer["driver"] if isinstance(answer["driver"], int) else len(answer["driver"]),
                "same": answer["driver"] == answer["spark"],
                "load": round(os.getloadavg()[0], 2),
            }

        for name, read in reads.items():
            times = {"driver": [], "spark": []}
            answer = {}
            read()  # warm
            for r in range(reps):
                for lane in (("driver", "spark") if r % 2 == 0 else ("spark", "driver")):
                    with on_driver if lane == "driver" else on_spark["read"]:
                        t0 = time.perf_counter()
                        got = read()
                        times[lane].append(time.perf_counter() - t0)
                    answer[lane] = got if isinstance(got, int) else got["id"].tolist()
            if name in boxes:
                decision = {}
                spatial.count_collection_by_bbox(
                    cat, "lu", boxes[name], "intersects", database=db, decision=decision
                )
            else:
                decision = read().attrs["read"]
            yield record(name, decision["files_kept"], times, answer)

        for name, (span, rewrite) in rewrites.items():
            times = {"driver": [], "spark": []}
            answer = {}
            base = cat.meta("lu", db).version
            hi = lo + min(span, n // 6 - 1)
            for r in range(reps + 1):  # the first pair warms
                for lane in (("driver", "spark") if r % 2 == 0 else ("spark", "driver")):
                    with on_driver if lane == "driver" else on_spark["rewrite"]:
                        t0 = time.perf_counter()
                        rewrite(hi)
                        if r:
                            times[lane].append(time.perf_counter() - t0)
                    took = cat.list_versions("lu", db)[-1]["operationMetrics"]["lane"]
                    assert (took == "driver") == (lane == "driver"), (name, lane, took)
                    got = client.get_collection("lu", f"id=gte.{lo - 20}&id=lte.{hi + 20}&order=id")
                    answer[lane] = list(zip(got["id"].tolist(), got["raba_id"].tolist()))
                    cat.restore_collection("lu", db, base)
            yield record(name, 1, times, answer)

        base = cat.meta("lu", db).version
        inserts = [make_features(np.random.default_rng(seed), 300, data.towns), data.truth]
        for batch in (b.to_pandas() for b in inserts):
            times = {"driver": [], "spark": []}
            answer, nbytes = {}, 0
            for r in range(reps + 1):  # the first pair warms
                for lane in (("driver", "spark") if r % 2 == 0 else ("spark", "driver")):
                    with insert_fits, contextlib.nullcontext() if lane == "driver" else on_spark["insert"]:
                        t0 = time.perf_counter()
                        client.insert_into_collection("lu", batch)
                        if r:
                            times[lane].append(time.perf_counter() - t0)
                    added = set(cat.meta("lu", db).files) - set(cat.meta_at_version("lu", db, base).files)
                    took = cat.list_versions("lu", db)[-1]["operationMetrics"]["lane"]
                    assert took == ("driver" if lane == "driver" else "collect"), ("insert", lane, took)
                    got = client.get_collection("lu", f"id=gt.{n}&order=id")
                    answer[lane] = list(zip(got["id"].tolist(), got["raba_id"].tolist(), got["d_od"].tolist()))
                    nbytes = sum(file_arrow_bytes(os.path.join(cdir, f)) for f in added)
                    cat.restore_collection("lu", db, base)
            yield {
                **record("insert", len(size), times, answer),
                "files_kept": None,
                "kept_mb": round(nbytes / 1e6, 1),
                "rows": len(batch),
            }
        client.drop_collection("lu")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sizes", type=int, nargs="+", help="features per collection")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from xcube_geodb_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="lane-crossover-")
    spark = get_spark(
        app_name="lane-crossover",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.local.dir": os.path.join(tmp, "spark-local"),
        },
    )
    try:
        for rec in run(spark, args.sizes, args.reps, args.seed, tmp):
            print(json.dumps(rec), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
