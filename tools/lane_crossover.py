#!/usr/bin/env python
"""Where does a client read stop being faster on the driver lane?

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

Prints one JSON line per read and size: the kept files' summed decoded
bytes against the driver bound (``dml.DRIVER_BYTES``), both lanes' median
milliseconds, and whether the lanes returned the same ids or count.

    python tools/lane_crossover.py 40000 160000 640000 1000000 --reps 5

One million features decode to about 261 MB, just under the 256 MiB bound.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sizes", type=int, nargs="+", help="features per collection")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    from gen import DOMAIN, PROPERTIES, RABA_IDS, make_dataset
    from workloads import DISTRICT, REGION, STREET

    from xcube_geodb_spark.client import GeoDBSparkClient
    from xcube_geodb_spark.operators import dml, spatial
    from xcube_geodb_spark.operators.stats import file_arrow_bytes
    from xcube_geodb_spark.session import get_spark

    tmp = tempfile.mkdtemp(prefix="lane-crossover-")
    spark = get_spark(
        app_name="lane-crossover",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.local.dir": os.path.join(tmp, "spark-local"),
        },
    )
    decide = dml.files_fit_driver
    lanes = {"driver": lambda *a: True, "spark": lambda *a: False}

    def around(c, half):
        return (c[0] - half[0], c[1] - half[1], c[0] + half[0], c[1] + half[1])

    for n in args.sizes:
        client = GeoDBSparkClient(spark, warehouse=os.path.join(tmp, f"wh-{n}"))
        client.create_collection("lu", PROPERTIES, crs=4326)
        data = make_dataset(args.seed, n)
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
        for name, read in reads.items():
            times = {lane: [] for lane in lanes}
            answer = {}
            read()  # warm
            for r in range(args.reps):
                for lane in (("driver", "spark") if r % 2 == 0 else ("spark", "driver")):
                    dml.files_fit_driver = lanes[lane]
                    t0 = time.perf_counter()
                    got = read()
                    times[lane].append(time.perf_counter() - t0)
                    answer[lane] = got if isinstance(got, int) else got["id"].tolist()
            dml.files_fit_driver = decide
            if name in boxes:
                decision = {}
                spatial.count_collection_by_bbox(
                    cat, "lu", boxes[name], "intersects", database=db, decision=decision
                )
            else:
                decision = read().attrs["read"]
            kept = decision["files_kept"]
            print(json.dumps({
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
            }), flush=True)
        client.drop_collection("lu")
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
