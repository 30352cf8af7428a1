#!/usr/bin/env python
"""Timed A/B of suite queries on a replicated (10x by default) dataset.

Reuses bench.py's _prep_scaled_dir materialization, but KEEPS the scaled
dir under /tmp between invocations (env SPARK_GRAFT_SCALED_DIR overrides;
delete it to force a rebuild) so repeated experiments time the query, not
the DuckDB COPY. The dir's ``_ready`` marker records the replication
factor; a dir built with another ``-x`` is rebuilt.

Usage: python tools/scaled_ab.py [-n REPS] [-x REPL] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def scaled_dir(sf_dir: str, repl: int) -> str:
    path = os.environ.get(
        "SPARK_GRAFT_SCALED_DIR", f"/tmp/geodb_scaled_x{repl}"
    )
    marker = os.path.join(path, "_ready")
    stamp = f"repl={repl}\n"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == stamp:
                return path
    import shutil

    import bench

    built = bench._prep_scaled_dir(sf_dir, repl)
    shutil.rmtree(path, ignore_errors=True)
    shutil.move(built, path)
    with open(marker, "w") as f:
        f.write(stamp)
    return path


def main() -> int:
    args = sys.argv[1:]
    reps, repl = 3, 10
    while args and args[0] in ("-n", "-x"):
        if args[0] == "-n":
            reps = int(args[1])
        else:
            repl = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sdir = scaled_dir(sf_dir, repl)
    from xcube_geodb_spark.session import get_spark
    from xcube_geodb_spark.suite import QUERIES

    spark = get_spark(app_name="scaled_ab")
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in args:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(name)
        spark.catalog.clearCache()
        fn(spark, sdir).write.mode("overwrite").format("noop").save()
        times = []
        for _ in range(reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sdir).write.mode("overwrite").format("noop").save()
            times.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: best {min(times):.3f}s reps {times}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
