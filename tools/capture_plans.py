#!/usr/bin/env python
"""Capture .explain('formatted') for bench/headline queries into
plans/<round>/<query>_<tag>.txt (optimization-round evidence artifacts).
The round dir comes from $SPARK_GRAFT_PLANS_ROUND and is required: without
it the tool exits 2 and names the next round after the newest in plans/.

Usage: SPARK_GRAFT_PLANS_ROUND=rN python tools/capture_plans.py <tag> [query ...]
       (default queries: the bench HEADLINE list)

Note: for composed warehouse operators (ann_*, dml_*, warehouse_*) the
returned DataFrame's plan covers only the final read/probe stage — the
build/ingest stages execute inside the suite function; their evidence is
the operator code + timed keys.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def next_round(plans_dir: str) -> str:
    """``r<N+1>`` for the newest ``r<N>`` directory in ``plans_dir``."""
    rounds = [
        int(d[1:])
        for d in (os.listdir(plans_dir) if os.path.isdir(plans_dir) else [])
        if d.startswith("r") and d[1:].isdigit()
    ]
    return f"r{max(rounds, default=0) + 1}"


def main() -> int:
    round_dir = os.environ.get("SPARK_GRAFT_PLANS_ROUND")
    if not round_dir:
        nxt = next_round(os.path.join(REPO, "plans"))
        print(
            f"set SPARK_GRAFT_PLANS_ROUND (the next round is {nxt})",
            file=sys.stderr,
        )
        return 2
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from xcube_geodb_spark.session import get_spark
    from xcube_geodb_spark.suite import QUERIES

    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out_dir = os.path.join(REPO, "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    for name in names:
        fn = QUERIES[name]
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:
            text = f"ERROR capturing plan: {type(e).__name__}: {e}\n"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
