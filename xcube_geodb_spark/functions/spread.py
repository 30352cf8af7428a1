"""Scale-adaptive fan-out for CPU-heavy work fused onto small scans.

Parquet scan parallelism is bounded by row-group granularity, not split
count: a split only processes the row groups whose start offset falls in
its byte range, so a small input (one file, one row group — DuckDB and
many writers emit 122 880-row groups) executes the WHOLE fused
projection chain on one core no matter how
``spark.sql.files.openCostInBytes`` / ``maxPartitionBytes`` are tuned.
For operators that spend hundreds of CPU ops per input byte (shingle
construction + per-shingle md5, the text-profile regex battery, Arrow
geometry/vector kernels) that serializes the entire operator.

:func:`spread_small` inserts an explicit round-robin repartition ONLY
when Catalyst's size estimate proves the input small (default 256 MB,
``SPARK_GRAFT_SPREAD_SMALL_BYTES``): by construction the shuffle then
moves at most that many bytes — cheap — while the compute above it fans
out over every core. A large input never takes the branch: its scan
already parallelizes over row groups/files, and shuffling the payload
would be exactly the anti-pattern the optimization guide warns about.
The explicit partition count is pinned so AQE's advisory-size
coalescing cannot fold the small shuffle back into one partition; the
row-to-partition assignment stays deterministic under retries via
Spark's sort-before-repartition default.

Partition-count sizing (r13, verdict order 5 — the r12 count was a flat
2x ``defaultParallelism``, a tiny-task storm on a large cluster):

    min(2 x parallelism, max(parallelism, ceil(size / 64 KB)), 2048)

- ``ceil(size / 64 KB)`` keys task count to input bytes. The grain is
  deliberately FAR below the guide's shuffle-oriented 100 MB-1 GB
  post-shuffle sizing: these kernels burn ~10 s of CPU per compressed
  MB (text_profile at 10x: ~6 MB -> ~60 s of single-core work), so
  64 KB/task is ~0.5 s of compute — an 8 MB/task floor would mean
  ~80 s tasks and zero parallelism at every local SF.
- the ``parallelism`` floor keeps every core busy for inputs whose
  byte count underestimates their CPU (the whole point of the spread);
  it never exceeds 2x parallelism, the r12 behavior.
- the 2048 hard cap (``SPARK_GRAFT_SPREAD_MAX_PARTS``) bounds the task
  count on a 5000-core cluster, where a <=256 MB input would otherwise
  become 10k ~25 KB tasks.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

_DEFAULT_THRESHOLD = 256 * 1024 * 1024
_DEFAULT_TASK_BYTES = 64 * 1024
_DEFAULT_MAX_PARTS = 2048


def _env_int(name: str, default: int) -> int:
    """Integer env knob ``name``; the documented ``default`` when it is
    unset or not an integer."""
    try:
        return int(os.environ.get(name, default))
    except ValueError:
        return default


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's ``sizeInBytes`` estimate of ``df``'s optimized plan;
    None for a streaming frame or when the estimate fails. The one size
    probe behind every "small input, different plan" choice
    (:func:`spread_small`, ``similarity.cosine_topk``)."""
    try:
        if df.isStreaming:
            return None
        return int(
            str(
                df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
    except Exception:
        return None


def spread_small(
    df: DataFrame,
    threshold: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Round-robin repartition ``df`` iff its optimizer-estimated size is
    provably small; returns ``df`` unchanged otherwise (including on any
    estimation failure — the safe default is the plan Spark chose). A
    malformed ``SPARK_GRAFT_SPREAD_*`` value falls back to its default,
    and the partition count is at least 1."""
    size = plan_size_bytes(df)
    if size is None:
        return df
    if threshold is None:
        threshold = _env_int("SPARK_GRAFT_SPREAD_SMALL_BYTES", _DEFAULT_THRESHOLD)
    if size <= 0 or size > threshold:
        return df
    if partitions is None:
        try:
            par = df.sparkSession.sparkContext.defaultParallelism
        except Exception:
            return df
        task_bytes = _env_int("SPARK_GRAFT_SPREAD_TASK_BYTES", _DEFAULT_TASK_BYTES)
        hard_cap = _env_int("SPARK_GRAFT_SPREAD_MAX_PARTS", _DEFAULT_MAX_PARTS)
        partitions = min(
            2 * par,
            max(par, math.ceil(size / max(task_bytes, 1))),
            hard_cap,
        )
    # a knob <= 0 must not reach repartition(0), which raises
    return df.repartition(max(1, int(partitions)))
