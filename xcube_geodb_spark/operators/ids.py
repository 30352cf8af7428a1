"""Dense sequential id assignment (SERIAL parity) without a global shuffle.

The reference's ``id SERIAL PRIMARY KEY`` (``xcube_geodb/sql/geodb.sql:310``)
hands out a dense sequence. ``monotonically_increasing_id`` is sparse, and a
global ``row_number()`` window collapses to one partition. Instead:

1. persist the batch (its partition layout is thereby FROZEN — every later
   job scans the same cached blocks, so per-partition numbering is
   consistent across jobs; without the pin, AQE may coalesce the upstream
   shuffle differently between the count job and the write job and the
   offset join would silently drop or misnumber rows),
2. count rows per partition (one tiny column-pruned job over the cache,
   which also materializes it),
3. add ``offset + local position`` entirely JVM-side:
   ``monotonically_increasing_id`` encodes ``(partition id << 33) | local
   position``, so no window (hence no Exchange + Sort of the data) is
   needed; the driver-computed offsets attach as a LITERAL map lookup
   (``element_at(map(...), pid)``) — the r12 broadcast-join spelling paid
   a whole extra Spark job per insert (``spark.createDataFrame`` over a
   Python list executes through pickled-RDD Python workers: 32 worker
   launches, ~14 s of executor time, ~0.7 s wall for ONE offsets row —
   measured via tools/job_trace.py). Batches with enormous partition
   counts fall back to an Arrow-backed broadcast join so the literal plan
   never bloats.

The caller owns the returned cache handle and unpersists it after its
terminal action (the handle is also the natural thing to write from — the
write job then re-reads the materialized batch instead of recomputing the
whole ingest pipeline).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MONO_POS_MASK = (1 << 33) - 1  # low 33 bits: position within partition


def assign_sequential_ids(
    df: DataFrame, start: int = 1, id_col: str = "id"
) -> DataFrame:
    """Convenience wrapper over :func:`assign_sequential_ids_counted`.

    NOTE: the input ``df`` is left persisted (MEMORY_AND_DISK) — the pin
    is what freezes the partition layout the ids depend on. ``persist``
    returns the same DataFrame, so callers can release the memory after
    their terminal action with ``df.unpersist()``; callers that need the
    handle (or the row count) explicitly should use the counted variant."""
    out, _n, _cached = assign_sequential_ids_counted(df, start, id_col)
    return out


def assign_sequential_ids_counted(
    df: DataFrame, start: int = 1, id_col: str = "id"
) -> tuple[DataFrame, int, DataFrame | None]:
    """Returns ``(df_with_ids, total_rows, cache_handle)``. The total comes
    from the same per-partition count job that anchors the offsets, so
    callers that need both (DML insert) avoid a second full pass. The
    cache handle (None for an empty batch) must be unpersisted by the
    caller once the ids have been consumed by a terminal action."""
    out, total, _sum, cached = assign_sequential_ids_measured(
        df, F.lit(0), start, id_col
    )
    return out, total, cached


def assign_sequential_ids_measured(
    df: DataFrame, measure: Column, start: int = 1, id_col: str = "id"
) -> tuple[DataFrame, int, int, DataFrame | None]:
    """:func:`assign_sequential_ids_counted` whose count job also sums the
    per-row ``measure`` over the batch (DML insert: the batch's decoded
    size). Returns ``(df_with_ids, total_rows, measure_sum,
    cache_handle)``."""
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    pid = F.shiftright(F.monotonically_increasing_id(), 33).alias("__pid")
    counts = (
        cached.groupBy(pid)
        .agg(F.count(F.lit(1)).alias("count"), F.sum(measure).alias("measure"))
        .collect()
    )
    offsets = []
    acc = int(start)
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((int(row["__pid"]), acc))
        acc += row["count"]
    total = acc - int(start)
    measured = sum(int(r["measure"] or 0) for r in counts)
    if not offsets:
        cached.unpersist()
        return (
            df.withColumn(id_col, F.lit(None).cast("long")),
            0,
            0,
            None,
        )
    if len(offsets) <= _OFFSET_MAP_MAX_ENTRIES:
        # offsets inline as a literal map — one parsed expression, zero
        # extra Spark jobs. Same values as the broadcast-join fallback:
        # every pid present in the data has an entry.
        entries = ",".join(f"{p},{o}L" for p, o in offsets)
        out = (
            cached.withColumn("__mono", F.monotonically_increasing_id())
            .withColumn(
                id_col,
                F.expr(
                    f"element_at(map({entries}), "
                    "cast(shiftright(__mono, 33) as int)) "
                    f"+ (__mono & {_MONO_POS_MASK}L)"
                ),
            )
            .drop("__mono")
        )
        return out, total, measured, cached
    import pandas as pd

    spark = df.sparkSession
    # Arrow-backed createDataFrame: the offsets ship as Arrow batches
    # inside the plan — no pickled-RDD Python workers at execution
    off_df = spark.createDataFrame(
        pd.DataFrame(offsets, columns=["__pid", "__offset"]),
        "__pid int, __offset long",
    )
    mono = F.monotonically_increasing_id()
    out = (
        cached.withColumn("__mono", mono)
        .withColumn("__pid", F.shiftright("__mono", 33).cast("int"))
        .join(F.broadcast(off_df), "__pid")
        .withColumn(
            id_col,
            (
                F.col("__offset")
                + F.col("__mono").bitwiseAND(F.lit(_MONO_POS_MASK))
            ).cast("long"),
        )
        .drop("__pid", "__offset", "__mono")
    )
    return out, total, measured, cached


# above this many partitions the literal offsets map would bloat the plan;
# attach offsets via an (Arrow-backed, no Python workers) broadcast join
_OFFSET_MAP_MAX_ENTRIES = 4096
