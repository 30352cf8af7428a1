"""Spatial file-layout planning.

Parquet prunes files/row-groups by column min/max statistics; random row
order makes every file's envelope span the world and nothing prunes. The
fix is to cluster rows by a space-filling curve before writing so nearby
geometries share files — then a bbox query's envelope pre-filter skips most
of the data at the scan level. This is the Spark equivalent of the
reference's GIST index (``xcube_geodb/sql/geodb.sql:1456-1471``); see
SURVEY.md §4.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(
    x: Column,
    y: Column,
    bounds: tuple[float, float, float, float] = (-180.0, -90.0, 180.0, 90.0),
    bits: int = 16,
) -> Column:
    """Interleaved-bit Z-order key from (x, y), pure JVM expressions.

    Quantizes each coordinate to ``bits`` levels inside ``bounds`` and
    interleaves them with shift/or — no UDF, fully codegen'd, usable in
    ``repartitionByRange``/``sortWithinPartitions``. A coordinate with no
    ``long`` quantization (NaN, +-inf) quantizes to 0 instead of failing
    the ANSI cast."""
    xmin, ymin, xmax, ymax = bounds
    qx = F.least(
        F.lit((1 << bits) - 1),
        F.greatest(
            F.lit(0),
            ((x - xmin) / (xmax - xmin) * (1 << bits)).try_cast("long"),
        ),
    )
    qy = F.least(
        F.lit((1 << bits) - 1),
        F.greatest(
            F.lit(0),
            ((y - ymin) / (ymax - ymin) * (1 << bits)).try_cast("long"),
        ),
    )
    key = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        key = (
            F.shiftleft(key, 2)
            .bitwiseOR(F.shiftright(qx, b).bitwiseAND(F.lit(1)) * 2)
            .bitwiseOR(F.shiftright(qy, b).bitwiseAND(F.lit(1)))
        )
    return key


def zorder_quantize_sql(v: str, lo: float, hi: float, bits: int = 16) -> str:
    """:func:`zorder_key`'s quantization of one coordinate, spelled as a
    SQL expression over the SQL sub-expression ``v``: ``bits`` levels
    inside ``[lo, hi]``, clamped, and 0 for a coordinate with no ``long``
    quantization (NaN, +-inf)."""
    # the D suffix forces DOUBLE literals (bare 360.0 parses as DECIMAL),
    # matching F.lit(float)'s type so the arithmetic is bit-identical
    return (
        f"least({(1 << bits) - 1}, greatest(0, "
        f"try_cast((({v}) - {lo!r}D) / {(hi - lo)!r}D * {1 << bits} as bigint)))"
    )


def zorder_interleave_sql(qx: str, qy: str, bits: int = 16) -> str:
    """:func:`zorder_key`'s bit interleave, spelled as ONE SQL expression
    over two already-quantized columns ``qx``/``qy`` (see
    :func:`zorder_quantize_sql`).

    The commit path projects the quantized coordinates once as columns and
    interleaves over the column references: inlining the quantization
    repeats it 16 times per coordinate, and the sort evaluates the key per
    row (7k rows, sort + collect p50 190 -> 145 ms). Building the key
    through the Column API costs ~100 py4j round trips (~0.2-0.35 s per
    commit, r13); parsing one string costs one. Keys are bit-identical to
    :func:`zorder_key` (pinned by ``tests/test_r13_commit_fixed_costs.py``)."""
    key = "cast(0 as bigint)"
    for b in range(bits - 1, -1, -1):
        key = (
            f"(shiftleft({key}, 2) "
            f"| ((shiftright({qx}, {b}) & 1) * 2)) "
            f"| (shiftright({qy}, {b}) & 1)"
        )
    return key


def zorder_key_arrow(table, bits: int = 16) -> np.ndarray:
    """:func:`zorder_key` of the envelope centres of a ``pyarrow.Table``
    (``__xmin..__ymax``), computed with numpy: the key the commit path
    clusters by (:func:`zorder_quantize_sql`, :func:`zorder_interleave_sql`),
    bit-identical, NULL and NaN centres and those with no ``long``
    quantization included (they quantize to 0, as ``try_cast`` + ``greatest``
    do in Spark)."""

    def quantize(lo_col: str, hi_col: str, lo: float, hi: float) -> np.ndarray:
        lo_v, hi_v = (
            table.column(c).to_numpy(zero_copy_only=False).astype(float)
            for c in (lo_col, hi_col)
        )
        with np.errstate(invalid="ignore", over="ignore"):
            v = ((lo_v + hi_v) / 2 - lo) / (hi - lo) * (1 << bits)
            # Spark's ANSI double -> long range check; NaN fails it too
            fits = (np.floor(v) <= 2.0**63) & (np.ceil(v) >= -(2.0**63))
        return np.clip(np.trunc(np.where(fits, v, 0.0)), 0, (1 << bits) - 1).astype(np.int64)

    qx = quantize("__xmin", "__xmax", -180.0, 180.0)
    qy = quantize("__ymin", "__ymax", -90.0, 90.0)
    key = np.zeros(len(qx), dtype=np.int64)
    for b in range(bits - 1, -1, -1):
        key = (key << 2) | (((qx >> b) & 1) * 2) | ((qy >> b) & 1)
    return key
