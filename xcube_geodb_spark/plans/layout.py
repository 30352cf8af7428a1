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


def zorder_key_sql(
    x: str,
    y: str,
    bounds: tuple[float, float, float, float] = (-180.0, -90.0, 180.0, 90.0),
    bits: int = 16,
) -> str:
    """The same interleaved-bit Z-order key as :func:`zorder_key`, spelled
    as ONE SQL expression string over SQL sub-expressions ``x``/``y``.

    Building the key through the Column API costs ~100 py4j round trips
    per call (~0.2-0.35 s of pure driver latency per commit, measured in
    r13); parsing one string costs one. The expression tree is the same
    operator-for-operator, so key values are bit-identical (pinned by
    ``tests/test_r13_commit_fixed_costs.py``); codegen's common-
    subexpression elimination folds the repeated ``qx``/``qy`` subtrees
    exactly as it does for the Column spelling."""
    xmin, ymin, xmax, ymax = bounds
    top = (1 << bits) - 1
    # the D suffix forces DOUBLE literals (bare 360.0 parses as DECIMAL),
    # matching F.lit(float)'s type so the arithmetic is bit-identical
    qx = (
        f"least({top}, greatest(0, "
        f"try_cast((({x}) - {xmin!r}D) / {(xmax - xmin)!r}D * {1 << bits} as bigint)))"
    )
    qy = (
        f"least({top}, greatest(0, "
        f"try_cast((({y}) - {ymin!r}D) / {(ymax - ymin)!r}D * {1 << bits} as bigint)))"
    )
    key = "cast(0 as bigint)"
    for b in range(bits - 1, -1, -1):
        key = (
            f"(shiftleft({key}, 2) "
            f"| ((shiftright({qx}, {b}) & 1) * 2)) "
            f"| (shiftright({qy}, {b}) & 1)"
        )
    return key
