"""Seeded generator for a ``land_use``-shaped collection (SRID 4326).

Features cluster around "towns" over a sparse background, like land-use
parcels around settlements. Most are axis-aligned squares (the shape the
bbox kernel has a vectorised path for), the rest points. The ground truth
stays in numpy: one array per column, in id order, so the oracle can answer
every query without Spark.

Ingest order is region by region (a grid over the domain), west to east
within a region, cut into equal batches, one per region. Each batch becomes
one spatially coherent file holding one contiguous id range, so envelope
and id pruning have something to prune, and every file costs the same to
rewrite.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

DOMAIN = (13.0, 45.0, 16.0, 47.0)  # lon/lat, EPSG:4326
RABA_IDS = np.array([1100.0, 1300.0, 1410.0, 1600.0, 7000.0])
RABA_WEIGHTS = np.array([0.35, 0.2, 0.2, 0.15, 0.1])
D_OD_START = np.datetime64("2019-01-01")
D_OD_DAYS = 365
GRID = (3, 2)  # regions along x and y; one ingest batch per region
N_TOWNS = 24
TOWN_SHARE = 0.6  # of the features; the rest spread over the domain
PROPERTIES = {"raba_pid": "double", "raba_id": "double", "d_od": "date"}

_RECT_HEAD = struct.pack("<BIII", 1, 3, 1, 5)
_POINT_HEAD = struct.pack("<BI", 1, 1)


@dataclass
class Features:
    """Column arrays of generated features. ``xmin..ymax`` are the exact
    envelopes; points have ``xmin == xmax`` and ``ymin == ymax``."""

    is_point: np.ndarray
    xmin: np.ndarray
    ymin: np.ndarray
    xmax: np.ndarray
    ymax: np.ndarray
    raba_pid: np.ndarray
    raba_id: np.ndarray
    d_od: np.ndarray  # datetime64[D]

    def __len__(self) -> int:
        return len(self.xmin)

    def take(self, idx) -> "Features":
        return Features(*(getattr(self, f)[idx] for f in _FIELDS))

    def concat(self, other: "Features") -> "Features":
        return Features(
            *(np.concatenate([getattr(self, f), getattr(other, f)]) for f in _FIELDS)
        )

    def wkb(self) -> list[bytes]:
        out = []
        for p, x0, y0, x1, y1 in zip(
            self.is_point, self.xmin, self.ymin, self.xmax, self.ymax
        ):
            if p:
                out.append(_POINT_HEAD + struct.pack("<2d", x0, y0))
            else:
                out.append(
                    _RECT_HEAD
                    + struct.pack(
                        "<10d", x0, y0, x1, y0, x1, y1, x0, y1, x0, y0
                    )
                )
        return out

    def to_pandas(self) -> pd.DataFrame:
        """The batch as the ``insert_into_collection`` caller hands it over:
        WKB geometry plus typed properties."""
        return pd.DataFrame(
            {
                "geometry": self.wkb(),
                "raba_pid": self.raba_pid,
                "raba_id": self.raba_id,
                "d_od": self.d_od.astype("datetime64[ns]"),
            }
        )

    def user_bytes(self) -> int:
        """Bytes of the user's rows as handed over: WKB plus 8 bytes per
        property value."""
        n_pt = int(self.is_point.sum())
        return n_pt * 21 + (len(self) - n_pt) * 93 + len(self) * 3 * 8


_FIELDS = ("is_point", "xmin", "ymin", "xmax", "ymax", "raba_pid", "raba_id", "d_od")


def make_features(rng: np.random.Generator, n: int, centers=None) -> Features:
    """``n`` features; with ``centers`` (k, 2) they cluster around those
    points (towns), otherwise they spread uniformly over the domain."""
    x0, y0, x1, y1 = DOMAIN
    if centers is None:
        cx = rng.uniform(x0, x1, n)
        cy = rng.uniform(y0, y1, n)
        side = rng.exponential(0.004, n) + 0.0005
        # a few large parcels, so a small box can lie inside one
        big = rng.random(n) < 0.02
        side[big] = rng.uniform(0.02, 0.06, int(big.sum()))
    else:
        which = np.arange(n) % len(centers)  # towns of equal size
        cx = centers[which, 0] + rng.normal(0.0, 0.025, n)
        cy = centers[which, 1] + rng.normal(0.0, 0.018, n)
        side = rng.exponential(0.0008, n) + 0.0001
    cx = np.clip(cx, x0, x1)
    cy = np.clip(cy, y0, y1)
    is_point = rng.random(n) < 0.15
    half = np.where(is_point, 0.0, side / 2)
    return Features(
        is_point=is_point,
        xmin=cx - half,
        ymin=cy - half,
        xmax=cx + half,
        ymax=cy + half,
        raba_pid=np.floor(rng.uniform(5_900_000, 6_100_000, n)),
        raba_id=rng.choice(RABA_IDS, n, p=RABA_WEIGHTS),
        d_od=D_OD_START + rng.integers(0, D_OD_DAYS, n).astype("timedelta64[D]"),
    )


def town_centers(rng: np.random.Generator, k: int, min_gap: float = 0.25) -> np.ndarray:
    """``k`` town centres at least ``min_gap`` degrees apart, so a district
    box never holds two towns and rows per box stay steady across seeds."""
    x0, y0, x1, y1 = DOMAIN
    out: list = []
    while len(out) < k:
        c = (rng.uniform(x0 + 0.1, x1 - 0.1), rng.uniform(y0 + 0.1, y1 - 0.1))
        if all(np.hypot(c[0] - a, c[1] - b) >= min_gap for a, b in out):
            out.append(c)
    return np.array(out)


def region_of(f: Features) -> np.ndarray:
    """Grid cell index of each feature's envelope centre."""
    x0, y0, x1, y1 = DOMAIN
    gx, gy = GRID
    cx = (f.xmin + f.xmax) / 2
    cy = (f.ymin + f.ymax) / 2
    ix = np.clip(((cx - x0) / (x1 - x0) * gx).astype(int), 0, gx - 1)
    iy = np.clip(((cy - y0) / (y1 - y0) * gy).astype(int), 0, gy - 1)
    return iy * gx + ix


@dataclass
class Dataset:
    towns: np.ndarray  # (k, 2) town centres
    batches: list  # Features per ingest batch, in ingest order
    truth: Features  # all rows in id order (id = index + 1)

    def id_ranges(self) -> list[tuple[int, int]]:
        """(first, last) id of each ingest batch."""
        out, lo = [], 1
        for b in self.batches:
            out.append((lo, lo + len(b) - 1))
            lo += len(b)
        return out


def make_dataset(seed: int, n: int) -> Dataset:
    """The collection for ``seed``: ``n`` features, ``TOWN_SHARE`` of them
    in ``N_TOWNS`` towns, in region order and cut into equal batches. Row
    ``i`` of ``truth`` gets id ``i + 1`` when the batches are inserted in
    order."""
    rng = np.random.default_rng(seed)
    towns = town_centers(rng, N_TOWNS)
    n_town = int(n * TOWN_SHARE)
    f = make_features(rng, n_town, towns).concat(make_features(rng, n - n_town))
    f = f.take(np.lexsort(((f.xmin + f.xmax) / 2, region_of(f))))
    bounds = np.linspace(0, n, GRID[0] * GRID[1] + 1).astype(int)
    batches = [f.take(slice(a, b)) for a, b in zip(bounds, bounds[1:])]
    return Dataset(towns=towns, batches=batches, truth=f)
