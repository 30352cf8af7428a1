"""Numpy ground truth for the benchmark's queries.

:class:`Model` holds the live rows of the collection, keyed by id, and
answers every query the workloads send with plain numpy: bbox predicates
from the exact envelopes of axis-aligned squares and points, knn distances
to rectangles, the grammar filters, group-by counts, and the edits. It
mirrors the engine's semantics (``ST_<mode>(bbox, geom)``, ids assigned
from ``max_id + 1``, ids never reused) without sharing any of its code.
"""

from __future__ import annotations

import numpy as np

from gen import Features


class Model:
    def __init__(self, truth: Features, id_ranges=()):
        """``id_ranges``: (first, last) id of each ingest batch, the id
        range of one file."""
        n = len(truth)
        self.id_ranges = list(id_ranges)
        self.ids = np.arange(1, n + 1, dtype=np.int64)
        self.f = truth.take(slice(None))  # edits never touch the caller's arrays
        self.live = np.ones(n, dtype=bool)
        self.max_id = n
        # bytes of user rows inserted, updated or deleted since the ingest
        self.edited_user_bytes = 0

    # -- state -------------------------------------------------------------

    def count(self) -> int:
        return int(self.live.sum())

    def row(self, rid: int) -> int | None:
        """Index of live row ``rid``, or None."""
        i = int(rid) - 1
        if 0 <= i < len(self.ids) and self.live[i]:
            return i
        return None

    def insert(self, batch: Features) -> np.ndarray:
        new = np.arange(self.max_id + 1, self.max_id + 1 + len(batch), dtype=np.int64)
        self.ids = np.concatenate([self.ids, new])
        self.f = self.f.concat(batch)
        self.live = np.concatenate([self.live, np.ones(len(batch), dtype=bool)])
        self.max_id += len(batch)
        self.edited_user_bytes += batch.user_bytes()
        return new

    def id_range_mask(self, lo: int, hi: int) -> np.ndarray:
        return self.live & (self.ids >= lo) & (self.ids <= hi)

    def update_raba_id(self, mask: np.ndarray, value: float) -> np.ndarray:
        # a new array, never in place: checks built earlier keep views of
        # the old one
        self.f.raba_id = np.where(mask, value, self.f.raba_id)
        self.edited_user_bytes += self.f.take(mask).user_bytes()
        return self.ids[mask]

    def delete(self, mask: np.ndarray) -> np.ndarray:
        self.live = self.live & ~mask
        self.edited_user_bytes += self.f.take(mask).user_bytes()
        return self.ids[mask]

    # -- reads -------------------------------------------------------------

    def bbox_mask(self, mode: str, box) -> np.ndarray:
        """``ST_<mode>(box, geom)`` with the box first, as the engine and
        the reference evaluate it.

        Squares are compared with the engine's documented tolerance, a
        relative ``1e-9`` of the box's largest coordinate (PostGIS is
        exact): a square within ``eps`` of the box counts as touching it.
        Points are compared exactly, with ``eps`` only for the interior."""
        bx0, by0, bx1, by1 = box
        eps = 1e-9 * max(abs(bx0), abs(by0), abs(bx1), abs(by1), 1.0)
        f = self.f
        pt = f.is_point
        px, py = f.xmin, f.ymin
        closed = (px >= bx0) & (px <= bx1) & (py >= by0) & (py <= by1)
        interior = (px > bx0 + eps) & (px < bx1 - eps) & (py > by0 + eps) & (py < by1 - eps)
        ix = np.minimum(bx1, f.xmax) - np.maximum(bx0, f.xmin)
        iy = np.minimum(by1, f.ymax) - np.maximum(by0, f.ymin)
        if mode == "intersects":
            m = np.where(pt, closed, (ix >= -eps) & (iy >= -eps))
        elif mode == "contains":
            # geom inside the box and the interiors meet
            inside = (
                (f.xmin >= bx0 - eps)
                & (f.xmax <= bx1 + eps)
                & (f.ymin >= by0 - eps)
                & (f.ymax <= by1 + eps)
            )
            m = np.where(pt, interior, inside & (ix > eps) & (iy > eps))
        elif mode == "within":
            # the box inside the geometry: only a square can hold it
            m = (
                ~pt
                & (f.xmin <= bx0 + eps)
                & (f.xmax >= bx1 - eps)
                & (f.ymin <= by0 + eps)
                & (f.ymax >= by1 - eps)
            )
        else:
            raise ValueError(f"no oracle for comparison mode {mode!r}")
        return m & self.live

    def bbox_ids(self, mode: str, box) -> np.ndarray:
        return self.ids[self.bbox_mask(mode, box)]

    def knn(self, x: float, y: float, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(ids, distances) of the ``k`` nearest live features, nearest
        first, ties by id; distance to a square is 0 inside it."""
        f = self.f
        dx = np.maximum(np.maximum(f.xmin - x, x - f.xmax), 0.0)
        dy = np.maximum(np.maximum(f.ymin - y, y - f.ymax), 0.0)
        d = np.hypot(dx, dy)
        idx = np.flatnonzero(self.live)
        order = np.lexsort((self.ids[idx], d[idx]))[:k]
        return self.ids[idx[order]], d[idx[order]]

    def distances(self, x: float, y: float, ids) -> np.ndarray:
        i = np.asarray(ids, dtype=np.int64) - 1
        f = self.f
        dx = np.maximum(np.maximum(f.xmin[i] - x, x - f.xmax[i]), 0.0)
        dy = np.maximum(np.maximum(f.ymin[i] - y, y - f.ymax[i]), 0.0)
        return np.hypot(dx, dy)

    def raba_mask(self, values) -> np.ndarray:
        return self.live & np.isin(self.f.raba_id, list(values))

    def group_counts(self, mask: np.ndarray) -> dict:
        """``COUNT(d_od) ... GROUP BY d_od`` over the rows in ``mask``."""
        days, counts = np.unique(self.f.d_od[mask], return_counts=True)
        return {str(d): int(c) for d, c in zip(days, counts)}
