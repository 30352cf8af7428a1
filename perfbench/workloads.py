"""The workloads as fixed, seeded op sequences with expected answers.

Each workload is a closed loop with one client: the next call goes out only
when the previous one has returned. The op-type schedule is a fixed cycle,
so every run of a workload holds the same number of each op type and the
latency percentiles land on the same op types run after run; the seed only
chooses the parameters (boxes, points, ids, batches).

Expected answers are computed when the ops are built, by running the numpy
:class:`~oracle.Model` through the same sequence, so checking a result never
needs Spark and never reads the engine's own state.

- ``map_browse``: a map viewer over the towns. Result-heavy reads: bbox
  reads at street zoom (tens of rows) and district zoom (about a thousand),
  a ``within`` read, a region-zoom count and a k=10 nearest-neighbour
  query. Time goes to the Spark scan, the geometry kernel and decoding WKB
  into pandas; nothing is committed, so the ``load_df`` memo stays warm.
- ``edit_session``: a curator's edit cycle. Insert a pandas batch, update
  and delete by grammar query, and check the result: id lookups of the
  written rows, the golden grammar filters, a ``get_collection_pg``
  group-by, an exact count and map views around the new features. Few rows
  come back from the checks, so the fixed per-query floor (filter parse,
  manifest pruning, planning, job scheduling) dominates them; every commit
  invalidates the ``load_df`` memo, so they run cold; the file count grows.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from gen import RABA_IDS, make_features
from oracle import Model

COLLECTION = "land_use"
N_FEATURES = 40_000

# zoom levels as (half width, half height) in degrees
STREET = (0.006, 0.004)
DISTRICT = (0.06, 0.04)
REGION = (0.4, 0.3)

INSERT_ROWS = 300
UPDATE_SPAN = 400  # ids per update window
DELETE_SPAN = 60  # ids per delete window

# Nominal ops per second of each workload on a 4-core box. The timed phase
# runs round(seconds * rate / cycle length) whole cycles: a fixed op count
# and mix for given --seconds, so counts repeat exactly for a seed.
NOMINAL_RATE = {"map_browse": 2.0, "edit_session": 4.6}

# Fixed op-kind cycles. Each is composed so that p50 and p90 fall inside one
# kind's latencies, never on the edge between two: on map_browse p50 lands
# in the street reads and p90 in the district reads, on edit_session p50 in
# the group-bys and p90 in the bbox reads.
CYCLES = {
    "map_browse": [
        "bbox_street", "bbox_district", "knn", "bbox_street",
        "count_bbox", "bbox_within", "bbox_district", "bbox_street",
    ],
    "edit_session": [
        "insert", "bbox_edited", "lookup_inserted", "update", "lookup_updated",
        "filter", "agg", "delete", "lookup_deleted", "count", "bbox_edited",
    ],
}

# op name -> the op type latencies and layer metrics are reported under
OP_TYPE = {
    "bbox_street": "bbox", "bbox_district": "bbox", "bbox_within": "bbox",
    "bbox_edited": "bbox",
    "count_bbox": "count_bbox", "knn": "knn",
    "lookup_inserted": "lookup", "lookup_updated": "lookup", "lookup_deleted": "lookup",
    "filter": "filter", "agg": "agg", "count": "count",
    "insert": "insert", "update": "update", "delete": "delete",
}
OP_TYPES = sorted(set(OP_TYPE.values()))


@dataclass
class Op:
    name: str
    call: Callable[[Any], Any]  # client -> result
    check: Callable[[Any], str | None]  # result -> error text or None

    @property
    def type(self) -> str:
        return OP_TYPE[self.name]


def rows_out(result) -> int:
    """Rows handed back to the caller: a DataFrame's length, 1 for a
    scalar answer, 0 for an edit."""
    if result is None:
        return 0
    if hasattr(result, "__len__"):
        return len(result)
    return 1


# -- result checks ------------------------------------------------------------


def _check_rows(pdf, model: Model, ids, ordered: bool = True) -> str | None:
    """The frame holds exactly the live rows ``ids`` (in that order when
    ``ordered``), with their geometry and properties."""
    ids = np.asarray(ids, dtype=np.int64)
    got = pdf["id"].to_numpy(dtype=np.int64) if len(pdf) else np.zeros(0, np.int64)
    if not ordered:
        got = np.sort(got)
        ids = np.sort(ids)
    if len(got) != len(ids) or not np.array_equal(got, ids):
        extra = np.setdiff1d(got, ids)[:5].tolist()
        missing = np.setdiff1d(ids, got)[:5].tolist()
        return (
            f"ids differ: got {len(got)} rows, expected {len(ids)} "
            f"(unexpected {extra}, missing {missing})"
        )
    if not len(ids):
        return None
    i = ids - 1
    f = model.f
    for col in ("raba_id", "raba_pid"):
        if not np.array_equal(pdf[col].to_numpy(dtype=float), getattr(f, col)[i]):
            return f"{col} differs"
    d_od = pdf["d_od"].to_numpy().astype("datetime64[D]")
    if not np.array_equal(d_od, f.d_od[i]):
        return "d_od differs"
    for g, j in zip(pdf["geometry"], i):
        if f.is_point[j]:
            ok = g.kind == "Point" and g.parts[0] == f.xmin[j] and g.parts[1] == f.ymin[j]
        else:
            ring = g.parts[0] if g.kind == "Polygon" else None
            ok = ring is not None and (
                ring[:, 0].min() == f.xmin[j]
                and ring[:, 0].max() == f.xmax[j]
                and ring[:, 1].min() == f.ymin[j]
                and ring[:, 1].max() == f.ymax[j]
            )
        if not ok:
            return f"geometry of id {j + 1} differs"
    return None


def _expect_rows(model: Model, ids, ordered: bool = True):
    """A check bound to a frozen copy of the model's rows: later edits to
    the model do not change what this read expects."""
    snap = Model.__new__(Model)
    snap.f = model.f.take(slice(None))
    ids = np.array(ids, dtype=np.int64)
    return lambda pdf: _check_rows(pdf, snap, ids, ordered)


def _expect_equal(expected):
    def check(got):
        if got != expected:
            return f"got {got!r}, expected {expected!r}"
        return None

    return check


def _expect_knn(model: Model, x: float, y: float, k: int):
    want_ids, want_d = model.knn(x, y, k)
    snap = Model.__new__(Model)
    snap.f = model.f.take(slice(None))
    snap.ids = model.ids.copy()
    snap.live = model.live.copy()

    def check(pdf):
        if len(pdf) != len(want_ids):
            return f"knn returned {len(pdf)} rows, expected {len(want_ids)}"
        ids = pdf["id"].to_numpy(dtype=np.int64)
        if len(set(ids.tolist())) != len(ids) or not snap.live[ids - 1].all():
            return "knn returned duplicate or dead ids"
        d = pdf["dist"].to_numpy(dtype=float)
        tol = 1e-9
        if not np.allclose(d, snap.distances(x, y, ids), rtol=0, atol=tol):
            return "knn distances differ from the oracle's for the same ids"
        if not np.allclose(np.sort(d), want_d, rtol=0, atol=tol):
            return "knn did not return the k nearest"
        return _check_rows(pdf, snap, ids)

    return check


def _expect_groups(expected: dict):
    def check(pdf):
        got = {
            str(np.datetime64(d, "D")): int(c) for d, c in zip(pdf["d_od"], pdf["ct"])
        }
        if got != expected:
            return f"group-by differs in {len(set(got.items()) ^ set(expected.items()))} groups"
        return None

    return check


# -- making ops ---------------------------------------------------------------


def _box(rng, center, half, jitter=0.2):
    """A box of half size ``half`` around ``center``, moved by up to
    ``jitter`` of its size: small moves keep the rows per box steady from
    seed to seed, as a viewer re-centred on a town would see."""
    cx = center[0] + rng.uniform(-jitter, jitter) * half[0]
    cy = center[1] + rng.uniform(-jitter, jitter) * half[1]
    return (cx - half[0], cy - half[1], cx + half[0], cy + half[1])


def _bbox_op(name, model, box, mode):
    return Op(
        name,
        lambda c: c.get_collection_by_bbox(COLLECTION, box, comparison_mode=mode),
        _expect_rows(model, model.bbox_ids(mode, box)),
    )


def _lookup_op(name, model, rid):
    i = model.row(rid)
    return Op(
        name,
        lambda c: c.get_collection(COLLECTION, f"id=eq.{rid}"),
        _expect_rows(model, [] if i is None else [rid]),
    )


def _filter_query(rng, model: Model):
    """One of the golden grammar filters (FIXTURES §1), with its mask."""
    shape = rng.integers(0, 3)
    if shape == 0:
        v = float(rng.choice(RABA_IDS))
        return f"raba_id=eq.{v:g}", model.raba_mask([v])
    if shape == 1:
        a, b = rng.choice(RABA_IDS, 2, replace=False)
        return (
            f"or=(raba_id.eq.{a:g},raba_id.eq.{b:g})",
            model.raba_mask([a, b]),
        )
    a, b = rng.choice(RABA_IDS, 2, replace=False)
    pid = float(np.floor(rng.uniform(5_950_000, 6_050_000)))
    return (
        f"and=(or(raba_id.eq.{a:g},raba_id.eq.{b:g}),raba_pid.gt.{pid:g})",
        model.raba_mask([a, b]) & (model.f.raba_pid > pid),
    )


def _window(rng, model: Model, span: int) -> tuple[int, int]:
    """An id window of ``span`` ids inside one ingest file, starting at a
    live id: every edit rewrites exactly one file of the same size."""
    first, last = model.id_ranges[rng.integers(0, len(model.id_ranges))]
    span = min(span, (last - first) // 2)
    ids = model.ids[model.id_range_mask(first, last - span)]
    lo = int(ids[rng.integers(0, len(ids))])
    return lo, lo + span


def build_ops(workload: str, seed: int, n_ops: int, model: Model, towns) -> list[Op]:
    """``n_ops`` ops of ``workload`` for ``seed``, advancing ``model``
    through any edits so each op's expectation matches the state it runs
    against."""
    rng = np.random.default_rng([seed, 1 + list(CYCLES).index(workload)])
    cycle = CYCLES[workload]
    ops: list[Op] = []
    state: dict = {}
    for k in range(n_ops):
        ops.append(_make_op(cycle[k % len(cycle)], rng, model, towns, state))
    return ops


def _make_op(name, rng, model: Model, towns, state) -> Op:
    town = towns[rng.integers(0, len(towns))]
    if name == "bbox_street":
        return _bbox_op(name, model, _box(rng, town, STREET), "intersects")
    if name == "bbox_district":
        mode = "contains" if rng.random() < 0.25 else "intersects"
        return _bbox_op(name, model, _box(rng, town, DISTRICT), mode)
    if name == "bbox_within":
        # a small box inside one of the large parcels, which holds it
        f = model.f
        big = np.flatnonzero(model.live & (f.xmax - f.xmin >= 0.02))
        i = big[rng.integers(0, len(big))]
        c = ((f.xmin[i] + f.xmax[i]) / 2, (f.ymin[i] + f.ymax[i]) / 2)
        return _bbox_op(name, model, _box(rng, c, (0.002, 0.0015), 2.0), "within")
    if name == "count_bbox":
        box = _box(rng, town, REGION)
        want = int(model.bbox_mask("intersects", box).sum())
        return Op(
            name,
            lambda c: c.count_collection_by_bbox(COLLECTION, box, comparison_mode="intersects"),
            _expect_equal(want),
        )
    if name == "knn":
        x = float(town[0] + rng.normal(0, 0.02))
        y = float(town[1] + rng.normal(0, 0.015))
        return Op(
            name,
            lambda c: c.get_collection_knn(COLLECTION, (x, y), k=10),
            _expect_knn(model, x, y, 10),
        )
    if name == "filter":
        query, mask = _filter_query(rng, model)
        limit = int(rng.integers(20, 60))
        want = model.ids[mask][:limit]
        return Op(
            name,
            lambda c: c.get_collection(COLLECTION, f"{query}&order=id&limit={limit}"),
            _expect_rows(model, want),
        )
    if name == "agg":
        v = float(rng.choice(RABA_IDS))
        want = model.group_counts(model.raba_mask([v]))
        return Op(
            name,
            lambda c: c.get_collection_pg(
                COLLECTION,
                select="COUNT(d_od) as ct, d_od",
                where=f"raba_id={v:g}",
                group="d_od",
            ),
            _expect_groups(want),
        )
    if name == "count":
        want = model.count()
        return Op(
            name,
            lambda c: c.count_collection_rows(COLLECTION, exact_count=True),
            _expect_equal(want),
        )
    if name == "insert":
        state["insert_towns"] = towns[rng.integers(0, len(towns), 2)]
        batch = make_features(rng, INSERT_ROWS, state["insert_towns"])
        pdf = batch.to_pandas()
        state["inserted"] = model.insert(batch)
        return Op(
            name,
            lambda c: c.insert_into_collection(COLLECTION, pdf),
            _expect_equal(None),
        )
    if name == "lookup_inserted":
        new = state["inserted"]
        return _lookup_op(name, model, int(new[rng.integers(0, len(new))]))
    if name == "update":
        lo, hi = _window(rng, model, UPDATE_SPAN)
        old = float(model.f.raba_id[lo - 1])
        new_v = float(rng.choice(RABA_IDS[RABA_IDS != old]))
        query = f"id=gte.{lo}&id=lte.{hi}&raba_id=eq.{old:g}"
        mask = model.id_range_mask(lo, hi) & (model.f.raba_id == old)
        state["updated"] = model.update_raba_id(mask, new_v)
        return Op(
            name,
            lambda c: c.update_collection(COLLECTION, {"raba_id": new_v}, query),
            _expect_equal(None),
        )
    if name == "lookup_updated":
        upd = state["updated"]
        return _lookup_op(name, model, int(upd[rng.integers(0, len(upd))]))
    if name == "delete":
        lo, hi = _window(rng, model, DELETE_SPAN)
        state["deleted"] = model.delete(model.id_range_mask(lo, hi))
        return Op(
            name,
            lambda c: c.delete_from_collection(COLLECTION, f"id=gte.{lo}&id=lte.{hi}"),
            _expect_equal(None),
        )
    if name == "lookup_deleted":
        gone = state["deleted"]
        return _lookup_op(name, model, int(gone[rng.integers(0, len(gone))]))
    if name == "bbox_edited":
        # the curator's map view of a town the last insert added to
        c = state["insert_towns"][rng.integers(0, 2)]
        return _bbox_op(name, model, _box(rng, c, STREET), "intersects")
    raise ValueError(name)


def warmup_ops(workload: str, seed: int, model: Model, towns) -> list[Op]:
    """One op of every kind in the workload's cycle, in cycle order, with
    their own seed stream; run before timing starts."""
    rng = np.random.default_rng([seed, 100 + list(CYCLES).index(workload)])
    names = list(dict.fromkeys(CYCLES[workload]))
    state: dict = {}
    return [_make_op(name, rng, model, towns, state) for name in names]

