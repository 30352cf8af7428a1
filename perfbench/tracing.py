"""Traced-run mode: spans around the library's layers, recorded from outside.

:class:`Tracer` wraps public functions of each module (by patching the
module or class attribute the callers look up), keeps one span per call in
memory, and reads Spark job ids, task counts and times from the status
store, which works with the UI disabled. Each op runs under its own job
group, so every job is tied to the op that submitted it.

Accounting: every instant of an op's wall time goes to exactly one part.
An instant inside a Spark job of the op's group is ``spark.job``; any other
instant goes to the innermost span open at that instant, and to
``unattributed`` when only the op itself is open. The parts therefore add
up to the op's wall time; :func:`op_parts` checks that they do.

Only ``run.py --trace 1`` imports this module: the plain run never loads
the wrappers.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict

import numpy as np

# layer names; each is also the part its spans' self time goes to
COLLECT = "client.collect"
TOPANDAS = "client.topandas"
EVENTLOG = "client.eventlog"
FILTERS = "filters"
SCAN = "scan"
SPATIAL = "spatial"
PRUNING = "pruning"
META = "catalog.meta"
LOAD_DF = "catalog.load_df"
COMMIT = "catalog.commit"
COMMIT_WRITE = "catalog.commit_write"
FOOTER = "stats.footer"
DML = "dml"
IDS = "ids"
BOOKKEEPING = "trace"
JOB = "spark.job"
UNATTRIBUTED = "unattributed"
PARTS = (
    JOB, COLLECT, TOPANDAS, EVENTLOG, FILTERS, SCAN, SPATIAL, PRUNING, META,
    LOAD_DF, COMMIT, COMMIT_WRITE, FOOTER, DML, IDS, BOOKKEEPING, UNATTRIBUTED,
)


class Span:
    __slots__ = ("name", "layer", "start", "end", "depth", "op", "attrs")

    def __init__(self, name, layer, start, depth, op):
        self.name = name
        self.layer = layer
        self.start = start
        self.end = None
        self.depth = depth
        self.op = op
        self.attrs = {}


def _walk_stat(path: str) -> dict:
    """path -> (inode, mtime, size) of every file under ``path``."""
    out = {}
    for d, _subdirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[Span] = []
        self._undo: list[tuple] = []
        self._load_df_last: dict = {}

    # -- spans ---------------------------------------------------------------

    def _open(self, name, layer) -> Span:
        sp = Span(name, layer, time.time(), len(self._stack), len(self.ops) - 1)
        self._stack.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.pop()
        self.spans.append(sp)

    def run_op(self, op_type: str, fn):
        """Run ``fn`` as the next op, under its own Spark job group; returns
        what ``fn`` returns or raises."""
        group = f"perfbench-op-{len(self.ops)}"
        self.sc.setJobGroup(group, op_type)
        self.ops.append({"type": op_type, "group": group})
        root = self._open(op_type, UNATTRIBUTED)
        try:
            return fn()
        finally:
            self._close(root)
            self.ops[-1]["span"] = root
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _wrap(self, owner, attr, layer, pre=None, post=None, post_always=False):
        """Replace ``owner.attr`` with a span-recording wrapper. ``pre(args,
        kwargs)`` and ``post(span, ctx, result, args, kwargs)`` do
        bookkeeping in their own ``trace`` span, outside the wrapped call.
        Outside an op no span is recorded; ``post_always`` still calls
        ``post`` there, with ``span=None``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer._stack:
                result = orig(*args, **kwargs)
                if post_always:
                    post(None, None, result, args, kwargs)
                return result
            ctx = None
            if pre is not None:
                bk = tracer._open("bookkeeping", BOOKKEEPING)
                ctx = pre(args, kwargs)
                tracer._close(bk)
            sp = tracer._open(attr, layer)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(sp)
            if post is not None:
                bk = tracer._open("bookkeeping", BOOKKEEPING)
                post(sp, ctx, result, args, kwargs)
                tracer._close(bk)
            return result

        self._undo.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from xcube_geodb_spark import admin, catalog, client, filters
        from xcube_geodb_spark.operators import dml, ids, pruning, scan, spatial, stats

        def rows(sp, _ctx, result, _a, _k):
            sp.attrs["rows"] = len(result)

        self._wrap(client.GeoDBSparkClient, "_collect_geo", COLLECT, post=rows)
        self._wrap(ClassicDataFrame, "toPandas", TOPANDAS)
        self._wrap(admin.EventLog, "log", EVENTLOG)
        for mod in (filters, dml):
            self._wrap(mod, "parse_postgrest_query", FILTERS)
        for mod in (filters, scan):
            self._wrap(mod, "apply_postgrest_query", FILTERS)
        for name in ("get_collection", "get_collection_pg", "count_collection", "head_collection"):
            self._wrap(scan, name, SCAN)
        for name in ("get_collection_by_bbox", "count_collection_by_bbox", "get_knn"):
            self._wrap(spatial, name, SPATIAL)

        def pruned(sp, _ctx, result, args, kwargs):
            paths = args[0] if args else kwargs["paths"]
            sp.attrs["files_total"] = len(paths)
            sp.attrs["files_kept"] = len(result[0])

        self._wrap(pruning, "split_files_by_constraints", PRUNING, post=pruned)
        self._wrap(catalog.GeoDBCatalog, "meta", META)
        self._wrap(catalog.GeoDBCatalog, "meta_for_write", META)

        def memo(sp, _ctx, result, args, kwargs):
            # the memo hands back the very same DataFrame on a hit
            key = (args[1:], tuple(sorted(kwargs.items())))
            if sp is not None:
                sp.attrs["hit"] = self._load_df_last.get(key) is result
            self._load_df_last[key] = result

        self._wrap(catalog.GeoDBCatalog, "load_df", LOAD_DF, post=memo, post_always=True)
        self._wrap(catalog.GeoDBCatalog, "load_files", LOAD_DF)

        def coll_dir(args, kwargs):
            cat, coll, db = args[0], args[1], args[2]
            return os.path.join(cat.warehouse, db, coll)

        def manifest(path):
            with open(os.path.join(path, "metadata.json")) as f:
                return set(json.load(f)["files"])

        def before_commit(args, kwargs):
            d = coll_dir(args, kwargs)
            return d, manifest(d), _walk_stat(d)

        def after_commit(sp, ctx, _result, _a, _k):
            d, files0, sizes0 = ctx
            files1, sizes1 = manifest(d), _walk_stat(d)
            sp.attrs["files_added"] = len(files1 - files0)
            sp.attrs["files_removed"] = len(files0 - files1)
            sp.attrs["bytes_written"] = sum(
                st[2] for p, st in sizes1.items() if sizes0.get(p) != st
            )

        self._wrap(
            catalog.GeoDBCatalog, "commit_version", COMMIT,
            pre=before_commit, post=after_commit,
        )
        self._wrap(DataFrameWriter, "parquet", COMMIT_WRITE)
        for name in ("insert_into_collection", "update_collection", "delete_from_collection"):
            self._wrap(dml, name, DML)
        for mod in (ids, dml):
            self._wrap(mod, "assign_sequential_ids_counted", IDS)
        self._wrap(stats, "file_column_stats", FOOTER)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- Spark jobs ----------------------------------------------------------

    def jobs_by_group(self) -> dict:
        """group -> [(start_s, end_s, tasks)] for every finished job, read
        from the status store (no UI, no REST)."""
        store = self.sc._jsc.sc().statusStore()
        jl = store.jobsList(None)
        out = defaultdict(list)
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            if not g.isDefined():
                continue
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            out[g.get()].append(
                (
                    sub.get().getTime() / 1000.0,
                    done.get().getTime() / 1000.0,
                    int(j.numCompletedTasks()),
                )
            )
        return out

    def dump(self, path: str) -> None:
        """Write the ops and their spans (``op`` indexes ``ops``) as JSON."""
        with open(path, "w") as f:
            json.dump(
                {
                    "ops": [{"type": o["type"], "group": o["group"]} for o in self.ops],
                    "spans": [
                        {
                            "name": s.name, "layer": s.layer, "op": s.op,
                            "start": s.start, "end": s.end, "depth": s.depth,
                            **s.attrs,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


_MISSING = object()


# -- accounting ----------------------------------------------------------------


def _clip_union(intervals, lo, hi) -> list:
    """Union of ``intervals`` clipped to [lo, hi], as sorted disjoint pairs."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    out = []
    for a, b in iv:
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def covered(intervals, lo, hi) -> float:
    return sum(b - a for a, b in _clip_union(intervals, lo, hi))


def op_parts(root: Span, spans: list, jobs: list) -> dict:
    """Seconds of ``root``'s wall time per part. ``spans`` are the op's
    spans (root included), ``jobs`` its (start, end) job intervals."""
    lo, hi = root.start, root.end
    job_iv = _clip_union(jobs, lo, hi)
    cuts = {lo, hi}
    for s in spans:
        cuts.update((min(max(s.start, lo), hi), min(max(s.end, lo), hi)))
    for a, b in job_iv:
        cuts.update((a, b))
    cuts = sorted(cuts)
    parts = defaultdict(float)
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        mid = (a + b) / 2
        if any(ja <= mid < jb for ja, jb in job_iv):
            parts[JOB] += b - a
            continue
        inner = root
        for s in spans:
            if s.start <= mid < s.end and s.depth > inner.depth:
                inner = s
        parts[inner.layer] += b - a
    total = sum(parts.values())
    if abs(total - (hi - lo)) > 1e-6:
        raise AssertionError(
            f"parts add up to {total:.6f}s, op wall is {hi - lo:.6f}s"
        )
    return dict(parts)


def summarize(tracer: Tracer, op_types: list) -> tuple[dict, list]:
    """Per-layer metrics over the traced ops, plus per-op records."""
    jobs = tracer.jobs_by_group()
    by_op = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    records = []
    for k, op in enumerate(tracer.ops):
        root = op["span"]
        spans = by_op[k]
        js = jobs.get(op["group"], [])
        iv = [(a, b) for a, b, _t in js]
        parts = op_parts(root, spans, iv)
        wall = root.end - root.start
        job_s = parts.get(JOB, 0.0)
        records.append(
            {
                "type": op["type"], "wall_ms": wall * 1e3,
                "parts_ms": {p: v * 1e3 for p, v in parts.items()},
                "jobs": len(js), "tasks": sum(t for _a, _b, t in js),
                "job_ms": job_s * 1e3, "driver_ms": (wall - job_s) * 1e3,
                "spans": spans, "job_iv": iv,
            }
        )
    return _metrics(records, op_types), records


def _mean(xs) -> float:
    xs = list(xs)
    return float(np.mean(xs)) if xs else 0.0


def _inside_ms(record, span, layer) -> float:
    """Milliseconds of ``layer`` spans inside ``span`` of one op."""
    return sum(
        (w.end - w.start) * 1e3
        for w in record["spans"]
        if w.layer == layer and span.start <= w.start and w.end <= span.end
    )


def _metrics(records: list, op_types: list) -> dict:
    m = {}

    def spans_of(layer, name=None):
        for r in records:
            for s in r["spans"]:
                if s.layer == layer and (name is None or s.name == name):
                    yield r, s

    def part_per_op(part, ops):
        return _mean(r["parts_ms"].get(part, 0.0) for r in ops)

    def ops_with(layer):
        return [r for r in records if any(s.layer == layer for s in r["spans"])]

    collecting = ops_with(COLLECT)
    m["client.collect_ms"] = part_per_op(COLLECT, collecting)
    m["client.topandas_ms"] = part_per_op(TOPANDAS, collecting)
    n_rows = sum(s.attrs.get("rows", 0) for _r, s in spans_of(COLLECT))
    decode = sum(r["parts_ms"].get(COLLECT, 0.0) for r in collecting)
    m["client.decode_us_per_row"] = decode * 1e3 / n_rows if n_rows else 0.0
    m["client.eventlog_ms"] = part_per_op(EVENTLOG, ops_with(EVENTLOG))
    m["filters.parse_ms"] = part_per_op(FILTERS, ops_with(FILTERS))
    for layer in (SCAN, SPATIAL):
        # time until the call returns, less the Spark jobs it ran
        m[f"{layer}.plan_ms"] = _mean(
            ((s.end - s.start) - covered(r["job_iv"], s.start, s.end)) * 1e3
            for r, s in spans_of(layer)
            if s.depth == 1
        )
    pr = [s for _r, s in spans_of(PRUNING)]
    m["pruning.calls_per_op"] = len(pr) / len(records)
    m["pruning.files_total"] = _mean(s.attrs["files_total"] for s in pr)
    m["pruning.files_kept"] = _mean(s.attrs["files_kept"] for s in pr)
    tot = sum(s.attrs["files_total"] for s in pr)
    m["pruning.kept_ratio"] = sum(s.attrs["files_kept"] for s in pr) / tot if tot else 0.0
    metas = [s for _r, s in spans_of(META, "meta")]
    m["catalog.meta_calls_per_op"] = len(metas) / len(records)
    m["catalog.meta_ms"] = part_per_op(META, records)
    loads = [s for _r, s in spans_of(LOAD_DF, "load_df")]
    m["catalog.load_df_calls_per_op"] = len(loads) / len(records)
    m["catalog.load_df_hit_ratio"] = (
        sum(bool(s.attrs["hit"]) for s in loads) / len(loads) if loads else 0.0
    )
    commits = list(spans_of(COMMIT))
    m["catalog.commits_per_op"] = len(commits) / len(records)
    m["catalog.commit_ms"] = _mean((s.end - s.start) * 1e3 for _r, s in commits)
    m["catalog.commit_write_ms"] = _mean(_inside_ms(r, s, COMMIT_WRITE) for r, s in commits)
    m["stats.footer_ms"] = _mean(_inside_ms(r, s, FOOTER) for r, s in commits)
    for key in ("files_added", "files_removed", "bytes_written"):
        m[f"catalog.{key}_per_commit"] = _mean(s.attrs[key] for _r, s in commits)
    for kind, fn in (
        ("insert", "insert_into_collection"),
        ("update", "update_collection"),
        ("delete", "delete_from_collection"),
    ):
        # self time of the DML call: its span less the commit inside it
        m[f"dml.{kind}_ms"] = _mean(
            (s.end - s.start) * 1e3 - _inside_ms(r, s, COMMIT) for r, s in spans_of(DML, fn)
        )
    m["ids.assign_calls_per_op"] = sum(1 for _ in spans_of(IDS)) / len(records)
    m["spark.jobs_per_op"] = _mean(r["jobs"] for r in records)
    m["spark.tasks_per_op"] = _mean(r["tasks"] for r in records)
    m["spark.job_ms_per_op"] = _mean(r["job_ms"] for r in records)
    m["spark.driver_ms_per_op"] = _mean(r["driver_ms"] for r in records)
    m["unattributed_ms"] = part_per_op(UNATTRIBUTED, records)
    m["trace.bookkeeping_ms"] = part_per_op(BOOKKEEPING, records)
    for t in op_types:
        rs = [r for r in records if r["type"] == t]
        m[f"op.{t}.p50_ms"] = float(np.median([r["wall_ms"] for r in rs])) if rs else 0.0
        m[f"op.{t}.jobs"] = _mean(r["jobs"] for r in rs)
        m[f"op.{t}.job_ms"] = _mean(r["job_ms"] for r in rs)
        m[f"op.{t}.driver_ms"] = _mean(r["driver_ms"] for r in rs)
    return m


def parts_table(records: list) -> list[str]:
    """Mean ms per part for each op type, as printable lines."""
    lines = []
    types = sorted({r["type"] for r in records})
    for t in types:
        rs = [r for r in records if r["type"] == t]
        means = {p: _mean(r["parts_ms"].get(p, 0.0) for r in rs) for p in PARTS}
        body = " ".join(f"{p}={v:.1f}" for p, v in means.items() if v >= 0.05)
        lines.append(
            f"  {t:<11} n={len(rs):<3} wall={_mean(r['wall_ms'] for r in rs):8.1f}ms  {body}"
        )
    return lines
