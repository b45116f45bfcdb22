"""Span tracing installed from the benchmark's own files.

A traced run wraps the public functions of each layer (module names of
the package: ``operators.snapshots``, ``catalog.catalog``,
``sources.storage``) and records one span per call: name, start, end,
parent span, op id and the Spark jobs/tasks the call launched. Spans
stay in memory and are written out as JSON lines when the run ends.
Untraced runs never construct a :class:`Tracer`.

Spark work is attributed with job groups: a span that counts jobs sets
``spark.jobGroup.id`` on its thread for its duration (restoring the
caller's group afterwards), and after the op the status tracker is
asked which jobs and tasks ran under each group. Counts are exclusive
per span; a span's inclusive count adds its children's.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import warnings
from contextlib import contextmanager

from harness import median

JOB_GROUP = "spark.jobGroup.id"

SNAPSHOT_FNS = ("export_incremental", "export_table", "import_tables", "import_table", "restore_point_in_time")
CATALOG_FNS = (
    "start_info",
    "end_info",
    "exported_table_info",
    "imported_table_info",
    "column_descriptors",
    "next_start_times",
    "restore_sessions",
    "table_names",
)
STORAGE_FNS = ("list_path", "save_bytes", "commit_version")


class Span:
    __slots__ = ("id", "parent", "op", "name", "start", "end", "group", "jobs", "tasks", "error", "attrs")

    def __init__(self, sid: int, parent: int | None, op: int, name: str, group: str | None):
        self.id, self.parent, self.op, self.name, self.group = sid, parent, op, name, group
        self.start = self.end = 0.0
        self.jobs = self.tasks = 0
        self.error: str | None = None
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        parts = self.name.split(".")
        return parts[1] if parts[0] in ("operators", "catalog", "sources") else parts[0]

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "op": self.op,
            "name": self.name,
            "start": self.start,
            "end": self.end,
            "jobs": self.jobs,
            "tasks": self.tasks,
            "error": self.error,
            **self.attrs,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = 0
        self.reland_warnings = 0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._pending: list[Span] = []
        self._warn_ctx = None
        self.fence_held_s = 0.0

    @property
    def active(self) -> bool:
        """True inside a traced op on the op thread."""
        return bool(self._main_stack)

    # ---- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    @contextmanager
    def span(self, name: str, count_jobs: bool = True, **attrs):
        stack = self._stack()
        # a pool thread's first span hangs under the op thread's open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        sp = Span(sid, parent.id if parent else None, self.op, name, f"pb-{sid}" if count_jobs else None)
        sp.attrs.update(attrs)
        prev_group = None
        if count_jobs:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, sp.group)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException as ex:
            sp.error = type(ex).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if count_jobs:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            with self._lock:
                self.spans.append(sp)
                if count_jobs:
                    self._pending.append(sp)

    @contextmanager
    def op_span(self, kind: str):
        """Root span of one benchmark operation; on exit the Spark
        listener bus is drained and every span's jobs/tasks resolved."""
        self.op += 1
        self._begin_warnings()
        try:
            with self.span(f"bench.op.{kind}") as sp:
                yield sp
        finally:
            self._end_warnings()
            self._resolve_jobs()

    def _resolve_jobs(self) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        with self._lock:
            pending, self._pending = self._pending, []
        for sp in pending:
            for jid in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        sp.tasks += st.numCompletedTasks

    def _begin_warnings(self) -> None:
        self._warn_ctx = warnings.catch_warnings(record=True)
        self._warn_log = self._warn_ctx.__enter__()
        warnings.simplefilter("always")

    def _end_warnings(self) -> None:
        self._warn_ctx.__exit__(None, None, None)
        self.reland_warnings += sum(1 for w in self._warn_log if "re-landing" in str(w.message))
        self._warn_ctx = None

    # ---- wrappers -------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _wrap_call(self, owner, attr: str, name: str, count_jobs: bool) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            pool = {"max_concurrent": kwargs["max_concurrent"]} if "max_concurrent" in kwargs else {}
            with tracer.span(name, count_jobs, **pool) as sp:
                out = orig(*args, **kwargs)
                if attr == "list_path":
                    sp.attrs["entries"] = len(out)
                return out

        self._patch(owner, attr, wrapper)

    def _wrap_fence(self, storage) -> None:
        orig = storage.__dict__["path_fence"]
        tracer = self

        @contextmanager
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            # only the claim is a span: the body belongs to the caller
            cm = orig(*args, **kwargs)
            with tracer.span("sources.storage.path_fence_wait", count_jobs=False):
                cm.__enter__()
            held0 = time.perf_counter()
            try:
                yield
            except BaseException as ex:
                if not cm.__exit__(type(ex), ex, ex.__traceback__):
                    raise
            else:
                cm.__exit__(None, None, None)
            finally:
                with tracer._lock:
                    tracer.fence_held_s += time.perf_counter() - held0

        self._patch(storage, "path_fence", wrapper)

    def install(self) -> None:
        from hbacker_spark.catalog.catalog import Catalog
        from hbacker_spark.operators.snapshots import SnapshotStore
        from hbacker_spark.sources import storage

        for fn in SNAPSHOT_FNS:
            self._wrap_call(SnapshotStore, fn, f"operators.snapshots.{fn}", True)
        for fn in CATALOG_FNS:
            self._wrap_call(Catalog, fn, f"catalog.catalog.{fn}", True)
        for fn in STORAGE_FNS:
            self._wrap_call(storage, fn, f"sources.storage.{fn}", False)
        self._wrap_fence(storage)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    @contextmanager
    def installed(self):
        self.install()
        try:
            yield
        finally:
            self.uninstall()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.as_dict()) + "\n")

    # ---- per-layer metrics ---------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        spans = self.spans
        by_id = {sp.id: sp for sp in spans}
        children: dict[int, list[Span]] = {}
        for sp in spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)

        incl_jobs: dict[int, int] = {}

        def jobs_incl(sp: Span) -> int:
            if sp.id not in incl_jobs:
                incl_jobs[sp.id] = sp.jobs + sum(jobs_incl(c) for c in children.get(sp.id, ()))
            return incl_jobs[sp.id]

        def named(name: str) -> list[Span]:
            return [sp for sp in spans if sp.name == name]

        def p50(name: str) -> float:
            return median([sp.dur for sp in named(name)])

        m: dict[str, float] = {}
        exp = named("operators.snapshots.export_table")
        m["snapshots.export_table_s_p50"] = median([sp.dur for sp in exp])
        m["snapshots.export_spark_jobs_per_table"] = (
            sum(jobs_incl(sp) for sp in exp) / len(exp) if exp else 0.0
        )
        sessions = named("operators.snapshots.export_incremental")
        pool = sum(sp.attrs.get("max_concurrent", 1) * sp.dur for sp in sessions)
        in_sessions = [sp for sp in exp if sp.parent is not None and by_id.get(sp.parent) in sessions]
        m["snapshots.pool_occupancy"] = sum(sp.dur for sp in in_sessions) / pool if pool else 0.0
        m["snapshots.restore_plan_s_p50"] = p50("operators.snapshots.restore_point_in_time")
        m["snapshots.import_table_s_p50"] = p50("operators.snapshots.import_table")

        cat = [sp for sp in spans if sp.name.startswith("catalog.catalog.")]
        for fn in CATALOG_FNS:
            m[f"catalog.{fn}_s_p50"] = p50(f"catalog.catalog.{fn}")
        m["catalog.spark_jobs_per_call"] = sum(jobs_incl(sp) for sp in cat) / len(cat) if cat else 0.0
        m["catalog.contention_errors"] = float(sum(1 for sp in cat if sp.error == "CatalogContentionError"))
        m["catalog.reland_warnings"] = float(self.reland_warnings)

        waits = named("sources.storage.path_fence_wait")
        m["storage.path_fence_wait_s_total"] = sum(sp.dur for sp in waits)
        m["storage.path_fence_held_s_total"] = self.fence_held_s
        lists = named("sources.storage.list_path")
        m["storage.list_path_calls"] = float(len(lists))
        m["storage.list_path_entries_per_call"] = (
            sum(sp.attrs.get("entries", 0) for sp in lists) / len(lists) if lists else 0.0
        )
        m["storage.save_bytes_calls"] = float(len(named("sources.storage.save_bytes")))
        m["storage.commit_version_calls"] = float(len(named("sources.storage.commit_version")))

        # self time per layer: span time not covered by its children
        self_s: dict[str, float] = {}
        for sp in spans:
            covered = _union([(c.start, c.end) for c in children.get(sp.id, ())], sp.start, sp.end)
            self_s[sp.layer] = self_s.get(sp.layer, 0.0) + sp.dur - covered
        total = sum(self_s.values())
        for layer in ("snapshots", "catalog", "storage", "queries", "bench"):
            m[f"{layer}.self_share"] = self_s.get(layer, 0.0) / total if total else 0.0
        return m


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered

