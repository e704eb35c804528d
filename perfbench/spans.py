"""Span tracing around the library's layer entry points, from outside.

The library has no tracing hooks, so the traced run swaps each layer's
public entry point for a wrapper that records a span:
``(name, start, end, parent, request id)``. Spans are kept in memory and
written out when the run ends. A layer's self time is its span minus the
union of its child spans.

``text_serve_local`` and ``vamana_serve_local`` are imported lazily inside
``LocalSearchEngine``'s methods, so replacing the module attribute makes
every call go through the wrapper.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str
    error: str | None = None

    @property
    def ms(self) -> float:
        return 1000.0 * (self.end - self.start)


def _layer_points():
    """(owner, attribute, span name) of every traced entry point."""
    from semadb_spark.collection import Collection
    from semadb_spark.operators import _pool, text_search, vamana
    from semadb_spark.plans import local_engine

    return [
        (Collection, "insert", "collection.insert"),
        (Collection, "update", "collection.update"),
        (Collection, "delete", "collection.delete"),
        (Collection, "build_text_index", "collection.build_text_index"),
        (Collection, "refresh_text_index", "collection.refresh_text_index"),
        (Collection, "build_vamana_index", "collection.build_vamana_index"),
        (Collection, "vacuum", "collection.vacuum"),
        (Collection, "search", "collection.search"),
        (Collection, "search_local", "collection.search_local"),
        (Collection, "open_search_pool", "pool.open_search_pool"),
        (local_engine.LocalSearchEngine, "__init__", "local_engine.init"),
        (local_engine.LocalSearchEngine, "search", "local_engine.search"),
        (local_engine.HybridServePool, "search", "pool.search"),
        (_pool, "make_worker_executor", "pool.make_worker_executor"),
        (text_search, "text_serve_local", "text_search.serve"),
        (vamana, "vamana_serve_local", "vamana.serve"),
    ]


class Tracer:
    """In-memory span recorder. ``install`` swaps the wrappers in,
    ``uninstall`` restores the originals, so untraced blocks of a traced run
    run the library exactly as an untraced run does."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    # -- context -------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def request(self, rid: str):
        """Tag every span opened inside with request id ``rid``."""
        prev = getattr(self._local, "rid", "")
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(name, time.perf_counter(), 0.0,
                  stack[-1] if stack else None,
                  getattr(self._local, "rid", ""))
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        except BaseException as e:
            sp.error = type(e).__name__
            raise
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    # -- wrappers ------------------------------------------------------------
    def _wrap(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        if self._saved:
            return
        for owner, attr, name in _layer_points():
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved = []

    # -- queries -------------------------------------------------------------
    def select(self, name: str, rid_prefix: str = "") -> list[int]:
        """Indexes of the spans called ``name`` whose request id starts
        with ``rid_prefix``."""
        return [
            i for i, s in enumerate(self.spans)
            if s.name == name and s.rid.startswith(rid_prefix)
        ]

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_ms(self, idx: int, kids_of: dict[int, list[Span]]) -> float:
        """Span duration minus the union of its direct children."""
        sp = self.spans[idx]
        kids = sorted((c.start, c.end) for c in kids_of.get(idx, []))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return 1000.0 * (sp.end - sp.start - covered)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@contextlib.contextmanager
def job_group(spark, name: str, out: dict):
    """Run the body under a fresh Spark job group; afterwards ``out`` holds
    the ``jobs`` and ``stages`` the body launched (from statusTracker)."""
    sc = spark.sparkContext
    gid = f"{name}-{time.perf_counter_ns()}"
    sc.setJobGroup(gid, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(gid))
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages += len(info.stageIds)
        out["jobs"] = len(jobs)
        out["stages"] = stages
