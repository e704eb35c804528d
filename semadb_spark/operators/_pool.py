"""Shared plumbing for the point-read serving tiers and their process pools.

The three serving pools (:class:`~semadb_spark.operators.text_search.TextServePool`,
:class:`~semadb_spark.operators.vamana.VectorServePool` and
:class:`~semadb_spark.plans.local_engine.HybridServePool`) are thin layers
over one :class:`ServePool` core: N worker processes point-reading one
IMMUTABLE on-disk artifact, the Python twin of the reference's
one-goroutine-per-request serving over shared shard state
(shard/shard.go:329-472). Each pool keeps only its validation, its worker
init/serve functions and its public signatures; executor construction, the
start-method policy, dispatch, batching and shutdown live here so the pools
cannot drift. So does the bounded per-path cache that both driver-local
tiers keep their open handles and decoded state in: an artifact path is
immutable, so the path alone is the cache key.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

MAX_CACHED_ARTIFACTS = 4
"""Artifact paths each driver-local serve cache holds at once. Every build,
refresh and DML snapshot names a new path, so a long-lived server would
otherwise keep one entry per artifact generation it ever served. One
engine therefore serves at most this many text (or packed graph) paths
per cache without re-opening them; past it, a snapshot's paths evict one
another. Pinned entries (:meth:`ArtifactLru.pin`) do not count."""


class ArtifactLru:
    """``path -> value`` for at most ``MAX_CACHED_ARTIFACTS`` artifact
    paths, the least recently used dropped first and handed to ``close``,
    plus any pinned entries, which are never dropped. Paths are immutable
    (an artifact directory is never rewritten once a snapshot names it), so
    a hit never needs re-validating. Safe to share across threads."""

    def __init__(self, close=None):
        self._items: OrderedDict = OrderedDict()
        self._pinned: dict = {}
        self._lock = threading.Lock()
        self._close = close

    def __getitem__(self, path):
        with self._lock:
            if path in self._pinned:
                return self._pinned[path]
            self._items.move_to_end(path)  # KeyError when absent
            return self._items[path]

    def get(self, path, default=None):
        try:
            return self[path]
        except KeyError:
            return default

    def __setitem__(self, path, value) -> None:
        with self._lock:
            self._pinned.pop(path, None)
            self._items[path] = value
            self._items.move_to_end(path)
            dropped = []
            while len(self._items) > MAX_CACHED_ARTIFACTS:
                dropped.append(self._items.popitem(last=False)[1])
        if self._close is not None:
            for value in dropped:
                self._close(value)

    def pin(self, path, value) -> None:
        """Hold ``value`` for ``path`` until :meth:`pop`, outside the LRU
        bound: for state whose lifetime the owner bounds, such as a pool
        worker's views into a shared-memory segment of its pinned
        snapshot, which eviction would replace by a private re-decode."""
        with self._lock:
            self._items.pop(path, None)
            self._pinned[path] = value

    def pop(self, path, default=None):
        with self._lock:
            pinned = self._pinned.pop(path, default)
            return self._items.pop(path, pinned)

    def __contains__(self, path) -> bool:
        return path in self._items or path in self._pinned

    def __len__(self) -> int:
        return len(self._items) + len(self._pinned)


def choose_start_method() -> str:
    """Pick the multiprocessing start method for a serving pool.

    - Prefer forkserver/spawn: the opening process often holds a live JVM
      gateway (the SparkSession that built the artifact), and fork()ing a
      multi-threaded JVM-attached interpreter can inherit held locks.
      Workers need no parent state — each pool's initializer re-opens the
      artifact per process.
    - BUT forkserver/spawn both re-import the parent's __main__ (guarded by
      __mp_main__), which is impossible for stdin/REPL parents
      (FileNotFoundError '<stdin>'). For those, fall back to fork —
      acceptable because an interactive parent initiates the fork from its
      only running thread.
    """
    import multiprocessing
    import os
    import sys

    main_file = getattr(sys.modules.get("__main__"), "__file__", None)
    importable_main = main_file is not None and os.path.exists(main_file)
    avail = multiprocessing.get_all_start_methods()
    if importable_main and "forkserver" in avail:
        return "forkserver"
    if importable_main:
        return "spawn"
    return "fork"


def limit_blas_threads() -> bool:
    """Best-effort cap of the in-process OpenBLAS thread pool to one
    thread, at RUNTIME.

    Serving workers must run single-threaded math: N worker processes each
    spawning a full BLAS pool oversubscribe the host catastrophically —
    measured 4x on the 10M vector pool (58 -> 236 QPS at 16 workers on 32
    cores). Env vars (OPENBLAS_NUM_THREADS) only work if set before numpy
    loads, which no initializer can guarantee (fork inherits a loaded
    numpy; spawn/forkserver import numpy while unpickling the initializer
    reference) — so call the library's setter via ctypes on the already
    loaded shared object instead. Returns True when a setter was found.
    """
    import ctypes
    import glob
    import os

    try:
        import numpy as np

        so_files = glob.glob(
            os.path.join(os.path.dirname(np.__path__[0]), "numpy.libs", "*blas*")
        ) + glob.glob(os.path.join(np.__path__[0], ".libs", "*blas*"))
        for so in so_files:
            try:
                lib = ctypes.CDLL(so)
            except OSError:
                continue
            for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
                fn = getattr(lib, sym, None)
                if fn is not None:
                    fn(1)
                    return True
    except Exception:
        pass
    return False


def _worker_init(initializer, initargs):
    limit_blas_threads()
    initializer(*initargs)


def make_worker_executor(workers: int, initializer, initargs):
    """ProcessPoolExecutor with the serving-pool start-method policy
    (:func:`choose_start_method`) whose workers run one BLAS thread each
    (:func:`limit_blas_threads`) before ``initializer(*initargs)``."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    return ProcessPoolExecutor(
        int(workers),
        mp_context=multiprocessing.get_context(choose_start_method()),
        initializer=_worker_init,
        initargs=(initializer, initargs),
    )


class ServePool:
    """The one process-pool core under every serving pool: executor set-up,
    single and batch dispatch, and shutdown.

    ``serve(requests) -> results`` is a module-level function (pickled by
    reference) that runs in a worker on a LIST of requests and returns one
    result per request. ``initializer(*initargs)`` runs once per worker.
    The dispatch decision is made from one input, ``owner``:

    - ``owner is None``: one shared executor of ``workers`` processes, so
      the shortest queue wins — right when every worker can serve every
      request equally well (each holds the whole artifact).
    - ``owner(request) -> int`` in ``[0, workers)``: ``workers``
      single-process executors and each request goes to its owner, so a
      worker's cache holds only its share of the partitions.

    A batch ships as one task per owner, or about two chunks per worker
    without one: per-request submits measured ~3 ms each of parent-side
    executor overhead, the pool bottleneck at ~240 QPS. Results come back
    in input order. Use as a context manager; a closed pool raises
    ``RuntimeError`` on new work."""

    def __init__(self, workers: int, initializer, initargs, serve,
                 owner=None):
        self.workers = int(workers)
        self._serve = serve
        self._route = owner
        if owner is None:
            self._executors = [
                make_worker_executor(self.workers, initializer, initargs)
            ]
        else:
            self._executors = [
                make_worker_executor(1, initializer, initargs)
                for _ in range(self.workers)
            ]

    def _one(self, request):
        ex = self._executors[self._route(request) if self._route else 0]
        return ex.submit(self._serve, [request]).result()[0]

    def _many(self, requests) -> list:
        reqs = list(requests)
        step = -(-len(reqs) // (2 * self.workers))
        groups: dict[int, list[int]] = {}
        for i, r in enumerate(reqs):
            g = self._route(r) if self._route else i // step
            groups.setdefault(g, []).append(i)
        futs = [
            (idxs, self._executors[g if self._route else 0].submit(
                self._serve, [reqs[i] for i in idxs]
            ))
            for g, idxs in groups.items()
        ]
        out: list = [None] * len(reqs)
        for idxs, fut in futs:
            for i, res in zip(idxs, fut.result()):
                out[i] = res
        return out

    def _release(self) -> None:
        """Free parent-side resources the workers used; runs after every
        worker has exited. Pools that export shared state override it."""

    def close(self) -> None:
        for ex in self._executors:
            ex.shutdown(wait=True)
        self._release()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.close()
