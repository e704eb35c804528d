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
cannot drift. So do the listing fingerprint and its cache, which both
driver-local tiers key their handle caches on.
"""

from __future__ import annotations

import threading
import time

_FP_LOCK = threading.Lock()
_FP_REFRESHING: set[str] = set()


def artifact_fingerprint(path: str) -> int:
    """Digest of an artifact's file listing (relative name, size, mtime_ns
    per file). Every driver-local cache keys on (path, fingerprint): ANY
    mutation — an in-process write.mode("overwrite") rebuild, a file
    added or replaced inside one partition directory, or a rewrite landing
    within the filesystem's mtime granularity for _SUCCESS — changes the
    digest, so the next point-read re-opens the new files instead of
    serving stale state off pinned handles or decoded shards."""
    import os
    import zlib

    h = 0
    try:
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for fn in sorted(files):
                try:
                    st = os.stat(os.path.join(root, fn))
                except OSError:
                    continue
                rel = os.path.relpath(os.path.join(root, fn), path)
                h = zlib.crc32(
                    f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode(), h
                )
    except OSError:
        return 0
    return h


def cached_fingerprint(cache: dict, path: str, ttl: float,
                       walk=artifact_fingerprint) -> int:
    """Stale-while-revalidate artifact fingerprint. ``cache`` maps
    ``path -> (monotonic time, fingerprint)`` and ``walk(path)`` computes a
    fresh one (a listing walk, ~5 ms on a 64-bucket text index, ~100 ms on a
    3000-file packed vector artifact).

    The first call for a path walks synchronously. Within ``ttl`` the
    cached value is returned as is; once it lapses the caller still gets the
    last value at once and one daemon thread re-walks the listing, so the
    walk never lands in a busy path's latency (at a 1 s TTL it was the p99
    tail). The check-and-start runs under a lock, so concurrent callers on a
    lapsed entry start exactly one refresh; a thread that fails to start
    leaves the path free for the next caller to retry.

    An entry older than ``10 * ttl`` is not served stale: the caller walks
    synchronously. So after an idle gap the first read sees the current
    artifact, and no answer is older than ``10 * ttl`` plus one walk
    whatever the traffic."""
    hit = cache.get(path)
    age = None if hit is None else time.monotonic() - hit[0]
    if age is None or age >= 10.0 * ttl:
        fp = walk(path)
        cache[path] = (time.monotonic(), fp)
        return fp
    if age < ttl:
        return hit[1]
    with _FP_LOCK:
        if path in _FP_REFRESHING:
            return hit[1]
        _FP_REFRESHING.add(path)

    def _refresh() -> None:
        try:
            cache[path] = (time.monotonic(), walk(path))
        finally:
            with _FP_LOCK:
                _FP_REFRESHING.discard(path)

    try:
        threading.Thread(
            target=_refresh, daemon=True, name=f"fp-refresh:{path}"
        ).start()
    except BaseException:
        with _FP_LOCK:
            _FP_REFRESHING.discard(path)
        raise
    return hit[1]


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
