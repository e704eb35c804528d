"""Shared plumbing for the point-read serving tiers and their process pools.

Both serving pools (:class:`~semadb_spark.operators.text_search.TextServePool`
and :class:`~semadb_spark.operators.vamana.VectorServePool`) deploy the same
shape: N worker processes point-reading one IMMUTABLE on-disk artifact, the
Python twin of the reference's one-goroutine-per-request serving over shared
shard state (shard/shard.go:329-472). The start-method policy and executor
construction live here so the two pools cannot drift, as does the artifact
fingerprint cache both driver-local tiers key their handle caches on.
"""

from __future__ import annotations

import threading
import time

_FP_LOCK = threading.Lock()
_FP_REFRESHING: set[str] = set()


def cached_fingerprint(cache: dict, path: str, ttl: float, walk) -> int:
    """Stale-while-revalidate artifact fingerprint. ``cache`` maps
    ``path -> (monotonic time, fingerprint)`` and ``walk(path)`` computes a
    fresh one (a listing walk, ~5 ms on a 64-bucket text index, ~100 ms on a
    3000-file packed vector artifact).

    Only the first call for a path walks synchronously. Within ``ttl`` the
    cached value is returned as is; once it lapses the caller still gets the
    last value at once and one daemon thread re-walks the listing, so the
    walk never lands in a request's latency (at a 1 s TTL it was the p99
    tail). The check-and-start runs under a lock, so concurrent callers on a
    lapsed entry start exactly one refresh; a thread that fails to start
    leaves the path free for the next caller to retry."""
    hit = cache.get(path)
    if hit is None:
        fp = walk(path)
        cache[path] = (time.monotonic(), fp)
        return fp
    if time.monotonic() - hit[0] < ttl:
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


def limit_blas_threads(n: int = 1) -> bool:
    """Best-effort cap of the in-process OpenBLAS thread pool, at RUNTIME.

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
                    fn(int(n))
                    return True
    except Exception:
        pass
    return False


def _worker_init(blas_threads, initializer, initargs):
    if blas_threads:
        limit_blas_threads(blas_threads)
    if initializer is not None:
        initializer(*initargs)


def make_worker_executor(workers: int, initializer, initargs,
                         start_method: str | None = None,
                         blas_threads: int | None = None):
    """ProcessPoolExecutor with the serving-pool start-method policy.
    ``blas_threads`` caps each worker's BLAS pool (see
    :func:`limit_blas_threads`); None leaves the library default."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    if start_method is None:
        start_method = choose_start_method()
    return ProcessPoolExecutor(
        int(workers),
        mp_context=multiprocessing.get_context(start_method),
        initializer=_worker_init,
        initargs=(blas_threads, initializer, initargs),
    )
