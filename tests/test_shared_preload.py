"""Shared-memory packed-artifact preload (VERDICT r12 directive #4).

`export_packed_shared` decodes a packed Vamana artifact ONCE (parent) into
a POSIX shared-memory segment; `attach_packed_shared` gives any process
zero-copy numpy views over the same physical pages — the pool analogue of
the reference's single shared shard decode cache (cache/manager.go:39-303).
These tests are Spark-free: they synthesize the packed artifact with
pyarrow directly (the exact schema `_local_decoded_cents` reads) so the
memory accounting is not polluted by a JVM.
"""

from __future__ import annotations

import multiprocessing
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from semadb_spark.operators import vamana as V


def _write_fake_packed(path: str, *, cents: int = 1, n: int = 500,
                       d: int = 16, degree: int = 4, with_codes: bool = False,
                       seed: int = 7) -> dict:
    """Write a packed artifact (hive `cent=` partitions, one shard row per
    cent) in the exact layout vamana_pack persists and
    `_local_decoded_cents` decodes: vecs/indptr/indices as raw buffers,
    ids as list<string>, shard name `{cent}_0`."""
    rng = np.random.RandomState(seed)
    truth = {}
    for c in range(cents):
        X = rng.normal(size=(n, d)).astype(np.float32)
        indptr = np.arange(n + 1, dtype=np.int32) * degree
        indices = rng.randint(0, n, size=n * degree).astype(np.int32)
        ids = [f"p{c}_{i:06d}" for i in range(n)]
        row = {
            "shard": f"{c}_0",
            "n": n,
            "ids": ids,
            "vecs": X.tobytes(),
            "indptr": indptr.tobytes(),
            "indices": indices.tobytes(),
            "start": 0,
        }
        fields = [
            pa.field("shard", pa.string()), pa.field("n", pa.int64()),
            pa.field("ids", pa.list_(pa.string())),
            pa.field("vecs", pa.binary()), pa.field("indptr", pa.binary()),
            pa.field("indices", pa.binary()), pa.field("start", pa.int64()),
        ]
        if with_codes:
            words = (d + 63) // 64
            codes = rng.randint(0, 256, size=(n, words * 8)).astype(np.uint8)
            row["codes"] = codes.tobytes()
            row["code_words"] = words
            fields += [pa.field("codes", pa.binary()),
                       pa.field("code_words", pa.int64())]
            truth.setdefault(c, {})["codes"] = codes
        tbl = pa.table(
            {k: [row[k]] for k in [f.name for f in fields]},
            schema=pa.schema(fields),
        )
        part = os.path.join(path, f"cent={c}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(tbl, os.path.join(part, "part-0.parquet"))
        truth.setdefault(c, {}).update(X=X, indptr=indptr, indices=indices,
                                       ids=ids)
    return truth


def _drop_local_state(path: str) -> None:
    V._LOCAL_PACKED_CACHE.pop(path, None)
    shm = V._SHM_ATTACHED.pop(path, None)
    if shm is not None:
        try:
            shm.close()
        except BufferError:
            pass  # views still alive in this test process


def test_export_attach_roundtrip(tmp_path):
    """export -> attach reproduces the private decode bit-for-bit (vectors,
    CSR, padded adjacency, seed order, baked BQ codes incl. the uint64
    view), drops the exporter's private copy, and marks views read-only."""
    path = str(tmp_path / "packed")
    truth = _write_fake_packed(path, cents=2, n=300, d=64, with_codes=True)

    # baseline: private decode (copy everything out so we can compare
    # after the cache is dropped)
    got = V._local_decoded_cents(path, [0, 1], np.dtype("float32"),
                                 np.dtype("float32"))
    baseline = {
        c: [(np.array(s[0]), s[1].copy(), s[2].copy(), s[3].copy(), s[4],
             s[5].copy(), s[6].copy(),
             {k: (v.copy() if isinstance(v, np.ndarray) else v)
              for k, v in s[7].items()})
            for s in shards]
        for c, shards in got.items()
    }
    del got
    _drop_local_state(path)

    exp = V.export_packed_shared(path)
    assert exp is not None
    shm_name, manifest = exp
    # exporter dropped its private decode
    assert path not in V._LOCAL_PACKED_CACHE
    assert sorted(manifest["cents"]) == [0, 1]

    n_attached = V.attach_packed_shared(path, shm_name, manifest)
    assert n_attached == 2
    _, cache = V._LOCAL_PACKED_CACHE[path]
    for c in (0, 1):
        (ids, X, indptr, indices, start, adj_pad, id_order,
         code_state) = cache[c][0]
        (b_ids, b_X, b_indptr, b_indices, b_start, b_adj, b_order,
         b_codes) = baseline[c][0]
        assert not X.flags.writeable  # shared pages are read-only
        np.testing.assert_array_equal(X, b_X)
        np.testing.assert_array_equal(indptr, b_indptr)
        np.testing.assert_array_equal(indices, b_indices)
        np.testing.assert_array_equal(adj_pad, b_adj)
        np.testing.assert_array_equal(id_order, b_order)
        assert start == b_start
        assert list(ids) == list(b_ids)
        assert isinstance(ids[0], str)  # np.str_ IS a str for consumers
        np.testing.assert_array_equal(code_state["bq_bytes"],
                                      b_codes["bq_bytes"])
        np.testing.assert_array_equal(code_state["bq_codes"],
                                      b_codes["bq_codes"])
        assert code_state["bq_words"] == b_codes["bq_words"]
        # the uint64 beam view aliases the byte view (one buffer, not two)
        assert np.shares_memory(code_state["bq_codes"],
                                code_state["bq_bytes"])
        np.testing.assert_array_equal(X, truth[c]["X"])

    _drop_local_state(path)
    V.release_packed_shared(shm_name)
    # idempotent: releasing an already-unlinked name is a no-op
    V.release_packed_shared(shm_name)


def test_export_oversized_stays_lazy(tmp_path):
    """An artifact wider than the serve-cache cap refuses to export — the
    pool keeps per-worker lazy faulting (preload_packed_local's bound)."""
    path = str(tmp_path / "packed_wide")
    _write_fake_packed(path, cents=3, n=20, d=4)
    assert V.export_packed_shared(path, max_cents=2) is None
    _drop_local_state(path)


def test_packed_cache_holds_at_most_cap_paths(tmp_path):
    """Every build names a new packed path; serving more paths than the cap
    in one process keeps only the most recently used ones decoded."""
    from semadb_spark.operators._pool import MAX_CACHED_ARTIFACTS

    paths = [str(tmp_path / f"packed_{k}")
             for k in range(MAX_CACHED_ARTIFACTS + 2)]
    for path in paths:
        _write_fake_packed(path, cents=1, n=20, d=4)
        got = V._local_decoded_cents(path, [0], np.dtype("float32"),
                                     np.dtype("float32"))
        assert len(got[0]) == 1
    assert len(V._LOCAL_PACKED_CACHE) <= MAX_CACHED_ARTIFACTS
    assert paths[-1] in V._LOCAL_PACKED_CACHE
    assert paths[0] not in V._LOCAL_PACKED_CACHE
    for path in paths:
        _drop_local_state(path)


def test_attached_path_outlives_cap_evictions(tmp_path):
    """A path attached to a shared segment stays served from the shared
    views however many other paths pass through the bounded cache: an
    eviction would turn it into a private re-decode."""
    from semadb_spark.operators._pool import MAX_CACHED_ARTIFACTS

    shared = str(tmp_path / "packed_shared")
    _write_fake_packed(shared, cents=1, n=50, d=4)
    shm_name, manifest = V.export_packed_shared(shared)
    V.attach_packed_shared(shared, shm_name, manifest)
    others = [str(tmp_path / f"packed_{k}")
              for k in range(MAX_CACHED_ARTIFACTS + 1)]
    for path in others:
        _write_fake_packed(path, cents=1, n=20, d=4)
        V._local_decoded_cents(path, [0], np.dtype("float32"),
                               np.dtype("float32"))
    assert others[0] not in V._LOCAL_PACKED_CACHE
    assert len(V._LOCAL_PACKED_CACHE) == MAX_CACHED_ARTIFACTS + 1
    got = V._local_decoded_cents(shared, [0], np.dtype("float32"),
                                 np.dtype("float32"))
    assert not got[0][0][1].flags.writeable  # still the shared views
    for path in others + [shared]:
        _drop_local_state(path)
    V.release_packed_shared(shm_name)


def _child_measure(path, mode, shm_name, manifest, q):
    """Fork child: measure USS growth of making the artifact resident via
    `mode` ('attach' = shared views, 'private' = per-worker decode)."""
    try:
        def uss():
            vals = {}
            with open("/proc/self/smaps_rollup") as f:
                for line in f:
                    k = line.split(":")[0]
                    if k in ("Private_Clean", "Private_Dirty"):
                        vals[k] = int(line.split()[1])
            return sum(vals.values()) * 1024

        before = uss()
        if mode == "attach":
            V.attach_packed_shared(path, shm_name, manifest)
        else:
            V.preload_packed_local(path)
        # touch every byte so lazily-mapped pages land in the measurement
        _, cache = V._LOCAL_PACKED_CACHE[path]
        acc = 0.0
        for shards in cache.values():
            for s in shards:
                acc += float(np.asarray(s[1], dtype=np.float32).sum())
                acc += float(s[5].sum())
        q.put(("ok", uss() - before, acc))
    except Exception as e:  # pragma: no cover
        q.put(("err", repr(e), 0.0))


def test_shared_attach_is_one_copy_across_processes(tmp_path):
    """The r12 directive's pin: N pool workers attached to the shared
    export must NOT each pay the artifact in private resident memory.
    A fork child that decodes PRIVATELY grows its USS by ~the artifact
    size; a child that ATTACHES grows by page tables + python noise only.
    (Fork context: the artifact is exported before forking, so the shm
    mapping is inherited — exactly the pool deployment shape.)"""
    path = str(tmp_path / "packed_big")
    # ~25 MB vectors + ~6 MB adjacency: big enough that sharing vs copying
    # is unambiguous over allocator noise
    n, d = 100_000, 64
    _write_fake_packed(path, n=n, d=d, degree=4)
    art_bytes = n * d * 4

    exp = V.export_packed_shared(path)
    assert exp is not None
    shm_name, manifest = exp

    ctx = multiprocessing.get_context("fork")
    deltas = {}
    for mode in ("attach", "private"):
        q = ctx.Queue()
        p = ctx.Process(target=_child_measure,
                        args=(path, mode, shm_name, manifest, q))
        p.start()
        status, delta, _ = q.get(timeout=120)
        p.join(timeout=30)
        assert status == "ok", delta
        deltas[mode] = delta

    assert deltas["private"] > 0.8 * art_bytes  # decode really is a copy
    # the shared attach must cost well under half a private copy (in
    # practice: page tables + interpreter noise, single-digit MB)
    assert deltas["attach"] < 0.5 * deltas["private"], deltas

    _drop_local_state(path)
    V.release_packed_shared(shm_name)


def test_pool_worker_attaches_shared(tmp_path):
    """End-to-end pool plumbing without Spark: _hpool_init with
    shared_graphs attaches the segment (no private decode), and the
    serve cache is populated for the engine that follows."""
    path = str(tmp_path / "packed_pool")
    _write_fake_packed(path, cents=1, n=200, d=8)
    exp = V.export_packed_shared(path)
    assert exp is not None
    shm_name, manifest = exp

    def probe(q):
        try:
            V.attach_packed_shared(path, shm_name, manifest)
            _, cache = V._LOCAL_PACKED_CACHE[path]
            q.put(("ok", len(cache), path in V._SHM_ATTACHED))
        except Exception as e:  # pragma: no cover
            q.put(("err", repr(e), False))

    ctx = multiprocessing.get_context("fork")
    q = ctx.Queue()
    p = ctx.Process(target=probe, args=(q,))
    p.start()
    status, ncents, attached = q.get(timeout=60)
    p.join(timeout=30)
    assert (status, ncents, attached) == ("ok", 1, True)

    _drop_local_state(path)
    V.release_packed_shared(shm_name)
