"""Serving over committed snapshots: every reader pins one manifest, every
artifact lives at a path no commit rewrites, and the per-path serve caches
stay bounded while builds and refreshes keep naming new paths."""

import threading
import time

from pyspark.sql import Row

from semadb_spark import Collection
from semadb_spark.plans.local_engine import LocalServeUnsupported

SCHEMA = {
    "body": {"type": "text", "text": {"analyser": "standard"}},
    "n": {"type": "integer", "integer": {}},
}
WORDS = ["alpha", "beta", "gamma", "delta", "omega"]


def _text(value: str, limit: int = 10) -> dict:
    return {"property": "body", "text": {
        "operator": "containsAny", "value": value, "limit": limit}}


REQUESTS = [
    {"query": _text("alpha omega"), "limit": 10},
    {"query": {"property": "_and", "_and": [
        _text("gamma fresh"),
        {"property": "n", "integer": {"operator": "lessThan", "value": 60}},
    ]}, "limit": 10},
    {"query": {"property": "n", "integer": {
        "operator": "greaterThanOrEquals", "value": 100}}, "limit": 50},
]


def _answer(coll, req) -> str:
    try:
        return coll.search_local(req).to_csv(index=False)
    except LocalServeUnsupported:
        return "unsupported"


def _load(spark, path: str, rows: int = 120) -> Collection:
    coll = Collection.create(spark, path, SCHEMA, num_buckets=4)
    coll.insert(spark.createDataFrame([
        Row(_id=f"d{i:03d}", body=f"{WORDS[i % 5]} {WORDS[(3 * i) % 5]} doc{i}",
            n=i)
        for i in range(rows)
    ]))
    coll.build_text_index("body")
    return coll


def test_readers_and_pool_see_only_committed_versions(spark, tmp_path):
    """A writer loops DML, refresh and a rebuild at an unchanged snapshot
    while four reader threads call search_local, each on its own
    Collection.open_local, and a 2-worker HybridServePool serves. Every
    local answer equals the reference answer of one committed version (or
    is LocalServeUnsupported: a text leg between a DML and its refresh);
    every pool answer equals the reference of the version the pool opened
    on, although its workers only start after the first DML commit."""
    path = str(tmp_path / "stress")
    coll = _load(spark, path)
    refs: dict[int, list[str]] = {}

    def reference() -> None:
        # single writer: nothing commits between the commit and this read
        c = Collection.open_local(path)
        refs[c._current_version()] = [_answer(c, r) for r in REQUESTS]

    reference()
    pool_version = coll._current_version()
    done, first_dml = threading.Event(), threading.Event()
    seen: list[tuple[int, str]] = []
    pool_seen: list[tuple[int, str]] = []
    errors: list[str] = []

    warm = threading.Barrier(5)  # four readers + the writer

    def reader() -> None:
        c = Collection.open_local(path)
        try:
            for i, r in enumerate(REQUESTS):  # serving before the writer starts
                seen.append((i, _answer(c, r)))
            warm.wait(60)
            while not done.is_set():
                for i, r in enumerate(REQUESTS):
                    seen.append((i, _answer(c, r)))
                    time.sleep(0.01)  # leave the writer thread the GIL
        except Exception as e:  # every failure is a finding
            errors.append(f"reader: {e!r}")

    def pool_client(pool) -> None:
        first_dml.wait(60)
        try:
            while not done.is_set():
                for i, r in enumerate(REQUESTS):
                    pool_seen.append((i, pool.search(r).to_csv(index=False)))
        except Exception as e:
            errors.append(f"pool: {e!r}")

    with coll.open_search_pool(workers=2) as pool:
        threads = [threading.Thread(target=reader) for _ in range(4)]
        threads.append(threading.Thread(target=pool_client, args=(pool,)))
        for t in threads:
            t.start()
        try:
            warm.wait(60)
            for rnd in range(2):
                # a rebuild of the index readers are serving, same snapshot
                coll.build_text_index("body")
                reference()
                coll.insert(spark.createDataFrame(
                    [Row(_id=f"w{rnd}", body="alpha omega gamma fresh",
                         n=100 + rnd)]
                ))
                reference()
                first_dml.set()
                coll.refresh_text_index("body")
                reference()
        finally:
            first_dml.set()
            done.set()
            for t in threads:
                t.join(60)

    assert not errors, errors[:3]
    assert len(refs) == 7  # the loaded version + 2 rounds x 3 commits
    allowed = [{v[i] for v in refs.values()} | {"unsupported"}
               for i in range(len(REQUESTS))]
    bad = [(i, a[:80]) for i, a in seen if a not in allowed[i]]
    assert not bad, bad[:3]
    served = [a for i, a in seen if i == 0 and a != "unsupported"]
    assert served, "no reader ever served the text leg"
    assert pool_seen
    want = refs[pool_version]
    assert all(a == want[i] for i, a in pool_seen)


def test_search_pool_serves_the_version_it_opened_on(spark, tmp_path):
    """Pool workers start on demand, yet every one serves the snapshot the
    pool opened on: an insert committed after the open, before any worker
    started, stays invisible to the pool."""
    coll = Collection.create(spark, str(tmp_path / "pin"),
                             {"n": {"type": "integer", "integer": {}}},
                             num_buckets=2)
    coll.insert(spark.createDataFrame([Row(_id=f"p{i}", n=i) for i in range(6)]))
    req = {"query": {"property": "n", "integer": {
        "operator": "greaterThanOrEquals", "value": 0}}, "limit": 20}
    want = coll.search_local(req)
    with coll.open_search_pool(workers=2) as pool:
        coll.insert(spark.createDataFrame([Row(_id="new0", n=7)]))
        got = pool.search(req)
        many = pool.search_many([req] * 4)
    assert "new0" in set(coll.search_local(req)["_id"])
    assert got.equals(want)
    assert all(m.equals(want) for m in many)


def test_serve_caches_stay_bounded_across_refreshes(spark, tmp_path):
    """Every refresh names a new text artifact path; after more refreshes
    than the cap, served in one process, the dataset cache and this
    thread's row-group handle cache each hold at most the cap, and the
    handles of a dropped path are closed."""
    from semadb_spark.operators import text_search as ts
    from semadb_spark.operators._pool import MAX_CACHED_ARTIFACTS

    coll = _load(spark, str(tmp_path / "bounded"), rows=40)
    coll.search_local(REQUESTS[0])
    first = ts._local_rowgroup_index(coll._index_path("body"))
    handles = [pf for files in first.values() for pf, _ in files]
    assert handles
    paths = {coll._index_path("body")}
    for rnd in range(MAX_CACHED_ARTIFACTS + 1):
        coll.insert(spark.createDataFrame(
            [Row(_id=f"w{rnd}", body=f"alpha fresh{rnd}", n=200 + rnd)]))
        coll.refresh_text_index("body")
        got = coll.search_local({"query": _text(f"fresh{rnd}"), "limit": 10})
        assert list(got["_id"]) == [f"w{rnd}"]
        paths.add(coll._index_path("body"))
    assert len(paths) == MAX_CACHED_ARTIFACTS + 2
    assert len(ts._LOCAL_DATASET_CACHE) <= MAX_CACHED_ARTIFACTS
    assert len(ts._LOCAL_RG_INDEX_CACHE.by_path) <= MAX_CACHED_ARTIFACTS
    assert all(pf.closed for pf in handles)
