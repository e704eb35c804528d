"""W1/W2/W3 write-path semantics, mirroring the reference's shard tests
(shard/shard_vector_test.go:364-824 CRUD + duplicate rejection + persistence,
shard/shard_misc_test.go:10-77 update-merge + "_delete" sentinel)."""

import pytest
from pyspark.sql import Row, functions as F

from semadb_spark.collection import Collection, DuplicatePointError, apply_update_merge

SCHEMA = {
    "vec": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 2, "distanceMetric": "euclidean"}},
    "tag": {"type": "string", "string": {"caseSensitive": False}},
    "size": {"type": "integer", "integer": {}},
}


def _points(spark, n, start=0):
    rows = [
        Row(
            _id=f"p{i}",
            vec=[float(i), float(i)],
            tag=f"tag{i % 3}",
            size=i,
            payload={"note": f"n{i}"},
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture
def coll(spark, tmp_path):
    return Collection.create(spark, str(tmp_path / "coll"), SCHEMA)


def test_create_open_empty(spark, coll):
    assert coll.count() == 0
    reopened = Collection.open(spark, coll.path)
    assert reopened.count() == 0
    assert set(reopened.schema.keys()) == set(SCHEMA.keys())


def test_insert_and_read_back(spark, coll):
    assert coll.insert(_points(spark, 10)) == 10
    assert coll.count() == 10
    # F9: point lookup by _id
    row = coll.df().filter(F.col("_id") == "p3").collect()
    assert len(row) == 1 and row[0].size == 3 and row[0].payload["note"] == "n3"


def test_insert_duplicate_in_batch_rejected(spark, coll):
    pts = _points(spark, 3).union(_points(spark, 1))
    with pytest.raises(DuplicatePointError, match="duplicate point id"):
        coll.insert(pts)
    assert coll.count() == 0  # all-or-nothing


def test_insert_existing_rejected(spark, coll):
    coll.insert(_points(spark, 5))
    with pytest.raises(DuplicatePointError, match="point already exists"):
        coll.insert(_points(spark, 2, start=4))  # p4 clashes
    assert coll.count() == 5


def test_update_merge_keeps_untouched_keys(spark, coll):
    coll.insert(_points(spark, 5))
    upd = spark.createDataFrame([Row(_id="p1", tag="fresh")])
    assert sorted(coll.update(upd)) == ["p1"]
    r = coll.df().filter(F.col("_id") == "p1").collect()[0]
    assert r.tag == "fresh"
    assert r.size == 1 and r.vec == [1.0, 1.0]  # untouched keys survive


def test_update_delete_sentinel_string(spark, coll):
    coll.insert(_points(spark, 3))
    upd = spark.createDataFrame([Row(_id="p2", tag="_delete")])
    coll.update(upd)
    r = coll.df().filter(F.col("_id") == "p2").collect()[0]
    assert r.tag is None and r.size == 2


def test_update_unset_typed_column(spark, coll):
    coll.insert(_points(spark, 3))
    upd = spark.createDataFrame([Row(_id="p0", size=99, _unset=["vec"])])
    coll.update(upd)
    r = coll.df().filter(F.col("_id") == "p0").collect()[0]
    assert r.vec is None and r.size == 99


def test_update_payload_map_merge(spark, coll):
    coll.insert(_points(spark, 2))
    upd = spark.createDataFrame(
        [Row(_id="p0", payload={"note": "_delete", "extra": "x"})]
    )
    coll.update(upd)
    r = coll.df().filter(F.col("_id") == "p0").collect()[0]
    assert r.payload == {"extra": "x"}  # note dropped, extra added


def test_update_missing_point_is_noop(spark, coll):
    coll.insert(_points(spark, 2))
    upd = spark.createDataFrame([Row(_id="ghost", tag="x"), Row(_id="p1", tag="y")])
    assert coll.update(upd) == ["p1"]
    assert coll.count() == 2


def test_delete_and_missing_noop(spark, coll):
    coll.insert(_points(spark, 5))
    assert sorted(coll.delete(["p1", "p3", "ghost"])) == ["p1", "p3"]
    assert coll.count() == 3
    assert coll.delete(["ghost2"]) == []
    # reinsert a deleted id works (id freed, shard/shard_vector_test.go)
    coll.insert(_points(spark, 1, start=1))
    assert coll.count() == 4


def test_delete_id_list_is_a_local_scan(spark, coll, monkeypatch):
    """delete(list) turns the ids into a LocalTableScan, not a pickled
    Python RDD, so none of its three actions starts a Python worker."""
    coll.insert(_points(spark, 3))
    frames = []
    buckets_of = Collection._buckets_of
    monkeypatch.setattr(
        Collection, "_buckets_of",
        lambda self, ids_df: frames.append(ids_df) or buckets_of(self, ids_df),
    )
    assert coll.delete(["p1", "ghost"]) == ["p1"]
    plan = frames[0]._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_persistence_across_reopen(spark, coll):
    coll.insert(_points(spark, 4))
    coll.delete(["p0"])
    re = Collection.open(spark, coll.path)
    assert re.count() == 3
    assert sorted(r._id for r in re.df().select("_id").collect()) == ["p1", "p2", "p3"]


def test_collection_search_end_to_end(spark, coll):
    """create -> insert -> search, the reference's full shard lifecycle
    (httpapi/v2/handlers_test.go create/insert/search flow)."""
    coll.insert(_points(spark, 10))
    res = coll.search(
        {
            "query": {
                "property": "_and",
                "_and": [
                    {"property": "tag", "string": {"operator": "equals", "value": "tag1"}},
                    {"property": "size", "integer": {"operator": "greaterThan", "value": 2}},
                ],
            },
            "select": ["size"],
            "sort": [{"property": "size", "descending": True}],
            "limit": 10,
        }
    ).collect()
    assert [r.size for r in res] == [7, 4]  # tag1 = sizes 1,4,7; >2 desc
    # vector search over the same collection
    res = coll.search(
        {
            "query": {
                "property": "vec",
                "vectorFlat": {"vector": [5.0, 5.0], "operator": "near", "limit": 3},
            },
            "limit": 3,
        }
    ).collect()
    assert [r._id for r in res] == ["p5", "p4", "p6"]


def test_apply_update_merge_pure(spark):
    existing = spark.createDataFrame(
        [Row(_id="a", x=1, y="old"), Row(_id="b", x=2, y="keep")]
    )
    upd = spark.createDataFrame([Row(_id="a", y="new")])
    out = {r._id: r for r in apply_update_merge(existing, upd).collect()}
    assert out["a"].y == "new" and out["a"].x == 1
    assert out["b"].y == "keep"


def test_apply_update_merge_unknown_column(spark):
    existing = spark.createDataFrame([Row(_id="a", x=1)])
    upd = spark.createDataFrame([Row(_id="a", zz=5)])
    with pytest.raises(ValueError, match="update columns not in collection"):
        apply_update_merge(existing, upd)


def test_persisted_text_index(spark, tmp_path):
    """W6 as a collection-level artifact: build_text_index materializes the
    posting table + numDocs counter beside the snapshot; search uses it and
    matches the ad-hoc path exactly; a new snapshot invalidates it."""
    schema = dict(SCHEMA, text={"type": "text", "text": {"analyser": "standard"}})
    coll = Collection.create(spark, str(tmp_path / "tcoll"), schema)
    rows = [
        Row(_id=f"d{i}", vec=[float(i), 0.0], tag="t", size=i,
            text=f"spark engine document number {i}" + (" query" if i % 2 else ""))
        for i in range(20)
    ]
    coll.insert(spark.createDataFrame(rows))
    req = {"query": {"property": "text", "text": {"operator": "containsAny",
                                                  "value": "query engine", "limit": 10}},
           "limit": 10}
    adhoc = [(r._id, round(r._score, 9)) for r in coll.search(req).collect()]
    stats = coll.build_text_index()
    assert stats == {"text": 20}
    import os
    assert os.path.exists(os.path.join(coll._index_path("text"), "_SUCCESS"))
    res = coll.search(req)
    indexed = [(r._id, round(r._score, 9)) for r in res.collect()]
    assert indexed == adhoc
    # the term-bucket layout prunes partitions before reading any rows
    plan = res._jdf.queryExecution().executedPlan().toString()
    sections = plan.split("PartitionFilters: [")[1:]
    assert any("term_bucket" in s.split("]")[0] for s in sections), plan
    # new snapshot -> version-pinned index is stale and must not be used
    coll.insert(spark.createDataFrame(
        [Row(_id="d99", vec=[9.0, 9.0], tag="t", size=99, text="query query query")]))
    idxs, _ = coll._text_indexes()
    assert idxs == {}
    post = coll.search(req).collect()
    assert "d99" in {r._id for r in post}


def test_persisted_vector_index(spark, tmp_path):
    """W7 analogue: build_vector_index persists an IVF artifact
    (partitionBy centroid_id) and vectorVamana searches serve from it;
    vectorFlat still serves exact."""
    schema = {
        "vec": {"type": "vectorVamana",
                "vectorVamana": {"vectorSize": 2, "distanceMetric": "euclidean",
                                  "searchSize": 75, "degreeBound": 64, "alpha": 1.2}},
        "tag": {"type": "string", "string": {"caseSensitive": False}},
    }
    coll = Collection.create(spark, str(tmp_path / "vcoll"), schema)
    rows = [Row(_id=f"p{i}", vec=[float(i % 20), float(i // 20)], tag=f"t{i%3}")
            for i in range(200)]
    coll.insert(spark.createDataFrame(rows))
    req = {"query": {"property": "vec",
                     "vectorVamana": {"vector": [3.0, 4.0], "operator": "near", "limit": 5}},
           "limit": 5}
    exact = [(r._id, r._distance) for r in coll.search(req).collect()]
    nlist = coll.build_vector_index("vec", nlist=8)
    assert nlist == 8
    approx = [(r._id, r._distance) for r in coll.search(req).collect()]
    assert approx[0] == exact[0]                       # true nearest found
    assert len(set(a for a, _ in approx) & set(e for e, _ in exact)) >= 3
    # filtered vectorVamana probes the index with the pre-filter id set
    # (the reference's optimistic filtered-ANN mode) — results must satisfy
    # the filter
    freq = {"query": {"property": "vec",
                      "vectorVamana": {"vector": [3.0, 4.0], "operator": "near", "limit": 5,
                                        "filter": {"property": "tag", "string":
                                                   {"operator": "equals", "value": "t0"}}}},
            "limit": 5}
    filt = coll.search(freq).collect()
    assert all(r.tag == "t0" for r in spark.createDataFrame([(r._id,) for r in filt], "_id string")
               .join(coll.df(), "_id").collect())
    # new snapshot invalidates the ANN artifact -> exact again, sees new point
    coll.insert(spark.createDataFrame([Row(_id="new", vec=[3.0, 4.0], tag="t9")]))
    post = coll.search(req).collect()
    assert post[0]._id == "new" and post[0]._distance == 0.0


def test_quantized_vector_index_fused_serving(spark, tmp_path):
    """Quantizer-in-the-index parity (vamana.go:257-259 — the reference
    plugs the fitted quantizer INTO the vector index): with a binary
    quantizer fit, build_vector_index co-locates the frozen codes with the
    floats in the partitioned IVF artifact, and vectorVamana searches serve
    through the fused hamming-prefilter + in-batch exact-rerank kernel."""
    import numpy as np

    schema = {
        "vec": {"type": "vectorVamana",
                "vectorVamana": {"vectorSize": 4, "distanceMetric": "euclidean",
                                  "searchSize": 75, "degreeBound": 64, "alpha": 1.2,
                                  "quantizer": {"type": "binary", "binary": {
                                      "distanceMetric": "hamming",
                                      "triggerThreshold": 10}}}},
        "tag": {"type": "string", "string": {"caseSensitive": False}},
    }
    coll = Collection.create(spark, str(tmp_path / "qvcoll"), schema)
    rng = np.random.RandomState(3)
    X = np.repeat(rng.normal(size=(10, 4)), 30, axis=0) + rng.normal(
        scale=0.1, size=(300, 4)
    )
    rows = [Row(_id=f"p{i}", vec=[float(x) for x in X[i]], tag=f"t{i % 3}")
            for i in range(300)]
    coll.insert(spark.createDataFrame(rows))  # autofit crosses threshold
    req = {"query": {"property": "vec",
                     "vectorVamana": {"vector": [float(x) for x in X[7]],
                                       "operator": "near", "limit": 5}},
           "limit": 5}
    # with the quantizer auto-fit, pre-index serving is the flat quantized
    # route (hamming over codes — reference vectorstore.go:75+ serves every
    # query through the fitted quantizer); ground truth comes from a direct
    # exact scan instead
    from semadb_spark.operators.knn import knn_topk

    pre = coll.search(req).collect()
    assert all(float(r._distance).is_integer() for r in pre)  # hamming route
    exact = [(r._id, round(r._distance, 9)) for r in knn_topk(
        coll.df(), "vec", [float(x) for x in X[7]], "euclidean", 5, id_col="_id"
    ).collect()]
    coll.build_vector_index("vec", nlist=4)
    # artifact carries the codes and the engine sees an IVFBQ index
    from semadb_spark.operators.ann import IVFBQIndex

    vidx = coll._vector_indexes()
    assert isinstance(vidx["vec"], IVFBQIndex)
    assert "bq_code" in spark.read.parquet(coll._vindex_path("vec")).columns
    res = coll.search(req)
    # the fused scan must prune the partitioned artifact by probed centroid
    plan = res._jdf.queryExecution().executedPlan().toString()
    sections = plan.split("PartitionFilters: [")[1:]
    assert any("centroid_id" in s.split("]")[0] for s in sections), plan
    served = [(r._id, round(r._distance, 9)) for r in res.collect()]
    # clustered corpus, generous searchSize: the fused route must find the
    # true nearest and mostly agree with exact
    assert served[0] == exact[0]
    assert len({a for a, _ in served} & {e for e, _ in exact}) >= 4
    # distances are exact floats (reranked), not hamming integers
    assert any(d != int(d) for _, d in served)
    # filtered serving stays inside the filter
    freq = {"query": {"property": "vec",
                      "vectorVamana": {"vector": [float(x) for x in X[7]],
                                        "operator": "near", "limit": 5,
                                        "filter": {"property": "tag", "string":
                                                   {"operator": "equals", "value": "t0"}}}},
            "limit": 5}
    filt = coll.search(freq).collect()
    assert filt and all(
        r.tag == "t0"
        for r in spark.createDataFrame([(r._id,) for r in filt], "_id string")
        .join(coll.df(), "_id").collect()
    )


def test_quantized_vector_index_fused_serving_pq(spark, tmp_path):
    """Product-quantizer twin of the fused-artifact test: pq codes join the
    IVF artifact and vectorVamana searches serve through the fused
    ADC-prefilter + in-batch exact-rerank kernel."""
    import numpy as np

    schema = {
        "vec": {"type": "vectorVamana",
                "vectorVamana": {"vectorSize": 8, "distanceMetric": "euclidean",
                                  "searchSize": 75, "degreeBound": 64, "alpha": 1.2,
                                  "quantizer": {"type": "product", "product": {
                                      "numCentroids": 16, "numSubVectors": 4,
                                      "triggerThreshold": 1000}}}},
    }
    coll = Collection.create(spark, str(tmp_path / "pqvcoll"), schema)
    rng = np.random.RandomState(5)
    X = np.repeat(rng.normal(size=(10, 8)), 30, axis=0) + rng.normal(
        scale=0.1, size=(300, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i}", vec=[float(x) for x in X[i]]) for i in range(300)]
    ))
    # below the trigger: fit explicitly (the reference's explicit-build
    # path), then the artifact build picks the codes up
    coll.build_quantized_index("vec")
    coll.build_vector_index("vec", nlist=4)
    from semadb_spark.operators.ann import IVFPQIndex
    from semadb_spark.operators.knn import knn_topk

    assert isinstance(coll._vector_indexes()["vec"], IVFPQIndex)
    assert "pq_code" in spark.read.parquet(coll._vindex_path("vec")).columns
    req = {"query": {"property": "vec",
                     "vectorVamana": {"vector": [float(x) for x in X[7]],
                                       "operator": "near", "limit": 5}},
           "limit": 5}
    served = [(r._id, round(r._distance, 9)) for r in coll.search(req).collect()]
    exact = [(r._id, round(r._distance, 9)) for r in knn_topk(
        coll.df(), "vec", [float(x) for x in X[7]], "euclidean", 5, id_col="_id"
    ).collect()]
    assert served[0] == exact[0]
    assert len({a for a, _ in served} & {e for e, _ in exact}) >= 4


def test_update_rejects_duplicate_batch_ids(spark, coll):
    coll.insert(spark.createDataFrame([Row(_id=f"q{i}", name=f"n{i}", price=1.0) for i in range(3)]))
    dup = spark.createDataFrame([Row(_id="q1", price=2.0), Row(_id="q1", price=3.0)])
    with pytest.raises(DuplicatePointError, match="duplicate update id"):
        coll.update(dup)


def test_bucketed_dml_rewrites_only_affected_buckets(spark, tmp_path):
    # The O(k·bucket) invariant: an update of k points must write only the
    # bucket dirs its ids hash to; every other bucket carries forward by
    # manifest pointer to the PREVIOUS snapshot dir (round-1 finding: a full
    # copy-on-write rewrite is a 100 TB killer).
    import os

    coll = Collection.create(spark, str(tmp_path / "bcoll"), SCHEMA, num_buckets=8)
    pts = spark.createDataFrame(
        [Row(_id=f"p{i:04d}", name=f"n{i}", price=float(i)) for i in range(400)]
    )
    coll.insert(pts)
    v_before = coll._current_version()
    manifest_before = coll._manifest()
    assert len(manifest_before) == 8  # 400 ids cover all 8 buckets

    upd = spark.createDataFrame([Row(_id="p0007", price=999.0)])
    affected = coll._buckets_of(upd.select("_id"))
    assert len(affected) == 1
    assert coll.update(upd) == ["p0007"]

    v_after = coll._current_version()
    new_dir = coll._data_path(v_after)
    written = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(new_dir) if d.startswith("_bucket=")
    )
    assert written == affected  # only the touched bucket was rewritten
    manifest_after = coll._manifest()
    for b, p in manifest_after.items():
        if int(b) in affected:
            assert p.startswith(f"v{v_after}/")
        else:
            assert p == manifest_before[b]  # untouched pointer carried over

    # semantics intact: full read-back sees the merge, count unchanged
    assert coll.count() == 400
    row = coll.df().filter(F.col("_id") == "p0007").first()
    assert row["price"] == 999.0 and row["name"] == "n7"

    # delete prunes the same way
    assert coll.delete(["p0007"]) == ["p0007"]
    v_del = coll._current_version()
    del_written = [
        d for d in os.listdir(coll._data_path(v_del)) if d.startswith("_bucket=")
    ]
    assert len(del_written) == 1
    assert coll.count() == 399


def test_vacuum_keeps_referenced_versions(spark, tmp_path):
    import os

    coll = Collection.create(spark, str(tmp_path / "vac"), SCHEMA, num_buckets=4)
    pts = spark.createDataFrame(
        [Row(_id=f"x{i:03d}", name=f"n{i}", price=float(i)) for i in range(100)]
    )
    coll.insert(pts)  # v1 writes all 4 buckets
    for i in range(3):  # v2..v4 each rewrite one bucket
        coll.update(spark.createDataFrame([Row(_id=f"x{i:03d}", price=1000.0 + i)]))
    cur = coll._current_version()
    assert cur == 4
    removed = coll.vacuum(keep_versions=1)
    # v0 (empty create) is unreferenced; v1 must SURVIVE — the current
    # manifest still points at its untouched buckets
    assert 0 in removed and 1 not in removed
    dirs = {d for d in os.listdir(str(tmp_path / "vac")) if d.startswith("v")}
    assert "v1" in dirs and "v0" not in dirs
    # reads stay intact after vacuum
    assert coll.count() == 100
    assert coll.df().filter(F.col("_id") == "x001").first()["price"] == 1001.0
    # reopen works too
    assert Collection.open(spark, str(tmp_path / "vac")).count() == 100


def test_refresh_vector_index_incremental(spark, tmp_path):
    # W4: after DML, refresh_vector_index rolls the IVF artifact forward
    # with frozen centroids, re-assigning ONLY rows in dirty buckets.
    import numpy as np

    rng = np.random.RandomState(3)
    schema = {
        "v": {"type": "vectorVamana", "vectorVamana": {"vectorSize": 8, "distanceMetric": "euclidean"}},
    }
    coll = Collection.create(spark, str(tmp_path / "ivfc"), schema, num_buckets=8)
    X = rng.normal(size=(200, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"a{i:03d}", v=[float(x) for x in X[i]]) for i in range(200)]
    ))
    coll.build_vector_index("v", nlist=4)
    # DML: insert a distinctive new point far away + delete one old point
    far = [9.0] * 8
    coll.insert(spark.createDataFrame([Row(_id="new00", v=far)]))
    coll.delete(["a005"])
    n = coll.refresh_vector_index("v")
    assert n > 0  # only dirty-bucket rows reassigned, but at least the new one
    idx = spark.read.parquet(coll._vindex_path("v"))
    assert idx.filter(F.col("_id") == "new00").count() == 1
    assert idx.filter(F.col("_id") == "a005").count() == 0
    assert idx.count() == 200  # 200 + 1 - 1
    # search serves from the refreshed artifact and finds the new point
    res = coll.search({"query": {"property": "v", "vectorVamana": {
        "vector": far, "operator": "near", "limit": 3, "searchSize": 25}}})
    assert res.first()["_id"] == "new00"
    # clean rows kept their stored assignment (no refit drift): compare a
    # clean bucket's assignments before/after
    n2 = coll.refresh_vector_index("v")
    assert n2 == 0  # already current -> no work


def test_refresh_vector_index_quantized_artifact(spark, tmp_path):
    """Roll-forward of a QUANTIZED IVF artifact: fresh rows are re-encoded
    with the frozen binary fit so the refreshed artifact keeps codes beside
    floats and fused serving still works after DML."""
    import numpy as np

    schema = {
        "v": {"type": "vectorVamana",
              "vectorVamana": {"vectorSize": 8, "distanceMetric": "euclidean",
                                "quantizer": {"type": "binary", "binary": {
                                    "distanceMetric": "hamming",
                                    "triggerThreshold": 10}}}},
    }
    coll = Collection.create(spark, str(tmp_path / "qivfc"), schema, num_buckets=8)
    rng = np.random.RandomState(4)
    X = rng.normal(size=(120, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"a{i:03d}", v=[float(x) for x in X[i]]) for i in range(120)]
    ))
    coll.build_vector_index("v", nlist=4)
    assert "bq_code" in spark.read.parquet(coll._vindex_path("v")).columns
    far = [9.0] * 8
    coll.insert(spark.createDataFrame([Row(_id="new00", v=far)]))
    n = coll.refresh_vector_index("v")
    assert n > 0
    idx = spark.read.parquet(coll._vindex_path("v"))
    assert "bq_code" in idx.columns
    # the fresh row carries a code (frozen-fit re-encode, not null)
    assert idx.filter(F.col("_id") == "new00").first()["bq_code"] is not None
    from semadb_spark.operators.ann import IVFBQIndex

    assert isinstance(coll._vector_indexes()["v"], IVFBQIndex)
    res = coll.search({"query": {"property": "v", "vectorVamana": {
        "vector": far, "operator": "near", "limit": 3, "searchSize": 25}}})
    assert res.first()["_id"] == "new00"


def test_build_vamana_export_artifact(spark, tmp_path):
    import json
    import os

    import numpy as np

    from semadb_spark.operators import vamana as vm

    rng = np.random.RandomState(8)
    X = rng.normal(size=(150, 8))
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "vamcoll"), schema, num_buckets=4)
    coll.insert(spark.createDataFrame(
        [Row(_id=f"{i:03d}", v=[float(x) for x in X[i]]) for i in range(150)]
    ))
    path = coll.build_vamana_index("v", num_shards=2, seed=5)
    edges = spark.read.parquet(os.path.join(path, "edges"))
    with open(os.path.join(path, "_graph.json")) as f:
        meta = json.load(f)
    assert meta["degree_bound"] == 32 and meta["metric"] == "euclidean"
    adj: dict = {}
    for r in edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
    reachable = vm.bfs_reachable(adj, meta["entry_id"])
    assert len(reachable) == 150  # exported graph fully navigable

    # distributed serving from the persisted artifact: a FRESH collection
    # handle (no in-memory state) serves queries via partition-local beam
    # search; recall vs exact >= limit/2 (vamana_test.go:230-253)
    coll2 = Collection.open(spark, str(tmp_path / "vamcoll"))
    queries = [(f"q{i}", [float(x) for x in X[i]]) for i in range(5)]
    got = coll2.vamana_search("v", queries, k=10)
    rows = got.collect()  # k x q result rows only — never edges/vectors
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r._id)
    d2 = ((X[None, :, :] - X[:5, None, :]) ** 2).sum(axis=2)
    for i in range(5):
        exact = {f"{j:03d}" for j in np.argsort(d2[i], kind="stable")[:10]}
        assert len(by_q[f"q{i}"] & exact) >= 5, f"recall below 0.5 for q{i}"

    # routed serving (nprobe=1 of 2 centroids) still finds the query's own
    # neighbourhood — the query point itself must be in the probed shard
    routed = coll2.vamana_search("v", queries, k=10, nprobe=1)
    by_qr: dict = {}
    for r in routed.collect():
        by_qr.setdefault(r.query_id, set()).add(r._id)
    for i in range(5):
        assert f"{i:03d}" in by_qr[f"q{i}"]


def test_build_vamana_index_pack_dtype_float16(spark, tmp_path):
    """pack_dtype="float16" halves packed blob bytes (serving is
    artifact-transfer-bound at scale); precision is storage-only — the
    graph, _graph.json metadata, serving recall, and a roll-forward
    refresh all behave as with float32, and the refresh PRESERVES the
    declared dtype instead of silently repacking float32."""
    import json
    import os

    import numpy as np

    rng = np.random.RandomState(11)
    X = rng.normal(size=(150, 8))
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "vam16"), schema, num_buckets=4)
    coll.insert(spark.createDataFrame(
        [Row(_id=f"{i:03d}", v=[float(x) for x in X[i]]) for i in range(150)]
    ))
    path = coll.build_vamana_index("v", num_shards=2, seed=5, pack_dtype="float16")
    with open(os.path.join(path, "_graph.json")) as f:
        meta = json.load(f)
    assert meta["pack_dtype"] == "float16"
    # blob bytes really are half-width: n rows x 8 dims x 2 bytes
    packed = spark.read.parquet(os.path.join(path, "packed"))
    r0 = packed.first()
    assert len(r0["vecs"]) == r0["n"] * 8 * 2

    queries = [(f"q{i}", [float(x) for x in X[i]]) for i in range(5)]
    got = coll.vamana_search("v", queries, k=10)
    by_q: dict = {}
    for r in got.collect():
        by_q.setdefault(r.query_id, set()).add(r._id)
    d2 = ((X[None, :, :] - X[:5, None, :]) ** 2).sum(axis=2)
    for i in range(5):
        exact = {f"{j:03d}" for j in np.argsort(d2[i], kind="stable")[:10]}
        assert len(by_q[f"q{i}"] & exact) >= 5, f"recall below 0.5 for q{i}"

    # roll-forward refresh keeps float16 packing
    coll.insert(spark.createDataFrame([Row(_id="new00", v=[4.0] * 8)]))
    assert coll.refresh_vamana_index("v") > 0
    # locate the refreshed _graph.json (highest-numbered version dir)
    vdirs = sorted(
        (d for d in os.listdir(str(tmp_path / "vam16")) if d.endswith("_idx")),
        key=lambda d: int(d[1:].split("_")[0]),
    )
    gpath = os.path.join(str(tmp_path / "vam16"), vdirs[-1], "vamana_v")
    with open(os.path.join(gpath, "_graph.json")) as f:
        meta2 = json.load(f)
    assert meta2["pack_dtype"] == "float16"
    got2 = coll.vamana_search("v", [("qn", [4.0] * 8)], k=3)
    assert "new00" in {r._id for r in got2.collect()}


def test_quantizer_autofit_trigger(spark, tmp_path):
    """Insert-path auto-fit parity (binary.go:145+, product.go:175-236):
    a schema-declared quantizer with triggerThreshold fits itself when the
    stored point count crosses the threshold — no explicit
    build_quantized_index call — then FREEZES: later inserts re-encode the
    new snapshot with the identical fit parameters."""
    import json
    import os

    import numpy as np

    schema = {"v": {"type": "vectorFlat", "vectorFlat": {
        "vectorSize": 4, "distanceMetric": "euclidean",
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 20}}}}}
    coll = Collection.create(spark, str(tmp_path / "afcoll"), schema, num_buckets=4)
    rng = np.random.RandomState(3)
    X = rng.normal(size=(40, 4))

    def pts(lo, hi):
        return spark.createDataFrame(
            [Row(_id=f"p{i}", v=[float(x) for x in X[i]]) for i in range(lo, hi)]
        )

    # below threshold: no quantized artifact, exact serving
    coll.insert(pts(0, 10))
    assert coll._quantized_indexes() == {}

    # crossing builds codes once (fit on the 25 stored points)
    coll.insert(pts(10, 25))
    qi = coll._quantized_indexes()
    assert set(qi) == {"v"} and qi["v"].codes.count() == 25
    meta0 = json.load(open(os.path.join(coll._qindex_path("v"), "_quantizer.json")))

    # a further insert re-encodes the NEW snapshot with the FROZEN fit:
    # codes cover all rows, thresholds identical to the first fit
    coll.insert(pts(25, 40))
    qi = coll._quantized_indexes()
    assert qi["v"].codes.count() == 40
    meta1 = json.load(open(os.path.join(coll._qindex_path("v"), "_quantizer.json")))
    assert meta1["thresholds"] == meta0["thresholds"]

    # and a search on the property serves from the quantized store
    res = coll.search({"query": {"property": "v", "vectorFlat": {
        "vector": [float(x) for x in X[0]], "operator": "near", "limit": 5}}})
    assert res.count() == 5


def test_serving_engine_cache_reuse_and_invalidation(spark, tmp_path):
    """The version-keyed engine cache (shard/cache/manager.go analogue):
    repeated searches on an unchanged collection reuse one engine; DML
    rotates it via the version bump; an index build invalidates it
    explicitly (builds write into the CURRENT version's idx dir, so the
    version alone wouldn't catch them)."""
    coll = Collection.create(spark, str(tmp_path / "ecoll"), SCHEMA, num_buckets=4)
    coll.insert(_points(spark, 10))
    req = {"query": {"property": "vec", "vectorFlat": {
        "vector": [0.0, 0.0], "operator": "near", "limit": 3}}}

    r1 = [r["_id"] for r in coll.search(req).collect()]
    eng = coll._engine_cache
    assert eng is not None
    coll.search(req).collect()
    assert coll._engine_cache is eng, "unchanged version must reuse the engine"

    # DML bumps the snapshot version -> new engine, new data served
    coll.delete([r1[0]])
    r2 = [r["_id"] for r in coll.search(req).collect()]
    assert coll._engine_cache is not eng
    assert r1[0] not in r2

    # text-index build writes into the current version's idx dir; the cache
    # must still rotate so the persisted index is picked up
    tcoll = Collection.create(
        spark, str(tmp_path / "tcoll"),
        {"text": {"type": "text", "text": {"analyser": "standard"}}},
        num_buckets=2,
    )
    tcoll.insert(spark.createDataFrame(
        [Row(_id=f"d{i}", text="spark merges windows fast") for i in range(4)]
    ))
    tcoll.search({"query": {"property": "text", "text": {
        "operator": "containsAny", "value": "spark", "limit": 5}}}).collect()
    eng2 = tcoll._engine_cache
    tcoll.build_text_index("text")
    assert tcoll._engine_cache is None, "index build must invalidate the engine"
    res = tcoll.search({"query": {"property": "text", "text": {
        "operator": "containsAny", "value": "spark", "limit": 5}}})
    assert res.count() == 4
    assert tcoll._engine_cache is not eng2


def _postings(spark, path):
    cols = ["id", "term", "tf", "doc_len", "df"]
    return sorted(map(tuple, spark.read.parquet(path).select(*cols).collect()))


def _doc_stats(path):
    """-> (num_docs, bucket_docs) from an index's _num_docs.json."""
    import json
    import os

    with open(os.path.join(path, "_num_docs.json")) as f:
        stats = json.load(f)
    return stats["num_docs"], stats.get("bucket_docs")


def _jobs(spark, fn, *args):
    """-> (fn(*args), Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, fn.__name__)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs one build_text_index / refresh_text_index runs on the test
# session: the postings write's three adaptive stages (tokenize, postings
# shuffle, write). The document counts are observed on the write stage, and
# the session lists the TERM_BUCKETS term_bucket dirs on the driver, so
# neither a read-back nor a listing job is added.
BUILD_TEXT_JOBS = 3
REFRESH_TEXT_JOBS = 3


def test_refresh_text_index_incremental(spark, tmp_path):
    """refresh_text_index rolls the posting table forward from the bucket
    manifests: re-tokenizes only dirty buckets, recomputes the df of every
    term, and lands on EXACTLY the index a from-scratch rebuild produces
    (rows and num_docs), across insert + update + delete — including an
    update that leaves only stopwords (the doc drops out of the index) and
    a delete that empties a whole data bucket. Build and refresh run a
    pinned number of Spark jobs, and the refreshed per-data-bucket document
    counts equal the rebuilt ones."""
    schema = {"text": {"type": "text", "text": {"analyser": "standard"}}}
    coll = Collection.create(spark, str(tmp_path / "txcoll"), schema, num_buckets=4)
    base = [
        ("d0", "spark merges windows"),
        ("d1", "windows stream past the merge"),
        ("d2", "vectors rank the corpus"),
        ("d3", "corpus quality signals"),
        ("d4", "spark spark spark"),
        ("d7", "quality windows rank"),
        ("d8", "merge the stream"),
        ("d9", "signals past spark"),
    ]
    coll.insert(spark.createDataFrame([Row(_id=i, text=t) for i, t in base]))
    assert _jobs(spark, coll.build_text_index, "text") == (
        {"text": len(base)}, BUILD_TEXT_JOBS
    )
    built = coll._manifest()

    # DML mix: new docs, a text rewrite, a delete, and a stopword-only doc
    coll.insert(spark.createDataFrame(
        [Row(_id="d5", text="fresh spark vectors"), Row(_id="d6", text="merge quality")]
    ))
    coll.update(spark.createDataFrame([
        Row(_id="d1", text="stream quality rank"),
        Row(_id="d3", text="the and of"),
    ]))
    coll.delete(["d2"])
    # then delete every remaining doc of d0's data bucket
    bucket_of = {
        r["_id"]: r["b"]
        for r in coll.df()
        .select("_id", coll._bucket_expr(F.col("_id")).alias("b"))
        .collect()
    }
    emptied = sorted(i for i, b in bucket_of.items() if b == bucket_of["d0"])
    coll.delete(emptied)
    assert str(bucket_of["d0"]) not in coll._manifest()
    # one data bucket stays clean, so the refresh carries old postings
    assert any(built.get(b) == p for b, p in coll._manifest().items())

    n_fresh, jobs = _jobs(spark, coll.refresh_text_index, "text")
    assert jobs == REFRESH_TEXT_JOBS
    assert n_fresh > 0

    path = coll._index_path("text")
    refreshed, refreshed_stats = _postings(spark, path), _doc_stats(path)
    indexed = {r[0] for r in refreshed}
    assert "d3" not in indexed and not (indexed & set(emptied))
    assert {"d1", "d5"} <= indexed
    coll.build_text_index("text")  # from-scratch rebuild of the same snapshot
    assert refreshed == _postings(spark, path)
    assert refreshed_stats == _doc_stats(path)
    num_docs, bucket_docs = refreshed_stats
    assert num_docs == len(indexed) == sum(bucket_docs.values())
    assert bucket_docs[str(bucket_of["d0"])] == 0

    # served scores use the refreshed artifact (idf depends on df and N)
    res = coll.search({"query": {"property": "text", "text": {
        "operator": "containsAny", "value": "spark quality", "limit": 10}}})
    assert res.count() > 0

    # a second refresh with no new DML is a no-op
    assert coll.refresh_text_index("text") == 0


def _assert_build_layout(path):
    """Every term_bucket file is term-sorted and the local tier's row-group
    index finds term min/max statistics on every row group."""
    import glob
    import os

    import pyarrow.parquet as pq

    from semadb_spark.operators.text_search import _local_rowgroup_index

    files = glob.glob(os.path.join(path, "term_bucket=*", "*.parquet"))
    assert files
    for f in files:
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f"{f} is not term-sorted"
    rg_index = _local_rowgroup_index(path)
    assert rg_index is not None
    stats = [s for files in rg_index.values() for _, groups in files for s in groups]
    assert stats and all(lo is not None and hi is not None for lo, hi in stats)


def test_refresh_text_index_keeps_build_layout(spark, tmp_path):
    """A refreshed text index has the same layout as a built one: sorted by
    term inside each term bucket, with term statistics on every row group,
    so text_serve_local keeps pruning row groups after DML."""
    import random

    rnd = random.Random(5)
    words = [f"w{i:03d}" for i in range(400)]
    schema = {"text": {"type": "text", "text": {"analyser": "standard"}}}
    coll = Collection.create(spark, str(tmp_path / "layout"), schema, num_buckets=4)
    coll.insert(spark.createDataFrame([
        Row(_id=f"d{i}", text=" ".join(rnd.choices(words, k=6))) for i in range(300)
    ]))
    # the corpus fills more than 32 term buckets: the pins also show that
    # reading the artifact back lists its directories without a Spark job
    assert _jobs(spark, coll.build_text_index, "text")[1] == BUILD_TEXT_JOBS
    _assert_build_layout(coll._index_path("text"))
    built = coll._manifest()

    coll.insert(spark.createDataFrame([
        Row(_id=f"n{i}", text=" ".join(rnd.choices(words, k=6))) for i in range(20)
    ]))
    coll.update(spark.createDataFrame([
        Row(_id=f"d{i}", text=" ".join(rnd.choices(words, k=4))) for i in range(0, 60, 3)
    ]))
    coll.delete([f"d{i}" for i in range(1, 60, 7)])
    n_fresh, jobs = _jobs(spark, coll.refresh_text_index, "text")
    assert n_fresh > 0 and jobs == REFRESH_TEXT_JOBS
    path = coll._index_path("text")
    _assert_build_layout(path)
    # every data bucket was rewritten, so no old posting was carried; the
    # refresh still equals a rebuild
    assert not set(built.values()) & set(coll._manifest().values())
    refreshed, refreshed_stats = _postings(spark, path), _doc_stats(path)
    coll.build_text_index("text")
    assert refreshed == _postings(spark, path)
    assert refreshed_stats == _doc_stats(path)


def test_refresh_text_index_without_bucket_docs_rebuilds(spark, tmp_path):
    """An index whose _num_docs.json has no bucket_docs (written before the
    per-data-bucket counts existed) refreshes by a full build: the result
    equals a from-scratch rebuild, rows, num_docs and bucket_docs."""
    import json
    import os

    schema = {"text": {"type": "text", "text": {"analyser": "standard"}}}
    coll = Collection.create(spark, str(tmp_path / "legacy"), schema, num_buckets=4)
    coll.insert(spark.createDataFrame([
        Row(_id=f"d{i}", text=f"spark doc {i} merges windows") for i in range(12)
    ]))
    coll.build_text_index("text")
    stats_path = os.path.join(coll._index_path("text"), "_num_docs.json")
    with open(stats_path, "w") as f:
        json.dump({"num_docs": 12}, f)
    coll.update(spark.createDataFrame([Row(_id="d0", text="fresh vectors rank")]))
    coll.delete(["d1"])

    n_fresh = coll.refresh_text_index("text")
    path = coll._index_path("text")
    refreshed, refreshed_stats = _postings(spark, path), _doc_stats(path)
    assert n_fresh == len(refreshed)  # every posting was re-tokenized
    coll.build_text_index("text")
    assert refreshed == _postings(spark, path)
    assert refreshed_stats == _doc_stats(path)
    assert refreshed_stats[0] == 11 == sum(refreshed_stats[1].values())


def test_refresh_vamana_index_incremental(spark, tmp_path):
    """refresh_vamana_index applies the snapshot delta (delete + update +
    insert) to the persisted artifact: deleted ids stop serving, upserts
    serve from the rolled-forward shard subgraphs, and recall holds the
    reference bar (>= limit/2 true neighbours, vamana_test.go:230-253)."""
    import numpy as np

    rng = np.random.RandomState(11)
    X = rng.normal(size=(240, 4)).astype(np.float64)
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 4, "distanceMetric": "euclidean",
        "searchSize": 32, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "vcoll"), schema, num_buckets=4)
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i}", v=[float(x) for x in X[i]]) for i in range(200)]
    ))
    coll.build_vamana_index("v", seed=7)

    # DML: delete 3, move 2 far away, insert 3 clustered at a new spot
    coll.delete(["p5", "p6", "p7"])
    far = {"p10": [9.0, 9.0, 9.0, 9.0], "p11": [9.1, 9.0, 9.0, 9.0]}
    coll.update(spark.createDataFrame(
        [Row(_id=i, v=v) for i, v in far.items()]
    ))
    spot = [[-8.0, -8.0, -8.0, -8.0], [-8.1, -8.0, -8.0, -8.0], [-8.0, -8.1, -8.0, -8.0]]
    coll.insert(spark.createDataFrame(
        [Row(_id=f"n{j}", v=spot[j]) for j in range(3)]
    ))

    n = coll.refresh_vamana_index("v")
    assert n == 8  # 3 deleted + 2 changed + 3 new

    # deleted ids never serve; the new cluster serves at its own location
    res = coll.vamana_search("v", [("q0", spot[0]), ("q1", [9.0, 9.0, 9.0, 9.05])], 5)
    got = {r["query_id"]: [] for r in res.collect()}
    for r in res.collect():
        got[r["query_id"]].append(r["_id"])
    assert not ({"p5", "p6", "p7"} & set(got["q0"] + got["q1"]))
    assert set(got["q0"]) >= {"n0", "n1", "n2"}, got["q0"]
    assert {"p10", "p11"} <= set(got["q1"]), got["q1"]

    # recall bar on random queries vs exact scan (reference limit/2 bar)
    from semadb_spark.operators.knn import knn_topk_scan
    qs = [(f"r{j}", [float(x) for x in X[150 + j]]) for j in range(8)]
    served = coll.vamana_search("v", qs, 10)
    exact = knn_topk_scan(
        coll.df().select(F.col("_id").alias("id"), F.col("v")), "v", qs,
        "euclidean", 10, id_col="id")
    truth = {}
    for r in exact.collect():
        truth.setdefault(r["query_id"], set()).add(r["id"])
    hits = {}
    for r in served.collect():
        if r["_id"] in truth[r["query_id"]]:
            hits[r["query_id"]] = hits.get(r["query_id"], 0) + 1
    assert all(hits.get(q, 0) >= 5 for q, _ in qs), hits

    # idempotent: nothing new to apply
    assert coll.refresh_vamana_index("v") == 0


def test_filtered_vamana_seeded_beam_route(spark, tmp_path, monkeypatch):
    """Filtered vectorVamana through the compiler uses the reference's
    seeded-beam semantics (search.go:28-51) when a persisted graph artifact
    exists and the candidate set is past the exact-fallback bound: the beam
    seeds with filtered points, walks the full graph, only filtered points
    enter the result. Route-pinned by poisoning ivf_search."""
    import numpy as np

    from semadb_spark.plans import logical

    schema = {
        "v": {"type": "vectorVamana", "vectorVamana": {
            "vectorSize": 8, "distanceMetric": "euclidean",
            "searchSize": 40, "degreeBound": 32}},
        "tag": {"type": "string", "string": {}},
    }
    coll = Collection.create(spark, str(tmp_path / "gseed"), schema, num_buckets=8)
    rng = np.random.RandomState(11)
    X = rng.normal(size=(160, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]],
             tag="keep" if i % 2 == 0 else "drop") for i in range(160)]
    ))
    coll.build_vector_index("v", nlist=4)
    coll.build_vamana_index("v", num_shards=3)

    # force the graph route: candidate set (80) must exceed the fallback
    monkeypatch.setattr(logical, "FILTERED_EXACT_FALLBACK_ROWS", 10)

    def _boom(*a, **k):
        raise AssertionError("filtered vectorVamana took the IVF probe route")

    import semadb_spark.operators.ann as ann_mod

    monkeypatch.setattr(ann_mod, "ivf_search", _boom)
    q = [float(x) for x in X[0]]
    res = coll.search({"query": {"property": "v", "vectorVamana": {
        "vector": q, "operator": "near", "limit": 10, "searchSize": 40,
        "filter": {"property": "tag", "string": {
            "operator": "equals", "value": "keep"}}}}}).collect()
    assert len(res) == 10
    keep_ids = {f"p{i:03d}" for i in range(0, 160, 2)}
    assert all(r["_id"] in keep_ids for r in res), "unfiltered id leaked"
    # recall vs the exact filtered scan clears the reference's limit/2 bar
    d = ((X[0::2] - X[0]) ** 2).sum(axis=1)
    exact = {f"p{2*int(j):03d}" for j in np.argsort(d, kind="stable")[:10]}
    assert len({r["_id"] for r in res} & exact) >= 5
    # unfiltered queries still use the IVF route (poisoned -> must raise)
    import pytest as _pytest

    with _pytest.raises(Exception, match="IVF probe route"):
        coll.search({"query": {"property": "v", "vectorVamana": {
            "vector": q, "operator": "near", "limit": 5}}}).collect()


def test_warm_vamana_index(spark, tmp_path):
    """warm_vamana_index pre-reads the packed blobs and compiles the serve
    plan (the cold-start knob, r9): returns elapsed seconds, leaves results
    unchanged, raises without an index."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "warm"), schema, num_buckets=4)
    rng = np.random.RandomState(5)
    X = rng.normal(size=(120, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(120)]
    ))
    with pytest.raises(ValueError, match="no persisted vamana index"):
        coll.warm_vamana_index("v")
    coll.build_vamana_index("v", num_shards=2, seed=3)
    dt = coll.warm_vamana_index("v")
    assert dt > 0
    res = coll.vamana_search("v", [("q", [float(x) for x in X[7]])], k=5)
    got = [r["_id"] for r in res.collect()]
    assert "p007" in got


def test_open_text_pool_serves_engine_identical_results(spark, tmp_path):
    """Collection.open_text_pool = the point-read serving tier over the
    persisted text index: pool results match the engine's text search
    (ids + scores) for both operators; lifecycle errors are clean."""
    import pytest
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"body": {"type": "text", "text": {"analyser": "standard"}}}
    coll = Collection.create(spark, str(tmp_path / "tpool"), schema, num_buckets=4)
    docs = [
        ("d0", "the red running shoe fast"),
        ("d1", "blue walking shoe"),
        ("d2", "red wizard hat gandalf"),
        ("d3", "warm winter coat gandalf wizard"),
        ("d4", "gandalf the grey wizard"),
        ("d5", "spark streams merge windows"),
    ]
    coll.insert(spark.createDataFrame([Row(_id=i, body=t) for i, t in docs]))
    with pytest.raises(ValueError, match="no persisted text index"):
        coll.open_text_pool("body")
    coll.build_text_index()
    with coll.open_text_pool("body", workers=2) as pool:
        for op in ("containsAny", "containsAll"):
            got = pool.search("gandalf wizard", op, limit=5)
            want = coll.search({"query": {"property": "body", "text": {
                "operator": op, "value": "gandalf wizard", "limit": 5}},
                "limit": 5}).collect()
            assert [
                (r["id"], round(r["_score"], 10))
                for r in got.to_dict("records")
            ] == [(r["_id"], round(r["_score"], 10)) for r in want], op
    with pytest.raises(ValueError, match="not a text index"):
        coll.open_text_pool("nope")


def test_vamana_search_local_point_read(spark, tmp_path):
    """Collection.vamana_search_local = single-query ANN point-read with
    NO Spark job: results match the Spark packed route for the same
    query, errors cleanly without a packed artifact."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "ptread"), schema, num_buckets=4)
    rng = np.random.RandomState(6)
    X = np.repeat(rng.normal(size=(4, 8)), 40, axis=0) + rng.normal(
        scale=0.1, size=(160, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(160)]
    ))
    with pytest.raises(ValueError, match="no packed vamana artifact"):
        coll.vamana_search_local("v", [0.0] * 8, 5)
    coll.build_vamana_index("v", num_shards=2, seed=3)
    qv = [float(x) for x in X[9]]
    got = coll.vamana_search_local("v", qv, 5, n_seeds=8)
    assert len(got) == 5 and got[0][0] == "p009" and got[0][1] <= 1e-4
    # parity vs the Spark packed route (same artifact, same params)
    want = [
        (r["_id"], round(r["_distance"], 6))
        for r in coll.vamana_search("v", [("q", qv)], 5, n_seeds=8)
        .orderBy("_distance", "_id").collect()
    ]
    got_r = [(i, round(d, 6)) for i, d in got]
    # the local route defaults to the same nprobe formula; distances are
    # exact in-metric so sets and values line up
    assert got_r == want


def test_open_vector_pool_serves_local_identical_results(spark, tmp_path):
    """Collection.open_vector_pool = the process-parallel vector serving
    tier over the packed artifact: pool results match vamana_search_local
    (which is itself parity-pinned to the Spark packed route); lifecycle
    errors are clean."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "vpool"), schema, num_buckets=4)
    rng = np.random.RandomState(11)
    X = np.repeat(rng.normal(size=(4, 8)), 40, axis=0) + rng.normal(
        scale=0.1, size=(160, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(160)]
    ))
    with pytest.raises(ValueError, match="no packed vamana artifact"):
        coll.open_vector_pool("v")
    coll.build_vamana_index("v", num_shards=2, seed=3)
    qvs = [[float(x) for x in X[i]] for i in (9, 57, 120)]
    want = [
        [(i, round(d, 6)) for i, d in coll.vamana_search_local("v", qv, 5, n_seeds=8)]
        for qv in qvs
    ]
    with coll.open_vector_pool("v", workers=2, n_seeds=8) as pool:
        got = pool.search_many(qvs, 5)
        assert [[(i, round(d, 6)) for i, d in one] for one in got] == want
        assert got[0][0][0] == "p009"


def test_prefetch_vamana_index(spark, tmp_path):
    """prefetch_vamana_index = open-time page-cache readahead: returns a
    joinable thread, leaves results unchanged, errors without an artifact."""
    import numpy as np
    import pytest
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "pref"), schema, num_buckets=4)
    rng = np.random.RandomState(8)
    X = rng.normal(size=(120, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(120)]
    ))
    with pytest.raises(ValueError, match="no packed vamana artifact"):
        coll.prefetch_vamana_index("v")
    coll.build_vamana_index("v", num_shards=2, seed=3)
    th = coll.prefetch_vamana_index("v")
    th.join(timeout=30)
    assert not th.is_alive()
    got = coll.vamana_search_local("v", [float(x) for x in X[4]], 3, n_seeds=8)
    assert got[0][0] == "p004"


def test_vamana_search_local_quantized_route(spark, tmp_path):
    """Collection.vamana_search_local on a QUANTIZED packed graph: the
    local tier resolves the frozen fit (same drift-checked path as the
    Spark serve), beams on the baked codes with exact rerank, and matches
    coll.vamana_search on the same artifact."""
    import numpy as np

    schema = {
        "v": {"type": "vectorVamana",
              "vectorVamana": {"vectorSize": 8, "distanceMetric": "euclidean",
                               "searchSize": 40, "degreeBound": 32,
                               "alpha": 1.2,
                               "quantizer": {"type": "binary", "binary": {
                                   "distanceMetric": "hamming",
                                   "triggerThreshold": 10}}}},
    }
    coll = Collection.create(spark, str(tmp_path / "qlocal"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(12)
    X = np.repeat(rng.normal(size=(4, 8)), 40, axis=0) + rng.normal(
        scale=0.1, size=(160, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(160)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=3)
    import json as _json
    import os as _os

    idx_path = _os.path.join(
        coll.path, f"v{coll._current_version()}_idx", "vamana_v"
    )
    with open(_os.path.join(idx_path, "_graph.json")) as f:
        assert _json.load(f)["packed_codes"] == "bq"  # codes really baked
    for qi in (9, 77, 130):
        qv = [float(x) for x in X[qi]]
        want = [
            (r["_id"], round(r["_distance"], 5))
            for r in coll.vamana_search("v", [("q", qv)], 5, n_seeds=8)
            .orderBy(F.round("_distance", 4).asc(), F.col("_id").asc())
            .collect()
        ]
        got = [
            (i, round(d, 5))
            for i, d in coll.vamana_search_local("v", qv, 5, n_seeds=8)
        ]
        assert got == want, qi
        # quantized beams can't separate the 40 identical-code replicas in
        # a cluster, so the top hit is a same-cluster point, not the exact
        # self point — assert cluster membership via the true distance
        top_idx = int(got[0][0][1:])
        assert ((X[top_idx] - X[qi]) ** 2).sum() < 1.0, (qi, got[0])


def test_refresh_vamana_auto_routes_bulk_to_rebuild(spark, tmp_path):
    """Cost-based maintenance routing (r11): a delta past MAX_UPDATE_BATCH
    is no longer a hard refusal — mode='auto' (the default) lands on the
    partition REBUILD with the artifact's recorded build recipe, and the
    post state holds the same invariants as a fresh build (reference bar:
    vamana.go:136-263 repairs any batch in place; here the router decides
    repair-vs-rebuild by the crossing cost curves). mode='roll_forward'
    keeps the bounded pre-r11 contract and raises."""
    import json
    import os

    import numpy as np

    from semadb_spark.operators import vamana as vm
    from semadb_spark.operators.vamana import MAX_UPDATE_BATCH

    rng = np.random.RandomState(23)
    X = rng.normal(size=(240, 4)).astype(np.float64)
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 4, "distanceMetric": "euclidean",
        "searchSize": 32, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "bulk"), schema,
                             num_buckets=4)
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i}", v=[float(x) for x in X[i]]) for i in range(240)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=7)

    # bulk update: move 120 points (> MAX_UPDATE_BATCH=100) to a new region
    n_bulk = MAX_UPDATE_BATCH + 20
    Y = rng.normal(size=(n_bulk, 4)) * 0.2 + 7.0
    coll.update(spark.createDataFrame(
        [Row(_id=f"p{i}", v=[float(x) for x in Y[i]]) for i in range(n_bulk)]
    ))

    # roll_forward keeps the bounded refusal
    with pytest.raises(ValueError, match="exceeds"):
        coll.refresh_vamana_index("v", mode="roll_forward")
    # auto routes to the rebuild and reports the true delta size
    n = coll.refresh_vamana_index("v")
    assert n == n_bulk

    # post-state: fresh-build invariants on the rebuilt artifact
    path = os.path.join(
        coll.path, f"v{coll._current_version()}_idx", "vamana_v")
    with open(os.path.join(path, "_graph.json")) as f:
        meta = json.load(f)
    assert meta.get("num_shards") == 2 and meta.get("build_seed") == 7
    edges = spark.read.parquet(os.path.join(path, "edges"))
    deg = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 32
    adj: dict = {}
    for r in edges.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    reachable = vm.bfs_reachable(adj, meta["entry_id"])
    assert len(reachable) == 240  # connectivity: every point searchable

    # serving reflects the moved vectors; recall bar vs exact scan
    res = coll.vamana_search("v", [("q", [7.0, 7.0, 7.0, 7.0])], 10)
    got = {r["_id"] for r in res.collect()}
    assert got <= {f"p{i}" for i in range(n_bulk)}, got
    d2 = ((Y - np.asarray([7.0] * 4)) ** 2).sum(axis=1)
    exact = {f"p{i}" for i in np.argsort(d2, kind="stable")[:10]}
    assert len(got & exact) >= 5  # reference limit/2 bar

    # entry-node DML also routes to rebuild under auto
    coll.update(spark.createDataFrame(
        [Row(_id=meta["entry_id"], v=[float(x) for x in rng.normal(size=4)])]
    ))
    with pytest.raises(ValueError, match="entry node"):
        coll.refresh_vamana_index("v", mode="roll_forward")
    assert coll.refresh_vamana_index("v") == 1
    with pytest.raises(ValueError, match="unknown mode"):
        coll.refresh_vamana_index("v", mode="bogus")
