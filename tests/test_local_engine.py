"""Collection.search_local parity: the driver-local point-read tier must
reproduce Collection.search — same ids, same order, same scores — for every
query-tree shape it claims (filters F1-F10, vector/text ranked legs with R4
pre-filters, hybrid _and/_or merge B1-B3, shaping P1-P3), and refuse with
LocalServeUnsupported where only the distributed engine serves. The
reference's query lifecycle is one-process exactly like this
(shard/shard.go:329-472)."""

import numpy as np
import pytest
from pyspark.sql import Row

from semadb_spark import Collection
from semadb_spark.plans.local_engine import LocalServeUnsupported

SCHEMA = {
    "name": {"type": "string", "string": {"caseSensitive": False}},
    "cat": {"type": "string", "string": {"caseSensitive": True}},
    "n": {"type": "integer", "integer": {}},
    "score": {"type": "float", "float": {}},
    "tags": {"type": "stringArray", "stringArray": {"caseSensitive": False}},
    "nested.lab": {"type": "string", "string": {"caseSensitive": True}},
    "body": {"type": "text", "text": {"analyser": "standard"}},
    "v": {"type": "vectorFlat", "vectorFlat": {
        "vectorSize": 8, "distanceMetric": "euclidean"}},
}

WORDS = ["spark", "query", "shuffle", "merge", "window", "stream", "join",
         "scan", "filter", "index"]


@pytest.fixture(scope="module")
def coll(spark, tmp_path_factory):
    rng = np.random.RandomState(42)
    rows = []
    for i in range(160):
        rows.append(Row(
            _id=f"p{i:03d}",
            name=f"Item {WORDS[i % 10].title()} {i}",
            cat=["Alpha", "beta", "GAMMA", None][i % 4],
            n=int(i % 13),
            score=None if i % 11 == 0 else float(i) / 7.0,
            tags=None if i % 9 == 0 else [WORDS[i % 10], WORDS[(i + 3) % 10]],
            nested=Row(lab=["hot", "cold", "warm"][i % 3]),
            body=" ".join(
                WORDS[(i + j) % 10] for j in range(3 + i % 5)
            ) if i % 7 else None,
            v=[float(x) for x in rng.normal(size=8)],
        ))
    c = Collection.create(
        spark, str(tmp_path_factory.mktemp("lec") / "coll"), SCHEMA,
        num_buckets=4,
    )
    c.insert(spark.createDataFrame(rows))
    c.build_text_index()
    return c


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if v != v:  # NaN == engine NULL for score columns
            return None
        return round(v, 6)
    if isinstance(v, Row):
        return {k: _norm(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, np.ndarray)):
        return [_norm(x) for x in v]
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return _norm(float(v))
    return v


def assert_parity(coll, request, vector_mode="auto"):
    want = [r.asDict(recursive=True) for r in coll.search(request).collect()]
    got = coll.search_local(request, vector_mode=vector_mode)
    got_records = got.to_dict("records")
    assert len(got_records) == len(want), (
        f"row count {len(got_records)} != {len(want)} for {request}"
    )
    want_cols = set(want[0]) if want else set()
    gn_rows = [
        {k: _norm(v) for k, v in g.items() if k in want_cols}
        for g in got_records
    ]
    wn_rows = [{k: _norm(v) for k, v in w.items()} for w in want]
    # Batch mode (explicit null limit, no offset/sort) returns an UNORDERED
    # set from the Spark engine (r13: the global presentation sort is
    # pagination plumbing, dropped for unbounded batch results) — parity is
    # set-parity there; every other shape pins row order.
    unordered = (
        "limit" in request
        and request["limit"] is None
        and not request.get("offset")
        and not request.get("sort")
    )
    if unordered:
        key = lambda r: sorted((k, repr(v)) for k, v in r.items())  # noqa: E731
        gn_rows.sort(key=key)
        wn_rows.sort(key=key)
    for gn, wn in zip(gn_rows, wn_rows):
        assert gn == wn, f"row mismatch for {request}\nlocal={gn}\nspark={wn}"
    return got


F_SHAPES = [
    {"property": "name", "string": {"operator": "startsWith", "value": "item sp"}},
    {"property": "cat", "string": {"operator": "equals", "value": "Alpha"}},
    {"property": "cat", "string": {"operator": "notEquals", "value": "beta"}},
    {"property": "n", "integer": {"operator": "inRange", "value": 3, "endValue": 6}},
    {"property": "n", "integer": {"operator": "greaterThan", "value": 10}},
    {"property": "score", "float": {"operator": "lessThanOrEquals", "value": 2.0}},
    {"property": "tags", "stringArray": {"operator": "containsAny",
                                         "value": ["SPARK", "merge"]}},
    {"property": "tags", "stringArray": {"operator": "containsAll",
                                         "value": ["query", "window"]}},
    {"property": "nested.lab", "string": {"operator": "equals", "value": "hot"}},
    {"property": "_id", "stringArray": {"operator": "containsAny",
                                        "value": ["p003", "p007", "nope"]}},
    {"property": "_id", "string": {"operator": "equals", "value": "p010"}},
]


@pytest.mark.parametrize("i", range(len(F_SHAPES)))
def test_filter_leaf_parity(coll, i):
    q = F_SHAPES[i]
    assert_parity(coll, {"query": q, "limit": 30})


def test_bool_compose_pure_parity(coll):
    assert_parity(coll, {"query": {"property": "_and", "_and": [
        F_SHAPES[3], F_SHAPES[2],
        {"property": "_or", "_or": [F_SHAPES[6], F_SHAPES[8]]},
    ]}, "limit": 50})


def test_vector_leaf_parity(coll):
    qv = [0.2, -0.1, 0.4, 0.0, 1.0, -0.5, 0.3, 0.9]
    got = assert_parity(coll, {"query": {"property": "v", "vectorFlat": {
        "vector": qv, "operator": "near", "limit": 7}}, "limit": 7})
    assert got["_distance"].notna().all() and (got["_hybridScore"] <= 0).all()


def test_vector_filtered_parity(coll):
    qv = [0.0] * 8
    assert_parity(coll, {"query": {"property": "v", "vectorFlat": {
        "vector": qv, "limit": 10, "weight": 2.5,
        "filter": {"property": "n", "integer": {
            "operator": "lessThan", "value": 5}}}}, "limit": 10})


def test_text_leaf_parity(coll):
    for op in ("containsAny", "containsAll"):
        assert_parity(coll, {"query": {"property": "body", "text": {
            "operator": op, "value": "spark query", "limit": 10}}, "limit": 10})


def test_text_filtered_parity(coll):
    assert_parity(coll, {"query": {"property": "body", "text": {
        "operator": "containsAny", "value": "shuffle window", "limit": 10,
        "filter": {"property": "cat", "string": {
            "operator": "equals", "value": "GAMMA"}}}}, "limit": 10})


def test_hybrid_or_parity(coll):
    qv = [0.5] * 8
    assert_parity(coll, {"query": {"property": "_or", "_or": [
        {"property": "body", "text": {"operator": "containsAny",
                                      "value": "merge stream", "limit": 10,
                                      "weight": 3.0}},
        {"property": "v", "vectorFlat": {"vector": qv, "limit": 10,
                                         "weight": 0.5}},
    ]}, "limit": 20})


def test_hybrid_and_filter_vector_parity(coll):
    qv = [-0.3] * 8
    assert_parity(coll, {"query": {"property": "_and", "_and": [
        {"property": "n", "integer": {"operator": "inRange",
                                      "value": 2, "endValue": 9}},
        {"property": "v", "vectorFlat": {"vector": qv, "limit": 15}},
    ]}, "limit": 15})


def test_hybrid_three_leg_parity(coll):
    qv = [0.1] * 8
    assert_parity(coll, {"query": {"property": "_or", "_or": [
        {"property": "_and", "_and": [
            {"property": "cat", "string": {"operator": "equals",
                                           "value": "Alpha"}},
            {"property": "v", "vectorFlat": {"vector": qv, "limit": 10}},
        ]},
        {"property": "body", "text": {"operator": "containsAny",
                                      "value": "join scan", "limit": 10}},
    ]}, "limit": 25})


def test_shaping_sort_offset_limit_parity(coll):
    base = {"property": "n", "integer": {"operator": "lessThan", "value": 11}}
    assert_parity(coll, {"query": base, "limit": 12, "offset": 5,
                         "sort": [{"property": "score", "descending": True},
                                  {"property": "n"}]})
    # missing-last: score has nulls; ascending keeps them last too
    assert_parity(coll, {"query": base, "limit": 8,
                         "sort": [{"property": "score"}]})


def test_select_renest_parity(coll):
    assert_parity(coll, {"query": {"property": "nested.lab", "string": {
        "operator": "equals", "value": "cold"}}, "limit": 6,
        "select": ["name", "nested.lab", "n"]})


def test_select_missing_property_skipped_parity(coll):
    """Selected names the collection lacks are skipped on both engines,
    plain and dotted alike (the reference skips missing fields)."""
    req = {"query": F_SHAPES[1], "limit": 6,
           "select": ["zzz", "name", "zzz.a", "nested.lab"]}
    got = assert_parity(coll, req)
    assert list(got.columns) == coll.search(req).columns == [
        "_id", "name", "nested", "_distance", "_score", "_hybridScore"]


def test_sort_on_ranked_column_parity(coll):
    """A ranked column is a sort key on both engines (missing last)."""
    assert_parity(coll, {"query": {"property": "_or", "_or": [
        F_SHAPES[1],
        {"property": "v", "vectorFlat": {"vector": [0.4] * 8, "limit": 10}},
    ]}, "limit": 15, "sort": [{"property": "_distance", "descending": True}]})


@pytest.mark.parametrize("select", [["_id"], ["_id", "name"], ["name", "_id"]])
def test_select_id_returned_once_parity(coll, select):
    """Naming the id in ``select`` returns it once, leading, on both
    engines."""
    req = {"query": {"property": "nested.lab", "string": {
        "operator": "equals", "value": "cold"}}, "limit": 6, "select": select}
    want = coll.search(req).columns
    got = list(assert_parity(coll, req).columns)
    lead = ["_id"] + [c for c in select if c != "_id"]
    assert want[:len(lead)] == lead and want.count("_id") == 1
    assert got == want


def test_unsupported_shapes_raise(coll, spark, tmp_path):
    # no payload column: an unknown sort key is an invalid request
    with pytest.raises(ValueError, match="unknown sort property"):
        coll.search_local({"query": F_SHAPES[0], "limit": 5,
                           "sort": [{"property": "payload.x"}]})
    # a payload map column: schemaless sort keys are engine-only
    cp = Collection.create(
        spark, str(tmp_path / "payload"),
        {"n": {"type": "integer", "integer": {}}}, num_buckets=2,
    )
    cp.insert(spark.createDataFrame(
        [Row(_id="a", n=1, payload={"x": "1"})],
        "_id string, n long, payload map<string,string>",
    ))
    for key in ("payload.x", "x"):
        with pytest.raises(LocalServeUnsupported, match="sort property"):
            cp.search_local({"query": {"property": "n", "integer": {
                "operator": "equals", "value": 1}}, "limit": 5,
                "sort": [{"property": key}]})
    # a text property without a persisted index refuses rather than
    # re-tokenizing the corpus per query
    c2 = Collection.create(
        spark, str(tmp_path / "noidx"),
        {"body": {"type": "text", "text": {}}}, num_buckets=2,
    )
    c2.insert(spark.createDataFrame([Row(_id="a", body="spark streams")]))
    with pytest.raises(LocalServeUnsupported, match="build_text_index"):
        c2.search_local({"query": {"property": "body", "text": {
            "operator": "containsAny", "value": "spark", "limit": 5}}})


def test_validation_parity(coll):
    """Both engines reject each bad request with the same error."""
    for bad, msg in (
        ({"query": {"property": "ghost", "string": {"operator": "equals",
                                                    "value": "x"}}},
         "property ghost not found"),
        ({"query": {"property": "v", "vectorFlat": {"vector": [1.0] * 3,
                                                    "limit": 5}}},
         "vector length mismatch"),
        ({"query": F_SHAPES[0], "limit": 1000}, "limit must be between"),
        ({"query": F_SHAPES[0], "offset": -1}, "offset must be"),
        ({"query": {"property": "_and", "_and": []}},
         "_and query requires at least one subquery"),
        ({"query": {"property": "cat"}},
         "string query options not provided for property cat"),
        ({"query": F_SHAPES[0], "sort": [{"property": "zzz"}]},
         "unknown sort property zzz"),
    ):
        errors = []
        for run in (lambda: coll.search_local(bad),
                    lambda: coll.search(bad).collect(),
                    lambda: coll.search(bad, route="auto")):
            with pytest.raises(ValueError, match=msg) as ei:
                run()
            errors.append((type(ei.value), str(ei.value)))
        assert errors[0] == errors[1] == errors[2], errors


def test_structural_refusal_runs_no_local_leg(spark, tmp_path, monkeypatch):
    """A tree the local tier cannot serve is refused from the plan before
    any leg runs: here a vector leg beside a text leg on a property with no
    persisted index. route='auto' then serves the Spark engine's answer."""
    from semadb_spark.plans.local_engine import LocalSearchEngine

    schema = {"body": {"type": "text", "text": {}},
              "v": {"type": "vectorFlat", "vectorFlat": {
                  "vectorSize": 4, "distanceMetric": "euclidean"}}}
    c = Collection.create(spark, str(tmp_path / "noidx"), schema,
                          num_buckets=2)
    c.insert(spark.createDataFrame([
        Row(_id=f"p{i}", body=WORDS[i % 10] + " " + WORDS[(i + 1) % 10],
            v=[float(i), 1.0, 0.0, float(i % 3)])
        for i in range(20)
    ]))
    calls = []
    real = LocalSearchEngine._exact_topk

    def spy(self, *a, **kw):
        calls.append(a[0])
        return real(self, *a, **kw)

    monkeypatch.setattr(LocalSearchEngine, "_exact_topk", spy)
    req = {"query": {"property": "_or", "_or": [
        {"property": "v", "vectorFlat": {"vector": [3.0, 1.0, 0.0, 0.0],
                                         "limit": 5}},
        {"property": "body", "text": {"operator": "containsAny",
                                      "value": "spark join", "limit": 5}},
    ]}, "limit": 8}
    with pytest.raises(LocalServeUnsupported, match="build_text_index"):
        c.search_local(req)
    assert calls == []
    want = [(r["_id"], _norm(r["_hybridScore"])) for r in c.search(req).collect()]
    got = c.search(req, route="auto")
    assert [(g["_id"], _norm(g["_hybridScore"]))
            for g in got.to_dict("records")] == want
    assert want


def test_graph_mode_and_route_guards(spark, tmp_path):
    """vector_mode='graph' serves vectorVamana through the packed-artifact
    beam (parity to vamana_search_local, the opt-in approximate tier);
    'auto' stays exact = engine parity; IVF-built collections refuse."""
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "graphm"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(3)
    X = rng.normal(size=(150, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(150)]
    ))
    qv = [float(x) for x in X[17]]
    req = {"query": {"property": "v", "vectorVamana": {
        "vector": qv, "limit": 5}}, "limit": 5}
    # engine parity while only the graph artifact exists (engine = exact)
    assert_parity(coll, req)
    coll.build_vamana_index("v", num_shards=2, seed=3)
    assert_parity(coll, req)  # auto stays exact-parity with the engine
    got = coll.search_local(req, vector_mode="graph")
    want = coll.vamana_search_local("v", qv, 5, n_seeds=32)
    assert [(r["_id"], round(r["_distance"], 6))
            for r in got.to_dict("records")] == [
        (i, round(d, 6)) for i, d in want
    ]
    # an IVF artifact flips the engine to the probe route -> local now
    # probes too (r12): same ids/distances as Collection.search
    coll.build_vector_index("v")
    assert_parity(coll, req)
    # ...and the probe genuinely prunes: at nprobe = searchSize//8 = 5 of
    # 16+ cells the local result must come off the artifact, not a scan
    eng = coll._local_engine_cache[1]
    assert "v" in eng.ivf and eng._ivf_cache  # state loaded lazily by the query


def test_hybrid_serve_pool_matches_search_local(coll):
    """HybridServePool (process-parallel search_local, r10): results are
    identical to the in-process engine for every request shape; lifecycle
    is clean; workers run without a SparkSession (open_local)."""
    qv = [0.3] * 8
    reqs = [
        {"query": {"property": "_or", "_or": [
            {"property": "body", "text": {"operator": "containsAny",
                                          "value": "merge stream",
                                          "limit": 10, "weight": 3.0}},
            {"property": "v", "vectorFlat": {"vector": qv, "limit": 10}},
        ]}, "limit": 15},
        {"query": {"property": "_and", "_and": [
            {"property": "n", "integer": {"operator": "inRange",
                                          "value": 2, "endValue": 9}},
            {"property": "v", "vectorFlat": {"vector": qv, "limit": 10}},
        ]}, "limit": 10},
        {"query": {"property": "cat", "string": {"operator": "equals",
                                                 "value": "Alpha"}},
         "limit": 8},
    ]
    def norm(pdf):
        return [
            (r["_id"],
             None if r["_hybridScore"] != r["_hybridScore"]
             else round(r["_hybridScore"], 8))
            for r in pdf.to_dict("records")
        ]
    want = [norm(coll.search_local(r)) for r in reqs]
    with coll.open_search_pool(workers=2, warm_requests=reqs[:1]) as pool:
        got_one = norm(pool.search(reqs[0]))
        assert got_one == want[0]
        got_many = pool.search_many(reqs * 3)
        assert [norm(p) for p in got_many] == want * 3
        assert pool.search_many([]) == []
    with pytest.raises(RuntimeError):
        pool.search(reqs[0])  # closed pool rejects new work
    from semadb_spark.plans.local_engine import HybridServePool

    with pytest.raises(ValueError, match="no collection"):
        HybridServePool("/tmp/definitely_missing_coll_xyz")
    with pytest.raises(ValueError, match="workers"):
        HybridServePool(coll.path, workers=0)


def test_tracer_layer_points_are_own_attributes():
    """The benchmark's traced run swaps each layer entry point through
    ``owner.__dict__[attr]``, so every traced entry point must be defined
    directly on its class or module, not inherited: a refactor that moves
    one into a base class breaks ``perfbench/run.py --trace 1``."""
    from perfbench import spans

    points = spans._layer_points()
    assert points
    for owner, attr, name in points:
        assert attr in owner.__dict__, name


def test_open_local_collection_serves_without_spark(coll):
    """Collection.open_local: filesystem-only open — search_local works,
    Spark surfaces raise the documented error."""
    from semadb_spark import Collection

    lc = Collection.open_local(coll.path)
    req = {"query": F_SHAPES[1], "limit": 5}
    want = coll.search_local(req)
    got = lc.search_local(req)
    assert list(got["_id"]) == list(want["_id"])
    with pytest.raises(ValueError, match="local-only"):
        lc.search(req)
    with pytest.raises(ValueError, match="no collection"):
        Collection.open_local("/tmp/definitely_missing_coll_xyz")


def test_edge_shapes(coll, spark, tmp_path):
    """Edge shapes stay engine-parity: offset beyond the result set,
    duplicate ranked legs in one _or (hybrid scores SUM), explicit null
    limit (all rows), and an empty collection serving empty frames."""
    # offset beyond the result set -> empty, same columns
    req = {"query": F_SHAPES[10], "limit": 5, "offset": 3}
    assert_parity(coll, req)
    # the same vector leg twice in one _or: duplicate ids sum hybrid
    qv = [0.7] * 8
    leg = {"property": "v", "vectorFlat": {"vector": qv, "limit": 5}}
    got = assert_parity(
        coll, {"query": {"property": "_or", "_or": [leg, leg]}, "limit": 5}
    )
    single = coll.search_local({"query": leg, "limit": 5})
    assert np.allclose(
        got["_hybridScore"].to_numpy(),
        2.0 * single["_hybridScore"].to_numpy(),
    )
    # explicit null limit = all rows (engine extension)
    assert_parity(coll, {"query": F_SHAPES[3], "limit": None})
    # empty collection: every shape serves an empty frame, no errors
    c2 = Collection.create(
        spark, str(tmp_path / "empty"),
        {"n": {"type": "integer", "integer": {}},
         "v": {"type": "vectorFlat", "vectorFlat": {
             "vectorSize": 4, "distanceMetric": "euclidean"}}},
        num_buckets=2,
    )
    for q in (
        {"property": "n", "integer": {"operator": "equals", "value": 1}},
        {"property": "v", "vectorFlat": {"vector": [0.0] * 4, "limit": 5}},
    ):
        out = c2.search_local({"query": q, "limit": 5})
        assert len(out) == 0


def test_property_named_id_parity(spark, tmp_path):
    """Nothing reserves "id" as a property name, so the local tier's
    internal ranked-frame helper must never shadow a user column named
    "id" in the output (it is a reserved "__rid" column internally).
    Covers filter output, ranked output, sort-on-id and select-of-id."""
    schema = {
        "id": {"type": "string", "string": {"caseSensitive": True}},
        "n": {"type": "integer", "integer": {}},
        "v": {"type": "vectorFlat", "vectorFlat": {
            "vectorSize": 4, "distanceMetric": "euclidean"}},
    }
    coll = Collection.create(spark, str(tmp_path / "idprop"), schema,
                             num_buckets=2)
    rows = [
        Row(_id=f"p{i}", id=f"userid-{i}", n=i,
            v=[float(i), 0.0, 1.0, float(i % 3)])
        for i in range(12)
    ]
    coll.insert(spark.createDataFrame(rows))
    # pure filter: the user's id values must come through verbatim
    got = assert_parity(coll, {"query": {
        "property": "n", "integer": {"operator": "lessThan", "value": 5}},
        "limit": 10})
    assert set(got["id"]) == {f"userid-{i}" for i in range(5)}
    assert set(got["_id"]) == {f"p{i}" for i in range(5)}
    # ranked leg (vector) + user property in output
    got = assert_parity(coll, {"query": {
        "property": "v", "vectorFlat": {"vector": [2.0, 0.0, 1.0, 2.0],
                                        "limit": 4}}, "limit": 4})
    assert all(v.startswith("userid-") for v in got["id"])
    # sort on the user property named id, and select it
    assert_parity(coll, {"query": {
        "property": "n", "integer": {"operator": "greaterThan", "value": 3}},
        "limit": 6, "sort": [{"property": "id", "descending": True}],
        "select": ["id", "n"]})


def test_route_auto_parity_and_fallback(coll):
    """Collection.search(request, route='auto'): point-read requests serve
    via the local tier with engine parity (same ids + scores as the Spark
    engine, pandas shape); unsupported shapes transparently fall back to
    the Spark engine (toPandas page) instead of raising."""
    reqs = [
        # hybrid _or over text + vector — the composed shape the verdict
        # asks parity for
        {"query": {"property": "_or", "_or": [
            {"property": "body", "text": {
                "operator": "containsAny", "value": "spark join",
                "limit": 8, "weight": 2.0}},
            {"property": "v", "vectorFlat": {
                "vector": [0.2] * 8, "limit": 8}},
        ]}, "limit": 8},
        # pure filter page
        {"query": {"property": "n", "integer": {
            "operator": "inRange", "value": 2, "endValue": 9}},
            "limit": 7, "offset": 2},
    ]
    for req in reqs:
        want = [r.asDict(recursive=True) for r in coll.search(req).collect()]
        got = coll.search(req, route="auto")
        assert not hasattr(got, "rdd"), "route=auto must return pandas"
        assert [
            (g["_id"], _norm(g["_hybridScore"]))
            for g in got.to_dict("records")
        ] == [(w["_id"], _norm(w["_hybridScore"])) for w in want]
    # (the Spark-fallback leg of route=auto is covered on a genuinely
    # local-unsupported shape in test_quantized_graph_local_route)
    with pytest.raises(ValueError, match="unknown route"):
        coll.search(reqs[0], route="bogus")


def test_quantized_graph_local_route(spark, tmp_path):
    """A schema-declared vectorVamana + binary quantizer collection whose
    packed artifact bakes codes serves POINT-READS locally through the
    same quantized ADC beam the Spark engine uses (compiler quantized-
    graph route) — engine parity, not opt-in. Filtered requests fall
    back to the engine (candidate-breadth routing is engine-only)."""
    import os as _os

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 16, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2,
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}},
        "n": {"type": "integer", "integer": {}}}
    coll = Collection.create(spark, str(tmp_path / "qg"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(9)
    X = rng.normal(size=(300, 16))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]], n=i)
         for i in range(300)]
    ))
    assert set(coll._quantized_indexes()) == {"v"}
    coll.build_vamana_index("v", num_shards=2, seed=5)
    assert coll._graph_indexes()["v"].get("packed_codes") == "bq"
    qv = [float(x) for x in X[42]]
    req = {"query": {"property": "v", "vectorVamana": {
        "vector": qv, "limit": 6, "searchSize": 40}}, "limit": 6}
    # engine parity through the SAME quantized beam (ids + distances)
    assert_parity(coll, req)
    # route=auto serves this locally (engine cache untouched on repeat)
    got = coll.search(req, route="auto")
    assert not hasattr(got, "rdd")
    assert len(got) == 6
    # filtered -> LocalServeUnsupported from search_local, auto falls back
    freq = {"query": {"property": "v", "vectorVamana": {
        "vector": qv, "limit": 6, "searchSize": 40,
        "filter": {"property": "n", "integer": {
            "operator": "lessThan", "value": 150}}}}, "limit": 6}
    with pytest.raises(LocalServeUnsupported, match="filtered query"):
        coll.search_local(freq)
    want = [r["_id"] for r in coll.search(freq).collect()]
    got = coll.search(freq, route="auto")
    assert list(got["_id"]) == want


def test_factorized_equality_edges_and_graph_nprobe(coll, spark, tmp_path):
    """String equality serves off factorized codes (r11): parity must hold
    for values absent from the corpus (empty result, not KeyError), for
    notEquals with nulls excluded, and for case-folded equality. The
    graph_nprobe serving knob reaches the packed beam (fewer probed
    cents = subset-of-full-probe results)."""
    # absent value: equals -> empty, notEquals -> all non-null rows
    assert_parity(coll, {"query": {"property": "cat", "string": {
        "operator": "equals", "value": "NoSuchCategory"}}, "limit": 20})
    assert_parity(coll, {"query": {"property": "cat", "string": {
        "operator": "notEquals", "value": "NoSuchCategory"}}, "limit": 20})
    # case-folded equality through the codes (name is caseSensitive=False)
    assert_parity(coll, {"query": {"property": "name", "string": {
        "operator": "equals", "value": "ITEM SPARK 10"}}, "limit": 5})
    # graph_nprobe plumbing: results at nprobe=64 (all cents) == default
    # formula on a small graph; nprobe=1 returns a valid k-set
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    c2 = Collection.create(spark, str(tmp_path / "np"), schema, num_buckets=2)
    rng = np.random.RandomState(4)
    X = rng.normal(size=(200, 8))
    c2.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(200)]
    ))
    c2.build_vamana_index("v", num_shards=2, seed=3)
    req = {"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[9]], "limit": 5}}, "limit": 5}
    full = c2.search_local(req, vector_mode="graph", graph_nprobe=64)
    probe1 = c2.search_local(req, vector_mode="graph", graph_nprobe=1)
    assert len(probe1) == 5
    # nprobe=1 hits are a subset of the corpus the full probe saw, and the
    # self-point is found either way (it lives in its own nearest cent)
    assert "p009" in set(probe1["_id"]) and "p009" in set(full["_id"])


def test_ivf_local_route_parity(spark, tmp_path, monkeypatch):
    """r12: an IVF-indexed float property serves LOCALLY with engine
    parity — unfiltered (probe + exact rerank), filtered small (bounded
    exact fallback), and filtered broad (probe ∩ candidate set, exercised
    by shrinking FILTERED_EXACT_FALLBACK_ROWS on BOTH tiers)."""
    import semadb_spark.plans.logical as logical_mod

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}},
        "n": {"type": "integer", "integer": {}}}
    coll = Collection.create(spark, str(tmp_path / "ivfl"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(12)
    X = rng.normal(size=(240, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]], n=int(i % 20))
         for i in range(240)]
    ))
    coll.build_vector_index("v", nlist=16)
    qv = [float(x) for x in X[33]]
    # unfiltered: engine = ivf_search over the artifact; local must probe
    # the SAME cells and rerank exactly — including the self-point at d=0
    got = assert_parity(coll, {"query": {"property": "v", "vectorVamana": {
        "vector": qv, "limit": 7}}, "limit": 7})
    assert got["_id"].iloc[0] == "p033" and got["_distance"].iloc[0] < 1e-12
    # filtered, small candidate set (< FILTERED_EXACT_FALLBACK_ROWS):
    # both tiers take the bounded exact fallback
    assert_parity(coll, {"query": {"property": "v", "vectorVamana": {
        "vector": qv, "limit": 6, "filter": {"property": "n", "integer": {
            "operator": "lessThan", "value": 10}}}}, "limit": 6})
    # filtered BROAD (threshold shrunk on both tiers): engine probes with
    # candidate_ids, local probes ∩ candidates — same optimistic recall
    monkeypatch.setattr(logical_mod, "FILTERED_EXACT_FALLBACK_ROWS", 3)
    coll = Collection.open(spark, coll.path)
    assert_parity(coll, {"query": {"property": "v", "vectorVamana": {
        "vector": qv, "limit": 6, "filter": {"property": "n", "integer": {
            "operator": "lessThan", "value": 10}}}}, "limit": 6})


def test_ivf_plus_graph_broad_filter_falls_back(spark, tmp_path, monkeypatch):
    """With BOTH a graph artifact and an IVF artifact, a broad-filtered
    request rides the engine's seeded-beam walk — search_local refuses and
    route='auto' transparently serves the engine's answer."""
    import semadb_spark.plans.logical as logical_mod

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}},
        "n": {"type": "integer", "integer": {}}}
    coll = Collection.create(spark, str(tmp_path / "ivfg"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(13)
    X = rng.normal(size=(150, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]], n=int(i % 10))
         for i in range(150)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=5)
    coll.build_vector_index("v", nlist=8)
    monkeypatch.setattr(logical_mod, "FILTERED_EXACT_FALLBACK_ROWS", 3)
    coll = Collection.open(spark, coll.path)
    req = {"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[5]], "limit": 5,
        "filter": {"property": "n", "integer": {
            "operator": "lessThan", "value": 6}}}}, "limit": 5}
    with pytest.raises(LocalServeUnsupported, match="graph\\+IVF"):
        coll.search_local(req)
    want = [(r["_id"], round(r["_distance"], 6))
            for r in coll.search(req).collect()]
    got = coll.search(req, route="auto")
    assert [(g["_id"], round(g["_distance"], 6))
            for g in got.to_dict("records")] == want


def test_quantized_code_scan_local_route(spark, tmp_path):
    """r12: a schema-declared quantizer WITHOUT a fused IVF artifact
    serves point-reads locally through the same flat code scan the
    engine's q_index route uses — binary bit-metric and product ADC,
    unfiltered and filtered (the engine's code-scan branch has no exact
    fallback: filtered queries still rank codes)."""
    rng = np.random.RandomState(21)
    X = rng.normal(size=(150, 16))

    def mk(tag, quantizer, explicit_build=False):
        schema = {"v": {"type": "vectorFlat", "vectorFlat": {
            "vectorSize": 16, "distanceMetric": "euclidean",
            "quantizer": quantizer}},
            "n": {"type": "integer", "integer": {}}}
        c = Collection.create(spark, str(tmp_path / tag), schema,
                              num_buckets=4)
        c.insert(spark.createDataFrame(
            [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]], n=int(i % 10))
             for i in range(150)]
        ))
        if explicit_build:  # below the trigger: fit+encode explicitly
            c.build_quantized_index("v")
        assert set(c._quantized_indexes()) == {"v"}
        return c

    bq = mk("csbq", {"type": "binary", "binary": {
        "distanceMetric": "hamming", "triggerThreshold": 10}})
    pq = mk("cspq", {"type": "product", "product": {
        "numSubVectors": 4, "numCentroids": 16, "triggerThreshold": 1000}},
        explicit_build=True)
    qv = [float(x) for x in X[7]]
    for coll in (bq, pq):
        assert_parity(coll, {"query": {"property": "v", "vectorFlat": {
            "vector": qv, "limit": 8}}, "limit": 8})
        assert_parity(coll, {"query": {"property": "v", "vectorFlat": {
            "vector": qv, "limit": 6, "filter": {"property": "n", "integer": {
                "operator": "lessThan", "value": 5}}}}, "limit": 6})
        eng = coll._local_engine_cache[1]
        assert "v" in eng.qscan and eng._qscan_cache  # codes went resident


def test_fused_ivf_quantized_stays_engine_only(spark, tmp_path):
    """quantizer + an IVF artifact carrying baked codes = the engine's
    fused oversample+rerank kernel — search_local refuses, route='auto'
    transparently serves the engine's answer."""
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 16, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2,
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}}}
    coll = Collection.create(spark, str(tmp_path / "fused"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(22)
    X = rng.normal(size=(120, 16))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(120)]
    ))
    coll.build_vector_index("v", nlist=8)  # joins the frozen codes in
    req = {"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[3]], "limit": 5}}, "limit": 5}
    with pytest.raises(LocalServeUnsupported, match="fused IVF-binary"):
        coll.search_local(req)
    want = [(r["_id"], round(r["_distance"], 6))
            for r in coll.search(req).collect()]
    got = coll.search(req, route="auto")
    assert [(g["_id"], round(g["_distance"], 6))
            for g in got.to_dict("records")] == want


def test_pool_serves_ivf_and_code_scan_routes(spark, tmp_path):
    """The process-pool tier (workers = filesystem-only open_local) covers
    the r12 local routes too: IVF probe and quantized code-scan requests
    through HybridServePool match the in-process search_local exactly."""
    rng = np.random.RandomState(31)
    X = rng.normal(size=(200, 8))

    ivf_schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    ivf = Collection.create(spark, str(tmp_path / "poolivf"), ivf_schema,
                            num_buckets=4)
    ivf.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(200)]
    ))
    ivf.build_vector_index("v", nlist=8)

    bq_schema = {"v": {"type": "vectorFlat", "vectorFlat": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}}}
    bq = Collection.create(spark, str(tmp_path / "poolbq"), bq_schema,
                           num_buckets=4)
    bq.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(200)]
    ))

    for coll in (ivf, bq):
        key = "vectorVamana" if coll is ivf else "vectorFlat"
        reqs = [{"query": {"property": "v", key: {
            "vector": [float(x) for x in X[j]], "limit": 5}}, "limit": 5}
            for j in (3, 11, 42)]
        want = [coll.search_local(r) for r in reqs]
        with coll.open_search_pool(workers=2) as pool:
            got = pool.search_many(reqs)
        for w, g in zip(want, got):
            assert [(r["_id"], round(r["_distance"], 6))
                    for r in w.to_dict("records")] == [
                (r["_id"], round(r["_distance"], 6))
                for r in g.to_dict("records")]


def test_preload_graph_artifacts_and_pool_preload(spark, tmp_path):
    """preload decodes every cent up front (no lazy faulting ramp) and
    changes NOTHING about results: engine preload fills the serve cache,
    and a preload=True pool serves identical frames to search_local."""
    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}}
    coll = Collection.create(spark, str(tmp_path / "preload"), schema,
                             num_buckets=4)
    rng = np.random.RandomState(11)
    X = rng.normal(size=(120, 8))
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(120)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=7)
    from semadb_spark.operators import vamana as V
    from semadb_spark.plans.local_engine import LocalSearchEngine

    eng = LocalSearchEngine(coll, vector_mode="graph")
    n = eng.preload_graph_artifacts()
    assert n >= 1  # every cent resident before any query ran
    packed = eng.graph["v"]["packed"]
    _, cache = V._LOCAL_PACKED_CACHE[packed]
    assert len(cache) == n
    req = {"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[5]], "limit": 5}}, "limit": 5}
    warm = eng.search(req)  # served fully from the preloaded cache
    cold = coll.search_local(req, vector_mode="graph")
    assert warm["_id"].tolist() == cold["_id"].tolist()
    # engines with no graph artifacts: clean no-op
    plain = Collection.create(
        spark, str(tmp_path / "nograph"),
        {"s": {"type": "string", "string": {"caseSensitive": True}}},
        num_buckets=2)
    plain.insert(spark.createDataFrame([Row(_id="a", s="x")]))
    assert LocalSearchEngine(plain).preload_graph_artifacts() == 0
    # pool parity with preload=True
    with coll.open_search_pool(workers=2, vector_mode="graph",
                               preload=True) as pool:
        got = pool.search(req)
    assert got["_id"].tolist() == cold["_id"].tolist()
    assert np.allclose(got["_distance"], cold["_distance"])
