"""Query-tree compiler tests over a products-style fixture (FIXTURES.md §1,
mirroring reference shard/index/search_test.go + shard_search_test.go)."""

import pytest
from pyspark.sql import functions as F

from semadb_spark.plans import SearchEngine
from semadb_spark.schema import IndexSchema

SCHEMA = IndexSchema.from_json(
    {
        "vector": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 2, "distanceMetric": "euclidean"}},
        "category": {"type": "string", "string": {"caseSensitive": False}},
        "labels": {"type": "stringArray", "stringArray": {"caseSensitive": False}},
        "size": {"type": "integer"},
        "price": {"type": "float"},
        "description": {"type": "text", "text": {"analyser": "standard"}},
    }
)


@pytest.fixture(scope="module")
def products(spark):
    rows = [
        # _id, vector, category, labels, size, price, description
        ("00", [0.0, 0.0], "Shoes", ["red", "SALE"], 10, 5.0, "the red running shoe fast"),
        ("01", [1.0, 0.0], "shoes", ["blue"], -5, 10.0, "blue walking shoe"),
        ("02", [0.0, 1.0], "Hats", ["red"], 20, 20.0, "red wizard hat gandalf"),
        ("03", [1.0, 1.0], "hats", None, 30, 2.5, "plain cap"),
        ("04", [2.0, 2.0], None, ["green", "sale"], None, None, None),
        ("05", [5.0, 5.0], "Coats", ["winter"], 40, 99.9, "warm winter coat gandalf wizard"),
        ("06", None, "coats", ["winter", "sale"], 50, 49.0, "gandalf the grey wizard"),
    ]
    df = spark.createDataFrame(
        rows,
        "_id string, vector array<float>, category string, labels array<string>, "
        "size long, price double, description string",
    )
    return df


@pytest.fixture(scope="module")
def engine(products):
    return SearchEngine(products, SCHEMA)


def ids(df):
    return [r["_id"] for r in df.select("_id").collect()]


def search_ids(engine, query, **req):
    return ids(engine.search({"query": query, **req}))


# -- pure filters (F1-F10) ---------------------------------------------------

def test_equals_case_folded(engine):
    got = search_ids(engine, {"property": "category", "string": {"operator": "equals", "value": "SHOES"}})
    assert sorted(got) == ["00", "01"]


def test_not_equals_excludes_nulls(engine):
    got = search_ids(engine, {"property": "category", "string": {"operator": "notEquals", "value": "shoes"}})
    assert sorted(got) == ["02", "03", "05", "06"]  # null category absent


def test_starts_with(engine):
    got = search_ids(engine, {"property": "category", "string": {"operator": "startsWith", "value": "ha"}})
    assert sorted(got) == ["02", "03"]


def test_integer_range_inclusive(engine):
    got = search_ids(engine, {"property": "size", "integer": {"operator": "inRange", "value": 10, "endValue": 30}})
    assert sorted(got) == ["00", "02", "03"]


def test_integer_negative_bounds(engine):
    got = search_ids(engine, {"property": "size", "integer": {"operator": "lessThan", "value": 0}})
    assert got == ["01"]


def test_float_greater(engine):
    got = search_ids(engine, {"property": "price", "float": {"operator": "greaterThanOrEquals", "value": 20.0}})
    assert sorted(got) == ["02", "05", "06"]


def test_contains_all_case_folded(engine):
    got = search_ids(engine, {"property": "labels", "stringArray": {"operator": "containsAll", "value": ["RED", "sale"]}})
    assert got == ["00"]


def test_contains_any(engine):
    got = search_ids(engine, {"property": "labels", "stringArray": {"operator": "containsAny", "value": ["sale"]}})
    assert sorted(got) == ["00", "04", "06"]


def test_id_lookup_unknown_silently_skipped(engine):
    got = search_ids(engine, {"property": "_id", "stringArray": {"operator": "containsAny", "value": ["02", "zz"]}})
    assert got == ["02"]


def test_and_or_pure(engine):
    q = {
        "property": "_and",
        "_and": [
            {"property": "size", "integer": {"operator": "greaterThan", "value": 15}},
            {
                "property": "_or",
                "_or": [
                    {"property": "category", "string": {"operator": "equals", "value": "hats"}},
                    {"property": "category", "string": {"operator": "equals", "value": "coats"}},
                ],
            },
        ],
    }
    assert sorted(search_ids(engine, q)) == ["02", "03", "05", "06"]


# -- ranked: vector (R1, R4, R5) --------------------------------------------

def test_knn_basic_order(engine):
    q = {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 3}}
    got = search_ids(engine, q)
    assert got == ["00", "01", "02"]  # d=0, then ties d=1 broken by _id


def test_knn_distance_and_hybrid(engine):
    q = {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 2, "weight": 2.0}}
    rows = engine.search({"query": q}).select("_id", "_distance", "_hybridScore").collect()
    assert rows[0]["_distance"] == 0.0 and rows[0]["_hybridScore"] == 0.0
    assert rows[1]["_distance"] == 1.0 and rows[1]["_hybridScore"] == -2.0


def test_knn_prefilter(engine):
    q = {
        "property": "vector",
        "vectorFlat": {
            "vector": [0.0, 0.0],
            "operator": "near",
            "limit": 2,
            "filter": {"property": "category", "string": {"operator": "startsWith", "value": "hat"}},
        },
    }
    assert search_ids(engine, q) == ["02", "03"]


def test_knn_skips_null_vectors(engine):
    q = {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 7}}
    got = search_ids(engine, q)
    assert "06" not in got and len(got) == 6


# -- ranked: text (R3) -------------------------------------------------------

def test_text_contains_any_scores(engine):
    q = {"property": "description", "text": {"operator": "containsAny", "value": "gandalf wizard", "limit": 5}}
    rows = engine.search({"query": q}).select("_id", "_score").collect()
    got = [r["_id"] for r in rows]
    assert set(got) == {"02", "05", "06"}
    scores = {r["_id"]: r["_score"] for r in rows}
    # 06 has both terms in a 4-token doc -> highest score
    assert max(scores, key=scores.get) == "06"
    assert all(s > 0 for s in scores.values())


def test_text_contains_all(engine):
    q = {"property": "description", "text": {"operator": "containsAll", "value": "gandalf wizard", "limit": 5}}
    assert sorted(search_ids(engine, q)) == ["02", "05", "06"]


def test_text_stopwords_removed(engine):
    # "the" is a stopword: matches nothing on its own
    q = {"property": "description", "text": {"operator": "containsAny", "value": "the", "limit": 5}}
    assert search_ids(engine, q) == []


def test_text_limit_truncates(engine):
    q = {"property": "description", "text": {"operator": "containsAny", "value": "gandalf", "limit": 2}}
    assert len(search_ids(engine, q)) == 2


def test_text_prefilter(engine):
    q = {
        "property": "description",
        "text": {
            "operator": "containsAny",
            "value": "gandalf wizard",
            "limit": 5,
            "filter": {"property": "size", "integer": {"operator": "greaterThan", "value": 45}},
        },
    }
    assert search_ids(engine, q) == ["06"]


# -- hybrid merge (B3/B4) ----------------------------------------------------

def test_hybrid_or_sums_scores(engine):
    q = {
        "property": "_or",
        "_or": [
            {"property": "vector", "vectorFlat": {"vector": [5.0, 5.0], "operator": "near", "limit": 2}},
            {"property": "description", "text": {"operator": "containsAny", "value": "winter coat", "limit": 3}},
        ],
    }
    rows = engine.search({"query": q}).select("_id", "_distance", "_score", "_hybridScore").collect()
    by_id = {r["_id"]: r for r in rows}
    # "05" appears in both branches: hybrid = -distance + text score, keeps both
    assert "05" in by_id
    assert by_id["05"]["_distance"] == 0.0
    assert by_id["05"]["_score"] is not None
    assert by_id["05"]["_hybridScore"] == pytest.approx(by_id["05"]["_score"])


def test_hybrid_and_drops_non_intersection(engine):
    q = {
        "property": "_and",
        "_and": [
            {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 4}},
            {"property": "category", "string": {"operator": "equals", "value": "hats"}},
        ],
    }
    got = search_ids(engine, q)
    assert sorted(got) == ["02", "03"]


def test_filter_only_rows_appended_after_ranked(engine):
    # OR of ranked + pure filter: ranked rows first, filter-only rows after
    q = {
        "property": "_or",
        "_or": [
            {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 2}},
            {"property": "category", "string": {"operator": "equals", "value": "coats"}},
        ],
    }
    got = search_ids(engine, q)
    assert got[:2] == ["00", "01"]  # ranked, by hybrid desc
    assert set(got[2:]) == {"05", "06"}  # appended filter-only


# -- shaping (P1-P3) ---------------------------------------------------------

def test_sort_missing_last(engine):
    q = {"property": "size", "integer": {"operator": "greaterThan", "value": -100}}
    got = search_ids(
        engine,
        {
            "property": "_or",
            "_or": [q, {"property": "labels", "stringArray": {"operator": "containsAny", "value": ["green"]}}],
        },
        sort=[{"property": "price", "descending": True}],
    )
    assert got[-1] == "04"  # null price sorts last even descending


def test_offset_limit(engine):
    q = {"property": "size", "integer": {"operator": "greaterThan", "value": -100}}
    all_ids = search_ids(engine, q, sort=[{"property": "size", "descending": False}])
    paged = search_ids(engine, q, sort=[{"property": "size", "descending": False}], offset=2, limit=2)
    assert paged == all_ids[2:4]


def test_select_subset(engine):
    q = {"property": "_id", "string": {"operator": "equals", "value": "00"}}
    df = engine.search({"query": q, "select": ["category", "price"]})
    assert set(df.columns) == {"_id", "category", "price", "_distance", "_score", "_hybridScore"}


def test_select_star(engine, products):
    q = {"property": "_id", "string": {"operator": "equals", "value": "00"}}
    df = engine.search({"query": q, "select": ["*"]})
    for c in products.columns:
        assert c in df.columns


def test_schema_validation_unknown_property(engine):
    with pytest.raises(ValueError, match="not found in index schema"):
        engine.search({"query": {"property": "nope", "string": {"operator": "equals", "value": "x"}}})


def test_knn_bit_metrics_on_float_vectors(products):
    # D8: a vectorFlat property declared hamming/jaccard accepts float
    # vectors and binarizes both sides at 0.5 (vectorstore.go:51-73).
    # Fixture bits (v > 0.5): 00->(0,0) 01->(1,0) 02->(0,1) 03->(1,1)
    # 04->(1,1) 05->(1,1); query [0.0, 0.6] -> (0,1).
    schema = IndexSchema.from_json(
        {"vector": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 2, "distanceMetric": "hamming"}}}
    )
    eng = SearchEngine(products, schema)
    rows = eng.search(
        {"query": {"property": "vector", "vectorFlat": {"vector": [0.0, 0.6], "operator": "near", "limit": 6}}}
    ).select("_id", "_distance").collect()
    d = {r["_id"]: r["_distance"] for r in rows}
    assert d["02"] == 0.0  # (0,1) exact bit match
    assert d["00"] == 1.0 and d["03"] == 1.0
    assert d["01"] == 2.0

    schema_j = IndexSchema.from_json(
        {"vector": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 2, "distanceMetric": "jaccard"}}}
    )
    eng_j = SearchEngine(products, schema_j)
    rows = eng_j.search(
        {"query": {"property": "vector", "vectorFlat": {"vector": [0.0, 0.6], "operator": "near", "limit": 6}}}
    ).select("_id", "_distance").collect()
    dj = {r["_id"]: r["_distance"] for r in rows}
    assert dj["02"] == 0.0          # identical bit sets
    assert dj["03"] == pytest.approx(0.5)  # |AND|=1, |OR|=2
    assert dj["01"] == pytest.approx(1.0)  # disjoint
    # all-zero vs all-zero union empty -> distance 0 (distance.go:62-64)
    zq = eng_j.search(
        {"query": {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 1}}}
    ).select("_id", "_distance").collect()
    assert zq[0]["_id"] == "00" and zq[0]["_distance"] == 0.0


def test_ranked_option_validation(engine):
    # per-search option ranges (models/search.go:267-306)
    with pytest.raises(ValueError, match="limit"):
        engine.search({"query": {"property": "vector", "vectorFlat": {"vector": [0.0, 0.0], "operator": "near", "limit": 76}}})
    with pytest.raises(ValueError, match="limit"):
        engine.search({"query": {"property": "description", "text": {"operator": "containsAny", "value": "x", "limit": 0}}})
    with pytest.raises(ValueError, match="value cannot be empty"):
        engine.search({"query": {"property": "description", "text": {"operator": "containsAny", "value": "", "limit": 5}}})
    with pytest.raises(ValueError, match="invalid operator"):
        engine.search({"query": {"property": "description", "text": {"operator": "match", "value": "x", "limit": 5}}})


def test_cross_type_payload_sort_groups_by_kind(spark):
    """Sorting on a schemaless payload field groups mixed types by kind
    (CompareAny, utils/compare.go:13-35): bool < int < float < map < slice
    < string; natural order within a kind; missing keys last."""
    schema = IndexSchema.from_json({"tag": {"type": "string", "string": {}}})
    rows = [
        ("s2", {"k": '"zebra"'}),
        ("b1", {"k": "true"}),
        ("f1", {"k": "2.5"}),
        ("i1", {"k": "7"}),
        ("m1", {"k": '{"a": 1}'}),
        ("a1", {"k": "[1,2]"}),
        ("s1", {"k": '"apple"'}),
        ("b0", {"k": "false"}),
        ("i0", {"k": "-3"}),
        ("x0", {}),  # missing key -> last
        ("f0", {"k": "0.5"}),
    ]
    df = spark.createDataFrame(
        rows, "_id string, payload map<string,string>"
    ).withColumn("tag", F.lit("t"))
    eng = SearchEngine(df, schema)
    res = eng.search({
        "query": {"property": "tag", "string": {"operator": "equals", "value": "t"}},
        "sort": [{"property": "k"}],
        "limit": None,
    })
    got = [r._id for r in res.collect()]
    assert got == ["b0", "b1", "i0", "i1", "f0", "f1", "m1", "a1", "s1", "s2", "x0"]
    # descending reverses the kind grouping too (CompareAny(bv, av)), with
    # missing still last
    res_d = eng.search({
        "query": {"property": "tag", "string": {"operator": "equals", "value": "t"}},
        "sort": [{"property": "k", "descending": True}],
        "limit": None,
    })
    got_d = [r._id for r in res_d.collect()]
    assert got_d[:2] == ["s2", "s1"] and got_d[-1] == "x0"
    # unknown property with no payload column raises
    eng2 = SearchEngine(df.drop("payload"), schema)
    with pytest.raises(ValueError, match="unknown sort property"):
        eng2.search({
            "query": {"property": "tag", "string": {"operator": "equals", "value": "t"}},
            "sort": [{"property": "k"}], "limit": None,
        })


def test_filtered_ann_exact_fallback_small_candidate_set(spark):
    """A highly selective filter must not lose matches to unprobed IVF
    cells: small candidate sets are exact-scanned (full recall), instead of
    the optimistic filtered-probe mode that serves large candidate sets."""
    import numpy as np

    from semadb_spark.operators.ann import ivf_build

    rng = np.random.RandomState(5)
    # two well-separated clusters; "rare" tag only on the far cluster
    near = rng.normal(loc=0.0, scale=0.2, size=(80, 4))
    far = rng.normal(loc=50.0, scale=0.2, size=(5, 4))
    rows = [("n%03d" % i, [float(x) for x in near[i]], "common") for i in range(80)]
    rows += [("f%03d" % i, [float(x) for x in far[i]], "rare") for i in range(5)]
    df = spark.createDataFrame(rows, "_id string, vector array<float>, tag string")
    schema = IndexSchema.from_json({
        "vector": {"type": "vectorVamana", "vectorVamana": {"vectorSize": 4, "distanceMetric": "euclidean"}},
        "tag": {"type": "string", "string": {}},
    })
    index = ivf_build(df, "vector", "_id", nlist=2, seed=1)
    eng = SearchEngine(df, schema, vector_indexes={"vector": index})
    # query sits in the near cluster; with nprobe=1 the far cell would not
    # be probed — the exact fallback must still return all 5 rare matches
    res = eng.search({"query": {"property": "vector", "vectorVamana": {
        "vector": [0.0, 0.0, 0.0, 0.0], "operator": "near", "limit": 5,
        "searchSize": 25,
        "filter": {"property": "tag", "string": {"operator": "equals", "value": "rare"}},
    }}, "limit": 5})
    got = {r._id for r in res.collect()}
    assert got == {f"f{i:03d}" for i in range(5)}


def test_vamana_update_batch_bound(spark):
    from semadb_spark.operators import vamana as vm

    import numpy as np

    rng = np.random.RandomState(2)
    X = rng.normal(size=(60, 4))
    df = spark.createDataFrame(
        [(f"{i:03d}", [float(x) for x in X[i]]) for i in range(60)],
        "id string, v array<float>",
    )
    index = vm.vamana_build(df, "v", id_col="id", degree_bound=32, seed=3)
    ids_101 = [f"{i:03d}" for i in range(50)] * 2 + ["051"]
    with pytest.raises(ValueError, match="batch too large"):
        vm.vamana_update(index, df, ids_101, vec_col="v", id_col="id")
    # exactly at the bound passes the guard (update itself succeeds)
    upd = vm.vamana_update(index, df, [f"{i:03d}" for i in range(1, 11)], vec_col="v", id_col="id")
    assert upd.edges.count() > 0


def test_d8_query_dim_validated_before_encode(spark):
    # a short query vector must error, not silently score a bit prefix
    schema = IndexSchema.from_json(
        {"vector": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 8, "distanceMetric": "hamming"}}}
    )
    df = spark.createDataFrame(
        [("0", [1.0] * 8)], "_id string, vector array<float>"
    )
    eng = SearchEngine(df, schema)
    with pytest.raises(ValueError, match="length mismatch"):
        eng.search({"query": {"property": "vector", "vectorFlat": {
            "vector": [1.0] * 4, "operator": "near", "limit": 5}}})


def test_vamana_search_size_validation(spark):
    schema = IndexSchema.from_json(
        {"vector": {"type": "vectorVamana", "vectorVamana": {"vectorSize": 2, "distanceMetric": "euclidean"}}}
    )
    df = spark.createDataFrame([("0", [0.0, 0.0])], "_id string, vector array<float>")
    eng = SearchEngine(df, schema)
    node = {"vector": [0.0, 0.0], "operator": "near", "limit": 5, "searchSize": 10}
    with pytest.raises(ValueError, match="searchSize"):
        eng.search({"query": {"property": "vector", "vectorVamana": node}})
    node = {"vector": [0.0, 0.0], "operator": "near", "limit": 50, "searchSize": 25}
    with pytest.raises(ValueError, match="searchSize must be greater"):
        eng.search({"query": {"property": "vector", "vectorVamana": node}})


def test_text_search_batch_matches_per_query(products):
    """Batched TF-IDF serving must reproduce per-query text_search exactly
    (ids AND scores), on both the ad-hoc and the indexed path, both
    operators, including a query whose terms miss the corpus entirely."""
    from semadb_spark.operators.text_search import (
        build_text_index,
        text_search,
        text_search_batch,
    )

    queries = [
        ("q0", "gandalf wizard"),
        ("q1", "red shoe"),
        ("q2", "the blue walking"),       # stopword collapses
        ("q3", "zzz-nothing-matches"),
    ]
    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    for op in ("containsAny", "containsAll"):
        for kw in (
            {},                                    # ad-hoc tokenize path
            {"doc_terms": idx, "num_docs": n_docs},  # indexed path
        ):
            batch = text_search_batch(
                products, "description", queries, op, limit=5, **kw
            ).collect()
            got = {}
            for r in batch:
                got.setdefault(r["query_id"], []).append(
                    (r["id"], r["_score"], r["_hybridScore"])
                )
            for qid, qtext in queries:
                solo = [
                    (r["id"], r["_score"], r["_hybridScore"])
                    for r in text_search(
                        products, "description", qtext, op, limit=5, **kw
                    ).collect()
                ]
                assert got.get(qid, []) == solo, (op, qid, kw.keys())


def test_engine_close_releases_d8_codes(products):
    """Cache hygiene (reference caps its shard cache, singleServer.yaml:61):
    engine rotation must unpersist the packed D8 code frames, and a closed
    engine must rebuild them correctly on next use instead of serving a
    stale or dead handle."""
    schema = IndexSchema.from_json(
        {"vector": {"type": "vectorFlat", "vectorFlat": {"vectorSize": 2, "distanceMetric": "hamming"}}}
    )
    eng = SearchEngine(products, schema)
    req = {"query": {"property": "vector", "vectorFlat": {
        "vector": [0.0, 0.6], "operator": "near", "limit": 6}}}
    before = {r["_id"]: r["_distance"] for r in eng.search(req).collect()}
    assert eng._d8_codes  # the code frame was built and cached
    frames = list(eng._d8_codes.values())
    assert all(f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames)
    eng.close()
    assert not eng._d8_codes
    for f in frames:
        assert not (f.storageLevel.useMemory or f.storageLevel.useDisk)
    # a closed engine is still usable: codes rebuild on demand
    after = {r["_id"]: r["_distance"] for r in eng.search(req).collect()}
    assert after == before


def test_text_serve_matches_text_search(products, tmp_path):
    """The one-SQL-call serving fast path must reproduce text_search
    exactly (ids, scores, hybrid scores) over the persisted
    bucket-partitioned index layout, both operators, including weights
    and a no-match query."""
    from pyspark.sql import functions as F

    from semadb_spark.functions.hashing import md5_hash64
    from semadb_spark.operators.text_search import (
        TERM_BUCKETS,
        build_text_index,
        text_search,
        text_serve,
    )

    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    path = str(tmp_path / "postings")
    (
        idx.withColumn(
            "term_bucket", F.pmod(md5_hash64(F.col("term")), F.lit(TERM_BUCKETS))
        )
        .write.partitionBy("term_bucket")
        .parquet(path)
    )
    spark = products.sparkSession
    spark.read.parquet(path).createOrReplaceTempView("tsv_postings")
    for op in ("containsAny", "containsAll"):
        for qtext in ("gandalf wizard", "red shoe", "the blue walking",
                      "zzz-nothing-matches"):
            want = [
                (r["id"], r["_score"], r["_hybridScore"])
                for r in text_search(
                    products, "description", qtext, op, limit=5, weight=0.7,
                    doc_terms=idx, num_docs=n_docs,
                ).collect()
            ]
            got = [
                (r["id"], r["_score"], r["_hybridScore"])
                for r in text_serve(
                    spark, "tsv_postings", qtext, op, limit=5, weight=0.7,
                    num_docs=n_docs,
                ).collect()
            ]
            assert got == want, (op, qtext)
    with pytest.raises(ValueError, match="num_docs"):
        text_serve(spark, "tsv_postings", "x", "containsAny")
    with pytest.raises(ValueError, match="invalid operator"):
        text_serve(spark, "tsv_postings", "x", "nope", num_docs=1)


def test_text_serve_local_matches_text_serve(products, tmp_path):
    """The driver-local pyarrow serving path (NO Spark job) must reproduce
    text_serve exactly — same ids, scores, hybrid scores, ordering — over
    the same persisted bucket-partitioned artifact, both operators,
    including weights, a no-match query, and an empty query."""
    from pyspark.sql import functions as F

    from semadb_spark.functions.hashing import md5_hash64
    from semadb_spark.operators.text_search import (
        TERM_BUCKETS,
        build_text_index,
        text_serve,
        text_serve_local,
    )

    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    path = str(tmp_path / "postings_local")
    (
        idx.withColumn(
            "term_bucket", F.pmod(md5_hash64(F.col("term")), F.lit(TERM_BUCKETS))
        )
        .write.partitionBy("term_bucket")
        .parquet(path)
    )
    spark = products.sparkSession
    spark.read.parquet(path).createOrReplaceTempView("tsl_postings")
    for op in ("containsAny", "containsAll"):
        for qtext in ("gandalf wizard", "red shoe", "the blue walking",
                      "zzz-nothing-matches", ""):
            want = [
                (r["id"], round(r["_score"], 10), round(r["_hybridScore"], 10))
                for r in text_serve(
                    spark, "tsl_postings", qtext, op, limit=5, weight=0.7,
                    num_docs=n_docs,
                ).collect()
            ]
            local = text_serve_local(
                path, qtext, op, limit=5, weight=0.7, num_docs=n_docs
            )
            got = [
                (r["id"], round(r["_score"], 10), round(r["_hybridScore"], 10))
                for r in local.to_dict("records")
            ]
            assert got == want, (op, qtext)
    with pytest.raises(ValueError, match="num_docs"):
        text_serve_local(path, "x", "containsAny")
    with pytest.raises(ValueError, match="invalid operator"):
        text_serve_local(path, "x", "nope", num_docs=1)


def test_text_serve_local_thread_handles_isolated_and_consistent(
    products, tmp_path
):
    """r14: the per-bucket row-group index is kept per (path, fingerprint,
    THREAD) — ParquetFile handles are not safe for concurrent reads, so a
    multi-threaded serving tier must get its own handle set per client
    thread, and concurrent queries must return exactly what sequential ones
    do."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from semadb_spark.functions.hashing import md5_hash64
    from semadb_spark.operators.text_search import (
        TERM_BUCKETS,
        _local_rowgroup_index,
        build_text_index,
        text_serve_local,
    )

    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    path = str(tmp_path / "postings_threads")
    (
        idx.withColumn(
            "term_bucket", F.pmod(md5_hash64(F.col("term")), F.lit(TERM_BUCKETS))
        )
        .write.partitionBy("term_bucket")
        .parquet(path)
    )
    queries = ["gandalf wizard", "red shoe", "the blue walking", "shoe"]
    want = {
        q: text_serve_local(path, q, "containsAny", limit=5, num_docs=n_docs)
        .to_dict("records")
        for q in queries
    }
    results = {}
    with ThreadPoolExecutor(4) as ex:
        for q, got in zip(
            queries * 8,
            ex.map(
                lambda q: text_serve_local(
                    path, q, "containsAny", limit=5, num_docs=n_docs
                ).to_dict("records"),
                queries * 8,
            ),
        ):
            results.setdefault(q, []).append(got)
        # each serving thread holds its own handle set for this path: four
        # tasks that meet at a barrier run on four distinct threads
        barrier = threading.Barrier(4)

        def handles(_):
            barrier.wait(10)
            return _local_rowgroup_index(path)

        sets = list(ex.map(handles, range(4)))
    for q, runs in results.items():
        for got in runs:
            assert got == want[q], q
    bucket = min(sets[0])
    assert len({id(rg[bucket][0][0]) for rg in sets}) == 4


def test_text_rowgroup_handles_die_with_their_threads(tmp_path):
    """Thread churn must not leak handles: 200 concurrent short-lived
    client threads each open a handle set on a 4-file posting index, and
    once they have exited none of those ParquetFile handles (nor their
    file descriptors) remain."""
    import gc
    import os
    import threading
    import weakref

    import pyarrow as pa
    import pyarrow.parquet as pq

    from semadb_spark.operators.text_search import _local_rowgroup_index

    path = str(tmp_path / "postings_churn")
    for b in range(4):
        os.makedirs(os.path.join(path, f"term_bucket={b}"))
        pq.write_table(
            pa.table({"id": ["1", "2"], "term": [f"a{b}", f"b{b}"],
                      "tf": [1, 1], "doc_len": [2, 2]}),
            os.path.join(path, f"term_bucket={b}", "part-0.parquet"),
        )
    assert _local_rowgroup_index(path) is not None

    def open_fds():
        return len(os.listdir("/proc/self/fd"))

    fds_before = open_fds()
    refs = []
    barrier = threading.Barrier(200)

    def client():
        rg = _local_rowgroup_index(path)
        refs.extend(weakref.ref(pf) for files in rg.values() for pf, _ in files)
        barrier.wait(30)

    threads = [threading.Thread(target=client) for _ in range(200)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(30)
    assert not any(t.is_alive() for t in threads)
    assert len(refs) == 800
    gc.collect()
    assert sum(r() is not None for r in refs) == 0
    assert open_fds() <= fds_before


def test_text_serve_local_mixed_stats_rowgroups_must_read(products, tmp_path):
    """A posting file whose row groups lack term statistics (different
    writer, stats dropped) must still be READ by the fast path — stats-less
    groups are must-read, never silently pruned. Regression for the ADVICE
    r6 finding: `usable` was global, so one stats-bearing group anywhere
    made every (None, None) group disappear from results."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from semadb_spark.functions.hashing import md5_hash64, md5_hash64_py
    from semadb_spark.operators.text_search import (
        TERM_BUCKETS,
        build_text_index,
        text_serve_local,
    )

    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    path = str(tmp_path / "postings_mixed")
    (
        idx.withColumn(
            "term_bucket", F.pmod(md5_hash64(F.col("term")), F.lit(TERM_BUCKETS))
        )
        .write.partitionBy("term_bucket")
        .parquet(path)
    )
    # plant a foreign-writer file WITHOUT statistics into the right bucket:
    # a brand-new term in a brand-new doc, invisible unless the stats-less
    # group is actually read
    term = "zzmixedstatsterm"
    b = md5_hash64_py(term) % TERM_BUCKETS
    extra = pa.table(
        {
            "id": ["doc-alien"],
            "term": [term],
            "tf": pa.array([1], type=pa.int64()),
            "doc_len": pa.array([1], type=pa.int64()),
            "df": pa.array([1], type=pa.int64()),
        }
    )
    bucket_dir = tmp_path / "postings_mixed" / f"term_bucket={b}"
    bucket_dir.mkdir(exist_ok=True)
    pq.write_table(
        extra, str(bucket_dir / "alien-00000.parquet"), write_statistics=False
    )
    got = text_serve_local(path, term, "containsAny", num_docs=n_docs + 1)
    assert list(got["id"]) == ["doc-alien"], (
        "stats-less row group was pruned instead of must-read"
    )
    # and a normal query through the same mixed artifact still works
    assert len(text_serve_local(path, "gandalf", "containsAny", num_docs=n_docs + 1))


def test_text_serve_local_cache_invalidated_on_rebuild(spark, tmp_path):
    """A rebuild through the collection lands at a NEW path named by a new
    snapshot, so the driver-local dataset + row-group caches (keyed by path
    alone) never serve stale postings: the next read resolves the new
    artifact, while the old path keeps serving exactly what it held."""
    from pyspark.sql import Row

    from semadb_spark import Collection
    from semadb_spark.operators.text_search import text_serve_local

    schema = {"body": {"type": "text", "text": {"analyser": "standard"}}}
    coll = Collection.create(spark, str(tmp_path / "rebuild"), schema,
                             num_buckets=2)
    docs = ["red wizard hat gandalf", "warm winter coat gandalf wizard",
            "plain cap", "blue walking shoe"]
    coll.insert(spark.createDataFrame(
        [Row(_id=f"d{i}", body=t) for i, t in enumerate(docs)]
    ))
    coll.build_text_index("body")
    old = coll._index_path("body")
    req = {"query": {"property": "body", "text": {
        "operator": "containsAny", "value": "gandalf", "limit": 10}}}
    first = text_serve_local(old, "gandalf", "containsAny", num_docs=4)
    assert sorted(first["id"]) == ["d0", "d1"]
    assert sorted(coll.search_local(req)["_id"]) == ["d0", "d1"]

    # scrub the term, then rebuild through the collection
    coll.update(spark.createDataFrame(
        [Row(_id="d0", body="red wizard hat nobody"),
         Row(_id="d1", body="warm winter coat nobody wizard")]
    ))
    coll.build_text_index("body")
    new = coll._index_path("body")
    assert new != old
    assert len(text_serve_local(new, "gandalf", "containsAny", num_docs=4)) == 0
    assert len(text_serve_local(new, "nobody", "containsAny", num_docs=4)) == 2
    assert len(coll.search_local(req)) == 0, "stale postings served after rebuild"
    # the old artifact was never rewritten
    again = text_serve_local(old, "gandalf", "containsAny", num_docs=4)
    assert again.equals(first)


def test_text_search_batch_candidate_filter_parity(products):
    """Batched pre-filtered text search must equal the per-query path with
    the same candidate set (R4 semantics: intersect before scoring,
    corpus-wide df)."""
    from semadb_spark.operators.text_search import (
        build_text_index,
        text_search,
        text_search_batch,
    )

    flt = products.filter(F.col("_id").isin(["02", "05", "06"])).select("_id")
    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    queries = [("q0", "gandalf wizard"), ("q1", "red shoe")]
    for kw in ({}, {"doc_terms": idx, "num_docs": n_docs}):
        batch = text_search_batch(
            products, "description", queries, "containsAny", limit=5,
            candidate_ids=flt, **kw,
        ).collect()
        got = {}
        for r in batch:
            got.setdefault(r["query_id"], []).append((r["id"], r["_score"]))
        for qid, qtext in queries:
            solo = [
                (r["id"], r["_score"])
                for r in text_search(
                    products, "description", qtext, "containsAny", limit=5,
                    candidate_ids=flt, **kw,
                ).collect()
            ]
            assert got.get(qid, []) == solo, (qid, kw.keys())


def test_quantized_vamana_serves_through_graph_route(spark, tmp_path):
    """Schema-declared vectorVamana + frozen quantizer serves
    quantized-THROUGH-GRAPH (the reference's actual architecture — the
    quantizer lives inside the graph index and the beam scores stored
    codes, vamana.go:257-259): build_vamana_index after the quantizer
    froze bakes the codes into the packed blobs, and the engine's
    unfiltered route beams on them (beam_on auto -> bq_adc) with exact
    float rerank. Recall vs exact >= limit/2 (vamana_test.go:230-253) and
    exact float distances out."""
    import numpy as np
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2,
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}}}
    coll = Collection.create(spark, str(tmp_path / "qgraph"), schema, num_buckets=4)
    rng = np.random.RandomState(21)
    X = np.repeat(rng.normal(size=(8, 8)), 40, axis=0) + rng.normal(
        scale=0.15, size=(320, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(320)]
    ))  # autofit crosses the trigger -> the binary quantizer freezes
    coll.build_vamana_index("v", num_shards=2, seed=5)

    g = coll._graph_indexes()["v"]
    assert g["packed_codes"] == "bq"
    assert "codes" in g["packed"].columns  # baked into the blobs

    for i in (0, 45, 123):
        res = coll.search({"query": {"property": "v", "vectorVamana": {
            "vector": [float(x) for x in X[i]], "operator": "near",
            "limit": 10, "searchSize": 40}}}).collect()
        assert 0 < len(res) <= 10
        got = {r["_id"] for r in res}
        d2 = ((X - X[i]) ** 2).sum(axis=1)
        exact = {f"p{j:03d}" for j in np.argsort(d2, kind="stable")[:10]}
        assert len(got & exact) >= 5, f"graph-route recall < 0.5 for row {i}"
        # exact float rerank distances, never code distances
        for r in res:
            j = int(r["_id"][1:])
            want = float(((X[j] - X[i]) ** 2).sum())
            assert abs(r["_distance"] - want) <= 1e-4 * max(want, 1.0)


def test_collection_vamana_search_rerank_none(spark, tmp_path):
    """Collection.vamana_search(rerank="none") = code-domain candidate
    generation through the engine surface: only valid on the packed
    quantized artifact (baked codes), returns ADC-ranked shortlists whose
    union with the exact top-10 is well above chance, and raises cleanly
    when the packed/quantized route is unavailable (filtered query)."""
    import numpy as np
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2,
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}}}
    coll = Collection.create(spark, str(tmp_path / "cdom"), schema, num_buckets=4)
    rng = np.random.RandomState(21)
    X = np.repeat(rng.normal(size=(8, 8)), 40, axis=0) + rng.normal(
        scale=0.15, size=(320, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(320)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=5)

    queries = [(f"q{i}", [float(x) for x in X[i]]) for i in (0, 45, 123)]
    res = coll.vamana_search("v", queries, k=30, n_seeds=16, rerank="none")
    got: dict = {}
    for r in res.collect():
        got.setdefault(r.query_id, set()).add(r._id)
    for qid, qi in (("q0", 0), ("q45", 45), ("q123", 123)):
        d2 = ((X - X[qi]) ** 2).sum(axis=1)
        exact = {f"p{j:03d}" for j in np.argsort(d2, kind="stable")[:10]}
        assert len(got[qid]) <= 30
        assert len(got[qid] & exact) >= 3, f"candidate gen too weak for {qid}"

    # filtered queries fall back to the row-table path - no code-domain
    import pytest as _pytest

    with _pytest.raises(ValueError, match="packed quantized"):
        coll.vamana_search(
            "v", queries, k=10, candidate_ids=["p000", "p001"], rerank="none"
        )


def test_quantizer_drift_errors_not_degrades(spark, tmp_path):
    """The packed graph bakes codes for a SPECIFIC quantizer fit; if the
    resolved frozen quantizer ever differs (ADVICE r8 — e.g. a later refit
    resolving as the highest version), serving must ERROR, not silently
    score ADC against the wrong LUTs. Both engine surfaces check the
    fingerprint recorded at pack time."""
    import json
    import os

    import numpy as np
    import pytest as _pytest
    from pyspark.sql import Row

    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2,
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}}}
    coll = Collection.create(spark, str(tmp_path / "drift"), schema, num_buckets=4)
    rng = np.random.RandomState(21)
    X = np.repeat(rng.normal(size=(8, 8)), 40, axis=0) + rng.normal(
        scale=0.15, size=(320, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(320)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=5)
    query = {"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[0]], "operator": "near",
        "limit": 10, "searchSize": 40}}}
    assert coll.search(query).count() > 0  # matching fit serves fine

    # tamper: the resolved frozen fit drifts away from the baked one
    qmeta_path = os.path.join(coll._qindex_path("v"), "_quantizer.json")
    with open(qmeta_path) as f:
        qmeta = json.load(f)
    qmeta["thresholds"] = [t + 10.0 for t in qmeta["thresholds"]]
    with open(qmeta_path, "w") as f:
        json.dump(qmeta, f)
    coll = Collection.open(spark, coll.path)

    with _pytest.raises(ValueError, match="quantizer drift"):
        coll.search(query).collect()
    with _pytest.raises(ValueError, match="quantizer drift"):
        coll.vamana_search("v", [("q0", [float(x) for x in X[0]])], k=10)


def test_text_serve_pool_parity_and_lifecycle(products, tmp_path):
    """TextServePool (the process-parallel serving tier) returns results
    byte-identical to text_serve_local for every query/operator, in input
    order through search_many, across worker processes; lifecycle is
    bounded (context manager shuts the workers down) and bad constructor
    args raise."""
    from pyspark.sql import functions as F

    from semadb_spark.functions.hashing import md5_hash64
    from semadb_spark.operators.text_search import (
        TERM_BUCKETS,
        TextServePool,
        build_text_index,
        text_serve_local,
    )

    idx = build_text_index(products, "description")
    n_docs = idx.select("id").distinct().count()
    path = str(tmp_path / "postings_pool")
    (
        idx.withColumn(
            "term_bucket", F.pmod(md5_hash64(F.col("term")), F.lit(TERM_BUCKETS))
        )
        .write.partitionBy("term_bucket")
        .parquet(path)
    )
    queries = [
        ("gandalf wizard", "containsAny"),
        ("red shoe", "containsAll"),
        ("the blue walking", "containsAny"),
        ("zzz-nothing-matches", "containsAny"),
        ("", "containsAll"),
    ]
    with TextServePool(path, num_docs=n_docs, workers=2) as pool:
        # single-query surface
        got1 = pool.search("gandalf wizard", "containsAny", limit=5, weight=0.7)
        want1 = text_serve_local(
            path, "gandalf wizard", "containsAny", limit=5, weight=0.7,
            num_docs=n_docs,
        )
        assert got1.to_dict("records") == want1.to_dict("records")
        # fan-out surface: input order preserved, every row identical
        many = pool.search_many(queries, limit=5, weight=0.7)
        assert len(many) == len(queries)
        for (qtext, op), got in zip(queries, many):
            want = text_serve_local(
                path, qtext, op, limit=5, weight=0.7, num_docs=n_docs
            )
            assert got.to_dict("records") == want.to_dict("records"), (qtext, op)
    # pool is shut down after the context exits: new work is rejected
    with pytest.raises(RuntimeError):
        pool.search("gandalf wizard")
    with pytest.raises(ValueError, match="no posting artifact"):
        TextServePool(str(tmp_path / "missing"), num_docs=10)
    with pytest.raises(ValueError, match="num_docs"):
        TextServePool(path, num_docs=0)


def test_filtered_broad_quantized_query_takes_graph_route(spark, tmp_path, monkeypatch):
    """A vectorVamana+quantizer query WITH a broad filter (candidate set
    above the exact-fallback threshold) serves through the packed
    quantized-graph route (r9): filter-seeded quantized beam + exact
    float rerank (search.go:28-51 + vamana.go:257-259). Only filtered ids
    come back, recall vs the exact FILTERED scan clears limit/2, the
    distances are exact float, and a spy proves vamana_serve_packed got
    the candidate frame. A narrow filter keeps the pre-r9 routes."""
    import numpy as np
    from pyspark.sql import Row

    import semadb_spark.operators.vamana as vm_mod
    import semadb_spark.plans.logical as logical_mod
    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2,
        "quantizer": {"type": "binary", "binary": {
            "distanceMetric": "hamming", "triggerThreshold": 10}}}},
        "grp": {"type": "string", "string": {"caseSensitive": True}}}
    coll = Collection.create(spark, str(tmp_path / "fqg"), schema, num_buckets=4)
    rng = np.random.RandomState(21)
    X = np.repeat(rng.normal(size=(8, 8)), 40, axis=0) + rng.normal(
        scale=0.15, size=(320, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]],
             grp="a" if i % 2 == 0 else "b") for i in range(320)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=5)

    # 160 filtered rows > patched threshold of 20 -> broad -> graph route
    monkeypatch.setattr(logical_mod, "FILTERED_EXACT_FALLBACK_ROWS", 20)
    calls = []
    real_serve = vm_mod.vamana_serve_packed

    def spy(*a, **kw):
        calls.append(kw.get("candidate_ids"))
        return real_serve(*a, **kw)

    monkeypatch.setattr(vm_mod, "vamana_serve_packed", spy)

    flt_ids = {f"p{i:03d}" for i in range(320) if i % 2 == 0}
    for i in (0, 45):
        res = coll.search({"query": {"property": "v", "vectorVamana": {
            "vector": [float(x) for x in X[i]], "operator": "near",
            "limit": 10, "searchSize": 40,
            "filter": {"property": "grp", "string": {
                "value": "a", "operator": "equals"}}}}}).collect()
        assert 0 < len(res) <= 10
        got = {r["_id"] for r in res}
        assert got <= flt_ids, "unfiltered id leaked through the graph route"
        d2 = ((X - X[i]) ** 2).sum(axis=1)
        exact = [f"p{j:03d}" for j in np.argsort(d2, kind="stable")
                 if j % 2 == 0][:10]
        assert len(got & set(exact)) >= 5, f"filtered graph recall row {i}"
        for r in res:
            j = int(r["_id"][1:])
            want = float(((X[j] - X[i]) ** 2).sum())
            assert abs(r["_distance"] - want) <= 1e-4 * max(want, 1.0)
    assert len(calls) == 2 and all(c is not None for c in calls), (
        "broad filtered query did not reach the packed graph route"
    )

    # narrow filter (2 ids <= threshold): pre-r9 routes, no packed call
    calls.clear()
    res = coll.search({"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[0]], "operator": "near",
        "limit": 10, "searchSize": 40,
        "filter": {"property": "_id", "stringArray": {
            "value": ["p000", "p002"], "operator": "containsAny"}}}}}).collect()
    assert {r["_id"] for r in res} <= {"p000", "p002"}
    assert not calls, "narrow filter should not take the packed route"


def test_filtered_plain_vamana_prefers_packed_layout(spark, tmp_path, monkeypatch):
    """A plain (no-quantizer) vectorVamana query with a broad filter
    serves the reference seeded-beam on the PACKED layout (r9 — measured
    3.7x the row-table cogroup at identical recall,
    tools/repro_filtered_graph.py): spy proves vamana_serve_packed got
    the candidate frame, results honor the filter, recall clears
    limit/2, distances are exact float."""
    import numpy as np
    from pyspark.sql import Row

    import semadb_spark.operators.vamana as vm_mod
    import semadb_spark.plans.logical as logical_mod
    from semadb_spark import Collection

    schema = {"v": {"type": "vectorVamana", "vectorVamana": {
        "vectorSize": 8, "distanceMetric": "euclidean",
        "searchSize": 40, "degreeBound": 32, "alpha": 1.2}},
        "grp": {"type": "string", "string": {"caseSensitive": True}}}
    coll = Collection.create(spark, str(tmp_path / "fplain"), schema, num_buckets=4)
    rng = np.random.RandomState(8)
    X = np.repeat(rng.normal(size=(8, 8)), 40, axis=0) + rng.normal(
        scale=0.15, size=(320, 8)
    )
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]],
             grp="a" if i % 2 == 0 else "b") for i in range(320)]
    ))
    coll.build_vector_index("v")
    coll.build_vamana_index("v", num_shards=2, seed=5)
    monkeypatch.setattr(logical_mod, "FILTERED_EXACT_FALLBACK_ROWS", 20)
    calls = []
    real = vm_mod.vamana_serve_packed

    def spy(*a, **kw):
        calls.append(kw.get("candidate_ids") is not None)
        return real(*a, **kw)

    monkeypatch.setattr(vm_mod, "vamana_serve_packed", spy)
    res = coll.search({"query": {"property": "v", "vectorVamana": {
        "vector": [float(x) for x in X[2]], "operator": "near",
        "limit": 10, "searchSize": 40,
        "filter": {"property": "grp", "string": {
            "value": "a", "operator": "equals"}}}}}).collect()
    assert calls == [True], "broad plain filter did not take the packed route"
    got = {r["_id"] for r in res}
    assert got and all(int(i[1:]) % 2 == 0 for i in got)
    d2 = ((X - X[2]) ** 2).sum(axis=1)
    exact = [f"p{j:03d}" for j in np.argsort(d2, kind="stable")
             if j % 2 == 0][:10]
    assert len(got & set(exact)) >= 5
    for r in res:
        j = int(r["_id"][1:])
        want = float(((X[j] - X[2]) ** 2).sum())
        assert abs(r["_distance"] - want) <= 1e-4 * max(want, 1.0)
