"""Vamana build/delete tests mirroring the reference invariants:
connectivity from the start node after build and after delete
(vamana_test.go:29-46 checkConnectivity), recall vs the exact oracle
(vamana_test.go:230-253 requires >= limit/2 true neighbours), degree bound
respected everywhere."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semadb_spark.operators import vamana as vm
from semadb_spark.operators.knn import knn_topk


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id").cast("string").alias("_id"), F.col("embedding").alias("v"))
    )
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def index(emb):
    return vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40, num_shards=3, seed=7
    )


def _export(index, emb):
    adj: dict[str, list[str]] = {}
    for r in index.edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
    vectors = {r._id: np.asarray(r.v, dtype=np.float64) for r in emb.collect()}
    return adj, vectors


def test_degree_bound_and_edge_sanity(index, emb):
    deg = index.edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 32
    n = emb.count()
    assert index.edges.count() <= n * 32
    # no self loops
    assert index.edges.filter(F.col("src") == F.col("dst")).count() == 0


def test_connectivity_from_entry(index, emb):
    adj, vectors = _export(index, emb)
    reachable = vm.bfs_reachable(adj, index.entry_id)
    assert len(reachable) == len(vectors)  # every point searchable


def test_recall_vs_exact(index, emb):
    adj, vectors = _export(index, emb)
    ids = sorted(vectors)[:10]
    total, hit = 0, 0
    for qid in ids:
        q = vectors[qid]
        approx = {i for i, _ in vm.beam_search(adj, vectors, index.entry_id, q, 10, index.search_size)}
        exact = {r._id for r in knn_topk(emb, "v", [float(x) for x in q], "euclidean", 10).collect()}
        hit += len(approx & exact)
        total += len(exact)
        assert len(approx & exact) >= 5  # reference floor: limit/2
    assert hit / total >= 0.8  # aggregate recall well above the floor


def test_delete_repairs_graph(spark, index, emb):
    victims = [r._id for r in emb.orderBy("_id").limit(5).collect() if r._id != index.entry_id][:3]
    pruned = vm.vamana_delete(index, emb, victims, vec_col="v", id_col="_id")
    # deleted ids gone from both edge endpoints
    assert pruned.edges.filter(
        F.col("src").isin(victims) | F.col("dst").isin(victims)
    ).count() == 0
    # degree bound still respected
    deg = pruned.edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 32
    # still fully connected over the surviving nodes
    adj: dict[str, list[str]] = {}
    for r in pruned.edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
    survivors = {r._id for r in emb.collect()} - set(victims)
    reachable = vm.bfs_reachable(adj, index.entry_id)
    assert reachable == survivors


def test_delete_entry_rejected(index, emb):
    with pytest.raises(ValueError, match="entry node"):
        vm.vamana_delete(index, emb, [index.entry_id], vec_col="v", id_col="_id")


def test_update_reinserts_vectors(spark, index, emb):
    # W8: move 3 vectors far from their old position; after vamana_update the
    # graph must stay fully connected (reference checkConnectivity,
    # vamana_test.go:29-46), respect the degree bound, and beam search for an
    # updated vector must find it at rank 1.
    victims = [r._id for r in emb.orderBy("_id").limit(6).collect() if r._id != index.entry_id][:3]
    shift = F.transform("v", lambda x: x * F.lit(0.2) + F.lit(1.5))
    updated = emb.withColumn(
        "v", F.when(F.col("_id").isin(victims), shift).otherwise(F.col("v"))
    )
    upd = vm.vamana_update(index, updated, victims, vec_col="v", id_col="_id")
    # degree bound holds everywhere except the entry node, whose list may
    # transiently overfill from stranded-orphan rescue (same as delete-repair)
    deg = (
        upd.edges.filter(F.col("src") != upd.entry_id)
        .groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert deg <= 32
    adj: dict[str, list[str]] = {}
    for r in upd.edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
    vectors = {r._id: np.asarray(r.v, dtype=np.float64) for r in updated.collect()}
    reachable = vm.bfs_reachable(adj, upd.entry_id)
    assert reachable == set(vectors)  # updated nodes re-woven in
    for vid in victims:
        got = [i for i, _ in vm.beam_search(adj, vectors, upd.entry_id, vectors[vid], 10, upd.search_size)]
        assert got[0] == vid


def test_update_missing_ids_are_noops(index, emb):
    upd = vm.vamana_update(index, emb, ["no-such-id"], vec_col="v", id_col="_id")
    assert upd.edges.count() == index.edges.count()


def test_build_metric_dot(spark):
    # ADVICE: graph kernels honor the collection metric. With dot distance,
    # "nearest" = largest inner product; a self-query must return vectors
    # with larger norm in the query direction, not the euclidean-nearest.
    rng = np.random.RandomState(11)
    X = rng.normal(size=(200, 8))
    rows = [(str(i), X[i].tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "_id string, v array<double>")
    idx = vm.vamana_build(df, "v", "_id", degree_bound=32, alpha=1.2,
                          search_size=40, num_shards=2, seed=3, metric="dot")
    assert idx.metric == "dot"
    adj: dict[str, list[str]] = {}
    for r in idx.edges.collect():
        adj.setdefault(r.src, []).append(r.dst)
    vectors = {str(i): X[i] for i in range(200)}
    q = X[7]
    got = [i for i, _ in vm.beam_search(adj, vectors, idx.entry_id, q, 10, 40, metric="dot")]
    exact = sorted(range(200), key=lambda i: (-(X[i] @ q), str(i)))[:10]
    assert len(set(got) & {str(i) for i in exact}) >= 5  # reference floor


def test_build_rejects_bit_metrics(spark):
    df = spark.createDataFrame([("0", [1.0, 2.0])], "_id string, v array<double>")
    with pytest.raises(ValueError, match="metric"):
        vm.vamana_build(df, "v", "_id", metric="hamming")


def test_filtered_serve_seeded_beam(spark, emb):
    """Filtered vectorVamana parity (search.go:28-51): the beam is SEEDED
    with up to searchSize filtered points, the walk explores the full
    graph, and ONLY filtered points enter the result. Every returned id
    must satisfy the filter, and recall vs the exact filtered scan must
    clear the reference's limit/2 bar (optimistic-recall caveat,
    docs/content/docs/search/filtered.md:49-51)."""
    import os
    import tempfile

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    d = tempfile.mkdtemp(prefix="vamana_flt_")
    index.shard_nodes.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(d, "nodes")
    )
    index.shard_edges.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(d, "edges")
    )

    # filter: every third id (selective but well-populated)
    flt = emb.filter(F.col("_id").cast("int") % 3 == 0).select("_id")
    flt_ids = {r["_id"] for r in flt.collect()}
    rows = emb.collect()
    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(4)]

    res = vm.vamana_serve(
        spark.read.parquet(os.path.join(d, "nodes")),
        spark.read.parquet(os.path.join(d, "edges")),
        queries, 10, metric="euclidean", search_size=40,
        centroids=index.centroids, candidate_ids=flt,
    )
    got: dict[str, set] = {}
    for r in res.collect():
        assert r["_id"] in flt_ids, "unfiltered id leaked into filtered result"
        got.setdefault(r["query_id"], set()).add(r["_id"])

    # exact filtered ground truth
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    ids = [r["_id"] for r in rows]
    for i in range(4):
        dist = ((X - X[i]) ** 2).sum(axis=1)
        order = np.argsort(dist, kind="stable")
        exact = [ids[j] for j in order if ids[j] in flt_ids][:10]
        assert len(got[f"q{i}"] & set(exact)) >= 5, f"filtered recall < 0.5 for q{i}"


def test_packed_serve_matches_cogroup_serve(spark, emb):
    """vamana_pack + vamana_serve_packed must reproduce vamana_serve
    exactly (ids AND distances) — the packed artifact is a layout change,
    not a semantics change — with and without centroid routing, including
    through a partitionBy("cent") parquet round-trip."""
    import os
    import tempfile

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=3, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    d = tempfile.mkdtemp(prefix="vamana_pack_")
    packed.write.mode("overwrite").partitionBy("cent").parquet(d)
    disk = spark.read.parquet(d)

    rows = emb.collect()
    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(6)]

    for kw in (
        {},  # exhaustive
        {"centroids": index.centroids, "nprobe": 2},  # routed
        {"n_seeds": 16},  # multi-entry seeded beams
    ):
        want = sorted(
            (r["query_id"], r["_id"], round(r["_distance"], 9))
            for r in vm.vamana_serve(
                index.shard_nodes, index.shard_edges, queries, 10,
                metric="euclidean", search_size=40, **kw,
            ).collect()
        )
        # both serving kernels must reproduce the cogroup path: scalar is
        # the reference loop, batched advances all routed queries together
        # (equivalence argument in _batched_greedy_topk's docstring)
        for kernel in ("scalar", "batched"):
            got = sorted(
                (r["query_id"], r["_id"], round(r["_distance"], 9))
                for r in vm.vamana_serve_packed(
                    disk, queries, 10, metric="euclidean", search_size=40,
                    kernel=kernel, **kw
                ).collect()
            )
            assert got == want, (kernel, kw.keys())


def test_build_mode_batch_graph_invariants(spark, emb):
    """The batch-parallel build (build_mode="batch") must satisfy the
    same reference invariants as the sequential insert build: connectivity
    from the entry node (vamana_test.go:29-46), degree cap (+1 transient
    repair allowance), no self-loops, and recall >= limit/2 vs the exact
    oracle (vamana_test.go:230-253)."""
    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=3, seed=7, build_mode="batch",
    )
    adj, vectors = _export(index, emb)
    reachable = vm.bfs_reachable(adj, index.entry_id)
    assert len(reachable) == len(vectors)
    assert index.edges.filter(F.col("src") == F.col("dst")).count() == 0
    deg = index.edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert deg <= 32
    ids = sorted(vectors)[:10]
    for qid in ids:
        got = {i for i, _ in vm.beam_search(adj, vectors, index.entry_id, vectors[qid], 10, 40)}
        X = np.stack([vectors[i] for i in sorted(vectors)])
        allids = sorted(vectors)
        dist = ((X - vectors[qid]) ** 2).sum(axis=1)
        exact = {allids[j] for j in np.argsort(dist, kind="stable")[:10]}
        assert len(got & exact) >= 5, f"batch-build recall < 0.5 for {qid}"


def test_batched_kernel_equals_scalar_kernel_numpy():
    """Pure-kernel equivalence on a synthetic graph: the batched beam must
    return the same top-k sets and distances as the scalar reference beam
    for every query (up to exact distance ties)."""
    rng = np.random.RandomState(3)
    X = rng.normal(size=(3000, 24))
    si, di, dd, start = vm._local_build_batch(X, 24, 1.2, 50, "euclidean")
    order = np.argsort(si, kind="stable")
    ss, ds = si[order].astype(np.int64), di[order].astype(np.int64)
    indptr = np.searchsorted(ss, np.arange(3001)).astype(np.int64)
    adj = [ds[indptr[u] : indptr[u + 1]].tolist() for u in range(3000)]
    Q = rng.normal(size=(40, 24))
    bi, bd = vm._batched_greedy_topk(X, indptr, ds, start, Q, 50, 10, "euclidean")
    for qi in range(40):
        vis_ids, vis_d = vm._greedy_search(X, adj, start, Q[qi], 50, "euclidean")
        assert set(vis_ids[:10].tolist()) == set(bi[qi].tolist())
        np.testing.assert_allclose(np.sort(vis_d[:10]), np.sort(bd[qi]), rtol=1e-9)


def test_batched_kernel_edgeless_shard_code_mode():
    """An edgeless shard (single node / legacy artifact) served in code
    mode must return the entry scored by hamming, not crash dereferencing
    the None float matrices (ADVICE r6)."""
    from semadb_spark.operators.quantize import encode_bits_np

    rng = np.random.RandomState(5)
    X = rng.normal(size=(1, 64))
    Q = rng.normal(size=(3, 64))
    thr = np.zeros(64)
    Xc = encode_bits_np(X, thr).astype(np.uint64)
    Qc = encode_bits_np(Q, thr).astype(np.uint64)
    indptr = np.zeros(2, dtype=np.int64)
    ids, dists = vm._batched_greedy_topk(
        None, indptr, np.array([], dtype=np.int64), 0, None, 10, 4,
        X_codes=Xc, Q_codes=Qc,
    )
    assert ids.shape == (3, 4) and (ids[:, 0] == 0).all()
    want = vm._ham_rows(Qc, np.broadcast_to(Xc[[0]], (3, 1, Xc.shape[1])))[:, 0]
    np.testing.assert_allclose(dists[:, 0], want)
    assert (ids[:, 1:] == -1).all() and np.isinf(dists[:, 1:]).all()
    # float mode on the same edgeless graph still works
    fi, fd = vm._batched_greedy_topk(
        X, indptr, np.array([], dtype=np.int64), 0, Q, 10, 4,
        metric="euclidean",
    )
    assert (fi[:, 0] == 0).all()
    np.testing.assert_allclose(fd[:, 0], ((Q - X[0]) ** 2).sum(axis=1))


def test_bq_margin_luts_reduce_to_hamming_at_unit_margins():
    """The asymmetric byte-LUT distance with all query margins exactly 1
    IS symmetric hamming — pins the LUT construction (bit order, base +
    coefficient decomposition) against the packed-word popcount path."""
    from semadb_spark.operators.quantize import encode_bits_np

    rng = np.random.RandomState(11)
    d = 100
    thr = rng.normal(size=d)
    X = rng.normal(size=(50, d))
    Xc = encode_bits_np(X, thr).view(np.uint64)
    Xb = np.ascontiguousarray(Xc).view(np.uint8).reshape(50, -1)
    # queries sitting exactly 1 above/below the threshold per dim
    signs = rng.choice([-1.0, 1.0], size=(7, d))
    Q = thr[None, :] + signs
    Qc = encode_bits_np(Q, thr).view(np.uint64)
    luts = vm._bq_margin_luts(Q, thr, (d + 63) // 64)
    got = vm._adc_rows(
        luts.reshape(7, -1).astype(np.float64), np.broadcast_to(Xb, (7, 50, Xb.shape[1]))
    )
    want = vm._ham_rows(Qc, np.broadcast_to(Xc, (7, 50, Xc.shape[1])))
    np.testing.assert_allclose(got, want, atol=1e-5)


def test_quantized_graph_serving_adc_beams(spark, emb):
    """Asymmetric quantized-through-graph serving, both variants: BQ
    margin LUTs (beam_on="bq_adc") over the same packed words as the
    symmetric beam, and PQ ADC LUTs (beam_on="pq") over uint8 codes from
    vamana_pack_add_pq_codes (product.go:238-305 semantics). Contract as
    for the symmetric beam: exact float distances out, recall >= limit/2
    (vamana_test.go:230-253) — plus the asymmetric-BQ pool must be at
    least as good as symmetric BQ's on this corpus."""
    import os
    import tempfile

    from semadb_spark.operators.quantize import pq_fit

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    rows = emb.collect()
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    ids = [r["_id"] for r in rows]
    thr = X.mean(axis=0)
    coded = vm.vamana_pack_add_codes(packed, thr)
    books = pq_fit(emb, "v", num_subvectors=4, num_centroids=16, seed=3)
    pq_coded = vm.vamana_pack_add_pq_codes(packed, books)
    d_bq = tempfile.mkdtemp(prefix="vamana_bqadc_")
    d_pq = tempfile.mkdtemp(prefix="vamana_pqadc_")
    coded.write.mode("overwrite").partitionBy("cent").parquet(d_bq)
    pq_coded.write.mode("overwrite").partitionBy("cent").parquet(d_pq)

    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(4)]
    cases = [
        (d_bq, {"beam_on": "bq_adc", "thresholds": thr}),
        (d_pq, {"beam_on": "pq", "books": books}),
    ]
    for path, kw in cases:
        disk = spark.read.parquet(path)
        res = vm.vamana_serve_packed(
            disk, queries, 10, metric="euclidean", search_size=40,
            oversample=4, n_seeds=16, **kw,
        )
        got: dict[str, list] = {}
        for r in res.collect():
            got.setdefault(r["query_id"], []).append((r["_id"], r["_distance"]))
        for i in range(4):
            qres = got[f"q{i}"]
            assert 0 < len(qres) <= 10, kw["beam_on"]
            # exact float euclidean^2 distances out, not code distances
            for rid, rdist in qres:
                want = float(((X[ids.index(rid)] - X[i]) ** 2).sum())
                assert abs(rdist - want) <= 1e-6 * max(want, 1.0), (
                    kw["beam_on"], rid, rdist, want,
                )
            dist = ((X - X[i]) ** 2).sum(axis=1)
            exact = {ids[j] for j in np.argsort(dist, kind="stable")[:10]}
            assert len({rid for rid, _ in qres} & exact) >= 5, (
                f"{kw['beam_on']} recall < 0.5 for q{i}"
            )
    # guard rails
    disk = spark.read.parquet(d_bq)
    with pytest.raises(ValueError, match="thresholds"):
        vm.vamana_serve_packed(disk, queries, 10, beam_on="bq_adc")
    with pytest.raises(ValueError, match="books"):
        vm.vamana_serve_packed(disk, queries, 10, beam_on="pq")
    with pytest.raises(ValueError, match="num_centroids"):
        big_books = pq_fit(emb, "v", num_subvectors=2, num_centroids=300, seed=3)
        vm.vamana_pack_add_pq_codes(packed, big_books)


def test_quantized_graph_serving_bq_beam(spark, emb):
    """Quantized-through-graph serving (the reference's v2-BQ architecture,
    vamana.go:257-259: the fitted quantizer's distance plugs into the
    graph beam): vamana_pack_add_codes stores packed BQ words next to the
    CSR blobs, vamana_serve_packed(beam_on="bq") beams on hamming and
    exact-reranks the final pool. Mechanism contract: (a) reported
    distances are EXACT float distances (verified against numpy), (b) the
    oversampled pool + rerank recovers at least limit/2 of the exact
    top-k (the reference's own recall bar, vamana_test.go:230-253) on
    this small corpus. Recall at scale is architecture-limited exactly as
    the reference's published v2 -> v2-BQ drop (0.985 -> 0.667 on mnist);
    the production quantized route remains fused IVF-BQ (COVERAGE.md)."""
    import os
    import tempfile

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    rows = emb.collect()
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    ids = [r["_id"] for r in rows]
    thr = X.mean(axis=0)
    coded = vm.vamana_pack_add_codes(packed, thr)
    d = tempfile.mkdtemp(prefix="vamana_bq_")
    coded.write.mode("overwrite").partitionBy("cent").parquet(d)
    disk = spark.read.parquet(d)

    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(4)]
    res = vm.vamana_serve_packed(
        disk, queries, 10, metric="euclidean", search_size=40,
        beam_on="bq", thresholds=thr, oversample=4, n_seeds=16,
    )
    got: dict[str, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append((r["_id"], r["_distance"]))
    for i in range(4):
        qres = got[f"q{i}"]
        assert 0 < len(qres) <= 10
        # (a) distances are exact float euclidean^2, not hamming counts
        for rid, rdist in qres:
            want = float(((X[ids.index(rid)] - X[i]) ** 2).sum())
            assert abs(rdist - want) <= 1e-6 * max(want, 1.0), (rid, rdist, want)
        # (b) the reference recall floor: >= limit/2 of exact top-10
        dist = ((X - X[i]) ** 2).sum(axis=1)
        exact = {ids[j] for j in np.argsort(dist, kind="stable")[:10]}
        assert len({rid for rid, _ in qres} & exact) >= 5, f"bq recall < 0.5 for q{i}"
    # guard rails
    with pytest.raises(ValueError, match="thresholds"):
        vm.vamana_serve_packed(disk, queries, 10, beam_on="bq")
    with pytest.raises(ValueError, match="batched"):
        vm.vamana_serve_packed(
            disk, queries, 10, beam_on="bq", thresholds=thr, kernel="scalar"
        )


def test_serve_packed_auto_beam_dispatch(spark, emb):
    """``beam_on`` defaults to ``"auto"``: passing ``thresholds`` engages
    the asymmetric bq_adc beam, ``books`` the pq beam, neither the plain
    float beam — each returning exactly what the explicit route returns.
    The symmetric ``"bq"`` stays opt-in reference parity (r7 measured it
    0.30 recall vs 0.84 for bq_adc on identical artifact bytes, hence the
    default flip)."""
    import tempfile

    from semadb_spark.operators.quantize import pq_fit

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    rows = emb.collect()
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    thr = X.mean(axis=0)
    books = pq_fit(emb, "v", num_subvectors=4, num_centroids=16, seed=3)
    d_plain = tempfile.mkdtemp(prefix="vamana_auto_f_")
    d_bq = tempfile.mkdtemp(prefix="vamana_auto_bq_")
    d_pq = tempfile.mkdtemp(prefix="vamana_auto_pq_")
    packed.write.mode("overwrite").partitionBy("cent").parquet(d_plain)
    vm.vamana_pack_add_codes(packed, thr).write.mode("overwrite").partitionBy(
        "cent"
    ).parquet(d_bq)
    vm.vamana_pack_add_pq_codes(packed, books).write.mode(
        "overwrite"
    ).partitionBy("cent").parquet(d_pq)
    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(3)]

    def rset(df):
        return {
            (r["query_id"], r["_id"], round(r["_distance"], 6))
            for r in df.collect()
        }

    cases = [
        (d_bq, {"thresholds": thr}, "bq_adc"),
        (d_pq, {"books": books}, "pq"),
        (d_plain, {}, "float"),
    ]
    for path, state, explicit in cases:
        disk = spark.read.parquet(path)
        auto = vm.vamana_serve_packed(
            disk, queries, 10, metric="euclidean", search_size=40,
            n_seeds=16, **state,
        )
        want = vm.vamana_serve_packed(
            disk, queries, 10, metric="euclidean", search_size=40,
            n_seeds=16, beam_on=explicit, **state,
        )
        assert rset(auto) == rset(want), explicit


def test_serve_packed_quantizer_dim_validation(spark, emb):
    """A thresholds/books fit that doesn't cover the query dimension fails
    fast driver-side with a clear message, instead of an opaque reshape
    error inside the beam kernel."""
    from semadb_spark.operators.quantize import pq_fit

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    rows = emb.collect()
    dim = len(rows[0]["v"])
    queries = [("q0", [float(x) for x in rows[0]["v"]])]
    disk_cols = vm.vamana_pack_add_codes(packed, np.zeros(dim))
    import tempfile

    d = tempfile.mkdtemp(prefix="vamana_dimchk_")
    disk_cols.write.mode("overwrite").partitionBy("cent").parquet(d)
    disk = spark.read.parquet(d)
    with pytest.raises(ValueError, match="dim mismatch"):
        vm.vamana_serve_packed(
            disk, queries, 10, metric="euclidean",
            thresholds=np.zeros(dim + 64),
        )
    with pytest.raises(ValueError, match="dim mismatch"):
        bad_books = pq_fit(emb, "v", num_subvectors=2, num_centroids=8, seed=3)
        short_q = [("q0", [0.0] * (dim // 2))]
        vm.vamana_serve_packed(
            disk, short_q, 10, metric="euclidean", books=bad_books,
        )


def test_reverse_prune_keep_alpha_edges_machinery():
    """The ``fwd_kept`` force-include path of ``_edges_reverse_prune``:
    (a) an all-False mask reproduces the default distance-thinning
    edge set bit-identically (the kp branch is a strict superset of the
    default selection logic), and (b) with the real alpha-kept mask and a
    pool_width small enough for the thinning to bite, every overflow
    node's alpha-kept outbound edges appear in its re-prune pool — the
    selection differs from distance-only thinning, maxdeg stays bounded.
    At production settings (pool_width=256, degree_bound=32, ~16k-row
    shards) only ~0.8% of nodes have pools wider than 256 and the final
    graph/recall measured identical with and without the mask — the flag
    therefore stays default-off; this test pins the machinery for callers
    that shrink pool_width."""
    rng = np.random.RandomState(1)
    n, d, db = 4000, 32, 16
    X = rng.randn(n, d).astype(np.float32)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    pool = 64
    pid = rng.randint(0, n, size=(n, pool)).astype(np.int64)
    pdst = np.sort(rng.rand(n, pool).astype(np.float32), axis=1)
    out_ids, out_d, nk = vm._vector_prune(X, pid, pdst, db, 1.2, "cosine")
    fwd = np.arange(out_ids.shape[1])[None, :] < nk[:, None]

    base = vm._edges_reverse_prune(
        X, out_ids, out_d, n, db, 1.2, "cosine", pool_width=32
    )
    allf = vm._edges_reverse_prune(
        X, out_ids, out_d, n, db, 1.2, "cosine", pool_width=32,
        fwd_kept=np.zeros_like(fwd),
    )
    kept = vm._edges_reverse_prune(
        X, out_ids, out_d, n, db, 1.2, "cosine", pool_width=32, fwd_kept=fwd
    )
    for (s0, t0, d0), (s1, t1, d1) in [(base, allf)]:
        assert np.array_equal(s0, s1) and np.array_equal(t0, t1)
        assert np.allclose(d0, d1)
    sk, tk, dk = kept
    assert np.bincount(sk, minlength=n).max() <= db + 1  # repair-free cap
    # the kept selection actually diverges from pure distance thinning
    base_set = set(zip(base[0].tolist(), base[1].tolist()))
    kept_set = set(zip(sk.tolist(), tk.tolist()))
    assert kept_set != base_set


def test_local_build_keep_alpha_edges_recall_parity():
    """keep_alpha_edges=True builds serve at the same recall as the
    default at production settings (the numbers-backed 'it does not
    matter' half of the r7 directive)."""
    rng = np.random.RandomState(0)
    cents = rng.randn(8, 32) * 5
    X = np.vstack([c + rng.randn(500, 32) for c in cents])
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    n = len(X)

    def build_recall(flag):
        src, dst, dd, start = vm._local_build_batch(
            X, 32, 1.2, 75, "cosine", seed=42, passes=1,
            keep_alpha_edges=flag,
        )
        order = np.argsort(src, kind="stable")
        s, dts = src[order], dst[order]
        indptr = np.searchsorted(s, np.arange(n + 1)).astype(np.int64)
        nq, k = 100, 10
        Q = X[:nq]
        exact = np.argsort(-(Q @ X.T), axis=1)[:, :k]
        seeds = np.arange(n, dtype=np.int64)[:: max(n // 32, 1)][:32]
        ti, _ = vm._batched_greedy_topk(
            X, indptr, dts, start, Q, 75, k, "cosine", seed_ids=seeds
        )
        hits = sum(
            len(set(ti[i].tolist()) & set(exact[i].tolist()))
            for i in range(nq)
        )
        return hits / (nq * k)

    r_base = build_recall(False)
    r_kept = build_recall(True)
    assert r_base >= 0.9
    assert abs(r_base - r_kept) <= 0.03


def test_packed_indices_int16_and_legacy_int32(spark, emb):
    """vamana_pack stores CSR neighbor ids int16 for <=32k-row shards
    (the adjacency dominates artifact transfer at degree 32); readers
    width-sniff from len(bytes)/edge-count, so a legacy int32 artifact
    serves IDENTICALLY (ids and distances)."""
    import pandas as pd

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    pdf = packed.toPandas()
    for _, row in pdf.iterrows():
        nedges = np.frombuffer(row["indptr"], dtype=np.int32)[-1]
        assert len(row["indices"]) == 2 * nedges  # int16 per edge

    # legacy artifact: same graph, indices widened back to int32
    legacy_pdf = pdf.copy()
    legacy_pdf["indices"] = [
        np.frombuffer(b, dtype=np.int16).astype(np.int32).tobytes()
        for b in pdf["indices"]
    ]
    legacy = spark.createDataFrame(legacy_pdf, schema=packed.schema)

    rows = emb.collect()
    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(4)]
    kw = dict(metric="euclidean", search_size=40, n_seeds=8)
    want = sorted(
        (r["query_id"], r["_id"], round(r["_distance"], 9))
        for r in vm.vamana_serve_packed(packed, queries, 10, **kw).collect()
    )
    got = sorted(
        (r["query_id"], r["_id"], round(r["_distance"], 9))
        for r in vm.vamana_serve_packed(legacy, queries, 10, **kw).collect()
    )
    assert want == got and len(want) > 0


def test_code_domain_serving_rerank_none(spark, emb):
    """rerank="none" serves straight from code distances with the float
    blobs column-pruned out of the scan — proven by serving a frame whose
    vecs column is REMOVED before the call. Distances are code-domain
    (monotone ranking, not the exact metric); recall is the raw ADC
    number, lower than exact-rerank but far above chance."""
    import os
    import tempfile

    from semadb_spark.operators.quantize import pq_fit

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges)
    rows = emb.collect()
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    ids = [r["_id"] for r in rows]
    thr = X.mean(axis=0)
    # finer books than the exact-rerank test: raw ADC has no rerank to
    # absorb quantizer coarseness
    books = pq_fit(emb, "v", num_subvectors=8, num_centroids=32, seed=3)
    d_bq = tempfile.mkdtemp(prefix="vamana_cdom_bq_")
    d_pq = tempfile.mkdtemp(prefix="vamana_cdom_pq_")
    vm.vamana_pack_add_codes(packed, thr).write.mode("overwrite").partitionBy(
        "cent"
    ).parquet(d_bq)
    vm.vamana_pack_add_pq_codes(packed, books).write.mode(
        "overwrite"
    ).partitionBy("cent").parquet(d_pq)

    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(4)]
    for path, kw in (
        (d_bq, {"beam_on": "bq_adc", "thresholds": thr}),
        (d_pq, {"beam_on": "pq", "books": books}),
    ):
        # vecs removed BEFORE the call: the kernel must never touch them
        disk = spark.read.parquet(path).drop("vecs")
        res = vm.vamana_serve_packed(
            disk, queries, 10, metric="euclidean", search_size=40,
            n_seeds=16, rerank="none", **kw,
        )
        got: dict[str, set] = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["_id"])
        for i in range(4):
            dist = ((X - X[i]) ** 2).sum(axis=1)
            exact = {ids[j] for j in np.argsort(dist, kind="stable")[:10]}
            assert len(got[f"q{i}"] & exact) >= 3, (
                f"{kw['beam_on']} raw-ADC recall < 0.3 for q{i}"
            )

    # guard rails
    disk = spark.read.parquet(d_bq)
    with pytest.raises(ValueError, match="rerank"):
        vm.vamana_serve_packed(
            disk, queries, 10, search_size=40, rerank="bogus",
            beam_on="bq_adc", thresholds=thr,
        )
    with pytest.raises(ValueError, match="quantized"):
        vm.vamana_serve_packed(
            disk, queries, 10, search_size=40, rerank="none",
        )


def test_filtered_serve_packed_matches_row_path(spark, emb):
    """Filtered seeded-beam on the PACKED artifact (r9): same reference
    semantics as vamana_serve's filtered mode (search.go:28-51) — only
    filtered ids in the result, recall >= limit/2 vs the exact filtered
    scan — plus shard pruning (shards without filtered points are join-
    dropped). Float beam parity vs the row-table path, and the bq_adc
    quantized beam clears the same bar with exact rerank distances."""
    import os
    import tempfile

    from semadb_spark.operators.quantize import bq_fit

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    d = tempfile.mkdtemp(prefix="vamana_fltpack_")
    index.shard_nodes.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(d, "nodes")
    )
    index.shard_edges.write.mode("overwrite").partitionBy("shard").parquet(
        os.path.join(d, "edges")
    )
    thr = bq_fit(emb, "v")
    packed = vm.vamana_pack_add_codes(
        vm.vamana_pack(index.shard_nodes, index.shard_edges), thr
    )
    packed.write.mode("overwrite").partitionBy("cent").parquet(
        os.path.join(d, "packed")
    )
    packed_disk = spark.read.parquet(os.path.join(d, "packed"))

    flt = emb.filter(F.col("_id").cast("int") % 3 == 0).select("_id")
    flt_ids = {r["_id"] for r in flt.collect()}
    rows = emb.collect()
    queries = [(f"q{i}", [float(x) for x in rows[i]["v"]]) for i in range(4)]

    # float beam on the packed layout
    res_f = vm.vamana_serve_packed(
        packed_disk, queries, 10, metric="euclidean", search_size=40,
        candidate_ids=flt, beam_on="float",
    )
    got_f: dict[str, set] = {}
    for r in res_f.collect():
        assert r["_id"] in flt_ids, "unfiltered id leaked (packed float)"
        got_f.setdefault(r["query_id"], set()).add(r["_id"])

    # quantized bq_adc beam over the baked codes, exact float rerank
    res_q = vm.vamana_serve_packed(
        packed_disk, queries, 10, metric="euclidean", search_size=40,
        candidate_ids=flt, thresholds=thr,
    )
    got_q: dict[str, set] = {}
    dist_q: dict[tuple, float] = {}
    for r in res_q.collect():
        assert r["_id"] in flt_ids, "unfiltered id leaked (packed bq_adc)"
        got_q.setdefault(r["query_id"], set()).add(r["_id"])
        dist_q[(r["query_id"], r["_id"])] = r["_distance"]

    # row-table reference path
    res_row = vm.vamana_serve(
        spark.read.parquet(os.path.join(d, "nodes")),
        spark.read.parquet(os.path.join(d, "edges")),
        queries, 10, metric="euclidean", search_size=40,
        centroids=index.centroids, candidate_ids=flt,
    )
    got_row: dict[str, set] = {}
    for r in res_row.collect():
        got_row.setdefault(r["query_id"], set()).add(r["_id"])

    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    ids = [r["_id"] for r in rows]
    for i in range(4):
        dist = ((X - X[i]) ** 2).sum(axis=1)
        order = np.argsort(dist, kind="stable")
        exact = [ids[j] for j in order if ids[j] in flt_ids][:10]
        q = f"q{i}"
        assert len(got_f[q] & set(exact)) >= 5, f"packed float recall {q}"
        assert len(got_q[q] & set(exact)) >= 5, f"packed bq_adc recall {q}"
        # float beams explore identically up to distance ties; require
        # strong overlap with the row-table reference result
        assert len(got_f[q] & got_row[q]) >= 7, f"row/packed divergence {q}"
        # quantized-beam distances are EXACT rerank distances
        for rid in got_q[q]:
            j = ids.index(rid)
            want = float(((X[j] - X[i]) ** 2).sum())
            got = dist_q[(q, rid)]
            assert abs(got - want) <= 1e-3 * max(want, 1.0)

    # 100 TB posture: the filter-derivation leg must COLUMN-PRUNE the
    # blobs — its parquet scan reads only (shard, ids); the blob columns
    # travel solely through the serving scan
    plan = res_f._jdf.queryExecution().executedPlan().toString()
    assert "struct<shard:string,ids:array<string>>" in plan.replace(" ", ""), (
        "filter-derivation scan is not pruned to (shard, ids)"
    )

    # validation: scalar kernel / code-domain / nprobe are rejected
    with pytest.raises(ValueError, match="batched"):
        vm.vamana_serve_packed(
            packed_disk, queries, 10, search_size=40, kernel="scalar",
            candidate_ids=flt,
        )
    with pytest.raises(ValueError, match="rerank"):
        vm.vamana_serve_packed(
            packed_disk, queries, 10, search_size=40, thresholds=thr,
            candidate_ids=flt, rerank="none",
        )
    with pytest.raises(ValueError, match="nprobe"):
        vm.vamana_serve_packed(
            packed_disk, queries, 10, search_size=40, candidate_ids=flt,
            centroids=index.centroids, nprobe=1,
        )


def test_vamana_serve_local_matches_packed(spark, emb, tmp_path):
    """The driver-local point-read path (NO Spark job) reproduces
    vamana_serve_packed exactly — same ids, same distances, same
    tiebreaks — over the same persisted artifact, at several nprobe
    settings; a collection rebuild is served from its new path."""
    import os

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=3, seed=7, keep_sharded=True,
    )
    d = str(tmp_path / "packed_local")
    vm.vamana_pack(index.shard_nodes, index.shard_edges, dtype="float32") \
        .write.mode("overwrite").partitionBy("cent").parquet(d)
    disk = spark.read.parquet(d)
    rows = emb.collect()
    for nprobe in (1, 2, 3):
        for qi in (0, 7, 42):
            qv = [float(x) for x in rows[qi]["v"]]
            want = [
                (r["_id"], round(r["_distance"], 6))
                for r in vm.vamana_serve_packed(
                    disk, [("q", qv)], 10, metric="euclidean",
                    search_size=40, centroids=index.centroids,
                    nprobe=nprobe, dtype="float32",
                    compute_dtype="float32", n_seeds=8,
                )
                .orderBy(F.round("_distance", 4).asc(), F.col("_id").asc())
                .collect()
            ]
            got = [
                (i, round(dd, 6))
                for i, dd in vm.vamana_serve_local(
                    d, qv, 10, metric="euclidean", search_size=40,
                    centroids=index.centroids, nprobe=nprobe,
                    dtype="float32", n_seeds=8,
                )
            ]
            assert got == want, (nprobe, qi)
    # a rebuild through a collection lands at a NEW packed path, so the
    # decoded cache (keyed by path alone) serves the new version
    from pyspark.sql import Row

    from semadb_spark import Collection

    rng = np.random.RandomState(4)
    X = rng.normal(size=(150, 8))
    coll = Collection.create(spark, str(tmp_path / "rebuilt"), {"v": {
        "type": "vectorVamana", "vectorVamana": {
            "vectorSize": 8, "distanceMetric": "euclidean",
            "searchSize": 40, "degreeBound": 32, "alpha": 1.2}}},
        num_buckets=2)
    coll.insert(spark.createDataFrame(
        [Row(_id=f"p{i:03d}", v=[float(x) for x in X[i]]) for i in range(150)]
    ))
    coll.build_vamana_index("v", num_shards=2, seed=5)
    old, _ = coll._vamana_artifact("v")
    qv = [float(x) + 0.01 for x in X[7]]
    assert coll.vamana_search_local("v", qv, 3, nprobe=2)[0][0] == "p007"
    coll.insert(spark.createDataFrame([Row(_id="twin", v=qv)]))
    coll.build_vamana_index("v", num_shards=2, seed=5)
    new, _ = coll._vamana_artifact("v")
    assert new != old
    hits = coll.vamana_search_local("v", qv, 3, nprobe=2)
    assert hits[0][0] == "twin" and hits[0][1] < 1e-9
    assert all(os.path.join(p, "packed") in vm._LOCAL_PACKED_CACHE
               for p in (old, new))
    with pytest.raises(ValueError, match="centroids"):
        vm.vamana_serve_local(d, qv, 5)
    index.edges.unpersist()
    index.shard_nodes.unpersist()
    index.shard_edges.unpersist()


def test_vector_serve_pool_matches_local(spark, emb, tmp_path):
    """VectorServePool (the process-parallel vector point-read tier, r10)
    returns results identical to vamana_serve_local for every query —
    cent-affinity dispatch included — and its lifecycle is clean: context
    manager, search after close raises, bad paths/params error eagerly."""
    import pytest

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=3, seed=7, keep_sharded=True,
    )
    d = str(tmp_path / "packed_pool")
    vm.vamana_pack(index.shard_nodes, index.shard_edges, dtype="float32") \
        .write.mode("overwrite").partitionBy("cent").parquet(d)
    rows = emb.collect()
    kw = dict(metric="euclidean", search_size=40, centroids=index.centroids,
              nprobe=2, dtype="float32", n_seeds=8)
    qvs = [[float(x) for x in rows[qi]["v"]] for qi in (0, 7, 42, 99, 3)]
    want = [
        [(i, round(dd, 6)) for i, dd in vm.vamana_serve_local(d, qv, 10, **kw)]
        for qv in qvs
    ]
    with vm.VectorServePool(d, workers=2, **kw) as pool:
        # single-query route: owner-dispatched, same results
        got_one = [(i, round(dd, 6)) for i, dd in pool.search(qvs[0], 10)]
        assert got_one == want[0]
        # batch route: input order preserved across owners
        got_many = pool.search_many(qvs, 10)
        assert [
            [(i, round(dd, 6)) for i, dd in one] for one in got_many
        ] == want
        # affinity is a pure function of the routed primary cent
        owners = [pool._owner(qv) for qv in qvs]
        assert all(0 <= o < 2 for o in owners)
        assert owners == [pool._owner(qv) for qv in qvs]
    with pytest.raises(RuntimeError):
        pool.search(qvs[0], 5)  # closed pool rejects new work
    with pytest.raises(ValueError, match="no packed vamana artifact"):
        vm.VectorServePool(str(tmp_path / "missing"), centroids=index.centroids)
    with pytest.raises(ValueError, match="centroids"):
        vm.VectorServePool(d, centroids=None)
    index.edges.unpersist()
    index.shard_nodes.unpersist()
    index.shard_edges.unpersist()


def test_vamana_serve_local_quantized_beams(spark, emb, tmp_path):
    """The driver-local point-read path serves QUANTIZED packed artifacts
    (vamana.go:257-259 locally): bq_adc / pq / bq beams over the baked
    codes with exact float rerank — same ids and distances as
    vamana_serve_packed's quantized route on the same artifact."""
    from semadb_spark.operators.quantize import pq_fit

    index = vm.vamana_build(
        emb, "v", "_id", degree_bound=32, alpha=1.2, search_size=40,
        num_shards=2, seed=7, keep_sharded=True,
    )
    packed = vm.vamana_pack(index.shard_nodes, index.shard_edges, dtype="float32")
    rows = emb.collect()
    X = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    thr = X.mean(axis=0)
    books = pq_fit(emb, "v", num_subvectors=4, num_centroids=16, seed=3)
    d_bq = str(tmp_path / "local_bq")
    d_pq = str(tmp_path / "local_pq")
    vm.vamana_pack_add_codes(packed, thr, dtype="float32").write \
        .mode("overwrite").partitionBy("cent").parquet(d_bq)
    vm.vamana_pack_add_pq_codes(packed, books, dtype="float32").write \
        .mode("overwrite").partitionBy("cent").parquet(d_pq)
    nc = len(index.centroids)
    base = dict(metric="euclidean", search_size=40,
                centroids=index.centroids, n_seeds=16, oversample=4)
    for path, kw in (
        (d_bq, {"beam_on": "bq_adc", "thresholds": thr}),
        (d_bq, {"beam_on": "bq", "thresholds": thr}),
        (d_pq, {"beam_on": "pq", "books": books}),
    ):
        disk = spark.read.parquet(path)
        for qi in (0, 11, 42):
            qv = [float(x) for x in rows[qi]["v"]]
            want = [
                (r["_id"], r["_distance"])
                for r in vm.vamana_serve_packed(
                    disk, [("q", qv)], 10, search_size=40, n_seeds=16,
                    oversample=4, metric="euclidean", dtype="float32",
                    compute_dtype="float32", kernel="batched",
                    centroids=index.centroids, nprobe=nc, **kw,
                )
                .orderBy(F.round("_distance", 4).asc(), F.col("_id").asc())
                .collect()
            ]
            got = vm.vamana_serve_local(
                path, qv, 10, nprobe=nc, dtype="float32", **base, **kw
            )
            assert [i for i, _ in got] == [i for i, _ in want], (kw, qi)
            for (gi_, gd), (_, wd) in zip(got, want):
                assert abs(gd - wd) <= 1e-5 * max(abs(wd), 1.0), (kw, qi, gi_)
    # guard rails: missing fit params / artifact-fit mismatch error clean
    with pytest.raises(ValueError, match="thresholds"):
        vm.vamana_serve_local(d_bq, [0.0] * X.shape[1], 5, beam_on="bq_adc",
                              centroids=index.centroids, dtype="float32")
    with pytest.raises(ValueError, match="baked binary codes"):
        vm.vamana_serve_local(d_pq, [0.0] * X.shape[1], 5,
                              thresholds=thr, centroids=index.centroids,
                              dtype="float32")
    index.edges.unpersist()
    index.shard_nodes.unpersist()
    index.shard_edges.unpersist()
